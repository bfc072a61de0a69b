package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Round-11: the PageRank refresh's scan-pruning contract. The state
  * relations are staged RANGE-SORTED (Graph.stageSorted) so the
  * refresh's driver-materialized ball re-enters every probe as a pushed
  * point-set `In` filter that parquet zone maps prune — replacing
  * round-10's broadcast-join probes, which scanned the full staged edge
  * and history relations four times per iteration (the measured refresh
  * wall, README §incremental upkeep). Proven here with scan METRICS, not
  * plan text: rows materialized by the probe scans, and total parquet
  * rows read by a whole refresh. */
class GraphStateLayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Rows the parquet scans MATERIALIZED (post zone-map skipping) while
    * computing `df` — the LayoutSpec technique. */
  private def rowsReadByScan(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan): org.apache.spark.sql.execution.SparkPlan =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
    val scans = unwrap(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no parquet scan in the plan")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  /** A connected random graph: a ring for connectivity plus random
    * chords — node ids deliberately SCATTERED relative to the batch, so
    * the pruning proven here is the point-set `In` pushdown (session
    * conf inFilterThreshold = 256), not accidental id locality. */
  private def ringGraph(n: Int, chords: Int, seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val ring = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
    val extra = Seq.fill(chords)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    ring ++ extra
  }

  private def withSortedStaging[A](shards: Int)(body: => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-prstate").toString
    val oldShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("graft.stage.dir", dir)
    spark.conf.set("spark.sql.shuffle.partitions", shards.toString)
    try body
    finally {
      spark.conf.unset("graft.stage.dir")
      spark.conf.set("spark.sql.shuffle.partitions", oldShuffle)
    }
  }

  test("point-set probes on the sorted state read a ball-sized slice, not the graph") {
    withSortedStaging(shards = 64) {
      val n = 30000
      val edges = ringGraph(n, chords = 2000, seed = 7).toDF("a", "b")
      val st = Graph.pageRankState(edges, "a", "b")
      assert(st.local.nonEmpty)
      val nRanks = st.ranks.count()
      val nEdges = st.edgesBySrc.count()
      assert(nRanks == n)

      // a refresh-shaped probe: ~20 scattered node ids.
      val rnd = new scala.util.Random(11)
      val ball = Seq.fill(20)(rnd.nextInt(n).toLong).distinct
      val ranksRead = rowsReadByScan(
        st.ranks.filter(col("node").isInCollection(ball)))
      assert(ranksRead <= nRanks / 2,
        s"ranks probe materialized $ranksRead of $nRanks rows — " +
          "the sorted layout did not prune (check inFilterThreshold)")
      val edgesRead = rowsReadByScan(
        st.edgesBySrc.filter(col("s").isInCollection(ball)))
      assert(edgesRead <= nEdges / 2,
        s"edges probe materialized $edgesRead of $nEdges rows — no pruning")
    }
  }

  test("a whole refresh reads ~(edge restage + history splice), not k x full scans") {
    withSortedStaging(shards = 64) {
      val n = 20000
      val all = ringGraph(n, chords = 1500, seed = 19)
      // a small batch (~2 edges): the refresh is the small-batch plan by
      // contract, and the probe slices must stay ball-sized for the read
      // accounting below to have teeth.
      val (batch, base) = all.zipWithIndex.partition(_._2 % 9973 == 0)
      assert(batch.nonEmpty)
      val baseEdges = base.map(_._1)
      val held = Graph.pageRankState(baseEdges.toDF("a", "b"), "a", "b")
      // the same state without a driver copy: the refresh runs its
      // pruned parquet probes.
      val probed = Graph.pageRankDirectedState(
        baseEdges.flatMap(e => Seq(e, e.swap)).toDF("s", "d"), "s", "d", localThreshold = 0)
      assert(held.local.nonEmpty && probed.local.isEmpty)
      val vertices = (0 until n).map(_.toLong).toDF("doc_id")
      for (st <- Seq(held, probed)) {
        val nE = st.edgesBySrc.count()
        val nR = st.ranks.count()

        val rows = new java.util.concurrent.atomic.AtomicLong()
        val listener = new SparkListener {
          override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
            if (te.taskMetrics != null)
              rows.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
        }
        spark.sparkContext.addSparkListener(listener)
        try {
          val refreshed = Graph.pageRankRefresh(vertices, "doc_id", st,
            batch.map(_._1).toDF("a", "b"), "a", "b")
          assert(refreshed.count() == n)
          // let the async listener bus drain before reading the counter.
          Thread.sleep(1500)
        } finally spark.sparkContext.removeSparkListener(listener)

        // round-10's join-probe shape read ≥ 2|E| + 2|R| per iteration
        // (k = 3 → ≥ 6|E| + 6|R|) on top of a sorted restage of the
        // edges; the bound allows that restage's three full edge passes
        // and one history splice, plus ball-sized probe slices. It fails
        // if the probes degrade to full scans (round-10's shape reads
        // ~2.5x this bound).
        val read = rows.get()
        val bound = (3.4 * nE + 1.3 * nR + n + 5000).toLong
        assert(read <= bound,
          s"refresh read $read parquet rows (|E|=$nE, |R|=$nR, bound=$bound, " +
            s"driver copy=${st.local.nonEmpty}) — a probe is scanning the full state instead of pruning")
      }
    }
  }

  test("a driver-built directed state stages range-disjoint files, one per shuffle partition") {
    withSortedStaging(shards = 32) {
      val dir = spark.conf.get("graft.stage.dir")
      val n = 4000
      val st = Graph.pageRankDirectedState(
        ringGraph(n, chords = 800, seed = 5).toDF("a", "b"), "a", "b")
      assert(st.local.nonEmpty)
      val rnd = new scala.util.Random(13)
      val ids = Seq.fill(5)(rnd.nextInt(n).toLong).distinct
      for ((rel, key) <- Seq(st.edgesBySrc -> "s", st.edgesByDst -> "d", st.ranks -> "node")) {
        // each file's key span, in key order: one file per shuffle
        // partition, and no key in two files.
        val spans = rel.groupBy(input_file_name()).agg(min(col(key)), max(col(key)))
          .as[(String, Long, Long)].collect().sortBy(_._2)
        assert(spans.length == 32, s"$key: ${spans.length} files")
        spans.sliding(2).foreach { case Array(a, b) =>
          assert(a._3 < b._2, s"$key: files overlap: $a $b")
        }
        val total = rel.count()
        val read = rowsReadByScan(rel.filter(col(key).isInCollection(ids)))
        assert(read <= total / 2,
          s"$key probe materialized $read of $total rows — the files did not prune")
      }
      // the build leaves no stage_ dir behind but the state's own three.
      val stageDirs = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("stage_")).map(_.getCanonicalPath).toSet
      val stateDirs = Seq(st.edgesBySrc, st.edgesByDst, st.ranks).map(r =>
        new java.io.File(new java.net.URI(r.inputFiles.head)).getParentFile.getCanonicalPath).toSet
      assert(stageDirs == stateDirs)
    }
  }
}
