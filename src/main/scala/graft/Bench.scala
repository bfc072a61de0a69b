package graft
import org.apache.spark.sql.SparkSession

/** One Kafka-source-shaped record for the gate bench's MemoryStream. */
case class BenchMsg(topic: String, partition: Int, offset: Long,
                    timestamp: java.sql.Timestamp,
                    key: Array[Byte], value: Array[Byte])

/** Benchmark main — times each headline query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver's BENCH_r{N}.json.
  *
  * Results are materialized through the `noop` sink, NOT `.count()`:
  * count() lets Catalyst prune every projection (a scan-only plan), which
  * would benchmark nothing. noop executes the full plan and discards rows.
  */
object Bench {

  /** Fixed CPU-bound calibration probe: xorshift-fill then sort 10M longs
    * on ONE thread — no Spark, no IO, nothing allocated in the timed
    * region. Cross-round ratios of this number measure MACHINE state
    * (background contention, CPU frequency), so per-query comparisons
    * between rounds can divide out environment drift instead of
    * explaining it in prose (the observed ~25% cross-round swings on
    * unchanged plans). Best of `reps` after one warm-up. */
  def calibrate(reps: Int = 3): (Double, Seq[Double]) = {
    def once(): Double = {
      val n = 10000000
      val a = new Array[Long](n)
      var x = 88172645463325252L
      var i = 0
      while (i < n) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        a(i) = x; i += 1
      }
      val t0 = System.nanoTime()
      java.util.Arrays.sort(a)
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm-up (JIT)
    val ts = (1 to reps).map(_ => once())
    (ts.min, ts)
  }

  /** The STREAMING half of the engine under the perf gate: one full pass
    * of the dedup ingest gate ([[graft.streaming.DedupIngest.startGated]]
    * — bloom exact pre-gate → settle join → LSH on survivors) over a
    * deterministic workload derived from the SF corpus. State builds ONCE
    * outside the timed region (per-corpus-version cost, not per-batch);
    * each repetition streams the same 3 micro-batches — the held-out
    * tenth of the corpus re-ingested twice, once as byte-exact copies
    * under shifted ids (the bloom+settle path) and once with a perturbed
    * tail (the LSH path) — through a fresh MemoryStream-backed query.
    * Returns (wall seconds per repetition list, corpus-state build
    * seconds). */
  def gateBench(spark: SparkSession, sfDir: String,
                reps: Int = 3): (Seq[Double], Double) = {
    import java.util.concurrent.atomic.AtomicReference
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.streaming.{DedupIngest, Stream}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val msgEnc: org.apache.spark.sql.Encoder[BenchMsg] =
      org.apache.spark.sql.Encoders.product[BenchMsg]

    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val tBuild0 = System.nanoTime()
    val state = new AtomicReference(DedupIngest.buildState(corpus, "doc_id", "text"))
    val buildSec = (System.nanoTime() - tBuild0) / 1e9

    val fresh = docs.filter(col("doc_id") % 10 === 0)
    val workload = fresh
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      .union(fresh.select((col("doc_id") + 20000000L).as("doc_id"),
        concat(col("text"), lit(" benchnovel")).as("text")))
    val payloads = workload
      .select(col("doc_id"), to_json(struct(col("doc_id"), col("text"))).as("j"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    def rep(): Double = {
      val ms = MemoryStream[BenchMsg]
      val s = Stream.fromKafkaShaped(spark, ms.toDF(), schema)
      var sink = 0L
      val q = DedupIngest.startGated(s, state, "value.doc_id", "value.text") {
        (exact, near, _, _) => sink += exact.count() + near.count()
      }
      val t0 = System.nanoTime()
      (0 until 3).foreach { b =>
        val batch = payloads.filter(_._1 % 3 == b).zipWithIndex.map {
          case ((_, j), i) => BenchMsg("bench", 0, i.toLong,
            new java.sql.Timestamp(1000L + i), null, j.getBytes("UTF-8"))
        }
        ms.addData(batch.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val t = (System.nanoTime() - t0) / 1e9
      q.stop()
      require(sink > 0L, "gate bench produced no pairs — workload broken")
      t
    }
    rep() // warm-up (JIT + codegen for the probe plans)
    ((1 to reps).map(_ => rep()), buildSec)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS) — see Tables.events (loader
      // is pure; entry points own this conf).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // point-set probes on range-sorted state (Graph.stageSorted) need
      // the In filter pushed as points, not a min/max range — scattered
      // ball ids make the range fallback prune nothing.
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "256")
      // Use the SORT-BASED shuffle writer even at small reducer counts
      // (r18, guide §2.2/§6 small-files): below the 200-partition default
      // threshold Spark's bypass-merge writer creates R+2 files PER MAP
      // TASK (32×34 ≈ 1100 file creates for a kilobyte-scale shuffle) —
      // ProbeMetrics attributed 1.5-1.9 s of cumulative shuffleWriteTime
      // to single tiny exchanges, the dominant fixed cost of every staged
      // materialization at sf0.1 (A/B: x_line_dedup −42%, classifier
      // −25%, no key regressed). NOT a local-only tune: production
      // reducer counts sit far above 200, where the bypass writer never
      // runs — this pins the local code path to the one a 100 TB cluster
      // executes anyway. Scale-independent constant, honored at any
      // SPARK_GRAFT_CPUS.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Best-of-3 reruns re-execute localCheckpoint-staged relations whose
    // first-run accumulators are gone, making DAGScheduler log harmless
    // "non-existent accumulator" ERRORs around the metric line. Silence
    // that one logger so the JSON line is the only bench output.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler",
      org.apache.logging.log4j.Level.OFF)
    def run(name: String): Double = {
      // Honesty fence (r17): any relation a query fn might leave in the
      // CacheManager would be plan-matched and silently reused by the
      // next run of the same query — every timed run must compute from
      // the parquet inputs. No current query persists (staging is
      // localCheckpoint-based, which never cross-run-matches), so this
      // is a no-op today; it pins the methodology.
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    val names = SparkEntry.headlines.map(_.name)
    // calibration sample 1: machine state at sweep start (see calibrate).
    val calibBefore = calibrate()
    // TWO untimed warm-up sweeps: driver-round runs recorded first timed
    // iterations up to 7.6× best DESPITE the single warm-up sweep that
    // has been here since round 1 (r12/r13 artifacts) — JIT tiering and
    // codegen caches evidently need a second full pass on a cold JVM, so
    // the first RECORDED run of each query is now its third execution.
    // The second sweep's wall is logged for diagnosis; recorded-field
    // semantics are unchanged (still best of 3 timed interleaved sweeps).
    // Per-run BlockManager eviction was tried here and measured instead:
    // −12% steady-state (stale localCheckpoint blocks are evidently
    // NOT what cold first runs pay for) — see README §Bench calibration.
    names.foreach(run)
    val w2 = names.map(n => n -> run(n))
    System.err.println(s"[bench] warmup2: total=${w2.map(_._2).sum}")
    // Steady-state per query: best of 3 timed runs. Single-run times at this
    // scale are dominated by JIT/GC scheduling noise (observed 5× swings on
    // identical plans); min-of-3 measures the plan, not the JVM's mood.
    // The repetitions are INTERLEAVED (3 full sweeps over the query list,
    // not 3 back-to-back runs per query) so a transient external load spike
    // poisons at most one sweep — never all three samples of one query —
    // and per-run times are published alongside the min so a noisy record
    // is diagnosable after the fact.
    val runs = scala.collection.mutable.Map(names.map(_ -> Vector.empty[Double]): _*)
    for (_ <- 1 to 3; n <- names) runs(n) = runs(n) :+ run(n)
    // the streaming gate rides the same best-of-3 discipline (state build
    // excluded — a per-corpus-version cost, reported separately below).
    val (gateRuns, gateBuild) =
      try gateBench(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] gate failed: ${e.getMessage}")
        (Seq(-1.0), -1.0)
      }
    runs("x_gate_dedup_stream") = gateRuns.toVector
    val allNames = names :+ "x_gate_dedup_stream"
    val results = allNames.map { n =>
      val ts = runs(n)
      n -> (if (ts.contains(-1.0)) -1.0 else ts.min)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val rs = allNames.map { n => "\"" + n + "\":" + runs(n).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // A failed key (the -1.0 sentinel) fails the total instead of
    // shrinking it; `failed` names the keys.
    val failed = results.collect { case (k, v) if v < 0 => k }
    val total = if (failed.nonEmpty) -1.0 else results.map(_._2).sum
    // calibration sample 2: machine state at sweep end — a large spread
    // between the two flags contention ARRIVING mid-run.
    val calibAfter = calibrate()
    val calib = math.min(calibBefore._1, calibAfter._1)
    val cruns = (calibBefore._2 ++ calibAfter._2).mkString("[", ",", "]")
    // Calib-normalized seconds (query_sec / calib): cross-round deltas on
    // these divide out machine drift — compare THESE between rounds, not
    // the raw numbers (the observed ~16-25% cross-round swings on
    // unchanged plans track the calib probe).
    val qn = results.map { case (k, v) =>
      "\"" + k + "\":" + (if (v < 0 || calib <= 0) -1.0 else v / calib)
    }.mkString("{", ",", "}")
    // Stop Spark FIRST so no executor/shutdown logging can interleave after
    // the metric line — the driver wants it as the final clean stdout line.
    spark.stop()
    // Field order is deliberate: the driver's BENCH wrapper keeps only the
    // TAIL of the line (r14/r15 both lost the LEAD keys; the cut landed
    // mid-`runs`, and fields after `runs` — calib, sf — survived). So the
    // bulky per-run arrays go FIRST and the compact comparable record —
    // `best` (best-of-3 per key) + `calib` — trails the line where the
    // kept tail preserves it. `best` duplicates `queries` so a cut landing
    // mid-`queries` still leaves `best` intact for bench_diff.
    val failedJs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","runs":$rs,"calib_runs":$cruns,"queries_normalized":$qn,"queries":$qs,"best":$qs,"gate_build":$gateBuild,"calib":$calib,"failed":$failedJs,"cpus":$cpus,"value":$total,"unit":"sec","sf":"$sfDir"}""")
  }
}
