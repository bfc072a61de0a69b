package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.{DedupIngest, Stream}

/** `stream_dedup`: the self-growing dedup gate. 90% of `documents` is
  * the corpus state (`buildGrowingState` in `graft.stage.dir` mode); the
  * stream mixes byte-exact copies of corpus docs, perturbed copies, and
  * held-out docs that are novel the first time (and folded into the
  * state) and exact duplicates when repeated. Everything goes through
  * `startGatedGrowing`. Open loop at a fixed rate, then a drain phase. */
object DedupStream {
  val Rate = 200.0 // docs/s offered in the open loop: about half of drain_rps
  // Warm-up before latency is sampled: closed-loop batches, then open-loop
  // seconds. The gate's fixed cost per batch (about 18 Spark jobs) falls
  // steeply over its first batches as the JIT compiles the driver's
  // per-batch paths; warming by batch count rather than by time keeps the
  // sampled batches at the same point of that fall on a slower host.
  val WarmBatches = 2
  val WarmDocs = 50
  val WarmS = 2.0
  val Backlog = 1000 // docs per drain
  val Drains = 2
  val RepeatGapS = 2.0 // a held-out doc repeats no sooner than this
  val IdBase = 10000000L
  val TickNs = 50000000L
  val Exact = 0; val Perturbed = 1; val HeldFirst = 2; val Repeat = 3
  private val Vocab = ("row the query stream key agg scan slow table part a merge window " +
    "order column join vector fast spark line small customer group value " +
    "hash batch sort data big filter dup").split(" ")

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def perturb(text: String): String = text + " perturbed"

  final case class Rec(id: Long, kind: Int, ref: Long, text: String)

  /** Draws the record mix; `heldFirst` tracks released held-out docs
    * (id, due) that a later record may repeat. */
  final class Mix(corpus: IndexedSeq[(Long, String)], heldOut: IndexedSeq[String],
                  rnd: SplittableRandom) {
    private val perturbPool = mutable.ArrayBuffer.from(corpus.indices)
    private var heldNext = 0
    private var nextId = IdBase
    val held = mutable.ArrayBuffer.empty[(Long, String, Double)]

    private def novelText(): String = {
      if (heldNext < heldOut.size) { heldNext += 1; heldOut(heldNext - 1) }
      else {
        val n = 44 + rnd.nextInt(534)
        Iterator.continually(Vocab(rnd.nextInt(Vocab.length))).take(n / 2)
          .mkString(" ").take(n)
      }
    }

    def next(dueS: Double): Rec = {
      nextId += 1
      val r = rnd.nextInt(100)
      val repeatable = held.iterator.takeWhile(_._3 <= dueS - RepeatGapS).size
      if (r < 20 && repeatable > 0) {
        val (hid, text, _) = held(rnd.nextInt(repeatable))
        Rec(nextId, Repeat, hid, text)
      } else if (r < 40) {
        val t = novelText()
        held += ((nextId, t, dueS))
        Rec(nextId, HeldFirst, -1L, t)
      } else if (r < 65 && perturbPool.nonEmpty) {
        val j = rnd.nextInt(perturbPool.size)
        val c = corpus(perturbPool(j))
        perturbPool(j) = perturbPool.last
        perturbPool.dropRightInPlace(1)
        Rec(nextId, Perturbed, c._1, perturb(c._2))
      } else {
        val c = corpus(rnd.nextInt(corpus.size))
        Rec(nextId, Exact, c._1, c._2)
      }
    }
  }

  final class Run(spark: SparkSession, dir: String, corpus: DataFrame, corrupt: Boolean) {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    implicit val enc: Encoder[Msg] = Encoders.product[Msg]
    spark.conf.set("graft.stage.dir", s"$dir/stage-${java.util.UUID.randomUUID()}")
    val (built, buildS) = Stats.seconds(
      DedupIngest.buildGrowingState(corpus, "doc_id", "text"))
    val state = new AtomicReference(built)
    val ms = MemoryStream[Msg](4) // a fixed partition count, like a Kafka topic
    private var calls = 0
    val callOf = mutable.HashMap.empty[Long, Int] // record id → addData call
    // per batch: (batchId, materialized-at ns, onBatch seconds, exact, near)
    val batches = mutable.ArrayBuffer.empty[(Long, Long, Double, Seq[(Long, Long)], Seq[(Long, Long)])]
    val s: Stream = Stream.fromKafkaShaped(spark, ms.toDF(), schema)
    var tracer: Option[Tracer] = None
    val q: StreamingQuery = DedupIngest.startGatedGrowing(s, state, "value.doc_id", "value.text",
      checkpoint = Some(s"$dir/ckpt-${java.util.UUID.randomUUID()}")) {
      (exact, near, _, batchId) =>
        def body() = Stats.seconds {
          val e = exact.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          val n = near.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          (if (corrupt && e.nonEmpty) e.tail else e, n, System.nanoTime())
        }
        val ((e, n, t), sec) = tracer.fold(body())(_.span("gate.sink")(body()))
        batches.synchronized(batches += ((batchId, t, sec, e, n)))
    }

    def add(recs: Seq[Rec]): Unit = synchronized {
      recs.foreach(r => callOf(r.id) = calls)
      calls += 1
      ms.addData(recs.map(r => Msg("docs", 0, r.id, new java.sql.Timestamp(
        System.currentTimeMillis()), null,
        s"""{"doc_id":${r.id},"text":"${r.text}"}""".getBytes(UTF_8))): _*)
    }

    /** Batch id that read each addData call, from the query's progress. */
    def batchOfCall: Int => Long = {
      val ranges = q.recentProgress.filter(_.sources.nonEmpty).map { p =>
        def off(s: String) = Option(s).filter(_ != "null").map(_.trim.toLong).getOrElse(-1L)
        (off(p.sources.head.startOffset), off(p.sources.head.endOffset), p.batchId)
      }
      call => ranges.find(r => call > r._1 && call <= r._2).map(_._3).getOrElse(Long.MaxValue)
    }
  }

  def run(spark: SparkSession, c: Conf, sessionUpS: Double): Outcome = {
    val t00 = System.nanoTime()
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase(n: String): Unit = phases(n) = (System.nanoTime() - t00) / 1e9
    val docs = graft.sources.Tables.documents(spark, c.dataDir)
      .select(col("doc_id"), col("text")).orderBy("doc_id")
    val corpusDf = docs.filter(col("doc_id") % 10 =!= 0)
    val corpus = corpusDf.collect().map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    if (c.mode == "record") return recordNearMisses(spark, c, corpusDf, corpus)
    val heldOut = Stats.shuffle(docs.filter(col("doc_id") % 10 === 0).collect()
      .map(_.getString(1)).toSeq, c.seed).toIndexedSeq
    val nearMiss = nearMisses(c).getOrElse(c.corpusTag, Set.empty[Long])
    val rnd = new SplittableRandom(c.seed)
    val mix = new Mix(corpus, heldOut, rnd)
    val openS = WarmS + c.seconds
    val nOpen = (Rate * openS).toInt
    val dues = Array.tabulate(nOpen)(i => (i * 1e9 / Rate).toLong)
    val warm = (1 to WarmBatches).map(_ => (0 until WarmDocs).map(_ => mix.next(-10.0)))
    val open = dues.map(d => mix.next(d / 1e9))
    // Drain records may repeat held-out docs of earlier phases only.
    val drains = (1 to Drains).map(d => (0 until Backlog).map(_ => mix.next(1e6 * d)))

    phase("generated")
    // Set-up: the gate state built and the gated query started.
    val setups = mutable.ArrayBuffer.empty[Double]
    val builds = mutable.ArrayBuffer.empty[Double]
    var run: Run = null
    for (_ <- 1 to 3) {
      if (run != null) run.q.stop()
      spark.sharedState.cacheManager.clearCache()
      setups += Stats.seconds {
        run = new Run(spark, c.workDir, corpusDf, c.corrupt == "exact_pair")
      }._2
      builds += run.buildS
    }
    val w = run
    // Warm-up: a few closed-loop batches, so code generation and JIT are
    // done before the open loop starts.
    phase("setup")
    warm.foreach { b => w.add(b); w.q.processAllAvailable() }
    phase("warm")
    val tracer = if (c.trace) Some(new Tracer(s"${c.workload}-${c.seed}")) else None
    w.tracer = tracer
    val gen = new OpenLoop(dues, TickNs, (f, u) => w.add(open.slice(f, u).toSeq))
    val offset0 = OpenLoop.endOffset(w.q.lastProgress)
    val sl = tracer.map(t => new t.StreamListener(p =>
      ((gen.calls - (OpenLoop.endOffset(p) - offset0)) * Rate * TickNs / 1e9).toLong))
    val jl = tracer.map(t => new t.Listener)
    val start = System.nanoTime() + 100000000L
    val stats0 = w.s.flushStatistics()
    var foldBefore = (0L, 0L)
    var foldAfter = (0L, 0L)
    val tracedNs = OpenLoop.drive(spark, gen, start, WarmS, c.seconds, w.q,
      tracer.map(t => (t, sl.get, jl.get)),
      (() => foldBefore = foldSize(w.state.get), () => foldAfter = foldSize(w.state.get)))
    phase("open")
    val heapLive = Stats.liveHeapMb()
    val statsOpen = OpenLoop.settledStatistics(w.s,
      w.q.recentProgress.map(_.numInputRows).sum - stats0.recvTotal)
    val openBatches = w.batches.synchronized(w.batches.toSeq)
    phase("stats")

    val drainS = drains.map(d => Stats.seconds { w.add(d); w.q.processAllAvailable() }._2)
    val failedQuery = w.q.exception.map(_.getMessage)
    val batchS = w.q.recentProgress.map(p => (p.numInputRows,
      p.durationMs.getOrDefault("triggerExecution", 0L) / 1e3)).toSeq
    val batchOfCall = w.batchOfCall
    w.q.stop()
    phase("drain")

    // Check every record against what the gate must report for it.
    val all = w.batches.synchronized(w.batches.toSeq)
    val exact = all.flatMap(_._4).toSet
    val nearPairs = all.flatMap(_._5).toSet
    val firstSeen = mutable.HashMap.empty[Long, Long]
    all.sortBy(_._2).foreach { case (_, t, _, e, n) =>
      (e.iterator ++ n.iterator).foreach(p => if (!firstSeen.contains(p._1)) firstSeen(p._1) = t)
    }
    val exactIds = exact.map(_._1)
    val failures = mutable.ArrayBuffer.empty[String]
    var checked = 0L
    var unchecked = 0L
    var perturbed = 0L
    var nearFound = 0L
    def batchOf(id: Long) = batchOfCall(w.callOf(id))
    (warm.iterator.flatten ++ open.iterator ++ drains.iterator.flatten).foreach { r =>
      val problem: Option[String] = r.kind match {
        case Exact =>
          Option.unless(exact((r.id, r.ref)))("exact copy without its exact pair")
        case Perturbed =>
          perturbed += 1
          val found = nearPairs((r.id, r.ref))
          if (found) nearFound += 1
          if (exactIds(r.id)) Some("perturbed copy reported as exact")
          else Option.when(!found && !nearMiss(r.ref))("perturbed copy without its near pair")
        case HeldFirst =>
          Option.when(exactIds(r.id))("novel doc reported as exact")
        case Repeat =>
          Option.when(batchOf(r.ref) < batchOf(r.id) && !exact((r.id, r.ref)))(
            "repeat of a folded doc without its exact pair")
      }
      if (r.kind == Repeat && batchOf(r.ref) >= batchOf(r.id)) unchecked += 1
      else checked += 1
      problem.foreach(p => failures += s"doc ${r.id} (ref ${r.ref}): $p")
    }
    failedQuery.foreach(m => failures += s"query failed: $m")

    // Latency of each open-loop doc that has a result: time its batch's
    // pairs were materialized − its due time. A batch of this gate takes
    // seconds, so the measured window holds only a few; it is sampled in
    // whole batches (every doc the batch read was due after the warm-up,
    // and the generator released more docs after it started), or where
    // the window's edges cut a batch would move the quantiles. On a host
    // so slow that no whole batch fits, every doc due after the warm-up.
    val warmNs = (WarmS * 1e9).toLong
    def sample(i: Int) =
      firstSeen.get(open(i).id).map(t => (dues(i), (t - start - dues(i)) / 1e9))
    val samples = open.indices.filter(i => dues(i) >= warmNs && open(i).kind != HeldFirst)
      .flatMap(sample)
    val lastBatch = batchOf(open.last.id)
    val whole = open.indices.groupBy(i => batchOf(open(i).id))
      .filter { case (b, ix) => b != lastBatch && ix.map(dues).min >= warmNs }
    val wholeLat =
      whole.values.flatten.filter(open(_).kind != HeldFirst).flatMap(sample).map(_._2).toSeq
    val inWhole = wholeLat.size >= 20
    val lat = if (inWhole) wholeLat else samples.map(_._2)
    phase("checked")
    val info = Map[String, Any](
      "rate_dps" -> Rate, "docs_open" -> nOpen, "backlog" -> Backlog,
      "corpus_docs" -> corpus.size, "checked" -> checked, "unchecked_same_batch" -> unchecked,
      "near_recall" -> (if (perturbed > 0) nearFound.toDouble / perturbed else 1.0),
      "latency.samples" -> lat.size,
      "latency.whole_batches" -> (if (inWhole) whole.size else 0),
      "latency.samples_beyond_p90" -> (if (lat.nonEmpty) Stats.beyond(lat, 0.9) else 0),
      "drain_s" -> drainS, "batch_rows_s" -> batchS.map { case (r, t) => s"$r:$t" },
      "gen.late_s.max" -> gen.lateS, "batches" -> all.size,
      "session_up_s" -> sessionUpS, "setup_reps_s" -> setups.toSeq,
      "gate.state_build_s" -> builds.toSeq, "phases_s" -> phases.toMap)
    val failed = failures.size.toLong
    if (lat.size < 20) return Outcome(checked, failed + 1, Map.empty, info,
      failures.toSeq :+ s"only ${lat.size} latency samples")
    val passS = Stats.median(drainS)
    val infoOut = info + ("pass_s" -> passS)
    val e2e = Map(
      "setup_s" -> (sessionUpS + Stats.median(setups.toSeq)),
      "pass_s" -> passS,
      "drain_rps" -> Backlog / passS,
      "latency_p50_s" -> Stats.median(lat),
      "latency_p90_s" -> Stats.quantile(lat, 0.9),
      "heap_live_mb" -> heapLive)
    val metrics = tracer match {
      case None => e2e
      case Some(tr) =>
        val (lt, lu) = samples.partition(x => x._1 >= tracedNs._1 && x._1 < tracedNs._2)
        val bs = sl.get.batches.toSeq
        val traced = openBatches.filter(b => bs.exists(_.id == b._1))
        val sinkS = traced.map(b => b._1 -> b._3).toMap
        val steps = bs.flatMap(b => sinkS.get(b.id).map(b.addBatch - _))
        tr.write(s"${c.workDir}/spans-${c.workload}-${c.seed}.jsonl")
        Layers.idle(Layers.batchOnly) ++
          Layers.streaming(tr, jl.get, bs, c.cpus) ++ Map(
          "streaming.recv_total" -> statsOpen.recvTotal.toDouble,
          "streaming.send_total" -> statsOpen.sendTotal.toDouble,
          "gate.state_build_s" -> Stats.median(builds.toSeq),
          "gate.step_s.p50" -> (if (steps.nonEmpty) Stats.median(steps) else 0.0),
          "gate.sink_s.p50" -> (if (sinkS.nonEmpty) Stats.median(sinkS.values.toSeq) else 0.0),
          "gate.fold_files" -> (foldAfter._1 - foldBefore._1).toDouble,
          "gate.fold_bytes" -> (foldAfter._2 - foldBefore._2).toDouble,
          "gate.exact_pairs" -> traced.map(_._4.size).sum.toDouble,
          "gate.near_pairs" -> traced.map(_._5.size).sum.toDouble,
          "gen.late_s.max" -> gen.lateS,
          "trace.overhead_frac" -> (Stats.median(lt.map(_._2)) / Stats.median(lu.map(_._2)) - 1.0))
    }
    Outcome(checked, failed, metrics, infoOut, failures.toSeq)
  }

  import scala.jdk.CollectionConverters._

  /** Files and bytes the folds appended under the state's grown dirs. */
  private def foldSize(st: DedupIngest.GrowingState): (Long, Long) = {
    val fs = Seq(st.shingledPath, st.bandPath, st.digestsPath).flatMap { root =>
      val p = java.nio.file.Paths.get(root.stripPrefix("file:"))
      if (!java.nio.file.Files.exists(p)) Nil
      else {
        val w = java.nio.file.Files.walk(p)
        try w.iterator().asScala.filter(f => java.nio.file.Files.isRegularFile(f) &&
          f.toString.contains("/batch_") && f.getFileName.toString.endsWith(".parquet"))
          .map(f => java.nio.file.Files.size(f)).toList
        finally w.close()
      }
    }
    (fs.size.toLong, fs.sum[Long])
  }

  /** `near_miss.txt`: one "corpus id" line per recorded near-pair miss. */
  private def nearMisses(c: Conf): Map[String, Set[Long]] = {
    val f = new java.io.File(s"${c.benchDir}/near_miss.txt")
    if (!f.exists) return Map.empty
    val src = scala.io.Source.fromFile(f)
    try src.getLines().map(_.trim.split("\\s+")).filter(_.length == 2).toSeq
      .groupMap(_(0))(_(1).toLong).map { case (t, ids) => t -> ids.toSet }
    finally src.close()
  }

  /** Corpus docs whose perturbed copy the gate does not pair with them on
    * this commit: gated once, as one batch, against the built state. */
  private def recordNearMisses(spark: SparkSession, c: Conf, corpusDf: DataFrame,
                               corpus: IndexedSeq[(Long, String)]): Outcome = {
    spark.conf.set("graft.stage.dir", s"${c.workDir}/stage-record")
    val st = DedupIngest.buildGrowingState(corpusDf, "doc_id", "text")
    import spark.implicits._
    val batch = corpus.map { case (id, t) => (IdBase + id, perturb(t)) }.toDF("doc_id", "text")
    val (_, near) = DedupIngest.gateBatch(batch, st.cs, "doc_id", "text")
    val found = near.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val miss = corpus.map(_._1).filterNot(id => found((IdBase + id, id)))
    val w = new java.io.PrintWriter(s"${c.workDir}/near_miss.txt")
    val kept = nearMisses(c) - c.corpusTag
    w.println("# corpus doc_id: corpus docs whose perturbed copy the gate did not pair")
    try (kept.toSeq.flatMap { case (t, ids) => ids.toSeq.map(t -> _) } ++ miss.map(c.corpusTag -> _))
      .sorted.foreach { case (t, id) => w.println(s"$t $id") }
    finally w.close()
    Outcome(corpus.size.toLong, 0L, Map.empty,
      Map("near_miss" -> miss.size, "corpus_docs" -> corpus.size), Nil)
  }
}
