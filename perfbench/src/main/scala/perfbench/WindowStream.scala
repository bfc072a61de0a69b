package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.Stream

/** `stream_window`: `events`-shaped records replayed as Kafka JSON on two
  * topics → `fromKafkaShaped` ×2 → `union` → `filter` → `map` → keyed
  * tumbling `window` (append mode: a window is emitted once a later event
  * moves the watermark past its end) → `forEachBatch` sink. An open-loop
  * phase at a fixed rate gives result latency; a drain phase releases a
  * fixed backlog at once and times it. */
object WindowStream {
  // Events/s offered in the open loop: about a third of drain_rps. At half,
  // queueing behind the batch in progress doubled the run-to-run spread of
  // latency relative to that of pass_s.
  val Rate = 12000.0
  // Open-loop seconds before latency is sampled. A micro-batch's fixed
  // cost (planning, state commit) falls for about 30 batches as the JIT
  // compiles the driver's per-batch paths; by 6 s most of it is over.
  val WarmS = 6.0
  val WarmBacklogs = 1
  val IntervalMs = 100L
  val GraceMs = 500L
  val Users = 1500
  val Backlog = 60000 // events per drain
  val Drains = 2
  val FarLate = 20
  val TickNs = 50000000L
  private val Types = Array("view", "click", "purchase", "signup", "error")

  val schema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Generated events; `evMs` is event time relative to `baseMs`, the
    * run's T0 when the events were added. */
  final class Events(n: Int) {
    var baseMs = 0L
    val user = new Array[Long](n)
    val tpe = new Array[Int](n)
    val cents = new Array[Long](n)
    val k = new Array[Int](n)
    val evMs = new Array[Long](n)
    def payload(i: Int): Array[Byte] =
      (s"""{"user_id":${user(i)},"event_type":"${Types(tpe(i))}",""" +
        s""""value":${cents(i) / 100.0},"props":"{\\"k\\": ${k(i)}}"}""").getBytes(UTF_8)
  }

  private def fill(e: Events, i: Int, rnd: SplittableRandom, ms: Long): Unit = {
    e.user(i) = rnd.nextInt(Users).toLong
    e.tpe(i) = rnd.nextInt(Types.length)
    e.cents(i) = math.round(-math.log(1.0 - rnd.nextDouble()) * 5000.0)
    e.k(i) = rnd.nextInt(100)
    e.evMs(i) = ms
  }

  final class Run(spark: SparkSession, dir: String) {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    implicit val enc: Encoder[Msg] = Encoders.product[Msg]
    // Two partitions per topic, as a Kafka topic has a fixed partition
    // count (without one, each addData call becomes its own partition).
    val a = MemoryStream[Msg](2)
    val b = MemoryStream[Msg](2)
    val sink = mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Int, Long)] // start, user, n, cents, kmax, sinkNs
    val s: Stream = Stream.fromKafkaShaped(spark, a.toDF(), schema)
      .union(Stream.fromKafkaShaped(spark, b.toDF(), schema))
      .filter(col("value.event_type") =!= "error")
      .map(struct(col("value.user_id").as("user_id"),
        round(col("value.value") * 100).cast("long").as("cents"),
        get_json_object(col("value.props"), "$.k").cast("int").as("k")))
      .window(s"$IntervalMs milliseconds", s"$GraceMs milliseconds",
        Seq(count(lit(1)).as("n"), sum(col("value.cents")).as("cents"),
          max(col("value.k")).as("kmax")),
        keyed = Seq(col("value.user_id").as("user_id")))
    val q: StreamingQuery = s.forEachBatch({ (df: DataFrame, _: Long) =>
      val rows = df.select(col("metadata.window_start"), col("value.user_id"),
        col("value.n"), col("value.cents"), col("value.kmax")).collect()
      val t = System.nanoTime()
      sink.synchronized(rows.foreach { r =>
        sink += ((r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2), r.getLong(3),
          r.getInt(4), t))
      })
    }, Some(s"$dir/ckpt-${java.util.UUID.randomUUID()}"))

    /** Adds events `from until until`, split between the two topics, or
      * all to topic `a` (a backlog: one `addData` call, so it is one
      * micro-batch whatever the trigger timing). */
    def add(e: Events, from: Int, until: Int, t0Ms: Long, offset: Long,
            oneTopic: Boolean = false): Unit = {
      e.baseMs = t0Ms
      val (xa, xb) = (from until until).partition(i => oneTopic || (i + offset) % 2 == 0)
      def msgs(ix: Seq[Int], topic: String) = ix.map(i =>
        Msg(topic, 0, i + offset, new java.sql.Timestamp(t0Ms + e.evMs(i)), null, e.payload(i)))
      if (xa.nonEmpty) a.addData(msgs(xa, "a"): _*)
      if (xb.nonEmpty) b.addData(msgs(xb, "b"): _*)
    }
  }

  def run(spark: SparkSession, c: Conf, sessionUpS: Double): Outcome = {
    val t00 = System.nanoTime()
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase(n: String): Unit = phases(n) = (System.nanoTime() - t00) / 1e9
    val rnd = new SplittableRandom(c.seed)
    val openS = WarmS + c.seconds
    val nOpen = (Rate * openS).toInt
    // Open-loop events: released on a fixed schedule; 10% arrive out of
    // order within half the grace; FarLate events carry an event time 60 s
    // old, behind any watermark the run has set, and distinct keys, so
    // each must be dropped.
    val open = new Events(nOpen)
    val dues = Array.tabulate(nOpen)(i => (i * 1e9 / Rate).toLong)
    val farLate = (0 until FarLate).map(j =>
      ((WarmS + 1.0 + j * (c.seconds - 1.5) / FarLate) * Rate).toInt).toSet
    (0 until nOpen).foreach { i =>
      val dueMs = dues(i) / 1000000L
      val jitter = if (rnd.nextInt(10) == 0) rnd.nextLong(GraceMs / 2) else 0L
      fill(open, i, rnd, dueMs - jitter)
      if (farLate(i)) { open.user(i) = 1000000L + i; open.evMs(i) = dueMs - 60000L }
    }
    // Warm-up backlogs, processed before the open loop so the JIT has
    // compiled the hot paths; their event times end 2 s before T0.
    val warms = (0 until WarmBacklogs).map { d =>
      val e = new Events(Backlog)
      val span = (Backlog / Rate * 1000).toLong
      val base = -2000L - (WarmBacklogs - d) * span
      (0 until Backlog).foreach(i => fill(e, i, rnd, base + (i / Rate * 1000).toLong))
      e
    }
    val lastOpenMs = open.evMs.max
    val drains = (0 until Drains).map { d =>
      val e = new Events(Backlog)
      val base = lastOpenMs + 2 * GraceMs + d.toLong * (Backlog / Rate * 1000).toLong
      (0 until Backlog).foreach(i => fill(e, i, rnd, base + (i / Rate * 1000).toLong))
      e
    }

    phase("generated")
    // Set-up: build the stream and start its query, which processes one
    // priming event (planning and code generation of the first batch).
    val setups = mutable.ArrayBuffer.empty[Double]
    var run: Run = null
    var t0Ms = 0L
    val prime = new Events(1)
    for (r <- 1 to 3) {
      if (run != null) run.q.stop()
      spark.sharedState.cacheManager.clearCache()
      t0Ms = (System.currentTimeMillis() / 1000 + 2) * 1000
      fill(prime, 0, new SplittableRandom(r), -100000L)
      prime.user(0) = 2000000L
      setups += Stats.seconds {
        run = new Run(spark, c.workDir)
        run.add(prime, 0, 1, t0Ms, 0)
        run.q.processAllAvailable()
      }._2
    }
    val w = run
    phase("setup")
    val stats0 = w.s.flushStatistics()
    warms.zipWithIndex.foreach { case (e, d) =>
      w.add(e, 0, Backlog, t0Ms, 20000000L * (d + 1), oneTopic = true)
      w.q.processAllAvailable()
    }
    t0Ms = System.currentTimeMillis() + 300
    val tracer = if (c.trace) Some(new Tracer(s"${c.workload}-${c.seed}")) else None
    val gen = new OpenLoop(dues, TickNs, (f, u) => w.add(open, f, u, t0Ms, 1))
    val offset0 = OpenLoop.endOffset(w.q.lastProgress)
    val sl = tracer.map(t => new t.StreamListener(p =>
      ((gen.calls - (OpenLoop.endOffset(p) - offset0)) * Rate * TickNs / 1e9).toLong))
    val jl = tracer.map(t => new t.Listener)
    val start = System.nanoTime() + ((t0Ms - System.currentTimeMillis()) * 1000000L)
    val tracedNs = OpenLoop.drive(spark, gen, start, WarmS, c.seconds, w.q,
      tracer.map(t => (t, sl.get, jl.get)))
    phase("open")
    val heapLive = Stats.liveHeapMb()

    // Drain: each backlog is added at once and processed to completion.
    val drainS = drains.zipWithIndex.map { case (e, d) =>
      Stats.seconds {
        w.add(e, 0, Backlog, t0Ms, 10000000L * (d + 1), oneTopic = true)
        w.q.processAllAvailable()
      }._2
    }
    phase("drain")
    // Two far-future events close every remaining window: the first moves
    // the watermark, the second runs the batch that emits.
    val flush = new Events(2)
    (0 until 2).foreach { i =>
      fill(flush, i, rnd, drains.last.evMs.max + 10 * (GraceMs + IntervalMs) + i)
      flush.user(i) = 2000000L
    }
    (0 until 2).foreach { i => w.add(flush, i, i + 1, t0Ms, 90000000L + i); w.q.processAllAvailable() }
    val failedQuery = w.q.exception.map(_.getMessage)
    val batchS = w.q.recentProgress.map(p => (p.numInputRows,
      p.durationMs.getOrDefault("triggerExecution", 0L) / 1e3)).toSeq
    val progress = w.q.recentProgress
    val dropped = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    val stats = OpenLoop.settledStatistics(w.s, progress.map(_.numInputRows).sum - stats0.recvTotal)
    w.q.stop()

    // Check: the stream's windows equal a groupBy over the same events
    // (far-late ones excluded), and the far-late events counted as dropped.
    val all = (0 until nOpen).filterNot(farLate).map(i => (open, i)) ++
      (warms ++ drains).flatMap(e => (0 until Backlog).map(i => (e, i)))
    val expected = batchWindows(all)
    phase("oracle")
    val got = w.sink.filter(_._2 < 2000000L).map(r => (r._1, r._2, r._3, r._4, r._5))
    val gotSet = got.toSet
    val missing = expected.diff(gotSet).size
    val extra = gotSet.diff(expected).size + (got.size - gotSet.size)
    val failures = mutable.ArrayBuffer.empty[String]
    if (missing + extra > 0) failures += s"windows: $missing missing, $extra wrong or duplicated of ${expected.size}"
    // Every far-late event must be gone from the windows (checked above).
    // Spark's drop counter does not count each late input row (it read 13
    // to 20 of 20 while the windows matched), so it is checked for range.
    val droppedOk = dropped >= 1 && dropped <= FarLate
    if (!droppedOk) failures += s"dropped_by_watermark $dropped, expected 1 to $FarLate"
    failedQuery.foreach(m => failures += s"query failed: $m")

    // Latency: sink time − release time of the first event whose event
    // time passes window_end + grace (the event that made the result final).
    val prefixMax = open.evMs.scanLeft(Long.MinValue)(math.max).tail
    def closer(endMs: Long): Int = {
      val target = endMs + GraceMs
      val i = java.util.Arrays.binarySearch(prefixMax, target)
      var j = if (i >= 0) i else -i - 1
      while (j > 0 && prefixMax(j - 1) >= target) j -= 1
      j
    }
    val warmNs = (WarmS * 1e9).toLong
    val samples = w.sink.filter(_._2 < 1000000L).flatMap { r =>
      val j = closer(r._1 - t0Ms + IntervalMs)
      if (j < nOpen && dues(j) >= warmNs) Some((dues(j), (r._6 - start - dues(j)) / 1e9))
      else None
    }
    val lat = samples.map(_._2)
    phase("checked")
    val info = Map[String, Any](
      "rate_eps" -> Rate, "events_open" -> nOpen, "backlog" -> Backlog,
      "windows_checked" -> expected.size, "latency.samples" -> lat.size,
      "latency.samples_beyond_p90" -> (if (lat.nonEmpty) Stats.beyond(lat, 0.9) else 0),
      "drain_s" -> drainS, "batch_rows_s" -> batchS.map { case (r, t) => s"$r:$t" }, "gen.late_s.max" -> gen.lateS,
      "session_up_s" -> sessionUpS, "setup_reps_s" -> setups.toSeq,
      "stats" -> stats.toString, "dropped_by_watermark" -> dropped, "phases_s" -> phases.toMap)
    val attempted = (expected.size + 1).toLong
    val failed = (missing + extra + (if (droppedOk) 0 else 1) +
      failedQuery.size).toLong
    if (lat.size < 20) failures += s"only ${lat.size} latency samples"
    if (lat.isEmpty) return Outcome(attempted, failed + 1, Map.empty, info, failures.toSeq)
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
        tr.write(s"${c.workDir}/spans-${c.workload}-${c.seed}.jsonl")
        Layers.idle(Layers.batchOnly ++ Layers.gateOnly) ++
          Layers.streaming(tr, jl.get, bs, c.cpus) ++ Map(
          "streaming.recv_total" -> stats.recvTotal.toDouble,
          "streaming.send_total" -> stats.sendTotal.toDouble,
          "gen.late_s.max" -> gen.lateS,
          "trace.overhead_frac" -> (Stats.median(lt.map(_._2)) / Stats.median(lu.map(_._2)) - 1.0))
    }
    Outcome(attempted, failed, metrics, infoOut, failures.toSeq)
  }

  /** The same filter → map → keyed tumbling window, computed directly over
    * the generated events (an oracle independent of Spark). */
  private def batchWindows(evs: Seq[(Events, Int)]): Set[(Long, Long, Long, Long, Int)] = {
    val acc = mutable.HashMap.empty[(Long, Long), (Long, Long, Int)]
    evs.foreach { case (e, i) =>
      if (Types(e.tpe(i)) != "error") {
        val ts = e.baseMs + e.evMs(i)
        val key = (ts - Math.floorMod(ts, IntervalMs), e.user(i))
        val (n, cents, kmax) = acc.getOrElse(key, (0L, 0L, Int.MinValue))
        acc(key) = (n + 1, cents + e.cents(i), math.max(kmax, e.k(i)))
      }
    }
    acc.iterator.map { case ((st, u), (n, cents, kmax)) => (st, u, n, cents, kmax) }.toSet
  }
}
