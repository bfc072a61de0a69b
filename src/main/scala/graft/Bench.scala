package graft
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Kafka-source-shaped record for the gate bench's MemoryStream. */
case class BenchMsg(topic: String, partition: Int, offset: Long,
                    timestamp: java.sql.Timestamp,
                    key: Array[Byte], value: Array[Byte])

/** graft's measurement harness, on `SPARK_GRAFT_SF_DIR` at
  * `SPARK_GRAFT_CPUS` cores ([[Session]]). Three modes:
  *
  *   runMain graft.Bench                          the headline sweep: ONE JSON line
  *   runMain graft.Bench probe <key>…             one key in isolation, with its executions
  *   runMain graft.Bench plan <dir> <tag> <key>…  formatted plans to `<dir>/<key>_<tag>.txt`
  *
  * Results are materialized through the `noop` sink, NOT `.count()`:
  * count() lets Catalyst prune every projection (a scan-only plan), which
  * would benchmark nothing. noop executes the full plan and discards rows.
  */
object Bench {

  /** The streaming gate's key: a Bench-only key, not a registry query. */
  val GateKey = "x_gate_dedup_stream"

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
    * tail (the LSH path) — through a fresh MemoryStream-backed query,
    * stopped through its `Stream` so its listener leaves the bus.
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
      val t =
        try {
          val t0 = System.nanoTime()
          (0 until 3).foreach { b =>
            val batch = payloads.filter(_._1 % 3 == b).zipWithIndex.map {
              case ((_, j), i) => BenchMsg("bench", 0, i.toLong,
                new java.sql.Timestamp(1000L + i), null, j.getBytes("UTF-8"))
            }
            ms.addData(batch.toIndexedSeq: _*)
            q.processAllAvailable()
          }
          (System.nanoTime() - t0) / 1e9
        } finally s.stop()
      require(sink > 0L, "gate bench produced no pairs — workload broken")
      t
    }
    rep() // warm-up (JIT + codegen for the probe plans)
    ((1 to reps).map(_ => rep()), buildSec)
  }

  /** One timed run of registry `key` through the noop sink, in wall
    * seconds, behind the cache fence (r17): any relation a query fn might
    * leave in the CacheManager would be plan-matched and silently reused
    * by the next run of the same query — every timed run must compute
    * from the parquet inputs. No current query persists (staging is
    * localCheckpoint-based, which never cross-run-matches), so the fence
    * is a no-op today; it pins the methodology. */
  private def timedRun(spark: SparkSession, sfDir: String, key: String): Double = {
    spark.sharedState.cacheManager.clearCache()
    val t0 = System.nanoTime()
    SparkEntry.queries(key)(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs `body` between two sentinel jobs and returns once the listener
    * bus has delivered the closing one. `open` turns true when the bus
    * delivers the opening sentinel's start and false at the closing
    * one's; the bus's shared queue delivers in order, so a listener on
    * that queue (a `QueryExecutionListener`, or `onJob`) sees `open` true
    * for exactly the events `body` posted, on any thread. `onJob` gets
    * each job start `body` posted. */
  def busWindow[A](spark: SparkSession, open: AtomicBoolean = new AtomicBoolean(false),
                   onJob: SparkListenerJobStart => Unit = _ => ())(body: => A): A = {
    val tag = s"graft-window-${java.util.UUID.randomUUID()}"
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.job.description")) match {
          case Some(d) if d == s"$tag-open" => open.set(true)
          case Some(d) if d == s"$tag-close" => open.set(false); closed.countDown()
          case _ => if (open.get()) onJob(js)
        }
    }
    val sc = spark.sparkContext
    def sentinel(d: String): Unit = {
      sc.setJobDescription(d)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      sentinel(s"$tag-open")
      val out = body
      sentinel(s"$tag-close")
      if (!closed.await(60, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException("listener bus stalled")
      out
    } finally sc.removeSparkListener(listener)
  }

  /** One probe's timed runs and the executions of its last timed run
    * (function name, execution, nanos). */
  final case class Probe(runs: Seq[Double], executions: Seq[(String, QueryExecution, Long)])

  /** One key in isolation: 2 untimed warm-ups, then 5 timed runs, the
    * last of them with its executions captured — a query fn may start
    * several (staging materializations, driver settles, iteration
    * rounds) besides the final write. [[GateKey]] goes through the same
    * [[gateBench]] the sweep times (state build untimed, one extra warm-up
    * pass) and captures no executions. */
  def probe(spark: SparkSession, sfDir: String, key: String): Probe =
    if (key == GateKey) {
      val (_, build) = gateBench(spark, sfDir, reps = 1)
      System.err.println(f"[probe] gate state build: $build%.3f s (warm-up pass)")
      Probe(gateBench(spark, sfDir, reps = 5)._1, Nil)
    } else {
      val caught = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution, Long)]()
      val open = new AtomicBoolean(false)
      val listener = new QueryExecutionListener {
        override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
          if (open.get()) caught.add((fn, qe, ns))
        override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        timedRun(spark, sfDir, key); timedRun(spark, sfDir, key)
        val runs = (1 to 4).map(_ => timedRun(spark, sfDir, key)) :+
          busWindow(spark, open)(timedRun(spark, sfDir, key))
        import scala.jdk.CollectionConverters._
        Probe(runs, caught.asScala.toSeq)
      } finally spark.listenerManager.unregister(listener)
    }

  /** Writes `key`'s formatted plan to `<dir>/<key>_<tag>.txt` and returns
    * the path. The plan is the one the sweep runs, modulo AQE's runtime
    * re-optimization, which explain-before-execution cannot show. */
  def plan(spark: SparkSession, sfDir: String, dir: String, tag: String, key: String): String = {
    new java.io.File(dir).mkdirs()
    val text = SparkEntry.queries(key)(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    val path = s"$dir/${key}_$tag.txt"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), text)
    path
  }

  /** An executed plan as an indented operator tree, each node with its
    * non-zero SQLMetrics (codegen duration, exchange size and write time,
    * build times, scan rows). */
  private def metricsTree(p: SparkPlan, depth: Int = 0, sb: StringBuilder = new StringBuilder): String = {
    val ms = p.metrics.toSeq
      .filter { case (_, m) => m.value > 0 }
      .sortBy(_._1)
      .map { case (k, m) => s"$k=${m.value}" }.mkString(", ")
    sb.append("  " * depth + p.nodeName + (if (ms.nonEmpty) s"  [$ms]" else "") + "\n")
    p match {
      case a: AdaptiveSparkPlanExec => metricsTree(a.executedPlan, depth + 1, sb)
      case q: QueryStageExec => metricsTree(q.plan, depth + 1, sb)
      case _ => p.children.foreach(metricsTree(_, depth + 1, sb))
    }
    sb.toString
  }

  private def printProbe(spark: SparkSession, sfDir: String, key: String): Unit = {
    // THE calibration probe before and after, so the isolated reading
    // normalizes the same way as the sweep's.
    val calibBefore = calibrate()._1
    val p = probe(spark, sfDir, key)
    val calibAfter = calibrate()._1
    val calib = math.min(calibBefore, calibAfter)
    println(f"[probe] $key sf=$sfDir")
    println(f"[probe] runs: ${p.runs.map(t => f"$t%.3f").mkString(", ")}")
    println(f"[probe] best: ${p.runs.min}%.3f s  calib: $calib%.3f s " +
      f"(before $calibBefore%.3f / after $calibAfter%.3f)")
    println(f"[probe] normalized best: ${p.runs.min / calib}%.3f")
    if (key != GateKey) {
      println(f"[metrics] $key wall=${p.runs.last}%.3f s, executions=${p.executions.size}")
      p.executions.zipWithIndex.foreach { case ((f, qe, ns), i) =>
        println(f"--- [$key] execution $i ($f, ${ns / 1e9}%.3f s) ---")
        println(metricsTree(qe.executedPlan))
      }
    }
  }

  /** The headline sweep: every headliner plus the streaming gate, best of
    * 3 interleaved timed sweeps after 2 untimed ones; returns the JSON
    * line. */
  private def sweep(spark: SparkSession, sfDir: String, cpus: Int): String = {
    def run(name: String): Double =
      try timedRun(spark, sfDir, name)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
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
    runs(GateKey) = gateRuns.toVector
    val allNames = names :+ GateKey
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
    // Field order is deliberate: the driver's BENCH wrapper keeps only the
    // TAIL of the line (r14/r15 both lost the LEAD keys; the cut landed
    // mid-`runs`, and fields after `runs` — calib, sf — survived). So the
    // bulky per-run arrays go FIRST and the compact comparable record —
    // `best` (best-of-3 per key) + `calib` — trails the line where the
    // kept tail preserves it. `best` duplicates `queries` so a cut landing
    // mid-`queries` still leaves `best` intact for bench_diff.
    val failedJs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","runs":$rs,"calib_runs":$cruns,"queries_normalized":$qn,"queries":$qs,"best":$qs,"gate_build":$gateBuild,"calib":$calib,"failed":$failedJs,"cpus":$cpus,"value":$total,"unit":"sec","sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Session.sfDir
    val cpus = Session.cpus
    val mode: SparkSession => Unit = args.toList match {
      case Nil => spark =>
        val line = sweep(spark, sfDir, cpus)
        // Stop Spark FIRST so no executor/shutdown logging can interleave
        // after the metric line — the driver wants it as the final clean
        // stdout line.
        spark.stop()
        println(line)
      case "probe" :: keys if keys.nonEmpty => spark =>
        keys.foreach(printProbe(spark, sfDir, _))
        spark.stop()
      case "plan" :: dir :: tag :: keys if keys.nonEmpty => spark =>
        keys.foreach(k => System.err.println(s"[plan] wrote ${plan(spark, sfDir, dir, tag, k)}"))
        spark.stop()
      case _ => throw new IllegalArgumentException(
        "usage: Bench | Bench probe <key>… | Bench plan <dir> <tag> <key>…")
    }
    mode(Session.local(cpus))
  }
}
