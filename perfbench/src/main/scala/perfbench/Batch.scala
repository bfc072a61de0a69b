package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** The two closed-loop batch workloads: one client runs every listed
  * registry key per pass (query build through `SparkEntry.queries`, then a
  * `noop` write), passes repeat for the run's seconds, and the seed
  * permutes the key order of each pass. */
object Batch {
  /** Keys whose time goes mostly into plan-time staging and settles. The
    * run budget allows one of the six such headliners: the one with over
    * 90% of its time in the build that also runs the PageRank state and
    * refresh code; see README. */
  val staged: Seq[String] = Seq("x_linkgraph_rank_incremental")

  /** Keys whose time goes mostly into scans, codegen'd operators and
    * exchanges; building their plans starts few jobs. */
  val scan: Seq[String] = Seq(
    "q1_agg", "q3_shuffle_join", "q_window_rank", "q_asof_join",
    "p_window_tumbling", "x_text_stats", "x_pii_redact", "x_text_html",
    "x_web_robots_parse", "x_anchor_text")

  /** Raw input tables each key reads. A pass's input rows (the row counts
    * of these tables, summed per key) give `drain_rps`; the traced run's
    * scan floor writes these tables alone. Every listed key must appear. */
  val reads: Map[String, Seq[String]] = Map(
    "x_linkgraph_rank_incremental" -> Seq("documents"),
    "q1_agg" -> Seq("lineitem"),
    "q3_shuffle_join" -> Seq("customer", "orders", "lineitem"),
    "q_window_rank" -> Seq("customer", "orders"),
    "q_asof_join" -> Seq("events", "orders"),
    "p_window_tumbling" -> Seq("events"),
    "x_text_stats" -> Seq("documents"),
    "x_pii_redact" -> Seq("documents"),
    "x_text_html" -> Seq("documents"),
    "x_web_robots_parse" -> Seq("documents"),
    "x_anchor_text" -> Seq("documents"))

  def keys(workload: String): Seq[String] = {
    val ks = workload match {
      case "batch_staged" => staged
      case "batch_scan" => scan
    }
    ks.filterNot(reads.contains)
      .foreach(k => sys.error(s"$k: input tables not listed in Batch.reads"))
    ks
  }

  /** Row count plus an order-independent hash of every row. */
  def fingerprint(df: DataFrame): String = {
    val cols = df.columns.toSeq.sorted.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(to_json(struct(cols: _*))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  private val fpLine = "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r

  /** `fingerprints.json` is a flat object of "corpus/key" → fingerprint. */
  def readFingerprints(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path)
    try fpLine.findAllMatchIn(src.mkString).map(m => m.group(1) -> m.group(2)).toMap
    finally src.close()
  }

  /** The fence before every timed key: nothing cached, and the staged
    * blocks and shuffle files of earlier runs released (a full GC lets
    * Spark's ContextCleaner drop them), so no key's time depends on when
    * the previous one's garbage happens to be collected. */
  def fence(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    System.gc()
    Thread.sleep(100)
  }

  def timeQuery(spark: SparkSession, dir: String, name: String,
                tr: Option[Tracer]): Double = {
    fence(spark)
    def sp[A](n: String)(f: => A): A = tr.fold(f)(_.span(n)(f))
    val (_, t) = Stats.seconds(sp(s"query:$name") {
      val df = sp("build")(SparkEntry.queries(name)(spark, dir))
      sp("write")(df.write.format("noop").mode("overwrite").save())
    })
    t
  }

  final case class Pass(seconds: Double, order: Seq[String], perQuery: Seq[Double],
                        failedKeys: Seq[String])

  /** One pass over `names`; its time is the sum of the keys' times (the
    * fences between them excluded). A key that throws fails the pass (its
    * time is not counted) and is named. */
  def pass(spark: SparkSession, dir: String, names: Seq[String],
           tr: Option[Tracer]): Pass = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val failed = mutable.ArrayBuffer.empty[String]
    def body(): Unit = names.foreach { n =>
      try lat += timeQuery(spark, dir, n, tr)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
        failed += n
      }
    }
    tr.fold(body())(_.span("pass")(body()))
    Pass(lat.sum, names, lat.toSeq, failed.toSeq)
  }

  def run(spark: SparkSession, c: Conf, sessionUpS: Double): Outcome = {
    val names = keys(c.workload)
    val dir = c.dataDir
    val tablesRead = names.flatMap(reads).distinct
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L

    // Set-up: register every input table and build the query registry.
    val setups = (1 to 3).map { _ =>
      spark.sharedState.cacheManager.clearCache()
      Stats.seconds {
        val s = spark.newSession()
        tablesRead.foreach(t => graft.sources.Tables.table(s, dir, t)
          .createOrReplaceTempView(t))
        SparkEntry.queries.size
      }._2
    }
    val rows = tablesRead.map(t => t -> graft.sources.Tables.table(spark, dir, t).count()).toMap
    val inputRows = names.map(n => reads(n).map(rows).sum).sum

    // Untimed check pass (also the warm-up): every key against the
    // fingerprint recorded for this corpus.
    val fpPath = s"${c.benchDir}/fingerprints.json"
    val stored =
      if (new java.io.File(fpPath).exists) readFingerprints(fpPath) else Map.empty[String, String]
    val recorded = mutable.Map.empty[String, String]
    val (_, firstPass) = Stats.seconds(names.foreach { n =>
      attempted += 1
      fence(spark)
      val key = s"${c.corpusTag}/$n"
      try {
        val fp = fingerprint(SparkEntry.queries(n)(spark, dir))
        recorded(key) = fp
        val want = stored.get(key).map(w =>
          if (c.corrupt == "fingerprint" && n == names.head) w + "x" else w)
        if (c.mode != "record" && !want.contains(fp))
          failures += s"$n: fingerprint $fp, expected ${want.getOrElse("none")}"
      } catch { case e: Throwable => failures += s"$n: check threw ${e.getMessage}" }
    })
    if (c.mode == "record") {
      val w = new java.io.PrintWriter(s"${c.workDir}/fingerprints.json")
      try w.println((stored ++ recorded).toSeq.sorted
        .map { case (k, v) => s"""  "$k": "$v"""" }.mkString("{\n", ",\n", "\n}"))
      finally w.close()
    }

    val tracer = if (c.trace) Some(new Tracer(s"${c.workload}-${c.seed}")) else None
    val listener = tracer.map(t => new t.Listener)
    val passes = mutable.ArrayBuffer.empty[(Pass, Boolean)] // (pass, traced)
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    var i = 0
    val minPasses = if (c.trace) 4 else 2
    while (i < minPasses || System.nanoTime() < deadline) {
      val order = Stats.shuffle(names, c.seed * 1000003L + i)
      // Traced runs interleave untraced and traced passes (U T T U ...) so
      // the tracing overhead is measured under the same, still warming, JVM.
      val traced = c.trace && (i % 4 == 1 || i % 4 == 2)
      listener.filter(_ => traced).foreach(spark.sparkContext.addSparkListener)
      val p = pass(spark, dir, order, tracer.filter(_ => traced))
      listener.filter(_ => traced).foreach(spark.sparkContext.removeSparkListener)
      attempted += names.size
      p.failedKeys.foreach(k => failures += s"$k: threw in pass $i")
      passes += ((p, traced))
      i += 1
    }
    fence(spark)
    val heapLive = Stats.liveHeapMb()
    val ok = passes.filter(_._1.failedKeys.isEmpty)
    val untraced = ok.filterNot(_._2).map(_._1)
    val passS = untraced.map(_.seconds)
    val lat = untraced.flatMap(_.perQuery)
    val failedPasses = passes.count(_._1.failedKeys.nonEmpty)

    val info = Map[String, Any](
      "keys" -> names, "passes" -> passes.size, "failed_passes" -> failedPasses,
      "pass_s.all" -> passes.map(_._1.seconds),
      "latency.samples" -> lat.size,
      "latency.samples_beyond_p90" -> (if (lat.nonEmpty) Stats.beyond(lat, 0.9) else 0),
      "input_rows_per_pass" -> inputRows,
      "key_s.median" -> names.map { n =>
        n -> Stats.median(untraced.map(p => p.perQuery(p.order.indexOf(n))))
      }.toMap,
      "session_up_s" -> sessionUpS, "setup_reps_s" -> setups,
      "warmup.first_pass_s" -> firstPass)

    if (passS.isEmpty)
      return Outcome(attempted, failures.size.toLong, Map.empty, info, failures.toSeq)
    val passMed = Stats.median(passS)
    val infoOut = info + ("pass_s" -> passMed)
    val e2e = Map(
      "setup_s" -> (sessionUpS + Stats.median(setups)),
      "pass_s" -> passMed,
      "drain_rps" -> inputRows / passMed,
      "latency_p50_s" -> Stats.median(lat),
      "latency_p90_s" -> Stats.quantile(lat, 0.9),
      "heap_live_mb" -> heapLive)

    val metrics = tracer match {
      case None => e2e
      case Some(tr) =>
        val tracedPasses = ok.filter(_._2).map(_._1)
        val nT = math.max(tracedPasses.size, 1).toDouble
        val tracedWall = tracedPasses.map(_.seconds).sum
        def per(span: String, k: String) = tr.counter(span, k) / nT
        val build = tr.durations("build").sum / nT
        // Scan floor: a noop write of each raw input table alone.
        val floor = tablesRead.map { t =>
          fence(spark)
          Stats.seconds(graft.sources.Tables.table(spark, dir, t)
            .write.format("noop").mode("overwrite").save())._2
        }.sum
        tracer.foreach(_.write(s"${c.workDir}/spans-${c.workload}-${c.seed}.jsonl"))
        Layers.idle(Layers.streamOnly ++ Layers.gateOnly) ++ Map(
          "queries.build_s" -> build,
          "queries.build_jobs" -> per("build", "jobs"),
          "queries.build_frac" -> build / (tracedWall / nT),
          "spark.core_busy_frac" -> tr.counter("pass", "run_s") / (tracedWall * c.cpus),
          "spark.jobs" -> per("pass", "jobs"),
          "spark.stages" -> per("pass", "stages"),
          "spark.tasks" -> per("pass", "tasks"),
          "write.noop_s" -> tr.durations("write").sum / nT,
          "write.jobs" -> per("write", "jobs"),
          "sources.scan_rows" -> per("pass", "scan_rows"),
          "sources.scan_bytes" -> per("pass", "scan_bytes"),
          "sources.scan_floor_s" -> floor,
          "exchange.shuffle_write_bytes" -> per("pass", "shuffle_write_bytes"),
          "exchange.shuffle_read_bytes" -> per("pass", "shuffle_read_bytes"),
          "exchange.shuffle_write_s" -> per("pass", "shuffle_write_s"),
          "exchange.fetch_wait_s" -> per("pass", "fetch_wait_s"),
          "exchange.skew_max" -> listener.get.skewMax,
          "spark.task_cpu_s" -> per("pass", "cpu_s"),
          "spark.gc_s" -> per("pass", "gc_s"),
          "spark.spill_bytes" -> per("pass", "spill_bytes"),
          "trace.overhead_frac" -> (Stats.median(tracedPasses.map(_.seconds)) / passMed - 1.0))
    }
    Outcome(attempted, failures.size.toLong, metrics, infoOut, failures.toSeq)
  }

  /** One warm-up pass, then one timed pass (for `spark.speedup_1_to_n`). */
  def singlePass(spark: SparkSession, c: Conf): Outcome = {
    val names = keys(c.workload)
    pass(spark, c.dataDir, names, None)
    val p = pass(spark, c.dataDir, names, None)
    Outcome(2L * names.size, p.failedKeys.size.toLong,
      Map("pass_s" -> p.seconds), Map.empty, p.failedKeys)
  }
}
