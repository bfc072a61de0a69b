package perfbench

/** Benchmark JVM entry point, launched by `perfbench/run.py`. Runs one
  * workload and writes its outcome as one JSON object to `--out`. */
object Main {
  def main(args: Array[String]): Unit = {
    val c = Conf.parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.create(c)
    val sessionUpS = (System.currentTimeMillis() - jvmStart) / 1e3
    val o =
      try c.workload match {
        case "batch_staged" | "batch_scan" =>
          if (c.mode == "speedup") Batch.singlePass(spark, c) else Batch.run(spark, c, sessionUpS)
        case "stream_window" => WindowStream.run(spark, c, sessionUpS)
        case "stream_dedup" => DedupStream.run(spark, c, sessionUpS)
        case other => sys.error(s"unknown workload $other")
      } finally spark.stop()
    val rss = Stats.rssPeakMb()
    val w = new java.io.PrintWriter(c.out)
    try w.println(Json(Map(
      "attempted" -> o.attempted, "failed" -> o.failed, "metrics" -> o.metrics,
      "failures" -> o.failures.take(20),
      "info" -> (o.info ++ Map("rss_peak_mb" -> rss, "cpus" -> c.cpus)))))
    finally w.close()
  }
}
