package graft

import org.apache.spark.sql.SparkSession

/** Perf-probe harness: isolates ONE registry query on an idle box —
  * 2 untimed warmups, best of 5 timed runs, the Bench calibration
  * probe before and after. `SPARK_GRAFT_PROBE` picks the key
  * (default x_ann_brute_topk — the r16 drift attribution, closed in
  * README §Bench calibration: the code path was byte-identical
  * r14 → r16 and the isolated reading came in at HALF the in-sweep
  * figure, so the driver deltas were sweep-context + machine).
  * The full bench sweep is too contaminable for bisects (the r15
  * lesson) — use THIS, per key, against a worktree binary when a
  * driver delta needs attribution.
  *
  * `x_gate_dedup_stream` is a Bench-only key (the streaming gate
  * bench, not a registry query) — the probe routes it through the
  * SAME [[Bench.gateBench]] code path the sweep times (state build
  * untimed, identical workload), so the isolated reading is directly
  * comparable to the sweep's figure.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      // sort-based shuffle writer everywhere — see Bench for the rationale.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "256")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler",
      org.apache.logging.log4j.Level.OFF)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // THE Bench calibration probe — shared, not a reimplementation: a
    // probe that times anything beyond the sort (the old local copy
    // timed allocation+fill too) inflates calib and deflates every
    // normalized probe figure relative to bench-normalized ones, which
    // biases exactly the cross-comparison this harness exists for
    // (drift attribution: "isolated is faster ⇒ sweep spread").
    def calibrate(): Double = Bench.calibrate()._1

    val key = sys.env.getOrElse("SPARK_GRAFT_PROBE", "x_ann_brute_topk")
    val calibBefore = calibrate()
    val times: Seq[Double] =
      if (key == "x_gate_dedup_stream") {
        // one extra full pass as warmup (gateBench's internal rep plus
        // this ≈ the registry keys' 2 untimed warmups), then 5 timed.
        val (_, build) = Bench.gateBench(spark, sfDir, reps = 1)
        System.err.println(f"[probe] gate state build: $build%.3f s (warmup pass)")
        Bench.gateBench(spark, sfDir, reps = 5)._1
      } else {
        val fn = SparkEntry.queries(key)
        def run(): Double = {
          // a persist-based staged relation from a previous run would
          // otherwise be plan-matched by the CacheManager and silently
          // reused — every timed run must compute from the parquet
          // inputs (the no-cross-run-caching rule).
          spark.sharedState.cacheManager.clearCache()
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        run(); run() // 2 untimed warmups
        (1 to 5).map(_ => run())
      }
    val calibAfter = calibrate()
    println(f"[probe] $key sf=$sfDir")
    println(f"[probe] runs: ${times.map(t => f"$t%.3f").mkString(", ")}")
    println(f"[probe] best: ${times.min}%.3f s  calib: " +
      f"${math.min(calibBefore, calibAfter)}%.3f s (before $calibBefore%.3f / after $calibAfter%.3f)")
    println(f"[probe] normalized best: ${times.min / math.min(calibBefore, calibAfter)}%.3f")
    spark.stop()
  }
}
