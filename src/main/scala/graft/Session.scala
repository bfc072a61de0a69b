package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration of graft's entry points: the mains
  * (`Bench`, `Verify`, `AnnRecall`) and the spec base all build their
  * session here, so a setting changes in one place. */
object Session {

  /** Cores of the local master the mains run on (`SPARK_GRAFT_CPUS`). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Corpus directory the measurement mains read (`SPARK_GRAFT_SF_DIR`). */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** A `local[cpus]` session with graft's settings, plus `extra` confs
    * (app name, warehouse dir, …) set on top. */
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // every entry point pins UTC: Tables.events casts naive µs
      // timestamps to the session zone, which must not move them.
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts may be parquet TIMESTAMP(NANOS), which Spark 4 reads
      // only as long (see Tables.events). The loader is pure, so the
      // session owns this conf; it must be set before any read.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // point-set probes on range-sorted state (Graph.stageSorted) need
      // the In filter pushed as points, not a min/max range — scattered
      // ball ids make the range fallback prune nothing.
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "256")
      // Use the SORT-BASED shuffle writer even at small reducer counts
      // (r18, guide §2.2/§6 small-files): below the 200-partition default
      // threshold Spark's bypass-merge writer creates R+2 files PER MAP
      // TASK (32×34 ≈ 1100 file creates for a kilobyte-scale shuffle) —
      // the per-execution metrics attributed 1.5-1.9 s of cumulative
      // shuffleWriteTime to single tiny exchanges, the dominant fixed cost
      // of every staged materialization at sf0.1 (A/B: x_line_dedup −42%,
      // classifier −25%, no key regressed). NOT a local-only tune:
      // production reducer counts sit far above 200, where the bypass
      // writer never runs — this pins the local code path to the one a
      // 100 TB cluster executes anyway. Scale-independent constant,
      // honored at any core count.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Re-executed localCheckpoint-staged relations (best-of-N reruns)
    // make DAGScheduler log harmless "non-existent accumulator" ERRORs
    // — their first run's accumulators are gone. Silence that one logger.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler",
      org.apache.logging.log4j.Level.OFF)
    spark
  }
}
