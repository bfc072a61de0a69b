package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Operator-level wall attribution for one registry key (guide §1):
  * runs the key twice untimed (JIT/codegen), once timed, then prints
  * EVERY captured QueryExecution of the timed run (query fns may
  * trigger sub-jobs: staging materializations, driver-settled
  * relations, iteration rounds) as an executed-plan tree with its
  * SQLMetrics — WholeStageCodegen duration, exchange data size/write
  * time, aggregate/join build times, scan rows. The empirical loop's
  * "which operator is the wall" answer without a UI.
  *
  * Usage: SPARK_GRAFT_PROBE=<key> runMain graft.ProbeMetrics
  */
object ProbeMetrics {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "256")
      // sort-based shuffle writer everywhere — see Bench for the rationale.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler",
      org.apache.logging.log4j.Level.OFF)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val keys =
      if (args.nonEmpty) args.toSeq
      else Seq(sys.env.getOrElse("SPARK_GRAFT_PROBE", "x_pipeline_modern"))

    val caught = new java.util.concurrent.CopyOnWriteArrayList[(String, QueryExecution, Long)]()
    // AtomicBoolean, not a plain var: written on the main thread, read on
    // the async listener-bus thread — a plain field has no visibility
    // guarantee and could drop or over-include executions at the window
    // edges (r17 advice).
    val capture = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (capture.get()) caught.add((fn, qe, ns))
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    keys.foreach { key => probe(spark, sfDir, key, caught, capture.set) }
    spark.stop()
  }

  private def probe(spark: SparkSession, sfDir: String, key: String,
                    caught: java.util.concurrent.CopyOnWriteArrayList[(String, QueryExecution, Long)],
                    setCapture: Boolean => Unit): Unit = {
    caught.clear()
    val fn = SparkEntry.queries(key)
    def run(): Double = {
      // the Bench fence: no relation cached by an earlier run is reused.
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    run(); run() // untimed warmups
    setCapture(true)
    val wall = run()
    Thread.sleep(2000) // listener bus is async
    setCapture(false)

    println(f"[metrics] $key wall=$wall%.3f s, executions=${caught.size()}")
    def walk(p: SparkPlan, depth: Int, sb: StringBuilder): Unit = {
      val ms = p.metrics.toSeq
        .filter { case (_, m) => m.value > 0 }
        .sortBy(_._1)
        .map { case (k2, m) => s"$k2=${m.value}" }.mkString(", ")
      sb.append("  " * depth + p.nodeName +
        (if (ms.nonEmpty) s"  [$ms]" else "") + "\n")
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1, sb)
        case q: QueryStageExec => walk(q.plan, depth + 1, sb)
        case _ => p.children.foreach(walk(_, depth + 1, sb))
      }
    }
    import scala.jdk.CollectionConverters._
    caught.asScala.zipWithIndex.foreach { case ((f, qe, ns), i) =>
      println(f"--- [$key] execution $i ($f, ${ns / 1e9}%.3f s) ---")
      val sb = new StringBuilder
      walk(qe.executedPlan, 0, sb)
      println(sb.toString)
    }
  }
}
