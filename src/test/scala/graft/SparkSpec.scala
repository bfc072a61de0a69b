package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  def sf(name: String): String = s"/root/testdata/$name"

  /** Spark jobs started while `body` runs: a listener counts job starts
    * between two sentinel jobs (the listener bus delivers in order, so
    * every job `body` started, on any thread, lands between them). */
  def jobsDuring[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val tag = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val open = new java.util.concurrent.atomic.AtomicBoolean(false)
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.job.description")) match {
          case Some(d) if d == s"$tag-open" => open.set(true)
          case Some(d) if d == s"$tag-close" => open.set(false); closed.countDown()
          case _ => if (open.get()) jobs.incrementAndGet()
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
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  // One session for the whole forked test JVM — Spark startup is ~5 s.
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      // events.ts is parquet TIMESTAMP(NANOS) — see Tables.events (loader
      // is pure; entry points own this conf).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // point-set probes on range-sorted state (Graph.stageSorted) need
      // the In filter pushed as points, not a min/max range — scattered
      // ball ids make the range fallback prune nothing.
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "256")
      // sort-based shuffle writer everywhere — see Bench for the rationale.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
