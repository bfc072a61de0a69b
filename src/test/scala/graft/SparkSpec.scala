package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  def sf(name: String): String = s"/root/testdata/$name"

  /** Spark jobs started while `body` runs, on any thread: the ones the
    * listener bus delivers inside [[Bench.busWindow]]. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val out = Bench.busWindow(spark, onJob = _ => jobs.incrementAndGet())(body)
    (out, jobs.get())
  }
}

object SparkSpec {
  // One session for the whole forked test JVM — Spark startup is ~5 s.
  lazy val session: SparkSession = Session.local(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
}
