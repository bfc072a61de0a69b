package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The measurement harness's `plan` and `probe` modes and the gate bench's
  * listener hygiene, on single keys at sf0.001. */
class BenchHarnessSpec extends SparkSpec {

  test("plan writes the key's formatted physical plan to <dir>/<key>_<tag>.txt") {
    val dir = Files.createTempDirectory("graft-plan").toString
    val path = Bench.plan(spark, sf("sf0.001"), dir, "t", "q1_agg")
    assert(path == s"$dir/q1_agg_t.txt")
    val text = Files.readString(Paths.get(path))
    assert(text.startsWith("== Physical Plan =="))
    // formatted mode: the operator tree, then one numbered block per operator
    assert(text.linesIterator.exists(_.matches("""\(\d+\) Scan parquet.*""")), text)
    assert(text.linesIterator.exists(_.matches("""\(\d+\) HashAggregate.*""")), text)
  }

  test("probe captures exactly its last timed run's executions, the same count each time") {
    // every execution a probe posts, in delivery order
    val all = new ConcurrentLinkedQueue[Long]()
    val open = new AtomicBoolean(false)
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (open.get()) all.add(qe.id)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val counts = (1 to 3).map { _ =>
        all.clear()
        val p = Bench.busWindow(spark, open)(Bench.probe(spark, sf("sf0.001"), "q1_agg"))
        val posted = all.asScala.toSeq
        val n = p.executions.size
        assert(p.runs.size == 5)
        assert(n > 0)
        // 2 warm-ups + 5 timed runs post the same executions each, and
        // the probe holds the last run's only: no warm-up write leaks in.
        assert(posted.size == 7 * n, posted)
        assert(p.executions.map(_._2.id) == posted.takeRight(n))
        n
      }
      assert(counts.distinct.size == 1, counts)
    } finally spark.listenerManager.unregister(listener)
  }

  test("gateBench stops its streams: no listener is left on the bus") {
    val before = spark.streams.listListeners().length
    val (runs, build) = Bench.gateBench(spark, sf("sf0.001"), reps = 1)
    assert(runs.size == 1 && runs.forall(_ > 0) && build > 0)
    assert(spark.streams.listListeners().length == before)
  }
}
