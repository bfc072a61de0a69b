package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder for traced runs. Spans wrap the benchmark's
  * calls into graft's public functions; [[Tracer.Listener]] attributes
  * Spark's job, stage and task counters to the innermost span open when
  * each job started. Spans are opened by one thread at a time (the
  * closed-loop client, or the streaming query's batch thread while the
  * client waits), so one stack suffices. */
final class Tracer(val runId: String) {
  import Tracer.{Batch, Span}

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val counters = new ConcurrentHashMap[Int, ConcurrentHashMap[String, Double]]()
  private val t0 = System.nanoTime()

  def span[A](name: String)(f: => A): A = {
    val s = synchronized {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime(), -1L)
      spans += s
      stack = s :: stack
      s
    }
    try f
    finally synchronized {
      s.end = System.nanoTime()
      stack = stack.filterNot(_ eq s)
    }
  }

  def current: Int = synchronized(stack.headOption.map(_.id).getOrElse(-1))

  def add(spanId: Int, key: String, v: Double): Unit =
    counters.computeIfAbsent(spanId, _ => new ConcurrentHashMap[String, Double]())
      .merge(key, v, (a: Double, b: Double) => a + b)

  private def closed: Seq[Span] = synchronized(spans.filter(_.end >= 0).toSeq)

  private def dur(s: Span): Double = (s.end - s.start) / 1e9

  /** Duration minus the part of it covered by child spans. */
  private def selfTime(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    ((s.end - s.start) - covered) / 1e9
  }

  private def descendants(id: Int, all: Seq[Span]): Set[Int] = {
    val kids = all.filter(_.parent == id).map(_.id)
    kids.toSet ++ kids.flatMap(descendants(_, all))
  }

  /** Durations of every closed span with this name. */
  def durations(name: String): Seq[Double] = closed.filter(_.name == name).map(dur)

  /** A counter summed over every span named `name` and its descendants
    * (all spans when `name` is empty). */
  def counter(name: String, key: String): Double = {
    val all = closed
    val roots = if (name.isEmpty) all else all.filter(_.name == name)
    val ids = roots.flatMap(s => descendants(s.id, all) + s.id).toSet ++
      (if (name.isEmpty) Set(-1) else Set.empty[Int])
    ids.toSeq.map(i => Option(counters.get(i)).flatMap(m => Option(m.get(key)))
      .map(_.doubleValue).getOrElse(0.0)).sum
  }

  /** Every span as one JSON line: name, start/end (s since the tracer
    * began), parent, run id, self time and the counters attributed to it. */
  def write(path: String): Unit = {
    val all = closed
    val w = new java.io.PrintWriter(path)
    try all.foreach { s =>
      val cs = Option(counters.get(s.id)).map(_.asScala.toMap).getOrElse(Map.empty)
      w.println(Json(Map(
        "run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9,
        "self_s" -> selfTime(s, all), "counters" -> cs)))
    } finally w.close()
  }

  /** Spark job/stage/task counters, attributed to the span open when the
    * job started. Also keeps each stage's task run times for skew. */
  final class Listener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Int]()
    val stageTasks = new ConcurrentHashMap[Int, java.util.List[java.lang.Double]]()
    val shuffleStages: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = current
      e.stageIds.foreach(stageSpan.put(_, sp))
      add(sp, "jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(stageSpan.getOrDefault(e.stageInfo.stageId, -1), "stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val sp = stageSpan.getOrDefault(e.stageId, -1)
      add(sp, "tasks", 1)
      add(sp, "run_s", m.executorRunTime / 1e3)
      add(sp, "cpu_s", m.executorCpuTime / 1e9)
      add(sp, "gc_s", m.jvmGCTime / 1e3)
      add(sp, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(sp, "scan_rows", m.inputMetrics.recordsRead.toDouble)
      add(sp, "scan_bytes", m.inputMetrics.bytesRead.toDouble)
      add(sp, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(sp, "shuffle_write_s", m.shuffleWriteMetrics.writeTime / 1e9)
      add(sp, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(sp, "fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      if (m.shuffleReadMetrics.totalBytesRead > 0 || m.shuffleWriteMetrics.bytesWritten > 0)
        shuffleStages.add(e.stageId)
      stageTasks.computeIfAbsent(e.stageId,
        _ => java.util.Collections.synchronizedList(new java.util.ArrayList[java.lang.Double]()))
        .add(m.executorRunTime.toDouble)
    }

    /** Max over shuffle stages with ≥ 2 tasks of max ÷ median task time. */
    def skewMax: Double = shuffleStages.asScala.toSeq.flatMap { st =>
      val ts = Option(stageTasks.get(st)).map(_.asScala.map(_.doubleValue).toSeq)
        .getOrElse(Nil)
      val med = if (ts.size >= 2) Stats.median(ts) else 0.0
      if (med > 0) Some(ts.max / med) else None
    }.maxOption.getOrElse(1.0)
  }

  /** Micro-batch progress of streaming queries, for traced stream runs.
    * `backlog` gives the records offered but not yet read when a batch's
    * progress arrived. */
  final class StreamListener(backlog: org.apache.spark.sql.streaming.StreamingQueryProgress => Long)
      extends StreamingQueryListener {
    val batches = mutable.ArrayBuffer.empty[Batch]

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val p = e.progress
        def ms(k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
        batches += Batch(p.batchId, ms("triggerExecution"), ms("queryPlanning"),
          ms("addBatch"), ms("walCommit") + ms("commitOffsets"), p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum,
          p.stateOperators.map(_.numRowsDroppedByWatermark).sum,
          backlog(p))
      }
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long)

  /** One micro-batch's progress, as a traced stream run records it. */
  final case class Batch(id: Long, trigger: Double, planning: Double,
                         addBatch: Double, commit: Double, rows: Long,
                         stateRows: Long, stateBytes: Long, dropped: Long,
                         backlog: Long)
}
