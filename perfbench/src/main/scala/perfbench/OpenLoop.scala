package perfbench

/** Kafka-source-shaped record fed to a `MemoryStream`. */
final case class Msg(topic: String, partition: Int, offset: Long,
                     timestamp: java.sql.Timestamp,
                     key: Array[Byte], value: Array[Byte])

/** Open-loop generator: one thread wakes every `tickNs` after `start` and
  * releases every record whose due time (`dues(i)` ns after `start`) has
  * come, whether or not the system has kept up. `emit(from, until)` adds
  * one contiguous slice in one call. Releasing per tick rather than per
  * record keeps each `addData` call (one input partition of the next
  * micro-batch) at a realistic size. */
final class OpenLoop(dues: Array[Long], tickNs: Long, emit: (Int, Int) => Unit) {
  @volatile private var released = 0
  @volatile private var emits = 0
  private var lateMax = 0L
  var start = 0L

  private val thread = new Thread(() => {
    var tick = 1L
    while (released < dues.length) {
      val wait = start + tick * tickNs - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val now = System.nanoTime() - start
      if (released < dues.length && dues(released) <= now)
        lateMax = math.max(lateMax, now - tick * tickNs)
      // A late tick releases its backlog in slices of at most one tick of
      // due times, so a micro-batch that reads one topic's offset just
      // before the other's never splits more than one slice between them.
      while (released < dues.length && dues(released) <= now) {
        var end = released
        while (end < dues.length && dues(end) <= now && dues(end) < dues(released) + tickNs)
          end += 1
        emit(released, end)
        released = end
        emits += 1
      }
      tick = math.max(tick + 1, now / tickNs + 1)
    }
  }, "perfbench-generator")
  thread.setDaemon(true)

  def run(at: Long): Unit = { start = at; thread.start() }
  /** Number of `emit` calls so far (one `addData` per topic each). */
  def calls: Long = emits.toLong
  def await(): Unit = thread.join()
  /** How late, at most, a tick released its records. */
  def lateS: Double = lateMax / 1e9
}

object OpenLoop {
  /** Runs `gen` to completion and waits until `q` has processed all of it.
    * In traced runs the listeners are registered for the middle half of
    * the measured window only (untraced, traced, traced, untraced
    * quarters), so the untraced quarters on either side are the reference
    * for the tracing overhead even while the JVM is still warming. Returns
    * that traced interval, in ns after `start`. */
  def drive(spark: org.apache.spark.sql.SparkSession, gen: OpenLoop, start: Long,
            warmS: Double, seconds: Double, q: org.apache.spark.sql.streaming.StreamingQuery,
            traced: Option[(Tracer, Tracer#StreamListener, Tracer#Listener)],
            around: (() => Unit, () => Unit) = (() => (), () => ())): (Long, Long) = {
    def sleepUntil(t: Long): Unit = {
      val ms = (t - System.nanoTime()) / 1000000L
      if (ms > 0) Thread.sleep(ms)
    }
    val from = ((warmS + seconds / 4) * 1e9).toLong
    val until = ((warmS + 3 * seconds / 4) * 1e9).toLong
    gen.run(start)
    traced.foreach { case (tr, sl, jl) =>
      sleepUntil(start + from)
      around._1()
      spark.streams.addListener(sl)
      spark.sparkContext.addSparkListener(jl)
      tr.span("stream")(sleepUntil(start + until))
      spark.streams.removeListener(sl)
      spark.sparkContext.removeSparkListener(jl)
      around._2()
    }
    gen.await()
    q.processAllAvailable()
    (from, until)
  }

  /** The façade's counters (`Stream.flushStatistics`) arrive through the
    * listener bus after the batches they count; poll until `recv` input
    * rows are accounted for, for at most five seconds. */
  def settledStatistics(s: graft.streaming.Stream, recv: Long): graft.streaming.Statistics = {
    var st = s.flushStatistics()
    var polls = 0
    while (st.recvTotal < recv && polls < 50) {
      Thread.sleep(100)
      st = st.merge(s.flushStatistics())
      polls += 1
    }
    st
  }

  /** The `MemoryStream` offset (addData calls) the progress's first source
    * has reached. */
  def endOffset(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    Option(p).flatMap(_.sources.headOption).flatMap(s => Option(s.endOffset))
      .filter(_ != "null").map(_.trim.toLong).getOrElse(-1L)
}
