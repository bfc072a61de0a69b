package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.{Stream, StreamContextOption}

/** One Kafka-source-shaped record, as MemoryStream input. */
case class KMsg(topic: String, partition: Int, offset: Long,
                timestamp: Timestamp, key: Array[Byte], value: Array[Byte])

/** Streaming-semantics specs replaying the reference's jest fixtures
  * (`/root/reference/src/stream.spec.ts`) through MemoryStream — the
  * direct analogue of its mocked `StreamContext.receive`. */
class StreamFacadeSpec extends SparkSpec {

  private def msg(json: String, tsMillis: Long, offset: Long,
                  topic: String = "t"): KMsg =
    KMsg(topic, 0, offset, new Timestamp(tsMillis), null,
      if (json == null) null else json.getBytes("UTF-8"))

  private def kafkaShaped(ms: MemoryStream[KMsg], schema: StructType): Stream =
    Stream.fromKafkaShaped(spark, ms.toDF(), schema)

  test("golden tumbling-window case: ts [0,7,1,3,2] @ 2s windows -> sums 3 then 7") {
    // reference src/stream.spec.ts:116-133 — values 1,5,2,4,3 at event
    // times 0,7,1,3,2 (seconds), interval 2, grace 10: out-of-order rows
    // within grace are captured; emitted closed windows are [0,2)=3 and
    // [2,4)=7; ts=7's window stays open (nothing more arrives before
    // grace, and append mode only emits watermark-finalized windows).
    import spark.implicits._
    val ms = MemoryStream[KMsg]
    val schema = StructType(Seq(StructField("a", DoubleType)))
    val s = kafkaShaped(ms, schema)
      .window("2 seconds", "10 seconds", Seq(sum(col("value.a")).as("total")))
    val q = s.toMemory("golden_window")
    ms.addData(
      msg("""{"a":1}""", 0L, 0), msg("""{"a":5}""", 7000L, 1),
      msg("""{"a":2}""", 1000L, 2), msg("""{"a":4}""", 3000L, 3),
      msg("""{"a":3}""", 2000L, 4))
    q.processAllAvailable()
    // advance the watermark past 4s but not 8s: 15s - 10s grace = 5s.
    ms.addData(msg("""{"a":9}""", 15000L, 5))
    q.processAllAvailable()
    val rows = spark.table("golden_window")
      .select(col("metadata.window_start").cast("long").as("ws"),
        col("value.total"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((0L, 3.0), (2L, 7.0)))
    q.stop()
  }

  test("map / filter / explode compose and copy metadata (reference composition)") {
    // map→explode parity: array value explodes to N records, each keeping
    // the parent's metadata (src/stream.ts:81-82); filter drops rows.
    import spark.implicits._
    val ms = MemoryStream[KMsg]
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("arr", ArrayType(IntegerType))))
    val s = kafkaShaped(ms, schema)
      .filter(col("value.k") > 1)
      .map(col("value.arr"))
      .explode()
    val q = s.toMemory("compose", outputMode = "append")
    ms.addData(
      msg("""{"k":1,"arr":[10,11]}""", 1000L, 0),
      msg("""{"k":2,"arr":[20,21]}""", 2000L, 1),
      // empty array → no rows at all (reference flatMap semantics).
      msg("""{"k":3,"arr":[]}""", 3000L, 2))
    q.processAllAvailable()
    val rows = spark.table("compose")
      .select(col("value"), col("metadata.offset"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // only k=2 survives; both exploded rows carry the parent offset 1;
    // k=3's empty array contributes nothing.
    assert(rows.toSeq == Seq((20, 1L), (21, 1L)))
    q.stop()
  }

  test("union interleaves two sources; neither blocks the other (UNION ALL)") {
    // reference src/stream.spec.ts:153-175 — two topics merge; a slow or
    // dead side must not block the live one (Spark plans sources
    // independently per micro-batch, so this holds by construction; the
    // dead-branch case is one side simply having no data).
    import spark.implicits._
    val m1 = MemoryStream[KMsg]
    val m2 = MemoryStream[KMsg]
    val schema = StructType(Seq(StructField("v", IntegerType)))
    val s = kafkaShaped(m1, schema).map(col("value.v"))
      .union(kafkaShaped(m2, schema).map(col("value.v") * 10))
    val q = s.toMemory("union_t")
    m1.addData(msg("""{"v":1}""", 1000L, 0, "s1"), msg("""{"v":2}""", 2000L, 1, "s1"))
    m2.addData(msg("""{"v":3}""", 1500L, 0, "s2"))
    q.processAllAvailable()
    val got = spark.table("union_t").select(col("value"))
      .collect().map(_.getInt(0)).sorted
    // m2 side mapped ×10.
    assert(got.toSeq == Seq(1, 2, 30))
    q.stop()
  }

  test("reference composition: map -> window(collect) -> explode -> map") {
    // reference src/stream.spec.ts:177-197 — per-window collected values
    // explode back to records and a second map appends a suffix; windows
    // [0,2)/[2,4)/[4,6) over ts 0..4 yield aa,za | ba,za | ca.
    import spark.implicits._
    val ms = MemoryStream[KMsg]
    val schema = StructType(Seq(StructField("k", StringType)))
    val s = kafkaShaped(ms, schema)
      .map(col("value.k"))
      .window("2 seconds", "0 seconds",
        Seq(sort_array(collect_list(col("value"))).as("vals")))
      .map(col("value.vals"))
      .explode()
      .map(concat(col("value"), lit("a")))
    val q = s.toMemory("compose_ref")
    ms.addData(
      msg("""{"k":"a"}""", 0L, 0), msg("""{"k":"z"}""", 1000L, 1),
      msg("""{"k":"b"}""", 2000L, 2), msg("""{"k":"z"}""", 3000L, 3),
      msg("""{"k":"c"}""", 4000L, 4))
    q.processAllAvailable()
    ms.addData(msg("""{"k":"x"}""", 100000L, 5))
    q.processAllAvailable()
    val got = spark.table("compose_ref").select(col("value"))
      .collect().map(_.getString(0)).sorted
    assert(got.toSeq == Seq("aa", "ba", "ca", "za", "za"))
    q.stop()
  }

  test("windowCollect: arbitrary whole-window closure reproduces the golden sums") {
    // parity path for the reference's window({collect}) lambda — same
    // golden case as above, but reduced by a user Scala closure.
    import spark.implicits._
    val ms = MemoryStream[KMsg]
    val schema = StructType(Seq(StructField("a", DoubleType)))
    val s = kafkaShaped(ms, schema)
      .map(col("value.a"))
      .windowCollect[Double, Double]("2 seconds", "10 seconds")(xs => xs.sum)
    val q = s.toMemory("golden_collect")
    ms.addData(
      msg("""{"a":1}""", 0L, 0), msg("""{"a":5}""", 7000L, 1),
      msg("""{"a":2}""", 1000L, 2), msg("""{"a":4}""", 3000L, 3),
      msg("""{"a":3}""", 2000L, 4))
    q.processAllAvailable()
    ms.addData(msg("""{"a":9}""", 15000L, 5))
    q.processAllAvailable()
    val rows = spark.table("golden_collect")
      .select(col("metadata.window_start").cast("long").as("ws"), col("value"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((0L, 3.0), (2L, 7.0)))
    q.stop()
  }

  test("mapWith / filterWith closures (reference lambda parity)") {
    import spark.implicits._
    val ms = MemoryStream[KMsg]
    val schema = StructType(Seq(StructField("a", DoubleType)))
    val s = kafkaShaped(ms, schema)
      .map(col("value.a"))
      .filterWith[Double](_ > 1.5)
      .mapWith[Double, String](v => s"v=$v")
    val q = s.toMemory("closures_t")
    ms.addData(msg("""{"a":1}""", 1000L, 0), msg("""{"a":2}""", 2000L, 1))
    q.processAllAvailable()
    val got = spark.table("closures_t").select(col("value"))
      .collect().map(_.getString(0))
    assert(got.toSeq == Seq("v=2.0"))
    q.stop()
  }

  test("statistics expose rows dropped by the watermark (late-data parity)") {
    // reference warns + drops whole-late batches (src/stream.ts:157-177);
    // here the drop is an observable counter.
    import spark.implicits._
    val ms = MemoryStream[KMsg]
    val schema = StructType(Seq(StructField("a", DoubleType)))
    val s = kafkaShaped(ms, schema)
      .window("2 seconds", "0 seconds", Seq(count(lit(1)).as("n")))
    val q = s.toMemory("late_t")
    ms.addData(msg("""{"a":1}""", 60000L, 0))
    q.processAllAvailable()
    // far behind the watermark (60s, grace 0) → dropped by state store.
    ms.addData(msg("""{"a":2}""", 1000L, 1))
    q.processAllAvailable()
    val deadline = System.currentTimeMillis() + 10000
    var st = s.flushStatistics()
    while (st.droppedByWatermark < 1 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      st = st.merge(s.flushStatistics())
    }
    assert(st.droppedByWatermark == 1, st)
    q.stop()
  }

  test("tombstones (null Kafka value) are skipped at the source") {
    // reference src/context.ts:142-146.
    import spark.implicits._
    val ms = MemoryStream[KMsg]
    val schema = StructType(Seq(StructField("v", IntegerType)))
    val s = kafkaShaped(ms, schema)
    val q = s.toMemory("tomb")
    ms.addData(msg("""{"v":1}""", 1000L, 0), msg(null, 2000L, 1), msg("""{"v":3}""", 3000L, 2))
    q.processAllAvailable()
    assert(spark.table("tomb").count() == 2)
    q.stop()
  }

  test("flushStatistics merges progress counters and resets") {
    // reference src/stream.spec.ts:199-209 (recv/send totals).
    import spark.implicits._
    val ms = MemoryStream[KMsg]
    val schema = StructType(Seq(StructField("v", IntegerType)))
    val s = kafkaShaped(ms, schema)
    val q = s.toMemory("stats_t")
    ms.addData(msg("""{"v":1}""", 1000L, 0), msg("""{"v":2}""", 2000L, 1))
    q.processAllAvailable()
    // listener events are async; wait for the progress to land.
    val deadline = System.currentTimeMillis() + 10000
    var st = s.flushStatistics()
    while (st.recvTotal < 2 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      st = st.merge(s.flushStatistics())
    }
    assert(st.recvTotal == 2, st)
    // after flush, counters reset.
    Thread.sleep(200)
    assert(s.flushStatistics().recvTotal == 0)
    q.stop()
  }

  test("a stream family holds one listener from its first start until stop()") {
    import spark.implicits._
    val before = spark.streams.listListeners().length
    val a = MemoryStream[KMsg]
    val b = MemoryStream[KMsg]
    val schema = StructType(Seq(StructField("v", IntegerType)))
    val s = kafkaShaped(a, schema).union(kafkaShaped(b, schema))
    assert(spark.streams.listListeners().length == before)
    val q = s.toMemory("listener_t")
    assert(spark.streams.listListeners().length == before + 1)
    a.addData(msg("""{"v":1}""", 1000L, 0), msg("""{"v":2}""", 2000L, 1))
    b.addData(msg("""{"v":3}""", 3000L, 0))
    q.processAllAvailable()
    s.stop()
    assert(!q.isActive)
    assert(spark.streams.listListeners().length == before)
    // stop() leaves the bus only after the last progress was counted.
    assert(s.flushStatistics().recvTotal == 3)
  }

  test("createStream maps every context option to its Kafka source option") {
    // The exact map createStream applies (reference src/context.ts:96-129),
    // spec-checked directly — the spark-sql-kafka connector is not in this
    // container (offline resolution), so r.load() itself can't run; the
    // mapping below is everything createStream does besides that lookup.
    val opt = StreamContextOption(
      Seq("b1:9092", "b2:9092"), "in", "g", fromBeginning = true,
      clientId = Some("c1"), commitInterval = 5000L,
      startAtTimestamp = Some(1700000000000L), maxPerPull = Some(1000L))
    val m = Stream.kafkaSourceOptions(opt)
    assert(m("kafka.bootstrap.servers") == "b1:9092,b2:9092")
    assert(m("subscribe") == "in")
    assert(m("kafka.group.id") == "g")
    assert(m("startingOffsets") == "earliest")
    assert(m("kafka.client.id") == "c1")
    assert(m("startingTimestamp") == "1700000000000")
    assert(m("maxOffsetsPerTrigger") == "1000")
    val defaults = Stream.kafkaSourceOptions(StreamContextOption(Seq("b:9092"), "in", "g"))
    assert(defaults("startingOffsets") == "latest")
    assert(!defaults.contains("startingTimestamp"))
    assert(!defaults.contains("maxOffsetsPerTrigger"))
    val sink = Stream.kafkaSinkOptions("out", Seq("b:9092"), "/tmp/ckpt")
    assert(sink("topic") == "out")
    assert(sink("kafka.compression.type") == "gzip")
    assert(sink("checkpointLocation") == "/tmp/ckpt")
    // ...and only the connector lookup fails when the plan is built.
    val e = intercept[Exception] {
      Stream.createStream(spark, opt,
        StructType(Seq(StructField("v", IntegerType)))).df.schema
    }
    val msg = e.toString + Option(e.getMessage).getOrElse("")
    assert(msg.toLowerCase.contains("kafka"), msg)
  }

  test("commitInterval drives the sink trigger cadence") {
    // reference commit timer (src/context.ts:73,111-113) → ProcessingTime.
    import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val opt = StreamContextOption(Seq("b:9092"), "in", "g", commitInterval = 5000L)
    assert(Stream.triggerFor(opt) == Trigger.ProcessingTime(5000L))
    // run the cadence through a real started query (memory sink stands in
    // for the Kafka sink — same DataStreamWriter path through start()).
    val ms = MemoryStream[KMsg]
    val schema = StructType(Seq(StructField("v", IntegerType)))
    val s = Stream.fromKafkaShaped(spark, ms.toDF(), schema, Stream.triggerFor(opt))
    val q = s.toMemory("cadence_t")
    try {
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .asInstanceOf[StreamExecution]
      assert(exec.trigger == Trigger.ProcessingTime(5000L), exec.trigger)
    } finally q.stop()
    // streams built without a context option keep the run-continuously default.
    val s0 = kafkaShaped(MemoryStream[KMsg], schema)
    assert(s0.defaultTrigger == Trigger.ProcessingTime(0L))
  }

  test("kafka sink plan builds fully against a live rate source; only start()'s connector lookup is blocked") {
    // The COMPLETE writeTo sink plan — JSON serialization projection, full
    // option map, commitInterval-derived trigger — constructs on a live
    // (dependency-free) rate source without the kafka connector. start()'s
    // data-source lookup is the ONLY step that needs spark-sql-kafka on the
    // classpath (offline container — deploy note in README), pinned here by
    // asserting start() fails on exactly that lookup.
    import org.apache.spark.sql.streaming.Trigger
    val opt = StreamContextOption(Seq("b:9092"), "in", "g", commitInterval = 100L)
    val s = Stream.fromRate(spark, rowsPerSecond = 100, Stream.triggerFor(opt))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-kafka-sink").toString
    val w = s.kafkaSinkWriter("out", Seq("b:9092"), ckpt, Trigger.ProcessingTime(100L))
    val connectorAbsent = scala.util.Try(
      Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider")).isFailure
    if (connectorAbsent) {
      // no connector on the classpath: start() must fail at the data-source
      // lookup, and no query may leak if it unexpectedly succeeds.
      var leaked: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        val e = intercept[Exception] { leaked = w.start() }
        val msg = e.toString + Option(e.getMessage).getOrElse("")
        assert(msg.toLowerCase.contains("kafka"), msg)
      } finally if (leaked != null) leaked.stop()
    } else {
      // connector present (cluster classpath): the same plan must RESOLVE —
      // start() returning is the assertion. Don't assert isActive: against
      // this fixture's nonexistent broker the first micro-batch fails fast,
      // so the query may legitimately have terminated already; only a
      // data-source-lookup failure (what this test pins) throws from
      // start() itself.
      val q = w.start()
      q.stop()
    }
    // The identical stream runs live end-to-end through the same start()
    // path on a dependency-free sink — everything upstream of the
    // connector lookup is executable, not just constructible.
    val q = s.blackhole()
    try q.processAllAvailable() finally q.stop()
  }

  test("seekTo: history before `from` is never read (timestamp seek twin)") {
    // reference window.from seek (src/stream.ts:146-149,
    // src/context.ts:195-207) → startingTimestamp on a Kafka source; for
    // sources that can't seek, seekTo IS the seek. Records strictly before
    // `from` must never surface, ties at `from` must.
    import spark.implicits._
    val ms = MemoryStream[KMsg]
    val schema = StructType(Seq(StructField("v", IntegerType)))
    val s = kafkaShaped(ms, schema).seekTo(5000L)
    val q = s.toMemory("seek_t")
    ms.addData(
      msg("""{"v":1}""", 1000L, 0), // history — must not surface
      msg("""{"v":2}""", 4999L, 1), // history — must not surface
      msg("""{"v":3}""", 5000L, 2), // exactly `from` — included
      msg("""{"v":4}""", 9000L, 3))
    q.processAllAvailable()
    val got = spark.table("seek_t").select(col("value.v")).as[Int].collect().sorted
    assert(got.toSeq == Seq(3, 4))
    q.stop()
  }
}
