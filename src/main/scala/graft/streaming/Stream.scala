package graft.streaming

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryManager, Trigger}
import org.apache.spark.sql.types.StructType

/** Kafka connection options — parity mirror of the reference's
  * `StreamContextOption` (`/root/reference/src/context.ts:54-62`), mapped to
  * Structured Streaming source options.
  *
  *  - `fromBeginning` → `startingOffsets` earliest/latest
  *  - `commitInterval` → micro-batch trigger cadence (offset progress is
  *    owned by the checkpoint, which subsumes the reference's manual
  *    commit timer, `src/context.ts:111-113`)
  *  - `startAtTimestamp` → `startingTimestamp` (the reference's
  *    timestamp seek, `src/context.ts:195-207`, done at source start —
  *    matching the reference, which also only seeks at stream start)
  */
final case class StreamContextOption(
    brokers: Seq[String],
    inputTopic: String,
    groupId: String,
    fromBeginning: Boolean = false,
    clientId: Option[String] = None,
    commitInterval: Long = 60000L,
    startAtTimestamp: Option[Long] = None,
    /** Backpressure bound per micro-batch — the Spark home of the
      * reference's bounded channel capacity (1000 messages,
      * `src/context.ts:75`): `maxOffsetsPerTrigger`. */
    maxPerPull: Option[Long] = None)

/** Merged per-query counters — parity mirror of the reference `Statistics`
  * (`src/context.ts:39-52`), fed by `StreamingQueryListener` progress. */
final case class Statistics(
    recvTotal: Long, sendTotal: Long, lastSentMessageTimestamp: Long,
    droppedByWatermark: Long = 0L) {
  def merge(o: Statistics): Statistics = Statistics(
    recvTotal + o.recvTotal, sendTotal + o.sendTotal,
    math.max(lastSentMessageTimestamp, o.lastSentMessageTimestamp),
    droppedByWatermark + o.droppedByWatermark)
}

/** Fluent streaming façade with the reference's operator surface
  * (`createStream / map / filter / explode / window / union / writeTo /
  * blackhole / start / stop / flushStatistics` — `src/stream.ts:38-270`),
  * assembling ONLY declarative DataFrame operations so Catalyst owns the
  * plan.
  *
  * Data shape: every stream is a DataFrame with
  *   - `value`    — the record payload (any type; struct for JSON objects)
  *   - `metadata` — struct(topic, partition, offset, timestamp, key),
  *     the reference's `MessageMetadata` (`src/context.ts:15-26`); Kafka
  *     meta columns come free from the source, and offset tracking is
  *     subsumed by checkpointing (no `commit()` needed —
  *     `src/stream.ts:248-255` has no user-facing equivalent).
  *
  * Operators accept Column expressions (optimizer-visible — preferred)
  * and, where the reference's API is a closure, document the typed
  * alternative. Execution model notes:
  *   - the reference's non-empty-batch loop (`filter`,
  *     `src/stream.ts:63-73`) and union promise-racing
  *     (`src/stream.ts:203-227`) are pull-engine artifacts with no Spark
  *     analogue needed — micro-batch planning covers both;
  *   - late data: the reference drops records older than the current
  *     window with a re-seek (`src/stream.ts:157-177`); here the watermark
  *     provides the same observable drop with a monotone global bound.
  */
final class Stream private (
    val df: DataFrame,
    private val spark: SparkSession,
    private val queries: ListBuffer[StreamingQuery],
    private val listener: Stream.StatsListener,
    /** Sink cadence inherited from the source context: `createStream` maps
      * the reference's 60 s commit timer (`src/context.ts:73,111-113`) to a
      * `ProcessingTime` micro-batch trigger here; streams built without a
      * context option run as fast as data arrives (ProcessingTime(0)). */
    val defaultTrigger: Trigger = Trigger.ProcessingTime(0L)) {

  private def derive(d: DataFrame): Stream =
    new Stream(d, spark, queries, listener, defaultTrigger)

  /** Per-record transform (reference `map`, `src/stream.ts:38-56`): the
    * new `value` is any expression over `value` / `metadata`; metadata
    * passes through unchanged. */
  def map(valueExpr: Column): Stream =
    derive(df.select(valueExpr.as("value"), col("metadata")))

  /** Arbitrary-closure map — full parity with the reference's lambda
    * `map` (`src/stream.ts:38-56`). Opaque to Catalyst (no pushdown
    * through it); prefer the Column overload wherever expressible. */
  def mapWith[I: scala.reflect.runtime.universe.TypeTag, O: scala.reflect.runtime.universe.TypeTag](
      f: I => O): Stream = {
    val u = udf(f)
    derive(df.select(u(col("value")).as("value"), col("metadata")))
  }

  /** Predicate over value/metadata (reference `filter`,
    * `src/stream.ts:57-77`). */
  def filter(cond: Column): Stream = derive(df.filter(cond))

  /** Arbitrary-closure filter — parity with the reference's lambda
    * `filter`. Same optimizer-opacity caveat as [[mapWith]]. */
  def filterWith[I: scala.reflect.runtime.universe.TypeTag](f: I => Boolean): Stream = {
    val u = udf(f)
    derive(df.filter(u(col("value"))))
  }

  /** Engine-side timestamp seek — the in-plan twin of the reference's
    * broker seek (`window.from`, `src/stream.ts:146-149` /
    * `src/context.ts:195-207`, mapped to the Kafka source's
    * `startingTimestamp` by `createStream`): records whose event time
    * precedes `fromMillis` never surface. For sources that can seek
    * (Kafka) the source option makes this filter prune to a no-op; for
    * sources that can't (files, memory), this IS the seek. */
  def seekTo(fromMillis: Long): Stream =
    derive(df.filter(col("metadata.timestamp") >=
      org.apache.spark.sql.functions.timestamp_millis(lit(fromMillis))))

  /** Array-valued records flatten to N records copying the parent
    * metadata — exactly the reference's `[meta,[1,2]] → [meta,1],[meta,2]`
    * (`src/stream.ts:78-90`). An empty array yields NO rows (flatMap
    * semantics, matching the reference's per-element fan-out — hence
    * `explode`, not `explode_outer`). */
  def explode(): Stream =
    derive(df.select(org.apache.spark.sql.functions.explode(col("value")).as("value"),
      col("metadata")))

  /** Aligned tumbling event-time window + whole-window aggregates
    * (reference `window`, `src/stream.ts:130-200`).
    *
    * @param interval window width, e.g. "2 seconds"
    * @param grace    late-data tolerance → `withWatermark` (the
    *                 reference's `bufferInterval`, default 60 s)
    * @param aggs     aggregates over `value` — the reference's arbitrary
    *                 `collect` closure maps to `collect_list(value)` + a
    *                 UDF for byte-parity, but decomposable Column
    *                 aggregates are the scale path (map-side partial agg;
    *                 `collect_list` on an unbounded window is the known
    *                 100 TB trap — SURVEY.md §7)
    *
    * Output shape: `value` = struct of the aggregates, `metadata` =
    * struct(window_start, window_end) — the window replaces per-record
    * provenance just as `_concatMessages` merged it
    * (`src/stream.ts:91-129`). Un-keyed like the reference (one group per
    * window); pass key columns via `keyed` for the scale-correct form.
    */
  def window(interval: String, grace: String, aggs: Seq[Column],
             keyed: Seq[Column] = Nil): Stream = {
    val ts = df.withColumn("__ts", col("metadata.timestamp"))
      .withWatermark("__ts", grace)
    val grouped = ts.groupBy(
      org.apache.spark.sql.functions.window(col("__ts"), interval) +: keyed: _*)
    val agged = grouped.agg(aggs.head, aggs.tail: _*)
    derive(agged.select(
      struct(agged.columns.filter(_ != "window").map(col): _*).as("value"),
      struct(col("window.start").as("window_start"),
        col("window.end").as("window_end")).as("metadata")))
  }

  /** Whole-window arbitrary `collect` — byte-parity with the reference's
    * `window({collect})` closure (`src/stream.ts:133`): the window's
    * values are gathered and reduced by one user function.
    *
    * This is the documented 100 TB trap (`SURVEY.md §7`): `collect_list`
    * materializes the whole window in one task. It exists for API parity;
    * every decomposable reduce should use [[window]] with Column
    * aggregates (map-side partial aggregation) instead. */
  def windowCollect[I: scala.reflect.runtime.universe.TypeTag, O: scala.reflect.runtime.universe.TypeTag](
      interval: String, grace: String)(collect: Seq[I] => O): Stream = {
    val u = udf((xs: Seq[I]) => collect(xs))
    val ts = df.withColumn("__ts", col("metadata.timestamp"))
      .withWatermark("__ts", grace)
    val agged = ts
      .groupBy(org.apache.spark.sql.functions.window(col("__ts"), interval))
      .agg(collect_list(col("value")).as("__vals"))
    derive(agged.select(
      u(col("__vals")).as("value"),
      struct(col("window.start").as("window_start"),
        col("window.end").as("window_end")).as("metadata")))
  }

  /** Sliding event-time window (extension — the reference only has
    * tumbling, SURVEY §2.3). Same output shape as [[window]]. */
  def slidingWindow(interval: String, slide: String, grace: String,
                    aggs: Seq[Column], keyed: Seq[Column] = Nil): Stream = {
    val ts = df.withColumn("__ts", col("metadata.timestamp"))
      .withWatermark("__ts", grace)
    val grouped = ts.groupBy(
      org.apache.spark.sql.functions.window(col("__ts"), interval, slide) +: keyed: _*)
    val agged = grouped.agg(aggs.head, aggs.tail: _*)
    derive(agged.select(
      struct(agged.columns.filter(_ != "window").map(col): _*).as("value"),
      struct(col("window.start").as("window_start"),
        col("window.end").as("window_end")).as("metadata")))
  }

  /** Session window — groups rows separated by < `gap` of event time
    * (extension; state-backed, closed by the watermark). Streaming
    * session aggregation requires at least one key in `keyed` (Spark
    * does not support un-keyed streaming session windows) and append
    * output mode. */
  def sessionWindow(gap: String, grace: String, aggs: Seq[Column],
                    keyed: Seq[Column] = Nil): Stream = {
    val ts = df.withColumn("__ts", col("metadata.timestamp"))
      .withWatermark("__ts", grace)
    val grouped = ts.groupBy(
      session_window(col("__ts"), gap).as("window") +: keyed: _*)
    val agged = grouped.agg(aggs.head, aggs.tail: _*)
    derive(agged.select(
      struct(agged.columns.filter(_ != "window").map(col): _*).as("value"),
      struct(col("window.start").as("window_start"),
        col("window.end").as("window_end")).as("metadata")))
  }

  /** Streaming deduplication on value expressions, with state bounded by
    * the watermark (extension — batch `distinct`'s streaming twin).
    *
    * `includeEventTime = true` (default) also keys on the event timestamp:
    * only exact re-deliveries of the same record drop (the Kafka
    * at-least-once cleanup). `false` dedups on content alone — same keys
    * at DIFFERENT times collapse to the first arrival while their state
    * lives (the streaming form of content dedup, e.g. document digests in
    * a curation pipeline). */
  def dropDuplicates(keys: Seq[Column], grace: String,
                     includeEventTime: Boolean = true): Stream = {
    val ts = df.withColumn("__ts", col("metadata.timestamp"))
      .withWatermark("__ts", grace)
      .withColumns(keys.zipWithIndex.map { case (k, i) => s"__k$i" -> k }.toMap)
    val dedupKeys = keys.indices.map(i => s"__k$i") ++
      (if (includeEventTime) Seq("__ts") else Nil)
    val deduped = ts.dropDuplicatesWithinWatermark(dedupKeys)
    derive(deduped.select(col("value"), col("metadata")))
  }

  /** Arbitrary keyed state via mapGroupsWithState (extension): running
    * per-key record count, emitted as updates. The reference has no keyed
    * state at all (state = its in-memory window buffer, lost on crash);
    * here state lives in the checkpointed state store. */
  def runningCount(key: Column): Stream = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import df.sparkSession.implicits._
    val counted = df.select(key.cast("string").as("k"))
      .as[String]
      .groupByKey(identity)
      .mapGroupsWithState[Long, (String, Long)](
        GroupStateTimeout.NoTimeout()) {
        (k: String, rows: Iterator[String], state: GroupState[Long]) =>
          val next = state.getOption.getOrElse(0L) + rows.size
          state.update(next)
          (k, next)
      }
      .toDF("key", "count")
    derive(counted.select(
      struct(col("key"), col("count")).as("value"),
      struct(col("key").as("topic")).as("metadata")))
  }

  /** Stream-static enrichment join (extension): the static side is
    * broadcast, so no stream-side shuffle. The new `value` nests the old
    * one: struct(value, <dim columns>). */
  def joinStatic(dim: DataFrame, cond: Column, joinType: String = "inner"): Stream = {
    val joined = df.join(broadcast(dim), cond, joinType)
    val dimCols = dim.columns.toSeq
    derive(joined.select(
      struct(col("value") +: dimCols.map(col): _*).as("value"),
      col("metadata")))
  }

  /** Stream-stream equi-join within an event-time bound (extension):
    * both sides watermarked with `grace`; rows match when keys are equal
    * and the right event time lies within ±`within` of the left. State is
    * bounded by watermark + time bound. Output: value =
    * struct(left, right), metadata = the left side's.
    *
    * `joinType`: "inner" (default) or "left_outer" — outer rows (left
    * rows with no match) emit with a null `right` once the watermark
    * proves no match can still arrive; the time-bound condition is what
    * makes outer emission possible at all (unbounded state otherwise). */
  def joinStream(other: Stream, thisKey: Column, otherKey: Column,
                 grace: String, within: String,
                 joinType: String = "inner"): Stream = {
    val l = df
      .select(col("value").as("left"), col("metadata").as("lmeta"),
        thisKey.as("__lk"), col("metadata.timestamp").as("__lts"))
      .withWatermark("__lts", grace)
    val r = other.df
      .select(col("value").as("right"), otherKey.as("__rk"),
        col("metadata.timestamp").as("__rts"))
      .withWatermark("__rts", grace)
    val joined = l.join(r,
      col("__lk") === col("__rk") &&
        col("__rts") >= col("__lts") - expr(s"INTERVAL $within") &&
        col("__rts") <= col("__lts") + expr(s"INTERVAL $within"),
      joinType)
    derive(joined.select(
      struct(col("left"), col("right")).as("value"),
      col("lmeta").as("metadata")))
  }

  /** UNION ALL, no dedup (reference `union`, `src/stream.ts:201-230`).
    * Spark schedules each source independently per micro-batch, so the
    * reference's promise-racing machinery disappears; a stalled side
    * cannot block the other. */
  def union(other: Stream): Stream = derive(df.unionByName(other.df))

  /** Kafka sink (reference `writeTo`, `src/stream.ts:240-247`):
    * JSON-serialized values, gzip on the broker hop, offsets owned by the
    * checkpoint. Terminal here (one streaming query per sink) — the
    * reference's mid-chain sink is its pull-loop shape, not a semantic.
    * The trigger defaults to the stream's [[defaultTrigger]], i.e. the
    * context option's `commitInterval` when built via `createStream`. */
  def writeTo(topic: String, brokers: Seq[String], checkpoint: String,
              trigger: Trigger = null): StreamingQuery =
    start(kafkaSinkWriter(topic, brokers, checkpoint, trigger))

  /** Everything [[writeTo]] does before `start()`: the JSON serialization
    * projection, the full sink option map, and the trigger cadence, as a
    * fully-configured writer. Factored out so the COMPLETE sink plan is
    * constructible (and spec-checked, against a live `rate` source) without
    * the spark-sql-kafka connector on the classpath — `start()`'s
    * data-source lookup is the only step that needs it (deploy note in
    * README). */
  def kafkaSinkWriter(topic: String, brokers: Seq[String], checkpoint: String,
                      trigger: Trigger = null)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    var w = df.select(to_json(struct(col("value"))).as("value"))
      .writeStream.format("kafka")
    Stream.kafkaSinkOptions(topic, brokers, checkpoint)
      .foreach { case (k, v) => w = w.option(k, v) }
    w.trigger(Option(trigger).getOrElse(defaultTrigger))
  }

  /** Discard sink (reference `blackhole`, `src/stream.ts:231-239`). */
  def blackhole(): StreamingQuery =
    start(df.writeStream.format("noop").trigger(defaultTrigger))

  /** Micro-batch escape hatch (extension): each batch arrives as a plain
    * DataFrame with its batch id, so any BATCH operator — MERGE/upsert
    * into a table, the dedup/curation library, multi-sink writes — applies
    * to a stream unchanged. Exactly-once composition: the checkpoint
    * records the batch id; an idempotent or transactional `f` (keyed on
    * `batchId`) makes replays safe after recovery. This is the engine's
    * CDC-apply story: stream → forEachBatch → q_merge_upsert-shaped join
    * against the target table. */
  def forEachBatch(f: (DataFrame, Long) => Unit,
                   checkpoint: Option[String] = None): StreamingQuery = {
    var w = df.writeStream.foreachBatch(f).trigger(defaultTrigger)
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    start(w)
  }

  /** Memory sink for tests — the analogue of the reference's jest mock
    * harness (`src/stream.spec.ts`). `outputMode` "append" (finalized
    * windows only, watermark-gated) or "update"/"complete". */
  def toMemory(name: String, outputMode: String = "append"): StreamingQuery =
    start(df.writeStream.format("memory").queryName(name).outputMode(outputMode)
      .trigger(defaultTrigger))

  private def start(w: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): StreamingQuery = {
    listener.attach(spark.streams)
    val q = w.start()
    queries += q
    listener.watch(q.id) // only this stream's queries feed its counters
    q
  }

  /** Stop every query this stream started (reference `stop`,
    * `src/stream.ts:267-270`) and take the counters off the listener bus
    * once their last progress has landed; [[flushStatistics]] still
    * returns it. */
  def stop(): Unit = {
    queries.foreach(_.stop())
    queries.clear()
    listener.detach(Stream.DetachTimeoutMs)
  }

  /** Merge-and-reset counters (reference `flushStatistics`,
    * `src/stream.ts:256-260`). */
  def flushStatistics(): Statistics = listener.flush()
}

object Stream {

  /** The Kafka source option map `createStream` applies — factored out as
    * a pure function so the contract is spec-checkable without a broker or
    * even the connector on the classpath (the spark-sql-kafka connector is
    * not in this container and can't resolve offline; `r.load()` is the
    * only step that needs it). Reference contract: `src/context.ts:96-129`. */
  def kafkaSourceOptions(option: StreamContextOption): Map[String, String] = {
    val base = Map(
      "kafka.bootstrap.servers" -> option.brokers.mkString(","),
      "subscribe" -> option.inputTopic,
      "kafka.group.id" -> option.groupId,
      "startingOffsets" -> (if (option.fromBeginning) "earliest" else "latest"))
    base ++
      option.clientId.map("kafka.client.id" -> _) ++
      option.startAtTimestamp.map("startingTimestamp" -> _.toString) ++
      option.maxPerPull.map("maxOffsetsPerTrigger" -> _.toString)
  }

  /** The Kafka sink option map `writeTo` applies (reference
    * `src/stream.ts:240-247`: JSON + gzip + checkpointed offsets). */
  def kafkaSinkOptions(topic: String, brokers: Seq[String],
                       checkpoint: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> brokers.mkString(","),
    "topic" -> topic,
    "kafka.compression.type" -> "gzip",
    "checkpointLocation" -> checkpoint)

  /** Sink cadence for a context option — the reference's commit timer
    * (`src/context.ts:73,111-113`) becomes the micro-batch trigger. */
  def triggerFor(option: StreamContextOption): Trigger =
    Trigger.ProcessingTime(option.commitInterval)

  /** Kafka source → JSON-decoded stream (reference `createStream`,
    * `src/stream.ts:273-276`). Tombstones (null value) are skipped like
    * `src/context.ts:142-146`. NOTE: needs the spark-sql-kafka connector
    * on the classpath at runtime (not present in this container — the
    * option/trigger mapping is exercised by specs via [[kafkaSourceOptions]]
    * and [[triggerFor]]; only `r.load()`'s connector lookup can't run). */
  def createStream(spark: SparkSession, option: StreamContextOption,
                   valueSchema: StructType): Stream = {
    var r = spark.readStream.format("kafka")
    kafkaSourceOptions(option).foreach { case (k, v) => r = r.option(k, v) }
    fromKafkaShaped(spark, r.load(), valueSchema, triggerFor(option))
  }

  /** Wrap any DataFrame with Kafka-source shape (topic, partition, offset,
    * timestamp, key, value:binary) — used by specs via MemoryStream.
    *
    * Malformed JSON: `from_json` is PERMISSIVE — an unparseable payload
    * yields a row whose `value` struct has all-null fields (metadata
    * intact), so one poison message can never take the stream down. This
    * is a deliberate divergence from the reference, whose bare
    * `JSON.parse` (`src/context.ts:143`) throws and kills the consumer
    * loop on the first bad record. `dropMalformed = true` parses with a
    * corrupt-record column and filters those rows out at the source
    * (tombstones are skipped BEFORE the parse either way, and a
    * legitimately-empty `{}` payload is NOT malformed and survives). */
  def fromKafkaShaped(spark: SparkSession, raw: DataFrame,
                      valueSchema: StructType,
                      trigger: Trigger = Trigger.ProcessingTime(0L),
                      dropMalformed: Boolean = false): Stream = {
    val live = raw.filter(col("value").isNotNull) // tombstone skip
    val meta = struct(col("topic"), col("partition"), col("offset"),
      col("timestamp"), col("key")).as("metadata")
    val df =
      if (!dropMalformed)
        live.select(from_json(col("value").cast("string"), valueSchema).as("value"), meta)
      else {
        val corrupt = "__graft_corrupt"
        val ext = valueSchema.add(corrupt, org.apache.spark.sql.types.StringType)
        live
          .select(from_json(col("value").cast("string"), ext,
            Map("columnNameOfCorruptRecord" -> corrupt)).as("__v"), meta)
          .filter(col(s"__v.$corrupt").isNull)
          .select(col("__v").dropFields(corrupt).as("value"), col("metadata"))
      }
    mk(spark, df, trigger)
  }

  /** Wrap a DataFrame that already has (value, metadata) columns. */
  def fromDataFrame(spark: SparkSession, df: DataFrame): Stream = mk(spark, df)

  /** Built-in `rate` source shaped like a Kafka stream — a live, runnable
    * source with zero external dependencies (synthetic load tests, façade
    * demos where no broker exists). `value` is the rate counter; metadata
    * mirrors the Kafka shape with the counter as the offset. */
  def fromRate(spark: SparkSession, rowsPerSecond: Int,
               trigger: Trigger = Trigger.ProcessingTime(0L)): Stream = {
    val raw = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()
    mk(spark, raw.select(
      col("value"),
      struct(lit("rate").as("topic"), lit(0).as("partition"),
        col("value").as("offset"), col("timestamp"),
        lit(null).cast("binary").as("key")).as("metadata")), trigger)
  }

  private def mk(spark: SparkSession, df: DataFrame,
                 trigger: Trigger = Trigger.ProcessingTime(0L)): Stream =
    new Stream(df, spark, ListBuffer.empty, new StatsListener, trigger)

  /** How long [[Stream.stop]] waits for its queries' termination events
    * to reach the counters before it takes them off the bus anyway. */
  private val DetachTimeoutMs = 10000L

  /** Progress counters via the listener bus — the Spark-native home of the
    * reference's recv/send totals (`StreamingQueryProgress.numInputRows` /
    * sink rows replace the hand-rolled counters in `src/context.ts:39-52`).
    * One per stream family (a stream and everything derived from it,
    * unions included): on the bus from the family's first `start` to its
    * `stop`. */
  final class StatsListener extends StreamingQueryListener {
    private var recv = 0L
    private var sent = 0L
    private var lastTs = 0L
    private var dropped = 0L
    private val watched = scala.collection.mutable.Set.empty[java.util.UUID]
    private val terminated = scala.collection.mutable.Set.empty[java.util.UUID]
    private var bus: Option[StreamingQueryManager] = None
    private[streaming] def watch(id: java.util.UUID): Unit =
      synchronized { watched += id; () }
    private[streaming] def attach(streams: StreamingQueryManager): Unit = synchronized {
      if (bus.isEmpty) { streams.addListener(this); bus = Some(streams) }
    }
    /** Leave the bus once every watched query's termination event has
      * arrived — the bus delivers in order, so every progress event
      * before it has been counted — or after `timeoutMs`. */
    private[streaming] def detach(timeoutMs: Long): Unit = synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!watched.subsetOf(terminated) && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      bus.foreach(_.removeListener(this))
      bus = None
      watched.clear()
      terminated.clear()
    }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        if (!watched.contains(e.progress.id)) return
        recv += e.progress.numInputRows
        val out = e.progress.sink.numOutputRows
        if (out > 0) sent += out
        val max = Option(e.progress.eventTime.get("max"))
        max.foreach(m => lastTs = math.max(lastTs,
          java.time.Instant.parse(m).toEpochMilli))
        // observable late-drop count — the Spark-native home of the
        // reference's late-batch warning (src/stream.ts:157-177).
        e.progress.stateOperators.foreach(so => dropped += so.numRowsDroppedByWatermark)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized { terminated += e.id; notifyAll() }
    def flush(): Statistics = synchronized {
      val s = Statistics(recv, sent, lastTs, dropped)
      recv = 0L; sent = 0L; lastTs = 0L; dropped = 0L
      s
    }
  }
}
