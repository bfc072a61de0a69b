package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{BloomDedup, TextDedup}

/** Streaming incremental near-duplicate detection — the text members of
  * the [[Gate]] family: a document stream deduplicated per micro-batch
  * against ONE persisted corpus LSH index (see [[Gate]] for the shared
  * staged-index / broadcast-probe / atomic-rotation contract).
  *
  * This is the streaming twin of the batch registry query
  * `x_dedup_incremental` (same operator, same semantics — the spec drives
  * both from the same corpus and asserts identical pairs).
  *
  * [[startGated]] is the COMPOSED production pipeline: a bloom exact-dedup
  * pre-gate ([[graft.operators.BloomDedup]]) in front of the LSH join,
  * with atomic corpus-version rotation between micro-batches.
  */
object DedupIngest {

  /** A corpus version's reusable dedup state: staged shingle relation +
    * staged LSH band index, with the parameters they were built under
    * (batch-side signatures must land in the same key space). */
  final case class CorpusIndex(shingled: DataFrame, bandKeys: DataFrame,
                               n: Int, k: Int, bands: Int)

  /** Stage the corpus shingles and band index ONCE (per corpus version).
    * With `graft.stage.dir` set, both land as persisted parquet staging
    * tables — the index survives the session and is scanned, not rebuilt,
    * by every micro-batch (and any other consumer). */
  def buildIndex(corpus: DataFrame, idCol: String, textCol: String,
                 n: Int = 3, k: Int = 12, bands: Int = 4): CorpusIndex = {
    val sh = TextDedup.shingleRelation(corpus, idCol, textCol, n)
    CorpusIndex(sh, TextDedup.minhashBandKeys(sh, k, bands), n, k, bands)
  }

  /** Adapter for the PINNED-corpus loop ([[start]] takes an index, not a
    * rotating reference — the caller has one frozen corpus version). */
  private final case class Pinned(index: CorpusIndex) extends Gate.Versioned {
    def version: Long = 0L
  }

  /** Start the per-batch dedup loop on a document stream: each micro-batch
    * is shingled (unstaged), joined against the persisted corpus index,
    * and its near-duplicate pairs (da = batch id, db = corpus id, jaccard)
    * are handed to `onBatch` with the micro-batch id.
    *
    * `idCol`/`textCol` address the stream's payload (e.g. `value.doc_id`,
    * `value.text` for a JSON Kafka stream). */
  def start(stream: Stream, index: CorpusIndex,
            idCol: String, textCol: String,
            threshold: Double = 0.5, bandCap: Option[Int] = None,
            checkpoint: Option[String] = None)(
            onBatch: (DataFrame, Long) => Unit): StreamingQuery =
    Gate.start(stream, new AtomicReference(Pinned(index)), checkpoint) {
      (batch, st) =>
        val sh = TextDedup.shingleProjection(batch, idCol, textCol, st.index.n)
        TextDedup.minhashLshPairsAgainstIndex(
          sh, st.index.shingled, st.index.bandKeys,
          st.index.k, st.index.bands, threshold, bandCap)
    } { (pairs, _, batchId) => onBatch(pairs, batchId) }

  /** One corpus version's FULL dedup state for the combined gate: the LSH
    * near-dup index, the staged (db, __digest) exact-content relation, and
    * the bloom filter over those digests (probed on the driver against
    * each collected batch — zero per-batch corpus work for the exact
    * gate's pre-filter). `version` tags emitted batches so a
    * sink can attribute pairs to the corpus they were deduped against. */
  final case class CorpusState(index: CorpusIndex, digests: DataFrame,
                               exactFilter: Array[Byte], version: Long)
    extends Gate.Versioned

  /** Build a [[CorpusState]] (once per corpus version): stages the shingle
    * relation, the band index, and the md5 content-digest relation, then
    * folds the digests into a bloom filter ([[BloomDedup.buildFilter]]).
    * `expectedItems` ≤ 0 sizes the filter from an exact count of the
    * (tiny, staged) digest relation — one extra scan of 16-byte rows. */
  def buildState(corpus: DataFrame, idCol: String, textCol: String,
                 n: Int = 3, k: Int = 12, bands: Int = 4,
                 fpp: Double = 0.01, expectedItems: Long = 0L,
                 version: Long = 0L): CorpusState = {
    val index = buildIndex(corpus, idCol, textCol, n, k, bands)
    val digests = graft.sources.Tables.stage(corpus.select(
      col(idCol).cast("long").as("db"), md5(col(textCol)).as("__digest")))
    val items = if (expectedItems > 0L) expectedItems else digests.count()
    CorpusState(index, digests,
      BloomDedup.buildFilter(digests, "__digest", items, fpp), version)
  }

  /** The COMPOSED per-batch production gate: exact dedup first (bloom
    * pre-gate + exact settle), then near-dup LSH on the survivors only.
    * Per micro-batch (see [[gateBatch]] for the collect-once shape):
    *
    *   1. the bloom filter, probed on the driver against the collected
    *      rows' digest hashes — no join, no corpus access — passes only
    *      rows whose md5 content digest MIGHT be in the corpus (all true
    *      exact dups + ~fpp false positives);
    *   2. those few candidates settle EXACTLY against the staged corpus
    *      digest relation → `exactPairs` (da = batch id, db = corpus id
    *      with identical content; no false drops — a bloom false positive
    *      simply finds no digest). The settle runs ONCE per micro-batch
    *      and its (tiny) result is a local relation;
    *   3. rows with an exact match skip shingling entirely (their LSH
    *      pairs are foregone conclusions); the SURVIVORS run
    *      [[TextDedup.minhashLshPairsAgainstIndex]] against the persisted
    *      band index → `nearPairs` (da, db, jaccard).
    *
    * Corpus rotation per the [[Gate]] contract. Within-batch duplicates
    * are out of scope here (two identical NEW documents emit no pair —
    * neither is in the corpus yet); run [[TextDedup.exactGroups]] on the
    * batch first if that matters.
    * `onBatch` receives (exactPairs, nearPairs, corpusVersion, batchId). */
  def startGated(stream: Stream, state: AtomicReference[CorpusState],
                 idCol: String, textCol: String,
                 threshold: Double = 0.5, bandCap: Option[Int] = None,
                 checkpoint: Option[String] = None)(
                 onBatch: (DataFrame, DataFrame, Long, Long) => Unit): StreamingQuery =
    Gate.start(stream, state, checkpoint) { (batch, st) =>
      gateBatch(batch, st, idCol, textCol, threshold, bandCap)
    } { case ((exactPairs, nearPairs), version, batchId) =>
      onBatch(exactPairs, nearPairs, version, batchId)
    }

  /** SELF-GROWING gate state: a [[CorpusState]] plus the staged directory
    * paths fold appends go to and the bloom sizing it was built under
    * (folds insert into the same filter shape, so a grown filter equals
    * one build over the union). Requires parquet staging mode
    * (`graft.stage.dir`) — the whole point of the fold is batch-sized
    * APPENDS to persisted index directories; localCheckpoint mode would
    * rewrite the corpus per batch. `expectedItems` is the bloom CAPACITY
    * for the ingest horizon (fpp degrades past it — rotate a fresh
    * version when filled). `tombstones` are the retired ids, held on the
    * driver (read from `tombstonesPath` at restore, extended by
    * [[retire]]) so re-opening the views reads no tombstone relation;
    * by contract they are few (takedowns, not deletes at corpus scale). */
  final case class GrowingState(cs: CorpusState,
                                shingledPath: String, bandPath: String,
                                digestsPath: String, tombstonesPath: String,
                                expectedItems: Long, fpp: Double,
                                foldedBatch: Long = -1L,
                                tombstones: Set[Long] = Set.empty) extends Gate.Folded {
    def version: Long = cs.version
  }

  /** Build a [[GrowingState]] once: stages the shingle / band-key /
    * digest relations (capturing their directories for fold appends),
    * an (empty) tombstone relation for [[retire]], and sizes the bloom
    * filter for `capacityItems` — the TOTAL corpus size this version is
    * expected to grow to, not the current count. */
  def buildGrowingState(corpus: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, k: Int = 12, bands: Int = 4,
                        fpp: Double = 0.01, capacityItems: Long = 1000000L,
                        version: Long = 0L): GrowingState = {
    val spark = corpus.sparkSession
    // ids are longs in every relation of the state: folds append the
    // driver-collected batch under the same schema.
    val sh = graft.sources.Tables.stageTracked(TextDedup.shingleProjection(
      corpus.select(col(idCol).cast("long").as("id"), col(textCol).as("text")),
      "id", "text", n))
    val bk = graft.sources.Tables.stageTracked(
      TextDedup.bandKeyProjection(sh.df, k, bands))
    val dg = graft.sources.Tables.stageTracked(corpus.select(
      col(idCol).cast("long").as("db"), md5(col(textCol)).as("__digest")))
    val tb = graft.sources.Tables.stageTracked(
      spark.createDataset(Seq.empty[Long])(
        org.apache.spark.sql.Encoders.scalaLong).toDF("id"))
    require(sh.path.isDefined && bk.path.isDefined && dg.path.isDefined &&
        tb.path.isDefined,
      "buildGrowingState requires parquet staging mode (set graft.stage.dir): " +
        "the growing gate folds by appending to persisted index directories")
    val filter = BloomDedup.buildFilter(dg.df, "__digest", capacityItems, fpp)
    GrowingState(
      CorpusState(CorpusIndex(sh.df, bk.df, n, k, bands), dg.df, filter, version),
      sh.path.get, bk.path.get, dg.path.get, tb.path.get, capacityItems, fpp)
  }

  /** Reconstruct a [[GrowingState]] from its persisted directories after
    * a RESTART — the durable half of the growing gate's exactly-once
    * story: the index/tombstone dirs and the last folded batch id are
    * what the operator persists (alongside the stream checkpoint); the
    * in-memory state reference is rebuilt from them, the replay fence
    * then skips checkpoint-replayed batches at or below `foldedBatch`,
    * and the stream resumes exactly where it stopped. The tombstone ids
    * are read back onto the driver once; the bloom filter rebuilds from
    * the LIVE digests (one scan of 16-byte rows — retired content's stale
    * bits drop out as a bonus).
    *
    * CRASH REPAIR: subdirs a mid-fold crash appended ABOVE `foldedBatch`
    * are DELETED first ([[Gate.pruneGrown]]) — otherwise the replayed
    * batch would probe an index containing its own partial fold,
    * self-match every row, and overwrite its subdirs with empty
    * relations (permanently losing the batch from the corpus). The
    * tombstone dir is never pruned (retire tags are not batch-fenced). */
  def restoreGrowingState(spark: org.apache.spark.sql.SparkSession,
                          shingledPath: String, bandPath: String,
                          digestsPath: String, tombstonesPath: String,
                          n: Int = 3, k: Int = 12, bands: Int = 4,
                          fpp: Double = 0.01, capacityItems: Long = 1000000L,
                          version: Long = 0L, foldedBatch: Long = -1L): GrowingState = {
    Seq(shingledPath, bandPath, digestsPath)
      .foreach(Gate.pruneGrown(spark, _, foldedBatch))
    val tombstones = Gate.readGrown(spark, tombstonesPath)
      .select(col("id").cast("long")).collect()
      .collect { case r if !r.isNullAt(0) => r.getLong(0) }.toSet
    val skeleton = GrowingState(
      CorpusState(CorpusIndex(null, null, n, k, bands), null,
        Array.emptyByteArray, version),
      shingledPath, bandPath, digestsPath, tombstonesPath,
      capacityItems, fpp, foldedBatch, tombstones)
    val liveDigests = unretired(Gate.readGrown(spark, digestsPath), "db", tombstones)
    val filter = BloomDedup.buildFilter(liveDigests, "__digest",
      capacityItems, fpp)
    skeleton.copy(cs = liveCorpusState(spark, skeleton, filter, version))
  }

  /** Re-open a growing state's index relations: the grown directories
    * with the driver-held tombstones filtered out (retired ids drop out of
    * every probe-visible relation). Starts no job: each directory is read
    * under the schema the state's previous view already carries (only
    * the restore skeleton, which has no views yet, infers), and the
    * tombstone filter is a literal id set — absent when nothing is
    * retired. */
  private def liveCorpusState(spark: org.apache.spark.sql.SparkSession,
                              st: GrowingState, filter: Array[Byte],
                              version: Long): CorpusState = {
    def live(root: String, prev: DataFrame, idCol: String) =
      unretired(Gate.readGrown(spark, root, Option(prev).map(_.schema)),
        idCol, st.tombstones)
    CorpusState(
      CorpusIndex(
        live(st.shingledPath, st.cs.index.shingled, "id"),
        live(st.bandPath, st.cs.index.bandKeys, "id"),
        st.cs.index.n, st.cs.index.k, st.cs.index.bands),
      live(st.digestsPath, st.cs.digests, "db"),
      filter, version)
  }

  /** `df` without the rows of retired ids — the left-anti semantics of a
    * tombstone join (a null id is never retired) as a literal filter. */
  private def unretired(df: DataFrame, idCol: String, tombstones: Set[Long]): DataFrame =
    if (tombstones.isEmpty) df
    else df.filter(col(idCol).isNull || !col(idCol).isInCollection(tombstones))

  /** RETIRE documents (takedowns — the delete half of the ingest
    * lifecycle): append their ids to the tombstone relation and return a
    * state whose index views exclude them — retired docs stop appearing
    * in exact or near pairs immediately, without rewriting any index
    * directory. The bloom filter's bits for retired content PERSIST
    * until the next full rotation: a stale positive only sends the row
    * to the settle join, which now finds no live digest — never a false
    * pair (the filter's one-sidedness absorbs deletion, which is exactly
    * why tombstones suffice). Re-ingesting retired content later is
    * treated as NOVEL and re-folds under its new id. `tag` must be
    * unique per retire call on this state lineage (it keys the
    * tombstone subdirectory — reusing one overwrites the earlier
    * batch). Swap the result into the state reference between batches. */
  def retire(st: GrowingState, ids: DataFrame, tag: Long): GrowingState = {
    val spark = ids.sparkSession
    val retiredDf = ids.select(col(ids.columns.head).cast("long").as("id"))
    val retired = retiredDf.collect()
    Gate.growDir(spark.createDataFrame(retired.toSeq.asJava, retiredDf.schema).coalesce(1),
      st.tombstonesPath, tag)
    val next = st.copy(tombstones = st.tombstones ++
      retired.collect { case r if !r.isNullAt(0) => r.getLong(0) })
    next.copy(cs = liveCorpusState(spark, next, st.cs.exactFilter, st.cs.version + 1))
  }

  /** The SELF-GROWING production ingest loop — [[startGated]] plus the
    * missing half of real ingest: after each micro-batch is deduped
    * against the corpus, its NOVEL rows (no exact content match; near
    * duplicates are distinct content and do join) BECOME corpus. Per
    * batch, beyond [[gateBatch]]:
    *
    *   1. the novel rows' shingle / band-key / digest projections — the
    *      driver-local relations the gate already built — APPEND to the
    *      staged index directories, one file per directory, the three
    *      writes running concurrently (batch-sized writes — zero corpus
    *      work; the in-flight batch's own probe plans hold the
    *      pre-append file snapshot, so results stay consistent);
    *   2. the novel rows' digest hashes are inserted into the corpus
    *      filter on the driver ([[BloomDedup.putHashes]] — byte-identical
    *      to one build over the union);
    *   3. the state advances to fresh reads of the grown directories
    *      (no job: known schemas, driver-held tombstones), so the NEXT
    *      batch dedups against everything ingested so far.
    *
    * Equivalence (StreamingDedupSpec): after any number of folds, the
    * grown state's filter and probe results are bitwise what
    * [[buildGrowingState]] over (corpus ∪ all folded novel rows) would
    * produce. Replay safety: [[Gate.startFolding]]'s batch-id fence —
    * a restart-replayed batch is not re-folded. Within-batch duplicates
    * remain out of scope (two identical NEW documents both enter; run
    * [[TextDedup.exactGroups]] on the batch first if that matters). */
  def startGatedGrowing(stream: Stream, state: AtomicReference[GrowingState],
                        idCol: String, textCol: String,
                        threshold: Double = 0.5, bandCap: Option[Int] = None,
                        checkpoint: Option[String] = None)(
                        onBatch: (DataFrame, DataFrame, Long, Long) => Unit): StreamingQuery =
    Gate.startFolding(stream, state, checkpoint) { (batch, st, batchId) =>
      foldBatch(batch, st, idCol, textCol, threshold, bandCap, batchId)
    } { case ((exactPairs, nearPairs), version, batchId) =>
      onBatch(exactPairs, nearPairs, version, batchId)
    }

  /** EXPIRE pre-horizon fold history on every growing directory —
    * [[Gate.expireGrown]] per root, the VACUUM-with-retention sibling of
    * [[compactGrowingState]]: bounded file counts WITHOUT losing all
    * auditability. Live views, bloom filter, version, and replay fence
    * are untouched (the consolidation preserves rows exactly — only
    * files change); [[auditState]] below the horizon now REFUSES with
    * the horizon named (its per-fold files are gone), at or above it
    * replays exactly as before. The tombstone root expires too when it
    * has a manifest — tombstones are always CURRENT, and the
    * consolidation carries every retired id, so takedowns stay
    * retroactive across the expiry. Run OFFLINE between batches (the
    * rotation discipline); callers MUST swap to the RETURNED state —
    * the old state's views reference deleted files. */
  def expireGrowingState(spark: org.apache.spark.sql.SparkSession,
                         st: GrowingState, keepAfter: Long): GrowingState = {
    Seq(st.shingledPath, st.bandPath, st.digestsPath, st.tombstonesPath)
      .filter(Gate.manifestExists(spark, _)) // a never-folded root has no
                                             // history to expire
      .foreach(Gate.expireGrown(spark, _, keepAfter))
    st.copy(cs = liveCorpusState(spark, st, st.cs.exactFilter, st.cs.version))
  }

  /** Compact a [[GrowingState]]'s three grown directories into fresh
    * consolidated staged relations ([[Gate.compactGrown]] per dir) —
    * the periodic maintenance a long-running growing gate needs before
    * per-batch subdirectories dominate file listing. Filter, sizing, and
    * replay fence carry over; the version bumps. Swap the result into
    * the state reference between batches; delete the superseded roots
    * once nothing references them. Probe results are identical before
    * and after (same rows, consolidated files — spec-pinned). */
  def compactGrowingState(st: GrowingState): GrowingState = {
    val spark = st.cs.digests.sparkSession
    // materialize the LIVE views (tombstone filter applied) — retired
    // rows drop out of storage for good and the tombstones reset empty.
    val sh = graft.sources.Tables.stageTracked(st.cs.index.shingled)
    val bk = graft.sources.Tables.stageTracked(st.cs.index.bandKeys)
    val dg = graft.sources.Tables.stageTracked(st.cs.digests)
    val tb = graft.sources.Tables.stageTracked(
      spark.createDataset(Seq.empty[Long])(
        org.apache.spark.sql.Encoders.scalaLong).toDF("id"))
    require(sh.path.isDefined && bk.path.isDefined && dg.path.isDefined &&
        tb.path.isDefined,
      "compactGrowingState requires parquet staging mode (set graft.stage.dir)")
    GrowingState(
      CorpusState(
        CorpusIndex(sh.df, bk.df, st.cs.index.n, st.cs.index.k, st.cs.index.bands),
        dg.df, st.cs.exactFilter, st.cs.version + 1),
      sh.path.get, bk.path.get, dg.path.get, tb.path.get,
      st.expectedItems, st.fpp, st.foldedBatch)
  }

  /** AUDIT-REPLAY: the probe-visible [[CorpusState]] AS OF fold `fold`,
    * reconstructed purely from the growing directories' sink-log
    * manifests ([[Gate.readGrownAsOf]]; `fold = -1` is the pre-fold
    * initial corpus). [[gateBatch]] against `auditState(st, b - 1)`
    * replays the exact verdicts batch `b` received when it was ingested
    * (spec-pinned bitwise) — the "why was this document dropped three
    * weeks ago" question every growing corpus accumulates, answered
    * without having persisted any per-fold state beyond what the folds
    * already wrote. The bloom filter rebuilds from the as-of digests
    * under the state's fixed sizing — the filter the live gate held at
    * that fold (grown filters are spec-pinned byte-identical to fresh
    * union builds), and any bit drift is verdict-irrelevant anyway (a
    * bloom positive only routes rows to the exact settle).
    *
    * TOMBSTONES ARE ALWAYS CURRENT, never time-traveled: a takedown is
    * retroactive by intent — an audit must not resurface retired
    * content — so verdicts involving since-retired documents replay as
    * if those documents never existed (the one documented divergence
    * from the historical record). `compactGrowingState` starts fresh
    * roots and therefore truncates auditability to post-compaction
    * folds (the VACUUM trade, stated at [[Gate.readGrownAsOf]]). */
  def auditState(spark: org.apache.spark.sql.SparkSession,
                 st: GrowingState, fold: Long): CorpusState = {
    val tombs = Gate.readGrown(spark, st.tombstonesPath)
    val dg = Gate.readGrownAsOf(spark, st.digestsPath, fold)
      .join(broadcast(tombs.select(col("id").as("db"))), Seq("db"), "left_anti")
    CorpusState(
      CorpusIndex(
        Gate.readGrownAsOf(spark, st.shingledPath, fold)
          .join(broadcast(tombs), Seq("id"), "left_anti"),
        Gate.readGrownAsOf(spark, st.bandPath, fold)
          .join(broadcast(tombs), Seq("id"), "left_anti"),
        st.cs.index.n, st.cs.index.k, st.cs.index.bands),
      dg,
      BloomDedup.buildFilter(dg, "__digest", st.expectedItems, st.fpp),
      fold)
  }

  /** One micro-batch through the gate-then-grow step (see
    * [[startGatedGrowing]]) — exposed so composed loops
    * ([[CurateIngest]]) and specs can run the exact fold the stream
    * runs. Returns ((exactPairs, nearPairs), the advanced state). Jobs
    * per batch: the one read of the batch, the settle (only when the
    * bloom passes a candidate) and the three appends; the bloom fold and
    * the state re-open run on the driver. The sink's collect of
    * `nearPairs` runs the LSH probe.
    *
    * FOLD ATOMICITY: each batch's appends land in per-batch
    * subdirectories written with OVERWRITE ([[Gate.growDir]]) — a crash
    * mid-fold followed by a checkpoint replay (the state reference never
    * advanced, so the replay fence does NOT skip it) simply overwrites
    * the partial attempt instead of duplicating index rows; the bloom
    * fold recomputes from the unchanged pre-fold base. The same layout
    * maps directly onto a transactional table format's appends at
    * cluster scale (batchId as the idempotence key). */
  def foldBatch(batch: DataFrame, st: GrowingState,
                idCol: String, textCol: String,
                threshold: Double, bandCap: Option[Int],
                batchId: Long): ((DataFrame, DataFrame), GrowingState) = {
    val g = gate(batch, st.cs, idCol, textCol, threshold, bandCap)
    val novDg = g.survivors.select(col("id").as("db"), col("__digest"))
    graft.sources.Tables.inParallel(Seq(
      g.shingled -> st.shingledPath, g.bandKeys -> st.bandPath, novDg -> st.digestsPath)
      .map { case (df, root) => () => Gate.growDir(df.coalesce(1), root, batchId) })
    val grown = BloomDedup.putHashes(st.cs.exactFilter, g.survivorHashes.iterator)
    val nextCs = liveCorpusState(batch.sparkSession, st, grown, st.cs.version + 1)
    ((g.exactPairs, g.nearPairs), st.copy(cs = nextCs, foldedBatch = batchId))
  }

  /** One micro-batch through the gate (see [[startGated]]) — exposed so
    * specs and the bench harness drive the exact per-batch plan the
    * stream runs.
    *
    * COLLECT-ONCE: one job reads the micro-batch and brings (id, text,
    * md5 digest, [[BloomDedup.keyHash]] of the digest) to the driver;
    * everything after works from that copy. The bloom probe runs on the
    * driver, the candidates settle against the corpus digests in one
    * filtered scan (none when no row passes the bloom), and the settled
    * pairs come back as a LOCAL relation, so the caller's sink and the
    * survivor split never re-run the settle. The survivors' shingle and
    * band-key projections are built once from a local relation and enter
    * the LSH probe (and a fold's appends) as local relations.
    *
    * DRIVER MEMORY: the micro-batch's ids and text, and the survivors'
    * shingles and band keys, are held on the driver — the same bound the
    * broadcast-probe shape already put on a batch (its band keys and
    * shingles were collected for the broadcasts). Size micro-batches to
    * the driver, as for any broadcast side. */
  def gateBatch(batch: DataFrame, st: CorpusState, idCol: String, textCol: String,
                threshold: Double = 0.5, bandCap: Option[Int] = None)
      : (DataFrame, DataFrame) = {
    val g = gate(batch, st, idCol, textCol, threshold, bandCap)
    (g.exactPairs, g.nearPairs)
  }

  /** A gated micro-batch: the pair relations plus what a fold appends —
    * the survivors (id, text, __digest, __hash), their digest hashes and
    * their shingle and band-key relations, all driver-local. */
  private final case class Gated(exactPairs: DataFrame, nearPairs: DataFrame,
                                 survivors: DataFrame, survivorHashes: Seq[Long],
                                 shingled: DataFrame, bandKeys: DataFrame)

  private def gate(batch: DataFrame, st: CorpusState, idCol: String, textCol: String,
                   threshold: Double, bandCap: Option[Int]): Gated = {
    val spark = batch.sparkSession
    val digest = md5(col(textCol))
    val read = batch.select(col(idCol).cast("long").as("id"), col(textCol).as("text"),
      digest.as("__digest"), BloomDedup.keyHash(digest).as("__hash"))
    val rows = read.collect().toSeq
    val filter = BloomDedup.readFilter(st.exactFilter)
    val cand = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(2) &&
      filter.mightContainLong(r.getLong(3)))
    val corpusIds: Map[String, Seq[Long]] =
      if (cand.isEmpty) Map.empty
      else st.digests
        .filter(col("__digest").isInCollection(cand.map(_.getString(2)).distinct))
        .select(col("db"), col("__digest")).collect().toSeq
        .groupMap(_.getString(1))(_.getLong(0))
    val pairRows = cand.flatMap(r =>
      corpusIds.getOrElse(r.getString(2), Nil).map(db => (r.getLong(0), db)))
    val exactPairs = spark.createDataset(pairRows)(
      org.apache.spark.sql.Encoders.product[(Long, Long)]).toDF("da", "db")
    val exactIds = pairRows.map(_._1).toSet
    val survivorRows = rows.filter(r => r.isNullAt(0) || !exactIds(r.getLong(0)))
    val survivors = spark.createDataFrame(survivorRows.asJava, read.schema)
    // shingles, signatures and band keys of the survivors, each computed
    // once (a projection of a local relation evaluates on the driver) and
    // held as local relations for the probe and the appends.
    def local(df: DataFrame) = spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    val signed = local(TextDedup.withMinhashSig(
      TextDedup.shingleProjection(survivors, "id", "text", st.index.n), st.index.k))
    val banded = local(signed.select(col("id"), col("sh"),
      TextDedup.bandKeys(st.index.k, st.index.bands).as("band_keys")))
    val shingled = banded.select(col("id"), col("sh"))
    val bandKeys = banded.select(col("id"), explode(col("band_keys")).as("band_key"))
    val nearPairs = TextDedup.minhashLshPairsAgainstIndex(shingled, bandKeys,
      st.index.shingled, st.index.bandKeys, threshold, bandCap)
    Gated(exactPairs, nearPairs, survivors, survivorRows.map(_.getLong(3)),
      shingled, bandKeys)
  }
}
