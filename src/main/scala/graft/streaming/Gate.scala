package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.sinks.SinkFileStatus
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** The shared skeleton of the streaming ingest-gate family —
  * [[DedupIngest]] (exact/bloom/LSH text dedup), [[AnnIngest]] (vector
  * retrieval, SemDeDup, PQ), [[ImageIngest]] (perceptual dHash),
  * [[ScoreIngest]] (DSIR importance selection). Seven gates, one contract,
  * stated once here and spec-pinned per gate in the `Streaming*Spec`s:
  *
  *  - the corpus-side INDEX is built and staged ONCE per corpus version
  *    (`Tables.stage` truncates the corpus-scan lineage, so in
  *    `graft.stage.dir` mode micro-batches scan a persisted parquet table
  *    and recompute zero corpus state);
  *  - each micro-batch pays only its own (tiny, deliberately UNSTAGED)
  *    projection, BROADCAST onto the index join — the corpus never
  *    shuffles and no per-batch staging dir is ever written (a staged
  *    batch side would write one parquet dir per micro-batch for zero
  *    reuse). The text gates ([[DedupIngest.gateBatch]], shared by the
  *    bloom+LSH gate and its growing form) go one step further: they
  *    COLLECT the micro-batch to the driver once (ids, text, digests,
  *    hashes) and re-enter every later step as driver-local relations, so
  *    the batch is read once and its probes and appends never re-scan it.
  *    The driver-memory contract is the broadcast's: a micro-batch must
  *    fit on the driver, as the broadcast side already had to;
  *  - corpus versions ROTATE atomically between batches via an
  *    [[AtomicReference]]: build the next version OUTSIDE the stream, then
  *    `state.set(next)` — foreachBatch bodies run sequentially and
  *    [[start]] reads the reference exactly once at batch start, so every
  *    batch sees one consistent index and the swap lands at a batch
  *    boundary; rebuild cost is paid per corpus version, never per batch;
  *  - driver-small relations a probe re-collects into plan literals
  *    (centroids, codebooks) are LOCALIZED at build time
  *    ([[localizedVectors]]) so per-batch collects read driver memory, not
  *    the source scan;
  *  - exactly-once: the batch id rides into `onBatch` and the stream
  *    checkpoint replays unacknowledged batches — an idempotent sink
  *    (e.g. overwrite-by-batch-id) completes the guarantee.
  *
  * Streamed results are bitwise-identical to the batch operators they
  * delegate to: every gate's probe IS the batch operator's
  * `*AgainstIndex`/`*Against*` form, fed the same staged index.
  */
object Gate {

  /** Gate state: one immutable per-corpus-version index. Implementations
    * carry the staged relation(s) plus the parameters they were built
    * under (probe projections must land in the same key space). */
  trait Versioned { def version: Long }

  /** The rotation + probe loop every gate runs: read the state once at
    * batch start, run the batch through `probe` (the batch operator's
    * against-index form), hand the result to `onBatch` with the corpus
    * version it was computed against and the micro-batch id.
    *
    * `R` is the probe result type — a single relation for most gates, an
    * (exactPairs, nearPairs) pair for [[DedupIngest.startGated]]. */
  def start[S <: Versioned, R](stream: Stream, state: AtomicReference[S],
                               checkpoint: Option[String])(
                               probe: (DataFrame, S) => R)(
                               onBatch: (R, Long, Long) => Unit): StreamingQuery =
    stream.forEachBatch({ (batch, batchId) =>
      val st = state.get()
      onBatch(probe(batch, st), st.version, batchId)
    }, checkpoint)

  /** Folding-gate state: a [[Versioned]] index that also records the
    * HIGHEST batch id already folded into it — the replay fence below. */
  trait Folded extends Versioned { def foldedBatch: Long }

  /** FOLDING variant of [[start]] for gates whose state EVOLVES with
    * every batch (graph maintenance, a growing dedup corpus) rather than
    * staying frozen per corpus version: `step` computes both the batch
    * result and the NEXT state, and the reference is advanced before
    * `onBatch` runs — foreachBatch bodies execute sequentially, so the
    * fold is race-free and each batch sees exactly the state its
    * predecessor produced.
    *
    * Exactly-once across restarts: the stream checkpoint REPLAYS
    * unacknowledged batches, and a fold is not idempotent (the state may
    * already contain a replayed batch's rows). States therefore record
    * the last folded batch id ([[Folded.foldedBatch]], persisted by the
    * caller alongside the state's staged relations); a replayed batch at
    * or below it is SKIPPED here — no re-fold, no duplicate emission —
    * and an idempotent sink (overwrite-by-batch-id) completes the
    * guarantee for the result side, exactly as with the frozen gates.
    * External rotation still works (swap the reference between batches
    * with a freshly rebuilt state); `step` owns the version bump and the
    * foldedBatch stamp so rotated and folded versions stay
    * distinguishable. */
  def startFolding[S <: Folded, R](stream: Stream, state: AtomicReference[S],
                                   checkpoint: Option[String])(
                                   step: (DataFrame, S, Long) => (R, S))(
                                   onBatch: (R, Long, Long) => Unit): StreamingQuery =
    stream.forEachBatch({ (batch, batchId) =>
      val st = state.get()
      if (batchId > st.foldedBatch) {
        val (r, next) = step(batch, st, batchId)
        state.set(next)
        onBatch(r, next.version, batchId)
      }
    }, checkpoint)

  /** Append a batch's index projection to a growing staged directory —
    * written as an OVERWRITE of the per-batch subdirectory
    * `<root>/batch_<id>`, so a checkpoint replay of a crashed mid-fold
    * batch overwrites its partial attempt instead of duplicating rows
    * (plain append-mode writes are not transactional; this layout is the
    * idempotent equivalent, and maps onto a transactional table format's
    * batchId-keyed appends at cluster scale).
    *
    * MANIFEST: alongside the data, the subdirectory's files are recorded
    * in the root's `_spark_metadata` sink log (Spark's own
    * [[org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog]]
    * — the transactional-format mapping the growing gates document,
    * already built into the engine). Once the log exists,
    * `spark.read.parquet(root)` plans from the LOG (MetadataLogFileIndex)
    * instead of listing directories: at 10⁴ folds a probe pays one log
    * read, not one listStatus per batch subdirectory, and the log
    * self-compacts every `spark.sql.streaming.fileSink.log.compactInterval`
    * batches. The first call BOOTSTRAPS the log with the root's
    * pre-existing files (initial staged relation + any pre-manifest
    * folds) — one recursive listing, paid once.
    *
    * The log's own entry ids are an internal SEQUENTIAL counter (the
    * CompactibleFileStreamLog requires contiguity from 0 for its
    * self-compaction) — fold ids live in the `batch_<id>` path segment
    * of the logged files. A fold id already present in the log is only
    * legal after [[pruneGrown]] has repaired the fence — the add would
    * otherwise leave entries referencing the overwritten attempt's
    * vanished files, so it fails fast here instead. */
  def growDir(projection: DataFrame, root: String, batchId: Long): Unit = {
    val spark = projection.sparkSession
    val dir = s"$root/batch_$batchId"
    // order matters: the log CONSTRUCTOR eagerly mkdirs _spark_metadata,
    // so the had-a-manifest probe must run first or bootstrap never fires.
    val hadManifest = manifestExists(spark, root)
    val log = sinkLog(spark, root)
    if (hadManifest)
      require(!log.allFiles().exists(f => foldIdOf(f.path).contains(batchId)),
        s"growDir: manifest at $root already contains fold $batchId — " +
          "a replayed fold must run Gate.pruneGrown(root, fence) first " +
          "(restore* does) so the log matches the rewritten files")
    projection.write.mode("overwrite").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bootstrap =
      if (hadManifest) Array.empty[org.apache.hadoop.fs.FileStatus]
      else dataFiles(fs, new org.apache.hadoop.fs.Path(root),
        exclude = Some(s"batch_$batchId"))
    val batchFiles = dataFiles(fs, new org.apache.hadoop.fs.Path(dir), None)
    val logId = log.getLatestBatchId().map(_ + 1L).getOrElse(0L)
    require(log.add(logId, (bootstrap ++ batchFiles).map(SinkFileStatus.apply)),
      s"growDir: sequential manifest id $logId at $root cannot collide")
  }

  /** The fold id a logged file belongs to — its `batch_<id>` path
    * segment (absent for bootstrap-logged root files). */
  private def foldIdOf(path: String): Option[Long] =
    path.split('/').find(_.startsWith("batch_")).flatMap(s =>
      scala.util.Try(s.stripPrefix("batch_").toLong).toOption)

  /** The retention horizon a logged file records — its `expired_<h>`
    * path segment ([[expireGrown]] consolidations; absent everywhere
    * else). The max over the log is the earliest readable snapshot. */
  private def horizonOf(path: String): Option[Long] =
    path.split('/').find(_.startsWith("expired_")).flatMap(s =>
      scala.util.Try(s.stripPrefix("expired_").toLong).toOption)

  private def sinkLog(spark: org.apache.spark.sql.SparkSession, root: String) =
    new org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog(
      org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog.VERSION,
      spark, s"$root/$MetadataDir", scala.None)

  private val MetadataDir = "_spark_metadata"

  /** Whether `root` carries a NON-EMPTY sink-log manifest. Emptiness
    * matters twice over: the log constructor mkdirs its directory before
    * the first add (an empty dir must not suppress [[growDir]]'s
    * bootstrap), and Spark's read path treats any `_spark_metadata` dir
    * as authoritative — an empty one reads as zero files
    * ([[pruneGrown]] deletes such crash leftovers). */
  def manifestExists(spark: org.apache.spark.sql.SparkSession,
                     root: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(root, MetadataDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** Recursively list the DATA files under `path` (skips `_`-prefixed
    * metadata like `_SUCCESS`/`_spark_metadata` and, optionally, one
    * excluded subdirectory name). Used for manifest bootstrap/repair —
    * normal probes never list. */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        path: org.apache.hadoop.fs.Path,
                        exclude: Option[String]): Array[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(path)) Array.empty
    else fs.listStatus(path).flatMap { s =>
      val nm = s.getPath.getName
      if (nm.startsWith("_") || nm.startsWith(".") || exclude.contains(nm))
        Array.empty[org.apache.hadoop.fs.FileStatus]
      else if (s.isDirectory) dataFiles(fs, s.getPath, None)
      else Array(s)
    }

  /** Re-open a grown directory. With a manifest ([[growDir]] writes one)
    * Spark's MetadataLogFileIndex plans from the `_spark_metadata` log —
    * zero directory listing (the spec proves it: unlogged orphan subdirs
    * are invisible); without one (a freshly staged or freshly
    * [[compactGrown]]-consolidated root) the same read recursively
    * lists, and the next fold's [[growDir]] bootstraps the log. The
    * recursiveFileLookup option serves both paths: with the log it
    * widens allFiles past the unpartitioned root-parent restriction;
    * without it, it IS the listing.
    *
    * `schema`: the relation's schema when the caller already holds it
    * (a re-open of a state it read before). Parquet schema inference runs
    * a Spark job per read; with the schema given, the re-open plans from
    * the log or listing alone and starts no job. */
  def readGrown(spark: org.apache.spark.sql.SparkSession, root: String,
                schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    schema.foldLeft(spark.read)(_.schema(_))
      .option("recursiveFileLookup", "true").parquet(root)

  /** The fold lineage of a grown directory: the distinct fold ids the
    * manifest records, ascending — the valid arguments to
    * [[readGrownAsOf]] (after an [[expireGrown]], the horizon itself is
    * also valid: its snapshot is exactly the consolidation). One log
    * read, no directory listing. Empty when the root has no manifest yet
    * (nothing has folded; the only readable snapshot is "now" via
    * [[readGrown]]). */
  def grownFolds(spark: org.apache.spark.sql.SparkSession,
                 root: String): Seq[Long] =
    if (!manifestExists(spark, root)) Seq.empty
    else sinkLog(spark, root).allFiles().toSeq
      .flatMap(f => foldIdOf(f.path)).distinct.sorted

  /** TIME-TRAVEL read: the grown directory AS OF fold `asOf` — exactly
    * the snapshot the live views saw once fold `asOf` had folded.
    * Bootstrap-logged root files (the initial staged relation) belong to
    * every snapshot; `batch_<id>` folds with id > `asOf` are excluded
    * (`asOf = -1` reads the pre-fold seed alone). Plans from the
    * manifest ALONE — one log read collects the surviving file paths,
    * zero directory listing — which is what makes historical snapshots
    * readable at all: the data files of superseded snapshots are still
    * on disk (folds only ever ADD subdirectories) and the log says
    * which of them each snapshot comprised. This is the snapshot-read
    * half of the transactional-format mapping the growing gates
    * document (an OPTIMIZE via [[compactGrown]] starts a fresh root and
    * therefore truncates time travel, exactly as VACUUM does).
    *
    * Requires a manifest: time travel is a log feature, and a freshly
    * staged root has only "now". Folds that predate the manifest are
    * bootstrap-logged WITH their `batch_<id>` paths, so their ids
    * time-travel correctly too. */
  def readGrownAsOf(spark: org.apache.spark.sql.SparkSession, root: String,
                    asOf: Long): DataFrame = {
    require(manifestExists(spark, root),
      s"readGrownAsOf: no manifest at $root — time travel reads plan from " +
        "the sink log, which the first Gate.growDir fold bootstraps")
    val all = sinkLog(spark, root).allFiles().toSeq
    // retention fence: an expireGrown consolidation subsumes every
    // pre-horizon snapshot — those files are GONE, so reading "as of"
    // anything earlier must refuse, never silently return the horizon's
    // rows under an older label.
    val horizon = all.flatMap(f => horizonOf(f.path)).maxOption.getOrElse(-1L)
    require(asOf >= horizon,
      s"readGrownAsOf: snapshot asOf=$asOf at $root is EXPIRED — " +
        s"expireGrown consolidated history up to fold $horizon; the " +
        s"earliest readable snapshot is asOf=$horizon")
    val files = all.filter(f => foldIdOf(f.path).forall(_ <= asOf))
    if (files.isEmpty) readGrown(spark, root).limit(0)
    else spark.read.parquet(files.map(_.path): _*)
  }

  /** EXPIRE history before a horizon — the VACUUM-with-retention step
    * between [[readGrownAsOf]] (keeps every fold's files forever) and
    * [[compactGrown]] (truncates ALL history): consolidate the seed plus
    * every fold ≤ `keepAfter` into one `expired_<keepAfter>` subdirectory
    * and rebuild the log as (consolidation + later folds). Afterwards
    * `readGrownAsOf(asOf < keepAfter)` REFUSES with the horizon named
    * (the pre-horizon files are gone — returning the horizon's rows
    * under an older label would be a silent lie), while
    * `asOf ≥ keepAfter` still plans exactly: the consolidation carries
    * every pre-horizon row and the retained `batch_<id>` paths keep
    * their fold ids. Bounded history = bounded file count — the
    * small-file prefix merges into one relation, which is the same
    * OPTIMIZE benefit compactGrown buys, minus the history loss.
    *
    * Run it OFFLINE between batches (the compactGrown rotation
    * discipline). Crash story, step by step, each state re-runnable with
    * the same `keepAfter`:
    *  1. the consolidation writes to a dot-prefixed temp dir (invisible
    *     to listings and the log) and renames into place — a crash
    *     leaves either no consolidation (rerun redoes it) or a complete
    *     one the still-intact log simply doesn't reference yet (rerun
    *     overwrites it; readers stayed on the originals throughout);
    *  2. the log rebuild (delete + re-seed, the [[pruneGrown]]
    *     whole-rebuild rule) — a crash in between leaves a log-less root
    *     WITH a complete consolidation; the rerun detects that state and
    *     re-seeds from (consolidation + post-horizon folds) without
    *     touching data;
    *  3. original prefix files delete LAST, only after the new log is
    *     durable — a crash mid-delete leaves stragglers the manifest
    *     reader never consults; the rerun's final sweep (or the next
    *     rerun) removes them.
    * Returns the consolidation directory. */
  def expireGrown(spark: org.apache.spark.sql.SparkSession, root: String,
                  keepAfter: Long): String = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(root, s"expired_$keepAfter")
    val logless = !manifestExists(spark, root)
    if (logless) {
      // step-2 crash recovery ONLY: a complete consolidation at this
      // exact horizon plus no log. Anything else is a misuse (retention
      // is a log feature — a never-folded root has no history to expire).
      require(fs.exists(dir),
        s"expireGrown: no manifest at $root — retention is a log feature " +
          "(and no crashed expiry at this horizon to repair)")
    } else {
      val all = sinkLog(spark, root).allFiles().toSeq
      val prevHorizon = all.flatMap(f => horizonOf(f.path)).maxOption.getOrElse(-1L)
      require(keepAfter >= prevHorizon,
        s"expireGrown: $root is already expired up to fold $prevHorizon > $keepAfter")
      val (prefix, suffix) = all.partition(f => foldIdOf(f.path).forall(_ <= keepAfter))
      require(prefix.nonEmpty,
        s"expireGrown: nothing at or below fold $keepAfter to consolidate at $root")
      if (prefix.exists(f => horizonOf(f.path).isEmpty) || prevHorizon < keepAfter) {
        // step 1: consolidate via an invisible dot-temp, rename into place.
        val tmp = new org.apache.hadoop.fs.Path(root, s".expired_tmp_$keepAfter")
        spark.read.parquet(prefix.map(_.path): _*)
          .write.mode("overwrite").parquet(tmp.toString)
        if (fs.exists(dir)) fs.delete(dir, true) // a prior crashed attempt
        require(fs.rename(tmp, dir), s"expireGrown: rename $tmp -> $dir failed")
        // step 2: rebuild the log whole (per-entry purge is unsafe across
        // the log's own compaction — the pruneGrown rule).
        fs.delete(new org.apache.hadoop.fs.Path(root, MetadataDir), true)
        val consolidated = dataFiles(fs, dir, None).map(SinkFileStatus.apply)
        require(sinkLog(spark, root).add(0L, consolidated ++ suffix),
          s"expireGrown: re-seeding a fresh manifest at $root cannot collide")
      } // else: a completed expiry at this horizon — only sweep leftovers.
    }
    if (logless) {
      // step-2 crash repair: the consolidation is complete; re-seed the
      // log from it plus the post-horizon fold dirs (originals are
      // untouched in this state — deletion is ordered after the rebuild).
      val suffixFiles = fs.listStatus(rootPath).filter(_.isDirectory).flatMap { s =>
        scala.util.Try(s.getPath.getName.stripPrefix("batch_").toLong).toOption
          .filter(id => s.getPath.getName.startsWith("batch_") && id > keepAfter)
          .map(_ => dataFiles(fs, s.getPath, None)).getOrElse(Array.empty)
      }
      val consolidated = dataFiles(fs, dir, None)
      require(sinkLog(spark, root).add(0L,
        (consolidated ++ suffixFiles).map(SinkFileStatus.apply)),
        s"expireGrown: re-seeding a fresh manifest at $root cannot collide")
    }
    // step 3: the originals — root-level seed files, batch_<id> dirs at
    // or below the horizon, older expired_<h> consolidations — delete
    // LAST; the durable new log never references them.
    fs.listStatus(rootPath).foreach { s =>
      val nm = s.getPath.getName
      val stale =
        if (nm.startsWith("_") || nm.startsWith(".")) false
        else if (!s.isDirectory) true // pre-manifest seed data at the root
        else if (nm.startsWith("batch_"))
          scala.util.Try(nm.stripPrefix("batch_").toLong).toOption.exists(_ <= keepAfter)
        else if (nm.startsWith("expired_"))
          scala.util.Try(nm.stripPrefix("expired_").toLong).toOption.exists(_ < keepAfter)
        else false
      if (stale) fs.delete(s.getPath, s.isDirectory)
    }
    dir.toString
  }

  /** DELETE orphaned `batch_<id>` subdirectories with id ABOVE the
    * persisted replay fence — the restart-repair step every growing
    * gate's `restore*` must run before building its live views. A crash
    * between [[growDir]]'s appends and the caller durably recording the
    * new `foldedBatch` leaves the batch's subdirs on disk while the fence
    * still points below them; restored unpruned, the checkpoint-replayed
    * batch would probe an index already containing its OWN rows — every
    * row exact-matches itself, the batch folds as all-duplicate, and the
    * overwrite leaves EMPTY subdirs (the rows silently vanish from the
    * corpus). Deleting the orphans restores the exact pre-fold snapshot;
    * the replay then re-runs the fold and rewrites them. Returns the
    * pruned batch ids (normally empty — only a mid-fold crash leaves
    * any). Tombstone directories are NOT pruned by restores: retire tags
    * are caller-chosen, not batch-fenced. */
  def pruneGrown(spark: org.apache.spark.sql.SparkSession, root: String,
                 maxBatch: Long): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pruned =
      if (!fs.exists(p)) Seq.empty[Long]
      else fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { s =>
        val nm = s.getPath.getName
        if (!nm.startsWith("batch_")) None
        else scala.util.Try(nm.stripPrefix("batch_").toLong).toOption
          .filter(_ > maxBatch)
          .map { id => fs.delete(s.getPath, true); id }
      }.sorted
    // MANIFEST REPAIR: a log referencing any fold above the fence holds
    // entries for the deleted orphans (and, once the replay rewrites
    // them, stale pre-crash file names). Purging individual log entries
    // is unsafe across the log's own compaction boundaries, so repair
    // rebuilds it whole: drop the log, re-list the surviving files once
    // (crash repair only — normal probes never list), and re-seed a
    // fresh log at entry 0.
    val meta = new org.apache.hadoop.fs.Path(root, MetadataDir)
    if (manifestExists(spark, root)) {
      if (sinkLog(spark, root).allFiles()
            .exists(f => foldIdOf(f.path).exists(_ > maxBatch))) {
        fs.delete(meta, true)
        val files = dataFiles(fs, p, None)
        if (files.nonEmpty)
          require(sinkLog(spark, root).add(0L, files.map(SinkFileStatus.apply)),
            s"pruneGrown: re-seeding a fresh manifest at $root cannot collide")
      }
    } else if (fs.exists(meta)) {
      // constructor-mkdir'd but never added to (crash before the first
      // fold's log write): Spark's read path would treat the empty log
      // as authoritative and read zero files — remove it.
      fs.delete(meta, true)
    }
    pruned
  }

  /** COMPACT a grown directory into a fresh consolidated staged relation
    * — the OPTIMIZE step of the growing gates: folds accumulate one
    * small-file subdirectory per batch, and at scale the FILE COUNT (not
    * the data) eventually dominates scan planning and listing. Run it
    * between batches under the usual rotation discipline (build outside
    * the stream, swap the state reference at a batch boundary); the
    * superseded root can be deleted once no live state references it.
    * Returns the consolidated relation and its new directory. */
  def compactGrown(spark: org.apache.spark.sql.SparkSession,
                   root: String): (DataFrame, String) = {
    val consolidated = graft.sources.Tables.stageTracked(readGrown(spark, root))
    require(consolidated.path.isDefined,
      "compactGrown requires parquet staging mode (set graft.stage.dir)")
    (consolidated.df, consolidated.path.get)
  }

  /** [[compactGrown]] with a physical LAYOUT on the consolidated files —
    * the OPTIMIZE … ORDER BY step: folds append in ARRIVAL order, so a
    * probe that filters on any state column reads every file of the
    * grown index; the compaction is the one moment the whole index
    * rewrites anyway, so range-partitioning + sorting it there buys
    * zone-map pruning for every probe until the next compaction, at
    * zero extra passes. `shards` is EXPLICIT (a bare repartitionByRange
    * is AQE-coalesced to one file — nothing left to prune; the
    * Graph.stageSorted lesson). Scan-metric proof in `GateManifestSpec`;
    * equality-probe columns that no single sort order can serve are
    * [[graft.sources.Layout.writeBloomIndexed]]'s job instead. */
  def compactGrownOrdered(spark: org.apache.spark.sql.SparkSession,
                          root: String, orderCols: Seq[String],
                          shards: Int): (DataFrame, String) = {
    require(orderCols.nonEmpty && shards > 0,
      s"compactGrownOrdered needs order columns and a positive shard count")
    val consolidated = graft.sources.Tables.stageTracked(
      readGrown(spark, root)
        .repartitionByRange(shards, orderCols.map(col): _*)
        .sortWithinPartitions(orderCols.map(col): _*))
    require(consolidated.path.isDefined,
      "compactGrownOrdered requires parquet staging mode (set graft.stage.dir)")
    (consolidated.df, consolidated.path.get)
  }

  /** [[compactGrownOrdered]] with a MULTI-DIMENSIONAL layout — OPTIMIZE
    * … ZORDER for growing indexes: a lexicographic (a, b) sort serves
    * only prefix predicates (a filter on b alone still reads every
    * file), but a growing index is probed on whichever state column the
    * gate keys — so the compaction rewrite range-partitions and sorts
    * by the d-dim Morton key of `dims` ((column, bound) pairs — values
    * MUST lie in [0, bound)), giving every consolidated file a narrow
    * bounding box in ALL d dimensions. Zone maps then prune probes
    * filtered on ANY single dimension (scan-metric proof in
    * `GateManifestSpec`, per axis). Same contract as
    * [[compactGrownOrdered]] otherwise: parquet staging mode, explicit
    * `shards`, fresh root, history truncated. */
  def compactGrownMorton(spark: org.apache.spark.sql.SparkSession,
                         root: String, dims: Seq[(String, Long)],
                         shards: Int): (DataFrame, String) =
    compactGrownByKey(readGrown(spark, root)
      .withColumn("__lk", graft.sources.Layout.zValueN(dims)), shards)

  /** [[compactGrownMorton]] on the d-dim HILBERT key — strictly better
    * per-file locality at the same shard count (consecutive cells are
    * always adjacent; the z-curve jumps quadrant seams), at the price
    * of the bigger key projection. Same bounds contract. */
  def compactGrownHilbert(spark: org.apache.spark.sql.SparkSession,
                          root: String, dims: Seq[(String, Long)],
                          shards: Int): (DataFrame, String) =
    compactGrownByKey(graft.sources.Layout.withHilbertN(
      readGrown(spark, root), "__lk", dims), shards)

  private def compactGrownByKey(keyed: DataFrame, shards: Int): (DataFrame, String) = {
    require(shards > 0, "compactGrown layout needs a positive shard count")
    val consolidated = graft.sources.Tables.stageTracked(
      keyed.repartitionByRange(shards, org.apache.spark.sql.functions.col("__lk"))
        .sortWithinPartitions(org.apache.spark.sql.functions.col("__lk"))
        .drop("__lk"))
    require(consolidated.path.isDefined,
      "layout compaction requires parquet staging mode (set graft.stage.dir)")
    (consolidated.df, consolidated.path.get)
  }

  /** Materialize an (id, embedding) relation to a DRIVER-LOCAL relation
    * (LocalTableScan). Gate state holds centroid/codebook relations that
    * every micro-batch re-collects into a plan literal — left as a view
    * over the source, that collect re-runs the source scan per batch;
    * localized once at build time it reads driver memory. By-contract
    * tiny (centroids/codebook, not the corpus). */
  def localizedVectors(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val rows = df.select(col("id").cast("long"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
    import s.implicits._
    rows.toDF("id", "embedding")
  }
}
