package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver's TPC-H-ish corpus
  * (`/root/testdata/sf*`, see TESTDATA.md).
  *
  * All loads are plain `spark.read.parquet` so Catalyst owns predicate
  * pushdown / column pruning — callers select/filter lazily and the scan
  * only reads the referenced columns (verified via `.explain` in specs).
  */
object Tables {
  import org.apache.spark.sql.functions._

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` arrives in one of two physical layouts depending on the
    * testdata generation:
    *  - parquet TIMESTAMP(NANOS), which Spark 4 rejects
    *    ([PARQUET_TYPE_ILLEGAL]) unless read as long
    *    (`spark.sql.legacy.parquet.nanosAsLong=true`, set by
    *    [[graft.Session]], which every entry point builds its session
    *    with) — then converted with integer division (`div`, not
    *    `/`: epoch-nanos ~1.7e18 exceeds double's 2^53 integer range);
    *  - parquet TIMESTAMP(MICROS) without timezone, which Spark surfaces
    *    as TIMESTAMP_NTZ — cast to the session-zoned TimestampType (all
    *    entry points pin UTC, so the cast is value-identical and matches
    *    DuckDB, which surfaces the column as naive µs TIMESTAMP).
    * Both normalize to the same µs TimestampType column; downstream code
    * never sees the difference. The loader is PURE — it must not mutate
    * shared session conf, which would surprise a concurrent user of the
    * same session. (A per-read option does NOT work for the nanos case:
    * the task-side parquet readers consult the session conf, not
    * datasource options — verified empirically on Spark 4.1.)
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = s.read.parquet(s"$d/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Fan a low-parallelism scan out to the cluster's width BEFORE heavy
    * per-row compute (hashing, signatures). Single-file/single-row-group
    * parquet yields one scan task no matter how many cores exist; hash-heavy
    * operators then run serially. The repartition is CONDITIONAL — if the
    * source already splits to ≥ default parallelism (any real 100 TB
    * table), it's a no-op and costs nothing; only starved scans pay one
    * small shuffle to unlock every core. (Same remedy as for gzip/csv
    * unsplittable sources.) */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // df.rdd instantiates a second physical plan just to read the partition
    // count; memoize per (analyzed-plan hash, scan signature) so repeated
    // query construction over the same scan plans it once. The signature
    // folds in each file-source root's modification time, so a staging
    // directory REWRITTEN within one JVM (different file count → different
    // split) changes the key instead of serving a stale partition count —
    // one driver-side getFileStatus per root, far cheaper than the
    // physical plan the memo avoids.
    val key = (df.queryExecution.analyzed.semanticHash(), scanSignature(df))
    val parts = fanOutParts.getOrElseUpdate(key, df.rdd.getNumPartitions)
    if (parts < target) df.repartition(target) else df
  }
  private val fanOutParts = scala.collection.concurrent.TrieMap.empty[(Int, Long), Int]

  /** Order-independent fingerprint of the plan's file-source roots: per
    * root, the direct-child count plus a commutative sum of per-child
    * `len·31 + mtime` terms (one driver-side `listStatus` per root).
    * Folding child lengths and count is what makes same-second rewrites
    * distinguishable — local-FS mtime granularity can be a full second,
    * so a root-dir mtime alone would serve a stale memoized partition
    * count for a staging-dir rewrite within one timestamp tick. 0 for
    * plans with no file scan (local relations, memory streams). */
  private[graft] def scanSignature(df: DataFrame): Long =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map { p =>
              val stat =
                try {
                  val children = p
                    .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
                    .listStatus(p)
                  // order-independent: listStatus ordering is not contractual.
                  children.map(c => c.getLen * 31L + c.getModificationTime).sum *
                    31L + children.length
                } catch { case _: java.io.IOException => -1L }
              p.toString.hashCode.toLong * 31L + stat
            }.sum
          case _ => 0L
        }
    }.sum

  /** Materialize an expensive intermediate relation ONCE before a self-join.
    *
    * Spark has no automatic subplan reuse across the two sides of a
    * self-join (each side re-executes the whole subtree — verified: zero
    * `ReusedExchange` nodes in the MinHash band-join plan), so a
    * signature/band relation built with per-row hashing would be computed
    * twice.
    *
    * Two modes behind one API:
    *  - default: `localCheckpoint(eager = false)` — truncates lineage and
    *    caches partitions on executors. Fast, but NOT fault-tolerant: the
    *    truncated lineage means an executor loss (or cache eviction) in a
    *    real cluster fails the job unrecoverably. Fine for a single-JVM
    *    harness or re-runnable batch jobs.
    *  - `graft.stage.dir` set in the session conf: the relation is written
    *    to a parquet staging table under that directory and read back —
    *    the cluster-safe mode for multi-TB intermediates (survives executor
    *    loss, readable by downstream jobs, columnar scans on reuse). */
  def stage(df: DataFrame): DataFrame = stageTracked(df).df

  /** [[stage]] with a cleanup handle — for ITERATIVE operators (e.g.
    * [[graft.operators.Graph.connectedComponents]]) that stage a relation
    * per round: without cleanup, parquet-staging mode accretes one
    * `stage_N` directory per round that is never reclaimed. Call
    * [[Staged.drop]] on a round's handle once the NEXT round is fully
    * materialized (the write in staging mode is eager, so "next staged"
    * = "previous dir no longer referenced by any live plan").
    *
    * In `localCheckpoint` mode `drop()` is a no-op: a checkpointed
    * relation's lineage is truncated, so its cached partitions must NOT be
    * unpersisted while any derived plan might still read it; executor-side
    * cache eviction is the reclaim path there. */
  def stageTracked(df: DataFrame): Staged =
    df.sparkSession.conf.getOption("graft.stage.dir") match {
      case Some(dir) =>
        val path = s"$dir/stage_${stageCounter.incrementAndGet()}"
        // a failed write can leave a partial directory behind — reclaim it
        // before rethrowing so aborted stagings never leak storage.
        try df.write.mode("overwrite").parquet(path)
        catch {
          case t: Throwable =>
            try {
              val hp = new org.apache.hadoop.fs.Path(path)
              hp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
                .delete(hp, true)
            } catch { case cleanup: Throwable => t.addSuppressed(cleanup) }
            throw t
        }
        Staged(df.sparkSession.read.parquet(path), Some(path))
      case None => Staged(df.localCheckpoint(false), None)
      // A lazy-persist variant (defer materialization into the consuming
      // action) was A/B-measured here in r17 and REJECTED: its apparent
      // −40-70% probe wins were entirely cross-run CacheManager plan-match
      // reuse (a banned memoization); with a cache clear before every
      // timed run it measured 1.3-1.6× SLOWER than localCheckpoint on
      // every probed key, and deep staging chains (x_pipeline_modern)
      // hung/OOM'd in planning. See OPTIMIZATION_r17.md.
    }
  private val stageCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run INDEPENDENT materializations concurrently (guide §2.6: actions
    * are only sequential because driver code calls them sequentially —
    * Spark's scheduler happily runs several jobs at once, and a later
    * job's tasks back-fill executors freed by the current job's tail).
    * Each `stage()` call materializes its shuffle stages eagerly at
    * query construction, so a chain of stagings whose DAG has
    * independent branches pays every branch's fixed job latency in
    * SERIES unless the branches are submitted from separate threads
    * (the r17 verdict's top item: ~0.1-0.6 s fixed wall per staged
    * execution at sf0.1, all sequential).
    *
    * Only for thunks with NO data dependence on each other. Failures
    * rethrow (first awaited failure wins; the sibling jobs run to
    * completion harmlessly). The pool is unbounded-cached (daemon
    * threads): nested inParallel calls can never deadlock on a fixed
    * pool, and idle threads reap after 60 s. */
  def inParallel[A](thunks: Seq[() => A]): Seq[A] =
    if (thunks.lengthCompare(1) <= 0) thunks.map(_())
    else thunks.map(defer).map(_())

  /** [[inParallel]]'s one-sided form: start `thunk` NOW on the shared
    * pool, return a handle that joins on call — for one independent job
    * to overlap a longer driver-side sequence. */
  def defer[A](thunk: () => A): () => A = {
    val f = java.util.concurrent.CompletableFuture.supplyAsync(
      () => thunk(), parallelPool)
    () =>
      try f.join()
      catch {
        // unwrap the CompletionException so callers see the real
        // failure (require/Spark exceptions), matching serial behavior.
        case e: java.util.concurrent.CompletionException
          if e.getCause != null => throw e.getCause
      }
  }
  private lazy val parallelPool: java.util.concurrent.ExecutorService = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, s"graft-parallel-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  /** A staged relation plus the handle to reclaim its backing storage once
    * superseded (parquet-staging mode only — see [[stageTracked]]).
    *
    * `drop()` REFUSES to delete a path that does not lie under the
    * session's CURRENT `graft.stage.dir`: the handle holds a raw path and
    * recursively deletes it, so a conf change between staging and dropping
    * (or a hand-constructed handle) must not be able to aim the delete at
    * arbitrary data. Refusal throws — silently keeping the dir would hide
    * a leak, silently deleting would be worse. */
  final case class Staged(df: DataFrame, path: Option[String]) {
    def drop(): Unit = path.foreach { p =>
      val stageDir = df.sparkSession.conf.getOption("graft.stage.dir")
      require(stageDir.exists(d => p.startsWith(d.stripSuffix("/") + "/")),
        s"Staged.drop refused: '$p' is not under the current graft.stage.dir " +
          s"(${stageDir.getOrElse("<unset>")})")
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        .delete(hp, true)
    }
  }
}
