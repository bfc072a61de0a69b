package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Graph
import graft.sources.Tables

/** Streaming GRAPH maintenance — the FOLDING members of the [[Gate]]
  * family ([[Gate.startFolding]]): where every other gate probes a frozen
  * per-version index, a graph gate's batch PERMANENTLY joins the graph,
  * so each micro-batch advances the state (labels / counts / rank
  * history) that the next batch folds into. Three gates:
  *
  *  - [[startComponents]]: near-dup cluster labels maintained per batch
  *    ([[Graph.incrementalComponents]] — the contraction runs delta-sized,
  *    the corpus-sized labeling is touched by two broadcast passes);
  *  - [[startTriangles]]: per-node triangle counts
  *    ([[Graph.incrementalTriangles]] — new triangles enumerate from the
  *    batch edges only);
  *  - [[startPageRank]]: exact fixed-iteration rank history
  *    ([[Graph.pageRankRefreshState]] — only the batch's k-hop ball
  *    re-iterates).
  *
  * Every fold's result is bit-identical to a full recompute over all
  * edges seen so far (the batch operators' spec-pinned equivalences carry
  * over verbatim; `StreamingGraphSpec` re-pins them through the stream).
  *
  * State storage: each fold stages the updated state
  * ([[Tables.stageTracked]]); the SUPERSEDED version's directory is NOT
  * dropped inside the fold — it rides in the new state's `superseded`
  * handles and is reclaimed at the START of the next fold (or explicitly
  * via `reclaim()` once the caller has durably recorded the new state
  * path). Dropping inside the fold would open an unrecoverable crash
  * window: between the drop and the caller persisting the new path,
  * neither directory is both live and recorded — for the components gate
  * fatally so, since the labeling alone cannot be rebuilt without the
  * historical edges. Deferring to the next fold keeps at most TWO dirs
  * live per gate (spec-pinned for the components gate) and guarantees the
  * caller's onBatch — its durable-record window — completed before the
  * old dir goes (foreachBatch bodies are sequential). In the default
  * localCheckpoint mode nothing touches disk (`drop()` is a no-op). The
  * inner incremental operators' working stagings are per-batch
  * temporaries (batch-sized contractions resolve on the driver below the
  * local threshold and reclaim their rounds).
  */
object GraphIngest {

  /** Evolving CC state: the staged (node, component) labeling, plus the
    * previous fold's superseded directory handles (reclaimed by the next
    * fold, or by the caller once the new path is durably recorded). */
  final case class ComponentsState(components: Tables.Staged, version: Long,
                                   foldedBatch: Long = -1L,
                                   superseded: Seq[Tables.Staged] = Nil)
    extends Gate.Folded {
    /** Drop the superseded state dirs — call AFTER durably recording
      * `components.path`; the next fold calls it as the backstop. */
    def reclaim(): Unit = superseded.foreach(_.drop())
  }

  /** Label the initial edge set once ([[Graph.connectedComponents]]). */
  def buildComponents(edges: DataFrame, srcCol: String, dstCol: String,
                      version: Long = 0L): ComponentsState =
    ComponentsState(
      Tables.stageTracked(Graph.connectedComponents(edges, srcCol, dstCol)),
      version)

  /** Fold each micro-batch's edges into the labeling; `onBatch` receives
    * the UPDATED (node, component) relation plus (version, batchId) —
    * version increments per fold. `srcCol`/`dstCol` address the stream's
    * payload (e.g. `value.src`, `value.dst`). */
  def startComponents(stream: Stream, state: AtomicReference[ComponentsState],
                      srcCol: String, dstCol: String,
                      checkpoint: Option[String] = None)(
                      onBatch: (DataFrame, Long, Long) => Unit): StreamingQuery =
    Gate.startFolding(stream, state, checkpoint) { (batch, st, batchId) =>
      st.reclaim() // predecessor's dir — its durable-record window closed
      val edges = batch.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      val next = Tables.stageTracked(
        Graph.incrementalComponents(st.components.df, edges))
      (next.df,
        ComponentsState(next, st.version + 1, batchId, Seq(st.components)))
    }(onBatch)

  /** Reconstruct a [[ComponentsState]] from its persisted labeling
    * directory after a restart (durable half = the state dir +
    * the fold high-water; same contract as
    * [[DedupIngest.restoreGrowingState]]). */
  def restoreComponents(spark: org.apache.spark.sql.SparkSession,
                        componentsPath: String, version: Long,
                        foldedBatch: Long): ComponentsState =
    ComponentsState(
      Tables.Staged(spark.read.parquet(componentsPath), Some(componentsPath)),
      version, foldedBatch)

  /** Evolving triangle state: staged per-node counts + the staged
    * canonical edge relation they were computed over, plus the previous
    * fold's superseded handles (same deferred-reclaim contract as
    * [[ComponentsState]]). */
  final case class TrianglesState(counts: Tables.Staged, edges: Tables.Staged,
                                  version: Long, foldedBatch: Long = -1L,
                                  superseded: Seq[Tables.Staged] = Nil)
    extends Gate.Folded {
    /** Drop the superseded state dirs — call AFTER durably recording
      * the new paths; the next fold calls it as the backstop. */
    def reclaim(): Unit = superseded.foreach(_.drop())
  }

  /** Count the initial edge set once ([[Graph.triangleCounts]]). */
  def buildTriangles(edges: DataFrame, srcCol: String, dstCol: String,
                     version: Long = 0L): TrianglesState = {
    val canon = Tables.stageTracked(Graph.canonicalEdges(edges, srcCol, dstCol))
    TrianglesState(
      Tables.stageTracked(Graph.triangleCounts(canon.df, "lo", "hi")),
      canon, version)
  }

  /** Fold each micro-batch's edges into the counts; `onBatch` receives
    * the UPDATED (node, degree, n_tri) relation. */
  def startTriangles(stream: Stream, state: AtomicReference[TrianglesState],
                     srcCol: String, dstCol: String,
                     checkpoint: Option[String] = None)(
                     onBatch: (DataFrame, Long, Long) => Unit): StreamingQuery =
    Gate.startFolding(stream, state, checkpoint) { (batch, st, batchId) =>
      st.reclaim() // predecessor's dirs — durable-record window closed
      val edges = batch.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      val nextCounts = Tables.stageTracked(
        Graph.incrementalTriangles(st.counts.df, st.edges.df, edges))
      val nextEdges = Tables.stageTracked(
        st.edges.df.unionByName(Graph.canonicalEdges(edges, "src", "dst"))
          .distinct())
      (nextCounts.df, TrianglesState(nextCounts, nextEdges, st.version + 1,
        batchId, Seq(st.counts, st.edges)))
    }(onBatch)

  /** Reconstruct a [[TrianglesState]] from its persisted directories
    * after a restart. */
  def restoreTriangles(spark: org.apache.spark.sql.SparkSession,
                       countsPath: String, edgesPath: String, version: Long,
                       foldedBatch: Long): TrianglesState =
    TrianglesState(
      Tables.Staged(spark.read.parquet(countsPath), Some(countsPath)),
      Tables.Staged(spark.read.parquet(edgesPath), Some(edgesPath)),
      version, foldedBatch)

  /** Evolving PageRank state: the symmetric [[Graph.PageRankDirectedState]]
    * of [[Graph.pageRankState]] (staged by its builders; a graph under
    * [[Graph.DefaultLocalThreshold]] symmetrized rows keeps its driver
    * copy instead, so a fold starts no probe job and stages only the
    * history `onBatch` reads) plus the fold version. */
  final case class RankState(pr: Graph.PageRankDirectedState, version: Long,
                             foldedBatch: Long = -1L)
    extends Gate.Folded

  /** Build the initial rank history once ([[Graph.pageRankState]]). */
  def buildPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                    iterations: Int = 3, scale: Long = 1000000000L,
                    version: Long = 0L): RankState =
    RankState(Graph.pageRankState(edges, srcCol, dstCol, iterations, scale),
      version)

  /** Fold each micro-batch's edges into the rank history
    * ([[Graph.pageRankRefreshState]] — only the batch's k-hop ball
    * re-iterates); `onBatch` receives the updated (node, degree, rs)
    * history relation (`rs[iterations]` = current rank; attach to a
    * vertex corpus with one broadcast join as [[Graph.pageRank]] does). */
  def startPageRank(stream: Stream, state: AtomicReference[RankState],
                    srcCol: String, dstCol: String,
                    checkpoint: Option[String] = None)(
                    onBatch: (DataFrame, Long, Long) => Unit): StreamingQuery =
    Gate.startFolding(stream, state, checkpoint) { (batch, st, batchId) =>
      val edges = batch.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      val next = Graph.pageRankRefreshState(st.pr, edges, "src", "dst")
      (next.ranks, RankState(next, st.version + 1, batchId))
    }(onBatch)

  /** Evolving k-core state: the staged (node, deg) core membership + the
    * staged canonical edge relation it was peeled from, plus the previous
    * fold's superseded handles (same deferred-reclaim contract as
    * [[ComponentsState]]). */
  final case class KCoreState(core: Tables.Staged, edges: Tables.Staged,
                              k: Int, version: Long, foldedBatch: Long = -1L,
                              superseded: Seq[Tables.Staged] = Nil)
    extends Gate.Folded {
    /** Drop the superseded state dirs — call AFTER durably recording
      * the new paths; the next fold calls it as the backstop. */
    def reclaim(): Unit = superseded.foreach(_.drop())
  }

  /** Peel the initial edge set once ([[Graph.kCore]]). */
  def buildKCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
                 version: Long = 0L): KCoreState = {
    val canon = Tables.stageTracked(Graph.canonicalEdges(edges, srcCol, dstCol))
    KCoreState(Graph.kCoreTracked(canon.df, "lo", "hi", k), canon, k, version)
  }

  /** Fold each micro-batch's edges into the k-core; `onBatch` receives
    * the UPDATED (node, deg) core membership.
    *
    * HONESTY NOTE — this fold is a FULL RE-PEEL over the union of edges
    * seen so far, not a localized refresh: unlike PageRank's
    * fixed-iteration semantics (rank_k is a function of the k-hop
    * in-neighborhood, so a batch's influence is ball-bounded), k-core
    * membership has NO locality bound — one new edge can lift one node
    * over the threshold and resurrect an arbitrarily long chain of
    * previously-peeled nodes (the cascade IS the semantics;
    * StreamingGraphSpec pins a cross-batch resurrection). What the gate
    * maintains incrementally is the lifecycle: the staged canonical edge
    * union, the replay fence, and the deferred-reclaim discipline. */
  def startKCore(stream: Stream, state: AtomicReference[KCoreState],
                 srcCol: String, dstCol: String,
                 checkpoint: Option[String] = None)(
                 onBatch: (DataFrame, Long, Long) => Unit): StreamingQuery =
    Gate.startFolding(stream, state, checkpoint) { (batch, st, batchId) =>
      st.reclaim() // predecessor's dirs — durable-record window closed
      val edges = batch.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      val nextEdges = Tables.stageTracked(
        st.edges.df.unionByName(Graph.canonicalEdges(edges, "src", "dst"))
          .distinct())
      val nextCore = Graph.kCoreTracked(nextEdges.df, "lo", "hi", st.k)
      (nextCore.df, KCoreState(nextCore, nextEdges, st.k, st.version + 1,
        batchId, Seq(st.core, st.edges)))
    }(onBatch)

  /** Evolving LPA community state: the staged (node, lbl) label relation
    * + the staged canonical edge union it was propagated from, plus the
    * previous fold's superseded handles (the [[KCoreState]]
    * deferred-reclaim contract). */
  final case class LpaState(labels: Tables.Staged, edges: Tables.Staged,
                            iterations: Int, version: Long,
                            foldedBatch: Long = -1L,
                            superseded: Seq[Tables.Staged] = Nil)
    extends Gate.Folded {
    /** Drop the superseded state dirs — call AFTER durably recording
      * the new paths; the next fold calls it as the backstop. */
    def reclaim(): Unit = superseded.foreach(_.drop())
  }

  /** Propagate the initial edge set once ([[Graph.labelPropagation]]). */
  def buildLpa(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, version: Long = 0L): LpaState = {
    val canon = Tables.stageTracked(Graph.canonicalEdges(edges, srcCol, dstCol))
    LpaState(Graph.labelPropagationTracked(canon.df, "lo", "hi", iterations),
      canon, iterations, version)
  }

  /** Fold each micro-batch's edges into the community labels; `onBatch`
    * receives the UPDATED (node, lbl) relation.
    *
    * HONESTY NOTE — this fold RE-PROPAGATES over the union of edges seen
    * so far. Unlike k-core, fixed-iteration LPA IS ball-local (round-k
    * labels are a function of the k-hop neighborhood), so a
    * pageRankRefresh-style history splice is POSSIBLE — it is not built
    * because the measured pageRank crossover (README §incremental
    * upkeep: refresh LOSES to recompute below ~10M edges; micro-batch
    * state sits far below) says the splice's constant costs dominate at
    * gate scale. What the gate maintains incrementally is the lifecycle:
    * the staged edge union, the replay fence, deferred reclaim. */
  def startLpa(stream: Stream, state: AtomicReference[LpaState],
               srcCol: String, dstCol: String,
               checkpoint: Option[String] = None)(
               onBatch: (DataFrame, Long, Long) => Unit): StreamingQuery =
    Gate.startFolding(stream, state, checkpoint) { (batch, st, batchId) =>
      st.reclaim() // predecessor's dirs — durable-record window closed
      val edges = batch.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      val nextEdges = Tables.stageTracked(
        st.edges.df.unionByName(Graph.canonicalEdges(edges, "src", "dst"))
          .distinct())
      val nextLabels = Graph.labelPropagationTracked(nextEdges.df, "lo", "hi",
        st.iterations)
      (nextLabels.df, LpaState(nextLabels, nextEdges, st.iterations,
        st.version + 1, batchId, Seq(st.labels, st.edges)))
    }(onBatch)

  /** Reconstruct an [[LpaState]] from its persisted directories after a
    * restart — what persists at `labelsPath` IS the final round's
    * (node, lbl) relation, so no view re-derivation is needed; the
    * `superseded` contract is [[restoreKCore]]'s. */
  def restoreLpa(spark: org.apache.spark.sql.SparkSession,
                 labelsPath: String, edgesPath: String, iterations: Int,
                 version: Long, foldedBatch: Long,
                 superseded: Seq[String] = Nil): LpaState =
    LpaState(
      Tables.Staged(spark.read.parquet(labelsPath), Some(labelsPath)),
      Tables.Staged(spark.read.parquet(edgesPath), Some(edgesPath)),
      iterations, version, foldedBatch,
      superseded.map(p => Tables.Staged(spark.read.parquet(p), Some(p))))

  /** Reconstruct a [[KCoreState]] from its persisted directories after a
    * restart.
    *
    * `superseded`: staged round dirs that were PENDING deferred reclaim
    * when the process died (the pre-crash state's `superseded` paths, if
    * the caller persisted them alongside core/edges) — pass them here and
    * the first post-restart fold's backstop `reclaim()` sweeps them.
    * Left empty, those dirs are a bounded DISK LEAK only (at most one
    * fold's core+edges), never a correctness issue: folds re-peel from
    * the persisted edge union, which never references them. Callers that
    * don't persist the pending paths should sweep stale dirs under their
    * `graft.stage.dir` on restart instead. */
  def restoreKCore(spark: org.apache.spark.sql.SparkSession,
                   corePath: String, edgesPath: String, k: Int,
                   version: Long, foldedBatch: Long,
                   superseded: Seq[String] = Nil): KCoreState = {
    // what PERSISTS at corePath is the final staged ARC relation of the
    // peel (kCoreTracked's Staged pairs the (node, deg) aggregate VIEW
    // with the arc dir it reads from) — restore must re-derive the view,
    // not surface raw arcs as the core.
    val arcs = spark.read.parquet(corePath)
    val coreView = arcs.groupBy(col("src"))
      .agg(count(lit(1)).cast("bigint").as("deg"))
      .select(col("src").as("node"), col("deg"))
    KCoreState(
      Tables.Staged(coreView, Some(corePath)),
      Tables.Staged(spark.read.parquet(edgesPath), Some(edgesPath)),
      k, version, foldedBatch,
      superseded.map(p => Tables.Staged(spark.read.parquet(p), Some(p))))
  }
}
