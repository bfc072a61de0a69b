package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables.{stage, stageTracked}

/** Distributed connected components over an undirected edge list — the
  * operator that turns near-duplicate PAIRS (TextDedup's output) into
  * dedup CLUSTERS, so a pipeline can keep one canonical document per
  * cluster. At 100 TB this is the standard follow-on to MinHash/SimHash
  * dedup (pair lists alone under-merge: near-dup is not transitive, the
  * cluster closure is what dedup actually removes).
  *
  * Algorithm: alternating large-star / small-star contractions (Kiveris
  * et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
  * converges in O(log n) rounds regardless of graph diameter, unlike plain
  * min-label propagation whose round count is the component DIAMETER (a
  * chain of pairwise near-dups at 100 TB can be arbitrarily long).
  * Each phase computes the per-node minimum as a window aggregate over the
  * node key — ONE shuffle of the edge list per phase (plus the dedup
  * exchange), O(log n) rounds, edges only ever shrink toward the star
  * forest.
  *
  * Determinism: labels are integer minima over integer node ids — no FP
  * anywhere, so any engine (and the DuckDB recursive-CTE oracle) agrees
  * bit-for-bit.
  *
  * Scale notes:
  *  - every round's edge relation is staged
  *    ([[graft.sources.Tables.stageTracked]]): iterative DataFrame loops
  *    otherwise accrete lineage until planning itself dominates, and each
  *    round's result feeds BOTH the next round's aggregation and its join
  *    side. In parquet-staging mode a round's directory is DROPPED as soon
  *    as the next round is materialized, so disk usage stays O(1) rounds,
  *    not O(log n);
  *  - convergence is detected with an order-independent 128-bit checksum
  *    (count + bit_xor of two differently-seeded 64-bit edge hashes) —
  *    one tiny action per round, never a full `except` anti-join. A false
  *    convergence needs both keyed xors AND the count to collide between
  *    consecutive non-equal edge sets — far beyond a single family's
  *    ~2^-64 (see [[checksum]] for the exact claim);
  *  - a skewed star (one hub in millions of edges) is exactly what
  *    large-star is designed to flatten; AQE's skew-join handling covers
  *    the transient rounds;
  *  - the contraction ENDS on the driver: once the (geometrically
  *    shrinking) edge set drops under [[Graph.DefaultLocalThreshold]]
  *    (~8 MiB), one collect + union-find replaces the last ~log(bound)
  *    distributed rounds of near-empty shuffle stages — a documented,
  *    by-contract-bounded collect, identical labels.
  */
object Graph {

  /** Edge-count bound below which the contraction finishes on the driver
    * (collect + union-find): ~8 MiB of edge pairs. Star contraction
    * shrinks the edge set geometrically, so every run ENDS in this regime;
    * finishing locally replaces the last ~log(threshold) distributed
    * rounds (each 3–4 shuffle stages of near-empty partitions) with one
    * collect — the same hybrid ending GraphFrames uses. Set 0 to force
    * the pure distributed fixed point. */
  val DefaultLocalThreshold: Long = 1L << 19

  /** (node, component) for every node incident to ≥1 NON-self-loop edge;
    * `component` is the smallest node id in the connected component. Edges
    * are undirected; duplicates are tolerated; self-loops are dropped up
    * front, so a node whose ONLY edges are self-loops gets no row here —
    * use [[componentsForVertices]] to retain such nodes (and fully isolated
    * ones) as singleton components. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 50,
                          localThreshold: Long = DefaultLocalThreshold): DataFrame =
    connectedComponentsTracked(edges, srcCol, dstCol, maxIter, localThreshold).df

  /** [[connectedComponents]] returning a [[graft.sources.Tables.Staged]]
    * handle: `.df` is the (node, component) result; in parquet-staging
    * mode it reads the FINAL round's staging directory, and `.drop()`
    * reclaims that directory once the result has been consumed
    * (materialized downstream) — the plain overload necessarily leaves
    * that one directory behind (the returned DataFrame is lazy, so the
    * operator cannot know when deletion is safe). Every SUPERSEDED round
    * is reclaimed as the loop advances, and every staged directory is
    * reclaimed on ANY exception path (including non-convergence) — an
    * aborted run leaks nothing. When the run ENDS via the local terminal
    * path (edge count ≤ `localThreshold`), the result is a driver-local
    * relation: every staging directory is already reclaimed and the
    * handle's path is None (`drop()` is a no-op). */
  def connectedComponentsTracked(edges: DataFrame, srcCol: String, dstCol: String,
                                 maxIter: Int = 50,
                                 localThreshold: Long = DefaultLocalThreshold)
      : graft.sources.Tables.Staged = {
    var (cur, sig) = stageWithChecksum(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct())
    try {
      var converged = false
      var rounds = 0
      while (!converged && sig._1 > localThreshold && rounds < maxIter) {
        // one action per round: in staging mode the write carries the
        // checksum as observed metrics; in localCheckpoint mode the
        // checksum aggregate is the materializing action.
        val (next, nsig) = stageWithChecksum(smallStar(largeStar(cur.df)))
        // `next` is fully materialized, so the superseded round's storage
        // can go as soon as its checksum lands.
        cur.drop()
        converged = nsig == sig
        sig = nsig
        cur = next
        rounds += 1
      }
      if (sig._1 <= localThreshold) {
        // the edge set fits the driver: finish with union-find. Star
        // contraction preserves node sets and connectivity every round,
        // so components over the CURRENT edges = components over the
        // input, and min-root union keeps labels = member minima.
        val result = localComponents(cur.df)
        cur.drop()
        return graft.sources.Tables.Staged(result, None)
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds")
      // fixed point = star forest: every non-root points DIRECTLY at its
      // component's minimum; roots/isolated nodes appear only as dst.
      val e = cur.df
      val result = e.select(col("src").as("node"), col("dst").as("component"))
        .union(e.select(col("dst").as("node"), col("dst").as("component")))
        .distinct()
      graft.sources.Tables.Staged(result, cur.path)
    } catch {
      case t: Throwable => cur.drop(); throw t
    }
  }

  /** Stage one round's edge relation AND compute its checksum in a single
    * action. Parquet-staging mode: the checksum rides the eager write as
    * `observe`d metrics (CollectMetrics — no second read-back scan of the
    * staged files). localCheckpoint mode: the checkpoint is lazy, so the
    * checksum aggregate IS the (one) materializing action, guarded so a
    * dying action reclaims the round's storage. */
  private def stageWithChecksum(df: DataFrame): (graft.sources.Tables.Staged, (Long, Long, Long)) =
    df.sparkSession.conf.getOption("graft.stage.dir") match {
      case Some(_) =>
        val obs = org.apache.spark.sql.Observation()
        val staged = stageTracked(df.observe(obs,
          count(lit(1)).as("n"),
          expr("bit_xor(xxhash64(src, dst))").as("x"),
          expr("bit_xor(xxhash64(1, src, dst))").as("y")))
        // guarded like the localCheckpoint branch: a metrics-retrieval
        // failure after the directory exists must reclaim it, or the
        // "aborted run leaks nothing" contract breaks (the caller's catch
        // only drops the PREVIOUS round). A failure inside the write
        // itself is cleaned up by stageTracked.
        val m =
          try obs.get
          catch { case t: Throwable => staged.drop(); throw t }
        def g(k: String): Long = m.get(k) match {
          case Some(v: Long) => v
          case _ => 0L // bit_xor over zero rows observes null
        }
        (staged, (g("n"), g("x"), g("y")))
      case None =>
        val staged = stageTracked(df)
        val sig =
          try checksum(staged.df)
          catch { case t: Throwable => staged.drop(); throw t }
        (staged, sig)
    }

  /** Driver union-find over a ≤[[DefaultLocalThreshold]]-edge relation:
    * path compression + union-by-minimum (attaching the larger root under
    * the smaller keeps every root the minimum of its set — the same label
    * convention as the distributed contraction, bit-for-bit). */
  private def localComponents(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    val edges = e.select(col("src"), col("dst")).collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.keySet.forEach(n => rows += ((n, find(n))))
    spark.createDataset(rows.toSeq)(org.apache.spark.sql.Encoders.product[(Long, Long)])
      .toDF("node", "component")
  }

  /** [[connectedComponents]] extended to a full vertex relation: vertices
    * with no edge become singleton components (component = own id).
    * Output: (node, component).
    *
    * `broadcastComponents` (default true): in the dedup regime the edge
    * list — and therefore the component relation, ≤ 2·|edges| rows of two
    * longs — is orders of magnitude smaller than the vertex corpus, so
    * broadcasting it keeps the corpus-sized vertex relation from
    * shuffling for the join (the staged relation has no stats, so the
    * planner would otherwise default to sort-merge). Set false for DENSE
    * graphs whose component relation rivals the vertex set. */
  def componentsForVertices(vertices: DataFrame, idCol: String,
                            edges: DataFrame, srcCol: String, dstCol: String,
                            maxIter: Int = 50,
                            broadcastComponents: Boolean = true,
                            localThreshold: Long = DefaultLocalThreshold): DataFrame = {
    val comp0 = connectedComponents(edges, srcCol, dstCol, maxIter, localThreshold)
    val comp = if (broadcastComponents) broadcast(comp0) else comp0
    vertices.select(col(idCol).cast("long").as("node"))
      .join(comp, Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }

  /** INCREMENTAL connected components — the per-batch cluster-maintenance
    * step of a daily-ingest dedup pipeline: fold a (small) batch of new
    * edges into an existing labeling without re-contracting the full pair
    * set. `prevComponents` is a (node, component) relation as produced by
    * [[connectedComponents]]/[[componentsForVertices]] (labels = smallest
    * node id in the component — the invariant this operator preserves);
    * `newEdges` is the batch. Output: the updated (node, component)
    * relation covering every prior node plus the new edges' endpoints
    * (a new node whose only new edges are self-loops is dropped, matching
    * [[connectedComponents]]' contract).
    *
    * Plan shape (the 100 TB contract — `prevComponents` is corpus-sized,
    * the batch is not): the batch's endpoint ids broadcast onto prev to
    * look up prior labels (corpus pass 1, nothing shuffles), and the
    * ≤ 2·|batch|-row result is MATERIALIZED to the driver as a local
    * relation — left lazy, the lookup subplan would re-evaluate inside
    * each of its three consuming broadcasts, i.e. three more corpus
    * scans (a documented by-contract-bounded collect, like the CC
    * terminal); each new edge CONTRACTS to its endpoints' prior
    * components, so the star-contraction loop runs on a ≤|batch|-edge
    * graph of component representatives — never on the corpus; the
    * resulting (tiny) relabeling broadcasts back onto prev (corpus pass
    * 2). Exactly two passes over the corpus-sized relation — GraphSpec
    * pins the second as the result plan's ONLY corpus scan — both
    * broadcast joins, regardless of cluster sizes.
    *
    * Equivalence (GraphSpec, randomized splits): merged-cluster labels are
    * minima over contracted representatives = minima over all member node
    * ids, so the result is bit-identical to a full recompute over the
    * union edge set — and `x_cc_incremental`'s oracle checks the
    * incremental path against the full recursive-CTE closure.
    *
    * In `graft.stage.dir` mode the inner delta contraction leaves its
    * final round directory behind (same contract as the plain
    * [[connectedComponents]] overload). */
  def incrementalComponents(prevComponents: DataFrame, newEdges: DataFrame,
                            srcCol: String = "src", dstCol: String = "dst",
                            maxIter: Int = 50): DataFrame = {
    val e = newEdges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val ids = e.select(explode(array(col("src"), col("dst"))).as("node")).distinct()
    val prev = prevComponents.select(col("node").cast("long").as("node"),
      col("component").cast("long").as("component"))
    // prior labels for the batch's endpoints only: ≤ 2|batch| rows, fanned
    // into THREE broadcast subplans below — materialize once (corpus pass
    // 1) instead of re-running the corpus lookup per consumer.
    val spark = prevComponents.sparkSession
    val hits = spark.createDataset(
      prev.join(broadcast(ids), Seq("node"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)(
      org.apache.spark.sql.Encoders.product[(Long, Long)])
      .toDF("node", "component")
    val mapped = e
      .join(broadcast(hits.select(col("node").as("src"), col("component").as("__sc"))),
        Seq("src"), "left")
      .join(broadcast(hits.select(col("node").as("dst"), col("component").as("__dc"))),
        Seq("dst"), "left")
      .select(coalesce(col("__sc"), col("src")).as("src"),
        coalesce(col("__dc"), col("dst")).as("dst"))
    // contract the delta graph: nodes are prior component representatives
    // and brand-new ids; an edge inside one prior component self-loops
    // away. Representatives are their components' minimum node ids, so
    // the delta labels are global minima over the merged memberships.
    val delta = connectedComponents(mapped, "src", "dst", maxIter)
    val prior = prev
      .join(broadcast(delta.select(col("node").as("component"), col("component").as("__nc"))),
        Seq("component"), "left")
      .select(col("node"), coalesce(col("__nc"), col("component")).as("component"))
    // new nodes = batch endpoints absent from prev (both relations tiny).
    val newRows = delta.join(broadcast(ids.join(broadcast(hits.select("node")),
      Seq("node"), "left_anti")), Seq("node"))
      .select(col("node"), col("component"))
    prior.unionByName(newRows)
  }

  /** large-star(u): connect every neighbor v > u to m = min(Γ(u) ∪ {u}).
    * Emitted edges keep dst < src (m ≤ u < v). Connectivity-preserving;
    * flattens high-degree hubs in one round.
    *
    * The per-node minimum is a whole-partition window aggregate over the
    * node key — ONE shuffle of the symmetric edge list, versus the
    * groupBy-then-self-join formulation's two (same key twice). The
    * window partitions on `src`, the graph's maximum-cardinality key, and
    * min() over an unbounded frame is a constant-memory running aggregate
    * — a hub's partition streams, it never buffers. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
    sym
      .withColumn("__m", least(col("src"),
        min(col("dst")).over(Window.partitionBy(col("src")))))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("__m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** small-star(u): over the big→small directed edges, connect u and all
    * its smaller neighbors to m = min — turning every local cluster into a
    * star on the minimum. Same one-shuffle window-min shape as
    * [[largeStar]]; the node's self-edge (u, m) replaces the removed
    * (u, m) original so m itself stays attached. */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val withMin = dir.withColumn("__mn",
      min(col("dst")).over(Window.partitionBy(col("src"))))
    val reattached = withMin
      .filter(col("dst") =!= col("__mn"))
      .select(col("dst").as("src"), col("__mn").as("dst"))
    // one self-edge per node: (src, min) — emitted per row, deduplicated
    // by the final distinct (no point paying a second exchange first).
    val selfEdge = withMin.select(col("src"), col("__mn").as("dst"))
    reattached.union(selfEdge).distinct()
  }

  /** Per-node triangle participation over an undirected edge list — the
    * graph-metrics follow-on to CC: triangle density separates tight
    * near-dup CLIQUES from chains/stars of borderline pairs (a clique
    * cluster is safe to collapse to one canonical doc; a long low-triangle
    * chain is transitive-closure overreach worth auditing before dedup
    * deletes half of it).
    *
    * Algorithm: degree-ordered node-iterator (Suri & Vassilvitskii,
    * "Counting Triangles and the Curse of the Last Reducer", WWW'11):
    * orient each canonical edge toward its (degree, id)-larger endpoint;
    * every triangle then has exactly one wedge whose center ≺-precedes
    * both legs, so it is counted exactly once, and out-degrees are
    * bounded by O(√m) — a degree-D near-dup hub generates O(m) wedges,
    * not O(D²). That bound is the whole reason this survives hot
    * duplicate clusters at 100 TB.
    *
    * Plan shape: canonical edges and the oriented relation are staged
    * (each feeds ≥2 join sides — no automatic subplan reuse); wedges are
    * an equi-self-join on the center node; closure is an equi-join of the
    * ordered legs against the oriented edges. No cartesian anywhere; the
    * only shuffles are on node / leg-pair keys.
    *
    * Output: (node, degree, n_tri) for every node with ≥1 non-loop edge
    * (n_tri = triangles containing the node; labels are exact integers,
    * so any engine agrees bitwise). */
  /** Canonical undirected edge relation: (lo, hi) with lo < hi, distinct,
    * self-loops dropped — the normal form [[triangleCounts]] and
    * [[incrementalTriangles]] operate on (and the state the latter's
    * caller persists between batches). */
  def canonicalEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"))
      .filter(col("lo") < col("hi"))
      .distinct()

  /** k-CORE: the maximal subgraph in which every node has degree ≥ k —
    * the classic graph-quality gate (a near-dup cluster's 2-core is its
    * genuinely inter-linked part; degree-1 chains are transitive
    * overreach). Computed by iterative PEELING: drop every node with
    * current degree < k, re-count, repeat to fixpoint — each round's
    * removals can lower surviving degrees, so the loop (not a single
    * filter) IS the semantics. Output: (node, deg) — surviving nodes
    * with their in-core degree.
    *
    * Scale shape (the CC loop discipline): the symmetric arc relation
    * stages per round ([[graft.sources.Tables.stageTracked]], superseded
    * rounds reclaimed); each round is one degree aggregate over the
    * staged arcs plus one pass removing arcs incident to the peel front
    * (two anti-joins in a single plan — AQE broadcasts the front when
    * small, shuffles otherwise, since round-1 fronts can be a large
    * fraction of sparse graphs). Rounds = peel depth of the graph (the
    * longest chain of cascading removals); `maxRounds` fail-fasts
    * pathological depth instead of silently stopping early. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 100): DataFrame =
    kCoreTracked(edges, srcCol, dstCol, k, maxRounds).df

  /** [[kCore]] returning the Staged handle of the final arc relation —
    * callers in parquet-staging mode `.drop()` it once consumed (the CC
    * tracked-variant convention). */
  def kCoreTracked(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
                   maxRounds: Int = 100): graft.sources.Tables.Staged = {
    require(k >= 1, s"k=$k")
    val ce = canonicalEdges(edges, srcCol, dstCol)
    var cur = stageTracked(
      ce.select(col("lo").as("src"), col("hi").as("dst"))
        .union(ce.select(col("hi").as("src"), col("lo").as("dst"))))
    // the in-flight peel front, visible to the catch-all: staging `next`
    // can throw mid-round, and the round's already-staged front must not
    // leak its directory when it does.
    var front: Option[graft.sources.Tables.Staged] = None
    try {
      var rounds = 0
      while (true) {
        val f = stageTracked(
          cur.df.groupBy(col("src")).agg(count(lit(1)).as("deg"))
            .filter(col("deg") < k).select(col("src").as("peel")))
        front = Some(f)
        if (f.df.isEmpty) {
          f.drop(); front = None
          val result = cur.df.groupBy(col("src"))
            .agg(count(lit(1)).cast("bigint").as("deg"))
            .select(col("src").as("node"), col("deg"))
          return graft.sources.Tables.Staged(result, cur.path)
        }
        rounds += 1
        if (rounds > maxRounds) {
          f.drop(); front = None
          throw new IllegalStateException(
            s"kCore: peel did not converge in $maxRounds rounds")
        }
        val next = stageTracked(
          cur.df
            .join(f.df, col("src") === col("peel"), "left_anti")
            .join(f.df.select(col("peel").as("__p2")),
              col("dst") === col("__p2"), "left_anti"))
        // advance BEFORE reclaiming, so the catch-all always drops the
        // live round, never a superseded one twice.
        val old = cur
        cur = next
        old.drop(); f.drop(); front = None
      }
      throw new IllegalStateException("unreachable")
    } catch {
      case t: Throwable =>
        front.foreach(f => scala.util.Try(f.drop()))
        cur.drop(); throw t
    }
  }

  /** Synchronous LABEL-PROPAGATION community detection (Raghavan et al.
    * 2007) with every degree of freedom PINNED so the result is a pure
    * function of the graph: labels start as node ids; each round every
    * node adopts the most frequent label among its NEIGHBORS (its own
    * current label does not vote), ties to the SMALLEST label; the
    * iteration count is FIXED and part of the operator's meaning — the
    * [[pageRank]] fixed-semantics discipline. Run-to-convergence LPA is
    * not well-defined under synchronous update (a 2-node graph oscillates
    * with period 2 forever — spec-pinned), and the usual randomized
    * tie-breaks/orderings are exactly what a reproducible pipeline
    * cannot have.
    *
    * Community use in a dedup pipeline: finer-than-CC grouping of a
    * near-dup graph — CC merges everything a transitive chain touches;
    * LPA splits chain-bridged dense groups (two 4-cliques joined by one
    * bridge edge settle to two communities by round 3, the x_graph_lpa
    * fixture).
    *
    * Scale shape: the adjacency and label relations are edge/node-sized
    * (never the corpus); each round is one equi-join + one (node, label)
    * count + one argmax — the argmax is `max(struct(cnt, -lbl))`, never
    * a rank window. Rounds stage with superseded-round reclaim (the
    * CC/kCore staging discipline — an unstaged 4-deep lazy chain would
    * re-execute per reference). Output: (node, lbl), one row per node
    * with ≥ 1 edge. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int): DataFrame =
    labelPropagationTracked(edges, srcCol, dstCol, iterations).df

  /** [[labelPropagation]] returning the Staged handle of the final label
    * relation — callers in parquet-staging mode `.drop()` it once
    * consumed (the CC tracked-variant convention). */
  def labelPropagationTracked(edges: DataFrame, srcCol: String, dstCol: String,
                              iterations: Int): graft.sources.Tables.Staged = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations=$iterations must be in [1, 50]")
    val ce = canonicalEdges(edges, srcCol, dstCol)
    val adj = stage(
      ce.select(col("lo").as("src"), col("hi").as("dst"))
        .union(ce.select(col("hi").as("src"), col("lo").as("dst"))))
    var cur = stageTracked(
      adj.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl")))
    try {
      (1 to iterations).foreach { _ =>
        val next = stageTracked(
          adj.join(cur.df.select(col("node").as("dst"), col("lbl")), "dst")
            .groupBy(col("src"), col("lbl"))
            .agg(count(lit(1)).as("c"))
            .groupBy(col("src"))
            .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
            .select(col("src").as("node"), (-col("m.nl")).as("lbl")))
        // advance BEFORE reclaiming, so the catch-all always drops the
        // live round, never a superseded one twice.
        val old = cur
        cur = next
        old.drop()
      }
      cur
    } catch {
      case t: Throwable => scala.util.Try(cur.drop()); throw t
    }
  }

  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = stage(canonicalEdges(edges, srcCol, dstCol))
    val deg = e.select(explode(array(col("lo"), col("hi"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    // Orient toward the (degree, id)-larger endpoint. lo < hi already, so
    // the id tie-break reduces the orientation test to dlo <= dhi. dv
    // rides along: wedge-leg ordering below needs the legs' degrees.
    val oriented = stage(e
      .join(deg.select(col("node").as("lo"), col("degree").as("dlo")), "lo")
      .join(deg.select(col("node").as("hi"), col("degree").as("dhi")), "hi")
      .select(
        when(col("dlo") <= col("dhi"), col("lo")).otherwise(col("hi")).as("u"),
        when(col("dlo") <= col("dhi"), col("hi")).otherwise(col("lo")).as("v"),
        when(col("dlo") <= col("dhi"), col("dhi")).otherwise(col("dlo")).as("dv")))
    // Wedges centered on u with ≺-ordered legs: the closing edge (if any)
    // is then itself oriented v1 → v2, so one equi-join closes it and
    // each triangle materializes exactly once.
    val o1 = oriented.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
    val o2 = oriented.select(col("u"), col("v").as("v2"), col("dv").as("d2"))
    val tri = o1.join(o2, "u")
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
      .join(oriented.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
    val perNode = tri
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** INCREMENTAL triangle maintenance — fold a (small) batch of new edges
    * into an existing [[triangleCounts]] result without re-running the
    * full wedge join. `prev` is the prior (node, degree, n_tri) relation;
    * `prevEdges` the prior [[canonicalEdges]] relation it was computed
    * over (caller-staged: it feeds two joins here); `newEdges` the batch.
    *
    * Every NEW triangle contains ≥1 truly-new edge (all-old triangles are
    * already in `prev`), so the delta enumerates from the batch: per new
    * canonical edge (lo, hi), the common union-graph neighbors of lo and
    * hi close new triangles. Each new triangle surfaces once per new edge
    * it contains (1–3×) — deduplicated by its sorted node triple.
    *
    * Plan shape (the per-batch contract — `prevEdges` is subgraph-sized,
    * the batch is not): the batch BROADCASTS onto the staged union
    * adjacency to pull lo's neighbors, and the resulting candidate wedges
    * (≤ |batch| × max-degree rows, the operator's working-set bound —
    * for batches touching million-degree hubs, fall back to the full
    * recompute) broadcast back onto the second adjacency scan to close;
    * `prev` is touched by exactly one merge join at the end. No wedge is
    * ever enumerated at an untouched node.
    *
    * Equivalence: bit-identical to `triangleCounts(prevEdges ∪ newEdges)`
    * (GraphSpec, randomized splits; `x_triangles_incremental` checks the
    * incremental path against the full-enumeration oracle). */
  def incrementalTriangles(prev: DataFrame, prevEdges: DataFrame,
                           newEdges: DataFrame,
                           srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val pe = prevEdges.select(col("lo"), col("hi"))
    val delta = stage(canonicalEdges(newEdges, srcCol, dstCol)
      .join(pe, Seq("lo", "hi"), "left_anti"))
    val adj = stage(pe.union(delta)
      .select(explode(array(
        struct(col("lo").as("x"), col("hi").as("y")),
        struct(col("hi").as("x"), col("lo").as("y")))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y")))
    // candidate wedges: per new edge (lo, hi), every union-graph neighbor
    // c of lo (the batch side broadcasts; c = hi is impossible — adj has
    // no self-loops and (lo, hi) pairs c with lo's OTHER neighbors, but
    // guard anyway for clarity).
    val cand = adj.join(broadcast(delta.withColumnRenamed("lo", "x")), Seq("x"))
      .select(col("x").as("lo"), col("hi"), col("y").as("c"))
      .filter(col("c") =!= col("hi"))
    // close: (hi, c) must also be a union edge — the delta-sized candidate
    // relation broadcasts onto the second adjacency scan.
    val closed = adj.join(broadcast(cand),
        adj("x") === cand("hi") && adj("y") === cand("c"))
      .select(col("lo"), col("hi"), col("c"))
    val dTri = closed
      .select(array_sort(array(col("lo"), col("hi"), col("c"))).as("t"))
      .distinct()
      .select(explode(col("t")).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("dt"))
    val dDeg = delta.select(explode(array(col("lo"), col("hi"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("dd"))
    // merge: untouched nodes pass through; batch endpoints bump degree;
    // triangle nodes bump n_tri (every triangle node has an edge, so the
    // left join after the full-outer merge loses nothing).
    prev.select(col("node"), col("degree"), col("n_tri"))
      .join(dDeg, Seq("node"), "full_outer")
      .join(dTri, Seq("node"), "left")
      .select(col("node"),
        (coalesce(col("degree"), lit(0L)) + coalesce(col("dd"), lit(0L))).as("degree"),
        (coalesce(col("n_tri"), lit(0L)) + coalesce(col("dt"), lit(0L))).as("n_tri"))
  }

  /** Fixed-iteration PageRank over an undirected edge list, in EXACT
    * integer arithmetic — the centrality follow-on to [[triangleCounts]]:
    * inside a near-dup cluster the high-rank node is the hub every other
    * member resembles (the natural canonical pick), and across the corpus
    * rank separates template hubs (boilerplate re-crawled everywhere)
    * from leaf duplicates.
    *
    * Arithmetic: ranks are BIGINTs scaled by `scale`; damping 0.85 is the
    * exact rational 17/20, so one iteration is
    * `r'(v) = (3·scale) div 20 + Σ_{u→v} (r(u)·17) div (20·deg(u))`
    * with truncating integer division at every step — no floats anywhere,
    * so any engine (and the DuckDB unrolled-CTE oracle) agrees bitwise.
    * This is floor-quantized PageRank: each node's value sits within
    * |edges|/scale of the real-valued iterate, and the quantization is
    * part of the operator contract, not noise.
    *
    * Scale notes (the 100 TB plan):
    *  - iteration state lives on the EDGE-INCIDENT nodes only — a
    *    near-dup graph is orders of magnitude smaller than the corpus, so
    *    every per-iteration join is subgraph-sized; the corpus is touched
    *    exactly once, by the final broadcast join that attaches ranks to
    *    `vertices` (isolated nodes converge to the base term after one
    *    iteration, so they never need to enter the loop);
    *  - the symmetrized edge relation is staged once (it feeds every
    *    iteration); degrees are staged with it. Iteration results chain
    *    lazily — each rank relation feeds exactly one join in the next
    *    round, so lineage grows linearly in `iterations`, not
    *    exponentially;
    *  - overflow headroom: Σ ranks ≈ |edge nodes|·scale, and the widest
    *    intermediate is r(u)·17 — keep |edge nodes|·scale·17 < 2^63
    *    (the default 1e9 scale leaves room for ~5×10^8 edge nodes).
    *
    * Output: (node, pr) for EVERY vertex, pr at `scale` fixed-point. */
  def pageRank(vertices: DataFrame, idCol: String,
               edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 3, scale: Long = 1000000000L): DataFrame = {
    require(iterations >= 1, s"iterations=$iterations must be >= 1")
    require(scale % 20 == 0, s"scale=$scale must be divisible by 20")
    val base = scale * 3 / 20
    val e = stage(symmetrized(edges, srcCol, dstCol).distinct())
    val deg = stage(e.groupBy(col("s").as("node"))
      .agg(count(lit(1)).as("degree"))
      .select(col("node"), col("degree")))
    var nr = deg.select(col("node"), col("degree"), lit(scale).as("r"))
    for (_ <- 1 to iterations) {
      val contrib = e.join(nr, col("s") === col("node"))
        .select(col("d"), expr("(r * 17L) div (20L * degree)").as("c"))
      val in = contrib.groupBy(col("d")).agg(sum(col("c")).as("cin"))
      nr = deg.join(in, col("node") === col("d"), "left")
        .select(col("node"), col("degree"),
          (lit(base) + coalesce(col("cin"), lit(0L))).as("r"))
    }
    vertices.select(col(idCol).cast("long").as("__v"))
      .join(broadcast(nr.select(col("node"), col("r"))),
        col("__v") === col("node"), "left")
      .select(col("__v").as("node"), coalesce(col("r"), lit(base)).as("pr"))
  }

  /** An undirected edge list as directed rows `(s, d)`: ids cast to
    * long, self-loops dropped, each edge in both orientations (duplicates
    * kept). Both orientations explode out of ONE pass over the (possibly
    * expensive) edge subplan — a union of two selects would evaluate it
    * twice inside a staging job. */
  private def symmetrized(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(explode(array(
        struct(col("a").as("s"), col("b").as("d")),
        struct(col("b").as("s"), col("a").as("d")))).as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))

  /** DIRECTED PageRank over a hyperlink edge list (Brin & Page 1998)
    * — the web-centrality form of [[pageRank]]: mass flows ALONG edges
    * only. Symmetrizing (what [[pageRank]] does for near-dup graphs,
    * where similarity IS mutual) would let any page rank itself up just
    * by linking out; on a crawl graph an incoming link confers
    * authority, an outgoing one spends it.
    *
    * Same exact-integer arithmetic as [[pageRank]] (ranks BIGINT at
    * `scale` fixed-point, damping = the exact rational 17/20,
    * truncating division at every step — bitwise on any engine).
    * Pinned contract:
    *  - duplicate edges and self-loops drop (a page linking the same
    *    target five times confers mass once);
    *  - `r'(v) = (3·scale) div 20 + Σ_{u→v} (r(u)·17) div (20·outdeg(u))`;
    *  - DANGLING mass is NOT redistributed by default: a page with no
    *    outlinks leaks its damped mass — the "remove dangling nodes"
    *    simplification of the original paper, stated as part of the
    *    contract (the leak-variant is what a crawl frontier
    *    prioritizer actually wants — dead ends should not recycle
    *    authority). `redistributeDangling = true` opts into the
    *    published rule instead: each iteration adds
    *    `(D·17) div (20·N)` to EVERY node, with D = Σ r over outdeg-0
    *    nodes and N = |edge-incident nodes| — the cost is one Σr
    *    aggregate over the dangling subset per iteration plus a
    *    per-iteration staging write (the rank relation gains a second
    *    consumer, and an unstaged lazy chain would re-execute
    *    per reference); mass is then conserved up to truncation
    *    (each `div` loses < 1 scaled unit, so
    *    `N·scale − Σ pr < (|E| + N)·iterations` — spec-pinned);
    *  - iteration state lives on the edge-incident nodes (src AND
    *    dst-only nodes — a dst-only node accumulates rank but holds
    *    outdeg 0); the corpus attaches ONCE at the end by broadcast,
    *    isolated vertices hold the base term.
    * Overflow headroom: |edge nodes|·scale·17 < 2^63, as [[pageRank]]
    * (the dangling sum D obeys the same bound — it is a Σr slice).
    *
    * Output: (node, pr) for EVERY vertex, pr at `scale` fixed-point. */
  def pageRankDirected(vertices: DataFrame, idCol: String,
                       edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int = 3,
                       scale: Long = 1000000000L,
                       redistributeDangling: Boolean = false): DataFrame = {
    require(iterations >= 1, s"iterations=$iterations must be >= 1")
    require(scale % 20 == 0, s"scale=$scale must be divisible by 20")
    val base = scale * 3 / 20
    val e = stage(edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .distinct())
    val od = e.groupBy(col("s").as("node")).agg(count(lit(1)).as("degree"))
    // every edge endpoint holds rank; dst-only nodes carry outdeg 0 and
    // contribute nothing (their mass leaks — the pinned dangling rule).
    val nd = stage(e.select(col("s").as("node"))
      .union(e.select(col("d").as("node"))).distinct()
      .join(od, Seq("node"), "left")
      .select(col("node"), coalesce(col("degree"), lit(0L)).as("degree")))
    val nCnt = nd.agg(count(lit(1)).cast("long").as("nn"))
    var nr = nd.select(col("node"), col("degree"), lit(scale).as("r"))
    for (_ <- 1 to iterations) {
      // only src nodes match the join, and every src has degree >= 1 —
      // the division is never by zero.
      val contrib = e.join(nr, col("s") === col("node"))
        .select(col("d"), expr("(r * 17L) div (20L * degree)").as("c"))
      val in = contrib.groupBy(col("d")).agg(sum(col("c")).as("cin"))
      nr = if (!redistributeDangling) {
        nd.join(in, col("node") === col("d"), "left")
          .select(col("node"), col("degree"),
            (lit(base) + coalesce(col("cin"), lit(0L))).as("r"))
      } else {
        // the per-node dangling share: two 1-row aggregates crossed by
        // broadcast (the q_subquery_scalar shape), attached to every
        // node. The round STAGES because nr now has two consumers
        // (next round's contrib + this share) — unstaged, the lazy
        // chain re-executes per reference and doubles per iteration.
        val share = nr.filter(col("degree") === 0L)
          .agg(coalesce(sum(col("r")), lit(0L)).as("dm"))
          .crossJoin(broadcast(nCnt))
          .select(expr("(dm * 17L) div (20L * nn)").as("__sh"))
        stage(nd.join(in, col("node") === col("d"), "left")
          .crossJoin(broadcast(share))
          .select(col("node"), col("degree"),
            (lit(base) + coalesce(col("cin"), lit(0L)) + col("__sh"))
              .as("r")))
      }
    }
    vertices.select(col(idCol).cast("long").as("__v"))
      .join(broadcast(nr.select(col("node"), col("r"))),
        col("__v") === col("node"), "left")
      .select(col("__v").as("node"), coalesce(col("r"), lit(base)).as("pr"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a directed edge
    * list — the second classic link-graph centrality beside
    * [[pageRankDirected]]: an AUTHORITY is pointed at by good hubs, a
    * HUB points at good authorities. UNNORMALIZED exact-integer
    * iteration (pinned): the classic per-round L2 normalization is a
    * positive scalar, so dropping it preserves every ranking and keeps
    * the arithmetic bitwise on any engine —
    *   `a_i(v) = Σ_{u→v} h_{i-1}(u)`, then `h_i(v) = Σ_{v→w} a_i(w)`
    * (authorities update from the OLD hubs, hubs from the NEW
    * authorities — the published update order). Duplicate edges and
    * self-loops drop. Values grow like (scale · degreeᵏ): the caller
    * bounds overflow with `scale` and `iterations` —
    * `scale · (max in+out degree)^(2·iterations) < 2^63` is the safe
    * envelope, checked cheaply here as Σdeg per round would cost a
    * pass; the default (scale 1000, 2 iterations) holds to ~50k-degree
    * hubs. Non-edge vertices hold (0, 0): no link evidence, no score
    * (contrast [[pageRankDirected]]'s restart base — HITS has no
    * teleport). Output: (node, hub, auth) for EVERY vertex. */
  def hits(vertices: DataFrame, idCol: String,
           edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int = 2, scale: Long = 1000L): DataFrame = {
    require(iterations >= 1 && scale >= 1, s"iterations=$iterations scale=$scale")
    val e = stage(edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .distinct())
    val nodes = stage(e.select(col("s").as("node"))
      .union(e.select(col("d").as("node"))).distinct())
    var hub = nodes.select(col("node"), lit(scale).as("h"))
    var auth: DataFrame = null
    for (i <- 1 to iterations) {
      val a = e.join(hub, col("s") === col("node"))
        .groupBy(col("d")).agg(sum(col("h")).as("va"))
      auth = nodes.join(a, col("node") === col("d"), "left")
        .select(col("node"), coalesce(col("va"), lit(0L)).as("a"))
      // the FINAL authorities feed the last hub update AND the output
      // join — staged, the subtree executes once (the subplan-reuse
      // discipline); intermediate authorities have one consumer.
      if (i == iterations) auth = stage(auth)
      val h = e.join(auth, col("d") === col("node"))
        .groupBy(col("s")).agg(sum(col("a")).as("vh"))
      hub = nodes.join(h, col("node") === col("s"), "left")
        .select(col("node"), coalesce(col("vh"), lit(0L)).as("h"))
    }
    vertices.select(col(idCol).cast("long").as("__v"))
      .join(broadcast(hub.join(auth, "node")),
        col("__v") === col("node"), "left")
      .select(col("__v").as("node"),
        coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("a"), lit(0L)).as("auth"))
  }

  /** DETERMINISTIC random walks over a directed edge list — the
    * sampling primitive graph-embedding pipelines feed on (DeepWalk,
    * Perozzi 2014; node2vec's p=q=1 case): one walk of `steps` hops
    * starts at every node with out-degree ≥ 1. "Random" is a pinned
    * HASH choice, not an RNG (the [[graft.operators.Sampling]]
    * discipline — any engine, any partitioning, any re-run produces
    * the SAME walks, which is what makes them oracle-checkable and
    * re-trainable):
    *
    *   next = neighbors[ hash60(salt ':' start ':' step) mod outdeg ]
    *
    * where neighbors are the distinct out-neighbors SORTED ascending
    * (rank = the walk-independent adjacency index), hash60 = the first
    * 15 md5 hex digits of the seed string (the CMS/sampling hash60
    * convention — 60 bits, non-negative), and the seed keys on the
    * WALK (start node), not the current node, so two walks crossing
    * the same node diverge. A walk reaching a SINK (out-degree 0)
    * stops early — rows simply end (stated; no self-loop padding).
    * Duplicate edges collapse; self-loops drop.
    *
    * Output: (start, step, node) — step 0 is the start node itself,
    * steps 1..`steps` the visited nodes. Plan: the indexed adjacency
    * stages once ((node, idx, nbr) + out-degrees — the rank window
    * partitions by NODE, the max-cardinality key, never a skew risk);
    * each hop is one equi-join of the frontier against it. Lineage
    * grows linearly in `steps`. */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
                  steps: Int, salt: String = "walk"): DataFrame =
    randomWalksMulti(edges, srcCol, dstCol, steps, numWalks = 1, salt)
      .drop("walk")

  /** The walk-index SEED KEY: walk 0 keys on the bare start (so
    * numWalks = 1 reproduces the single-walk functions BITWISE —
    * spec-pinned), walk w ≥ 1 on `start#w` ('#' never occurs in a
    * numeric id — no two (start, walk) pairs collide). */
  private def walkSeedKeySql: String =
    "IF(walk = 0, CAST(start AS STRING), " +
      "concat(CAST(start AS STRING), '#', CAST(walk AS STRING)))"

  /** [[randomWalks]] with `numWalks` INDEPENDENT walks per non-sink
    * node — DeepWalk/node2vec training runs r ≈ 10-80 walks per node,
    * not one. The hash seed gains the walk index ([[walkSeedKeySql]]),
    * so walks with different indexes diverge from step 1 while every
    * engine/partitioning/re-run still reproduces them bitwise. Output:
    * (start, walk, step, node). Same plan as the single-walk form —
    * the staged adjacency/degree relations build ONCE and every hop is
    * one (node, idx) equi-join probing each walk at exactly one index;
    * r walks only scale the frontier rows, never the staged state. */
  def randomWalksMulti(edges: DataFrame, srcCol: String, dstCol: String,
                       steps: Int, numWalks: Int = 1,
                       salt: String = "walk"): DataFrame = {
    require(steps >= 1 && steps <= 64, s"steps=$steps out of range")
    require(numWalks >= 1 && numWalks <= 1024, s"numWalks=$numWalks")
    val e = stage(edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .distinct())
    val adj = stage(e
      .withColumn("idx", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("s")).orderBy(col("d"))).cast("long") - 1L))
    val degRel = stage(adj.groupBy(col("s").as("dn"))
      .agg(count(lit(1)).cast("long").as("deg")))
    var frontier = degRel.select(col("dn").as("start"))
      .withColumn("walk", explode(expr(s"sequence(0L, ${numWalks - 1}L)")))
      .select(col("start"), col("walk"), lit(0L).as("step"),
        col("start").as("node"))
    var out = frontier
    for (i <- 1 to steps) {
      val h = s"CAST(conv(substr(md5(concat('$salt', ':', " +
        s"$walkSeedKeySql, ':', $i)), 1, 15), 16, 10) AS BIGINT)"
      // pick the target index FIRST (one row per live walk), then
      // equi-join on (node, idx) — a hub's million-neighbor list never
      // fans out under a walk, it is probed at exactly one index.
      frontier = frontier
        .join(degRel, col("node") === col("dn"))
        .withColumn("__tix", expr(h) % col("deg"))
        .join(adj, col("node") === col("s") && col("__tix") === col("idx"))
        .select(col("start"), col("walk"), lit(i.toLong).as("step"),
          col("d").as("node"))
      out = out.unionByName(frontier)
    }
    out
  }

  /** node2vec-BIASED deterministic walks (Grover & Leskovec 2016) —
    * [[randomWalks]] with the SECOND-ORDER transition bias: from
    * `node`, having arrived from `prev`, each sorted out-neighbor x
    * weighs
    *
    *   wRet    if x = prev                  (node2vec's 1/p "return")
    *   wCommon else if (prev, x) is an edge (distance 1 from prev)
    *   wOut    otherwise                    (node2vec's 1/q "explore")
    *
    * — integer weights instead of the paper's 1/p, 1/q reals (set
    * (wRet, wCommon, wOut) ∝ (q, p·q, p) to express any rational p, q
    * exactly). The hop takes the neighbor at the CUMULATIVE-weight
    * position of r = hash60(salt ':' start ':' step) mod W (W = Σ
    * weights over the sorted list): the row with cum − w ≤ r < cum —
    * the weighted generalization of the unbiased index pick. Step 1
    * has no prev: every neighbor weighs wOut (uniform — node2vec's
    * first step). With (1, 1, 1) the pick degenerates to
    * `r = hash mod deg = the index` and the walks equal
    * [[randomWalks]]'s BITWISE (spec-pinned).
    *
    * Plan: the second-order transition distributions PRE-COMPUTE into
    * two staged tables — exactly node2vec's published per-edge table:
    * `first` = (node, d, w=wOut, cum, tot) for the prev-less step 1,
    * `trans` = (prev, node, d, w, cum, tot) with one row per (edge,
    * neighbor-of-head) — and every hop is ONE equi-join of the frontier
    * against them on (prev, node) with the cum-containment residual.
    * The windows that build cum/tot run ONCE at build time (partition
    * key (prev, node) — |E| cardinality, frames bounded by out-degree),
    * never per hop or per walk, so r-walks-per-node amortizes the table
    * instead of multiplying a recompute (the r15 wall decomposition).
    * Table size = Σ_{(u,v)∈E} deg(v) — the published node2vec memory
    * price. Weights must be ≥ 1 (W > 0 needs every class positive);
    * W ≤ maxdeg·max(w) must stay under 2^63 — trivially true at any
    * real degree. */
  def biasedWalks(edges: DataFrame, srcCol: String, dstCol: String,
                  steps: Int, wRet: Long, wCommon: Long, wOut: Long,
                  salt: String = "walk"): DataFrame =
    biasedWalksMulti(edges, srcCol, dstCol, steps, wRet, wCommon, wOut,
      numWalks = 1, salt).drop("walk")

  /** [[biasedWalks]] with `numWalks` independent walks per non-sink
    * node (the DeepWalk/node2vec r-walks deployment) — walk seeds per
    * [[walkSeedKeySql]], so numWalks = 1 ≡ [[biasedWalks]] bitwise and
    * (1,1,1) ≡ [[randomWalksMulti]] bitwise (both spec-pinned).
    * Output: (start, walk, step, node). Plan as [[biasedWalks]]: the
    * staged first-hop and (prev, node) transition tables build once;
    * hops equi-join them. */
  def biasedWalksMulti(edges: DataFrame, srcCol: String, dstCol: String,
                       steps: Int, wRet: Long, wCommon: Long, wOut: Long,
                       numWalks: Int = 1, salt: String = "walk"): DataFrame = {
    require(steps >= 1 && steps <= 64, s"steps=$steps out of range")
    require(numWalks >= 1 && numWalks <= 1024, s"numWalks=$numWalks")
    require(wRet >= 1 && wCommon >= 1 && wOut >= 1,
      s"weights ($wRet, $wCommon, $wOut) must all be >= 1")
    val W = org.apache.spark.sql.expressions.Window
    val e = stage(edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .distinct())
    val adj = stage(e
      .withColumn("idx", row_number().over(
        W.partitionBy(col("s")).orderBy(col("d"))).cast("long") - 1L))
    // FIRST-HOP table: no prev → every neighbor weighs wOut (node2vec's
    // uniform first step); pick at r mod (deg·wOut) — NOT r mod deg,
    // the pinned single-walk arithmetic.
    val byNode = W.partitionBy(col("node"))
    val first = stage(adj
      .select(col("s").as("node"), col("d"), col("idx"))
      .withColumn("w", lit(wOut))
      .withColumn("cum", sum(col("w")).over(byNode.orderBy(col("idx"))
        .rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("tot", sum(col("w")).over(byNode))
      .select(col("node"), col("d"), col("w"), col("cum"), col("tot")))
    // SECOND-ORDER table: one row per (edge prev→node, neighbor d of
    // node) — the node2vec transition distribution, staged ONCE.
    val cmn = e.select(col("s").as("__ps"), col("d").as("__pd"),
      lit(true).as("__cmn"))
    val byEdge = W.partitionBy(col("prev"), col("node"))
    val trans = stage(e.select(col("s").as("prev"), col("d").as("node"))
      .join(adj.select(col("s").as("node"), col("d"), col("idx")),
        Seq("node"))
      .join(cmn, col("prev") === col("__ps") && col("d") === col("__pd"),
        "left")
      .withColumn("w",
        when(col("d") === col("prev"), lit(wRet))
          .when(coalesce(col("__cmn"), lit(false)), lit(wCommon))
          .otherwise(lit(wOut)))
      .withColumn("cum", sum(col("w")).over(byEdge.orderBy(col("idx"))
        .rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("tot", sum(col("w")).over(byEdge))
      .select(col("prev"), col("node"), col("d"), col("w"), col("cum"),
        col("tot")))
    def h(i: Int) = s"CAST(conv(substr(md5(concat('$salt', ':', " +
      s"$walkSeedKeySql, ':', $i)), 1, 15), 16, 10) AS BIGINT)"
    var frontier = adj.select(col("s").as("start")).distinct()
      .withColumn("walk", explode(expr(s"sequence(0L, ${numWalks - 1}L)")))
      .select(col("start"), col("walk"), col("start").as("node"))
    var out = frontier.select(col("start"), col("walk"),
      lit(0L).as("step"), col("node"))
    for (i <- 1 to steps) {
      val table = if (i == 1) first else trans
      val keys = if (i == 1) Seq("node") else Seq("prev", "node")
      frontier = frontier.join(table, keys)
        .withColumn("r", expr(h(i)) % col("tot"))
        .filter(col("cum") - col("w") <= col("r") && col("r") < col("cum"))
        .select(col("start"), col("walk"), col("d").as("node"),
          col("node").as("prev"))
      out = out.unionByName(frontier.select(col("start"), col("walk"),
        lit(i.toLong).as("step"), col("node")))
    }
    out
  }

  /** SKIP-GRAM training pairs from walks — the relation word2vec-style
    * embedding training (DeepWalk §4.2 / node2vec §3) actually
    * consumes: for every walk and every position i, each position j
    * with 1 ≤ |i − j| ≤ `window` contributes one ordered (center =
    * node_i, context = node_j) pair. `walks` is any
    * [[randomWalksMulti]]/[[biasedWalksMulti]] output — (start, walk,
    * step, node); walks that stopped early at a sink contribute their
    * shorter span (steps are contiguous, so position distance = step
    * distance). Output: (center, context, dist, n_pairs) — the
    * counted multiset (dist for 1/d context weighting schemes).
    *
    * Plan: ONE shuffle collects each walk into a ≤ steps+1 array
    * (bounded by the walk-length contract, never by degree — a hub's
    * fan-in spreads over many (start, walk) keys), pairs enumerate
    * inside the array via index transforms (window-free), and the
    * count aggregates map-side. Never a self-join of the walk
    * relation: the equi-join would shuffle it twice and re-pair
    * per-row what the array enumerates in place. */
  def walkSkipGrams(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1 && window <= 64, s"window=$window out of range")
    walks
      .groupBy(col("start"), col("walk"))
      .agg(sort_array(collect_list(struct(col("step"), col("node"))))
        .as("__w"))
      .withColumn("__ns", expr("transform(__w, x0 -> x0.node)"))
      .select(explode(expr(
        s"""flatten(transform(sequence(1, size(__ns)), i0 ->
           |  transform(filter(sequence(greatest(1, i0 - $window),
           |                            least(size(__ns), i0 + $window)),
           |                   j0 -> j0 != i0),
           |    j0 -> named_struct('c', element_at(__ns, i0),
           |                       'x', element_at(__ns, j0),
           |                       'dd', abs(j0 - i0)))))""".stripMargin))
        .as("__p"))
      .groupBy(col("__p.c").as("center"), col("__p.x").as("context"),
        expr("CAST(__p.dd AS BIGINT)").as("dist"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
  }

  /** PERSONALIZED PageRank — the seed-expansion form of [[pageRank]]
    * (same exact integer arithmetic): restart mass concentrates on a
    * SEED set instead of spreading uniformly, so rank measures proximity
    * to the seeds through the near-dup/citation graph — the "find more
    * documents like this curated set" step of a data-curation recipe.
    *
    * Arithmetic (damping 17/20 exact, truncating division throughout):
    * `r_0(v) = scale·[v ∈ S]`,
    * `r_{i+1}(v) = [v ∈ S]·((3·scale) div 20) + Σ_{u→v} (r_i(u)·17) div (20·deg(u))`
    * — bitwise on any engine. Non-seed nodes far from every seed stay 0;
    * an isolated seed converges to the base term. Same scale/overflow
    * contract as [[pageRank]].
    *
    * `seeds` is a (by-contract-small) single-column relation of node
    * ids; it broadcasts onto the edge-incident node relation once and
    * onto the final vertex attach once — the corpus never shuffles.
    * Output: (node, pr) for EVERY vertex. */
  def personalizedPageRank(vertices: DataFrame, idCol: String,
                           edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame,
                           iterations: Int = 3, scale: Long = 1000000000L): DataFrame = {
    require(iterations >= 1, s"iterations=$iterations must be >= 1")
    require(scale % 20 == 0, s"scale=$scale must be divisible by 20")
    val base = scale * 3 / 20
    val sd = seeds.select(col(seeds.columns.head).cast("long").as("node"))
      .distinct().withColumn("__seed", lit(true))
    val e = stage(edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(explode(array(
        struct(col("a").as("s"), col("b").as("d")),
        struct(col("b").as("s"), col("a").as("d")))).as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))
      .distinct())
    val deg = stage(e.groupBy(col("s").as("node"))
      .agg(count(lit(1)).as("degree"))
      .join(broadcast(sd), Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("__seed"), lit(false)).as("seed")))
    var nr = deg.select(col("node"), col("degree"),
      when(col("seed"), lit(scale)).otherwise(lit(0L)).as("r"))
    for (_ <- 1 to iterations) {
      val contrib = e.join(nr, col("s") === col("node"))
        .select(col("d"), expr("(r * 17L) div (20L * degree)").as("c"))
      val in = contrib.groupBy(col("d")).agg(sum(col("c")).as("cin"))
      nr = deg.join(in, col("node") === col("d"), "left")
        .select(col("node"), col("degree"),
          (when(col("seed"), lit(base)).otherwise(lit(0L)) +
            coalesce(col("cin"), lit(0L))).as("r"))
    }
    vertices.select(col(idCol).cast("long").as("__v"))
      .join(broadcast(nr.select(col("node"), col("r"))),
        col("__v") === col("node"), "left")
      .join(broadcast(sd.select(col("node").as("__v"), col("__seed"))),
        Seq("__v"), "left")
      .select(col("__v").as("node"),
        coalesce(col("r"),
          when(coalesce(col("__seed"), lit(false)), lit(base))
            .otherwise(lit(0L))).as("pr"))
  }

  // ------------------------- incremental PageRank

  /** Stage a relation RANGE-SORTED on `key`: each staged file covers a
    * disjoint key range, so a refresh probe's pushed `In`/range filter
    * prunes whole row groups via parquet zone maps — the
    * [[graft.sources.Layout.writeSorted]] discipline applied to the
    * PageRank state relations. Pruning granularity = file count =
    * `spark.sql.shuffle.partitions`; pushing a many-value `In` as points
    * (not a min/max range) additionally needs
    * `spark.sql.parquet.pushdown.inFilterThreshold` ≥ the ball size (the
    * entry points set 256 — scattered ball ids make the range fallback
    * prune nothing, but the pushed or-chain evaluates RECURSIVELY in the
    * parquet reader, so thousands-deep chains overflow the task stack;
    * balls past the threshold degrade gracefully to the range form). In localCheckpoint staging mode there is no file
    * layout — correctness is unchanged, pruning just doesn't apply. */
  private def stageSorted(df: DataFrame, key: String): DataFrame = {
    // EXPLICIT shard count: a bare repartitionByRange is an AQE-coalesce
    // target — small states collapse to one file and zone maps have
    // nothing to prune (measured: 1 file, full-scan probes).
    val shards = df.sparkSession.sessionState.conf.numShufflePartitions
    stage(df.repartitionByRange(shards, col(key)).sortWithinPartitions(col(key)))
  }

  /** Run [[pageRank]]'s exact loop once, keeping every iterate — the
    * build-once step of the undirected incremental pair
    * ([[pageRankRefresh]], [[pageRankRefreshState]]). Undirected
    * PageRank IS directed PageRank over the symmetrized, distinct,
    * loop-free edge set: there every node's out-degree is its degree
    * (≥ 1), so the node set, the degrees and the exact integer
    * arithmetic are [[pageRank]]'s, and the state is
    * [[pageRankDirectedState]] over the symmetrized edges, bit for bit
    * (GraphSpec). `ranks` = (node, degree, rs) with `rs[i]` (1-based) the
    * exact rank after iteration i. The driver copy's bound counts
    * symmetrized rows, two per undirected edge. */
  def pageRankState(edges: DataFrame, srcCol: String, dstCol: String,
                    iterations: Int = 3, scale: Long = 1000000000L): PageRankDirectedState =
    pageRankDirectedState(symmetrized(edges, srcCol, dstCol), "s", "d", iterations, scale)

  /** Compress a sorted-or-not id set into at most `maxRanges` inclusive
    * [lo, hi] ranges by closing the smallest inter-id gaps first —
    * localized balls collapse to a few tight spans, scattered ones
    * degrade gracefully toward one wide span (never worse than the
    * single min/max a pushed many-value In falls back to). */
  private[operators] def compressRanges(ids: Seq[Long], maxRanges: Int): Seq[(Long, Long)] = {
    val s = ids.distinct.sorted
    if (s.size <= maxRanges) s.map(v => (v, v))
    else {
      // keep the (maxRanges - 1) LARGEST gaps as range boundaries.
      val gaps = s.sliding(2).zipWithIndex
        .map { case (Seq(a, b), i) => (b - a, i) }.toSeq
        .sortBy(-_._1).take(maxRanges - 1).map(_._2).toSet
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var lo = s.head
      s.indices.dropRight(1).foreach { i =>
        if (gaps(i)) { out += ((lo, s(i))); lo = s(i + 1) }
      }
      out += ((lo, s.last))
      out.toSeq
    }
  }

  /** Point-set probe on a range-sorted state relation, zone-map-aligned
    * and stack-safe. The refresh's ball is driver-materialized, so its id
    * sets re-enter every probe as a pushed FILTER: round 10's
    * broadcast-join probes scanned the full staged edge and history
    * relations 4× per iteration and staged the frontier each round (the
    * measured refresh wall, README §incremental upkeep), while a pushed
    * point-set filter reads only the row groups whose zone maps cover
    * ball ids. The pushed shape: a bounded DISJUNCTION of
    * [[compressRanges]] spans reaches parquet (Or-trees of Betweens push
    * precisely at any ball size — a many-value In either overflows the
    * reader's recursive or-chain past ~1k values or degrades to ONE
    * min/max span, which a single far-flung ball id widens to the whole
    * key space: the 10M-lattice batch's wrap neighbor did exactly that),
    * AND the exact membership filter evaluates post-scan (InSet — hash
    * set, no recursion). */
  private def inIds(c: org.apache.spark.sql.Column, ids: Seq[Long]): org.apache.spark.sql.Column =
    if (ids.isEmpty) lit(false)
    else {
      val ranges = compressRanges(ids, maxRanges = 32)
      ranges.map { case (lo, hi) => c.between(lo, hi) }.reduce(_ || _) &&
        c.isInCollection(ids)
    }

  /** Ball fraction of the (stored) node set past which the refresh HANDS
    * OFF to the full recompute: once one hop from the batch covers more
    * than half the graph, ball-sized bookkeeping is graph-sized
    * bookkeeping plus overhead — the operator picks the right plan
    * instead of documenting that the caller should (measured: the dense
    * sf0.1 pair-graph batch, avg degree 66, whose B_1 IS the graph). */
  val RefreshDenseFraction: Double = 0.5

  /** INCREMENTAL PageRank refresh under a batch of new edges — ranks
    * BIT-IDENTICAL to a full [[pageRank]] over the union edge set:
    * [[pageRankDirectedRefresh]] of the symmetrized batch against a
    * [[pageRankState]] (a batch edge stored in either orientation settles
    * as stored). Output: (node, pr) for EVERY vertex — the [[pageRank]]
    * contract. */
  def pageRankRefresh(vertices: DataFrame, idCol: String, st: PageRankDirectedState,
                      newEdges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    pageRankDirectedRefresh(vertices, idCol, st, symmetrized(newEdges, srcCol, dstCol), "s", "d")

  /** [[pageRankRefresh]]'s FOLDING twin: fold the batch in and return the
    * updated state, so refreshes CHAIN — the state a streaming graph gate
    * advances every micro-batch ([[graft.streaming.GraphIngest]]). It is
    * [[pageRankDirectedRefreshState]] of the symmetrized batch. Chained
    * folds ≡ [[pageRankState]] over the union edge set, bitwise
    * (GraphSpec). */
  def pageRankRefreshState(st: PageRankDirectedState, newEdges: DataFrame,
                           srcCol: String, dstCol: String): PageRankDirectedState =
    pageRankDirectedRefreshState(st, symmetrized(newEdges, srcCol, dstCol), "s", "d")

  /** Reusable [[pageRankDirected]] state for
    * [[pageRankDirectedRefresh]] — the rank maintenance a
    * self-maintaining hyperlink graph
    * ([[graft.streaming.LinkGraphIngest]]) folds per batch, and, over
    * symmetrized edges, the undirected [[pageRankState]]. `ranks` is the
    * staged per-node ITERATE HISTORY (node, degree, rs), rs[i] (1-based)
    * the exact rank after iteration i and degree the OUT-degree (0 for
    * dst-only nodes): fixed-iteration PageRank makes r_k(v) a function of
    * v's k-hop in-neighborhood only, so a refresh can splice stored
    * iterates for every node outside the batch's k-hop ball. The edge
    * relation stages TWICE — sorted by `s` (the out-expansion probes) AND
    * by `d` (the in-edge probes: directed rank reads IN-neighbors, which
    * a src-sorted layout cannot prune). The doubled layout is the honest
    * price of pruned directed refreshes (a symmetric state pays it too);
    * compaction re-sorts both sides.
    *
    * `local` is the DRIVER COPY of a bounded state: when the edge list
    * has at most `localThreshold` loop-free rows
    * ([[DefaultLocalThreshold]], the [[connectedComponents]] bound), the
    * build runs the iterations on the driver and keeps the graph and its
    * history as primitive arrays ([[DirectedLocal]]: two ints per edge,
    * two ints and 1 + `iterations` longs per node — at most 44 MiB at
    * the default bound and 3 iterations). A refresh then answers every
    * lookup from the copy, splices the final ranks on the driver and
    * starts no probe job; a fold grows the copy on the driver. The copy
    * remembers the bound it was built under ([[DirectedLocal]]`.bound`):
    * folds carry it forward while the union stays under that bound and
    * drop it past it, so what the driver holds never exceeds the bound;
    * a state without a copy stays distributed through every fold.
    *
    * WHEN THE RELATIONS ARE BUILT: a state holding a copy builds each of
    * its three relations from the copy and stages it (sorted,
    * range-disjoint files) the first time something reads it —
    * compaction, the distributed side of a caller, a gate's `onBatch`.
    * A held state that nothing reads plans and stages nothing, so a
    * build, refresh or fold chain on the driver leaves no staged
    * relation behind. A state without a copy is strict: its relations
    * are staged by the build or fold that made it. [[copy]] keeps each
    * relation it is not given as it is, built or not.
    *
    * The LEAK dangling rule only ([[pageRankDirected]]'s default):
    * `redistributeDangling` breaks the refresh's locality theorem — a
    * global Σr term makes every rank depend on every dangling node, so
    * there is no ball to splice; the redistributing variant must
    * recompute (stated, not silently approximated). */
  final class PageRankDirectedState private (
      bySrc: () => DataFrame, byDst: () => DataFrame, history: () => DataFrame,
      val iterations: Int, val scale: Long, val local: Option[DirectedLocal]) {
    lazy val edgesBySrc: DataFrame = bySrc()
    lazy val edgesByDst: DataFrame = byDst()
    lazy val ranks: DataFrame = history()

    def copy(edgesBySrc: => DataFrame = this.edgesBySrc,
             edgesByDst: => DataFrame = this.edgesByDst,
             ranks: => DataFrame = this.ranks,
             iterations: Int = this.iterations, scale: Long = this.scale,
             local: Option[DirectedLocal] = this.local): PageRankDirectedState =
      new PageRankDirectedState(() => edgesBySrc, () => edgesByDst, () => ranks,
        iterations, scale, local)
  }

  object PageRankDirectedState {
    /** A strict state, without a driver copy, over relations already
      * built. */
    def apply(edgesBySrc: DataFrame, edgesByDst: DataFrame, ranks: DataFrame,
              iterations: Int, scale: Long): PageRankDirectedState =
      new PageRankDirectedState(() => edgesBySrc, () => edgesByDst, () => ranks,
        iterations, scale, None)

    /** A state holding the driver copy `g`, whose relations are built
      * from `g` when first read. */
    private[operators] def held(spark: org.apache.spark.sql.SparkSession,
                                g: DirectedLocal, scale: Long): PageRankDirectedState =
      new PageRankDirectedState(() => localEdges(spark, g, bySrc = true),
        () => localEdges(spark, g, bySrc = false), () => localRanks(spark, g),
        g.iterations, scale, Some(g))
  }

  /** The driver copy of a bounded [[PageRankDirectedState]]: `nodes` is
    * the sorted edge-incident node set; node `j`'s out-neighbors are
    * `outDst(outOff(j) until outOff(j + 1))` and its in-neighbors
    * `inSrc(inOff(j) until inOff(j + 1))`, both as ascending node
    * indices; its out-degree is the out-range's length and
    * `rs(j * iterations + i - 1)` its exact rank after iteration i.
    * `bound` is the `localThreshold` the state was built under. */
  final class DirectedLocal private[operators] (
      val nodes: Array[Long],
      val outOff: Array[Int], val outDst: Array[Int],
      val inOff: Array[Int], val inSrc: Array[Int],
      val rs: Array[Long], val iterations: Int, val bound: Long) {
    def edgeCount: Int = outDst.length
    private[operators] def indexOf(node: Long): Int =
      java.util.Arrays.binarySearch(nodes, node)
    private[operators] def degree(j: Int): Long = (outOff(j + 1) - outOff(j)).toLong

    /** This graph plus the `novel` edges, with the history spliced as
      * the fold's contract states: rs'[i] is the recomputed r_i on B_i
      * (`recRows(i - 1)`) and the stored rs[i] elsewhere. Every new node
      * lies in B_1 ⊆ B_i, so each of its rows is recomputed. */
    private[operators] def grow(novel: Seq[(Long, Long)],
                                recRows: Vector[Seq[(Long, Long, Long)]]): DirectedLocal = {
      val k = iterations
      val g = plus(novel)
      for (j <- g.nodes.indices) {
        val o = indexOf(g.nodes(j))
        if (o >= 0) System.arraycopy(rs, o * k, g.rs, j * k, k)
      }
      for (i <- 1 to k; (x, _, r) <- recRows(i - 1)) g.rs(g.indexOf(x) * k + i - 1) = r
      g
    }

    /** The CSR of this graph's edges plus the `novel` ones (none stored
      * here, none repeated), under the same bound; history zeroed. */
    private[operators] def plus(novel: Seq[(Long, Long)]): DirectedLocal = {
      val (src, dst) = edgesPlus(novel)
      directedCsr(src, dst, iterations, bound)
    }

    /** This graph's edges, src-major, then the `novel` ones, as parallel
      * src and dst arrays. */
    private[operators] def edgesPlus(novel: Seq[(Long, Long)]): (Array[Long], Array[Long]) = {
      val src = new Array[Long](edgeCount + novel.size)
      val dst = new Array[Long](src.length)
      var e = 0
      for (j <- nodes.indices; x <- outOff(j) until outOff(j + 1)) {
        src(e) = nodes(j); dst(e) = nodes(outDst(x)); e += 1
      }
      novel.foreach { case (s, d) => src(e) = s; dst(e) = d; e += 1 }
      (src, dst)
    }

    /** (node, r_k) for every node: the stored final ranks, overwritten
      * by the `recomputed` (node, degree, r_k) rows, which may add
      * nodes. */
    private[operators] def finalRanks(recomputed: Seq[(Long, Long, Long)]): Seq[(Long, Long)] = {
      val k = iterations
      val fresh = recomputed.map(r => r._1 -> r._3).toMap
      nodes.indices.map { j =>
        (nodes(j), fresh.getOrElse(nodes(j), rs(j * k + k - 1)))
      } ++ recomputed.collect { case (x, _, r) if indexOf(x) < 0 => (x, r) }
    }
  }

  /** CSR layout of a distinct, loop-free edge list; history zeroed. */
  private def directedCsr(src: Array[Long], dst: Array[Long], k: Int,
                          bound: Long): DirectedLocal = {
    val ends = new Array[Long](src.length * 2)
    System.arraycopy(src, 0, ends, 0, src.length)
    System.arraycopy(dst, 0, ends, src.length, dst.length)
    java.util.Arrays.sort(ends)
    val nodes = ends.indices.collect {
      case i if i == 0 || ends(i) != ends(i - 1) => ends(i)
    }.toArray
    val si = src.map(java.util.Arrays.binarySearch(nodes, _))
    val di = dst.map(java.util.Arrays.binarySearch(nodes, _))
    // counting sort of edge `e` under key(e); each node's run ascending.
    def group(key: Array[Int], value: Array[Int]): (Array[Int], Array[Int]) = {
      val off = new Array[Int](nodes.length + 1)
      key.foreach(j => off(j + 1) += 1)
      for (j <- nodes.indices) off(j + 1) += off(j)
      val fill = off.clone()
      val out = new Array[Int](key.length)
      for (e <- key.indices) { out(fill(key(e))) = value(e); fill(key(e)) += 1 }
      for (j <- nodes.indices) java.util.Arrays.sort(out, off(j), off(j + 1))
      (off, out)
    }
    val (outOff, outDst) = group(si, di)
    val (inOff, inSrc) = group(di, si)
    new DirectedLocal(nodes, outOff, outDst, inOff, inSrc,
      new Array[Long](nodes.length * k), k, bound)
  }

  /** [[pageRankDirected]]'s k iterations on the driver, filling `g.rs`.
    * A source's contribution `(r·17) div (20·outdeg)` is the same on each
    * of its edges, and long addition commutes, so the sums equal the
    * distributed join + group-by bitwise (Scala `/` on non-negative
    * longs ≡ SQL `div`). */
  private def iterateLocal(g: DirectedLocal, scale: Long): Unit = {
    val k = g.iterations
    val base = scale * 3 / 20
    val n = g.nodes.length
    var r = Array.fill(n)(scale)
    for (i <- 1 to k) {
      val c = Array.tabulate(n) { u =>
        val du = g.degree(u)
        if (du == 0) 0L else (r(u) * 17L) / (20L * du)
      }
      val next = new Array[Long](n)
      for (v <- 0 until n) {
        var acc = 0L
        var e = g.inOff(v)
        while (e < g.inOff(v + 1)) { acc += c(g.inSrc(e)); e += 1 }
        next(v) = base + acc
        g.rs(v * k + i - 1) = next(v)
      }
      r = next
    }
  }

  /** Stage rows already sorted on `key` as `numShufflePartitions`
    * contiguous slices, each cut moved forward to a key boundary: every
    * staged file covers a disjoint key range — [[stageSorted]]'s layout,
    * without its range shuffle and sampling job. */
  private def stageSortedRows[T: scala.reflect.ClassTag: org.apache.spark.sql.Encoder](
      spark: org.apache.spark.sql.SparkSession, rows: Array[T], key: T => Long,
      names: String*): DataFrame = {
    val shards = spark.sessionState.conf.numShufflePartitions
    val cuts = (1 until shards).map { j =>
      var c = (rows.length.toLong * j / shards).toInt
      while (c > 0 && c < rows.length && key(rows(c)) == key(rows(c - 1))) c += 1
      c
    }
    val bounds = 0 +: cuts :+ rows.length
    val slices = bounds.indices.dropRight(1).map(j => rows.slice(bounds(j), bounds(j + 1)))
    stage(spark.createDataset(
      spark.sparkContext.parallelize(slices, slices.size).flatMap(_.iterator))
      .toDF(names: _*))
  }

  /** The (s, d) edge relation of a driver copy, sorted by `s`
    * (`bySrc`) or by `d`, and staged. */
  private def localEdges(spark: org.apache.spark.sql.SparkSession, g: DirectedLocal,
                         bySrc: Boolean): DataFrame = {
    import spark.implicits._
    if (bySrc)
      stageSortedRows(spark, (for (j <- g.nodes.indices; e <- g.outOff(j) until g.outOff(j + 1))
        yield (g.nodes(j), g.nodes(g.outDst(e)))).toArray, (e: (Long, Long)) => e._1, "s", "d")
    else
      stageSortedRows(spark, (for (j <- g.nodes.indices; e <- g.inOff(j) until g.inOff(j + 1))
        yield (g.nodes(g.inSrc(e)), g.nodes(j))).toArray, (e: (Long, Long)) => e._2, "s", "d")
  }

  /** The (node, degree, rs) relation of a driver copy, sorted and staged. */
  private def localRanks(spark: org.apache.spark.sql.SparkSession, g: DirectedLocal): DataFrame = {
    import spark.implicits._
    val k = g.iterations
    stageSortedRows(spark,
      g.nodes.indices.map(j => (g.nodes(j), g.degree(j), g.rs.slice(j * k, j * k + k))).toArray,
      (x: (Long, Long, Array[Long])) => x._1, "node", "degree", "rs")
  }

  /** The state of the driver-built graph `g` with its history filled:
    * held (relations built when read) while `g` is within its bound;
    * past it, strict — its three relations emitted from `g` and staged
    * concurrently — and without the copy. */
  private def localDirectedState(spark: org.apache.spark.sql.SparkSession,
                                 g: DirectedLocal, scale: Long): PageRankDirectedState =
    if (g.edgeCount <= g.bound) PageRankDirectedState.held(spark, g, scale)
    else {
      val Seq(eS, eD, r) = graft.sources.Tables.inParallel(Seq(
        () => localEdges(spark, g, bySrc = true),
        () => localEdges(spark, g, bySrc = false),
        () => localRanks(spark, g)))
      PageRankDirectedState(eS, eD, r, g.iterations, scale)
    }

  /** Run [[pageRankDirected]]'s exact loop once, keeping every iterate
    * — the build-once step of the directed incremental pair (same
    * staging/overflow contract; history costs `iterations` extra
    * BIGINTs per edge-incident node, the layout one extra edge sort).
    *
    * The loop-free edge rows are collected once, up to
    * `localThreshold + 1` of them, and deduplicated on the driver — a
    * limit that stops early and starts no shuffle. Within the bound the
    * iterations run on the driver and the state keeps the driver copy
    * ([[PageRankDirectedState]]); past it (counting duplicate rows, so a
    * duplicate-heavy edge list can take the distributed path with a
    * distinct set under the bound), or with `localThreshold = 0`, the
    * distributed build runs. */
  def pageRankDirectedState(edges: DataFrame, srcCol: String, dstCol: String,
                            iterations: Int = 3,
                            scale: Long = 1000000000L,
                            localThreshold: Long = DefaultLocalThreshold): PageRankDirectedState = {
    require(iterations >= 1, s"iterations=$iterations must be >= 1")
    require(scale % 20 == 0, s"scale=$scale must be divisible by 20")
    val base = scale * 3 / 20
    val e = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .filter(col("s") =!= col("d"))
    if (localThreshold > 0) {
      val rows = e.limit(math.min(localThreshold, Int.MaxValue - 1L).toInt + 1).collect()
      if (rows.length <= localThreshold) {
        val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).distinct
        val g = directedCsr(pairs.map(_._1), pairs.map(_._2), iterations, localThreshold)
        iterateLocal(g, scale)
        return localDirectedState(e.sparkSession, g, scale)
      }
    }
    val eS = stageSorted(e.distinct(), "s")
    // the d-sorted layout and the rank-history build both read ONLY the
    // staged eS — independent branches, so the d-sort's shuffle+sort job
    // overlaps the whole iteration chain instead of running before it
    // (guide §2.6; the r17 verdict's sequential-staging item).
    val eDDeferred = graft.sources.Tables.defer(() => stageSorted(eS, "d"))
    val od = eS.groupBy(col("s").as("node")).agg(count(lit(1)).as("degree"))
    val nd = eS.select(col("s").as("node"))
      .union(eS.select(col("d").as("node"))).distinct()
      .join(od, Seq("node"), "left")
      .select(col("node"), coalesce(col("degree"), lit(0L)).as("degree"))
    var nr = nd.select(col("node"), col("degree"), lit(scale).as("r"),
      array().cast("array<long>").as("rs"))
    for (_ <- 1 to iterations) {
      val contrib = eS.join(nr.select(col("node"), col("degree"), col("r")),
          col("s") === col("node"))
        .select(col("d"), expr("(r * 17L) div (20L * degree)").as("c"))
      val in = contrib.groupBy(col("d")).agg(sum(col("c")).as("cin"))
      nr = nr.join(in, col("node") === col("d"), "left")
        .select(col("node"), col("degree"),
          (lit(base) + coalesce(col("cin"), lit(0L))).as("r"),
          concat(col("rs"),
            array(lit(base) + coalesce(col("cin"), lit(0L)))).as("rs"))
    }
    val ranks =
      stageSorted(nr.select(col("node"), col("degree"), col("rs")), "node")
    PageRankDirectedState(eS, eDDeferred(), ranks, iterations, scale)
  }

  /** The directed refresh's reads of STORED state: the out-edges and
    * in-edges of a node set, the stored (out-degree, r_i) of nodes
    * (r_0 = scale), and the stored node count. */
  private trait DirectedLookups {
    def nodeCount: Long
    def outEdges(ids: Seq[Long]): Seq[(Long, Long)]
    /** (out-edges, in-edges) of `ids`. */
    def ballEdges(ids: Seq[Long]): (Seq[(Long, Long)], Seq[(Long, Long)])
    def history(ids: Seq[Long], i: Int): Map[Long, (Long, Long)]
  }

  /** Lookups answered by the driver copy — no Spark job. */
  private final class LocalLookups(g: DirectedLocal, scale: Long) extends DirectedLookups {
    def nodeCount: Long = g.nodes.length.toLong
    private def adjacent(ids: Seq[Long], off: Array[Int], nb: Array[Int],
                         edge: (Long, Long) => (Long, Long)): Seq[(Long, Long)] =
      ids.flatMap { x =>
        val j = g.indexOf(x)
        if (j < 0) Nil else (off(j) until off(j + 1)).map(e => edge(x, g.nodes(nb(e))))
      }
    def outEdges(ids: Seq[Long]): Seq[(Long, Long)] =
      adjacent(ids, g.outOff, g.outDst, (x, y) => (x, y))
    def ballEdges(ids: Seq[Long]): (Seq[(Long, Long)], Seq[(Long, Long)]) =
      (outEdges(ids), adjacent(ids, g.inOff, g.inSrc, (x, y) => (y, x)))
    def history(ids: Seq[Long], i: Int): Map[Long, (Long, Long)] =
      ids.map { x =>
        val j = g.indexOf(x)
        x -> ((g.degree(j), if (i == 0) scale else g.rs(j * g.iterations + i - 1)))
      }.toMap
  }

  /** Lookups as pruned parquet probes of the range-sorted relations:
    * a pushed point-set filter reads only the row groups whose zone maps
    * cover the ids. */
  private final class ParquetLookups(st: PageRankDirectedState) extends DirectedLookups {
    // the dense-handoff gate's stored-node count depends on nothing
    // batch-side — start it NOW so it overlaps the settle probe
    // (guide §2.6).
    private val count = graft.sources.Tables.defer(() => st.ranks.count())
    def nodeCount: Long = count()
    private def probe(rel: DataFrame, key: String, ids: Seq[Long]): Seq[(Long, Long)] =
      rel.filter(inIds(col(key), ids)).select(col("s"), col("d"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def outEdges(ids: Seq[Long]): Seq[(Long, Long)] = probe(st.edgesBySrc, "s", ids)
    def ballEdges(ids: Seq[Long]): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
      // both probes read only frozen state and the same ids —
      // independent, so they run CONCURRENTLY (guide §2.6).
      val Seq(out, in) = graft.sources.Tables.inParallel(Seq(
        () => outEdges(ids), () => probe(st.edgesByDst, "d", ids)))
      (out, in)
    }
    def history(ids: Seq[Long], i: Int): Map[Long, (Long, Long)] =
      st.ranks.filter(inIds(col("node"), ids))
        .select(col("node"), col("degree"),
          (if (i == 0) lit(st.scale) else element_at(col("rs"), i)).as("r"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  /** A ball refresh: the batch's novel edges and the per-iteration
    * recomputed (node, degree, r) rows — `recRows(i - 1)` covers B_i,
    * and the last covers the whole monotone ball. */
  private final case class DirRefreshCore(novel: Seq[(Long, Long)],
                                          recRows: Vector[Seq[(Long, Long, Long)]]) {
    def recs(spark: org.apache.spark.sql.SparkSession): Vector[DataFrame] =
      recRows.map(rows => spark.createDataset(rows)(
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)])
        .toDF("node", "degree", "r"))
    def ball(spark: org.apache.spark.sql.SparkSession): DataFrame =
      spark.createDataset(recRows.last.map(r => Tuple1(r._1)))(
        org.apache.spark.sql.Encoders.product[Tuple1[Long]]).toDF("node")
  }

  private def edgeRelation(spark: org.apache.spark.sql.SparkSession,
                           pairs: Seq[(Long, Long)]): DataFrame =
    spark.createDataset(pairs)(
      org.apache.spark.sql.Encoders.product[(Long, Long)]).toDF("s", "d")

  /** The re-iteration core of every PageRank refresh and fold.
    * Exactness: r_i(v) changes only if some IN-neighbor u of v changed
    * r_{i-1} or OUT-degree. Degrees change only at batch SOURCES (B_0);
    * changed_1 = outN(B_0) and changed_{i+1} ⊆ outN(changed_i ∪ B_0), so
    * with the MONOTONE ball B_1 = outN(B_0) ∪ B_0,
    * B_{i+1} = outN(B_i) ∪ B_i, every node outside B_i keeps its stored
    * r_i verbatim (recomputing a ball node an iteration didn't change
    * lands on the same value — its inputs are all recomputed-correct or
    * frozen-correct).
    *
    * The batch is tiny by contract: it collects once and dedupes on the
    * driver, and its novelty settles against the stored out-edges of its
    * sources (an anti-join against the full edge relation sorted all 20M
    * stored rows at the 10M-edge lattice). Per iteration the core reads
    * the out-edges of B_i (degrees + the B_{i+1} expansion), the IN-edges of B_i (the contributions)
    * and the frozen history of boundary in-neighbors, each as stored
    * state ([[DirectedLookups]]: the driver copy when the state holds
    * one, pruned parquet probes otherwise — two edge probes, since a
    * src-sorted layout cannot prune in-edges) plus the batch's novel
    * edges. Iterations run on the driver (ball-sized by contract — a
    * distributed loop spent its wall on ~40 small driver-coordinated
    * jobs; Scala `/` on non-negative longs ≡ SQL `div`). A ball past
    * [[RefreshDenseFraction]] of the stored nodes hands off to the full
    * recompute: Left(novel edges). */
  private def refreshDirectedCore(st: PageRankDirectedState, newEdges: DataFrame,
                                  srcCol: String, dstCol: String)
      : Either[Seq[(Long, Long)], DirRefreshCore] = {
    val k = st.iterations
    val scale = st.scale
    val base = scale * 3 / 20
    val stored: DirectedLookups = st.local match {
      case Some(g) => new LocalLookups(g, scale)
      case None => new ParquetLookups(st)
    }
    val batchPairs = newEdges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.distinct
    // settle: every stored out-edge of the batch sources — gives
    // novelty AND the stored out-degrees for free.
    val existing = stored.outEdges(batchPairs.map(_._1).distinct.sorted).toSet
    val novel = batchPairs.filterNot(existing)
    val dIncRows = novel.groupBy(_._1).view.mapValues(_.size.toLong).toSeq
      .sortBy(_._1)
    val b0Ids = dIncRows.map(_._1)
    val storedDeg = existing.toSeq.groupBy(_._1).view
      .mapValues(_.size.toLong).toMap
    val a0Rows = dIncRows.map { case (n, di) =>
      (n, storedDeg.getOrElse(n, 0L) + di) }
    val b0Set = b0Ids.toSet
    // B_1 = outN(B_0) ∪ B_0 — derivable from the settle alone.
    var biIds: Seq[Long] =
      (existing.toSeq.filter(e => b0Set(e._1)).map(_._2) ++ novel.map(_._2)
        ++ b0Ids).distinct.sorted
    if (biIds.size > stored.nodeCount * RefreshDenseFraction)
      return Left(novel)
    // recMap: node -> (current OUT-degree, r_{i-1}) over B_{i-1}; r_0 =
    // scale everywhere.
    var recMap: Map[Long, (Long, Long)] =
      a0Rows.map { case (n, dg) => n -> (dg, scale) }.toMap
    var recMaps = Vector.empty[Seq[(Long, Long, Long)]]
    for (i <- 1 to k) {
      // out-edges of B_i under the union — per-node counts are the
      // CURRENT degrees of every ball node, dsts the B_{i+1} expansion;
      // in-edges of B_i carry the contributions.
      val ball = biIds.toSet
      val (storedOut, storedIn) = stored.ballEdges(biIds)
      val outEdges = storedOut ++ novel.filter(e => ball(e._1))
      val inEdges = storedIn ++ novel.filter(e => ball(e._2))
      val degCount = outEdges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      // boundary in-neighbors outside B_{i-1} read frozen history
      // (r_{i-1} = rs[i-1], r_0 = scale; degree unchanged outside B_0).
      val needOldIds = inEdges.map(_._1).distinct.filterNot(recMap.contains).sorted
      val oldRows = stored.history(needOldIds, i - 1)
      val contrib = new scala.collection.mutable.HashMap[Long, Long]()
      inEdges.foreach { case (u, v) =>
        val (du, ru) = recMap.getOrElse(u, oldRows(u))
        contrib.update(v, contrib.getOrElse(v, 0L) + (ru * 17L) / (20L * du))
      }
      val next = biIds.map { x =>
        (x, degCount.getOrElse(x, 0L), base + contrib.getOrElse(x, 0L))
      }
      recMaps = recMaps :+ next
      recMap = next.map { case (n, dg, r) => n -> ((dg, r)) }.toMap
      biIds = (outEdges.map(_._2) ++ biIds).distinct.sorted
    }
    Right(DirRefreshCore(novel, recMaps))
  }

  /** INCREMENTAL [[pageRankDirected]] under a batch of new edges — re-
    * iterate only the batch's expanding neighborhood against frozen
    * stored iterates, landing on ranks bit-identical to a full recompute
    * over the union edge set. The corpus-sized `vertices` is touched
    * exactly once, by the final attach. Output: (node, pr) for EVERY
    * vertex. A state holding a driver copy is read from the copy alone:
    * the ball's ranks overwrite the copy's finals on the driver and
    * attach as a local relation, and the dense handoff recomputes over
    * the copy's edges plus the novel ones, so none of its relations is
    * built. */
  def pageRankDirectedRefresh(vertices: DataFrame, idCol: String,
                              st: PageRankDirectedState, newEdges: DataFrame,
                              srcCol: String, dstCol: String): DataFrame = {
    val spark = vertices.sparkSession
    val base = st.scale * 3 / 20
    refreshDirectedCore(st, newEdges, srcCol, dstCol) match {
      case Left(novel) =>
        val union = st.local match {
          // parallelized, not a local relation: the optimizer would
          // evaluate the recompute's projection and filter over a
          // graph-sized local relation on the driver.
          case Some(g) =>
            val (src, dst) = g.edgesPlus(novel)
            spark.createDataset(spark.sparkContext.parallelize(
              src.indices.map(i => (src(i), dst(i))),
              spark.sessionState.conf.numShufflePartitions))(
              org.apache.spark.sql.Encoders.product[(Long, Long)]).toDF("s", "d")
          case None => st.edgesBySrc.union(edgeRelation(spark, novel))
        }
        pageRankDirected(vertices, idCol, union, "s", "d", st.iterations, st.scale)
      case Right(c) =>
        val merged = st.local match {
          // every final rank is in the copy: splice on the driver.
          case Some(g) =>
            spark.createDataset(g.finalRanks(c.recRows.last))(
              org.apache.spark.sql.Encoders.product[(Long, Long)]).toDF("node", "r")
          // recomputed ball ranks over stored finals outside the ball.
          case None =>
            c.recs(spark).last.select(col("node"), col("r"))
              .union(st.ranks
                .select(col("node"), element_at(col("rs"), st.iterations).as("r"))
                .join(broadcast(c.ball(spark)), Seq("node"), "left_anti"))
        }
        // `merged` is corpus-sized — never hint it for broadcast (the
        // round-10 lattice lesson); the planner picks the join from its
        // stats.
        vertices.select(col(idCol).cast("long").as("__v"))
          .join(merged, col("__v") === col("node"), "left")
          .select(col("__v").as("node"), coalesce(col("r"), lit(base)).as("pr"))
    }
  }

  /** [[pageRankDirectedRefresh]]'s FOLDING twin: fold the batch and
    * return the updated state so refreshes CHAIN per micro-batch —
    * the rank maintenance of [[graft.streaming.LinkGraphIngest]]'s
    * grown edge roots. Chained folds ≡ [[pageRankDirectedState]] over
    * the union edge set, bitwise (GraphSpec). History splice: a ball
    * node's rs'[i] is its recomputed r_i where iteration i touched it and
    * its stored rs[i] otherwise; nodes outside the ball keep their rows
    * verbatim. A driver copy grows on the driver, dense handoff
    * included (the union's CSR is built from the copy and the novel
    * edges and re-iterated there), and is kept while the union has at
    * most the `localThreshold` the state was built under: the folded
    * state is then held, its relations built from the grown copy when
    * read. Past the bound the fold emits the grown copy's relations and
    * drops it. A state without a copy folds distributed: a staged delta
    * per side, or the distributed build over the union. */
  def pageRankDirectedRefreshState(st: PageRankDirectedState,
                                   newEdges: DataFrame,
                                   srcCol: String, dstCol: String)
      : PageRankDirectedState = {
    val spark = newEdges.sparkSession
    (refreshDirectedCore(st, newEdges, srcCol, dstCol), st.local) match {
      case (Left(novel), Some(g)) =>
        val union = g.plus(novel)
        iterateLocal(union, st.scale)
        localDirectedState(spark, union, st.scale)
      case (Left(novel), None) =>
        pageRankDirectedState(st.edgesBySrc.union(edgeRelation(spark, novel)),
          "s", "d", st.iterations, st.scale, localThreshold = 0)
      case (Right(c), Some(g)) =>
        localDirectedState(spark, g.grow(c.novel, c.recRows), st.scale)
      case (Right(c), None) =>
        // GROWING-UNION edge state: each sorted layout plus one tiny
        // staged delta per fold (probes prune the base; deltas are
        // batch-sized scans). A full re-sort per fold re-shuffled the
        // whole edge relation for nothing; compactPageRankDirectedState
        // is the periodic OPTIMIZE. The ranks ARE rewritten each fold:
        // ball rows change in place, which an immutable staged layout
        // can only express as a rewrite.
        val delta = stage(edgeRelation(spark, c.novel))
        val recs = c.recs(spark)
        val ball = c.ball(spark)
        var ballRows = recs.last.select(col("node"), col("degree"))
        for (i <- 1 to st.iterations)
          ballRows = ballRows.join(
            recs(i - 1).select(col("node"), col("r").as(s"__r$i")),
            Seq("node"), "left")
        val ballStored = st.ranks.select(col("node"), col("rs").as("__olds"))
          .join(broadcast(ball), Seq("node"))
        val ballRanks = ballRows
          .join(ballStored, Seq("node"), "left")
          .select(col("node"), col("degree"),
            array((1 to st.iterations).map(i =>
              coalesce(col(s"__r$i"), element_at(col("__olds"), i))): _*).as("rs"))
        val untouched = st.ranks.join(broadcast(ball), Seq("node"), "left_anti")
        PageRankDirectedState(st.edgesBySrc.union(delta), st.edgesByDst.union(delta),
          stageSorted(untouched.unionByName(ballRanks), "node"), st.iterations, st.scale)
    }
  }

  /** Re-sort a [[PageRankDirectedState]] whose edge relations have
    * accumulated per-fold deltas back into one range-sorted staged
    * relation per side — the periodic OPTIMIZE of the chaining fold (run
    * it every ~rotation, like [[graft.streaming.Gate.compactGrown]]). */
  def compactPageRankDirectedState(st: PageRankDirectedState): PageRankDirectedState = {
    // three re-sorts over disjoint frozen relations — concurrent
    // (guide §2.6).
    val Seq(eS, eD, r) = graft.sources.Tables.inParallel(Seq(
      () => stageSorted(st.edgesBySrc, "s"),
      () => stageSorted(st.edgesByDst, "d"),
      () => stageSorted(st.ranks, "node")))
    st.copy(edgesBySrc = eS, edgesByDst = eD, ranks = r)
  }

  /** Order-independent edge-set fingerprint: (row count, xor of per-edge
    * 64-bit hashes under two DIFFERENTLY-KEYED hashings). One small
    * action per round; xor commutes so the physical row order never
    * matters. The second xor puts a literal salt FIRST, so the hash
    * chaining state already differs before the edge fields mix in — a
    * per-edge collision under one keying does not force a collision under
    * the other (a TRAILING salt would: xxhash64 chains state left to
    * right, making H(src,dst,1) a pure per-edge function of H(src,dst)).
    * Both families are still xxhash64, so the pair is not provably
    * independent; heuristically, for non-adversarial data, a false
    * convergence needs both keyed xors AND the count to collide between
    * consecutive non-equal edge sets — roughly 2^-128, not the single
    * family's ~2^-64. xxhash64 is NON-cryptographic: an adversarially
    * crafted corpus could engineer per-edge collisions (~2^32 birthday
    * work per 64-bit family), so for hostile inputs substitute an exact
    * `except().isEmpty` check or a cryptographic digest; a collision
    * falsely declares convergence and emits an under-contracted labeling
    * with no error. */
  private def checksum(e: DataFrame): (Long, Long, Long) = {
    val row = e.agg(
      count(lit(1)).as("n"),
      expr("bit_xor(xxhash64(src, dst))").as("x"),
      expr("bit_xor(xxhash64(1, src, dst))").as("y")).head()
    (row.getLong(0),
      if (row.isNullAt(1)) 0L else row.getLong(1),
      if (row.isNullAt(2)) 0L else row.getLong(2))
  }
}
