package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Ann
import graft.sources.Tables._

/** Recall@k sweep for the approximate ANN paths (library surface in
  * [[graft.operators.Ann]]).
  *
  * The driver's hash oracle proves `x_ann_lsh` / `x_ann_ivf` compute their
  * own (deterministic) definitions exactly — it cannot say whether those
  * definitions RETRIEVE anything. At 100 TB brute force is off the table,
  * so the approximate paths are the product: a parameter default with
  * silently-bad recall is a correctness bug the gate can't see. This main
  * measures recall@10 against [[Ann.bruteTopK]] across the (bits, bands)
  * LSH grid and the (centroids, nprobe) IVF grid, with the scored-pair
  * count as the cost axis (pairs scored ≈ work a 1000-executor run pays).
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.AnnRecall"`
  * Results are recorded in README.md (§ANN recall) and the floor at the
  * documented defaults is pinned by AnnRecallSpec.
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)
    val d = Session.sfDir
    graft.functions.GraftFunctions.ensureRegistered(spark)

    val e = embeddings(spark, d).select(col("vec_id").as("id"), col("embedding"))
    val nq = 50
    val queries = e.filter(col("id") < nq)
    val corpus = fanOut(e.filter(col("id") >= nq))
    val k = 10
    val nCorpus = corpus.count()
    println(s"[ann-recall] dir=$d queries=$nq corpus=$nCorpus k=$k")

    // exact baseline once, staged (every grid point joins against it).
    val exact = stage(Ann.bruteTopK(queries, corpus, k))

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    println(f"| path | params | recall@$k | scored pairs | pairs/exhaustive | sec |")
    println(s"|---|---|---|---|---|---|")
    val exhaustive = (nq.toLong * nCorpus).toDouble

    for ((bits, bands) <- Seq((8, 2), (16, 4), (16, 8), (32, 8), (32, 16), (64, 16), (128, 16), (128, 32))) {
      val (approx, sec) = timed(stage(Ann.lshTopK(queries, corpus, k, bits, bands)))
      val pairs = lshScoredPairs(queries, corpus, bits, bands)
      val r = Ann.meanRecall(approx, exact)
      println(f"| lsh | bits=$bits bands=$bands | $r%.3f | $pairs | ${pairs / exhaustive}%.3f | $sec%.1f |")
    }

    // multi-probe at the same geometries: recall recovered from the SAME
    // index, cost paid in probe-side candidate volume.
    for ((bits, bands) <- Seq((32, 8), (64, 16), (128, 16), (128, 32))) {
      val (approx, sec) = timed(stage(
        Ann.lshTopKMultiProbe(queries, corpus, k, bits, bands)))
      val pairs = lshMultiProbeScoredPairs(queries, corpus, bits, bands)
      val r = Ann.meanRecall(approx, exact)
      println(f"| lsh-mp | bits=$bits bands=$bands | $r%.3f | $pairs | ${pairs / exhaustive}%.3f | $sec%.1f |")
    }

    // gate-path rows (the AnnIngest state-flag path): ONE staged index per
    // geometry serves single- AND multi-probe — the recall delta is pure
    // probe-side cost, nothing about the persisted index changes. These
    // are the numbers an ingest operator sees (*AgainstIndex forms).
    for ((bits, bands) <- Seq((64, 16), (128, 16))) {
      val idx = stage(Ann.bandedRelation(corpus, "c_id", "ce", bits, bands, 64))
      val (sp, sSec) = timed(stage(
        Ann.lshTopKAgainstIndex(queries, idx, k, bits, bands)))
      val (mp, mSec) = timed(stage(
        Ann.lshTopKMultiProbeAgainstIndex(queries, idx, k, bits, bands)))
      val spPairs = lshScoredPairs(queries, corpus, bits, bands)
      val mpPairs = lshMultiProbeScoredPairs(queries, corpus, bits, bands)
      val rSp = Ann.meanRecall(sp, exact)
      val rMp = Ann.meanRecall(mp, exact)
      println(f"| gate-sp | bits=$bits bands=$bands | $rSp%.3f | $spPairs | ${spPairs / exhaustive}%.3f | $sSec%.1f |")
      println(f"| gate-mp | bits=$bits bands=$bands | $rMp%.3f | $mpPairs | ${mpPairs / exhaustive}%.3f | $mSec%.1f |")
    }

    for (nc <- Seq(4, 8, 16); np <- Seq(1, 2, 4) if np <= nc) {
      val cents = Ann.trainCentroids(corpus, nc)
      val (approx, sec) = timed(stage(Ann.ivfTopK(queries, corpus, cents, k, np)))
      // IVF scores every vector of the probed lists: nprobe/centroids of
      // the corpus per query under balanced lists — measure the real count.
      val pairs = ivfScoredPairs(queries, corpus, cents, np)
      val r = Ann.meanRecall(approx, exact)
      println(f"| ivf | cents=$nc nprobe=$np | $r%.3f | $pairs | ${pairs / exhaustive}%.3f | $sec%.1f |")
    }

    // ---- PQ ADC recall (the x_ann_pq regime). PQ is COMPRESSION, not
    // pruning: every pair is scored, so the cost axis is bytes the scan
    // reads per corpus vector (m·log2(cb)/8 for packed codes vs 256 B of
    // raw floats) — the baseline is the exact ranking of PQ's OWN metric
    // (bruteTopKL2; cosine orders unnormalized vectors differently).
    val exactL2 = stage(Ann.bruteTopKL2(queries, corpus, k))
    println(s"| path | params | recall@$k | code bytes/vec | vs raw 256 B | sec |")
    println(s"|---|---|---|---|---|---|")
    for ((m, cb) <- Seq((4, 8), (8, 8), (8, 64), (16, 64), (16, 256))) {
      val codebook = Ann.trainCentroids(corpus, cb)
      val (approx, sec) = timed(stage(Ann.pqTopK(queries, corpus, codebook, k, m)))
      val r = Ann.meanRecall(approx, exactL2)
      val bytes = m * (31 - Integer.numberOfLeadingZeros(cb)) / 8.0
      // %.1f: sub-byte-aligned configs (e.g. m=4, cb=8 → 1.5 B) must not
      // round up and misstate the compression ratio.
      println(f"| pq | m=$m cb=$cb | $r%.3f | $bytes%.1f | ${bytes / 256.0}%.3f | $sec%.1f |")
    }

    // ---- IVFADC (the x_ann_ivfpq regime): IVF pruning × residual-PQ
    // codes — ADC runs only over probed cells, so unlike plain PQ the
    // cost axis is the FRACTION OF CODES SCANNED (plain ADC always scans
    // 1.0). The codebook is trained on RESIDUALS (cluster offset removed
    // → the same budget quantizes tighter); baseline is exact L2, same as
    // plain PQ.
    println(s"| path | params | recall@$k | codes scanned | vs all codes | sec |")
    println(s"|---|---|---|---|---|---|")
    for ((nc, np) <- Seq((8, 1), (8, 2), (16, 2), (16, 4))) {
      val cents = Ann.trainCentroids(corpus, nc)
      val codebook = Ann.trainCentroids(Ann.residualRelation(corpus, cents), 64)
      val (approx, sec) = timed(stage(
        Ann.ivfPqTopK(queries, corpus, cents, codebook, k, np, m = 8)))
      val r = Ann.meanRecall(approx, exactL2)
      val scanned = ivfScoredPairs(queries, corpus, cents, np)
      println(f"| ivfpq | cents=$nc nprobe=$np m=8 cb=64 | $r%.3f | $scanned " +
        f"| ${scanned / exhaustive}%.3f | $sec%.1f |")
    }

    // ---- embedding SELF-dedup pair recall (the x_dedup_embedding_lsh
    // regime): fraction of the full-quadratic cos ≥ τ pair set that the
    // banded self-join recovers, vs candidate pairs as the cost axis.
    val tau = 0.45
    val allE = fanOut(e)
    val nAll = allE.count()
    val fullPairs = stage(allE.as("a")
      .join(allE.as("b"), col("a.id") < col("b.id"))
      .withColumn("cos", expr("cosine_sim(a.embedding, b.embedding)"))
      .filter(col("cos") >= tau)
      .select(col("a.id").as("va"), col("b.id").as("vb")))
    val nFull = fullPairs.count()
    val selfExhaustive = nAll.toDouble * (nAll - 1) / 2.0
    println(s"[self-dedup] vectors=$nAll true pairs at cos>=$tau: $nFull")
    println(s"| path | params | pair recall | candidate pairs | cand/exhaustive | sec |")
    println(s"|---|---|---|---|---|---|")
    for ((bits, bands) <- Seq((16, 4), (32, 8), (64, 16), (64, 32), (128, 32))) {
      val (got, sec) = timed(stage(Ann.lshSelfPairs(allE, tau, bits, bands)))
      val hit = got.select(col("va"), col("vb"))
        .join(fullPairs, Seq("va", "vb"), "left_semi").count()
      val cand = selfCandidatePairs(allE, bits, bands)
      println(f"| lsh-self | bits=$bits bands=$bands | ${hit.toDouble / nFull}%.3f " +
        f"| $cand | ${cand / selfExhaustive}%.3f | $sec%.1f |")
    }

    // ---- kNN GRAPH recall (the x_knn_graph regime): every vector's
    // top-k from the banded self-join vs the exact self top-k (self-edge
    // excluded). Same cost axis as self-dedup: distinct candidate pairs.
    val exactGraph = stage(Ann.bruteTopK(allE, allE, k + 1)
      .filter(col("q_id") =!= col("neighbor_id")))
    println(s"| path | params | recall@$k | candidate pairs | cand/exhaustive | sec |")
    println(s"|---|---|---|---|---|---|")
    for ((bits, bands) <- Seq((16, 4), (64, 16), (128, 32))) {
      val (g, sec) = timed(stage(Ann.knnGraph(allE, k, bits, bands)))
      val r = Ann.meanRecall(g, exactGraph)
      val cand = selfCandidatePairs(allE, bits, bands)
      println(f"| knn-graph | bits=$bits bands=$bands | $r%.3f | $cand " +
        f"| ${cand / selfExhaustive}%.3f | $sec%.1f |")
    }
    spark.stop()
  }

  /** Distinct (va < vb) candidate pairs the banded self-join generates. */
  def selfCandidatePairs(corpus: DataFrame, bits: Int, bands: Int,
                         dim: Int = 64): Long = {
    val a = Ann.bandedRelation(corpus, "va", "ea", bits, bands, dim)
      .select("va", "band")
    val b = Ann.bandedRelation(corpus, "vb", "eb", bits, bands, dim)
      .select("vb", "band")
    a.join(b, "band").filter(col("va") < col("vb"))
      .select("va", "vb").distinct().count()
  }

  /** Distinct (q, c) candidate pairs the LSH path scores. */
  def lshScoredPairs(queries: DataFrame, corpus: DataFrame,
                     bits: Int, bands: Int, dim: Int = 64): Long = {
    val width = bits / bands
    def banded(df: DataFrame, idAlias: String): DataFrame =
      df.withColumn("__w", typedlit(Ann.hyperplaneWeights(bits, dim)))
        .withColumn("sig", expr(Ann.hyperplaneSigSql(bits, dim, "embedding", "__w")))
        .select(col("id").as(idAlias),
          explode(expr(
            s"""transform(sequence(0, ${bands - 1}),
               |  b -> concat(CAST(b AS STRING), ':', substring(sig, $width*b + 1, $width)))""".stripMargin))
            .as("band"))
    banded(queries, "q_id").join(banded(corpus, "c_id"), "band")
      .select("q_id", "c_id").distinct().count()
  }

  /** Distinct (q, c) candidate pairs the MULTI-PROBE LSH path scores —
    * the cost side of the recall-without-a-bigger-index trade. */
  def lshMultiProbeScoredPairs(queries: DataFrame, corpus: DataFrame,
                               bits: Int, bands: Int, dim: Int = 64): Long = {
    val width = bits / bands
    val cb = corpus.withColumn("__w", typedlit(Ann.hyperplaneWeights(bits, dim)))
      .withColumn("sig", expr(Ann.hyperplaneSigSql(bits, dim, "embedding", "__w")))
      .select(col("id").as("c_id"),
        explode(expr(
          s"""transform(sequence(0, ${bands - 1}),
             |  b -> concat(CAST(b AS STRING), ':', substring(sig, $width*b + 1, $width)))""".stripMargin))
          .as("band"))
    Ann.multiProbeBandedRelation(queries, "q_id", "qe", bits, bands, dim)
      .select("q_id", "band")
      .join(cb, "band")
      .select("q_id", "c_id").distinct().count()
  }

  /** (q, c) pairs the IVF path scores (probed lists' members per query). */
  def ivfScoredPairs(queries: DataFrame, corpus: DataFrame,
                     centroids: DataFrame, nprobe: Int): Long = {
    val assigned = Ann.assignToCentroids(corpus, centroids)
      .groupBy(col("cent_id")).agg(count(lit(1)).as("n"))
    val probes = Ann.ivfProbes(queries, centroids, nprobe)
    probes.join(assigned, "cent_id").agg(sum(col("n"))).head().getLong(0)
  }
}
