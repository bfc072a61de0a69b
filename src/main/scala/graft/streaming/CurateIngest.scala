package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Ranking

/** The COMPOSED production ingest loop — the capstone the gate family
  * builds toward: every micro-batch of documents runs the full curation
  * path in one foreachBatch body,
  *
  *   1. QUALITY GATE: scored against the frozen classifier weights
  *      ([[ScoreIngest.ClassifierWeights]]); only `keep = true` rows go
  *      on (the C4/RefinedWeb filter, applied at ingest);
  *   2. DEDUP GATE + FOLD: the keepers run the bloom-exact + LSH gate
  *      against the SELF-GROWING corpus index and their novel rows
  *      become corpus ([[DedupIngest.startGatedGrowing]]'s fold step) —
  *      so batch N+1 dedups against batch N's accepted documents;
  *   3. the sink receives (verdicts, exactPairs, nearPairs) per batch —
  *      everything a downstream manifest needs to record what was
  *      dropped and why.
  *
  * Composition contract: the classifier state and the dedup state rotate
  * INDEPENDENTLY (retrain weights without touching the index and vice
  * versa); the fold's replay fence ([[Gate.Folded]]) governs the whole
  * body — a checkpoint-replayed batch is neither re-folded nor
  * re-emitted. Per-batch cost is the sum of the parts, all batch-sized:
  * a map-side feature projection + broadcast weights join, then the
  * dedup fold over the kept rows (one collect, a driver-side bloom
  * probe, the settle + LSH probe, and batch-sized appends; see
  * [[DedupIngest.foldBatch]]).
  */
object CurateIngest {

  /** Start the composed loop. `onBatch` receives (verdicts = (doc_id,
    * score, n_feats, keep) for EVERY batch row, exactPairs, nearPairs —
    * pairs over the kept rows only — plus (dedupVersion, batchId)). */
  def start(stream: Stream,
            classifier: AtomicReference[ScoreIngest.ClassifierWeights],
            dedup: AtomicReference[DedupIngest.GrowingState],
            idCol: String, textCol: String,
            threshold: Double = 0.5, bandCap: Option[Int] = None,
            checkpoint: Option[String] = None)(
            onBatch: (DataFrame, DataFrame, DataFrame, Long, Long) => Unit): StreamingQuery =
    Gate.startFolding(stream, dedup, checkpoint) { (batch, st, batchId) =>
      val cw = classifier.get()
      val docs = batch.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text"))
      // 1. quality verdicts for every row (label irrelevant at probe).
      val verdicts = Ranking.classifyAgainstWeights(
        Ranking.classifierRelation(docs, "doc_id", "text", lit(false),
          cw.hexDigits),
        cw.weights)
      // keep decisions are batch-sized by contract — settle them once so
      // the kept-row filter and the emitted verdicts agree exactly.
      val vRows = verdicts
        .as[(Long, Long, Long, Boolean)](
          org.apache.spark.sql.Encoders.product[(Long, Long, Long, Boolean)])
        .collect().toSeq
      val keepIds = vRows.filter(_._4).map(_._1).toSet
      val spark = batch.sparkSession
      val verdictsLocal = spark.createDataset(vRows)(
        org.apache.spark.sql.Encoders.product[(Long, Long, Long, Boolean)])
        .toDF("doc_id", "score", "n_feats", "keep")
      val kept =
        if (keepIds.isEmpty) docs.limit(0)
        else docs.filter(col("doc_id").isInCollection(keepIds))
      // 2. dedup gate + self-growing fold over the kept rows.
      val (pairs, next) = DedupIngest.foldBatch(kept, st, "doc_id", "text",
        threshold, bandCap, batchId)
      ((verdictsLocal, pairs._1, pairs._2), next)
    } { case ((verdicts, exactPairs, nearPairs), version, batchId) =>
      onBatch(verdicts, exactPairs, nearPairs, version, batchId)
    }
}
