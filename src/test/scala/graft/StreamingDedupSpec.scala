package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextDedup
import graft.sources.Tables
import graft.streaming.{DedupIngest, Stream}

/** The production ingest loop end-to-end: a document stream deduplicated
  * per micro-batch against ONE persisted corpus LSH index
  * (graft.streaming.DedupIngest). Asserts the two load-bearing claims:
  *  1. the union of per-batch pairs equals the batch operator's output for
  *     the same documents (x_dedup_incremental's shape), and
  *  2. the corpus is staged EXACTLY once — no per-batch staging dirs, the
  *     index is scanned, not rebuilt, by every micro-batch. */
class StreamingDedupSpec extends SparkSpec {

  test("DedupIngest: micro-batch pairs match the batch operator; corpus staged once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    spark.conf.set("graft.stage.dir", dir)
    try {
      val docs = Tables.documents(spark, sf("sf0.001"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val fresh = docs.filter(col("doc_id") % 10 === 0)

      val index = DedupIngest.buildIndex(corpus, "doc_id", "text")
      def stageDirs: Int = new java.io.File(dir).listFiles()
        .count(_.getName.startsWith("stage_"))
      val afterBuild = stageDirs
      assert(afterBuild == 2, s"corpus index = shingles + band keys, got $afterBuild dirs")

      // the batch-mode truth for the SAME documents via the same reuse
      // overload (x_dedup_incremental's semantics).
      val expected = TextDedup.minhashLshPairsAgainstIndex(
          TextDedup.shingleProjection(fresh, "doc_id", "text", 3),
          index.shingled, index.bandKeys)
        .select(col("da"), col("db"), col("jaccard"))
        .as[(Long, Long, Double)].collect().toSet
      assert(expected.nonEmpty, "fixture produced no near-dup pairs — test is vacuous")

      // stream the same 50 new docs in 3 micro-batches (JSON payloads).
      val payloads = fresh
        .select(to_json(struct(col("doc_id"), col("text"))).as("j")).as[String].collect()
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val ms = MemoryStream[KMsg]
      val s = Stream.fromKafkaShaped(spark, ms.toDF(), schema)
      val got = scala.collection.mutable.Set.empty[(Long, Long, Double)]
      val batchIds = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = DedupIngest.start(s, index, "value.doc_id", "value.text") { (pairs, id) =>
        batchIds += id
        got ++= pairs.select(col("da"), col("db"), col("jaccard"))
          .as[(Long, Long, Double)].collect()
      }
      payloads.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1).foreach { case (_, grp) =>
        ms.addData(grp.map { case (j, i) =>
          KMsg("t", 0, i.toLong, new Timestamp(1000L + i), null, j.getBytes("UTF-8"))
        }.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      q.stop()

      assert(batchIds.distinct.size >= 3, s"expected ≥3 micro-batches, saw $batchIds")
      assert(got.toSet == expected,
        s"streaming pairs diverge from batch operator:\n got=${got.toSet}\n want=$expected")
      assert(stageDirs == afterBuild,
        s"micro-batches staged new dirs: $afterBuild → $stageDirs — batch side must stay unstaged")
    } finally spark.conf.unset("graft.stage.dir")
  }

  test("DedupIngest resumes from checkpoint: no pair lost or re-emitted") {
    // the exactly-once composition the operator's doc promises: the
    // checkpoint replays unacknowledged batches only, so a keyed sink
    // sees every pair exactly once across a stop/restart.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dedup-ckpt").toString
    spark.conf.set("graft.stage.dir", dir)
    try {
      val docs = Tables.documents(spark, sf("sf0.001"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val fresh = docs.filter(col("doc_id") % 10 === 0)
      val index = DedupIngest.buildIndex(corpus, "doc_id", "text")
      val expected = TextDedup.minhashLshPairsAgainstIndex(
          TextDedup.shingleProjection(fresh, "doc_id", "text", 3),
          index.shingled, index.bandKeys)
        .select(col("da"), col("db")).as[(Long, Long)].collect().toSet

      val payloads = fresh
        .select(to_json(struct(col("doc_id"), col("text"))).as("j")).as[String].collect()
      val (half1, half2) = payloads.zipWithIndex.splitAt(payloads.length / 2)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val ms = MemoryStream[KMsg]
      // keyed sink: replays overwrite, so duplicates would be visible as
      // nothing while LOSES would — count arrivals per pair instead.
      val arrivals = scala.collection.concurrent.TrieMap.empty[(Long, Long), Int]
      def mkStream = Stream.fromKafkaShaped(spark, ms.toDF(), schema)
      def run(): org.apache.spark.sql.streaming.StreamingQuery =
        DedupIngest.start(mkStream, index, "value.doc_id", "value.text",
          checkpoint = Some(ckpt)) { (pairs, _) =>
          pairs.select(col("da"), col("db")).as[(Long, Long)].collect()
            .foreach(p => arrivals.updateWith(p) { c => Some(c.getOrElse(0) + 1) })
        }
      val q1 = run()
      ms.addData(half1.map { case (j, i) =>
        KMsg("t", 0, i.toLong, new java.sql.Timestamp(1000L + i), null,
          j.getBytes("UTF-8")) }.toIndexedSeq: _*)
      q1.processAllAvailable()
      q1.stop()
      ms.addData(half2.map { case (j, i) =>
        KMsg("t", 0, i.toLong, new java.sql.Timestamp(1000L + i), null,
          j.getBytes("UTF-8")) }.toIndexedSeq: _*)
      val q2 = run()
      q2.processAllAvailable()
      q2.stop()

      assert(arrivals.keySet == expected,
        s"pairs after restart diverge: got=${arrivals.keySet} want=$expected")
      val replayed = arrivals.filter(_._2 > 1)
      assert(replayed.isEmpty, s"pairs emitted more than once: $replayed")
    } finally spark.conf.unset("graft.stage.dir")
  }

  test("startGated: bloom exact gate + LSH survivors ≡ batch ops; rotation swaps once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    spark.conf.set("graft.stage.dir", dir)
    try {
      val docs = Tables.documents(spark, sf("sf0.001"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), col("text"))
      val fresh0 = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      // exact copies of 10 corpus docs under new ids → guaranteed exact hits.
      val copies = corpus.orderBy(col("doc_id")).limit(10)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val fresh = fresh0.union(copies)

      val state = new java.util.concurrent.atomic.AtomicReference(
        DedupIngest.buildState(corpus, "doc_id", "text"))
      def stageDirs: Int = new java.io.File(dir).listFiles()
        .count(_.getName.startsWith("stage_"))
      val afterBuild = stageDirs
      assert(afterBuild == 3, s"state = shingles + band keys + digests, got $afterBuild")

      // batch-mode truth for version 0: exact pairs on content digest...
      def digests(df: org.apache.spark.sql.DataFrame, idAs: String) =
        df.select(col("doc_id").as(idAs), md5(col("text")).as("d"))
      val expectedExact = digests(fresh, "da").join(digests(corpus, "db"), "d")
        .select("da", "db").as[(Long, Long)].collect().toSet
      assert(expectedExact.size >= 10, s"fixture: $expectedExact")
      // ...and LSH pairs over the exact-surviving rows only.
      val exactIds = expectedExact.map(_._1).toSeq
      val survivors = fresh.filter(!col("doc_id").isin(exactIds: _*))
      val st0 = state.get()
      val expectedNear = TextDedup.minhashLshPairsAgainstIndex(
          TextDedup.shingleProjection(survivors, "doc_id", "text", 3),
          st0.index.shingled, st0.index.bandKeys)
        .select(col("da"), col("db")).as[(Long, Long)].collect().toSet
      assert(expectedNear.nonEmpty, "fixture produced no near-dup pairs — vacuous")

      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val ms = MemoryStream[KMsg]
      val s = Stream.fromKafkaShaped(spark, ms.toDF(), schema)
      val gotExact = scala.collection.mutable.Set.empty[(Long, Long)]
      val gotNear = scala.collection.mutable.Set.empty[(Long, Long)]
      val versions = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = DedupIngest.startGated(s, state, "value.doc_id", "value.text") {
        (exact, near, version, _) =>
          versions += version
          gotExact ++= exact.as[(Long, Long)].collect()
          gotNear ++= near.select(col("da"), col("db")).as[(Long, Long)].collect()
      }
      def send(df: org.apache.spark.sql.DataFrame): Unit = {
        val payloads = df.select(to_json(struct(col("doc_id"), col("text"))).as("j"))
          .as[String].collect()
        ms.addData(payloads.zipWithIndex.map { case (j, i) =>
          KMsg("t", 0, i.toLong, new Timestamp(1000L + i), null, j.getBytes("UTF-8"))
        }.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      // two micro-batches under version 0.
      send(fresh.filter(col("doc_id") % 2 === 0))
      send(fresh.filter(col("doc_id") % 2 =!= 0))
      assert(gotExact.toSet == expectedExact,
        s"exact gate diverges:\n got=${gotExact.toSet}\n want=$expectedExact")
      assert(gotNear.toSet == expectedNear,
        s"near pairs diverge:\n got=${gotNear.toSet}\n want=$expectedNear")
      assert(stageDirs == afterBuild,
        "micro-batches staged new dirs — per-batch work must stay unstaged")

      // ROTATE: corpus v1 additionally contains everything streamed so far.
      // Re-sent copies of fresh0 docs exact-hit ONLY after the rotation.
      state.set(DedupIngest.buildState(
        corpus.union(fresh), "doc_id", "text", version = 1L))
      val afterRotate = stageDirs
      assert(afterRotate == 6, s"rotation rebuilds exactly one state: $afterRotate")
      gotExact.clear(); gotNear.clear()
      val resent = fresh0.limit(5)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
      val expectedV1 = digests(resent, "da")
        .join(digests(corpus.union(fresh), "db"), "d")
        .select("da", "db").as[(Long, Long)].collect().toSet
      send(resent)
      assert(gotExact.toSet == expectedV1,
        s"post-rotation exact pairs:\n got=${gotExact.toSet}\n want=$expectedV1")
      assert(expectedV1.exists { case (_, db) => db % 10 == 0 },
        "fixture: no re-sent doc hit a v1-only corpus row — rotation unproven")
      assert(versions.distinct == Seq(0L, 1L), s"versions seen: $versions")
      assert(stageDirs == afterRotate,
        "post-rotation micro-batch staged new dirs")
    } finally spark.conf.unset("graft.stage.dir")
  }

  test("startGatedGrowing: batches become corpus; grown state ≡ fresh build; replay fenced") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    spark.conf.set("graft.stage.dir", dir)
    try {
      val docs = Tables.documents(spark, sf("sf0.001"))
        .select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val fresh = docs.filter(col("doc_id") % 10 === 0)
        .orderBy(col("doc_id")).limit(40).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      // b1: 20 novel docs + an exact copy of a corpus doc (must NOT fold).
      val corpusCopy = corpus.orderBy(col("doc_id")).limit(1).collect()
        .map(r => (100001L, r.getString(1))).toSeq
      val b1 = fresh.take(20).toSeq ++ corpusCopy
      // b2: an exact copy of a b1 NOVEL doc (cross-batch dedup — only
      // works if b1's novel rows became corpus) + 20 more novel docs.
      val b1NovelCopy = Seq((200001L, fresh.head._2))
      val b2 = b1NovelCopy ++ fresh.drop(20).toSeq

      val capacity = 10000L
      val state = new java.util.concurrent.atomic.AtomicReference(
        DedupIngest.buildGrowingState(corpus, "doc_id", "text",
          capacityItems = capacity))

      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val ms = MemoryStream[KMsg]
      val s = Stream.fromKafkaShaped(spark, ms.toDF(), schema)
      val exactGot = scala.collection.mutable.Set.empty[(Long, Long)]
      val versions = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = DedupIngest.startGatedGrowing(s, state, "value.doc_id", "value.text") {
        (exact, _, version, _) =>
          versions += version
          exactGot ++= exact.as[(Long, Long)].collect()
      }
      def send(rows: Seq[(Long, String)]): Unit = {
        val payloads = rows.toDF("doc_id", "text")
          .select(to_json(struct(col("doc_id"), col("text"))).as("j"))
          .as[String].collect()
        ms.addData(payloads.zipWithIndex.map { case (j, i) =>
          KMsg("t", 0, i.toLong, new Timestamp(1000L + i), null, j.getBytes("UTF-8"))
        }.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      send(b1)
      // the corpus copy was flagged and NOT folded.
      assert(exactGot.exists(_._1 == 100001L), s"corpus copy missed: $exactGot")
      send(b2)
      // cross-batch: b2's copy of a b1 NOVEL doc is an exact hit against
      // the GROWN corpus — the claim the whole gate exists for.
      assert(exactGot.contains((200001L, fresh.head._1)),
        s"b1-novel copy not caught by the grown index: $exactGot")
      assert(versions.toSeq == Seq(1L, 2L), s"fold versions: $versions")

      // grown state ≡ a fresh build over corpus ∪ all folded novel rows:
      // bloom filter BYTES and shingle-relation content both match.
      val novel = (b1 ++ b2).filterNot(r => r._1 == 100001L || r._1 == 200001L)
      val union = corpus.union(novel.toDF("doc_id", "text"))
      val freshState = DedupIngest.buildGrowingState(union, "doc_id", "text",
        capacityItems = capacity)
      val grown = state.get()
      assert(java.util.Arrays.equals(grown.cs.exactFilter, freshState.cs.exactFilter),
        "grown bloom filter must be byte-identical to a fresh union build")
      def shSet(df: org.apache.spark.sql.DataFrame) =
        df.select(col("id").cast("long"), expr("array_join(sh, '')"))
          .as[(Long, String)].collect().toSet
      assert(shSet(grown.cs.index.shingled) == shSet(freshState.cs.index.shingled),
        "grown shingle relation must equal the fresh union build's")
      // probe equivalence on a third batch: identical pairs from both.
      val b3 = docs.filter(col("doc_id") % 10 === 0)
        .orderBy(col("doc_id").desc).limit(30)
      def pairsOf(st: DedupIngest.GrowingState) = {
        val (e, nr) = DedupIngest.gateBatch(b3, st.cs, "doc_id", "text")
        (e.as[(Long, Long)].collect().toSet,
          nr.select(col("da"), col("db")).as[(Long, Long)].collect().toSet)
      }
      assert(pairsOf(grown) == pairsOf(freshState),
        "grown-state probe must equal fresh-union-state probe")
      // each fold appends ONE parquet file per grown directory.
      for (root <- Seq(grown.shingledPath, grown.bandPath, grown.digestsPath)) {
        val folds = new java.io.File(root).listFiles().filter(_.getName.startsWith("batch_"))
        assert(folds.length == 2, s"$root: folds ${folds.map(_.getName).toSeq}")
        folds.foreach { d =>
          val files = d.listFiles().count(_.getName.endsWith(".parquet"))
          assert(files == 1, s"$d holds $files parquet files, want 1")
        }
      }

      // COMPACTION: consolidating the per-batch subdirectories must
      // change files only, never rows or probe results.
      val compacted = DedupIngest.compactGrowingState(grown)
      assert(new java.io.File(compacted.shingledPath)
        .listFiles().forall(!_.getName.startsWith("batch_")),
        "compacted dir must hold plain consolidated files")
      assert(shSet(compacted.cs.index.shingled) == shSet(grown.cs.index.shingled),
        "compaction must preserve the shingle relation exactly")
      assert(pairsOf(compacted) == pairsOf(grown),
        "compacted-state probe must equal grown-state probe")
      // folds continue against the compacted state.
      state.set(compacted)
      send(Seq((400001L, fresh.head._2)))
      assert(exactGot.exists(p => p._1 == 400001L),
        "post-compaction fold must still catch exact copies")

      // replay fence: a batch id at/below foldedBatch must be skipped.
      val grown2 = state.get()
      val fenced = grown2.copy(foldedBatch = Long.MaxValue)
      state.set(fenced)
      val before = versions.size
      send(Seq((300001L, "never folded text")))
      assert(versions.size == before, "fenced batch must not fold or emit")
      assert(state.get() eq fenced, "fenced batch must not advance state")
    } finally spark.conf.unset("graft.stage.dir")
  }

  test("auditState: any past fold's verdicts replay from the manifests alone") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    spark.conf.set("graft.stage.dir", dir)
    try {
      val docs = Tables.documents(spark, sf("sf0.001"))
        .select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val fresh = docs.filter(col("doc_id") % 10 === 0)
        .orderBy(col("doc_id")).limit(30).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      // planted cross-batch copies make each fold's verdict set distinct.
      val b0 = fresh.take(10).toSeq
      val b1 = Seq((500001L, fresh.head._2)) ++ fresh.slice(10, 20).toSeq
      val b2 = Seq((600001L, fresh(10)._2)) ++ fresh.drop(20).toSeq
      var st = DedupIngest.buildGrowingState(corpus, "doc_id", "text",
        capacityItems = 10000L)
      def verdicts(e: org.apache.spark.sql.DataFrame,
                   nr: org.apache.spark.sql.DataFrame) =
        (e.as[(Long, Long)].collect().toSet,
          nr.select(col("da"), col("db")).as[(Long, Long)].collect().toSet)
      val recorded = Seq(b0, b1, b2).zipWithIndex.map { case (b, i) =>
        val ((e, nr), next) = DedupIngest.foldBatch(
          b.toDF("doc_id", "text"), st, "doc_id", "text", 0.5, None, i.toLong)
        val v = verdicts(e, nr)
        st = next
        v
      }
      assert(recorded.map(_._1).distinct.size == 3,
        s"fixture must give each fold a distinct exact-verdict set: $recorded")
      assert(recorded(1)._1.contains((500001L, fresh.head._1)))

      // audit replay: batch i against auditState(st, i-1) — bitwise the
      // recorded verdicts, reconstructed from the manifests alone (no
      // per-fold state was persisted anywhere else).
      Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
        val audit = DedupIngest.auditState(spark, st, i - 1L)
        val (e, nr) = DedupIngest.gateBatch(
          b.toDF("doc_id", "text"), audit, "doc_id", "text")
        assert(verdicts(e, nr) == recorded(i), s"audit replay of fold $i")
      }

      // retroactive takedown: retiring the doc b1's copy matched ERASES
      // that verdict from b1's audit replay — tombstones are always
      // current by design (an audit must not resurface retired content).
      val st2 = DedupIngest.retire(st, Seq(fresh.head._1).toDF("id"), tag = 77L)
      val audit1 = DedupIngest.auditState(spark, st2, 0L)
      val (e1, _) = DedupIngest.gateBatch(
        b1.toDF("doc_id", "text"), audit1, "doc_id", "text")
      assert(!e1.as[(Long, Long)].collect().toSet
        .contains((500001L, fresh.head._1)),
        "retired content must not resurface in audit replays")

      // RETENTION: expire history before fold 1. Live probes are bitwise
      // unchanged (rows preserved, files consolidated), audits at/above
      // the horizon still replay, audits below it REFUSE (their per-fold
      // files are gone), and tombstones remain retroactively current.
      val (lbE, lbN) = DedupIngest.gateBatch(
        b2.toDF("doc_id", "text"), st2.cs, "doc_id", "text")
      val liveBefore = verdicts(lbE, lbN)
      val st3 = DedupIngest.expireGrowingState(spark, st2, keepAfter = 1L)
      val (laE, laN) = DedupIngest.gateBatch(
        b2.toDF("doc_id", "text"), st3.cs, "doc_id", "text")
      assert(verdicts(laE, laN) == liveBefore,
        "expiry must not change live probe results")
      val audit2 = DedupIngest.auditState(spark, st3, 1L)
      val (e2, nr2) = DedupIngest.gateBatch(
        b2.toDF("doc_id", "text"), audit2, "doc_id", "text")
      assert(verdicts(e2, nr2) == recorded(2),
        "audit at the horizon must still replay exactly after expiry")
      val ex = intercept[IllegalArgumentException] {
        DedupIngest.auditState(spark, st3, 0L)
      }
      assert(ex.getMessage.contains("EXPIRED"),
        s"pre-horizon audit must refuse by name: ${ex.getMessage}")
      // growth continues against the expired state.
      val ((e3, _), st4) = DedupIngest.foldBatch(
        Seq((700001L, fresh.head._2), (700002L, "wholly novel text")).toDF("doc_id", "text"),
        st3, "doc_id", "text", 0.5, None, batchId = 3L)
      assert(!e3.as[(Long, Long)].collect().toSet.contains((700001L, fresh.head._1)),
        "tombstoned content must stay retired across the expiry")
      assert(DedupIngest.gateBatch(
        Seq((700003L, "wholly novel text")).toDF("doc_id", "text"), st4.cs,
        "doc_id", "text")._1.as[(Long, Long)].collect().toSet ==
        Set((700003L, 700002L)),
        "post-expiry folds must keep growing the index")
    } finally spark.conf.unset("graft.stage.dir")
  }

  test("retire: tombstoned docs leave every probe; re-ingest is novel; compaction purges") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    spark.conf.set("graft.stage.dir", dir)
    try {
      val docs = Tables.documents(spark, sf("sf0.001"))
        .select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val target = corpus.orderBy(col("doc_id")).limit(1).collect().head
      val (tid, ttext) = (target.getLong(0), target.getString(1))
      var st = DedupIngest.buildGrowingState(corpus, "doc_id", "text",
        capacityItems = 10000L)

      def exactHits(batch: Seq[(Long, String)]) =
        DedupIngest.gateBatch(batch.toDF("doc_id", "text"), st.cs,
          "doc_id", "text")._1.as[(Long, Long)].collect().toSet
      // sanity: a copy of the target is an exact hit pre-retirement.
      assert(exactHits(Seq((900L, ttext))) == Set((900L, tid)))

      // retire the target: it must leave the exact AND near probes.
      st = DedupIngest.retire(st, Seq(tid).toDF("id"), tag = 100L)
      assert(exactHits(Seq((901L, ttext))).isEmpty,
        "retired doc must not surface as an exact duplicate")
      val near = DedupIngest.gateBatch(
        Seq((902L, ttext)).toDF("doc_id", "text"), st.cs, "doc_id", "text")
        ._2.select(col("db")).as[Long].collect()
      assert(!near.contains(tid), "retired doc must not surface as a near dup")

      // re-ingest of the retired CONTENT is novel — it folds under its
      // new id and a later copy hits THAT id.
      val (_, st2) = DedupIngest.foldBatch(
        Seq((903L, ttext)).toDF("doc_id", "text"), st, "doc_id", "text",
        0.5, None, batchId = 0L)
      st = st2
      assert(exactHits(Seq((904L, ttext))) == Set((904L, 903L)),
        "re-ingested content must dedup against its NEW id")

      // compaction purges tombstoned rows from storage and resets the
      // tombstone relation; probes are unchanged.
      val compacted = DedupIngest.compactGrowingState(st)
      assert(compacted.cs.index.shingled.filter(col("id") === tid).count() == 0L,
        "compaction must drop retired rows from storage")
      val before = exactHits(Seq((905L, ttext)))
      st = compacted
      assert(exactHits(Seq((905L, ttext))) == before,
        "compaction must not change probe results")

      // RESTART: rebuild the state from the persisted directories alone —
      // probes identical, fold high-water restored.
      val restored = DedupIngest.restoreGrowingState(spark,
        st.shingledPath, st.bandPath, st.digestsPath, st.tombstonesPath,
        capacityItems = 10000L, foldedBatch = st.foldedBatch)
      val live = st
      st = restored
      assert(exactHits(Seq((906L, ttext))) == Set((906L, 903L)),
        "restored state must answer probes like the live state")
      assert(restored.foldedBatch == live.foldedBatch,
        "restored replay fence must carry the persisted high-water")
    } finally spark.conf.unset("graft.stage.dir")
  }

  test("gateBatch settles exactly once: emitted pair relations are LOCAL") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    spark.conf.set("graft.stage.dir", dir)
    try {
      val docs = Tables.documents(spark, sf("sf0.001"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"), col("text"))
      val st = DedupIngest.buildState(corpus, "doc_id", "text")
      // batch = 5 exact copies + 5 fresh docs.
      val batch = corpus.orderBy(col("doc_id")).limit(5)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        .union(docs.filter(col("doc_id") % 10 === 0).limit(5)
          .select(col("doc_id"), col("text")))
      val (exact, near) = DedupIngest.gateBatch(batch, st, "doc_id", "text")
      // the settle join ran during gateBatch (once); what the caller gets
      // is a LOCAL relation — were it the lazy settle subplan, the sink
      // and the survivor anti-join would each re-run it.
      val ep = exact.queryExecution.executedPlan.toString
      assert(!ep.contains("Join") && !ep.contains("Scan parquet"),
        s"exactPairs must be local (settled once):\n$ep")
      assert(exact.as[(Long, Long)].collect().toSet ==
        batch.select(col("doc_id").as("da"), md5(col("text")).as("d"))
          .join(corpus.select(col("doc_id").as("db"), md5(col("text")).as("d")), "d")
          .select("da", "db").as[(Long, Long)].collect().toSet)
      // survivors feed LSH against the staged index — still streamable.
      assert(near.count() >= 0)
    } finally spark.conf.unset("graft.stage.dir")
  }

  test("per-batch cluster maintenance: gate pairs + incrementalComponents ≡ full CC") {
    // the complete daily-ingest loop: the streaming gate emits per-batch
    // exact + near-dup pairs, and Graph.incrementalComponents folds each
    // batch's pairs into the live cluster labeling — after all batches the
    // labels must equal one full recompute over every pair ever seen.
    import spark.implicits._
    val docs = Tables.documents(spark, sf("sf0.001"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
      .union(corpus.orderBy(col("doc_id")).limit(10)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))

    val state = new java.util.concurrent.atomic.AtomicReference(
      DedupIngest.buildState(corpus, "doc_id", "text"))
    // corpus-internal near-dup pairs seed the labeling (self near-dups are
    // the batch operator family's job; the gate only emits batch-vs-corpus).
    val corpusPairs = TextDedup.minhashLshPairs(
      TextDedup.shingleRelation(corpus, "doc_id", "text", 3))
      .select(col("da"), col("db"))
    var labels = graft.operators.Graph
      .connectedComponents(corpusPairs, "da", "db")
    val allPairs = scala.collection.mutable.Set.empty[(Long, Long)]
    allPairs ++= corpusPairs.as[(Long, Long)].collect()

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val ms = MemoryStream[KMsg]
    val s = Stream.fromKafkaShaped(spark, ms.toDF(), schema)
    val q = DedupIngest.startGated(s, state, "value.doc_id", "value.text") {
      (exact, near, _, _) =>
        val batchPairs = exact.as[(Long, Long)].collect() ++
          near.select(col("da"), col("db")).as[(Long, Long)].collect()
        if (batchPairs.nonEmpty) {
          allPairs ++= batchPairs
          labels = graft.operators.Graph.incrementalComponents(
            labels, batchPairs.toSeq.toDF("src", "dst"))
          // materialize the labeling each fold (a real pipeline persists it).
          labels = labels.as[(Long, Long)].collect().toSeq.toDF("node", "component")
        }
    }
    fresh.select(to_json(struct(col("doc_id"), col("text"))).as("j")).as[String]
      .collect().zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
      .foreach { case (_, grp) =>
        ms.addData(grp.map { case (j, i) =>
          KMsg("t", 0, i.toLong, new Timestamp(1000L + i), null, j.getBytes("UTF-8"))
        }.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    q.stop()

    val full = graft.operators.Graph
      .connectedComponents(allPairs.toSeq.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toSet
    val inc = labels.as[(Long, Long)].collect().toSet
    assert(full.nonEmpty, "no pairs at all — vacuous")
    assert(inc == full,
      s"incremental cluster labels diverge from full recompute after streaming")
  }

  test("span index gate: per-batch copied spans ≡ batch operator; index staged once") {
    // the ingest form of x_decontaminate_spans: the reference span index
    // is staged ONCE, every micro-batch probes it with an unstaged window
    // projection. Spans are per-document, so the union over micro-batches
    // must equal the batch operator on the union exactly.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    spark.conf.set("graft.stage.dir", dir)
    try {
      val docs = Tables.documents(spark, sf("sf0.001"))
      val ref = docs.filter(col("doc_id") % 10 === 0)
      val fresh = docs.filter(col("doc_id") % 10 =!= 0)
      val idx = TextDedup.spanIndex(ref, "doc_id", "text", k = 4)
      def stageDirs: Int = new java.io.File(dir).listFiles()
        .count(_.getName.startsWith("stage_"))
      val afterBuild = stageDirs
      assert(afterBuild == 1, s"span index = one staged digest relation, got $afterBuild")

      val expected = TextDedup
        .spansAgainstIndex(fresh, idx, "doc_id", "text", k = 4)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(expected.nonEmpty, "fixture produced no copied spans — vacuous")

      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val ms = MemoryStream[KMsg]
      val s = Stream.fromKafkaShaped(spark, ms.toDF(), schema)
      val got = scala.collection.mutable.Set.empty[(Long, Long, Long, Long)]
      val q = s.forEachBatch({ (batch, _) =>
        got ++= TextDedup.spansAgainstIndex(
          batch.select(col("value.doc_id").as("doc_id"), col("value.text").as("text")),
          idx, "doc_id", "text", k = 4)
          .as[(Long, Long, Long, Long)].collect()
      })
      fresh.select(to_json(struct(col("doc_id"), col("text"))).as("j")).as[String]
        .collect().zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
        .foreach { case (_, grp) =>
          ms.addData(grp.map { case (j, i) =>
            KMsg("t", 0, i.toLong, new Timestamp(1000L + i), null, j.getBytes("UTF-8"))
          }.toIndexedSeq: _*)
          q.processAllAvailable()
        }
      q.stop()

      assert(got.toSet == expected,
        s"streamed spans diverge from batch: got=${got.toSet}\n want=$expected")
      assert(stageDirs == afterBuild,
        s"micro-batches staged new dirs: $afterBuild → $stageDirs — batch side must stay unstaged")
    } finally spark.conf.unset("graft.stage.dir")
  }

  test("growing gate: one micro-batch starts a pinned number of Spark jobs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    spark.conf.set("graft.stage.dir", dir)
    try {
      val docs = Tables.documents(spark, sf("sf0.001"))
        .select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val held = docs.filter(col("doc_id") % 10 === 0).orderBy(col("doc_id"))
        .select(col("doc_id")).as[Long].collect()
      val copies = corpus.orderBy(col("doc_id")).limit(10).select(col("doc_id")).as[Long].collect()
      var st = DedupIngest.buildGrowingState(corpus, "doc_id", "text",
        capacityItems = 10000L)
      // a batch like the stream's, read from a source scan: exact copies,
      // perturbed copies and novel docs.
      def batch(b: Int) = {
        val c = docs.filter(col("doc_id").isin(copies.slice(5 * b, 5 * b + 5): _*))
        c.select((col("doc_id") + 1000000L * (b + 1)).as("doc_id"), col("text"))
          .union(c.select((col("doc_id") + 2000000L * (b + 1)).as("doc_id"),
            concat(col("text"), lit(" perturbed")).as("text")))
          .union(docs.filter(col("doc_id").isin(held.slice(10 * b, 10 * b + 10): _*)))
      }
      def fold(b: Int) = {
        val ((e, n), next) = DedupIngest.foldBatch(batch(b), st, "doc_id", "text",
          0.5, None, b.toLong)
        st = next
        (e.as[(Long, Long)].collect().toSet, n.select(col("da"), col("db")).as[(Long, Long)].collect().toSet)
      }
      fold(0) // the first fold also bootstraps the manifests
      val ((exact, near), jobs) = jobsDuring(fold(1))
      assert(exact.size == 5 && near.nonEmpty, s"fixture: exact=$exact near=$near")
      // foldBatch: 1 batch read + 1 settle + 3 appends (the projections,
      // bloom fold and state re-open start none); the sink's collects: 5
      // for the LSH probe over the local batch relations.
      assert(jobs == 10, s"one growing-gate micro-batch started $jobs Spark jobs")
    } finally spark.conf.unset("graft.stage.dir")
  }

  test("retire: driver-held tombstones survive a restart; later folds never pair them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    spark.conf.set("graft.stage.dir", dir)
    try {
      val docs = Tables.documents(spark, sf("sf0.001"))
        .select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val held = docs.filter(col("doc_id") % 10 === 0).orderBy(col("doc_id"))
        .limit(10).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val targets = corpus.orderBy(col("doc_id")).limit(3).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      var live = DedupIngest.buildGrowingState(corpus, "doc_id", "text",
        capacityItems = 10000L)
      live = DedupIngest.foldBatch(held.toDF("doc_id", "text"), live, "doc_id", "text",
        0.5, None, 0L)._2
      // retire a corpus doc and a folded doc, in two retire calls.
      val retired = Set(targets.head._1, held.head._1)
      live = DedupIngest.retire(live, Seq(targets.head._1).toDF("id"), tag = 1L)
      live = DedupIngest.retire(live, Seq(held.head._1).toDF("id"), tag = 2L)
      assert(live.tombstones == retired)

      val restored = DedupIngest.restoreGrowingState(spark,
        live.shingledPath, live.bandPath, live.digestsPath, live.tombstonesPath,
        capacityItems = 10000L, foldedBatch = live.foldedBatch)
      assert(restored.tombstones == retired, s"restored tombstones: ${restored.tombstones}")

      // exact and perturbed copies of the retired and of live docs.
      val next = (Seq(targets.head, held.head, targets(1), held(1)).zipWithIndex
        .flatMap { case ((_, t), i) =>
          Seq((800000L + i, t), (810000L + i, t + " perturbed")) } :+
        ((820000L, targets(2)._2))).toDF("doc_id", "text")
      def pairs(e: org.apache.spark.sql.DataFrame, n: org.apache.spark.sql.DataFrame) =
        (e.as[(Long, Long)].collect().toSet,
          n.select(col("da"), col("db")).as[(Long, Long)].collect().toSet)
      val (le, ln) = DedupIngest.gateBatch(next, live.cs, "doc_id", "text")
      val (re, rn) = DedupIngest.gateBatch(next, restored.cs, "doc_id", "text")
      assert(pairs(re, rn) == pairs(le, ln),
        "restored state must answer probes like the live state")

      val ((fe, fn), folded) = DedupIngest.foldBatch(next, restored, "doc_id", "text",
        0.5, None, 1L)
      val (exact, near) = pairs(fe, fn)
      assert(exact.contains((800002L, targets(1)._1)) && exact.contains((800003L, held(1)._1)) &&
          exact.contains((820000L, targets(2)._1)),
        s"live docs must still pair exactly: $exact")
      assert(near.nonEmpty, s"fixture: no near pair at all")
      assert(!(exact ++ near).exists(p => retired(p._2)),
        s"retired ids surfaced after the restart: ${(exact ++ near).filter(p => retired(p._2))}")
      assert(folded.tombstones == retired, "folds carry the tombstones forward")
    } finally spark.conf.unset("graft.stage.dir")
  }

  test("pruneGrown: deletes only batch subdirs above the fence") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-grown").toString
    Seq(1L).toDF("id").write.parquet(s"$root/base")
    for (b <- Seq(0L, 1L, 2L, 7L))
      graft.streaming.Gate.growDir(Seq(b).toDF("id"), root, b)
    val pruned = graft.streaming.Gate.pruneGrown(spark, root, maxBatch = 1L)
    assert(pruned == Seq(2L, 7L), s"pruned: $pruned")
    val left = graft.streaming.Gate.readGrown(spark, root)
      .as[Long].collect().toSet
    assert(left == Set(0L, 1L),
      s"base files and fenced batches must survive: $left")
    assert(graft.streaming.Gate.pruneGrown(spark, root, 1L).isEmpty,
      "second prune must be a no-op")
  }

  test("restore after mid-fold crash: orphan subdirs pruned, replay folds cleanly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    spark.conf.set("graft.stage.dir", dir)
    try {
      val docs = Tables.documents(spark, sf("sf0.001"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), col("text"))
      val st0 = DedupIngest.buildGrowingState(corpus, "doc_id", "text",
        capacityItems = 10000L)
      val preDigests = st0.cs.digests.select("db").as[Long].collect().toSet

      // the batch: two brand-new documents.
      val batch = Seq((500001L, "crash replay text one"),
        (500002L, "crash replay text two")).toDF("doc_id", "text")

      // CRASH SIMULATION: foldBatch writes the batch_0 subdirs, but the
      // caller never persists foldedBatch = 0 (crash before the durable
      // record) — on disk: orphan subdirs; persisted fence: -1.
      DedupIngest.foldBatch(batch, st0, "doc_id", "text", 0.5, None, 0L)

      // RESTORE with the PERSISTED fence: orphans must be pruned so the
      // replayed batch probes the exact pre-fold snapshot.
      val restored = DedupIngest.restoreGrowingState(spark,
        st0.shingledPath, st0.bandPath, st0.digestsPath, st0.tombstonesPath,
        capacityItems = 10000L, foldedBatch = -1L)
      assert(restored.cs.digests.select("db").as[Long].collect().toSet ==
        preDigests, "restored digests must equal the pre-fold corpus")

      // CHECKPOINT REPLAY of the same batch: no self exact-matches, the
      // rows fold as NOVEL (the unpruned bug folded them as duplicates
      // and overwrote the subdirs with empty relations — data loss).
      val ((exact, _), st1) = DedupIngest.foldBatch(batch, restored,
        "doc_id", "text", 0.5, None, 0L)
      assert(exact.count() == 0L,
        "replayed batch must not exact-match its own partial fold")
      assert(st1.cs.digests.select("db").as[Long].collect().toSet ==
        preDigests ++ Set(500001L, 500002L),
        "replayed fold must append the batch rows to the corpus")
    } finally spark.conf.unset("graft.stage.dir")
  }
}
