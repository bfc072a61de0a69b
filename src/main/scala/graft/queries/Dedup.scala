package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Tables._

/** Deduplication family over `documents` / `embeddings` — the core
  * LLM-training-data operators: exact, n-gram Jaccard, MinHash+LSH,
  * SimHash, and embedding-cosine near-dup.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact dedup shuffles a 16-byte digest, never the document text;
  *  - candidate generation is always an equi-join on a short key (shared
  *    shingle / LSH band / SimHash band) — there is no O(n²) pair scan
  *    anywhere; verification runs only on candidates;
  *  - all hashes are md5 hex strings so the DuckDB oracle reproduces them
  *    bit-for-bit; Jaccard values are a single double division of exact
  *    ints (engine-independent);
  *  - at 100 TB the shared-shingle join needs a document-frequency cap on
  *    ubiquitous shingles (stopword shingles create quadratic hot keys);
  *    noted inline where it applies.
  */
object Dedup {

  /** DuckDB twin of TextDedup.shingleRelation's distinct word 3-grams. */
  private val duckShingles3 =
    """list_distinct(list_transform(
      |  range(1, greatest(len(toks) - 2, 1) + 1),
      |  i -> array_to_string(toks[i:i+2], ' ')))""".stripMargin

  /** DuckDB twin of TextDedup.simhashPairs (maxHamming = 7): CTE chain
    * ending in `pairs(da, db)` / `h(da, db, hamming)` — shared by the pair
    * query and the connected-components closure built on top of it. */
  private val duckSimhashPairCtes = """
      t AS (
        SELECT doc_id,
               list_transform(list_distinct(string_split(lower(text), ' ')), t -> md5(t)) AS hs
        FROM documents),
      f AS (
        SELECT doc_id AS id,
               array_to_string(list_transform(range(0, 32), p ->
                 substr('0123456789abcdef', 1 +
                   list_reduce(list_prepend(0, list_transform(range(0, 4), b ->
                     CASE WHEN list_reduce(list_prepend(0, list_transform(hs, h ->
                            (((instr('0123456789abcdef', substr(h, p+1, 1)) - 1) >> b) & 1) * 2 - 1)),
                            (acc, v) -> acc + v) > 0
                          THEN (1 << b) ELSE 0 END)), (a, v) -> a + v),
                   1)), '') AS fp
        FROM t),
      bd AS (
        SELECT id, fp,
               unnest(list_transform(range(0, 8), b ->
                 CAST(b AS VARCHAR) || ':' || substr(fp, 4*b + 1, 4))) AS bk
        FROM f),
      cand AS (
        SELECT DISTINCT a.id AS da, b.id AS db, a.fp AS fa, b.fp AS fb
        FROM bd a JOIN bd b ON a.bk = b.bk AND a.id < b.id),
      h AS (
        SELECT da, db,
               CAST(list_reduce(list_prepend(0, list_transform(range(0, 32), p ->
                 bit_count(xor(instr('0123456789abcdef', substr(fa, p+1, 1)) - 1,
                               instr('0123456789abcdef', substr(fb, p+1, 1)) - 1)))),
                 (a, v) -> a + v) AS BIGINT) AS hamming
        FROM cand),
      pairs AS (SELECT da, db FROM h WHERE hamming <= 7)"""

  val all: Seq[Q] = Seq(
    // -------------------------------------------------------- exact dedup
    // Group by content digest, keep the smallest doc_id as canonical.
    // Only the 32-char digest shuffles; text never leaves the map side.
    Q("x_dedup_exact", (s, d) => {
      graft.operators.TextDedup.exactGroups(documents(s, d), "doc_id", "text")
        .orderBy(col("canonical_id"))
    }, Some("""
      SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY canonical_id""")),

    // --------------------------------------------------------- soft dedup
    // TextDedup.softDedup: keep each member of an exact-dup cluster of
    // size n with probability 1/n (deterministic salted-hash threshold,
    // floor(2^32/n) — exact integer arithmetic both engines) — expected
    // one UNIFORM survivor per cluster instead of always the min-id
    // canonical, with n_copies emitted as the exact re-weight signal.
    // Fixture: two partial replicas (doc_id % 7 → +1M ids, % 21 → +2M)
    // give the corpus clusters of size 1, 2, and 3; both engines state
    // the identical UNION ALL, so the window count and every keep
    // decision replay bitwise.
    Q("x_dedup_soft", (s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("text"))
      val docs = base
        .unionAll(base.filter(expr("doc_id % 7 = 0"))
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionAll(base.filter(expr("doc_id % 21 = 0"))
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      graft.operators.TextDedup.softDedup(docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Some("""
      WITH u AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 21 = 0),
      c AS (SELECT doc_id,
                   CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS n_copies
            FROM u)
      SELECT doc_id, n_copies,
             CASE WHEN substr(md5('soft:' || CAST(doc_id AS VARCHAR)), 1, 8) <
                       (CASE WHEN n_copies = 1 THEN 'g'
                             ELSE lower(lpad(hex(4294967296 // n_copies), 8, '0')) END)
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS kept
      FROM c ORDER BY doc_id""")),

    // -------------------------------------------------- corpus-version diff
    // TextDedup.corpusDiff: the ingest-audit primitive — added/removed/
    // changed/unchanged per id between two corpus versions, by content
    // digest, with only (id, digest) rows ever shuffling. Fixture: v_new
    // drops doc_id % 13 = 0 (removed), rewrites text of doc_id % 7 = 0
    // (changed), and appends +1M ids for doc_id % 11 = 0 (added) — both
    // engines state the identical version algebra.
    Q("x_corpus_diff", (s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("text"))
      val vNew = base.filter(expr("doc_id % 13 != 0"))
        .select(col("doc_id"),
          expr("IF(doc_id % 7 = 0, concat('edited ', text), text)").as("text"))
        .unionAll(base.filter(expr("doc_id % 11 = 0"))
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.operators.TextDedup.corpusDiff(base, vNew, "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Some("""
      WITH v_old AS (SELECT doc_id, text FROM documents),
      v_new AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN 'edited ' || text ELSE text END AS text
        FROM documents WHERE doc_id % 13 != 0
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0),
      j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                   md5(o.text) AS dgo, md5(n.text) AS dgn
            FROM v_old o FULL OUTER JOIN v_new n ON o.doc_id = n.doc_id)
      SELECT doc_id,
             CASE WHEN dgo IS NULL THEN 'added'
                  WHEN dgn IS NULL THEN 'removed'
                  WHEN dgo = dgn THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM j ORDER BY doc_id""")),

    // ----------------------------------------------- n-gram Jaccard dedup
    // Inverted-index plan (graft.operators.TextDedup.jaccardPairs):
    // candidates share ≥1 eligible shingle; TRUE Jaccard over the full
    // shingle sets verifies candidates only. The document-frequency cap
    // (df ≤ 5, window-counted over the shingle key the join already
    // partitions by — no extra shuffle) drops ubiquitous shingles whose k
    // postings would emit k² candidate pairs: THE quadratic hot-key guard
    // at 100 TB, mirrored exactly in the oracle's QUALIFY.
    Q("x_dedup_ngram_jaccard", (s, d) => {
      val sh = graft.operators.TextDedup
        .shingleRelation(fanOut(documents(s, d)), "doc_id", "text", n = 3)
      graft.operators.TextDedup.jaccardPairs(sh, threshold = 0.5, dfCap = Some(5))
        .orderBy(col("da"), col("db"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      d AS (SELECT doc_id, $duckShingles3 AS sh FROM t),
      ex AS (SELECT doc_id, unnest(sh) AS s FROM d),
      eligible AS (SELECT doc_id, s FROM ex
                   QUALIFY COUNT(*) OVER (PARTITION BY s) <= 5),
      cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db
               FROM eligible a JOIN eligible b ON a.s = b.s AND a.doc_id < b.doc_id),
      v AS (SELECT da, db,
              len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
              len(sa.sh) AS na, len(sb.sh) AS nb
            FROM cand JOIN d sa ON da = sa.doc_id JOIN d sb ON db = sb.doc_id)
      SELECT da, db, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
      FROM v WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
      ORDER BY da, db""")),

    // --------------------------------------------------- MinHash+LSH dedup
    // 12 min-hashes (min md5 over shingles, seeded by index) → 4 bands of 3
    // → candidates share a band key → verified with exact Jaccard ≥ 0.5.
    // The band join is the whole point at scale: each doc emits 4 short
    // keys, near-dups collide, everything else doesn't.
    // The shingle and band relations are staged (Tables.stage): the band
    // self-join has no automatic subplan reuse across its two sides, so the
    // whole tokenize→shingle→minhash subtree would run twice — materializing
    // once is exactly the production staging-table pattern.
    Q("x_dedup_minhash_lsh", (s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      // graft.operators.TextDedup.minhashLshPairs: native one-pass
      // minhash_sig Expression (the SQL transform/array_min formulation
      // interprets k·|sh| lambda frames), banded keys, exact verify.
      val sh = graft.operators.TextDedup
        .shingleRelation(fanOut(documents(s, d)), "doc_id", "text", n = 3)
      graft.operators.TextDedup
        .minhashLshPairs(sh, k = 12, bands = 4, threshold = 0.5)
        .orderBy(col("da"), col("db"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      d AS (SELECT doc_id, $duckShingles3 AS sh FROM t),
      sg AS (SELECT doc_id, sh,
               list_transform(range(0, 12),
                 i -> list_min(list_transform(sh, s -> md5(CAST(i AS VARCHAR) || '|' || s)))) AS sig
             FROM d),
      bd AS (SELECT doc_id,
               unnest(list_transform(range(0, 4),
                 b -> md5(CAST(b AS VARCHAR) || '|' || sig[3*b+1] || sig[3*b+2] || sig[3*b+3]))) AS band_key
             FROM sg),
      cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db
               FROM bd a JOIN bd b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
      v AS (SELECT da, db,
              len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
              len(sa.sh) AS na, len(sb.sh) AS nb
            FROM cand JOIN d sa ON da = sa.doc_id JOIN d sb ON db = sb.doc_id)
      SELECT da, db, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
      FROM v WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
      ORDER BY da, db"""), headline = true),

    // ------------------------------------------------- containment dedup
    // Directional overlap |A∩B|/|A| — catches subset duplication (a doc
    // quoted/embedded inside a larger one) that symmetric Jaccard's
    // union denominator dilutes away. Same inverted-index candidates and
    // df-cap hot-key guard as x_dedup_ngram_jaccard; exact verify on
    // candidates only; both directions emitted.
    Q("x_dedup_containment", (s, d) => {
      val sh = graft.operators.TextDedup
        .shingleRelation(fanOut(documents(s, d)), "doc_id", "text", n = 3)
      graft.operators.TextDedup.containmentPairs(sh, threshold = 0.6, dfCap = Some(5))
        .orderBy(col("da"), col("db"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      d AS (SELECT doc_id, $duckShingles3 AS sh FROM t),
      ex AS (SELECT doc_id, unnest(sh) AS s FROM d),
      eligible AS (SELECT doc_id, s FROM ex
                   QUALIFY COUNT(*) OVER (PARTITION BY s) <= 5),
      cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db
               FROM eligible a JOIN eligible b ON a.s = b.s AND a.doc_id < b.doc_id),
      v AS (SELECT da, db,
              len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
              len(sa.sh) AS na, len(sb.sh) AS nb
            FROM cand JOIN d sa ON da = sa.doc_id JOIN d sb ON db = sb.doc_id)
      SELECT da, db, CAST(inter AS DOUBLE) / na AS c_ab,
             CAST(inter AS DOUBLE) / nb AS c_ba
      FROM v
      WHERE greatest(CAST(inter AS DOUBLE) / na, CAST(inter AS DOUBLE) / nb) >= 0.6
      ORDER BY da, db""")),

    // --------------------------- edit-distance near-dup (entity resolution)
    // TextDedup.editDistancePairs: character-level near-dup pairs for
    // SHORT text fields — the entity-resolution verify for titles/names/
    // addresses; the token-level families own long documents (the |a|·|b|
    // DP per candidate is exactly why the contract is short fields — run
    // on the 300-char document bodies this oracle costs ~500 s at sf0.1,
    // on the title field ~10 s). The fixture derives a varied-length
    // title (first 3 + doc_id % 5 words). Blocking is LOSSLESS by the
    // metric's length bound — levenshtein(a,b) ≥ |len(a) − len(b)|, so
    // with bucket width 16 > maxDist 6 every qualifying pair lands in the
    // same or an adjacent length-div-16 bucket; one side explodes to
    // {b−1, b, b+1} and the equi-join on (lang, bucket) sees each true
    // pair exactly once. Verification = one codegen'd levenshtein per
    // candidate (identical unit-cost DP in DuckDB) — never all-pairs.
    Q("x_dedup_edit", (s, d) => {
      val titled = fanOut(documents(s, d))
        .filter(col("text").isNotNull)
        .withColumn("title", expr(
          "array_join(slice(split(lower(text), ' '), 1, CAST(3 + doc_id % 5 AS INT)), ' ')"))
      graft.operators.TextDedup.editDistancePairs(
        titled, "doc_id", "title", maxDist = 6,
        blockCols = Seq("lang"), bucketWidth = 16)
        .orderBy(col("id_a"), col("id_b"))
    }, Some("""
      WITH t0 AS (SELECT doc_id, lang,
                         array_to_string(string_split(lower(text), ' ')[1 : 3 + doc_id % 5],
                                         ' ') AS title
                  FROM documents WHERE text IS NOT NULL),
      d0 AS (SELECT doc_id, title, lang, length(title) // 16 AS bk FROM t0),
      pa AS (SELECT doc_id AS id_a, title AS ta, lang AS la,
                    unnest([bk - 1, bk, bk + 1]) AS bka FROM d0),
      pb AS (SELECT doc_id AS id_b, title AS tb, lang AS lb, bk AS bkb FROM d0)
      SELECT id_a, id_b, CAST(levenshtein(ta, tb) AS BIGINT) AS dist
      FROM pa JOIN pb ON bka = bkb AND la = lb AND id_a < id_b
      WHERE levenshtein(ta, tb) <= 6
      ORDER BY id_a, id_b""")),

    // ---------------------- incremental edit-distance (ER ingest shape)
    // TextDedup.editPairsAgainstIndex: the per-batch half of
    // x_dedup_edit (doc_id % 10 = 0 stands in for today's ingest, as in
    // x_dedup_incremental) — the BATCH side explodes the {b−1, b, b+1}
    // length-bucket probes and BROADCASTS onto one scan of the staged
    // corpus editIndex; the corpus never shuffles, and the lossless
    // blocking theorem carries over (each qualifying pair matches
    // exactly one probe offset). streaming.EntityIngest rides this
    // exact operator per micro-batch.
    Q("x_dedup_edit_incremental", (s, d) => {
      val titled = fanOut(documents(s, d))
        .filter(col("text").isNotNull)
        .withColumn("title", expr(
          "array_join(slice(split(lower(text), ' '), 1, CAST(3 + doc_id % 5 AS INT)), ' ')"))
      val idx = graft.sources.Tables.stage(
        graft.operators.TextDedup.editIndex(
          titled.filter(col("doc_id") % 10 =!= 0), "doc_id", "title",
          Seq("lang"), bucketWidth = 16))
      graft.operators.TextDedup.editPairsAgainstIndex(
        titled.filter(col("doc_id") % 10 === 0), "doc_id", "title", idx,
        maxDist = 6, blockCols = Seq("lang"), bucketWidth = 16)
        .orderBy(col("id_batch"), col("id_corpus"))
    }, Some("""
      WITH t0 AS (SELECT doc_id, lang,
                         array_to_string(string_split(lower(text), ' ')[1 : 3 + doc_id % 5],
                                         ' ') AS title
                  FROM documents WHERE text IS NOT NULL),
      c0 AS (SELECT doc_id, title, lang, length(title) // 16 AS bk
             FROM t0 WHERE doc_id % 10 <> 0),
      b1 AS (SELECT doc_id, title, lang, length(title) // 16 AS bk
             FROM t0 WHERE doc_id % 10 = 0),
      b0 AS (SELECT doc_id, title, lang, unnest([bk - 1, bk, bk + 1]) AS bkp
             FROM b1)
      SELECT b0.doc_id AS id_batch, c0.doc_id AS id_corpus,
             CAST(levenshtein(b0.title, c0.title) AS BIGINT) AS dist
      FROM b0 JOIN c0 ON b0.bkp = c0.bk AND b0.lang = c0.lang
      WHERE levenshtein(b0.title, c0.title) <= 6
      ORDER BY id_batch, id_corpus""")),

    // ------------------------------------------- incremental MinHash+LSH
    // The production ingest shape: near-dups of a NEW batch (doc_id%10=0
    // stands in for today's ingest) against the existing corpus. The
    // corpus band index is computed once (staged/persisted); the small
    // batch side BROADCASTS onto it — the corpus never shuffles, so the
    // per-batch cost at 100 TB is one corpus scan, not a corpus self-join.
    Q("x_dedup_incremental", (s, d) => {
      val docs = fanOut(documents(s, d))
      val newSh = graft.operators.TextDedup.shingleRelation(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", n = 3)
      val refSh = graft.operators.TextDedup.shingleRelation(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", n = 3)
      graft.operators.TextDedup
        .minhashLshPairsAgainst(newSh, refSh, k = 12, bands = 4, threshold = 0.5)
        .orderBy(col("da"), col("db"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      d AS (SELECT doc_id, $duckShingles3 AS sh FROM t),
      sg AS (SELECT doc_id, sh,
               list_transform(range(0, 12),
                 i -> list_min(list_transform(sh, s -> md5(CAST(i AS VARCHAR) || '|' || s)))) AS sig
             FROM d),
      bd AS (SELECT doc_id,
               unnest(list_transform(range(0, 4),
                 b -> md5(CAST(b AS VARCHAR) || '|' || sig[3*b+1] || sig[3*b+2] || sig[3*b+3]))) AS band_key
             FROM sg),
      cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db
               FROM bd a JOIN bd b ON a.band_key = b.band_key
               WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
      v AS (SELECT da, db,
              len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
              len(sa.sh) AS na, len(sb.sh) AS nb
            FROM cand JOIN d sa ON da = sa.doc_id JOIN d sb ON db = sb.doc_id)
      SELECT da, db, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
      FROM v WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
      ORDER BY da, db""")),

    // ----------------------------------------------------------- SimHash
    // 128-bit SimHash over distinct tokens: bit b of hex position p is the
    // sign of Σ_tokens (±1 by the token-md5's bit). Pure per-row projection
    // (no shuffle, codegen'd); near-dup docs land within a few bits.
    // At scale, comparison goes through the banded equi-join companion —
    // x_dedup_simhash_pairs / TextDedup.simhashPairs — below.
    Q("x_dedup_simhash", (s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      fanOut(documents(s, d))
        .withColumn("hs", expr("transform(array_distinct(split(lower(text), ' ')), t -> md5(t))"))
        // native one-pass Expression (graft.functions.SimHash128) — the
        // SQL nested-lambda formulation interprets 128 lambdas per token.
        .select(col("doc_id"), expr("simhash128(hs)").as("simhash"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH t AS (
        SELECT doc_id,
               list_transform(list_distinct(string_split(lower(text), ' ')), t -> md5(t)) AS hs
        FROM documents)
      SELECT doc_id,
             array_to_string(list_transform(range(0, 32), p ->
               substr('0123456789abcdef', 1 +
                 list_reduce(list_prepend(0, list_transform(range(0, 4), b ->
                   CASE WHEN list_reduce(list_prepend(0, list_transform(hs, h ->
                          (((instr('0123456789abcdef', substr(h, p+1, 1)) - 1) >> b) & 1) * 2 - 1)),
                          (acc, v) -> acc + v) > 0
                        THEN (1 << b) ELSE 0 END)), (a, v) -> a + v),
                 1)), '') AS simhash
      FROM t ORDER BY doc_id""")),

    // ------------------------------------- SimHash banded pairs (scale path)
    // The banded-compare companion to x_dedup_simhash: Hamming ≤ 7 ⇒ at
    // least one of 8 16-bit bands matches exactly (pigeonhole), so
    // candidates come from an equi-join on band keys and the exact 128-bit
    // Hamming distance (integer xor + popcount — no FP) verifies candidates
    // only. Same inverted-index shape as the MinHash band join.
    Q("x_dedup_simhash_pairs", (s, d) => {
      // graft.operators.TextDedup.simhashPairs: staged fingerprint
      // relation (feeds both self-join sides), banded short-key candidates,
      // popcount verify.
      graft.operators.TextDedup
        .simhashPairs(fanOut(documents(s, d)), "doc_id", "text", maxHamming = 7)
        .orderBy(col("da"), col("db"))
    }, Some(s"""
      WITH $duckSimhashPairCtes
      SELECT da, db, hamming FROM h WHERE hamming <= 7 ORDER BY da, db""")),

    // --------------------------------------- near-dup clusters (components)
    // Pairs alone under-merge: near-duplication is NOT transitive, and what
    // dedup actually removes is the transitive CLUSTER. Connected components
    // over the SimHash pair graph (graft.operators.Graph — alternating
    // large-star/small-star, O(log n) rounds of 2 shuffles, every round's
    // edge relation staged) labels each doc with the smallest doc_id
    // reachable through near-dup pairs; isolated docs are their own
    // singleton component. The oracle computes the same closure with a
    // recursive CTE — integer minima only, so both engines agree exactly.
    Q("x_cc_components", (s, d) => {
      val pairs = graft.operators.TextDedup
        .simhashPairs(fanOut(documents(s, d)), "doc_id", "text", maxHamming = 7)
      graft.operators.Graph
        .componentsForVertices(documents(s, d), "doc_id", pairs, "da", "db")
        .select(col("node").as("doc_id"), col("component").as("component_id"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH RECURSIVE $duckSimhashPairCtes,
      edges AS (SELECT da AS s, db AS d FROM pairs
                UNION SELECT db, da FROM pairs),
      reach(n, m) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s)
      SELECT n AS doc_id, MIN(m) AS component_id
      FROM reach GROUP BY n ORDER BY doc_id"""), headline = true),

    // ------------------------------- incremental CC (per-batch maintenance)
    // The daily-ingest shape: half the near-dup pairs (deterministic
    // (da+db) parity split) build the prior labeling, the other half folds
    // in via Graph.incrementalComponents — contraction runs on the
    // delta-sized contracted graph only, prev is touched by exactly two
    // broadcast joins. The oracle is the FULL recursive-CTE closure over
    // all pairs: the incremental path must land on identical labels.
    Q("x_cc_incremental", (s, d) => {
      val pairs = stage(graft.operators.TextDedup
        .simhashPairs(fanOut(documents(s, d)), "doc_id", "text", maxHamming = 7))
      val base = pairs.filter((col("da") + col("db")) % 2 === 0)
      val delta = pairs.filter((col("da") + col("db")) % 2 =!= 0)
      val prev = graft.operators.Graph
        .componentsForVertices(documents(s, d), "doc_id", base, "da", "db")
      graft.operators.Graph.incrementalComponents(prev, delta, "da", "db")
        .select(col("node").as("doc_id"), col("component").as("component_id"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH RECURSIVE $duckSimhashPairCtes,
      edges AS (SELECT da AS s, db AS d FROM pairs
                UNION SELECT db, da FROM pairs),
      reach(n, m) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s)
      SELECT n AS doc_id, MIN(m) AS component_id
      FROM reach GROUP BY n ORDER BY doc_id""")),

    // --------------------------------------- triangle counts (graph audit)
    // Per-node triangle participation over the same near-dup pair graph CC
    // consumes: clique-like clusters (high triangles) are safe to collapse,
    // low-triangle chains are transitive overreach worth auditing. Spark
    // plan is the degree-oriented wedge join (out-degree ≤ O(√m)); the
    // oracle enumerates a < b < c directly — same triangle set, any
    // counting order.
    Q("x_graph_triangles", (s, d) => {
      val pairs = graft.operators.TextDedup
        .simhashPairs(fanOut(documents(s, d)), "doc_id", "text", maxHamming = 7)
      graft.operators.Graph.triangleCounts(pairs, "da", "db")
        .orderBy(col("node"))
    }, Some(s"""
      WITH $duckSimhashPairCtes,
      e AS (SELECT DISTINCT least(da, db) AS lo, greatest(da, db) AS hi
            FROM pairs WHERE da <> db),
      deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
              FROM (SELECT lo AS node FROM e UNION ALL SELECT hi FROM e)
              GROUP BY node),
      tri AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
              FROM e e1
              JOIN e e2 ON e2.lo = e1.hi
              JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
      tn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
             FROM (SELECT a AS node FROM tri
                   UNION ALL SELECT b FROM tri
                   UNION ALL SELECT c FROM tri)
             GROUP BY node)
      SELECT d.node, d.degree, COALESCE(t.n_tri, CAST(0 AS BIGINT)) AS n_tri
      FROM deg d LEFT JOIN tn t ON d.node = t.node
      ORDER BY d.node""")),

    // --------------------------- incremental triangles (per-batch audit)
    // The per-batch twin of x_graph_triangles (same split discipline as
    // x_cc_incremental): half the pair graph builds the prior counts +
    // canonical edge state, the other half folds in via
    // Graph.incrementalTriangles — new triangles enumerate from the batch
    // edges only (batch broadcasts onto the union adjacency twice), prev
    // is touched by one merge join. The oracle is the FULL a<b<c
    // enumeration over all pairs: the incremental path must land on
    // identical counts.
    Q("x_triangles_incremental", (s, d) => {
      val pairs = stage(graft.operators.TextDedup
        .simhashPairs(fanOut(documents(s, d)), "doc_id", "text", maxHamming = 7))
      val base = pairs.filter((col("da") + col("db")) % 2 === 0)
      val delta = pairs.filter((col("da") + col("db")) % 2 =!= 0)
      val prevEdges = stage(graft.operators.Graph
        .canonicalEdges(base, "da", "db"))
      val prev = graft.operators.Graph.triangleCounts(base, "da", "db")
      graft.operators.Graph
        .incrementalTriangles(prev, prevEdges, delta, "da", "db")
        .orderBy(col("node"))
    }, Some(s"""
      WITH $duckSimhashPairCtes,
      e AS (SELECT DISTINCT least(da, db) AS lo, greatest(da, db) AS hi
            FROM pairs WHERE da <> db),
      deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
              FROM (SELECT lo AS node FROM e UNION ALL SELECT hi FROM e)
              GROUP BY node),
      tri AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
              FROM e e1
              JOIN e e2 ON e2.lo = e1.hi
              JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
      tn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
             FROM (SELECT a AS node FROM tri
                   UNION ALL SELECT b FROM tri
                   UNION ALL SELECT c FROM tri)
             GROUP BY node)
      SELECT d.node, d.degree, COALESCE(t.n_tri, CAST(0 AS BIGINT)) AS n_tri
      FROM deg d LEFT JOIN tn t ON d.node = t.node
      ORDER BY d.node""")),

    // -------------------------------------------- k-core (graph pruning)
    // The maximal subgraph of minimum degree ≥ k, by iterative peeling
    // (Graph.kCore — each round's removals can lower surviving degrees,
    // so the LOOP is the semantics; a single degree filter under-peels).
    // The dedup use: a cluster's 2-core is its genuinely inter-linked
    // part; degree-1 chains are transitive overreach. Fixture graph with
    // a PROVABLE peel depth (the oracle unrolls the loop, so its depth
    // must dominate the fixpoint): one global ring over doc_ids with
    // id % 8 < 4 (every ring node keeps degree ≥ 2 forever), 4-node
    // chains hanging off each full group's ring (peel rounds 1-4 exactly
    // — chain position = distance from the free end), and a cross chord
    // in every third group (degree variety in the surviving core). Six
    // unrolled oracle rounds ≥ the 4-round fixpoint; extra rounds are
    // idempotent, so engine-to-fixpoint ≡ oracle-at-depth-6 exactly.
    Q("x_graph_kcore", (s, d) => {
      val docs = fanOut(documents(s, d)).select(col("doc_id"))
      // the ring wrap needs the graph size — one driver-scalar count.
      val n = documents(s, d).count()
      val edges = docs.select(col("doc_id").as("a"),
        expr(s"""CASE WHEN doc_id % 8 < 3 THEN doc_id + 1
                 |     WHEN doc_id % 8 = 3 THEN IF(doc_id + 5 < ${n}L, doc_id + 5, 0L)
                 |     WHEN doc_id % 8 = 4 THEN doc_id - 4
                 |     ELSE doc_id - 1 END""".stripMargin).as("b"))
        .union(docs
          .filter(expr(s"doc_id % 8 = 0 AND (doc_id div 8) % 3 = 0 AND doc_id + 2 < ${n}L"))
          .select(col("doc_id").as("a"), (col("doc_id") + 2).as("b")))
      graft.operators.Graph.kCore(edges, "a", "b", k = 2)
        .orderBy(col("node"))
    }, Some {
      val peels = (1 to 6).map(i => s"""
        d$i AS (SELECT s, COUNT(*) AS c FROM a${i - 1} GROUP BY s),
        a$i AS (SELECT a${i - 1}.s, a${i - 1}.t FROM a${i - 1}
                JOIN d$i x ON a${i - 1}.s = x.s
                JOIN d$i y ON a${i - 1}.t = y.s
                WHERE x.c >= 2 AND y.c >= 2)""").mkString(",")
      s"""
      WITH nn AS (SELECT COUNT(*) AS n FROM documents),
      base AS (
        SELECT doc_id AS a,
               CASE WHEN doc_id % 8 < 3 THEN doc_id + 1
                    WHEN doc_id % 8 = 3 THEN
                      CASE WHEN doc_id + 5 < nn.n THEN doc_id + 5 ELSE 0 END
                    WHEN doc_id % 8 = 4 THEN doc_id - 4
                    ELSE doc_id - 1 END AS b
        FROM documents CROSS JOIN nn
        UNION ALL
        SELECT doc_id, doc_id + 2 FROM documents CROSS JOIN nn
        WHERE doc_id % 8 = 0 AND (doc_id // 8) % 3 = 0 AND doc_id + 2 < nn.n),
      e0 AS (SELECT DISTINCT least(a, b) AS s, greatest(a, b) AS t
             FROM base WHERE a <> b),
      a0 AS (SELECT s, t FROM e0 UNION ALL SELECT t, s FROM e0),
      $peels
      SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS deg
      FROM a6 GROUP BY s ORDER BY node"""
    }),

    // ----------------------- label propagation (community detection, LPA)
    // Synchronous LPA with every degree of freedom pinned
    // (Graph.labelPropagation): labels start as ids, each round a node
    // adopts its neighbors' most frequent label (ties → smallest), FIXED
    // 4 rounds. Fixture: per full 8-id group, TWO 4-cliques bridged by
    // one edge (8g+3 — 8g+4) — CC would merge them; LPA settles each
    // clique to its min id by round 3 (round 4 idempotent), splitting
    // the chain-bridged dense groups, which is the community-vs-
    // component distinction this operator exists for. The oracle unrolls
    // exactly the same 4 rounds; its argmax is min over the integer
    // combo (2^20 − c)·2^20 + lbl — valid because ids < 2^20 here (the
    // engine's struct-max carries no such bound).
    Q("x_graph_lpa", (s, d) => {
      import org.apache.spark.sql.functions.typedlit
      val docs = fanOut(documents(s, d)).select(col("doc_id"))
      val n = documents(s, d).count()
      val anchors = docs.filter(expr(s"doc_id % 8 = 0 AND doc_id + 7 < ${n}L"))
      val off = typedlit(Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)))
      val cl = anchors.select(col("doc_id").as("a"), explode(off).as("o"))
      val edges = cl
        .select((col("a") + col("o._1")).as("s"), (col("a") + col("o._2")).as("t"))
        .union(cl.select((col("a") + col("o._1") + 4).as("s"),
          (col("a") + col("o._2") + 4).as("t")))
        .union(anchors.select((col("doc_id") + 3).as("s"),
          (col("doc_id") + 4).as("t")))
      graft.operators.Graph.labelPropagation(edges, "s", "t", iterations = 4)
        .orderBy(col("node"))
    }, Some {
      val rounds = (1 to 4).map(i => s"""
        c$i AS (SELECT a.src, l.lbl, COUNT(*) AS c
                FROM adj a JOIN l${i - 1} l ON a.dst = l.node
                GROUP BY a.src, l.lbl),
        l$i AS (SELECT src AS node,
                       CAST(MIN((1048576 - c) * 1048576 + lbl) % 1048576
                            AS BIGINT) AS lbl
                FROM c$i GROUP BY src)""").mkString(",")
      s"""
      WITH nn AS (SELECT COUNT(*) AS n FROM documents),
      g AS (SELECT doc_id AS a FROM documents CROSS JOIN nn
            WHERE doc_id % 8 = 0 AND doc_id + 7 < nn.n),
      off AS (SELECT i, j FROM (VALUES (0, 1), (0, 2), (0, 3),
                                       (1, 2), (1, 3), (2, 3)) AS o(i, j)),
      base AS (
        SELECT a + i AS s, a + j AS t FROM g CROSS JOIN off
        UNION ALL SELECT a + 4 + i, a + 4 + j FROM g CROSS JOIN off
        UNION ALL SELECT a + 3, a + 4 FROM g),
      e0 AS (SELECT DISTINCT least(s, t) AS lo, greatest(s, t) AS hi
             FROM base WHERE s <> t),
      adj AS (SELECT lo AS src, hi AS dst FROM e0
              UNION ALL SELECT hi, lo FROM e0),
      l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM adj),
      $rounds
      SELECT node, lbl FROM l4 ORDER BY node"""
    }, headline = true),

    // ----------------------------------------- PageRank (graph centrality)
    // Fixed-point integer PageRank (3 iterations, scale 1e9, damping
    // 17/20) over the same near-dup pair graph: rank separates template
    // hubs from leaf duplicates before a dedup policy picks canonicals.
    // Iteration state is edge-subgraph-sized; the corpus joins ONCE at the
    // end (broadcast). The oracle unrolls the three iterations as chained
    // CTEs with identical truncating integer arithmetic.
    Q("x_graph_pagerank", (s, d) => {
      val pairs = graft.operators.TextDedup
        .simhashPairs(fanOut(documents(s, d)), "doc_id", "text", maxHamming = 7)
      graft.operators.Graph
        .pageRank(documents(s, d), "doc_id", pairs, "da", "db",
          iterations = 3, scale = 1000000000L)
        .orderBy(col("node"))
    }, Some(s"""
      WITH $duckSimhashPairCtes,
      e AS (SELECT da AS s, db AS d FROM pairs
            UNION SELECT db, da FROM pairs),
      deg AS (SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS degree
              FROM e GROUP BY s),
      r0 AS (SELECT node, degree, CAST(1000000000 AS BIGINT) AS r FROM deg),
      r1 AS (SELECT dg.node, dg.degree,
                    CAST(150000000 AS BIGINT) +
                    COALESCE(CAST(SUM((p.r * 17) // (20 * p.degree)) AS BIGINT),
                             CAST(0 AS BIGINT)) AS r
             FROM deg dg
             LEFT JOIN (SELECT e.d AS dst, r0.r, r0.degree
                        FROM e JOIN r0 ON e.s = r0.node) p ON p.dst = dg.node
             GROUP BY dg.node, dg.degree),
      r2 AS (SELECT dg.node, dg.degree,
                    CAST(150000000 AS BIGINT) +
                    COALESCE(CAST(SUM((p.r * 17) // (20 * p.degree)) AS BIGINT),
                             CAST(0 AS BIGINT)) AS r
             FROM deg dg
             LEFT JOIN (SELECT e.d AS dst, r1.r, r1.degree
                        FROM e JOIN r1 ON e.s = r1.node) p ON p.dst = dg.node
             GROUP BY dg.node, dg.degree),
      r3 AS (SELECT dg.node, dg.degree,
                    CAST(150000000 AS BIGINT) +
                    COALESCE(CAST(SUM((p.r * 17) // (20 * p.degree)) AS BIGINT),
                             CAST(0 AS BIGINT)) AS r
             FROM deg dg
             LEFT JOIN (SELECT e.d AS dst, r2.r, r2.degree
                        FROM e JOIN r2 ON e.s = r2.node) p ON p.dst = dg.node
             GROUP BY dg.node, dg.degree)
      SELECT v.doc_id AS node,
             COALESCE(r3.r, CAST(150000000 AS BIGINT)) AS pr
      FROM documents v LEFT JOIN r3 ON r3.node = v.doc_id
      ORDER BY node"""), headline = true),

    // ------------------------------- HITS hubs & authorities (Kleinberg)
    // The second classic link-graph centrality beside directed PageRank
    // (Graph.hits): UNNORMALIZED exact-integer iteration — the per-round
    // L2 normalization is a positive scalar, so dropping it preserves
    // every ranking and keeps the arithmetic bitwise. Update order
    // pinned: authorities from the OLD hubs, hubs from the NEW
    // authorities. Edges are a pure arithmetic fixture over doc ids
    // (each doc points at (3·id+1)%512 and (5·id+2)%512 — many docs
    // concentrate onto 512 targets, the hub/authority separation);
    // dup edges collapse, self-loops drop, isolated vertices hold
    // (0, 0) — HITS has no teleport. The oracle unrolls both rounds.
    Q("x_graph_hits", (s, d) => {
      val e = documents(s, d).select(
        col("doc_id").as("s"), expr("(doc_id * 3 + 1) % 512").as("t"))
        .unionAll(documents(s, d).select(
          col("doc_id").as("s"), expr("(doc_id * 5 + 2) % 512").as("t")))
      graft.operators.Graph.hits(documents(s, d), "doc_id", e, "s", "t",
        iterations = 2, scale = 1000L)
        .orderBy(col("node"))
    }, Some {
      val rounds = (1 to 2).map(i => s"""
        a$i AS (SELECT nd.node,
                       COALESCE(CAST(SUM(x.h) AS BIGINT), CAST(0 AS BIGINT)) AS a
                FROM nd LEFT JOIN (SELECT e0.d AS dst, hh.h
                                   FROM e0 JOIN h${i - 1} hh ON e0.s = hh.node) x
                  ON x.dst = nd.node
                GROUP BY nd.node),
        h$i AS (SELECT nd.node,
                       COALESCE(CAST(SUM(x.a) AS BIGINT), CAST(0 AS BIGINT)) AS h
                FROM nd LEFT JOIN (SELECT e0.s AS src, aa.a
                                   FROM e0 JOIN a$i aa ON e0.d = aa.node) x
                  ON x.src = nd.node
                GROUP BY nd.node)""").mkString(",")
      s"""
      WITH e0 AS MATERIALIZED (
        SELECT DISTINCT s, d FROM (
          SELECT doc_id AS s, (doc_id * 3 + 1) % 512 AS d FROM documents
          UNION ALL
          SELECT doc_id, (doc_id * 5 + 2) % 512 FROM documents)
        WHERE s <> d),
      nd AS MATERIALIZED (SELECT s AS node FROM e0 UNION SELECT d FROM e0),
      h0 AS (SELECT node, CAST(1000 AS BIGINT) AS h FROM nd),
      $rounds
      SELECT v.doc_id AS node,
             COALESCE(h2.h, CAST(0 AS BIGINT)) AS hub,
             COALESCE(a2.a, CAST(0 AS BIGINT)) AS auth
      FROM documents v
      LEFT JOIN h2 ON h2.node = v.doc_id
      LEFT JOIN a2 ON a2.node = v.doc_id
      ORDER BY node"""
    }),

    // ---------------------------------- deterministic random walks (DeepWalk)
    // Graph.randomWalks: the sampling primitive graph-embedding
    // pipelines feed on (Perozzi 2014) — one `steps`-hop walk per
    // non-sink node, with "random" = a PINNED hash choice
    // (neighbors[hash60('walk:start:step') mod outdeg] over the sorted
    // adjacency — any engine/partitioning/re-run reproduces bitwise,
    // the Sampling discipline). Walks hitting a sink stop early. Same
    // arithmetic edge fixture as x_graph_hits; 3 steps. The oracle
    // unrolls the hops with the identical md5 arithmetic (Spark
    // conv(hex) ≡ DuckDB CAST('0x'… AS BIGINT)).
    Q("x_graph_walks", (s, d) => {
      val e = documents(s, d).select(
        col("doc_id").as("s"), expr("(doc_id * 3 + 1) % 512").as("t"))
        .unionAll(documents(s, d).select(
          col("doc_id").as("s"), expr("(doc_id * 5 + 2) % 512").as("t")))
      graft.operators.Graph.randomWalks(e, "s", "t", steps = 3)
        .orderBy(col("start"), col("step"))
    }, Some {
      val hops = (1 to 3).map(i => s"""
        w$i AS (SELECT f.start, CAST($i AS BIGINT) AS step, a.d AS node
                FROM w${i - 1} f
                JOIN dg ON f.node = dg.dn
                JOIN adj a ON f.node = a.s AND
                  (CAST(concat('0x', substr(md5('walk:' ||
                     CAST(f.start AS VARCHAR) || ':$i'), 1, 15)) AS BIGINT)
                   % dg.deg) = a.idx)""").mkString(",")
      s"""
      WITH e0 AS MATERIALIZED (
        SELECT DISTINCT s, d FROM (
          SELECT doc_id AS s, (doc_id * 3 + 1) % 512 AS d FROM documents
          UNION ALL
          SELECT doc_id, (doc_id * 5 + 2) % 512 FROM documents)
        WHERE s <> d),
      adj AS MATERIALIZED (
        SELECT s, d,
               CAST(row_number() OVER (PARTITION BY s ORDER BY d) AS BIGINT)
                 - 1 AS idx
        FROM e0),
      dg AS MATERIALIZED (
        SELECT s AS dn, CAST(COUNT(*) AS BIGINT) AS deg FROM e0 GROUP BY s),
      w0 AS (SELECT dn AS start, CAST(0 AS BIGINT) AS step, dn AS node FROM dg),
      $hops
      SELECT start, step, node FROM (
        SELECT * FROM w0 UNION ALL SELECT * FROM w1
        UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3)
      ORDER BY start, step"""
    }),

    // ------------------------- node2vec-biased walks (2nd-order bias)
    // Graph.biasedWalks: the (p, q)-biased sampling node2vec embeds
    // from (Grover 2016), in exact integers — weights (wRet=1,
    // wCommon=6, wOut=3) ∝ (q, pq, p) at p = 3, q = 1: returning is
    // discouraged, staying in the previous node's neighborhood
    // (BFS-ish) is favored. The hop takes the sorted neighbor at the
    // cumulative-weight position of hash60('walk:start:step') mod W;
    // (1,1,1) degenerates bitwise to x_graph_walks (spec-pinned).
    // Same arithmetic edge fixture; the oracle unrolls the hops with
    // the identical weight CASE, window cumsum, and md5 arithmetic.
    Q("x_graph_walks_biased", (s, d) => {
      val e = documents(s, d).select(
        col("doc_id").as("s"), expr("(doc_id * 3 + 1) % 512").as("t"))
        .unionAll(documents(s, d).select(
          col("doc_id").as("s"), expr("(doc_id * 5 + 2) % 512").as("t")))
      graft.operators.Graph.biasedWalks(e, "s", "t", steps = 3,
        wRet = 1L, wCommon = 6L, wOut = 3L)
        .orderBy(col("start"), col("step"))
    }, Some {
      def h(i: Int) = s"""(CAST(concat('0x', substr(md5('walk:' ||
               CAST(start AS VARCHAR) || ':$i'), 1, 15)) AS BIGINT) % tot)"""
      val hops = (1 to 3).map(i => s"""
        c$i AS (SELECT f.start, f.node, f.prev, a.d, a.idx,
                       CASE WHEN a.d = f.prev THEN 1
                            WHEN ce.s IS NOT NULL THEN 6
                            ELSE 3 END AS w
                FROM b${i - 1} f
                JOIN adj a ON f.node = a.s
                LEFT JOIN e0 ce ON ce.s = f.prev AND ce.d = a.d),
        k$i AS (SELECT start, node, prev, d, w,
                       CAST(SUM(w) OVER (PARTITION BY start ORDER BY idx
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                       CAST(SUM(w) OVER (PARTITION BY start) AS BIGINT) AS tot
                FROM c$i),
        b$i AS (SELECT start, CAST($i AS BIGINT) AS step, d AS node,
                       node AS prev
                FROM k$i
                WHERE cum - w <= ${h(i)} AND ${h(i)} < cum)""").mkString(",")
      s"""
      WITH e0 AS MATERIALIZED (
        SELECT DISTINCT s, d FROM (
          SELECT doc_id AS s, (doc_id * 3 + 1) % 512 AS d FROM documents
          UNION ALL
          SELECT doc_id, (doc_id * 5 + 2) % 512 FROM documents)
        WHERE s <> d),
      adj AS MATERIALIZED (
        SELECT s, d,
               CAST(row_number() OVER (PARTITION BY s ORDER BY d) AS BIGINT)
                 - 1 AS idx
        FROM e0),
      dg AS (SELECT s AS dn, CAST(COUNT(*) AS BIGINT) AS deg
             FROM e0 GROUP BY s),
      b0 AS (SELECT dn AS start, CAST(0 AS BIGINT) AS step, dn AS node,
                    CAST(NULL AS BIGINT) AS prev
             FROM dg),
      $hops
      SELECT start, step, node FROM (
        SELECT start, step, node FROM b0 UNION ALL
        SELECT start, step, node FROM b1 UNION ALL
        SELECT start, step, node FROM b2 UNION ALL
        SELECT start, step, node FROM b3)
      ORDER BY start, step"""
    }, headline = true),

    // ------------------- MULTI-WALK node2vec (r walks per start node)
    // Graph.biasedWalksMulti: the deployment shape — DeepWalk/node2vec
    // trains on r ≈ 10-80 walks per node, so the walk key is
    // (start, walk) and the hash seed gains the walk index (walk 0
    // keys on the bare start: numWalks = 1 ≡ biasedWalks BITWISE,
    // spec-pinned). The second-order transition distributions live in
    // TWO staged tables built ONCE (first-hop uniform + the (prev,
    // node, d, w, cum, tot) per-edge table — node2vec's published
    // precompute); each hop is one equi-join with the cum-containment
    // residual, so r walks amortize the table instead of multiplying
    // the r15 per-hop window recompute. Same fixture/weights as
    // x_graph_walks_biased, 3 walks each; the oracle unrolls the hops
    // with the per-(start, walk) seed key and the identical weight
    // CASE / cumsum / md5 arithmetic.
    Q("x_graph_walks_multi", (s, d) => {
      val e = documents(s, d).select(
        col("doc_id").as("s"), expr("(doc_id * 3 + 1) % 512").as("t"))
        .unionAll(documents(s, d).select(
          col("doc_id").as("s"), expr("(doc_id * 5 + 2) % 512").as("t")))
      graft.operators.Graph.biasedWalksMulti(e, "s", "t", steps = 3,
        wRet = 1L, wCommon = 6L, wOut = 3L, numWalks = 3)
        .orderBy(col("start"), col("walk"), col("step"))
    }, Some {
      def h(i: Int) = s"""(CAST(concat('0x', substr(md5('walk:' || sk ||
               ':$i'), 1, 15)) AS BIGINT) % tot)"""
      val hops = (1 to 3).map(i => s"""
        c$i AS (SELECT f.start, f.walk, f.sk, f.node, f.prev, a.d, a.idx,
                       CASE WHEN a.d = f.prev THEN 1
                            WHEN ce.s IS NOT NULL THEN 6
                            ELSE 3 END AS w
                FROM b${i - 1} f
                JOIN adj a ON f.node = a.s
                LEFT JOIN e0 ce ON ce.s = f.prev AND ce.d = a.d),
        k$i AS (SELECT start, walk, sk, node, prev, d, w,
                       CAST(SUM(w) OVER (PARTITION BY start, walk
                            ORDER BY idx ROWS UNBOUNDED PRECEDING)
                            AS BIGINT) AS cum,
                       CAST(SUM(w) OVER (PARTITION BY start, walk)
                            AS BIGINT) AS tot
                FROM c$i),
        b$i AS (SELECT start, walk, sk, CAST($i AS BIGINT) AS step,
                       d AS node, node AS prev
                FROM k$i
                WHERE cum - w <= ${h(i)} AND ${h(i)} < cum)""").mkString(",")
      s"""
      WITH e0 AS MATERIALIZED (
        SELECT DISTINCT s, d FROM (
          SELECT doc_id AS s, (doc_id * 3 + 1) % 512 AS d FROM documents
          UNION ALL
          SELECT doc_id, (doc_id * 5 + 2) % 512 FROM documents)
        WHERE s <> d),
      adj AS MATERIALIZED (
        SELECT s, d,
               CAST(row_number() OVER (PARTITION BY s ORDER BY d) AS BIGINT)
                 - 1 AS idx
        FROM e0),
      dg AS (SELECT s AS dn, CAST(COUNT(*) AS BIGINT) AS deg
             FROM e0 GROUP BY s),
      b0 AS (SELECT dn AS start, CAST(wk AS BIGINT) AS walk,
                    CASE WHEN wk = 0 THEN CAST(dn AS VARCHAR)
                         ELSE CAST(dn AS VARCHAR) || '#' ||
                              CAST(wk AS VARCHAR) END AS sk,
                    CAST(0 AS BIGINT) AS step, dn AS node,
                    CAST(NULL AS BIGINT) AS prev
             FROM dg CROSS JOIN range(0, 3) t(wk)),
      $hops
      SELECT start, walk, step, node FROM (
        SELECT start, walk, step, node FROM b0 UNION ALL
        SELECT start, walk, step, node FROM b1 UNION ALL
        SELECT start, walk, step, node FROM b2 UNION ALL
        SELECT start, walk, step, node FROM b3)
      ORDER BY start, walk, step"""
    }, headline = true),

    // --------------------- skip-gram pairs from walks (word2vec feed)
    // Graph.walkSkipGrams: the (center, context) pair relation
    // word2vec-style training actually consumes (DeepWalk §4.2) —
    // without it the walk surface isn't consumable. Walks =
    // randomWalksMulti (2 walks per node, 3 steps, the arithmetic
    // fixture); window 2, so step pairs at distance 1 and 2 pair both
    // directions and dist rides along for 1/d weighting. The operator
    // collects each walk into ONE bounded array (≤ steps+1) and
    // enumerates pairs in place — never a self-join of the walk
    // relation; walks that stop at a sink contribute their shorter
    // span. The oracle replays the multi-walk hops (the walk-indexed
    // seed key) and pairs them with an explicit step self-join — same
    // multiset, opposite plan.
    Q("x_graph_skipgrams", (s, d) => {
      val e = documents(s, d).select(
        col("doc_id").as("s"), expr("(doc_id * 3 + 1) % 512").as("t"))
        .unionAll(documents(s, d).select(
          col("doc_id").as("s"), expr("(doc_id * 5 + 2) % 512").as("t")))
      graft.operators.Graph.walkSkipGrams(
        graft.operators.Graph.randomWalksMulti(e, "s", "t",
          steps = 3, numWalks = 2),
        window = 2)
        .orderBy(col("center"), col("context"), col("dist"))
    }, Some {
      val hops = (1 to 3).map(i => s"""
        w$i AS (SELECT f.start, f.walk, f.sk, CAST($i AS BIGINT) AS step,
                       a.d AS node
                FROM w${i - 1} f
                JOIN dg ON f.node = dg.dn
                JOIN adj a ON f.node = a.s AND
                  (CAST(concat('0x', substr(md5('walk:' || f.sk ||
                     ':$i'), 1, 15)) AS BIGINT)
                   % dg.deg) = a.idx)""").mkString(",")
      s"""
      WITH e0 AS MATERIALIZED (
        SELECT DISTINCT s, d FROM (
          SELECT doc_id AS s, (doc_id * 3 + 1) % 512 AS d FROM documents
          UNION ALL
          SELECT doc_id, (doc_id * 5 + 2) % 512 FROM documents)
        WHERE s <> d),
      adj AS MATERIALIZED (
        SELECT s, d,
               CAST(row_number() OVER (PARTITION BY s ORDER BY d) AS BIGINT)
                 - 1 AS idx
        FROM e0),
      dg AS MATERIALIZED (
        SELECT s AS dn, CAST(COUNT(*) AS BIGINT) AS deg FROM e0 GROUP BY s),
      w0 AS (SELECT dn AS start, CAST(wk AS BIGINT) AS walk,
                    CASE WHEN wk = 0 THEN CAST(dn AS VARCHAR)
                         ELSE CAST(dn AS VARCHAR) || '#' ||
                              CAST(wk AS VARCHAR) END AS sk,
                    CAST(0 AS BIGINT) AS step, dn AS node
             FROM dg CROSS JOIN range(0, 2) t(wk)),
      $hops,
      walks AS MATERIALIZED (
        SELECT start, walk, step, node FROM w0
        UNION ALL SELECT start, walk, step, node FROM w1
        UNION ALL SELECT start, walk, step, node FROM w2
        UNION ALL SELECT start, walk, step, node FROM w3),
      pr AS (SELECT a.node AS center, b.node AS context,
                    abs(a.step - b.step) AS dist
             FROM walks a JOIN walks b
               ON a.start = b.start AND a.walk = b.walk
              AND a.step <> b.step AND abs(a.step - b.step) <= 2)
      SELECT center, context, CAST(dist AS BIGINT) AS dist,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pr GROUP BY center, context, dist
      ORDER BY center, context, dist"""
    }, headline = true),

    // --------------- directed PageRank, dangling mass REDISTRIBUTED
    // The published-variant twin of x_linkgraph_rank:
    // pageRankDirected(redistributeDangling = true) recycles each
    // iteration's dangling mass uniformly — (D·17) div (20·N) to every
    // edge-incident node, D = Σr over the outdeg-0 pages — instead of
    // leaking it (both behaviors are pinned contracts; the leak is the
    // frontier-prioritizer default, the redistribution is what the
    // literature's mass-conservation statement expects — conserved up
    // to div truncation, the bound spec-pinned in GraphSpec). Fixture:
    // only doc_id % 3 <> 0 pages link out, so a THIRD of the corpus
    // plus every 500..599 arithmetic target is a genuine sink holding
    // real mass. The oracle unrolls the three rounds with the dangling
    // share as a 1-row crossed CTE per round.
    Q("x_linkgraph_rank_dangling", (s, d) => {
      val src = documents(s, d).filter(col("doc_id") % 3 =!= 0)
      val e = src.select(
        col("doc_id").as("s"), expr("(doc_id * 7 + 3) % 600").as("t"))
        .unionAll(src.select(
          col("doc_id").as("s"), expr("(doc_id * 11 + 5) % 600").as("t")))
      graft.operators.Graph.pageRankDirected(documents(s, d), "doc_id",
        e, "s", "t", iterations = 3, scale = 1000000000L,
        redistributeDangling = true)
        .orderBy(col("node"))
    }, Some {
      val rounds = (1 to 3).map(i => s"""
        dm$i AS (SELECT (COALESCE(CAST(SUM(CASE WHEN degree = 0 THEN r END)
                                  AS BIGINT), CAST(0 AS BIGINT)) * 17)
                        // (20 * (SELECT nn FROM ncnt)) AS sh
                 FROM r${i - 1}),
        r$i AS MATERIALIZED (
          SELECT nd.node, nd.degree,
                 CAST(150000000 AS BIGINT)
                 + COALESCE(CAST(SUM((p.r * 17) // (20 * p.degree)) AS BIGINT),
                            CAST(0 AS BIGINT))
                 + dm$i.sh AS r
          FROM nd CROSS JOIN dm$i
          LEFT JOIN (SELECT e0.d AS dst, rr.r, rr.degree
                     FROM e0 JOIN r${i - 1} rr ON e0.s = rr.node) p
            ON p.dst = nd.node
          GROUP BY nd.node, nd.degree, dm$i.sh)""").mkString(",")
      s"""
      WITH e0 AS MATERIALIZED (
        SELECT DISTINCT s, d FROM (
          SELECT doc_id AS s, (doc_id * 7 + 3) % 600 AS d FROM documents
          WHERE doc_id % 3 <> 0
          UNION ALL
          SELECT doc_id, (doc_id * 11 + 5) % 600 FROM documents
          WHERE doc_id % 3 <> 0)
        WHERE s <> d),
      od AS (SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS degree
             FROM e0 GROUP BY s),
      nd AS MATERIALIZED (
        SELECT n.node, COALESCE(od.degree, CAST(0 AS BIGINT)) AS degree
        FROM (SELECT s AS node FROM e0 UNION SELECT d FROM e0) n
        LEFT JOIN od ON od.node = n.node),
      ncnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM nd),
      r0 AS MATERIALIZED (
        SELECT node, degree, CAST(1000000000 AS BIGINT) AS r FROM nd),
      $rounds
      SELECT v.doc_id AS node,
             COALESCE(r3.r, CAST(150000000 AS BIGINT)) AS pr
      FROM documents v LEFT JOIN r3 ON r3.node = v.doc_id
      ORDER BY node"""
    }),

    // ----------------- incremental DIRECTED PageRank (link-graph fold)
    // The per-batch rank maintenance of a self-maintaining hyperlink
    // graph (verdict gap #3 of r14): Graph.pageRankDirectedState holds
    // the per-iteration rank HISTORY over the seed edges (staged
    // src-sorted AND dst-sorted — directed rank reads IN-neighbors,
    // which a src-sorted layout cannot prune). The seed graph is under
    // Graph.DefaultLocalThreshold edges, so the build collects it once,
    // iterates on the driver and keeps a driver copy of the graph and
    // history; the doc_id % 29 = 0 pages' edges arrive as one batch and
    // Graph.pageRankDirectedRefresh re-iterates only the batch's
    // monotone out-neighborhood ball against frozen iterates read from
    // that copy (no probe job) — bit-identical to the full recompute
    // the oracle states (3 unrolled leak-rule rounds over the union
    // edge set). LEAK rule only: redistribution's global term has no
    // ball to splice.
    Q("x_linkgraph_rank_incremental", (s, d) => {
      val docs = documents(s, d)
      def edgesOf(f: org.apache.spark.sql.DataFrame) =
        f.select(col("doc_id").as("s"),
          expr("(doc_id * 3 + 1) % 512").as("t"))
          .unionAll(f.select(col("doc_id").as("s"),
            expr("(doc_id * 5 + 2) % 512").as("t")))
      val st = graft.operators.Graph.pageRankDirectedState(
        edgesOf(docs.filter(col("doc_id") % 29 =!= 0)), "s", "t",
        iterations = 3, scale = 1000000000L)
      graft.operators.Graph.pageRankDirectedRefresh(docs, "doc_id", st,
        edgesOf(docs.filter(col("doc_id") % 29 === 0)), "s", "t")
        .orderBy(col("node"))
    }, Some {
      val rounds = (1 to 3).map(i => s"""
        r$i AS (SELECT nd.node, nd.degree,
                       CAST(150000000 AS BIGINT) +
                       COALESCE(CAST(SUM((p.r * 17) // (20 * p.degree))
                                     AS BIGINT), CAST(0 AS BIGINT)) AS r
                FROM nd
                LEFT JOIN (SELECT e0.d AS dst, rr.r, rr.degree
                           FROM e0 JOIN r${i - 1} rr ON e0.s = rr.node) p
                  ON p.dst = nd.node
                GROUP BY nd.node, nd.degree)""").mkString(",")
      s"""
      WITH e0 AS MATERIALIZED (
        SELECT DISTINCT s, d FROM (
          SELECT doc_id AS s, (doc_id * 3 + 1) % 512 AS d FROM documents
          UNION ALL
          SELECT doc_id, (doc_id * 5 + 2) % 512 FROM documents)
        WHERE s <> d),
      od AS (SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS degree
             FROM e0 GROUP BY s),
      nd AS MATERIALIZED (
        SELECT n.node, COALESCE(od.degree, CAST(0 AS BIGINT)) AS degree
        FROM (SELECT s AS node FROM e0 UNION SELECT d FROM e0) n
        LEFT JOIN od ON od.node = n.node),
      r0 AS (SELECT node, degree, CAST(1000000000 AS BIGINT) AS r FROM nd),
      $rounds
      SELECT v.doc_id AS node,
             COALESCE(r3.r, CAST(150000000 AS BIGINT)) AS pr
      FROM documents v LEFT JOIN r3 ON r3.node = v.doc_id
      ORDER BY node"""
    }, headline = true),

    // ------------------------- incremental PageRank (per-batch refresh)
    // The per-batch twin of x_graph_pagerank: prior iterate HISTORY
    // (Graph.pageRankState — the directed state over the symmetrized
    // pairs, built on the driver under DefaultLocalThreshold rows) is the
    // persisted state; the odd-parity half of the pair graph folds in via
    // Graph.pageRankRefresh. A ball-sized batch re-iterates only its
    // 3-hop ball against frozen iterates; at sf0.1 this batch touches
    // most of the graph, so the refresh hands off to the full recompute
    // over the union (RefreshDenseFraction), which it reads from the
    // driver copy plus the novel pairs: the state's relations are never
    // built or staged. Either way the ranks are EXACT, so
    // the oracle is the same full 3-iteration unrolled CTE over all pairs.
    Q("x_pagerank_incremental", (s, d) => {
      val pairs = stage(graft.operators.TextDedup
        .simhashPairs(fanOut(documents(s, d)), "doc_id", "text", maxHamming = 7))
      val base = pairs.filter((col("da") + col("db")) % 2 === 0)
      val delta = pairs.filter((col("da") + col("db")) % 2 =!= 0)
      val st = graft.operators.Graph.pageRankState(base, "da", "db",
        iterations = 3, scale = 1000000000L)
      graft.operators.Graph
        .pageRankRefresh(documents(s, d), "doc_id", st, delta, "da", "db")
        .orderBy(col("node"))
    }, Some(s"""
      WITH $duckSimhashPairCtes,
      e AS (SELECT da AS s, db AS d FROM pairs
            UNION SELECT db, da FROM pairs),
      deg AS (SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS degree
              FROM e GROUP BY s),
      r0 AS (SELECT node, degree, CAST(1000000000 AS BIGINT) AS r FROM deg),
      r1 AS (SELECT dg.node, dg.degree,
                    CAST(150000000 AS BIGINT) +
                    COALESCE(CAST(SUM((p.r * 17) // (20 * p.degree)) AS BIGINT),
                             CAST(0 AS BIGINT)) AS r
             FROM deg dg
             LEFT JOIN (SELECT e.d AS dst, r0.r, r0.degree
                        FROM e JOIN r0 ON e.s = r0.node) p ON p.dst = dg.node
             GROUP BY dg.node, dg.degree),
      r2 AS (SELECT dg.node, dg.degree,
                    CAST(150000000 AS BIGINT) +
                    COALESCE(CAST(SUM((p.r * 17) // (20 * p.degree)) AS BIGINT),
                             CAST(0 AS BIGINT)) AS r
             FROM deg dg
             LEFT JOIN (SELECT e.d AS dst, r1.r, r1.degree
                        FROM e JOIN r1 ON e.s = r1.node) p ON p.dst = dg.node
             GROUP BY dg.node, dg.degree),
      r3 AS (SELECT dg.node, dg.degree,
                    CAST(150000000 AS BIGINT) +
                    COALESCE(CAST(SUM((p.r * 17) // (20 * p.degree)) AS BIGINT),
                             CAST(0 AS BIGINT)) AS r
             FROM deg dg
             LEFT JOIN (SELECT e.d AS dst, r2.r, r2.degree
                        FROM e JOIN r2 ON e.s = r2.node) p ON p.dst = dg.node
             GROUP BY dg.node, dg.degree)
      SELECT v.doc_id AS node,
             COALESCE(r3.r, CAST(150000000 AS BIGINT)) AS pr
      FROM documents v LEFT JOIN r3 ON r3.node = v.doc_id
      ORDER BY node""")),

    // --------------------- personalized PageRank (seed-set expansion)
    // "Find more documents like this curated set": restart mass
    // concentrates on the seed docs (doc_id % 50 = 0), so rank measures
    // graph proximity to the seeds — the expansion step a curation
    // recipe runs after hand-picking exemplars. Same exact integer
    // arithmetic as x_graph_pagerank (seeded base term, truncating div);
    // the seed relation broadcasts twice, the corpus never shuffles.
    Q("x_graph_ppr", (s, d) => {
      val pairs = graft.operators.TextDedup
        .simhashPairs(fanOut(documents(s, d)), "doc_id", "text", maxHamming = 7)
      val seeds = documents(s, d).filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"))
      graft.operators.Graph
        .personalizedPageRank(documents(s, d), "doc_id", pairs, "da", "db",
          seeds, iterations = 3, scale = 1000000000L)
        .orderBy(col("node"))
    }, Some(s"""
      WITH $duckSimhashPairCtes,
      e AS (SELECT da AS s, db AS d FROM pairs
            UNION SELECT db, da FROM pairs),
      deg AS (SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS degree
              FROM e GROUP BY s),
      r0 AS (SELECT node, degree,
                    CAST(CASE WHEN node % 50 = 0 THEN 1000000000
                         ELSE 0 END AS BIGINT) AS r
             FROM deg),
      r1 AS (SELECT dg.node, dg.degree,
                    CAST(CASE WHEN dg.node % 50 = 0 THEN 150000000
                         ELSE 0 END AS BIGINT) +
                    COALESCE(CAST(SUM((p.r * 17) // (20 * p.degree)) AS BIGINT),
                             CAST(0 AS BIGINT)) AS r
             FROM deg dg
             LEFT JOIN (SELECT e.d AS dst, r0.r, r0.degree
                        FROM e JOIN r0 ON e.s = r0.node) p ON p.dst = dg.node
             GROUP BY dg.node, dg.degree),
      r2 AS (SELECT dg.node, dg.degree,
                    CAST(CASE WHEN dg.node % 50 = 0 THEN 150000000
                         ELSE 0 END AS BIGINT) +
                    COALESCE(CAST(SUM((p.r * 17) // (20 * p.degree)) AS BIGINT),
                             CAST(0 AS BIGINT)) AS r
             FROM deg dg
             LEFT JOIN (SELECT e.d AS dst, r1.r, r1.degree
                        FROM e JOIN r1 ON e.s = r1.node) p ON p.dst = dg.node
             GROUP BY dg.node, dg.degree),
      r3 AS (SELECT dg.node, dg.degree,
                    CAST(CASE WHEN dg.node % 50 = 0 THEN 150000000
                         ELSE 0 END AS BIGINT) +
                    COALESCE(CAST(SUM((p.r * 17) // (20 * p.degree)) AS BIGINT),
                             CAST(0 AS BIGINT)) AS r
             FROM deg dg
             LEFT JOIN (SELECT e.d AS dst, r2.r, r2.degree
                        FROM e JOIN r2 ON e.s = r2.node) p ON p.dst = dg.node
             GROUP BY dg.node, dg.degree)
      SELECT v.doc_id AS node,
             COALESCE(r3.r,
               CAST(CASE WHEN v.doc_id % 50 = 0 THEN 150000000
                    ELSE 0 END AS BIGINT)) AS pr
      FROM documents v LEFT JOIN r3 ON r3.node = v.doc_id
      ORDER BY node""")),

    // ------------------------------------- cluster dedup (keep canonical)
    // The end state of the dedup pipeline: one row per near-dup cluster,
    // keeping the smallest doc_id as canonical — pairs → components →
    // per-cluster size. At 100 TB the same plan re-joined to `documents`
    // on component_id = doc_id yields the deduplicated corpus.
    Q("x_dedup_cluster", (s, d) => {
      val pairs = graft.operators.TextDedup
        .simhashPairs(fanOut(documents(s, d)), "doc_id", "text", maxHamming = 7)
      graft.operators.Graph
        .componentsForVertices(documents(s, d), "doc_id", pairs, "da", "db")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"))
        .select(col("component").as("canonical_id"), col("n_members"))
        .orderBy(col("canonical_id"))
    }, Some(s"""
      WITH RECURSIVE $duckSimhashPairCtes,
      edges AS (SELECT da AS s, db AS d FROM pairs
                UNION SELECT db, da FROM pairs),
      reach(n, m) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s),
      comp AS (SELECT n AS doc_id, MIN(m) AS component_id
               FROM reach GROUP BY n)
      SELECT component_id AS canonical_id, COUNT(*) AS n_members
      FROM comp GROUP BY component_id ORDER BY canonical_id""")),

    // --------------------------- canonical selection (quality-aware keep)
    // The dedup POLICY step x_dedup_cluster stops short of: per near-dup
    // cluster (≥2 members — singletons are the untouched corpus), keep the
    // highest-quality member (longest n_chars, doc_id tie-break) instead
    // of the arbitrary smallest id. Plan: the edge-incident CC relation is
    // subgraph-sized, so it BROADCASTS onto the one corpus metadata scan;
    // the argmax is a per-cluster max(struct(quality, -id)) — exact
    // integer ordering, no window over raw rows, one subgraph-sized
    // shuffle. The oracle recomputes the closure and takes the same argmax
    // via ROW_NUMBER.
    Q("x_dedup_canonical", (s, d) => {
      val pairs = graft.operators.TextDedup
        .simhashPairs(fanOut(documents(s, d)), "doc_id", "text", maxHamming = 7)
      val cc = graft.operators.Graph.connectedComponents(pairs, "da", "db")
      documents(s, d).select(col("doc_id"), col("n_chars"))
        .join(broadcast(cc), col("doc_id") === col("node"))
        .groupBy(col("component"))
        .agg(
          max(struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("__m"),
          count(lit(1)).as("n_members"))
        .select(col("component").as("cluster_id"),
          (-col("__m.nd")).as("canonical_doc"),
          col("__m.n_chars").as("canonical_chars"),
          col("n_members"))
        .orderBy(col("cluster_id"))
    }, Some(s"""
      WITH RECURSIVE $duckSimhashPairCtes,
      edges AS (SELECT da AS s, db AS d FROM pairs
                UNION SELECT db, da FROM pairs),
      reach(n, m) AS (
        SELECT s, s FROM edges
        UNION
        SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s),
      comp AS (SELECT n AS doc_id, MIN(m) AS component_id
               FROM reach GROUP BY n),
      j AS (SELECT c.component_id, dd.doc_id, dd.n_chars
            FROM comp c JOIN documents dd ON c.doc_id = dd.doc_id),
      rk AS (SELECT component_id, doc_id, n_chars,
                    ROW_NUMBER() OVER (PARTITION BY component_id
                                       ORDER BY n_chars DESC, doc_id ASC) AS rn,
                    COUNT(*) OVER (PARTITION BY component_id) AS n_members
             FROM j)
      SELECT component_id AS cluster_id, doc_id AS canonical_doc,
             n_chars AS canonical_chars, CAST(n_members AS BIGINT) AS n_members
      FROM rk WHERE rn = 1 ORDER BY cluster_id""")),

    // ------------------------------------------- embedding cosine near-dup
    // Exact all-pairs cosine ≥ 0.45. The fold-based dot (sequential adds in
    // array order) makes the double bitwise-identical across engines.
    // 100 TB note: all-pairs is for the oracle; the scale path is the LSH
    // bucketing in x_ann_lsh (same sign-hyperplane signatures).
    Q("x_dedup_embedding", (s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val e = fanOut(embeddings(s, d)).select(col("vec_id"), col("embedding"))
      e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        // native codegen'd Expression, FP-sequence-identical to the fold.
        .withColumn("cos", expr("cosine_sim(a.embedding, b.embedding)"))
        .filter(col("cos") >= 0.45)
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"), col("cos"))
        .orderBy(col("va"), col("vb"))
    }, Some("""
      WITH e AS (
        SELECT vec_id, embedding,
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
                 (acc, v) -> acc + v)) AS nrm
        FROM embeddings)
      SELECT a.vec_id AS va, b.vec_id AS vb,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
               (acc, v) -> acc + v) / (a.nrm * b.nrm) AS cos
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
              (acc, v) -> acc + v) / (a.nrm * b.nrm) >= 0.45
      ORDER BY va, vb""")),

    // ------------------------------------- near-dup analytics by source
    // WHERE duplication comes from: the near-dup pair relation joined back
    // to document metadata, aggregated into an (unordered) source-pair
    // matrix — the audit that tells a pipeline which feeds re-crawl each
    // other before any dedup policy is chosen. The tiny pair relation
    // BROADCASTS onto the corpus-sized metadata scan twice (da then db) —
    // the corpus never shuffles; counts and min-Hamming are exact
    // integers, so engines agree bit-for-bit.
    Q("x_dedup_source_matrix", (s, d) => {
      val pairs = graft.operators.TextDedup
        .simhashPairs(fanOut(documents(s, d)), "doc_id", "text", maxHamming = 7)
      val meta = documents(s, d).select(col("doc_id"), col("source"))
      val withA = meta
        .join(broadcast(pairs), col("doc_id") === col("da"))
        .select(col("source").as("__sa"), col("db"), col("hamming"))
      val withB = meta
        .join(broadcast(withA), col("doc_id") === col("db"))
        .select(col("__sa"), col("source").as("__sb"), col("hamming"))
      withB
        .groupBy(
          least(col("__sa"), col("__sb")).as("source_a"),
          greatest(col("__sa"), col("__sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"), min(col("hamming")).as("min_hamming"))
        .orderBy(col("source_a"), col("source_b"))
    }, Some(s"""
      WITH $duckSimhashPairCtes,
      sp AS (SELECT least(ma.source, mb.source) AS source_a,
                    greatest(ma.source, mb.source) AS source_b,
                    h.hamming
             FROM h JOIN documents ma ON h.da = ma.doc_id
                    JOIN documents mb ON h.db = mb.doc_id
             WHERE h.hamming <= 7)
      SELECT source_a, source_b, COUNT(*) AS n_pairs,
             MIN(hamming) AS min_hamming
      FROM sp GROUP BY source_a, source_b
      ORDER BY source_a, source_b""")),

    // ------------------------------------------ bloom-gated line overlap
    // "Which ingest docs share boilerplate with the corpus?" — the bloom
    // pre-gate shape end-to-end (operators.BloomDedup): a digest filter
    // over the corpus's 4-token lines is built ONCE (driver-held literal,
    // like the ANN centroids), each batch line probes it as a scan-fused
    // Filter, and only the (tiny) might-contain survivors pay the exact
    // semi-join. The bloom can only ADD candidates (no false negatives),
    // and the semi-join removes its false positives — so the OUTPUT is
    // exact and the oracle is the plain join, blind to the bloom.
    Q("x_dedup_bloom_gate", (s, d) => {
      def lineKeys(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("__toks", expr("split(lower(text), ' ')"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, (size(__toks) + 3) div 4 - 1),
            |  i -> md5(concat_ws(' ', slice(__toks, i * 4 + 1, 4))))""".stripMargin))
          .as("k"))
      val docs = fanOut(documents(s, d))
      val corpusK = lineKeys(docs.filter(col("doc_id") % 10 =!= 0)).select(col("k"))
      val batchK = lineKeys(docs.filter(col("doc_id") % 10 === 0))
      val filter = graft.operators.BloomDedup
        .buildFilter(corpusK, "k", expectedItems = 100000)
      graft.operators.BloomDedup.probe(batchK, "k", filter)
        .join(corpusK, Seq("k"), "left_semi")
        .select(col("doc_id")).distinct()
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      l AS (SELECT doc_id,
                   unnest(list_transform(range(0, (len(toks) + 3) // 4),
                     i -> md5(array_to_string(toks[4*i+1 : 4*i+4], ' ')))) AS k
            FROM t),
      b AS (SELECT doc_id, k FROM l WHERE doc_id % 10 = 0),
      c AS (SELECT DISTINCT k FROM l WHERE doc_id % 10 <> 0)
      SELECT DISTINCT b.doc_id FROM b JOIN c USING (k) ORDER BY doc_id""")),

    // ------------------------------------- exact repeated-substring spans
    // Suffix-array substring dedup (Lee et al. 2022), re-expressed for a
    // cluster (operators.TextDedup.repeatedSpans): duplicated k-token
    // window hashes (count ≥ 2 corpus-wide, within-doc repeats included)
    // merged into maximal per-document spans with lag/running-sum windows
    // partitioned on doc_id — the max-cardinality key. Only 16-byte
    // digests shuffle; the interval merge is exactly restatable in SQL, so
    // the oracle replays the full construction.
    Q("x_dedup_substring", (s, d) => {
      graft.operators.TextDedup.repeatedSpans(fanOut(documents(s, d)),
        "doc_id", "text", k = 8)
        .orderBy(col("doc_id"), col("span_start"))
    }, Some("""
      WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      w AS (SELECT doc_id,
                   unnest(range(0, len(toks) - 7)) AS pos,
                   unnest(list_transform(range(0, len(toks) - 7),
                     i -> md5(array_to_string(toks[i+1 : i+8], ' ')))) AS h
            FROM t),
      dup AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2),
      m AS (SELECT doc_id, pos FROM w WHERE h IN (SELECT h FROM dup)),
      f AS (SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                          OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
                        THEN 1 ELSE 0 END AS ns
            FROM m),
      sp AS (SELECT doc_id, pos,
                    CAST(SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span
             FROM f)
      SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
             COUNT(*) AS n_windows
      FROM sp GROUP BY doc_id, span
      ORDER BY doc_id, span_start"""), headline = true),

    // ---------------------------------- span-level decontamination
    // WHERE a training document overlaps the benchmark, not just how
    // much (x_decontaminate counts shingle overlap; this emits the
    // maximal copied spans): the eval set's distinct window digests
    // become a staged broadcast index (TextDedup.spanIndex), the
    // training side stays an unstaged window projection probed with a
    // semi-join, intervals merge exactly as x_dedup_substring. Eval
    // stand-in: doc_id % 10 = 0.
    Q("x_decontaminate_spans", (s, d) => {
      val docs = fanOut(documents(s, d))
      val idx = graft.operators.TextDedup.spanIndex(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", k = 8)
      graft.operators.TextDedup.spansAgainstIndex(
        docs.filter(col("doc_id") % 10 =!= 0), idx, "doc_id", "text", k = 8)
        .orderBy(col("doc_id"), col("span_start"))
    }, Some("""
      WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      w AS (SELECT doc_id,
                   unnest(range(0, len(toks) - 7)) AS pos,
                   unnest(list_transform(range(0, len(toks) - 7),
                     i -> md5(array_to_string(toks[i+1 : i+8], ' ')))) AS h
            FROM t),
      ref AS (SELECT DISTINCT h FROM w WHERE doc_id % 10 = 0),
      m AS (SELECT doc_id, pos FROM w
            WHERE doc_id % 10 <> 0 AND h IN (SELECT h FROM ref)),
      f AS (SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                          OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
                        THEN 1 ELSE 0 END AS ns
            FROM m),
      sp AS (SELECT doc_id, pos,
                    CAST(SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span
             FROM f)
      SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
             COUNT(*) AS n_windows
      FROM sp GROUP BY doc_id, span
      ORDER BY doc_id, span_start"""))
  )
}
