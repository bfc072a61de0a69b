package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.GraftFunctions

/** Bloom-filter pre-gate for INCREMENTAL EXACT dedup: "has this content
  * digest been seen in the corpus?" answered per ingest row with zero
  * per-batch corpus work.
  *
  * The per-batch shapes for exact membership, fastest first:
  *   1. THIS: a bloom filter over the corpus digests, built ONCE per
  *      corpus version (one corpus scan), probed as a scan-fused Filter
  *      expression on each batch — no join, no shuffle, no corpus access
  *      at all per batch;
  *   2. broadcast anti/semi-join against the corpus digest relation
  *      (stripCommonLines' banned-set shape) — exact, but re-ships the
  *      whole digest set per executor and query;
  *   3. shuffle join — the only option once the digest set exceeds
  *      executor memory.
  *
  * Bloom semantics make (1) sound as a PRE-gate: NO false negatives, so
  * `probe` keeps every true duplicate (spec-pinned); false positives
  * (rate `fpp`) pass the gate and must be settled by an exact check over
  * the (tiny) surviving set — [[graft.operators.TextDedup.exactGroups]]
  * or a semi-join. Used the other way around (`keepNew`), a false
  * positive DROPS a genuinely-new row: acceptable for dedup (losing
  * ~fpp of new rows to over-dedup is usually fine) but it is a recall
  * tradeoff the caller opts into.
  *
  * Scale contract: [[probe]]/[[keepNew]] put the filter bytes in the
  * PLAN (a literal, like Spark's own runtime bloom joins and the ANN
  * centroid broadcast); a caller that already holds its rows on the
  * driver probes and grows the filter there instead ([[keyHash]],
  * [[readFilter]], [[putHashes]]) and ships no literal at all.
  * `maxBytes` refuses filters beyond a broadcastable bound (default
  * 128 MiB ≈ 700M items at 1%). Beyond that, shape (2)/(3) applies.
  * Spark's `BloomFilterAggregate` additionally caps items/bits via the
  * session confs `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`
  * (default 4M) and `.maxNumBits` (default 67,108,864 bits = 8 MiB);
  * [[buildFilter]] raises both for the duration of the build action and
  * restores them after, so the full `maxBytes` envelope is actually
  * reachable. The raise is session-scoped — a concurrent query on the
  * SAME session during the build sees the relaxed caps (harmless: they
  * only bound Spark's own adaptive bloom-join sizing); concurrent
  * buildFilter calls are serialized under a JVM-wide lock so interleaved
  * set/restore can never leave the raised caps behind.
  *
  * Built on Spark's own runtime-filter expressions
  * (`BloomFilterAggregate`/`BloomFilterMightContain`, registered as
  * `bloom_agg`/`bloom_contains` by [[GraftFunctions]]) — identical
  * bit-layout and hashing to the engine's adaptive bloom joins.
  */
object BloomDedup {

  /** Standard optimal sizing: bits = −n·ln(p) / ln(2)². Driver-side FP
    * math sizes the filter only — membership semantics are exact either
    * way, so cross-engine determinism is not at stake. */
  def optimalNumBits(expectedItems: Long, fpp: Double): Long = {
    require(expectedItems > 0, s"expectedItems=$expectedItems")
    require(fpp > 0.0 && fpp < 1.0, s"fpp=$fpp")
    math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
  }

  /** Build the corpus digest filter ONCE (one scan, partial-aggregated
    * map-side; the merged filter — the single aggregate value — is the
    * only thing the driver holds). Key rows are hashed with `xxhash64`
    * of the key's string form; [[probe]]/[[keepNew]] apply the same
    * hashing, so any key type round-trips consistently. */
  def buildFilter(corpus: DataFrame, keyCol: String, expectedItems: Long,
                  fpp: Double = 0.01,
                  maxBytes: Long = 128L << 20): Array[Byte] = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val bits = optimalNumBits(expectedItems, fpp)
    require(bits / 8 <= maxBytes,
      s"bloom filter would be ${bits / 8} bytes (> $maxBytes): " +
        "use the broadcast/shuffle anti-join shape instead")
    // BloomFilterAggregate require()s items/bits under these session confs
    // (defaults 4M items / 8 MiB) — raise them for the build, restore after.
    // The raise/restore is serialized under a JVM-wide lock: two concurrent
    // builds on one session could otherwise interleave set/restore and
    // leave the raised caps in place permanently (the restore snapshot of
    // the second build would capture the first build's raised values).
    buildLock.synchronized {
    val conf = corpus.sparkSession.conf
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val prevItems = conf.getOption(itemsKey)
    val prevBits = conf.getOption(bitsKey)
    def restore(key: String, prev: Option[String]): Unit = prev match {
      case Some(v) => conf.set(key, v)
      case None => conf.unset(key)
    }
    try {
      conf.set(itemsKey,
        math.max(conf.get(itemsKey, "4000000").toLong, expectedItems).toString)
      conf.set(bitsKey,
        math.max(conf.get(bitsKey, "67108864").toLong, bits).toString)
      val built = corpus
        .select(keyHash(col(keyCol)).as("__h"))
        .agg(expr(s"bloom_agg(__h, ${expectedItems}L, ${bits}L)").as("__bf"))
        .head().getAs[Array[Byte]](0)
      if (built != null) built
      else {
        // bloom_agg over ZERO rows returns NULL. An EMPTY relation still
        // has a well-defined filter — the all-zero bit array at the SAME
        // (items, bits) shape, so it keeps the [[mergeFilters]] identity
        // (merging it changes nothing, byte-identically).
        val out = new java.io.ByteArrayOutputStream()
        BloomFilter.create(expectedItems, bits).writeTo(out)
        out.toByteArray
      }
    } finally {
      restore(itemsKey, prevItems)
      restore(bitsKey, prevBits)
    }
    }
  }

  /** Serializes the conf raise/restore window in [[buildFilter]] (JVM-wide:
    * sessions share the underlying SQLConf when forked, and one lock is
    * cheap — filter builds are per-corpus-version, never per-row). */
  private val buildLock = new Object

  /** Merge two filters built with IDENTICAL (expectedItems, fpp) sizing —
    * the fold step of a self-growing exact gate
    * ([[graft.streaming.DedupIngest]]'s growing state): membership is a
    * bitwise OR, so folding per-batch filters one at a time is
    * byte-identical to one build over the union (insertion order never
    * matters; spec-pinned). Incompatible shapes (different sizing) throw.
    * FPP degrades once TOTAL inserted items exceed the sizing's
    * expectedItems — capacity-plan the ingest horizon at build time and
    * rotate a fresh corpus version when it fills. */
  def mergeFilters(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val fa = readFilter(a)
    fa.mergeInPlace(readFilter(b))
    writeFilter(fa)
  }

  /** The 64-bit key hash every filter here is built and probed with:
    * `xxhash64` of the key's string form. A caller that collects it next
    * to its rows can probe and grow a filter on the driver
    * ([[readFilter]]'s `mightContainLong`, [[putHashes]]) exactly as the
    * plan-side [[probe]] and [[buildFilter]] would. */
  def keyHash(key: Column): Column = xxhash64(key.cast("string"))

  /** Deserialize a filter for driver-side probes (`mightContainLong` on
    * [[keyHash]] values). */
  def readFilter(filter: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(filter))

  private def writeFilter(f: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    f.writeTo(out)
    out.toByteArray
  }

  /** Insert [[keyHash]] values into a copy of `filter` on the driver —
    * the fold step of a self-growing exact gate without a filter build
    * job. `bloom_agg` puts the same longs into the same filter shape, so
    * the result is byte-identical to `mergeFilters(filter, buildFilter(rows))`
    * under the filter's own sizing, and so to one build over the union. */
  def putHashes(filter: Array[Byte], hashes: Iterator[Long]): Array[Byte] = {
    val f = readFilter(filter)
    hashes.foreach(f.putLong)
    writeFilter(f)
  }

  /** Rows whose key MIGHT be in the corpus (all true members + ~fpp of
    * the rest) — the candidate set for an exact duplicate check. A pure
    * scan-fused Filter: no join, no shuffle, no exchange (spec-pinned). */
  def probe(batch: DataFrame, keyCol: String, filter: Array[Byte]): DataFrame = {
    GraftFunctions.ensureRegistered(batch.sparkSession)
    batch.filter(call_function("bloom_contains", lit(filter), keyHash(col(keyCol))))
  }

  /** Rows whose key is DEFINITELY not in the corpus — the keep-side gate
    * (over-dedups by ~fpp; see the class doc for the tradeoff). */
  def keepNew(batch: DataFrame, keyCol: String, filter: Array[Byte]): DataFrame = {
    GraftFunctions.ensureRegistered(batch.sparkSession)
    batch.filter(!call_function("bloom_contains", lit(filter), keyHash(col(keyCol))))
  }
}
