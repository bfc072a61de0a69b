package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Connected components (alternating star contraction, Graph.scala):
  * label correctness on a known fixture, self-loop semantics, and the
  * staging-mode disk contract (superseded round dirs are reclaimed). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  // Two components {1,2,3,5} (a 4-chain — exercises >0 contraction
  // rounds) and {10,20}; 7↔7 is a self-loop-only node; 99 has no edges.
  private def edges = Seq(
    (2L, 1L), (3L, 2L), (5L, 3L), (10L, 20L), (7L, 7L), (1L, 2L))
    .toDF("a", "b")

  test("connectedComponents labels every chained node with the minimum") {
    val got = Graph.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L), (2L, 1L), (3L, 1L), (5L, 1L),
      (10L, 10L), (20L, 10L)))
    // self-loop-only node 7 is excluded by contract (see scaladoc).
    assert(!got.exists(_._1 == 7L))
  }

  test("componentsForVertices retains self-loop-only and isolated nodes") {
    val verts = Seq(1L, 2L, 3L, 5L, 7L, 10L, 20L, 99L).toDF("id")
    val got = Graph.componentsForVertices(verts, "id", edges, "a", "b")
      .as[(Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L), (2L, 1L), (3L, 1L), (5L, 1L),
      (7L, 7L), (10L, 10L), (20L, 10L), (99L, 99L)))
  }

  test("incrementalComponents merges, splits nothing, keeps new singles") {
    // prev: {1,2,3} and {10,20}; batch merges them via 3–10, adds new
    // chain 30–31, and a within-component edge (2,3) that must be a no-op.
    val prev = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (20L, 10L))
      .toDF("node", "component")
    val batch = Seq((3L, 10L), (30L, 31L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.incrementalComponents(prev, batch)
      .as[(Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L), (2L, 1L), (3L, 1L), (10L, 1L), (20L, 1L),
      (30L, 30L), (31L, 30L)))
  }

  test("incrementalComponents ≡ full recompute on randomized edge splits") {
    // seeded random graphs folded in over THREE batches — the labels after
    // each fold must equal a full recompute over the edges seen so far.
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 60
      val all = Seq.fill(120)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val parts = all.groupBy(_ => rnd.nextInt(3)).toSeq.sortBy(_._1).map(_._2)
      var labels = Graph.connectedComponents(parts.head.toDF("a", "b"), "a", "b")
      var seen = parts.head
      for (batch <- parts.tail) {
        labels = Graph.incrementalComponents(labels, batch.toDF("src", "dst"))
        seen = seen ++ batch
        val full = Graph.connectedComponents(seen.toDF("a", "b"), "a", "b")
          .as[(Long, Long)].collect().toSet
        val inc = labels.as[(Long, Long)].collect().toSet
        assert(inc == full, s"trial $trial diverged after a fold")
        labels = inc.toSeq.toDF("node", "component")
      }
    }
  }

  test("incrementalComponents: the corpus-sized side never shuffles") {
    val prev = Seq((1L, 1L), (2L, 1L), (10L, 10L)).toDF("node", "component")
    val batch = Seq((2L, 10L)).toDF("src", "dst")
    val plan = Graph.incrementalComponents(prev, batch)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"prev must join via broadcast only:\n${plan.take(2000)}")
  }

  test("incrementalComponents: ONE corpus scan in the result plan (two-pass contract)") {
    // the scaladoc promises exactly two passes over the corpus-sized prev:
    // pass 1 is the eager endpoint-label lookup (collected — tiny by
    // contract), pass 2 the relabeling join. With prev backed by parquet,
    // the returned plan must therefore contain exactly ONE parquet scan —
    // a lazily-shared `hits` subplan would instead re-scan prev inside
    // each of its three consuming broadcasts.
    val dir = java.nio.file.Files.createTempDirectory("graft-inc-prev").toString
    Seq((1L, 1L), (2L, 1L), (10L, 10L)).toDF("node", "component")
      .write.mode("overwrite").parquet(dir)
    val prev = spark.read.parquet(dir)
    val batch = Seq((2L, 10L), (30L, 31L)).toDF("src", "dst")
    val res = Graph.incrementalComponents(prev, batch)
    val plan = res.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected exactly 1 corpus scan, got $scans:\n${plan.take(3000)}")
    assert(res.as[(Long, Long)].collect().toSet == Set(
      (1L, 1L), (2L, 1L), (10L, 1L), (30L, 30L), (31L, 30L)))
  }

  test("local terminal path ≡ pure distributed fixed point (seeded graphs)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 2) {
      val es = Seq.fill(150)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .toDF("a", "b")
      val local = Graph.connectedComponents(es, "a", "b")
        .as[(Long, Long)].collect().toSet
      val dist = Graph.connectedComponents(es, "a", "b", localThreshold = 0)
        .as[(Long, Long)].collect().toSet
      assert(local == dist)
    }
  }

  test("local terminal path reclaims every staging dir (path is None)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-stage").toString
    spark.conf.set("graft.stage.dir", dir)
    try {
      val tracked = Graph.connectedComponentsTracked(edges, "a", "b")
      assert(tracked.path.isEmpty, "local-path result must not reference staging")
      assert(tracked.df.as[(Long, Long)].collect().toSet.size == 6)
      val left = new java.io.File(dir).listFiles().toSeq.map(_.getName)
      assert(left.count(_.startsWith("stage_")) == 0, left.toString)
    } finally spark.conf.unset("graft.stage.dir")
  }

  test("parquet-staging mode reclaims superseded round directories") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-stage").toString
    spark.conf.set("graft.stage.dir", dir)
    try {
      val got = Graph.connectedComponents(edges, "a", "b", localThreshold = 0)
        .as[(Long, Long)].collect().toSet
      assert(got.size == 6)
      // every superseded stage_N was dropped; only the final round's edge
      // relation (which backs the returned DataFrame) may remain.
      val left = new java.io.File(dir).listFiles().toSeq.map(_.getName)
      assert(left.count(_.startsWith("stage_")) <= 1, left.toString)
    } finally spark.conf.unset("graft.stage.dir")
  }

  test("tracked variant reclaims the FINAL round's directory on drop()") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-stage").toString
    spark.conf.set("graft.stage.dir", dir)
    try {
      val tracked = Graph.connectedComponentsTracked(edges, "a", "b", localThreshold = 0)
      val got = tracked.df.as[(Long, Long)].collect().toSet
      assert(got.size == 6)
      tracked.drop() // result consumed — release the last staging dir
      val left = new java.io.File(dir).listFiles().toSeq.map(_.getName)
      assert(left.count(_.startsWith("stage_")) == 0, left.toString)
    } finally spark.conf.unset("graft.stage.dir")
  }

  test("kCore matches the brute-force peel on seeded random graphs") {
    def brute(canon: Set[(Long, Long)], k: Int): Map[Long, Int] = {
      var e = canon
      var changed = true
      while (changed) {
        val deg = e.toSeq.flatMap(p => Seq(p._1, p._2))
          .groupBy(identity).map { case (v, vs) => v -> vs.size }
        val low = deg.collect { case (v, c) if c < k => v }.toSet
        changed = low.nonEmpty
        e = e.filterNot(p => low(p._1) || low(p._2))
      }
      e.toSeq.flatMap(p => Seq(p._1, p._2))
        .groupBy(identity).map { case (v, vs) => v -> vs.size }
    }
    val rnd = new scala.util.Random(23)
    (1 to 4).foreach { _ =>
      val n = rnd.nextInt(20) + 8
      val raw = Seq.fill(rnd.nextInt(60) + 10)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val canon = raw.map { case (a, b) => (a min b, a max b) }
        .filter { case (a, b) => a != b }.toSet
      for (k <- Seq(2, 3)) {
        val got = Graph.kCore(raw.toDF("a", "b"), "a", "b", k)
          .as[(Long, Long)].collect().toMap
        val want = brute(canon, k).map { case (v, c) => v -> c.toLong }
        assert(got == want, s"k=$k canon=$canon")
      }
    }
    // the loop IS the semantics: a chain hanging off a triangle peels
    // COMPLETELY under k=2, though only its free end starts at degree 1.
    val chainy = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val got2 = Graph.kCore(chainy.toDF("a", "b"), "a", "b", k = 2)
      .as[(Long, Long)].collect().toMap
    assert(got2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"chain must cascade-peel: $got2")
    // fail-fast, never silent under-peeling.
    val e = intercept[IllegalStateException] {
      Graph.kCore(chainy.toDF("a", "b"), "a", "b", k = 2, maxRounds = 2)
    }
    assert(e.getMessage.contains("converge"))
  }

  test("triangleCounts matches brute force on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    (1 to 5).foreach { _ =>
      val n = rnd.nextInt(20) + 5
      // random multigraph with both directions, dupes, and self-loops —
      // the operator must canonicalize all of it away.
      val raw = Seq.fill(rnd.nextInt(80) + 10)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val canon = raw.map { case (a, b) => (a min b, a max b) }
        .filter { case (a, b) => a != b }.toSet
      def linked(a: Long, b: Long) = canon.contains((a min b, a max b))
      val nodes = canon.flatMap(e => Seq(e._1, e._2))
      val expTri = nodes.map { v =>
        val nbrs = canon.collect {
          case (a, b) if a == v => b
          case (a, b) if b == v => a
        }.toSeq
        v -> nbrs.combinations(2).count { case Seq(x, y) => linked(x, y) }
      }.toMap
      val expDeg = nodes.map { v =>
        v -> canon.count(e => e._1 == v || e._2 == v)
      }.toMap
      val got = Graph.triangleCounts(raw.toDF("a", "b"), "a", "b")
        .as[(Long, Long, Long)].collect()
      assert(got.map(_._1).toSet == nodes, "node coverage")
      got.foreach { case (v, d, t) =>
        assert(d == expDeg(v), s"degree($v)")
        assert(t == expTri(v), s"tri($v): got $t want ${expTri(v)}")
      }
    }
  }

  test("triangleCounts plans only equi-joins (no cartesian, no SMJ on legs)") {
    val df = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val plan = Graph.triangleCounts(df, "a", "b")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(1500))
  }

  test("non-convergence leaks no staging directories") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-stage").toString
    spark.conf.set("graft.stage.dir", dir)
    try {
      // the 4-chain needs >1 contraction round — maxIter=1 must throw.
      intercept[IllegalStateException] {
        Graph.connectedComponents(edges, "a", "b", maxIter = 1, localThreshold = 0)
      }
      val left = new java.io.File(dir).listFiles().toSeq.map(_.getName)
      assert(left.count(_.startsWith("stage_")) == 0, left.toString)
    } finally spark.conf.unset("graft.stage.dir")
  }

  test("pageRank matches the exact integer reference on seeded graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val scale = 1000000000L
    val base = scale * 3 / 20
    (1 to 4).foreach { _ =>
      val n = rnd.nextInt(20) + 5
      val raw = Seq.fill(rnd.nextInt(60) + 10)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val canon = raw.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .filter { case (a, b) => a != b }.distinct
      val deg = canon.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
      val vertices = (0L until n.toLong)
      // driver-side reference with IDENTICAL truncating integer arithmetic
      var r: Map[Long, Long] = deg.map { case (v, _) => v -> scale }.toMap
      (1 to 3).foreach { _ =>
        r = deg.map { case (v, _) =>
          val in = canon.collect { case (u, w) if w == v =>
            r(u) * 17L / (20L * deg(u)) }.sum
          v -> (base + in)
        }.toMap
      }
      val exp = vertices.map(v => v -> r.getOrElse(v, base)).toMap
      val got = Graph.pageRank(
        vertices.toDF("doc_id"), "doc_id", raw.toDF("a", "b"), "a", "b",
        iterations = 3, scale = scale)
        .as[(Long, Long)].collect().toMap
      assert(got.keySet == exp.keySet, "vertex coverage")
      got.foreach { case (v, pr) => assert(pr == exp(v), s"pr($v)") }
    }
  }

  test("pageRankDirected: hand-computed chain — direction, dangling leak, dup edges") {
    import spark.implicits._
    // 1→2→3 at scale 1000 (base 150), 2 iterations, computed by hand:
    //   r1 = (1:150, 2:1000, 3:1000); r2 = (1:150, 2:277, 3:1000).
    // Node 3 is DANGLING (outdeg 0): it accumulates but never emits —
    // the pinned mass leak. Node 4 is isolated → base. The duplicate
    // (1,2) edge and the self-loop (2,2) must not change anything.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 2L), (2L, 2L)).toDF("s", "t")
    val got = Graph.pageRankDirected(
      Seq(1L, 2L, 3L, 4L).toDF("doc_id"), "doc_id", edges, "s", "t",
      iterations = 2, scale = 1000L)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 150L, 2L -> 277L, 3L -> 1000L, 4L -> 150L), got)
  }

  test("pageRankDirected matches the exact integer reference on seeded digraphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val scale = 1000000L
    val base = scale * 3 / 20
    (1 to 4).foreach { _ =>
      val n = rnd.nextInt(20) + 5
      val raw = Seq.fill(rnd.nextInt(60) + 10)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val canon = raw.filter { case (a, b) => a != b }.distinct
      val odeg = canon.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
      val nodes = canon.flatMap { case (a, b) => Seq(a, b) }.distinct
      var r: Map[Long, Long] = nodes.map(_ -> scale).toMap
      (1 to 3).foreach { _ =>
        r = nodes.map { v =>
          val in = canon.collect { case (u, w) if w == v =>
            r(u) * 17L / (20L * odeg(u)) }.sum
          v -> (base + in)
        }.toMap
      }
      val exp = (0L until n.toLong).map(v => v -> r.getOrElse(v, base)).toMap
      val got = Graph.pageRankDirected(
        (0L until n.toLong).toDF("doc_id"), "doc_id",
        raw.toDF("a", "b"), "a", "b", iterations = 3, scale = scale)
        .as[(Long, Long)].collect().toMap
      assert(got.keySet == exp.keySet, "vertex coverage")
      got.foreach { case (v, pr) => assert(pr == exp(v), s"pr($v)") }
    }
  }

  test("pageRankDirected redistributes dangling mass exactly; conservation bound holds") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val scale = 1000000L
    val base = scale * 3 / 20
    (1 to 4).foreach { _ =>
      val n = rnd.nextInt(20) + 5
      // bias toward sinks: only even sources link out.
      val raw = Seq.fill(rnd.nextInt(60) + 10)(
        (rnd.nextInt(n).toLong / 2 * 2, rnd.nextInt(n).toLong))
      val canon = raw.filter { case (a, b) => a != b }.distinct
      val odeg = canon.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
      val nodes = canon.flatMap { case (a, b) => Seq(a, b) }.distinct
      val nn = nodes.size.toLong
      var r: Map[Long, Long] = nodes.map(_ -> scale).toMap
      (1 to 3).foreach { _ =>
        val dm = nodes.filter(v => !odeg.contains(v)).map(r).sum
        val sh = dm * 17L / (20L * nn)
        r = nodes.map { v =>
          val in = canon.collect { case (u, w) if w == v =>
            r(u) * 17L / (20L * odeg(u)) }.sum
          v -> (base + in + sh)
        }.toMap
      }
      val exp = (0L until n.toLong).map(v => v -> r.getOrElse(v, base)).toMap
      val got = Graph.pageRankDirected(
        (0L until n.toLong).toDF("doc_id"), "doc_id",
        raw.toDF("a", "b"), "a", "b", iterations = 3, scale = scale,
        redistributeDangling = true)
        .as[(Long, Long)].collect().toMap
      got.foreach { case (v, pr) => assert(pr == exp(v), s"pr($v)") }
      // conservation over the edge-incident nodes: exact arithmetic
      // would hold Σr = N·scale; truncation only LOSES, < 1 scaled
      // unit per division, (|E| + N) divisions per iteration.
      val tot = nodes.map(got).sum
      assert(tot <= nn * scale, "truncation can only lose mass")
      assert(nn * scale - tot < (canon.size + nn) * 3L,
        s"deficit ${nn * scale - tot} exceeds the truncation bound")
    }
  }

  test("hits: hand-computed wedge — update order, zero floor, dup/self edges") {
    import spark.implicits._
    // 1→3, 2→3, 3→4 at scale 10, ONE iteration, by hand:
    //   a1: a(3) = h0(1)+h0(2) = 20, a(4) = h0(3) = 10, a(1) = a(2) = 0;
    //   h1 (from the NEW authorities): h(1) = h(2) = a(3) = 20,
    //   h(3) = a(4) = 10, h(4) = 0.
    // The duplicate (1,3) and the self-loop (4,4) must change nothing;
    // the isolated vertex 9 holds (0, 0) — HITS has no teleport.
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L), (1L, 3L), (4L, 4L))
      .toDF("s", "t")
    val got = Graph.hits(Seq(1L, 2L, 3L, 4L, 9L).toDF("doc_id"), "doc_id",
      edges, "s", "t", iterations = 1, scale = 10L)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((20L, 0L)), 2L -> ((20L, 0L)), 3L -> ((10L, 20L)),
      4L -> ((0L, 10L)), 9L -> ((0L, 0L))), got)
  }

  test("hits matches the exact integer reference on seeded digraphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(83)
    (1 to 4).foreach { _ =>
      val n = rnd.nextInt(18) + 5
      val raw = Seq.fill(rnd.nextInt(50) + 10)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val canon = raw.filter { case (a, b) => a != b }.distinct
      val nodes = canon.flatMap { case (a, b) => Seq(a, b) }.distinct
      var h: Map[Long, Long] = nodes.map(_ -> 1000L).toMap
      var a: Map[Long, Long] = Map.empty
      (1 to 2).foreach { _ =>
        a = nodes.map(v => v -> canon.collect {
          case (u, w) if w == v => h(u) }.sum).toMap
        h = nodes.map(v => v -> canon.collect {
          case (u, w) if u == v => a(w) }.sum).toMap
      }
      val exp = (0L until n.toLong)
        .map(v => v -> ((h.getOrElse(v, 0L), a.getOrElse(v, 0L)))).toMap
      val got = Graph.hits((0L until n.toLong).toDF("doc_id"), "doc_id",
        raw.toDF("a", "b"), "a", "b", iterations = 2, scale = 1000L)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == exp)
    }
  }

  test("randomWalks matches the hash-choice reference; sinks stop; no walk from sinks") {
    import spark.implicits._
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val rnd = new scala.util.Random(101)
    (1 to 3).foreach { _ =>
      val n = rnd.nextInt(15) + 5
      val raw = Seq.fill(rnd.nextInt(40) + 10)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val canon = raw.filter { case (a, b) => a != b }.distinct
      val adj = canon.groupBy(_._1).map { case (s, es) =>
        s -> es.map(_._2).sorted }
      val steps = 3
      // driver-side reference with the IDENTICAL hash arithmetic.
      val exp = adj.keys.flatMap { start =>
        var cur = start
        val rest = (1 to steps).iterator.map { i =>
          adj.get(cur) match {
            case Some(nb) =>
              cur = nb((h60(s"walk:$start:$i") % nb.size).toInt)
              Some((start, i.toLong, cur))
            case None => None
          }
        }.takeWhile(_.isDefined).map(_.get).toList
        (start, 0L, start) :: rest
      }.toSet
      val got = Graph.randomWalks(raw.toDF("a", "b"), "a", "b", steps)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == exp, s"n=$n")
    }
  }

  test("randomWalks is deterministic across runs and keys on the walk, not the node") {
    import spark.implicits._
    // 1 and 4 both sit at node 2 after step 1 — their step-2 choices
    // hash on DIFFERENT walk ids, so crossing walks may diverge; the
    // contract is only that re-running reproduces bitwise.
    val edges = Seq((1L, 2L), (4L, 2L), (2L, 5L), (2L, 6L), (2L, 7L))
      .toDF("a", "b")
    val r1 = Graph.randomWalks(edges, "a", "b", steps = 2)
      .as[(Long, Long, Long)].collect().toSet
    val r2 = Graph.randomWalks(edges, "a", "b", steps = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(r1 == r2)
    // every walk from a non-sink start has its full step-0/1 prefix.
    assert(Set(1L, 4L, 2L).subsetOf(r1.filter(_._2 == 0L).map(_._1)))
  }

  test("biasedWalks at (1,1,1) degenerates bitwise to randomWalks") {
    import spark.implicits._
    val rnd = new scala.util.Random(202)
    val n = 20
    val raw = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val edges = raw.toDF("a", "b")
    val un = Graph.randomWalks(edges, "a", "b", steps = 3)
      .as[(Long, Long, Long)].collect().toSet
    val bi = Graph.biasedWalks(edges, "a", "b", steps = 3,
      wRet = 1L, wCommon = 1L, wOut = 1L)
      .as[(Long, Long, Long)].collect().toSet
    assert(bi == un, "all-equal weights must reproduce the unbiased pick")
  }

  test("biasedWalks matches the weighted-cumulative reference on random digraphs") {
    import spark.implicits._
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val (wRet, wCommon, wOut) = (1L, 6L, 3L)
    val rnd = new scala.util.Random(303)
    (1 to 3).foreach { _ =>
      val n = rnd.nextInt(12) + 5
      val raw = Seq.fill(rnd.nextInt(40) + 10)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val canon = raw.filter { case (a, b) => a != b }.distinct.toSet
      val adj = canon.groupBy(_._1).map { case (s, es) =>
        s -> es.map(_._2).toSeq.sorted }
      val steps = 3
      // driver-side reference: weight each sorted neighbor by the
      // node2vec CASE, pick at the cumulative position of hash mod W.
      val exp = adj.keys.flatMap { start =>
        var cur = start
        var prev = -1L // step 1 has no prev (no node id is negative)
        val rest = (1 to steps).iterator.map { i =>
          adj.get(cur) match {
            case Some(nb) =>
              val ws = nb.map { x =>
                if (x == prev) wRet
                else if (canon.contains((prev, x))) wCommon
                else wOut
              }
              val r = h60(s"walk:$start:$i") % ws.sum
              var acc = 0L; var pick = -1
              ws.indices.foreach { j =>
                if (pick < 0) { acc += ws(j); if (r < acc) pick = j }
              }
              prev = cur; cur = nb(pick)
              Some((start, i.toLong, cur))
            case None => None
          }
        }.takeWhile(_.isDefined).map(_.get).toList
        (start, 0L, start) :: rest
      }.toSet
      val got = Graph.biasedWalks(raw.toDF("a", "b"), "a", "b", steps,
        wRet, wCommon, wOut)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == exp, s"n=$n")
    }
  }

  test("biasedWalks: return weight steers the hop (a-priori 2-cycle)") {
    import spark.implicits._
    // walk 5 -> 2; node 2's sorted neighbors are [1, 5 (=prev)]; 1 is
    // NOT a neighbor of 5. r = h60('walk:5:2') mod 65 = 22 for BOTH
    // weightings (the hash keys on the walk, not the weights), so with
    // wRet = 64 the cumulative slices are [1, 65) -> returns to 5, and
    // with wOut = 64 they are [64, 65) -> explores to 1 — same hash,
    // opposite picks.
    val edges = Seq((5L, 2L), (2L, 5L), (2L, 1L)).toDF("a", "b")
    def at2(wRet: Long, wCommon: Long, wOut: Long): Long =
      Graph.biasedWalks(edges, "a", "b", steps = 2, wRet, wCommon, wOut)
        .filter("start = 5 AND step = 2").as[(Long, Long, Long)]
        .head()._3
    assert(at2(64L, 1L, 1L) == 5L, "heavy return weight must go back")
    assert(at2(1L, 1L, 64L) == 1L, "heavy explore weight must move on")
  }

  test("multi-walk: numWalks = 1 reproduces the single-walk functions bitwise") {
    import spark.implicits._
    val rnd = new scala.util.Random(404)
    val raw = Seq.fill(60)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
    val edges = raw.toDF("a", "b")
    val un = Graph.randomWalks(edges, "a", "b", steps = 3)
      .as[(Long, Long, Long)].collect().toSet
    val unM = Graph.randomWalksMulti(edges, "a", "b", steps = 3, numWalks = 1)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(unM.forall(_._2 == 0L))
    assert(unM.map(r => (r._1, r._3, r._4)) == un)
    val bi = Graph.biasedWalks(edges, "a", "b", steps = 3, 1L, 6L, 3L)
      .as[(Long, Long, Long)].collect().toSet
    val biM = Graph.biasedWalksMulti(edges, "a", "b", steps = 3, 1L, 6L, 3L,
      numWalks = 1)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(biM.map(r => (r._1, r._3, r._4)) == bi)
  }

  test("multi-walk: walk w >= 1 seeds on start#w — matches the reference; walks genuinely diverge") {
    import spark.implicits._
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val (wRet, wCommon, wOut) = (1L, 6L, 3L)
    val rnd = new scala.util.Random(505)
    val n = 14
    val raw = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val canon = raw.filter { case (a, b) => a != b }.distinct.toSet
    val adjR = canon.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._2).toSeq.sorted }
    val steps = 3
    val numWalks = 3
    val exp = (for {
      start <- adjR.keys
      w <- 0 until numWalks
    } yield {
      val sk = if (w == 0) s"$start" else s"$start#$w"
      var cur = start
      var prev = -1L
      val rest = (1 to steps).iterator.map { i =>
        adjR.get(cur) match {
          case Some(nb) =>
            val ws = nb.map { x =>
              if (x == prev) wRet
              else if (canon.contains((prev, x))) wCommon
              else wOut
            }
            val r = h60(s"walk:$sk:$i") % ws.sum
            var acc = 0L; var pick = -1
            ws.indices.foreach { j =>
              if (pick < 0) { acc += ws(j); if (r < acc) pick = j }
            }
            prev = cur; cur = nb(pick)
            Some((start, w.toLong, i.toLong, cur))
          case None => None
        }
      }.takeWhile(_.isDefined).map(_.get).toList
      (start, w.toLong, 0L, start) :: rest
    }).flatten.toSet
    val got = Graph.biasedWalksMulti(raw.toDF("a", "b"), "a", "b", steps,
      wRet, wCommon, wOut, numWalks)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == exp)
    // the walks are genuinely independent: at least one start's three
    // walks visit different step-1 nodes (the fixture is dense enough).
    val byStart = got.filter(_._3 == 1L).groupBy(_._1)
      .map { case (_, rs) => rs.map(_._4).size }
    assert(byStart.exists(_ > 1), "all walk indexes collapsed — seeds broken")
  }

  test("incrementalTriangles ≡ full recompute on randomized edge splits") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 40
      val all = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // batch deliberately overlaps prev (duplicate folds must be no-ops)
      val (prevRaw, batchRaw) = all.splitAt(100)
      val batch = batchRaw ++ prevRaw.take(10)
      val prevEdges = Graph.canonicalEdges(prevRaw.toDF("a", "b"), "a", "b")
      val prev = Graph.triangleCounts(prevRaw.toDF("a", "b"), "a", "b")
      val inc = Graph.incrementalTriangles(prev, prevEdges,
        batch.toDF("src", "dst"))
        .as[(Long, Long, Long)].collect().toSet
      val full = Graph.triangleCounts((prevRaw ++ batch).toDF("a", "b"), "a", "b")
        .as[(Long, Long, Long)].collect().toSet
      assert(inc == full, s"trial $trial diverged")
    }
  }

  test("incrementalTriangles: batch broadcasts, adjacency never shuffles for the wedge joins") {
    import spark.implicits._
    val prevRaw = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val prevEdges = Graph.canonicalEdges(prevRaw, "a", "b")
    val prev = Graph.triangleCounts(prevRaw, "a", "b")
    val plan = Graph.incrementalTriangles(prev, prevEdges,
      Seq((2L, 4L)).toDF("src", "dst"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // both wedge joins build the (delta-sized) broadcast side
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("pageRankRefresh ≡ full recompute on randomized edge splits") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    for (trial <- 1 to 3) {
      val n = 30
      val all = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val (prevRaw, batchRaw) = all.splitAt(60)
      // overlap, stored edges reversed, and a brand-new node only the
      // batch knows about
      val batch = batchRaw ++ prevRaw.take(5) ++ prevRaw.take(5).map(_.swap) :+
        (100L, rnd.nextInt(n).toLong)
      val vertices = ((0L until n.toLong) :+ 100L).toDF("doc_id")
      val st = Graph.pageRankState(prevRaw.toDF("a", "b"), "a", "b",
        iterations = 3, scale = 1000000000L)
      val inc = Graph.pageRankRefresh(vertices, "doc_id", st,
        batch.toDF("src", "dst"), "src", "dst")
        .as[(Long, Long)].collect().toSet
      val full = Graph.pageRank(vertices, "doc_id",
        (prevRaw ++ batch).toDF("a", "b"), "a", "b",
        iterations = 3, scale = 1000000000L)
        .as[(Long, Long)].collect().toSet
      assert(inc == full, s"trial $trial diverged")
    }
  }

  test("pageRankState: stored history ≡ one-shot pageRank per iteration, on both paths") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    for (trial <- 1 to 2) {
      val n = 30
      val raw = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // duplicates, both orientations of the same pair, and self-loops.
      val edges = raw ++ raw.take(6) ++ raw.slice(6, 12).map(_.swap) ++ Seq((2L, 2L), (9L, 9L))
      val symRows = edges.filter(e => e._1 != e._2).flatMap(e => Seq(e, e.swap))
      val degree = symRows.distinct.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val held = Graph.pageRankState(edges.toDF("a", "b"), "a", "b")
      val dist = Graph.pageRankDirectedState(symRows.toDF("s", "d"), "s", "d",
        localThreshold = 0)
      assert(held.local.nonEmpty && dist.local.isEmpty)
      val vertices = degree.keys.toSeq.toDF("doc_id")
      val oneShot = (1 to 3).map(i => Graph.pageRank(vertices, "doc_id",
        edges.toDF("a", "b"), "a", "b", iterations = i).as[(Long, Long)].collect().toMap)
      val want = degree.keys.map(v => (v, degree(v), oneShot.map(_(v)).mkString(","))).toSet
      for ((st, path) <- Seq(held -> "driver", dist -> "distributed"))
        assert(directedRows(st) == want, s"trial $trial: $path history diverged")
    }
  }

  test("pageRankDirectedRefresh ≡ full directed recompute on randomized splits") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val n = 30
      val all = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val (prevRaw, batchRaw) = all.splitAt(60)
      // overlap, a brand-new source, and a brand-new dst-only node
      val batch = batchRaw ++ prevRaw.take(5) :+
        (100L, rnd.nextInt(n).toLong) :+ (rnd.nextInt(n).toLong, 101L)
      val vertices = ((0L until n.toLong) :+ 100L :+ 101L).toDF("doc_id")
      val st = Graph.pageRankDirectedState(prevRaw.toDF("a", "b"), "a", "b",
        iterations = 3, scale = 1000000000L)
      val inc = Graph.pageRankDirectedRefresh(vertices, "doc_id", st,
        batch.toDF("src", "dst"), "src", "dst")
        .as[(Long, Long)].collect().toSet
      val full = Graph.pageRankDirected(vertices, "doc_id",
        (prevRaw ++ batch).toDF("a", "b"), "a", "b",
        iterations = 3, scale = 1000000000L)
        .as[(Long, Long)].collect().toSet
      assert(inc == full, s"trial $trial diverged")
    }
  }

  test("pageRankDirectedRefreshState: chained folds ≡ fresh state, bitwise") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val n = 25
    val all = Seq.fill(90)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val (seed, rest) = all.splitAt(40)
    val (b1, b2) = rest.splitAt(25)
    var st = Graph.pageRankDirectedState(seed.toDF("a", "b"), "a", "b",
      iterations = 3, scale = 1000000000L)
    st = Graph.pageRankDirectedRefreshState(st, b1.toDF("a", "b"), "a", "b")
    st = Graph.pageRankDirectedRefreshState(st, b2.toDF("a", "b"), "a", "b")
    val fresh = Graph.pageRankDirectedState(all.toDF("a", "b"), "a", "b",
      iterations = 3, scale = 1000000000L)
    def rows(s: Graph.PageRankDirectedState) =
      s.ranks.select(col("node"), col("degree"),
        expr("array_join(transform(rs, x -> CAST(x AS STRING)), ',')"))
        .as[(Long, Long, String)].collect().toSet
    assert(rows(st) == rows(fresh), "fold diverged from fresh build")
    // an empty batch folds to the identical state
    val st2 = Graph.pageRankDirectedRefreshState(st,
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(rows(st2) == rows(st))
  }

  private def edgeRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("s"), col("d")).as[(Long, Long)].collect().sorted.toSeq

  private def directedRows(s: Graph.PageRankDirectedState) =
    s.ranks.select(col("node"), col("degree"),
      expr("array_join(transform(rs, x -> CAST(x AS STRING)), ',')"))
      .as[(Long, Long, String)].collect().toSet

  test("pageRankDirectedState: driver path ≡ distributed path, bitwise, through refresh and fold") {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 2) {
      val n = 40
      // ids in [n, n + 10) are only ever dsts; duplicates and self-loops
      // must drop on both paths.
      val base = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n + 10).toLong))
      val seed = base ++ base.take(5) ++ Seq((3L, 3L), (7L, 7L))
      var local = Graph.pageRankDirectedState(seed.toDF("a", "b"), "a", "b")
      var dist = Graph.pageRankDirectedState(seed.toDF("a", "b"), "a", "b",
        localThreshold = 0)
      assert(local.local.nonEmpty && dist.local.isEmpty)
      assert(directedRows(local) == directedRows(dist), s"trial $trial: state diverged")
      // a brand-new source, a brand-new dst, a stored duplicate and a
      // self-loop; then a ball-sized batch around those two nodes, whose
      // stored edges now sit only in the first fold's staged delta; then
      // a batch grown past the dense handoff. The folds chain, and the
      // distributed side must stay distributed through all three.
      val newSrc = 200L + trial
      val newDst = 300L + trial
      val small = Seq((newSrc, rnd.nextInt(n).toLong), (rnd.nextInt(n).toLong, newDst),
        seed.head, (5L, 5L))
      val chained = Seq((newSrc, newDst), (newDst, rnd.nextInt(n).toLong),
        (rnd.nextInt(n).toLong, newSrc))
      val large = small ++ Seq.fill(40)((rnd.nextInt(n).toLong, rnd.nextInt(n + 10).toLong))
      val vertices = ((0L until (n + 10).toLong) ++ Seq(newSrc, newDst, 999L)).toDF("doc_id")
      for ((batch, name) <- Seq(small -> "small", chained -> "chained", large -> "large")) {
        def refresh(st: Graph.PageRankDirectedState) =
          Graph.pageRankDirectedRefresh(vertices, "doc_id", st,
            batch.toDF("src", "dst"), "src", "dst").as[(Long, Long)].collect().toSet
        assert(refresh(local) == refresh(dist), s"trial $trial $name: refresh diverged")
        val foldedLocal = Graph.pageRankDirectedRefreshState(local,
          batch.toDF("src", "dst"), "src", "dst")
        val foldedDist = Graph.pageRankDirectedRefreshState(dist,
          batch.toDF("src", "dst"), "src", "dst")
        assert(foldedLocal.local.nonEmpty && foldedDist.local.isEmpty)
        assert(directedRows(foldedLocal) == directedRows(foldedDist),
          s"trial $trial $name: fold diverged")
        // the driver side's edge relations come from the grown copy, the
        // distributed side's from its staged layouts and deltas.
        for ((side, rel) <- Seq[(String, Graph.PageRankDirectedState => org.apache.spark.sql.DataFrame)](
            "edgesBySrc" -> (_.edgesBySrc), "edgesByDst" -> (_.edgesByDst)))
          assert(edgeRows(rel(foldedLocal)) == edgeRows(rel(foldedDist)),
            s"trial $trial $name: $side diverged")
        local = foldedLocal
        dist = foldedDist
      }
    }
  }

  test("pageRankDirectedState: threshold + 1 edges take the distributed path; a fold past it drops the copy") {
    // 12 distinct loop-free edges; a self-loop drops before the bound counts.
    val ring = (0L until 12L).map(i => (i, (i + 1) % 12))
    val held = Graph.pageRankDirectedState((ring :+ ((4L, 4L))).toDF("a", "b"), "a", "b",
      localThreshold = 12)
    assert(held.local.map(_.edgeCount).contains(12))
    // 13 loop-free rows — a 13th edge, or a duplicate — exceed the bound.
    for (extra <- Seq((0L, 6L), ring.head))
      assert(Graph.pageRankDirectedState((ring :+ extra).toDF("a", "b"), "a", "b",
        localThreshold = 12).local.isEmpty)
    // the fold keeps the bound the state was built under.
    val folded = Graph.pageRankDirectedRefreshState(held,
      Seq((0L, 6L)).toDF("a", "b"), "a", "b")
    assert(folded.local.isEmpty)
    val fresh = Graph.pageRankDirectedState((ring :+ ((0L, 6L))).toDF("a", "b"), "a", "b",
      localThreshold = 0)
    assert(directedRows(folded) == directedRows(fresh))
  }

  test("x_linkgraph_rank_incremental: the driver-held state pins its Spark jobs") {
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
    // build + collect of the registry query. The distributed state build
    // and its probing refresh started 38 jobs on this spec, and a
    // driver-held state that staged its relations and spliced through
    // them 11.
    val (out, jobs) = jobsDuring(
      SparkEntry.queries("x_linkgraph_rank_incremental")(spark, sf("sf0.001")).collect())
    assert(out.length == docs.count())
    assert(jobs == 8, s"build + collect started $jobs Spark jobs")
    // a build under the bound starts only its edge collect; a refresh of
    // a driver-held state starts no job beyond its batch collect (one
    // scan, no shuffle); neither does a fold.
    val (st, buildJobs) = jobsDuring(Graph.pageRankDirectedState(
      docs.select(col("doc_id").as("s"), expr("(doc_id * 3 + 1) % 512").as("d")), "s", "d"))
    assert(st.local.nonEmpty)
    assert(buildJobs == 1, s"build started $buildJobs jobs")
    val batch = docs.filter(col("doc_id") % 29 === 0)
      .select(col("doc_id").as("s"), expr("(doc_id * 5 + 2) % 512").as("d"))
    val (_, refreshJobs) = jobsDuring(
      Graph.pageRankDirectedRefresh(docs, "doc_id", st, batch, "s", "d"))
    assert(refreshJobs == 1, s"refresh started $refreshJobs jobs")
    val (_, foldJobs) = jobsDuring(
      Graph.pageRankDirectedRefreshState(st, batch, "s", "d"))
    assert(foldJobs == 1, s"fold started $foldJobs jobs")
    // the undirected pair over the same toy graph holds a driver copy
    // too, so it starts the same jobs. Its former separate state, which
    // always probed parquet, started 11 jobs for this refresh and 20 for
    // this fold.
    val und = Graph.pageRankState(
      docs.select(col("doc_id").as("s"), expr("(doc_id * 3 + 1) % 512").as("d")), "s", "d")
    assert(und.local.nonEmpty)
    val (_, undRefreshJobs) = jobsDuring(
      Graph.pageRankRefresh(docs, "doc_id", und, batch, "s", "d"))
    assert(undRefreshJobs == 1, s"undirected refresh started $undRefreshJobs jobs")
    val (_, undFoldJobs) = jobsDuring(Graph.pageRankRefreshState(und, batch, "s", "d"))
    assert(undFoldJobs == 1, s"undirected fold started $undFoldJobs jobs")
  }

  test("a driver-held state stages nothing until a relation is read") {
    // a 200-node ring with chords: a one-edge batch's ball stays small.
    val rnd = new scala.util.Random(41)
    val ring = (0L until 200L).map(i => (i, (i + 1) % 200)) ++
      Seq.fill(30)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
    val batch = Seq((3L, 150L)).toDF("s", "d")
    val vertices = (0L until 210L).toDF("doc_id")
    val dir = java.nio.file.Files.createTempDirectory("graft-prheld").toFile
    def stageDirs() = dir.listFiles().count(_.getName.startsWith("stage_"))
    spark.conf.set("graft.stage.dir", dir.toString)
    try {
      val st = Graph.pageRankDirectedState(ring.toDF("s", "d"), "s", "d")
      assert(st.local.nonEmpty)
      val out = Graph.pageRankDirectedRefresh(vertices, "doc_id", st, batch, "s", "d")
        .as[(Long, Long)].collect()
      assert(out.length == 210)
      val folded = Graph.pageRankDirectedRefreshState(st.copy(), batch, "s", "d")
      assert(folded.local.nonEmpty)
      assert(stageDirs() == 0, "an unread driver-held state staged a relation")
      // the first read stages that relation, and only that one.
      val nodes = folded.ranks.count()
      assert(nodes == folded.local.get.nodes.length)
      assert(stageDirs() == 1)
    } finally {
      spark.conf.unset("graft.stage.dir")
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("pageRankRefresh: empty batch returns stored ranks; no broadcast HINT on the corpus attach") {
    import spark.implicits._
    val vertices = (0L to 50L).toDF("doc_id")
    val prevRaw = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val st = Graph.pageRankState(prevRaw, "a", "b")
    val refreshed = Graph.pageRankRefresh(vertices, "doc_id", st,
      Seq((1L, 2L)).toDF("src", "dst"), "src", "dst") // already present
    val full = Graph.pageRank(vertices, "doc_id", prevRaw, "a", "b")
      .as[(Long, Long)].collect().toSet
    assert(refreshed.as[(Long, Long)].collect().toSet == full)
    // round 11: the spliced `merged` relation is CORPUS-sized (every
    // stored node rides through it), so the final node attach carries no
    // broadcast hint — forcing one built a 5M-row broadcast at the
    // 10M-edge lattice and was most of the refresh wall. The planner may
    // still pick a broadcast at this toy scale from stats; the pinned
    // property is that the logical plan carries no ResolvedHint on it.
    val hinted = refreshed.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
          if h.output.exists(_.name == "r") => h
    }
    assert(hinted.isEmpty, s"corpus-sized merged must not be hint-broadcast: $hinted")
  }

  test("personalizedPageRank matches the exact seeded integer reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val scale = 1000000000L
    val base = scale * 3 / 20
    (1 to 3).foreach { _ =>
      val n = rnd.nextInt(16) + 6
      val raw = Seq.fill(rnd.nextInt(50) + 10)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val canon = raw.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .filter { case (a, b) => a != b }.distinct
      val deg = canon.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
      val seedSet = (0L until n.toLong).filter(_ % 3 == 0).toSet
      def sb(v: Long, full: Long) = if (seedSet.contains(v)) full else 0L
      var r: Map[Long, Long] = deg.map { case (v, _) => v -> sb(v, scale) }.toMap
      (1 to 3).foreach { _ =>
        r = deg.map { case (v, _) =>
          val in = canon.collect { case (u, w) if w == v =>
            r(u) * 17L / (20L * deg(u)) }.sum
          v -> (sb(v, base) + in)
        }.toMap
      }
      val exp = (0L until n.toLong).map(v => v -> r.getOrElse(v, sb(v, base))).toMap
      val got = Graph.personalizedPageRank(
        (0L until n.toLong).toDF("doc_id"), "doc_id",
        raw.toDF("a", "b"), "a", "b",
        seedSet.toSeq.toDF("doc_id"), iterations = 3, scale = scale)
        .as[(Long, Long)].collect().toMap
      assert(got.keySet == exp.keySet, "vertex coverage")
      got.foreach { case (v, pr) => assert(pr == exp(v), s"ppr($v)") }
      // locality theorem of the seeded fixed-iteration form: a node more
      // than `iterations` hops from every seed holds exactly zero mass
      // (implied by the exact equality above; asserted for the doc).
      var reach = seedSet
      (1 to 3).foreach { _ =>
        reach = reach ++ canon.collect { case (u, w) if reach.contains(u) => w }
      }
      got.foreach { case (v, pr) =>
        if (!reach.contains(v) && !seedSet.contains(v))
          assert(pr == 0L, s"node $v outside the seed ball must hold 0")
      }
    }
  }

  test("pageRank: corpus joins once, by broadcast (no corpus shuffle)") {
    import spark.implicits._
    val vs = (0L to 100L).toDF("doc_id")
    val es = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val plan = Graph.pageRank(vs, "doc_id", es, "a", "b")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    // The vertex relation must attach to ranks via ONE BroadcastHashJoin
    // with the (subgraph-sized) rank relation on the build side — the
    // corpus never shuffles. Iteration-internal joins are subgraph-sized
    // on BOTH sides, so whatever strategy Spark picks there is fine.
    assert(plan.contains("BroadcastHashJoin [__v#"), plan.take(1500))
  }

  test("labelPropagation matches the synchronous brute-force rounds; oscillation pinned") {
    import spark.implicits._
    def brute(canon: Set[(Long, Long)], rounds: Int): Map[Long, Long] = {
      val adj = (canon.toSeq ++ canon.toSeq.map(p => (p._2, p._1)))
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
      var lbl = adj.keys.map(v => v -> v).toMap
      (1 to rounds).foreach { _ =>
        lbl = adj.map { case (v, ns) =>
          val counts = ns.map(lbl).groupBy(identity)
            .map { case (l, ls) => l -> ls.size }
          // most frequent neighbor label, ties to the smallest label.
          v -> counts.toSeq.map { case (l, c) => (-c, l) }.min._2
        }
      }
      lbl
    }
    val rnd = new scala.util.Random(31)
    (1 to 4).foreach { _ =>
      val n = rnd.nextInt(16) + 8
      val raw = Seq.fill(rnd.nextInt(50) + 10)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val canon = raw.map { case (a, b) => (a min b, a max b) }
        .filter { case (a, b) => a != b }.toSet
      for (it <- Seq(1, 3, 4)) {
        val got = Graph.labelPropagation(raw.toDF("a", "b"), "a", "b", it)
          .as[(Long, Long)].collect().toMap
        assert(got == brute(canon, it), s"it=$it canon=$canon")
      }
    }

    // the community-vs-component distinction: two 4-cliques joined by ONE
    // bridge settle to two communities by round 3 (CC would merge them).
    val cliquePairs = for {
      h <- Seq(0L, 4L); i <- 0 until 3; j <- i + 1 until 4
    } yield (h + i, h + j)
    val bridged = cliquePairs :+ (3L, 4L)
    val lpa = Graph.labelPropagation(bridged.toDF("a", "b"), "a", "b", 4)
      .as[(Long, Long)].collect().toMap
    assert(lpa == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 4L), lpa.toString)
    val cc = Graph.connectedComponents(bridged.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet.size == 1, "CC must merge the bridged cliques")

    // synchronous LPA on a single edge oscillates with period 2 forever —
    // the documented reason the iteration count is part of the contract.
    def two(it: Int) = Graph.labelPropagation(
      Seq((0L, 1L)).toDF("a", "b"), "a", "b", it)
      .as[(Long, Long)].collect().toMap
    assert(two(1) == Map(0L -> 1L, 1L -> 0L) && two(2) == Map(0L -> 0L, 1L -> 1L),
      "2-node oscillation is the pinned synchronous-update semantics")
  }

  test("walkSkipGrams: pair counts closed-form on a forced path; sink-shortened walks contribute their span") {
    import spark.implicits._
    // the path 1→2→3→4 forces every walk (out-degree 1 throughout), so
    // the walk set is a-priori: start 1 → [1,2,3,4]; start 2 → [2,3,4]
    // (stops at the sink); start 3 → [3,4]. Node 4 is a sink — no walk.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val walks = Graph.randomWalksMulti(edges, "s", "d", steps = 3, numWalks = 1)
    val got = Graph.walkSkipGrams(walks, window = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => ((r._1, r._2, r._3), r._4)).toMap
    // closed form: enumerate pairs of each walk by hand.
    def pairsOf(w: Seq[Long]): Seq[(Long, Long, Long)] =
      for {
        i <- w.indices; j <- w.indices
        if i != j && math.abs(i - j) <= 2
      } yield (w(i), w(j), math.abs(i - j).toLong)
    val want = (pairsOf(Seq(1L, 2L, 3L, 4L)) ++ pairsOf(Seq(2L, 3L, 4L)) ++
      pairsOf(Seq(3L, 4L)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == want, s"got $got want $want")
    // spot anchors: total pair mass 10 + 6 + 2; (3, 4, 1) rides all
    // three walks; the window bound excludes (1, 4) at distance 3.
    assert(got.values.sum == 18L)
    assert(got((3L, 4L, 1L)) == 3L)
    assert(!got.contains((1L, 4L, 3L)))
  }
}
