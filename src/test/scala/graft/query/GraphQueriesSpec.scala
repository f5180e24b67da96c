package graft.query

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphQueriesSpec extends SparkSpec {
  import spark.implicits._

  // fixture: 4 links, 2 categories, 3 keywords
  //   l1(cat A): k1, k2     l2(cat B): k1      l3(cat A): k2     l4(cat B): k3
  private lazy val hasKeyword = Seq(
    ("l1", "k1"), ("l1", "k2"), ("l2", "k1"), ("l3", "k2"), ("l4", "k3")
  ).toDF("src", "dst")
  private lazy val belongsTo = Seq(
    ("l1", "A"), ("l2", "B"), ("l3", "A"), ("l4", "B")).toDF("src", "dst")

  test("interconnections (J3): cross-category shared-keyword pairs, canonical") {
    val out = GraphQueries.interconnections(hasKeyword, belongsTo)
      .as[(String, String, String, String, String)].collect().toSeq
    // l1-l2 share k1 across A/B; l1-l3 share k2 but same category -> excluded
    assert(out == Seq(("l1", "A", "l2", "B", "k1")))
  }

  test("interconnections: unordered variant emits both directions") {
    val out = GraphQueries.interconnections(hasKeyword, belongsTo, canonicalPairs = false)
    assert(out.count() == 2) // (l1,l2) and (l2,l1)
  }

  test("interconnections top-k: self pairs, multiplicity, nulls and limit 0") {
    // l1 is filed under A and B; l2's keyword edge is stored twice
    val hk = Seq[(String, String)](("l1", "k"), ("l2", "k"), ("l2", "k"),
      (null, "k"), ("l3", null)).toDF("src", "dst")
    val bt = Seq[(String, String)](("l1", "A"), ("l1", "B"), ("l2", "B"),
      ("l3", "A"), ("l2", null)).toDF("src", "dst")
    val out = GraphQueries.interconnections(hk, bt, canonicalPairs = false)
      .as[(String, String, String, String, String)].collect().toSeq
    assert(out == Seq(("l1", "A", "l2", "B", "k"), ("l1", "A", "l2", "B", "k"),
      ("l2", "B", "l1", "A", "k"), ("l2", "B", "l1", "A", "k")))
    // both copies of a duplicated url1 pair with l2 before either pairs
    // with l4: the cut at 2 keeps (l1, l2) twice
    val dup = Seq(("l1", "k"), ("l1", "k"), ("l2", "k"), ("l4", "k")).toDF("src", "dst")
    val cut = GraphQueries.interconnections(dup, bt.union(Seq(("l4", "B")).toDF("src", "dst")),
      limit = 2).as[(String, String, String, String, String)].collect().toSeq
    assert(cut == Seq(("l1", "A", "l2", "B", "k"), ("l1", "A", "l2", "B", "k")))
    val none = GraphQueries.interconnections(hk, bt, limit = 0)
    assert(none.collect().isEmpty)
    assert(none.schema.fieldNames.toSeq ==
      Seq("url1", "category1", "url2", "category2", "shared_keyword"))
  }

  test("interconnections is invariant under input row order") {
    val shuffled = hasKeyword.orderBy(rand(7))
    val a = GraphQueries.interconnections(hasKeyword, belongsTo).collect().toSeq
    val b = GraphQueries.interconnections(shuffled, belongsTo).collect().toSeq
    assert(a == b)
  }

  test("orphans (J5): dimension nodes with no inbound edge") {
    val dims = Seq("A", "B", "C").toDF("name")
    val out = GraphQueries.orphans(dims, belongsTo).as[String].collect().toSeq
    assert(out == Seq("C"))
  }

  test("existing/novel (J4) partition the incoming batch") {
    val incoming = Seq("l1", "l9").toDF("url")
    val store = Seq("l1", "l2").toDF("url")
    assert(GraphQueries.existing(incoming, store, "url").as[String].collect().toSeq == Seq("l1"))
    assert(GraphQueries.novel(incoming, store, "url").as[String].collect().toSeq == Seq("l9"))
  }

  test("keywordDistribution (A5) sorts by count desc then name") {
    val out = GraphQueries.keywordDistribution(hasKeyword)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("k1", 2L), ("k2", 2L), ("k3", 1L)))
  }

  test("duplicateIds (A6) flags multiplicity > 1") {
    val df = Seq("a", "a", "b").toDF("id")
    val out = GraphQueries.duplicateIds(df, "id").as[(String, Long)].collect().toSeq
    assert(out == Seq(("a", 2L)))
  }

  test("viz projection (G4) prefixes ids by label and unions") {
    val links = Seq(("l1", "Title1")).toDF("url", "title")
    val cats = Seq("A").toDF("name")
    val kws = Seq("k1").toDF("name")
    val nodes = GraphQueries.vizNodes(links, cats, kws)
      .as[(String, String, String)].collect().toSet
    assert(nodes == Set(
      ("Link:l1", "Title1", "Link"),
      ("Category:A", "A", "Category"),
      ("Keyword:k1", "k1", "Keyword")))
    val edges = GraphQueries.vizEdges(belongsTo.limit(1), hasKeyword.limit(1))
      .as[(String, String)].collect().toSet
    assert(edges == Set(("Link:l1", "Category:A"), ("Link:l1", "Keyword:k1")))
  }

  test("golden end-to-end: metadata CSV fixture -> graph -> flagship query") {
    // mirrors the reference pipeline shape: 7-col metadata -> staged
    // graph -> interconnections (README.md:23 reason-to-exist)
    val meta = Seq(
      ("https://a.com", "A site", "x" * 150, "Tech", "spark, graphs", "", ""),
      ("https://b.com", "B site", "y" * 150, "Science", "graphs, ml", "", ""),
      ("https://c.com", "C site", "z" * 150, "Tech", "ml", "", ""),
      ("https://d.com", "D site", "short", "Tech", "spark", "", "") // filtered: short
    ).toDF("url", "title", "content", "category", "keyword",
      "category_explanation", "keyword_explanation")
    val staged = graft.etl.Staging.stageMetadata(
      graft.etl.Staging.validRows(meta))
    val out = GraphQueries.interconnections(staged.hasKeyword, staged.belongsTo)
      .as[(String, String, String, String, String)].collect().toSeq
    assert(out == Seq(
      ("https://a.com", "Tech", "https://b.com", "Science", "graphs"),
      ("https://b.com", "Science", "https://c.com", "Tech", "ml")))
  }

  test("kHopNeighborhood: min hop distance, bounded by k, cycles safe") {
    // a→b→c→d plus shortcut a→c and a back-edge d→a (cycle)
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("d", "a"))
      .toDF("src", "dst")
    val out = GraphQueries.kHopNeighborhood(e, Seq("a").toDF("n"), k = 2)
      .orderBy("node").as[(String, Long)].collect().toSeq
    // c is reachable in 1 (shortcut) — min distance, not path count;
    // d is 2 hops via c; the d→a cycle must not re-add a
    assert(out == Seq(("a", 0L), ("b", 1L), ("c", 1L), ("d", 2L)))
    // k = 0 is just the seed set
    assert(GraphQueries.kHopNeighborhood(e, Seq("a").toDF("n"), k = 0)
      .as[(String, Long)].collect().toSeq == Seq(("a", 0L)))
  }

  test("kCore: triangle+tail peels the tail; chain dissolves entirely") {
    // triangle a-b-c (undirected via directed edges) with a tail c→d:
    // 2-core = the triangle; d (deg 1) peels in round 1
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")).toDF("src", "dst")
    val core = GraphQueries.kCore(e, k = 2)
      .orderBy("node").as[(String, Long)].collect().toSeq
    assert(core == Seq(("a", 2L), ("b", 2L), ("c", 2L)))
    // a pure chain has no 2-core: peeling cascades from both ends —
    // this NEEDS multiple rounds, so it exercises the fixpoint loop
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")).toDF("src", "dst")
    assert(GraphQueries.kCore(chain, k = 2).count() == 0)
    // a single fixed round only strips the endpoints
    assert(GraphQueries.kCorePeel(chain, k = 2, rounds = 1)
      .orderBy("node").as[(String, Long)].collect().toSeq ==
      Seq(("b", 1L), ("c", 2L), ("d", 1L)))
  }

  test("kTrussPeel: K4 survives a 4-truss, attached triangles and chords peel") {
    // K4 on {1,2,3,4} (every edge in 2 triangles) + a pendant
    // triangle {4,5,6} + a triangle {3,4,7} sharing K4's (3,4) edge +
    // chord (1,5) closing {1,4,5} (gives (4,5) support 2 in round 1 —
    // the CASCADE case: it only dies in round 2 after its triangles'
    // other edges peel) + a genuinely triangle-free edge (1,8).
    // 4-truss (support >= 2): exactly the K4, supports recounted = 2.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val extra = Seq((4L, 5L), (4L, 6L), (5L, 6L), (3L, 7L), (4L, 7L),
      (1L, 5L), (1L, 8L))
    // feed some edges reversed to exercise canonicalization
    val e = (k4 ++ extra).map { case (a, b) if a % 2 == 0 => (b, a); case p => p }
      .toDF("src", "dst")
    val out = GraphQueries.kTrussPeel(e, k = 4, rounds = 2)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out == k4.map { case (a, b) => (a, b, 2L) }, out.mkString(", "))
    // k = 3 (support >= 1) keeps every triangle edge, drops only (1,8)
    val t3 = GraphQueries.kTrussPeel(e, k = 3, rounds = 2)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(t3 == (k4 ++ extra.init).toSet, t3.toString)
  }

  test("degreeAssortativity: star is maximally disassortative, symmetrization matters") {
    // star 1-{2,3,4,5}: every edge joins deg 4 to deg 1 → r = -1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("src", "dst")
    val rs = GraphQueries.degreeAssortativity(star)
      .as[(Long, Double)].head()
    assert(rs == ((4L, -1.0)), rs.toString)
    // two disjoint edges: all degrees 1 → zero variance → r null
    val reg = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    val rr = GraphQueries.degreeAssortativity(reg)
      .select($"r").as[Option[Double]].head()
    assert(rr.isEmpty, s"degree-regular graph must yield null r, got $rr")
  }

  test("temporalReachability: stale edges are not traversable, earliest arrival wins") {
    // a→b at t=5 (also a slower t=10 copy), b→c at t=3 (BEFORE arrival
    // at b — static reachability would claim c), b→d at t=7
    val e = Seq(("a", "b", 5L), ("a", "b", 10L), ("b", "c", 3L),
      ("b", "d", 7L)).toDF("src", "dst", "t")
    val out = GraphQueries.temporalReachability(e, "a", 0L, rounds = 3)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(("a", 0L), ("b", 5L), ("d", 7L)), out.mkString(", "))
  }

  test("butterflyCounts: C(shared,2) per pair, rolled up per vertex") {
    // s1,s2 share parts {p1,p2,p3} → C(3,2)=3 butterflies;
    // s1,s3 share {p1,p2} → 1; s2,s3 share {p1,p2} → 1;
    // s4 shares only p9 with nobody → absent
    val e = Seq(
      (1L, 101L), (1L, 102L), (1L, 103L),
      (2L, 101L), (2L, 102L), (2L, 103L),
      (3L, 101L), (3L, 102L),
      (4L, 999L)).toDF("left", "right")
    val out = GraphQueries.butterflyCounts(e)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 2L, 4L),   // partners {2,3}: 3 + 1
      (2L, 2L, 4L),
      (3L, 2L, 2L)),  // partners {1,2}: 1 + 1
      out.mkString(", "))
  }

  test("clusteringCoefficients: K4 is fully clustered, pendant dilutes its anchor") {
    // K4 on {1,2,3,4} (+ reversed-edge noise) with a pendant node 5 on 4
    val e = Seq((1L, 2L), (3L, 1L), (1L, 4L), (2L, 3L), (4L, 2L), (3L, 4L),
      (5L, 4L)).toDF("src", "dst")
    val out = GraphQueries.clusteringCoefficients(e)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 3L, 3L, 1.0), (2L, 3L, 3L, 1.0), (3L, 3L, 3L, 1.0),
      (4L, 4L, 3L, 0.5),   // deg 4, still only the 3 K4 triangles
      (5L, 1L, 0L, 0.0)),  // pendant: deg < 2 pins cc to 0
      out.mkString(", "))
  }

  test("landmarkHarmonic: exact integer harmonic sums on a path, hop cap honored") {
    // undirected path a-b-c-d, landmarks {a, d}
    val canon = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val e = canon.unionByName(canon.select($"dst".as("src"), $"src".as("dst")))
    val lms = Seq("a", "d").toDF("node")
    val out = GraphQueries.landmarkHarmonic(e, lms, rounds = 3)
      .as[(String, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // a: only d reaches it (dist 3) → 2520/3 = 840; b: 1 from a + 2
    // from d → 2520 + 1260; symmetric for c and d
    assert(out == Seq(
      ("a", 1L, 840L, 0.3333), ("b", 2L, 3780L, 1.5),
      ("c", 2L, 3780L, 1.5), ("d", 1L, 840L, 0.3333)), out.mkString(", "))
    // with 2 rounds the far endpoints fall off (distance 3 > cap)
    val capped = GraphQueries.landmarkHarmonic(e, lms, rounds = 2)
      .as[(String, Long, Long, Double)].collect().map(_._1).sorted.toSeq
    assert(capped == Seq("b", "c"), capped.mkString(", "))
  }

  test("deterministicWalks: fingerprint-seeded hops, full length on cycles, stop at sinks") {
    def fp(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % 2147483647L)
    // undirected triangle (symmetrized): no sinks -> every walk runs
    // the full length; replay each hop on the driver with the same fold
    val tri = Seq(("a", "b"), ("b", "c"), ("c", "a"))
    val sym = (tri ++ tri.map(_.swap)).toDF("src", "dst")
    val walks = GraphQueries.deterministicWalks(sym, walkLen = 3)
      .orderBy("walk_id", "step").as[(String, Long, String)].collect().toSeq
    assert(walks.count(_._2 == 0L) == 3 && walks.size == 12)
    val nbrs = (tri ++ tri.map(_.swap)).groupBy(_._1)
      .map { case (s, es) => s -> es.map(_._2).sorted }
    for (start <- Seq("a", "b", "c")) {
      var node = start
      for (step <- 1 to 3) {
        val ns = nbrs(node)
        node = ns((fp(s"$start:$step") % ns.size).toInt)
        assert(walks.contains((start, step.toLong, node)), s"$start step $step")
      }
    }
    // directed chain a->b->c: walks stall at the sink c
    val chain = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val stalled = GraphQueries.deterministicWalks(chain, walkLen = 5)
    assert(stalled.filter($"walk_id" === "b").count() == 2) // b, c then sink
    assert(stalled.groupBy("walk_id").count()
      .filter($"count" > 3).count() == 0)
  }

  test("skipGramPairs: windowed co-occurrence counts per walk") {
    // one hand-built walk a,b,c,d (steps 0..3), window 2
    val walk = Seq(("w", 0L, "a"), ("w", 1L, "b"), ("w", 2L, "c"), ("w", 3L, "d"))
      .toDF("walk_id", "step", "node")
    val pairs = GraphQueries.skipGramPairs(walk, window = 2)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // a sees b (d1) and c (d2), not d (d3)
    assert(pairs(("a", "b")) == 1L && pairs(("a", "c")) == 1L)
    assert(!pairs.contains(("a", "d")))
    // symmetric, every ordered in-window pair present exactly once
    assert(pairs == pairs.map { case ((x, y), n) => (y, x) -> n })
    assert(pairs.values.sum == 10L) // 2*(3 d1) + 2*(2 d2)
    // two walks with repeated co-occurrence aggregate counts
    val two = walk.unionByName(
      Seq(("v", 0L, "a"), ("v", 1L, "b")).toDF("walk_id", "step", "node"))
    val agg = GraphQueries.skipGramPairs(two, window = 2)
      .filter($"center" === "a" && $"context" === "b")
      .as[(String, String, Long)].head()
    assert(agg._3 == 2L)
  }

  test("linkPredictionScores: common neighbors + Adamic-Adar, adjacents excluded") {
    // square a-b-c-d-a: diagonals (a,c) and (b,d) share 2 neighbors;
    // every adjacent pair must be excluded from candidates
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    val out = GraphQueries.linkPredictionScores(e)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // all four nodes have degree 2 -> AA = 2 / ln(2)
    val aa = BigDecimal(2.0 / math.log(2.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Map(("a", "c") -> ((2L, aa)), ("b", "d") -> ((2L, aa))), out.toString)
    // star: leaves share the hub; AA discounts by hub degree ln(3)
    val star = Seq(("h", "x"), ("h", "y"), ("h", "z")).toDF("src", "dst")
    val s = GraphQueries.linkPredictionScores(star)
      .as[(String, String, Long, Double)].collect()
    assert(s.length == 3 && s.forall(_._3 == 1L))
    val aaHub = BigDecimal(1.0 / math.log(3.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(s.forall(_._4 == aaHub))
  }

  test("negativeSamples: k per pair, deterministic, frequency-biased draws") {
    // contexts: "hot" appears in 20 pairs, "cold" in 1 — mass^0.75
    // makes hot ~9.5x likelier per draw
    val pairs = ((1 to 20).map(i => (s"c$i", "hot")) :+ (("c0", "cold")))
      .toDF("center", "context")
    val neg = GraphQueries.negativeSamples(pairs, "center", "context", k = 4)
      .as[(String, String, Int, String)].collect()
    assert(neg.length == 21 * 4) // exactly k draws per pair
    val byDraw = neg.groupBy(r => (r._1, r._2, r._3))
    assert(byDraw.forall(_._2.length == 1)) // each draw resolves uniquely
    val negCounts = neg.groupBy(_._4).view.mapValues(_.length).toMap
    assert(negCounts.keySet.subsetOf(Set("hot", "cold")))
    assert(negCounts("hot") > negCounts.getOrElse("cold", 0) * 3,
      s"frequency bias missing: $negCounts")
    // deterministic across runs
    val again = GraphQueries.negativeSamples(pairs, "center", "context", k = 4)
      .as[(String, String, Int, String)].collect()
    assert(neg.sortBy(r => (r._1, r._2, r._3)).toSeq ==
      again.sortBy(r => (r._1, r._2, r._3)).toSeq)
  }

  test("bellmanFord: weighted distance beats fewer-hop path; fixed rounds honored") {
    // a->b costs 10 direct, but 2 via c — weighted SSSP must find 2
    val e = Seq(("a", "b", 10L), ("a", "c", 1L), ("c", "b", 1L))
      .toDF("src", "dst", "w")
    val two = GraphQueries.bellmanFord(e, "a", rounds = 2)
      .as[(String, Long)].collect().toMap
    assert(two == Map("a" -> 0L, "b" -> 2L, "c" -> 1L))
    // with a single round only the direct relaxation has happened
    val one = GraphQueries.bellmanFord(e, "a", rounds = 1)
      .as[(String, Long)].collect().toMap
    assert(one == Map("a" -> 0L, "b" -> 10L, "c" -> 1L))
    // unreachable nodes never appear
    val far = Seq(("x", "y", 1L)).toDF("src", "dst", "w")
    assert(GraphQueries.bellmanFord(e.unionByName(far), "a", rounds = 5)
      .filter($"node".isin("x", "y")).count() == 0)
  }

  test("connectedComponentsStar: multi-component labels, long chain, isolated pair") {
    val e = Seq(("b", "a"), ("c", "b"), ("z", "y"),      // {a,b,c} and {y,z}
      ("q", "q")).toDF("src", "dst")                     // self-loop only
    val out = GraphQueries.connectedComponentsStar(e)
      .as[(String, String)].collect().toMap
    assert(out == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "y" -> "y", "z" -> "y", "q" -> "q"))
    // 64-node path: diameter 63 — plain min-propagation needs ~63
    // rounds, alternating stars converge well inside the 50-round cap
    val chain = (1 until 64).map(i => (f"n$i%03d", f"n${i + 1}%03d"))
      .toDF("src", "dst")
    val comp = GraphQueries.connectedComponentsStar(chain)
      .as[(String, String)].collect()
    assert(comp.length == 64 && comp.forall(_._2 == "n001"))
  }

  test("kCore fixpoint equals a large fixed-round peel") {
    val e = graft.Tables.lineitem(spark, sf0001)
      .select($"l_suppkey".as("src"), ($"l_partkey" + 10000000L).as("dst"))
      .distinct()
    val fix = GraphQueries.kCore(e, k = 30)
    val fixed = GraphQueries.kCorePeel(e, k = 30, rounds = 20)
    assert(fix.exceptAll(fixed).count() == 0 && fixed.exceptAll(fix).count() == 0)
  }

  test("maximalIndependentSet: independent, maximal after convergence, deterministic") {
    // path + triangle + isolated-ish tail: mixed degrees
    val base = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("e", "f"), ("f", "d"), ("f", "g"))
    val e = base.toDF("src", "dst")
    val mis = GraphQueries.maximalIndependentSet(e, rounds = 10)
      .as[(String, Long)].collect().map(_._1).toSet
    val sym = (base ++ base.map(_.swap)).toSet
    // independence: no edge joins two MIS members
    assert(!sym.exists { case (u, v) => mis.contains(u) && mis.contains(v) })
    // maximality: every non-member has a member neighbor
    val verts = sym.map(_._1)
    (verts -- mis).foreach { v =>
      assert(sym.exists { case (u, w) => u == v && mis.contains(w) },
        s"$v has no MIS neighbor")
    }
    // deterministic
    val again = GraphQueries.maximalIndependentSet(e, rounds = 10)
      .as[(String, Long)].collect().map(_._1).toSet
    assert(mis == again)
  }

  test("node2vecWalks: valid walks, deterministic, return-bias steers backtracking") {
    // K4 minus one edge, symmetrized: non-bipartite, every node deg >= 2
    val base = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c"))
    val sym = (base ++ base.map(_.swap)).toDF("src", "dst")
    val walks = GraphQueries.node2vecWalks(sym, walkLen = 4)
      .orderBy("walk_id", "step").as[(String, Long, String)].collect().toSeq
    // full length from every start, and every hop is a real edge
    assert(walks.count(_._2 == 0L) == 4 && walks.size == 4 * 5)
    val edgeSet = (base ++ base.map(_.swap)).toSet
    walks.groupBy(_._1).values.foreach { w =>
      w.sortBy(_._2).map(_._3).sliding(2).foreach {
        case Seq(u, v) => assert(edgeSet.contains((u, v)), s"$u->$v not an edge")
        case _ =>
      }
    }
    // deterministic across runs
    val again = GraphQueries.node2vecWalks(sym, walkLen = 4)
      .orderBy("walk_id", "step").as[(String, Long, String)].collect().toSeq
    assert(walks == again)
    // second-order dependence: an overwhelming return weight makes
    // nearly every step >= 2 backtrack to the node two steps back
    def backtrackFrac(wRet: Int): Double = {
      val ws = GraphQueries.node2vecWalks(sym, walkLen = 4, wRet = wRet)
        .as[(String, Long, String)].collect()
        .groupBy(_._1).values.map(_.sortBy(_._2).map(_._3).toSeq).toSeq
      val (bt, tot) = ws.foldLeft((0, 0)) { case ((b, t), w) =>
        val hops = w.sliding(3).filter(_.size == 3).toSeq
        (b + hops.count(h => h(0) == h(2)), t + hops.size)
      }
      bt.toDouble / tot
    }
    val biased = backtrackFrac(1000000)
    val unbiased = backtrackFrac(1)
    assert(biased > 0.9, s"biased backtrack fraction $biased")
    assert(unbiased < biased, s"unbiased $unbiased !< biased $biased")
  }
}
