package graft.query

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** The reference's declared query set as a Scala API over generic
  * node/edge DataFrames (SURVEY §2.3/§2.4/§2.8). Each method is a pure
  * DataFrame→DataFrame transform: Catalyst plans it, so dimension
  * joins broadcast automatically and the self-join shuffles on the
  * keyword key (bucket `hasKeyword` by `dst` at rest to make that
  * shuffle-free on repeat queries; AQE skew-join covers hot keywords).
  *
  * Column name contract: node tables expose their PK as `url` (links) /
  * `name` (dimensions); edges are `(src, dst)`.
  */
object GraphQueries {

  /** J1: 1-hop pattern `(l:Link)-[:BELONGS_TO]->(c:Category)` — the
    * index() listing (reference dockerapp/app/main.py:185).
    * Dimension side is broadcast: at 100 TB the Link table is the only
    * big input and this stays a map-side join. */
  def linkListing(links: DataFrame, belongsTo: DataFrame, categories: DataFrame): DataFrame =
    links.join(belongsTo, links("url") === belongsTo("src"))
      .join(broadcast(categories), belongsTo("dst") === categories("name"))
      .drop("src", "dst")

  /** J2: 1-hop `(l)-[:HAS_KEYWORD]->(k)` (reference main.py:468). */
  def linkKeywords(links: DataFrame, hasKeyword: DataFrame): DataFrame =
    links.join(hasKeyword, links("url") === hasKeyword("src"))
      .select(links("url"), hasKeyword("dst").as("keyword"))

  /** J3 — the flagship interconnection query (reference
    * notebook/Edits.ipynb:1345-1351): pairs of links that share a
    * keyword but belong to different categories, ordered by
    * `(shared_keyword, category1, category2, url1, url2)`.
    *
    * Top-k shape (any `limit` below Spark's
    * `spark.sql.execution.topKSortFallbackThreshold`, i.e. whenever
    * the final LIMIT itself plans as `TakeOrderedAndProject`): the
    * `(url, keyword, category)` triples of `hasKeyword ⋈
    * broadcast(belongsTo)` shuffle once on the keyword and
    * [[graft.plans.TopKPairs]] enumerates each keyword's pairs in the
    * final order, stopping after `limit` rows per partition. No pair
    * intermediate is built: the work is a sort of the edge set, not
    * the Σ deg² self-join.
    *
    * Unbounded shape (`limit = Int.MaxValue`, or a floating-point
    * keyword): self-equi-join of `hasKeyword` on `dst` with the pair
    * residual, then two joins to the (broadcast) category assignment.
    * That join is Θ(output) and is the one physical risk at scale: it
    * shuffles on keyword and hot keywords skew — mitigations are
    * bucketing on `dst` + AQE skew-join (SURVEY §4).
    *
    * @param canonicalPairs notebook variant uses `<` (true); the
    *   dockerapp variant (main.py:202) uses `<>` (false).
    */
  def interconnections(
      hasKeyword: DataFrame,
      belongsTo: DataFrame,
      canonicalPairs: Boolean = true,
      limit: Int = 100): DataFrame = {
    val topK = limit >= 0 &&
      limit < hasKeyword.sparkSession.sessionState.conf.topKSortFallbackThreshold &&
      !Seq(FloatType, DoubleType).contains(hasKeyword.schema("dst").dataType)
    val pairs =
      if (topK) {
        val triples = hasKeyword.select(col("src").as("url"), col("dst").as("keyword"))
          .join(broadcast(belongsTo.select(col("src").as("url"), col("dst").as("category"))),
            Seq("url"))
        graft.plans.TopKPairs.pairs(triples, canonicalPairs, limit)
      } else selfJoinPairs(hasKeyword, belongsTo, canonicalPairs)
    pairs
      .orderBy(col("shared_keyword"), col("category1"), col("category2"),
        col("url1"), col("url2"))
      .limit(limit)
  }

  private def selfJoinPairs(hasKeyword: DataFrame, belongsTo: DataFrame,
      canonicalPairs: Boolean): DataFrame = {
    val e1 = hasKeyword.select(col("src").as("url1"), col("dst").as("kw"))
    val e2 = hasKeyword.select(col("src").as("url2"), col("dst").as("kw"))
    val pairPred =
      if (canonicalPairs) col("url1") < col("url2") else col("url1") =!= col("url2")
    val pairs = e1.join(e2, Seq("kw")).filter(pairPred)
    val c1 = belongsTo.select(col("src").as("url1"), col("dst").as("category1"))
    val c2 = belongsTo.select(col("src").as("url2"), col("dst").as("category2"))
    pairs
      .join(c1, Seq("url1"))
      .join(c2, Seq("url2"))
      .filter(col("category1") =!= col("category2"))
      .select(col("url1"), col("category1"), col("url2"), col("category2"),
        col("kw").as("shared_keyword"))
  }

  /** Incremental (delta) maintenance of the flagship J3: the pairs
    * CONTRIBUTED by a batch of new HAS_KEYWORD edges, i.e. pairs with
    * at least one endpoint-edge in the batch. On an edge batch of
    * size b against a stored edge set of size E this costs O(b·E/K)
    * join work instead of O(E²/K) for full recomputation — the shape
    * an upsert-heavy deployment (reference add_link/upload_csv loop)
    * needs at scale. Invariant (spec-checked):
    * `interconnections(old ∪ new) = interconnections(old) ∪
    * interconnectionsDelta(new, old ∪ new)` (as sets, before
    * ordering/limit).
    *
    * @param newEdges the just-added HAS_KEYWORD batch (src, dst)
    * @param allEdges the post-upsert full edge set (src, dst),
    *   including `newEdges`
    */
  def interconnectionsDelta(
      newEdges: DataFrame,
      allEdges: DataFrame,
      belongsTo: DataFrame): DataFrame = {
    val n1 = newEdges.select(col("src").as("url1"), col("dst").as("kw"))
    val a2 = allEdges.select(col("src").as("url2"), col("dst").as("kw"))
    val a1 = allEdges.select(col("src").as("url1"), col("dst").as("kw"))
    val n2 = newEdges.select(col("src").as("url2"), col("dst").as("kw"))
    // new-on-the-left ∪ new-on-the-right, deduped (a pair of two new
    // edges appears in both branches)
    val pairs = n1.join(a2, Seq("kw")).filter(col("url1") < col("url2"))
      .unionByName(a1.join(n2, Seq("kw")).filter(col("url1") < col("url2")))
      .distinct()
    val c1 = belongsTo.select(col("src").as("url1"), col("dst").as("category1"))
    val c2 = belongsTo.select(col("src").as("url2"), col("dst").as("category2"))
    pairs
      .join(c1, Seq("url1"))
      .join(c2, Seq("url2"))
      .filter(col("category1") =!= col("category2"))
      .select(col("url1"), col("category1"), col("url2"), col("category2"),
        col("kw").as("shared_keyword"))
  }

  /** J4: existence pre-check as a set operation — which incoming keys
    * are already in the store (reference point-lookup loop
    * main.py:257-261 becomes one anti-join; `novel` is what survives
    * to the expensive enrich stages). */
  def existing(incoming: DataFrame, store: DataFrame, pk: String): DataFrame =
    incoming.join(store, Seq(pk), "left_semi")
  def novel(incoming: DataFrame, store: DataFrame, pk: String): DataFrame =
    incoming.join(store, Seq(pk), "left_anti")

  /** J5/G3: orphan dimension nodes — no inbound edge
    * (reference Edits.ipynb:1443-1444 `WHERE NOT (c)<-[:BELONGS_TO]-()`). */
  def orphans(dims: DataFrame, edges: DataFrame): DataFrame =
    dims.join(edges.select(col("dst")), dims("name") === col("dst"), "left_anti")

  /** A5: keyword frequency distribution (reference value_counts,
    * Edits.ipynb:1068-1075). Map-side partial aggregation makes this a
    * single small shuffle at any scale. */
  def keywordDistribution(hasKeyword: DataFrame): DataFrame =
    hasKeyword.groupBy(col("dst").as("keyword"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("keyword"))

  /** A6: duplicate-id detection (reference main.py:475-478). */
  def duplicateIds(df: DataFrame, idCol: String): DataFrame =
    df.groupBy(col(idCol)).agg(count(lit(1)).as("n")).filter(col("n") > 1)

  /** G4: typed graph projection for visualization (reference
    * main.py:436-484): one unioned node list `{id, label, group}` and
    * one edge list `{from, to}`. Node ids are label-prefixed exactly
    * like the reference (`f"Link:{url}"`, main.py:442). */
  def vizNodes(links: DataFrame, categories: DataFrame, keywords: DataFrame): DataFrame = {
    val l = links.filter(col("title").isNotNull)
      .select(concat(lit("Link:"), col("url")).as("id"), col("title").as("label"),
        lit("Link").as("group"))
    val c = categories.filter(col("name").isNotNull)
      .select(concat(lit("Category:"), col("name")).as("id"), col("name").as("label"),
        lit("Category").as("group"))
    val k = keywords.filter(col("name").isNotNull)
      .select(concat(lit("Keyword:"), col("name")).as("id"), col("name").as("label"),
        lit("Keyword").as("group"))
    l.unionByName(c).unionByName(k)
  }

  /** S11: graph → JSON export for the visualizer — one JSON document
    * per node/edge via toJSON semantics (reference builds
    * `{nodes:[{id,label,group}], edges:[{from,to}]}`,
    * main.py:436-484). Returns the two JSON-line datasets; a driver
    * collects and wraps them (driver-side assembly is exactly what
    * the reference does, and the only part that is inherently
    * single-node). */
  def vizJson(links: DataFrame, categories: DataFrame, keywords: DataFrame,
      belongsTo: DataFrame, hasKeyword: DataFrame): (Dataset[String], Dataset[String]) =
    (vizNodes(links, categories, keywords).toJSON,
      vizEdges(belongsTo, hasKeyword).toJSON)

  def vizEdges(belongsTo: DataFrame, hasKeyword: DataFrame): DataFrame = {
    val b = belongsTo.filter(col("src").isNotNull && col("dst").isNotNull)
      .select(concat(lit("Link:"), col("src")).as("from"),
        concat(lit("Category:"), col("dst")).as("to"))
    val h = hasKeyword.filter(col("src").isNotNull && col("dst").isNotNull)
      .select(concat(lit("Link:"), col("src")).as("from"),
        concat(lit("Keyword:"), col("dst")).as("to"))
    b.unionByName(h)
  }

  /** k-hop neighborhood expansion from a seed set: every node within
    * `k` directed hops, labeled with its MINIMUM hop distance —
    * Cypher's `MATCH (s)-[*..k]->(n)` as bounded iterative joins.
    * Each round is one equi-join (frontier ⋈ edges) plus an anti-join
    * against the visited set, so the work is proportional to the
    * expanding frontier, never to the full graph; `localCheckpoint`
    * per round keeps the logical plan flat (the label-propagation
    * lesson — lineage otherwise deepens linearly in k). k is a small
    * constant by contract; frontiers are the only state. */
  def kHopNeighborhood(edges: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    val seedNodes = seeds.select(col(seeds.columns.head).as("node")).distinct()
      .withColumn("hop", lit(0L))
    var visited = seedNodes.localCheckpoint(true)
    var frontier = visited
    var i = 1
    while (i <= k) {
      val next = frontier.join(edges, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("hop", lit(i.toLong))
        .localCheckpoint(true)
      visited = visited.unionByName(next).localCheckpoint(true)
      frontier = next
      i += 1
    }
    visited
  }

  /** Undirected degree table of an edge set: one hash aggregation over
    * the two-endpoint union. */
  private def degrees(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** k-core degree peel (map-forward: absent in the reference like the
    * rest of §2.9's analytics; standard corpus/graph-hygiene op —
    * Matula & Beck 1983's peeling, expressed as iterated relational
    * steps). Each round drops every node whose undirected degree in
    * the surviving subgraph is below `k`, then induces the subgraph on
    * the survivors. Exactly `rounds` rounds when `toFixpoint` is false
    * (the oracle-matched form: a fixed unrolled DuckDB CTE chain
    * computes the identical rounds); peel-until-stable when true, with
    * `rounds` as the safety bound (convergence is detected by edge
    * count — if no edge was removed, no degree changed).
    *
    * Scale shape: each round is one hash agg (degrees) + two semi
    * joins on the node key — all key-partitioned shuffles, no
    * driver-side state beyond the per-round count in fixpoint mode;
    * per-round localCheckpoint truncates the growing lineage exactly
    * like [[kHopNeighborhood]]. Returns (node, deg) in the peeled
    * subgraph. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int,
      toFixpoint: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    var nEdges = if (toFixpoint) e.count() else -1L
    var r = 0
    var stable = false
    while (r < rounds && !stable) {
      val alive = degrees(e).filter(col("deg") >= k).select(col("node"))
      val induced = e
        .join(alive.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint(true)
      if (toFixpoint) {
        val n2 = induced.count()
        stable = n2 == nEdges
        nEdges = n2
      }
      e = induced
      r += 1
    }
    degrees(e)
  }

  /** k-core to fixpoint: peel until no node falls below `k`. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 100): DataFrame =
    kCorePeel(edges, k, maxRounds, toFixpoint = true)

  /** Per-edge triangle support over a canonical (src < dst) edge set:
    * triangles are enumerated once as ordered triples a<b<c via two
    * equi-joins, then each triangle credits its three edges. The id
    * ordering is an orientation, so every triangle is counted exactly
    * once (at scale the standard refinement is degree-ordering the
    * orientation so high-degree hubs sit on the pointed end; the id
    * orientation keeps the DuckDB replay trivial and is within a
    * constant factor on the non-adversarial graphs gated here). */
  private def edgeSupport(e: DataFrame): DataFrame = {
    val tri = e.as("e1")
      .join(e.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .join(e.as("e3"),
        col("e3.src") === col("e1.dst") && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    tri.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(tri.select(col("a").as("src"), col("c").as("dst")))
      .unionByName(tri.select(col("b").as("src"), col("c").as("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("sup"))
  }

  /** k-truss peel, fixed rounds (cohesive-subgraph mining — the
    * EDGE-grained sibling of [[kCorePeel]]: a k-truss keeps an edge
    * only while it closes ≥ k−2 triangles inside the surviving
    * subgraph, so it prunes barely-attached spokes that a degree
    * k-core keeps): each round recounts per-edge triangle support on
    * the induced subgraph and drops the weak edges — triangle-free
    * edges drop immediately (support 0 < k−2). Exactly `rounds`
    * rounds, mirrored by the generated unrolled
    * [[kTrussOracleSql]] chain (the k-core / Bellman-Ford
    * precedent); output is the surviving edge set with its support
    * RECOUNTED on the final subgraph, so the gate pins the induced
    * state, not a stale count.
    *
    * Scale shape: per round one self-join pair (triangle listing
    * over the canonical orientation) + one hash aggregate + one
    * equi-join — all shuffles on edge keys, no window, no driver
    * state; `localCheckpoint` truncates the growing lineage exactly
    * as the other relational-iteration operators do. */
  def kTrussPeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var e = edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    var r = 0
    while (r < rounds) {
      e = e.join(edgeSupport(e), Seq("src", "dst"))
        .filter(col("sup") >= k - 2)
        .select(col("src"), col("dst")).localCheckpoint(true)
      r += 1
    }
    e.join(edgeSupport(e), Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("sup"), lit(0L)).as("sup"))
  }

  /** Connected components with ALTERNATING STAR rounds (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * the pure-DataFrame 1000-executor path beside the GraphX Pregel
    * variant: O(log n) rounds instead of O(diameter), each round two
    * hash aggregations and a join, no vertex-program runtime, no
    * graph object pinned in the block manager.
    *
    *  - large-star(u): connect every neighbor GREATER than u to
    *    min(Γ(u) ∪ u);
    *  - small-star(u): connect every neighbor ≤ u (and u itself) to
    *    the minimum of those.
    *
    * The edge set converges to stars centered at component minima;
    * convergence is detected by edge-set equality. Labels follow the
    * column's natural ordering (strings compare lexicographically —
    * matches the SQL oracle's min()). Returns (node, component) for
    * every endpoint of the input; isolated self-loop-only nodes label
    * themselves. */
  def connectedComponentsStar(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    // Each star op needs min(v) per u attached back to every (u, v)
    // row. The agg+self-join form pays TWO exchanges of the edge set
    // per op (groupBy shuffle + join shuffle/broadcast-build); a
    // min-over-window PARTITIONED by u pays one — same hash
    // partitioning, same skew exposure as the join it replaces, and
    // the per-round job count drops with it (the profiled cost of the
    // CC gates is per-stage-job overhead at gate scale). Rows where u
    // repeats get the identical m the join would have attached; the
    // trailing distinct()s collapse the duplicate (u, m) union arm in
    // smallStar exactly as they collapsed the per-distinct-u arm.
    import org.apache.spark.sql.expressions.Window
    val perU = Window.partitionBy(col("u"))
    def sym(e: DataFrame) =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    def largeStar(e: DataFrame): DataFrame = {
      val nb = sym(e)
      nb.withColumn("m", least(col("u"), min(col("v")).over(perU)))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val om = oriented.withColumn("m", min(col("v")).over(perU))
      om.select(col("v").as("u"), col("m").as("v"))
        .unionByName(om.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    var e = edges.select(col(edges.columns(0)).as("u"), col(edges.columns(1)).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    // convergence probe: (count, xxhash64 bit_xor) in ONE job per
    // round (xor, not sum — an ANSI long overflow killed the sum
    // form); the exact anti-join check runs only when the cheap
    // signal repeats — a hash collision costs one extra exact check,
    // never a wrong answer
    def sig(df: DataFrame): (Long, Long) = {
      val row = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).head()
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    }
    var prevSig = sig(e)
    var r = 0
    var stable = false
    while (!stable && r < maxRounds) {
      // one (large, small) pair per materialization — batching two
      // pairs per checkpoint was tried and is ~2× SLOWER: the
      // four-star lineage compounds into a much larger plan per stage
      // than the per-round fixed job overhead it saves
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      val s = sig(next)
      stable = s == prevSig &&
        next.join(e, Seq("u", "v"), "left_anti").isEmpty
      prevSig = s
      e = next
      r += 1
    }
    val nodes = edges.select(col(edges.columns(0)).as("node"))
      .unionByName(edges.select(col(edges.columns(1)).as("node"))).distinct()
    nodes.join(e.select(col("u").as("node"), col("v").as("component")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }

  /** Deterministic "random" walks — DeepWalk-style corpus generation
    * for graph embeddings, with the randomness replaced by the
    * oracle-replayable polynomial fingerprint: at step i, walk w
    * standing on a node of out-degree d moves to sorted-neighbor index
    * `fingerprint(w ++ ":" ++ i) mod d`. Deterministic across runs and
    * engines (the fingerprint is bit-identical in DuckDB's
    * list_reduce), uniform-ish across neighbors — exactly what an
    * embedding corpus needs, since true RNG walks can't be verified.
    *
    * `edges` are (src, dst) STRING node ids, taken as directed —
    * symmetrize first for undirected walks (a bipartite graph stalls
    * all walks at step 1 otherwise). One walk starts at every distinct
    * src. Walks stop early at sinks (inner join drops them).
    *
    * Scale shape: the neighbor index (rank within src by dst order +
    * degree) is built once — one window + agg over the edge table;
    * each step is one equi-join on the current node key. walkLen
    * key-partitioned shuffles total, no driver state; at rest you'd
    * bucket the neighbor index by src to make every step co-located.
    * Returns (walk_id, step, node). */
  def deterministicWalks(edges: DataFrame, walkLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(walkLen >= 0)
    val nbr = edges.select(col("src"), col("dst")).distinct()
      .select(col("src"), col("dst"),
        (row_number().over(Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
          .as("r"),
        count(lit(1)).over(Window.partitionBy(col("src"))).as("deg"))
      .localCheckpoint(true)
    var cur = edges.select(col("src").as("walk_id")).distinct()
      .select(col("walk_id"), col("walk_id").as("node"))
      .localCheckpoint(true)
    var out = cur.withColumn("step", lit(0L))
    var i = 1
    while (i <= walkLen) {
      val pick = graft.functions.TextStats.fingerprint(
        concat(col("walk_id"), lit(":" + i)))
      cur = cur.join(nbr, cur("node") === nbr("src") &&
          nbr("r") === pick % nbr("deg"))
        .select(col("walk_id"), col("dst").as("node"))
        .localCheckpoint(true)
      out = out.unionByName(cur.withColumn("step", lit(i.toLong)))
      i += 1
    }
    out.select(col("walk_id"), col("step"), col("node"))
  }

  /** The unrolled DuckDB oracle for [[deterministicWalks]]: the same
    * fixed-length walk chain, each step choosing
    * fingerprint(walk_id:step) mod degree over the row_number-ranked
    * neighbor list. `edgeCte` must yield (src, dst) string columns. */
  def walksOracleSql(edgeCte: String, walkLen: Int): String = {
    def fp(s: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split($s, ''), c -> CAST(ord(c) AS BIGINT))),
          (a, b) -> (a * 31 + b) % 2147483647)"""
    val sb = new StringBuilder(
      s"""WITH e AS ($edgeCte),
         nbr AS (SELECT src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS r,
                   count(*) OVER (PARTITION BY src) AS deg
                 FROM (SELECT DISTINCT src, dst FROM e)),
         w0 AS (SELECT src AS walk_id, src AS node FROM (SELECT DISTINCT src FROM e))""")
    for (i <- 1 to walkLen)
      sb.append(
        s""", w$i AS (SELECT w.walk_id, n.dst AS node FROM w${i - 1} w
            JOIN nbr n ON n.src = w.node
            AND n.r = ${fp(s"w.walk_id || ':$i'")} % n.deg)""")
    sb.append(
      (0 to walkLen).map(i =>
        s" SELECT walk_id, CAST($i AS BIGINT) AS step, node FROM w$i")
        .mkString("", " UNION ALL", ""))
    sb.append(" ORDER BY walk_id, step")
    sb.toString
  }

  /** Link-prediction features (Liben-Nowell & Kleinberg 2003): for
    * every non-adjacent 2-hop node pair, the common-neighbor count
    * and Adamic–Adar score Σ_z 1/ln(deg(z)) over shared neighbors z.
    * The standard candidate-generation + feature step of a
    * link-prediction pipeline.
    *
    * Relational shape: symmetrize → one self-join through the shared
    * neighbor (the 2-path enumeration — a hash equi-join on z, the
    * same shape as the flagship interconnect), aggregate per pair,
    * anti-join existing edges. Degree table rides along broadcast.
    * Skewed hub neighbors fan out quadratically by nature of the
    * measure; at 100 TB cap or sample hub adjacency first (the
    * heavy-hitter-split precedent in graphx/GraphOps). */
  def linkPredictionScores(edges: DataFrame, minCommon: Long = 1L): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = sym.groupBy(col("src").as("z")).agg(count(lit(1)).as("deg"))
    val paths = sym.select(col("src").as("a"), col("dst").as("z"))
      .join(sym.select(col("src").as("z"), col("dst").as("b")), Seq("z"))
      .filter(col("a") < col("b"))
    val scored = paths.join(broadcast(deg), Seq("z"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"),
        round(sum(lit(1.0) / log(col("deg").cast("double"))), 4).as("adamic_adar"))
      .filter(col("common") >= minCommon)
    scored.join(sym.select(col("src").as("a"), col("dst").as("b")),
      Seq("a", "b"), "left_anti")
  }

  /** Deterministic node2vec walks (Grover & Leskovec KDD'16) — the
    * SECOND-ORDER biased extension of [[deterministicWalks]]: the
    * next-hop distribution depends on (prev, cur), weighting each
    * neighbor `next` of `cur` by wRet if next = prev (the 1/p return
    * bias), wIn if next ∈ N(prev) (distance-1, the BFS-ish bias) and
    * wOut otherwise (the 1/q DFS-ish bias); integer weights so the
    * draw is an exact cumulative-interval lookup the oracle replays
    * bit-for-bit (fingerprint(walk_id:step) mod total-mass — the
    * q_g17 banded-mass convention). Step 1 has no prev and draws
    * uniformly, exactly like the first-order walk.
    *
    * Scale shape: per step, one equi-join fans each walk out to its
    * current node's neighbors, one LEFT equi-join on (prev, next)
    * against the distinct edge set computes the distance flag (never
    * a neighborhood broadcast — N(prev) membership IS an edge-exists
    * probe), and one walk_id-partitioned running-sum window sizes the
    * cumulative intervals (candidate rows per walk = deg(cur), so the
    * window partitions are adjacency-bounded). State per walk is one
    * row; walks shard freely across executors. Symmetrize edges first
    * (undirected semantics, dead-end-free on connected graphs). */
  def node2vecWalks(edges: DataFrame, walkLen: Int,
      wRet: Int = 1, wIn: Int = 2, wOut: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(walkLen >= 2, s"walkLen $walkLen: below 2 use deterministicWalks")
    val ed = edges.select(col("src"), col("dst")).distinct().localCheckpoint(true)
    val nbr = ed.select(col("src"), col("dst"),
        (row_number().over(Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
          .as("r"),
        count(lit(1)).over(Window.partitionBy(col("src"))).as("deg"))
      .localCheckpoint(true)
    val starts = ed.select(col("src").as("walk_id")).distinct()
      .select(col("walk_id"), col("walk_id").as("node"))
    var out = starts.withColumn("step", lit(0L))
    val pick1 = graft.functions.TextStats.fingerprint(
      concat(col("walk_id"), lit(":1")))
    var cur = starts.join(nbr, starts("node") === nbr("src") &&
        nbr("r") === pick1 % nbr("deg"))
      .select(col("walk_id"), starts("node").as("prev"), col("dst").as("node"))
      .localCheckpoint(true)
    out = out.unionByName(
      cur.select(col("walk_id"), col("node")).withColumn("step", lit(1L)))
    var i = 2
    while (i <= walkLen) {
      val pick = graft.functions.TextStats.fingerprint(
        concat(col("walk_id"), lit(":" + i)))
      val cand = cur.join(nbr, cur("node") === nbr("src"))
        .select(col("walk_id"), col("prev"), cur("node").as("node"),
          col("dst"), col("r"))
        .join(ed.select(col("src").as("__ps"), col("dst").as("__pd")),
          col("prev") === col("__ps") && col("dst") === col("__pd"), "left")
        .withColumn("wt",
          when(col("dst") === col("prev"), lit(wRet.toLong))
            .when(col("__ps").isNotNull, lit(wIn.toLong))
            .otherwise(lit(wOut.toLong)))
      val scanned = cand
        .withColumn("cum", sum(col("wt")).over(
          Window.partitionBy(col("walk_id")).orderBy(col("r"))))
        .withColumn("tot", sum(col("wt")).over(
          Window.partitionBy(col("walk_id"))))
      cur = scanned.filter(pick % col("tot") >= col("cum") - col("wt") &&
          pick % col("tot") < col("cum"))
        .select(col("walk_id"), col("node").as("prev"), col("dst").as("node"))
        .localCheckpoint(true)
      out = out.unionByName(
        cur.select(col("walk_id"), col("node")).withColumn("step", lit(i.toLong)))
      i += 1
    }
    out.select(col("walk_id"), col("step"), col("node"))
  }

  /** Unrolled DuckDB oracle for [[node2vecWalks]] — the
    * [[walksOracleSql]] pattern extended with the per-step candidate
    * weighting and cumulative-interval pick. */
  def node2vecOracleSql(edgeCte: String, walkLen: Int,
      wRet: Int = 1, wIn: Int = 2, wOut: Int = 4): String = {
    def fp(s: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split($s, ''), c -> CAST(ord(c) AS BIGINT))),
          (a, b) -> (a * 31 + b) % 2147483647)"""
    val sb = new StringBuilder(
      s"""WITH e AS ($edgeCte),
         ed AS (SELECT DISTINCT src, dst FROM e),
         nbr AS (SELECT src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS r,
                   count(*) OVER (PARTITION BY src) AS deg
                 FROM ed),
         w0 AS (SELECT src AS walk_id, src AS node
                FROM (SELECT DISTINCT src FROM ed)),
         w1 AS (SELECT w.walk_id, w.node AS prev, n.dst AS node FROM w0 w
                JOIN nbr n ON n.src = w.node
                AND n.r = ${fp("w.walk_id || ':1'")} % n.deg)""")
    for (i <- 2 to walkLen)
      sb.append(s""",
         c$i AS (SELECT w.walk_id, w.node, n.dst, n.r,
                   CASE WHEN n.dst = w.prev THEN $wRet
                        WHEN ex.src IS NOT NULL THEN $wIn
                        ELSE $wOut END AS wt
                 FROM w${i - 1} w JOIN nbr n ON n.src = w.node
                 LEFT JOIN ed ex ON ex.src = w.prev AND ex.dst = n.dst),
         s$i AS (SELECT walk_id, node, dst, wt,
                   sum(wt) OVER (PARTITION BY walk_id ORDER BY r) AS cum,
                   sum(wt) OVER (PARTITION BY walk_id) AS tot
                 FROM c$i),
         w$i AS (SELECT walk_id, node AS prev, dst AS node FROM s$i
                 WHERE ${fp(s"walk_id || ':$i'")} % tot >= cum - wt
                   AND ${fp(s"walk_id || ':$i'")} % tot < cum)""")
    sb.append(" SELECT walk_id, CAST(0 AS BIGINT) AS step, node FROM w0")
    for (i <- 1 to walkLen)
      sb.append(s" UNION ALL SELECT walk_id, CAST($i AS BIGINT) AS step, node FROM w$i")
    sb.append(" ORDER BY walk_id, step")
    sb.toString
  }

  /** Skip-gram training pairs from walks (DeepWalk / node2vec corpus
    * construction, Perozzi et al. 2014): each walk is a "sentence";
    * emit (center, context) co-occurrence counts for positions within
    * `window` steps of each other. The walk_id equi-join touches at
    * most walkLen+1 rows per key, so pair expansion is bounded per
    * walk — one shuffle on walk_id, one aggregation on the pair. The
    * output (center, context, n) table IS the word2vec-style training
    * input for graph embeddings. */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val a = walks.select(col("walk_id"), col("step").as("ci"), col("node").as("center"))
    val b = walks.select(col("walk_id"), col("step").as("xi"), col("node").as("context"))
    a.join(b, Seq("walk_id"))
      .filter(col("xi") =!= col("ci") && abs(col("xi") - col("ci")) <= window)
      .groupBy(col("center"), col("context")).agg(count(lit(1)).as("n"))
  }

  /** Deterministic negative sampling for skip-gram training — the
    * word2vec noise draw (Mikolov et al. 2013): k negatives per
    * (center, context) pair, drawn from the unigram^power context
    * distribution. Everything is integer arithmetic so a SQL oracle
    * replays it bit-for-bit: node mass = round(count^power · 1000),
    * the draw is the polynomial fingerprint of (center:context:j) mod
    * total mass, and the drawn node is the owner of the cumulative-
    * mass interval containing the draw.
    *
    * Scale shape: the cumulative table is vocab-sized (bounded by
    * construction); interval lookup is a BANDED equi-join — intervals
    * explode to ~mass/bandWidth ≈ 2 bands each, draws compute one band
    * — never a nested-loop range join, no driver collect anywhere
    * (total mass and band width ride along as 1-row broadcast
    * scalars). Negatives may collide with the pair's own nodes,
    * matching the reference algorithm (word2vec does not exclude). */
  def negativeSamples(pairs: DataFrame, centerCol: String,
      contextCol: String, k: Int, power: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val dist = pairs.groupBy(col(contextCol).as("node"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("mass",
        round(pow(col("cnt").cast("double"), power) * 1000).cast("long"))
      .filter(col("mass") > 0)
    // cumulative mass over every distinct context node is vocab-sized
    // (data-sized in the worst case) → two-level distributed prefix
    // sum, not a global single-task ordered window; node is unique so
    // the intervals are bit-exact
    val cum = graft.ext.OrderedPrefix
      .withPrefixSum(dist, Seq(col("node")), col("mass"), "__ci")
      .withColumn("lo", col("__ci") - col("mass")).drop("__ci")
      .withColumn("hi", col("lo") + col("mass"))
    val tot = cum.agg(max(col("hi")).as("m"), count(lit(1)).as("v"))
    val banded = cum.crossJoin(tot)
      .withColumn("bw", greatest(expr("m div v"), lit(1L)))
      .select(col("node"), col("lo"), col("hi"), col("m"), col("bw"),
        explode(sequence(expr("lo div bw"), expr("(hi - 1) div bw"))).as("band"))
    val draws = pairs
      .select(col(centerCol).as("center"), col(contextCol).as("context"),
        explode(sequence(lit(1), lit(k))).as("j"))
      .crossJoin(tot)
      .withColumn("bw", greatest(expr("m div v"), lit(1L)))
      .withColumn("draw", pmod(graft.functions.TextStats.fingerprint(
        concat(col("center"), lit(":"), col("context"), lit(":"), col("j"))),
        col("m")))
      .withColumn("band", expr("draw div bw"))
      .select(col("center"), col("context"), col("j"), col("draw"), col("band"))
    draws.join(banded.select(col("node"), col("lo"), col("hi"), col("band")),
        Seq("band"))
      .filter(col("draw") >= col("lo") && col("draw") < col("hi"))
      .select(col("center"), col("context"), col("j"), col("node").as("neg"))
  }

  /** Oracle for [[skipGramPairs]] over [[deterministicWalks]]: wraps
    * the unrolled walk replay in the pair expansion. */
  def skipGramOracleSql(edgeCte: String, walkLen: Int, window: Int): String = {
    val walks = walksOracleSql(edgeCte, walkLen)
    s"""WITH wk AS ($walks)
       SELECT center, context, count(*) AS n FROM (
         SELECT a.node AS center, b.node AS context
         FROM wk a JOIN wk b ON a.walk_id = b.walk_id
         WHERE a.step <> b.step AND abs(a.step - b.step) <= $window)
       GROUP BY center, context ORDER BY center, context"""
  }

  /** Oracle for [[negativeSamples]] over [[skipGramPairs]] walk
    * pairs: replays the mass table, cumulative intervals and
    * fingerprint draws; interval lookup is a plain range predicate
    * (fine at oracle scale — the banding is a Spark-side scale
    * device, not a semantic). */
  def negativeSamplesOracleSql(edgeCte: String, walkLen: Int,
      window: Int, k: Int): String = {
    def fp(s: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split($s, ''), c -> CAST(ord(c) AS BIGINT))),
          (a, b) -> (a * 31 + b) % 2147483647)"""
    val walks = walksOracleSql(edgeCte, walkLen)
    s"""WITH wk AS ($walks),
       pr AS (SELECT DISTINCT a.node AS center, b.node AS context
              FROM wk a JOIN wk b ON a.walk_id = b.walk_id
              WHERE a.step <> b.step AND abs(a.step - b.step) <= $window),
       ms AS (SELECT node, CAST(round(pow(cnt, 0.75) * 1000) AS BIGINT) AS mass
              FROM (SELECT context AS node, count(*) AS cnt
                    FROM pr GROUP BY context)
              WHERE round(pow(cnt, 0.75) * 1000) > 0),
       cum AS (SELECT node, mass,
                 CAST(coalesce(sum(mass) OVER (ORDER BY node
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS lo
               FROM ms),
       tot AS (SELECT CAST(max(lo + mass) AS BIGINT) AS m FROM cum),
       dr AS (SELECT center, context, j,
                ${fp("center || ':' || context || ':' || CAST(j AS VARCHAR)")}
                  % m AS draw
              FROM pr
              CROSS JOIN (SELECT unnest(range(1, ${k + 1})) AS j) js
              CROSS JOIN tot)
       SELECT d.center, d.context, CAST(d.j AS BIGINT) AS j, c.node AS neg
       FROM dr d JOIN cum c ON d.draw >= c.lo AND d.draw < c.lo + c.mass
       ORDER BY center, context, j"""
  }

  /** Weighted single-source shortest paths by FIXED-ROUND Bellman-Ford
    * relaxation (the weighted complement of the hop-BFS in
    * [[graft.graphx.GraphOps.shortestPathsByOrigId]]): each round
    * joins the current distance frontier to the edge table and keeps
    * the per-node minimum — one equi-join + one hash agg, the same
    * relational-iteration shape as [[kCorePeel]]. Exactly `rounds`
    * relaxations, so a generated unrolled DuckDB chain
    * ([[bellmanFordOracleSql]]) replays it verbatim; distances are
    * exact for every node whose shortest path uses ≤ `rounds` edges
    * (fixed-round semantics, gated identically on both sides).
    * `edges` columns: (src, dst, w) with integral non-negative w.
    * Returns (node, d) for nodes reached within `rounds` hops. */
  def bellmanFord(edges: DataFrame, source: String, rounds: Int): DataFrame = {
    require(rounds >= 0)
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .localCheckpoint(true)
    var dist = e.sparkSession.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(source, 0L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("d",
          org.apache.spark.sql.types.LongType, nullable = false))))
    var r = 0
    while (r < rounds) {
      val relaxed = dist.join(e, dist("node") === e("src"))
        .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("d")).as("d"))
        .localCheckpoint(true)
      r += 1
    }
    dist
  }

  /** The unrolled DuckDB oracle for [[bellmanFord]]: `edgeCte` must
    * yield (src, dst, w); `sourceSql` a scalar subquery/literal for
    * the source node id. */
  def bellmanFordOracleSql(edgeCte: String, sourceSql: String, rounds: Int): String = {
    val sb = new StringBuilder(
      s"WITH e AS ($edgeCte), d0 AS (SELECT $sourceSql AS node, CAST(0 AS BIGINT) AS d)")
    for (r <- 0 until rounds)
      sb.append(
        s""", d${r + 1} AS (SELECT node, min(d) AS d FROM (
            SELECT node, d FROM d$r
            UNION ALL
            SELECT e.dst, d$r.d + e.w FROM d$r JOIN e ON e.src = d$r.node)
            GROUP BY node)""")
    sb.append(s" SELECT node, d FROM d$rounds ORDER BY node")
    sb.toString
  }

  /** Shortest-path RECONSTRUCTION — [[bellmanFord]] answers "how
    * far?"; this answers "which way?", the face routing/lineage
    * queries actually need. Same fixed-round relaxation but the state
    * is (d, pred) with min taken under the (d, pred) lexicographic
    * order — the predecessor tie-break makes the tree, and therefore
    * the extracted path, fully deterministic. After `rounds`, the
    * farthest reachable node (ties → smallest id) anchors a backward
    * pred-chain walk (≤ rounds one-row broadcast joins — distance
    * strictly decreases along preds, so no cycles). Returns the
    * path's (node, d, pred) rows, source carries pred ''. Scale: the
    * relaxation is the bellmanFord shape (equi-join + struct-min
    * agg per round); the walk joins a 1-row frontier against the
    * distance table — broadcast by construction. */
  def shortestPathTrace(edges: DataFrame, source: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1)
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .localCheckpoint(true)
    val spark = edges.sparkSession
    var dist = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(source, 0L, "")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("d",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("pred",
          org.apache.spark.sql.types.StringType, nullable = false))))
    var r = 0
    while (r < rounds) {
      val relaxed = dist.join(e, dist("node") === e("src"))
        .select(col("dst").as("node"), (col("d") + col("w")).as("d"),
          dist("node").as("pred"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node"))
        .agg(min(struct(col("d"), col("pred"))).as("m"))
        .select(col("node"), col("m.d").as("d"), col("m.pred").as("pred"))
        .localCheckpoint(true)
      r += 1
    }
    // backward walk: ≤ rounds + 1 single-row point lookups against
    // the checkpointed distance table (bounded-smalls convention —
    // the path itself is ≤ rounds rows by construction; a join-per-
    // hop dataflow walk costs ~3 jobs/hop for the same answer)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    var cur = dist.orderBy(col("d").desc, col("node")).limit(1)
      .collect().headOption
    var hop = 0
    while (cur.isDefined && hop <= rounds) {
      val row = cur.get
      out += row
      val p = row.getString(2)
      cur = if (p.isEmpty) None
        else dist.filter(col("node") === p).limit(1).collect().headOption
      hop += 1
    }
    spark.createDataFrame(
      java.util.List.copyOf(scala.jdk.CollectionConverters
        .BufferHasAsJava(out).asJava),
      dist.schema)
  }

  /** The unrolled DuckDB oracle for [[shortestPathTrace]], generated
    * per round like [[bellmanFordOracleSql]]: the struct-min becomes
    * the two-stage (min d, then min pred among min-d rows), then the
    * backward walk unrolls as one single-row CTE per hop. */
  def shortestPathTraceOracleSql(edgeCte: String, sourceSql: String,
      rounds: Int): String = {
    // every CTE a later level references more than once is
    // MATERIALIZED — inlining would copy the subtree per reference
    // and the unrolled chain then re-scans the base table 3^rounds
    // times (observed as a "too many open files" blowup)
    val sb = new StringBuilder(
      s"WITH e AS MATERIALIZED ($edgeCte), " +
        s"d0 AS (SELECT $sourceSql AS node, " +
        "CAST(0 AS BIGINT) AS d, '' AS pred)")
    for (r <- 0 until rounds) {
      sb.append(
        s""", u${r + 1} AS MATERIALIZED (SELECT node, d, pred FROM d$r
            UNION ALL
            SELECT e.dst, d$r.d + e.w, d$r.node FROM d$r
            JOIN e ON e.src = d$r.node)""")
      sb.append(
        s""", m${r + 1} AS MATERIALIZED (SELECT node, min(d) AS d
            FROM u${r + 1} GROUP BY node)""")
      sb.append(
        s""", d${r + 1} AS MATERIALIZED (SELECT u.node, m.d,
              min(u.pred) AS pred
            FROM u${r + 1} u JOIN m${r + 1} m
              ON u.node = m.node AND u.d = m.d
            GROUP BY u.node, m.d)""")
    }
    sb.append(
      s""", p0 AS (SELECT node, d, pred FROM d$rounds
          ORDER BY d DESC, node LIMIT 1)""")
    for (h <- 1 to rounds)
      sb.append(
        s""", p$h AS (SELECT t.node, t.d, t.pred FROM d$rounds t
            JOIN p${h - 1} ON t.node = p${h - 1}.pred)""")
    sb.append(" SELECT DISTINCT node, d, pred FROM (")
    sb.append((0 to rounds).map(h => s"SELECT * FROM p$h")
      .mkString(" UNION ALL "))
    sb.append(") ORDER BY d, node")
    sb.toString
  }

  /** The unrolled DuckDB oracle for [[kCorePeel]]: the same fixed
    * number of peel rounds as a WITH chain over an edge CTE named
    * `e0`. Generated, not hand-written — rounds is a parameter. */
  /** Luby's maximal independent set (Luby '86), deterministic face:
    * per round r, an undecided vertex joins the MIS iff its priority
    * fingerprint(v:r) is STRICTLY below every undecided neighbor's;
    * winners and their neighbors leave the undecided set. Strict
    * comparison makes priority collisions safe (neither side enters,
    * both engines agree) at the cost of the colliding pair waiting a
    * round — determinism needs no tie-break. Per-round re-hashing is
    * exactly Luby's re-randomization, so the O(log n) expected-rounds
    * bound carries over.
    *
    * Scale shape per round: one groupBy computes each vertex's
    * neighbor-priority minimum (map-side partial min), one broadcast-
    * free join marks winners, one semi/anti pair shrinks the frontier;
    * iteration state is `localCheckpoint`ed like the CC-star loop.
    * MIS is the classic symmetry-breaking primitive distributed
    * schedulers and graph-coloring passes build on.
    *
    * @return (node, round) for every MIS member, round = join round
    */
  def maximalIndependentSet(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1)
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    var und = sym.select(col("src").as("v")).distinct().localCheckpoint(true)
    var e = sym
    var out: DataFrame = null
    var r = 1
    while (r <= rounds) {
      def p(c: org.apache.spark.sql.Column) =
        graft.functions.TextStats.fingerprint(concat(c, lit(":" + r)))
      val nbrMin = e.groupBy(col("src").as("v")).agg(min(p(col("dst"))).as("mn"))
      val winners = und.join(nbrMin, Seq("v"), "left")
        .filter(col("mn").isNull || p(col("v")) < col("mn"))
        .select(col("v")).localCheckpoint(true)
      val w = winners.withColumn("round", lit(r.toLong))
      out = if (out == null) w else out.unionByName(w)
      val removed = winners
        .unionByName(e.join(winners.select(col("v").as("src")), Seq("src"))
          .select(col("dst").as("v")))
        .distinct()
      und = und.join(removed, Seq("v"), "left_anti").localCheckpoint(true)
      e = e.join(und.select(col("v").as("src")), Seq("src"))
        .join(und.select(col("v").as("dst")), Seq("dst"))
        .select(col("src"), col("dst")).localCheckpoint(true)
      r += 1
    }
    out.select(col("v").as("node"), col("round"))
  }

  /** Unrolled DuckDB oracle for [[maximalIndependentSet]]. */
  def misOracleSql(edgeCte: String, rounds: Int): String = {
    def fp(s: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split($s, ''), c -> CAST(ord(c) AS BIGINT))),
          (a, b) -> (a * 31 + b) % 2147483647)"""
    // every per-round CTE is MATERIALIZED: each references the prior
    // round 2-3 times, and inlining would expand the plan (and the
    // base-table scan count) exponentially in `rounds`
    val sb = new StringBuilder(
      s"""WITH e AS MATERIALIZED ($edgeCte),
         ee0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM
                 (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)),
         und0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM ee0)""")
    for (r <- 1 to rounds)
      sb.append(s""",
         nm$r AS MATERIALIZED (SELECT src AS v, min(${fp(s"dst || ':$r'")}) AS mn
                  FROM ee${r - 1} GROUP BY src),
         w$r AS MATERIALIZED (SELECT u.v
                 FROM und${r - 1} u LEFT JOIN nm$r n ON n.v = u.v
                 WHERE n.v IS NULL OR ${fp(s"u.v || ':$r'")} < n.mn),
         rm$r AS MATERIALIZED (SELECT v FROM w$r
                  UNION
                  SELECT e.dst FROM ee${r - 1} e JOIN w$r w ON e.src = w.v),
         und$r AS MATERIALIZED (SELECT v FROM und${r - 1}
                  EXCEPT SELECT v FROM rm$r),
         ee$r AS MATERIALIZED (SELECT e.src, e.dst FROM ee${r - 1} e
                  JOIN und$r a ON e.src = a.v JOIN und$r b ON e.dst = b.v)""")
    sb.append((1 to rounds)
      .map(r => s" SELECT v AS node, CAST($r AS BIGINT) AS round FROM w$r")
      .mkString("", " UNION ALL", ""))
    sb.append(" ORDER BY node")
    sb.toString
  }

  def kCoreOracleSql(edgeCte: String, k: Int, rounds: Int): String = {
    val sb = new StringBuilder(s"WITH e0 AS ($edgeCte)")
    def degSql(r: Int) =
      s"SELECT node, count(*) AS deg FROM (SELECT src AS node FROM e$r UNION ALL SELECT dst FROM e$r) GROUP BY node"
    for (r <- 0 until rounds) {
      sb.append(s", a$r AS (SELECT node FROM (${degSql(r)}) WHERE deg >= $k)")
      sb.append(s", e${r + 1} AS (SELECT e.src, e.dst FROM e$r e JOIN a$r x ON e.src = x.node JOIN a$r y ON e.dst = y.node)")
    }
    sb.append(s" SELECT node, CAST(deg AS BIGINT) AS deg FROM (${degSql(rounds)}) ORDER BY node")
    sb.toString
  }

  /** Degree assortativity (Newman 2002) — does the graph wire
    * hub-to-hub (r > 0, social shape) or hub-to-leaf (r < 0,
    * infrastructure/web shape)? Pearson correlation of endpoint
    * degrees over the undirected edge list, with each canonical edge
    * contributing BOTH orientations (the standard symmetrization —
    * without it the canonical id-ordering biases the correlation).
    * All five correlation sums accumulate as exact integers in
    * DECIMAL(38,0)/HUGEINT (degree products at hub scale overflow
    * int64), so both engines reach identical doubles before the one
    * sqrt. Returns (n_edges, r) — r null for degree-regular graphs
    * (zero variance). */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val deg = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val both = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val pairs = both
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), Seq("dst"))
    val s = pairs.agg(count(lit(1)).as("m"),
      sum(col("dx").cast("decimal(38,0)")).as("sx"),
      sum(col("dy").cast("decimal(38,0)")).as("sy"),
      sum(col("dx").cast("decimal(38,0)") * col("dy").cast("decimal(38,0)"))
        .as("sxy"),
      sum(col("dx").cast("decimal(38,0)") * col("dx").cast("decimal(38,0)"))
        .as("sxx"),
      sum(col("dy").cast("decimal(38,0)") * col("dy").cast("decimal(38,0)"))
        .as("syy"))
    val varx = (col("m") * col("sxx") - col("sx") * col("sx")).cast("double")
    val vary = (col("m") * col("syy") - col("sy") * col("sy")).cast("double")
    val num = (col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
    s.select(expr("m div 2").as("n_edges"),
      when(varx > 0 && vary > 0,
        round(num / (sqrt(varx) * sqrt(vary)), 4)).as("r"))
  }

  /** Average-neighbor-degree curve knn(k) (Pastor-Satorras et al.,
    * PRL 2001) — the assortativity COMPANION that shows WHERE mixing
    * happens, not just its sign: for each degree class k, the mean
    * degree of the neighbors of degree-k nodes. Because every node in
    * a class shares the same k, the class mean needs no per-node
    * division: knn(k) = Σ_node S(node) / (k · n_k) with S(node) the
    * integer neighbor-degree sum — three integer aggregations and ONE
    * closing double division per class, so the curve is bit-exact.
    * Edges are canonicalized/deduped first. Returns (deg, n_nodes,
    * sum_nbr_deg, knn) per degree class. Scale: degree dim joins
    * against the bidirectional edge list (broadcast at small k-core
    * sizes, shuffled equi-join otherwise) + two hash aggs — no window,
    * no iteration. */
  def avgNeighborDegree(edges: DataFrame): DataFrame = {
    val e = edges.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val deg = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val both = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val perNode = both
      .join(deg.select(col("node").as("dst"), col("deg").as("nbr_deg")),
        Seq("dst"))
      .groupBy(col("src").as("node"))
      .agg(sum(col("nbr_deg").cast("decimal(38,0)")).as("snd"))
    perNode.join(deg, Seq("node"))
      .groupBy(col("deg"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("snd")).as("sum_nbr_deg"))
      .select(col("deg"), col("n_nodes"),
        col("sum_nbr_deg").cast("long").as("sum_nbr_deg"),
        round(col("sum_nbr_deg").cast("double") /
          (col("deg") * col("n_nodes")).cast("double"), 6).as("knn"))
  }

  /** Newman modularity of a GIVEN node partition over an undirected
    * graph — the community-quality score for any clustering face
    * (LPA, connected components, or an exogenous attribute):
    *   Q = Σ_c [ e_c/m − (d_c/(2m))² ]
    * with e_c intra-community edges, d_c the community degree sum and
    * m the edge count. Edges are canonicalized/deduped, degrees come
    * from one union-ends aggregation, and each community row carries
    * its exact integer (n_nodes, intra_edges, deg_sum) plus q_term =
    * e_c/m − (d_c/2m)² as IEEE-deterministic double ops on those
    * integers (rounded 9 dp) — the oracle replays every row exactly
    * and Σ q_term is the headline Q. Membership columns: (node,
    * community). Returns (community, n_nodes, intra_edges, deg_sum,
    * q_term). Scale: two broadcast-or-shuffle equi-joins of edges
    * against the membership dim plus hash aggregations — no window,
    * no iteration (the partition is an input, not a fixpoint). */
  def modularity(edges: DataFrame, membership: DataFrame): DataFrame = {
    val e = edges.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val mem = membership.select(col("node"), col("community"))
    val m = e.agg(count(lit(1)).as("m"))
    val deg = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val perC = deg.join(mem, Seq("node"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val intra = e
      .join(mem.select(col("node").as("src"), col("community").as("ca")), Seq("src"))
      .join(mem.select(col("node").as("dst"), col("community").as("cb")), Seq("dst"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("intra_edges"))
    val mD = col("m").cast("double")
    val dD = col("deg_sum").cast("double")
    perC.join(intra, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"), col("deg_sum"))
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"), col("intra_edges"), col("deg_sum"),
        round(col("intra_edges").cast("double") / mD -
          (dD / (lit(2.0) * mD)) * (dD / (lit(2.0) * mD)), 9).as("q_term"))
  }

  /** Time-respecting reachability (temporal graph — an edge is
    * traversable only at-or-after you arrive, so static reachability
    * overstates what information flow/contagion can actually do):
    * earliest-arrival relaxation arrive(v) = min over edges (u,v,t)
    * with t ≥ arrive(u) of t, iterated a fixed number of rounds —
    * the [[bellmanFord]] shape with the temporal guard as a join
    * residual, replayed verbatim by the generated unrolled chain.
    * Edge columns: (src, dst, t) with integral t; the source enters
    * at `startT`. Returns (node, arrive_t) for reached nodes. */
  def temporalReachability(edges: DataFrame, source: String, startT: Long,
      rounds: Int): DataFrame = {
    require(rounds >= 0)
    val e = edges.select(col("src"), col("dst"), col("t").cast("long").as("t"))
      .localCheckpoint(true)
    var arr = e.sparkSession.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(source, startT)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.LongType, nullable = false))))
    var r = 0
    while (r < rounds) {
      val relaxed = arr.join(e, arr("node") === e("src") && e("t") >= arr("a"))
        .select(col("dst").as("node"), col("t").as("a"))
      arr = arr.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("a")).as("a"))
        .localCheckpoint(true)
      r += 1
    }
    arr.select(col("node"), col("a").as("arrive_t"))
  }

  /** The unrolled DuckDB oracle for [[temporalReachability]]:
    * `edgeCte` yields (src, dst, t). */
  def temporalReachabilityOracleSql(edgeCte: String, sourceSql: String,
      startT: Long, rounds: Int): String = {
    val sb = new StringBuilder(
      s"""WITH e AS MATERIALIZED ($edgeCte),
          a0 AS (SELECT $sourceSql AS node, CAST($startT AS BIGINT) AS a)""")
    for (r <- 0 until rounds)
      sb.append(s""", a${r + 1} AS MATERIALIZED (
        SELECT node, min(a) AS a FROM (
          SELECT node, a FROM a$r
          UNION ALL
          SELECT e.dst, CAST(e.t AS BIGINT)
          FROM a$r JOIN e ON e.src = a$r.node AND e.t >= a$r.a)
        GROUP BY node)""")
    sb.append(s" SELECT node, a AS arrive_t FROM a$rounds ORDER BY node")
    sb.toString
  }

  /** Butterfly (2×2-biclique) counting over a bipartite edge set —
    * the bipartite cohesion metric (triangles cannot exist in a
    * bipartite graph, so butterfly density is what community/spam
    * detection uses there): a supplier pair sharing k parts closes
    * C(k,2) butterflies. One pair-count aggregate over the
    * per-part grouping (the co-occurrence join shape; hot right-side
    * keys are the documented q_g12 skew case) and one per-vertex
    * roll-up — C(k,2) stays in integers via (k·(k−1)) div 2.
    * Input columns: (left, right). Returns per left-vertex:
    * (node, n_partners, butterflies). */
  def butterflyCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("left"), col("right")).distinct()
      .localCheckpoint(true)
    val pairs = e.as("a").join(e.as("b"),
        col("a.right") === col("b.right") && col("a.left") < col("b.left"))
      .groupBy(col("a.left").as("s1"), col("b.left").as("s2"))
      .agg(count(lit(1)).as("co"))
    val contrib = pairs.withColumn("bf", expr("co * (co - 1) div 2"))
    contrib.select(col("s1").as("node"), col("bf"))
      .unionByName(contrib.select(col("s2").as("node"), col("bf")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_partners"), sum(col("bf")).as("butterflies"))
  }

  /** Per-vertex local clustering coefficient, pure DataFrame face
    * (the GraphX triangle gate's relational sibling): triangles
    * enumerated ONCE over the canonical orientation (the
    * [[edgeSupport]] join shape), each triple credits its three
    * vertices, and cc = 2·tri / (deg·(deg−1)) with deg < 2 pinned to
    * 0. Two hash aggregates + one join after the triangle listing —
    * no vertex-program runtime, shuffles only on node/edge keys. */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val e = edges.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val tri = e.as("e1")
      .join(e.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .join(e.as("e3"),
        col("e3.src") === col("e1.dst") && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    val triPerV = tri.select(col("a").as("node"))
      .unionByName(tri.select(col("b").as("node")))
      .unionByName(tri.select(col("c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    val deg = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    deg.join(triPerV, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("tri"), lit(0L))
            / (col("deg") * (col("deg") - 1)), 4))
          .otherwise(lit(0.0)).as("cc"))
  }

  /** Minimum spanning forest by distributed Borůvka (Borůvka 1926;
    * the MST algorithm that parallelizes — Kruskal and Prim are
    * inherently sequential). Weights are totalized to (w, src, dst)
    * so the MSF is UNIQUE and every tie deterministic; per round each
    * component picks its minimum outgoing edge under that order (cut
    * property ⇒ the edge is in the MSF), picked edges merge their
    * components via [[connectedComponentsStar]] (the proven O(log n)
    * contraction), and components at least halve — ≤ log₂ n rounds
    * to fixpoint. Returns the forest's (src, dst, w) rows,
    * |rows| = n − #components. Scale: per round two equi-joins of
    * the edge table against the component dim + one struct-min hash
    * aggregate (map-side combined); nothing driver-side but the
    * per-round empty probe. Oracle face: with the total order, e ∈
    * MSF ⇔ its endpoints are NOT connected using strictly smaller
    * edges (Kruskal's invariant) — per-edge recursive reachability,
    * which DuckDB replays exactly. */
  def boruvkaMsf(edges: DataFrame, maxRounds: Int = 20,
      localEdgeThreshold: Long = 5000000L): DataFrame = {
    // working edges carry BOTH the current component endpoints
    // (cs, cd — relabeled and contracted each round, so the graph
    // shrinks geometrically) and the original endpoints (os, od —
    // what the forest reports). Parallel component-edges collapse to
    // their minimum under the total order after every contraction:
    // Borůvka only ever picks minima, so the discard is lossless.
    def collapse(df: DataFrame) = df // columns (cs, cd, e)
      .select(least(col("cs"), col("cd")).as("cs"),
        greatest(col("cs"), col("cd")).as("cd"), col("e"))
      .filter(col("cs") =!= col("cd"))
      .groupBy(col("cs"), col("cd")).agg(min(col("e")).as("e"))
    var cur = collapse(edges
      .select(col("src").as("cs"), col("dst").as("cd"),
        struct(col("w").cast("long").as("w"), col("src").as("os"),
          col("dst").as("od")).as("e")))
      .localCheckpoint(true)
    var msf = cur.select(col("e.os").as("src"), col("e.od").as("dst"),
      col("e.w").as("w")).filter(lit(false)).localCheckpoint(true)
    var done = false
    var r = 0
    while (!done && r < maxRounds) {
      if (cur.isEmpty) done = true
      else {
        // each component's minimum incident edge (cut property ⇒ in
        // the unique MSF under the totalized order)
        val sel = cur.select(col("cs").as("c"), col("cs"), col("cd"),
            col("e"))
          .unionByName(cur.select(col("cd").as("c"), col("cs"), col("cd"),
            col("e")))
          .groupBy(col("c"))
          .agg(min(struct(col("e"), col("cs"), col("cd"))).as("m"))
          .select(col("m.e").as("e"), col("m.cs").as("cs"),
            col("m.cd").as("cd"))
          .distinct().localCheckpoint(true)
        // sel is checkpointed, so the msf union chain stays shallow
        // (one node per round) — no per-round checkpoint needed
        msf = msf.unionByName(sel.select(col("e.os").as("src"),
          col("e.od").as("dst"), col("e.w").as("w")))
        // contract: components of the selection graph (a pseudo-
        // forest over component ids, ≤ one edge per component)
        // become the new labels. Size-gated like GraphOps'
        // connectedComponentsByOrigId: below the threshold a driver
        // union-find replaces an O(log n)-round distributed fixpoint
        // whose per-job overhead dwarfs the work; above it the
        // CC-star path runs — that's the 100 TB branch. The MSF is
        // label-INVARIANT (labels only partition; every min is taken
        // under the (w, os, od) edge order), so the two branches
        // yield identical forests.
        val selPairs = sel.select(col("cs").as("u"), col("cd").as("v"))
        // limit(t+1).collect() probes size and fetches in ONE job with
        // bounded driver memory: > t rows back means take the
        // distributed branch and discard
        val probe = selPairs.limit(
          math.min(localEdgeThreshold + 1, Int.MaxValue.toLong).toInt)
          .collect()
        val mapping: DataFrame =
          if (probe.length <= localEdgeThreshold) {
            val spark = edges.sparkSession
            val pairs = probe
              .map(r => (r.get(0), r.get(1)))
              .sortBy(_.toString())
            val parent = scala.collection.mutable.HashMap.empty[Any, Any]
            def find(x: Any): Any = {
              var r0 = x
              while (parent.getOrElse(r0, r0) != r0) r0 = parent.getOrElse(r0, r0)
              var c = x
              while (parent.getOrElse(c, c) != r0) {
                val n = parent(c); parent(c) = r0; c = n
              }
              r0
            }
            pairs.foreach { case (a, b) =>
              val (ra, rb) = (find(a), find(b))
              if (ra != rb) {
                if (ra.toString < rb.toString) parent(rb) = ra
                else parent(ra) = rb
              }
            }
            val touched = pairs.iterator
              .flatMap(p => Iterator(p._1, p._2)).toSet
            val rows = touched.toSeq.map(v =>
              org.apache.spark.sql.Row(v, find(v)))
            val f = selPairs.schema.fields
            broadcast(spark.createDataFrame(
              spark.sparkContext.parallelize(rows, 1),
              org.apache.spark.sql.types.StructType(Seq(
                f(0).copy(name = "node"), f(1).copy(name = "component")))))
          } else connectedComponentsStar(selPairs)
            .select(col("node"), col("component"))
        cur = collapse(cur
          .join(mapping.select(col("node").as("cs"),
            col("component").as("__ms")), Seq("cs"), "left")
          .join(mapping.select(col("node").as("cd"),
            col("component").as("__md")), Seq("cd"), "left")
          .select(coalesce(col("__ms"), col("cs")).as("cs"),
            coalesce(col("__md"), col("cd")).as("cd"), col("e")))
          .localCheckpoint(true)
        r += 1
      }
    }
    msf
  }

  /** Global transitivity — 3·triangles / wedges, the whole-graph
    * clustering number that [[clusteringCoefficients]]' per-node
    * averages DON'T equal (average-of-ratios vs ratio-of-sums: the
    * average is dominated by low-degree nodes, transitivity by hubs;
    * comparing the two is itself a hub-behavior diagnostic). One
    * canonical triangle listing (each triangle once, the q_g23 join)
    * counted whole + exact integer wedge sum Σ C(deg,2); one closing
    * division. Returns (n_triangles, n_wedges, transitivity). */
  def transitivity(edges: DataFrame): DataFrame = {
    val e = edges.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val tri = e.as("e1")
      .join(e.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .join(e.as("e3"),
        col("e3.src") === col("e1.dst") && col("e3.dst") === col("e2.dst"))
      .agg(count(lit(1)).as("n_triangles"))
    val wed = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .agg(coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L))
        .as("n_wedges"))
    tri.crossJoin(wed)
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0,
          round(col("n_triangles").cast("double") * 3 /
            col("n_wedges").cast("double"), 6)).as("transitivity"))
  }

  /** Observed clustering vs the configuration-model NULL — "is the
    * transitivity REAL, or just what any graph with these degrees
    * would show?" (Newman's random-graph expectation):
    *   C_null = (⟨k²⟩ − ⟨k⟩)² / (n · ⟨k⟩³),
    * the clustering a degree-preserving rewiring would produce. A
    * ratio ≫ 1 is genuine local structure; ≈ 1 means the triangles
    * are a hub artifact — the judgment call [[transitivity]] alone
    * can't make. Degree moments are exact integer sums; the null and
    * ratio close in one double chain. Returns one row
    * (n_nodes, transitivity, c_null, ratio). */
  def clusteringVsNull(edges: DataFrame): DataFrame = {
    val e = edges.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val t = transitivity(e)
    val m = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("k"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("k")).as("s1"),
        sum(col("k").cast("decimal(38,0)") * col("k").cast("decimal(38,0)"))
          .as("s2"))
    val dd = (c: org.apache.spark.sql.Column) => c.cast("double")
    val k1 = dd(col("s1")) / dd(col("n_nodes"))
    val k2 = dd(col("s2")) / dd(col("n_nodes"))
    val cNull = (k2 - k1) * (k2 - k1) / (dd(col("n_nodes")) * k1 * k1 * k1)
    t.crossJoin(broadcast(m))
      .select(col("n_nodes"), col("transitivity"),
        round(cNull, 6).as("c_null"),
        when(cNull > 0 && col("transitivity").isNotNull,
          round(col("transitivity") / round(cNull, 6), 4)).as("ratio"))
  }

  /** Landmark-sample harmonic centrality (Eppstein–Wang style): run a
    * MULTI-SOURCE unweighted BFS from every landmark in ONE iterated
    * frontier keyed (landmark, node) — L sources cost L× the rows of
    * one BFS but the SAME number of rounds and shuffles, which is the
    * whole scale point: per round one equi-join on the edge table and
    * one min-aggregate, identical to [[bellmanFord]] with w=1. Fixed
    * `rounds` hops; per node the landmark-reach count and the
    * harmonic sum Σ 1/d accumulated EXACTLY as Σ (2520/d) in integers
    * (2520 = lcm(1..10), so any hop distance ≤ 10 divides it) —
    * float summation order never enters, both engines agree
    * bit-for-bit. `edges` is directed; pass a symmetrized list for
    * undirected graphs. Landmarks: one column `node`. */
  def landmarkHarmonic(edges: DataFrame, landmarks: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"rounds must be in [1,10]: $rounds")
    landmarkBfs(edges, landmarks, rounds).filter(col("d") > 0)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("2520 div d")).as("h2520"))
      .select(col("node"), col("n_reached"), col("h2520"),
        round(col("h2520") / lit(2520.0), 4).as("harmonic"))
  }

  /** The shared multi-source BFS frontier: (lm, node, d) exact hop
    * distances from every landmark, `rounds` relaxation rounds — one
    * edge equi-join + one min-aggregate per round regardless of the
    * landmark count. */
  private def landmarkBfs(edges: DataFrame, landmarks: DataFrame,
      rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    var dist = landmarks.select(col("node").as("lm"), col("node"),
      lit(0L).as("d"))
    var r = 0
    while (r < rounds) {
      val relaxed = dist.join(e, dist("node") === e("src"))
        .select(col("lm"), col("dst").as("node"), (col("d") + 1L).as("d"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("lm"), col("node")).agg(min(col("d")).as("d"))
        .localCheckpoint(true)
      r += 1
    }
    dist
  }

  /** Landmark-sampled betweenness centrality (Brandes 2001, the
    * sampled estimator of Brandes–Pich '07) — WHO SITS ON THE PATHS:
    * the brokerage centrality the suite's degree/PageRank/Katz/HITS
    * family can't see (a low-degree node bridging two clusters is
    * invisible to all of them). Per landmark s, a LEVEL-SYNCHRONOUS
    * BFS accumulates exact INTEGER shortest-path counts σ (sums of
    * predecessor counts — level-synchronous, not min-relaxation,
    * because σ may only gather from a FINALIZED previous level), then
    * the classic dependency backprop walks levels deepest-first:
    *   δ(v) = Σ_{succ w} σ(v)/σ(w) · (1 + δ(w)),
    * each term rounded 9 dp into DECIMAL(38,12) (the ndcg ladder —
    * replayable), bc(v) = Σ_landmarks δ(v). Rounds-bounded like
    * [[landmarkEccentricity]]: exact when rounds ≥ eccentricity, a
    * documented truncation otherwise — deterministic either way.
    * Landmarks excluded from the output (a source's own δ is not a
    * betweenness contribution). Returns (node, bc) for every node
    * with bc > 0. Scale per round: one frontier equi-join + one hash
    * aggregate, state localCheckpoint'ed; landmarks batch in ONE
    * keyed BFS (the landmarkHarmonic trick) so L sources cost L× rows,
    * not L× rounds. */
  def landmarkBetweenness(edges: DataFrame, landmarks: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"rounds must be in [1,10]: $rounds")
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val lvl0 = landmarks.select(col("node").as("lm"), col("node"),
      lit(0L).as("d"), lit(1L).as("sig")).localCheckpoint(true)
    // forward: per-level frontiers f(0..rounds), fin = union so far
    val levels = scala.collection.mutable.ArrayBuffer(lvl0)
    var fin = lvl0
    for (l <- 1 to rounds) {
      val prev = levels.last
      val next = prev.join(e, prev("node") === e("src"))
        .groupBy(col("lm"), col("dst").as("node"))
        .agg(sum(col("sig")).as("sig"))
        .join(fin.select(col("lm"), col("node")), Seq("lm", "node"),
          "left_anti")
        .select(col("lm"), col("node"), lit(l.toLong).as("d"), col("sig"))
        .localCheckpoint(true)
      levels += next
      fin = fin.unionByName(next).localCheckpoint(true)
    }
    // backward: δ per level, deepest first
    val zero = lit(BigDecimal(0)).cast("decimal(38,12)")
    var below = levels(rounds).select(col("lm"), col("node"), col("sig"),
      zero.as("delta")).localCheckpoint(true)
    val all = scala.collection.mutable.ArrayBuffer(below)
    for (l <- (rounds - 1) to 0 by -1) {
      val cur = levels(l)
      val contrib = cur.join(e, cur("node") === e("src"))
        .join(below.select(col("lm"), col("node").as("dst"),
          col("sig").as("__sigw"), col("delta").as("__dw")), Seq("lm", "dst"))
        .select(col("lm"), cur("node").as("node"),
          round(cur("sig").cast("double") / col("__sigw").cast("double") *
            (lit(1.0) + col("__dw").cast("double")), 9)
            .cast("decimal(38,12)").as("__t"))
        .groupBy(col("lm"), col("node")).agg(sum(col("__t")).as("__dsum"))
      below = cur.join(contrib, Seq("lm", "node"), "left")
        .select(col("lm"), col("node"), col("sig"),
          coalesce(col("__dsum"), zero).as("delta"))
        .localCheckpoint(true)
      all += below
    }
    all.reduce(_ unionByName _)
      .filter(col("node") =!= col("lm"))
      .groupBy(col("node")).agg(sum(col("delta")).as("__bc"))
      .filter(col("__bc") > 0)
      .select(col("node"), round(col("__bc").cast("double"), 6).as("bc"))
  }

  /** The unrolled DuckDB oracle for [[landmarkBetweenness]] — the
    * forward level chain + the backward dependency chain, every
    * multiply-referenced CTE MATERIALIZED. */
  def landmarkBetweennessOracleSql(edgeCte: String, landmarkCte: String,
      rounds: Int): String = {
    val sb = new StringBuilder(
      s"""WITH e AS MATERIALIZED ($edgeCte),
          f0 AS MATERIALIZED (SELECT node AS lm, node,
            CAST(0 AS BIGINT) AS d, CAST(1 AS BIGINT) AS sig
          FROM ($landmarkCte)),
          fin0 AS MATERIALIZED (SELECT * FROM f0)""")
    for (l <- 1 to rounds)
      sb.append(s""",
          c$l AS MATERIALIZED (SELECT f.lm, e.dst AS node,
              CAST(sum(f.sig) AS BIGINT) AS sig
            FROM f${l - 1} f JOIN e ON e.src = f.node
            GROUP BY f.lm, e.dst),
          f$l AS MATERIALIZED (SELECT c.lm, c.node,
              CAST($l AS BIGINT) AS d, c.sig
            FROM c$l c LEFT JOIN fin${l - 1} x
              ON x.lm = c.lm AND x.node = c.node
            WHERE x.node IS NULL),
          fin$l AS MATERIALIZED (SELECT * FROM fin${l - 1}
            UNION ALL SELECT * FROM f$l)""")
    sb.append(s""",
          b$rounds AS MATERIALIZED (SELECT lm, node, sig,
            CAST(0 AS DECIMAL(38,12)) AS delta FROM f$rounds)""")
    for (l <- (rounds - 1) to 0 by -1)
      sb.append(s""",
          g$l AS MATERIALIZED (SELECT f.lm, f.node,
              sum(CAST(round(CAST(f.sig AS DOUBLE) / CAST(s.sig AS DOUBLE)
                * (1 + CAST(s.delta AS DOUBLE)), 9) AS DECIMAL(38,12)))
                AS dsum
            FROM f$l f JOIN e ON e.src = f.node
            JOIN b${l + 1} s ON s.lm = f.lm AND s.node = e.dst
            GROUP BY f.lm, f.node),
          b$l AS MATERIALIZED (SELECT f.lm, f.node, f.sig,
              coalesce(g.dsum, CAST(0 AS DECIMAL(38,12))) AS delta
            FROM f$l f LEFT JOIN g$l g
              ON g.lm = f.lm AND g.node = f.node)""")
    sb.append(" SELECT node, round(CAST(sum(delta) AS DOUBLE), 6) AS bc FROM (")
    sb.append((0 to rounds).map(l => s"SELECT * FROM b$l")
      .mkString(" UNION ALL "))
    sb.append(""") WHERE node <> lm
        GROUP BY node HAVING sum(delta) > 0 ORDER BY node""")
    sb.toString
  }

  /** Rounds-bounded eccentricity per landmark + the classic diameter
    * LOWER bound (Magnien et al. '09: max observed eccentricity):
    * the same [[landmarkHarmonic]] multi-source BFS, aggregated per
    * LANDMARK instead of per node — ecc(l) = max hop distance
    * reached within `rounds` (exact whenever rounds ≥ true
    * eccentricity, a floor otherwise — document the rounds you ran).
    * The sampled-landmark diameter probe every graph-health report
    * starts with; all-integer. Returns per landmark
    * (lm, n_reached, ecc) plus one ("ALL", total, max) diameter row
    * flagged by lm = −1. */
  def landmarkEccentricity(edges: DataFrame, landmarks: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"rounds must be in [1,10]: $rounds")
    val per = landmarkBfs(edges, landmarks, rounds)
      .groupBy(col("lm"))
      .agg(sum(when(col("d") > 0, 1L).otherwise(0L)).as("n_reached"),
        max(col("d")).as("ecc"))
    per.unionByName(per.agg(sum(col("n_reached")).as("n_reached"),
        max(col("ecc")).as("ecc"))
      .select(lit(-1L).as("lm"), col("n_reached"), col("ecc")))
  }

  /** The unrolled DuckDB oracle for [[landmarkEccentricity]] — the
    * [[landmarkHarmonicOracleSql]] BFS chain with the per-landmark
    * tail and the −1 diameter row. */
  def landmarkEccOracleSql(edgeCte: String, landmarkCte: String,
      rounds: Int): String = {
    val sb = new StringBuilder(
      s"""WITH e AS MATERIALIZED ($edgeCte),
          d0 AS (SELECT node AS lm, node, CAST(0 AS BIGINT) AS d
                 FROM ($landmarkCte))""")
    for (r <- 0 until rounds)
      sb.append(s""", d${r + 1} AS MATERIALIZED (
        SELECT lm, node, min(d) AS d FROM (
          SELECT lm, node, d FROM d$r
          UNION ALL
          SELECT d$r.lm, e.dst, d$r.d + 1 FROM d$r JOIN e ON e.src = d$r.node)
        GROUP BY lm, node)""")
    sb.append(s""", per AS (SELECT lm,
          CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_reached,
          max(d) AS ecc
        FROM d$rounds GROUP BY lm)
      SELECT lm, n_reached, ecc FROM per
      UNION ALL
      SELECT CAST(-1 AS BIGINT), CAST(sum(n_reached) AS BIGINT), max(ecc)
      FROM per ORDER BY lm""")
    sb.toString
  }

  /** The unrolled DuckDB oracle for [[landmarkHarmonic]]: `edgeCte`
    * yields directed (src, dst), `landmarkCte` one column `node`. */
  def landmarkHarmonicOracleSql(edgeCte: String, landmarkCte: String,
      rounds: Int): String = {
    val sb = new StringBuilder(
      s"""WITH e AS MATERIALIZED ($edgeCte),
          d0 AS (SELECT node AS lm, node, CAST(0 AS BIGINT) AS d
                 FROM ($landmarkCte))""")
    for (r <- 0 until rounds)
      sb.append(s""", d${r + 1} AS MATERIALIZED (
        SELECT lm, node, min(d) AS d FROM (
          SELECT lm, node, d FROM d$r
          UNION ALL
          SELECT d$r.lm, e.dst, d$r.d + 1 FROM d$r JOIN e ON e.src = d$r.node)
        GROUP BY lm, node)""")
    sb.append(s"""
      SELECT node, count(*) AS n_reached,
             CAST(sum(2520 // d) AS BIGINT) AS h2520,
             round(CAST(sum(2520 // d) AS BIGINT)
               / CAST(2520.0 AS DOUBLE), 4) AS harmonic
      FROM d$rounds WHERE d > 0 GROUP BY node ORDER BY node""")
    sb.toString
  }

  /** Pure-DataFrame PageRank, fixed iterations, damping 0.85 — the
    * 100 TB path next to the GraphX face (`q_gx_pagerank`): GraphX is
    * RDD-era machinery, while this is three hash-join/aggregate
    * rounds Catalyst can optimize, AQE can skew-split, and any SQL
    * engine can replay. Exact replay via the decimal ladder: ranks
    * round 9 dp each iteration, per-edge contributions r/deg round
    * 12 dp and sum in DECIMAL(38,18) — both engines see identical
    * values at every step (float summation order never enters).
    * Dangling mass is not redistributed (every node of a symmetrized
    * graph has out-edges — pass one). Returns (node, pr) after
    * `iters` rounds. */
  def pagerankDf(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 5, s"iters must be in [1,5]: $iters")
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    val n = nodes.agg(count(lit(1)).as("n"))
    var r = nodes.crossJoin(broadcast(n))
      .select(col("node"), col("n"),
        round(lit(1.0) / col("n").cast("double"), 9).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = r.join(deg, Seq("node"))
        .join(e, col("node") === col("src"))
        .select(col("dst").as("node"),
          round(col("pr") / col("deg").cast("double"), 12)
            .cast("decimal(38,18)").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("cin"))
      r = r.join(contrib, Seq("node"), "left")
        .select(col("node"), col("n"),
          round(lit(0.15) / col("n").cast("double") +
            lit(0.85) * coalesce(col("cin").cast("double"), lit(0.0)), 9)
            .as("pr"))
        .localCheckpoint(true)
    }
    r.select(col("node"), col("pr"))
  }

  /** The unrolled DuckDB oracle for [[pagerankDf]]: `edgeCte` yields
    * directed (src, dst). One materialized CTE per iteration. */
  def pagerankDfOracleSql(edgeCte: String, iters: Int): String = {
    val sb = new StringBuilder(
      s"""WITH e AS MATERIALIZED ($edgeCte),
          deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
          nodes AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
          nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
          r0 AS (SELECT node, n, round(1.0 / CAST(n AS DOUBLE), 9) AS pr
                 FROM nodes, nn)""")
    for (i <- 1 to iters) {
      val p = i - 1
      sb.append(s""", c$i AS MATERIALIZED (SELECT e.dst AS node,
          sum(CAST(round(r.pr / CAST(deg.deg AS DOUBLE), 12)
            AS DECIMAL(38,18))) AS cin
        FROM r$p r JOIN deg ON r.node = deg.node
        JOIN e ON e.src = r.node GROUP BY e.dst)""")
      sb.append(s""", r$i AS MATERIALIZED (SELECT r.node, r.n,
          round(0.15 / CAST(r.n AS DOUBLE)
            + 0.85 * coalesce(CAST(c$i.cin AS DOUBLE), 0.0), 9) AS pr
        FROM r$p r LEFT JOIN c$i ON r.node = c$i.node)""")
    }
    sb.append(s"""
      SELECT node, pr FROM r$iters ORDER BY node""")
    sb.toString
  }

  /** Hop-distance histogram from landmark BFS + the EFFECTIVE
    * diameter marker (Leskovec–Faloutsos convention: the smallest d
    * whose cumulative pair mass reaches 90%) — the one-glance
    * small-world report. The integer flag cum·10 ≥ tot·9 avoids the
    * division; rows are the ≤`rounds` distinct distances, so the
    * closing window is bounded by the hop cap, not the graph.
    * Returns (d, n_pairs, cum, reaches_p90). */
  def hopHistogram(edges: DataFrame, landmarks: DataFrame,
      rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1 && rounds <= 10, s"rounds must be in [1,10]: $rounds")
    val hist = landmarkBfs(edges, landmarks, rounds).filter(col("d") > 0)
      .groupBy(col("d")).agg(count(lit(1)).as("n_pairs"))
    val tot = hist.agg(sum(col("n_pairs")).as("tot"))
    val w = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum", sum(col("n_pairs")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("d"), col("n_pairs"), col("cum"),
        (col("cum") * 10 >= col("tot") * 9).as("reaches_p90"))
  }

  /** One seeded label-propagation round, pure DataFrame — the
    * semi-supervised "spread the labels you have" step (Zhu–
    * Ghahramani '02 reduced to one exact round): every unlabeled
    * node takes the MAJORITY label among its labeled neighbors
    * (tie → smallest label), seeds keep theirs. Unlike the GraphX
    * convergence face (`q_gx_lpa`, whose fixpoint is seed-order
    * sensitive), a single round is exactly replayable: one edge⋈seed
    * join, one vote aggregate, one bounded argmax per node. Returns
    * (node, label, origin['seed'|'prop'], votes) — unreached nodes
    * don't appear. */
  def labelPropRound(edges: DataFrame, seeds: DataFrame): DataFrame = {
    val votes = edges.join(seeds.select(col("node").as("src"),
        col("label")), Seq("src"))
      .groupBy(col("dst").as("node"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val win = graft.plans.TopK.topKPerKey(votes, Seq(col("node")),
      Seq(col("votes").desc, col("label")), 1)
    seeds.select(col("node"), col("label"), lit("seed").as("origin"),
        lit(null).cast("long").as("votes"))
      .unionByName(win.join(seeds.select(col("node")), Seq("node"),
          "left_anti")
        .select(col("node"), col("label"), lit("prop").as("origin"),
          col("votes")))
  }

  /** Truncated Katz centrality (Katz '53) with β = 0.1, three terms —
    * "count my walks, discount the long ones": katz_i = Σ_k β^k ·
    * (#k-walks ending at i). The trick that keeps the gate EXACT:
    * walk counts are integers (w1 = in-degree, w_{k+1} = Σ over
    * in-neighbors of w_k — one join + aggregate per term) and β=0.1
    * makes the score a terminating decimal, so katz·1000 =
    * 100·w1 + 10·w2 + w3 is a plain BIGINT both engines hash
    * bit-for-bit; the reported double is one division. Returns
    * (node, w1, w2, w3, katz1000, katz). */
  def katzTruncated(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val w1 = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("w1"))
    def next(prev: DataFrame, in: String, out: String) =
      e.join(prev.select(col("node").as("src"), col(in)), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col(in)).as(out))
    val w2 = next(w1, "w1", "w2")
    val w3 = next(w2, "w2", "w3")
    w1.join(w2, Seq("node"), "left").join(w3, Seq("node"), "left")
      .select(col("node"), col("w1"),
        coalesce(col("w2"), lit(0L)).as("w2"),
        coalesce(col("w3"), lit(0L)).as("w3"))
      .withColumn("katz1000",
        col("w1") * 100 + col("w2") * 10 + col("w3"))
      .withColumn("katz", round(col("katz1000").cast("double") / 1000, 4))
  }

  /** Per-edge neighborhood Jaccard — the tie-strength score local
    * graph sparsification keeps edges by (Satuluri et al. SIGMOD'11):
    * for each canonical edge (u,v),
    *   J = |N(u)∩N(v)| / |N(u)∪N(v)| = common / (d_u + d_v − common)
    * over the symmetrized adjacency (u ∈ N(v) and v ∈ N(u), so the
    * union counts both endpoints; the intersection is the triangle
    * count through the edge). Shape: one wedge equi-join on the
    * shared neighbor (the q_g23 triangle class) + two degree
    * broadcasts — no cartesian anywhere. All-integer counts, one
    * rounded division. Returns (src, dst, common, deg_src, deg_dst,
    * jaccard). */
  def edgeJaccard(canonEdges: DataFrame): DataFrame = {
    val canon = canonEdges.select(col("src"), col("dst")).localCheckpoint(true)
    val adj = canon.unionByName(
      canon.select(col("dst").as("src"), col("src").as("dst")))
    val deg = adj.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val common = canon
      .join(adj.select(col("src").as("__u"), col("dst").as("__w")),
        col("src") === col("__u"))
      .join(adj.select(col("src").as("__v"), col("dst").as("__w2")),
        col("dst") === col("__v") && col("__w") === col("__w2"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("common"))
    canon.join(common, Seq("src", "dst"), "left")
      .join(deg.select(col("node").as("src"), col("deg").as("deg_src")),
        Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("deg_dst")),
        Seq("dst"))
      .select(col("src"), col("dst"),
        coalesce(col("common"), lit(0L)).as("common"),
        col("deg_src"), col("deg_dst"),
        round(coalesce(col("common"), lit(0L)).cast("double") /
          (col("deg_src") + col("deg_dst") -
            coalesce(col("common"), lit(0L))).cast("double"), 6).as("jaccard"))
  }

  /** The unrolled DuckDB oracle for [[kTrussPeel]]: `edgeCte` must
    * yield canonical (src, dst) with src < dst. Every round's edge
    * set is referenced three times by the triangle join and once by
    * the peel, so each CTE is MATERIALIZED — without it the chain
    * inlines exponentially in rounds (the q_g20 lesson). */
  def kTrussOracleSql(edgeCte: String, k: Int, rounds: Int): String = {
    val sb = new StringBuilder(s"WITH e0 AS MATERIALIZED ($edgeCte)")
    def triSql(r: Int) =
      s"""SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
          FROM e$r e1 JOIN e$r e2 ON e2.src = e1.src AND e1.dst < e2.dst
          JOIN e$r e3 ON e3.src = e1.dst AND e3.dst = e2.dst"""
    def supSql(r: Int) =
      s"""SELECT src, dst, count(*) AS sup FROM (
            SELECT a AS src, b AS dst FROM t$r
            UNION ALL SELECT a, c FROM t$r
            UNION ALL SELECT b, c FROM t$r)
          GROUP BY src, dst"""
    for (r <- 0 to rounds) {
      sb.append(s", t$r AS MATERIALIZED (${triSql(r)})")
      if (r < rounds)
        sb.append(s""", e${r + 1} AS MATERIALIZED (
          SELECT e.src, e.dst FROM e$r e JOIN (${supSql(r)}) s
          ON e.src = s.src AND e.dst = s.dst WHERE s.sup >= ${k - 2})""")
    }
    sb.append(s"""
      SELECT e.src, e.dst, CAST(coalesce(s.sup, 0) AS BIGINT) AS sup
      FROM e$rounds e LEFT JOIN (${supSql(rounds)}) s
      ON e.src = s.src AND e.dst = s.dst
      ORDER BY e.src, e.dst""")
    sb.toString
  }

  /** HITS hubs-and-authorities (Kleinberg '99) over a directed edge
    * set, fixed-round and ALL-INTEGER: per-round normalization (the
    * textbook L2 step) would force order-dependent double sums, but
    * the un-normalized iterate after r rounds is a path COUNT —
    * h_r(u) counts alternating forward/backward walks — so every
    * partial sum stays an exact integer in DECIMAL(38,0)/HUGEINT and
    * both engines divide once by the max at the very end (integers
    * stay < 2^53 for the gated graphs, so the doubles agree
    * bit-for-bit; keep `rounds` small — values grow like deg^2r).
    * Reference ranks pages by raw degree only
    * (dockerapp/app/main.py:331 link counts); this is the
    * link-structure ranking a graph store grows into. Returns
    * (node, hub, auth) for every node, 6-dp normalized scores. */
  def hitsScores(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1)
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    var h = nodes.select(col("node"), lit(1).cast("decimal(38,0)").as("h"))
    var a = nodes.select(col("node"), lit(0).cast("decimal(38,0)").as("a"))
    for (_ <- 1 to rounds) {
      a = nodes.join(
          e.join(h.withColumnRenamed("node", "src"), Seq("src"))
            .groupBy(col("dst").as("node")).agg(sum(col("h")).as("v")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("v"), lit(0)).cast("decimal(38,0)").as("a"))
        .localCheckpoint(true)
      h = nodes.join(
          e.join(a.withColumnRenamed("node", "dst"), Seq("dst"))
            .groupBy(col("src").as("node")).agg(sum(col("a")).as("v")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("v"), lit(0)).cast("decimal(38,0)").as("h"))
        .localCheckpoint(true)
    }
    val mx = h.agg(max(col("h")).as("mh")).crossJoin(a.agg(max(col("a")).as("ma")))
    h.join(a, Seq("node")).crossJoin(broadcast(mx))
      .select(col("node"),
        when(col("mh") > 0,
          round(col("h").cast("double") / col("mh").cast("double"), 6)).as("hub"),
        when(col("ma") > 0,
          round(col("a").cast("double") / col("ma").cast("double"), 6)).as("auth"))
  }

  /** Unrolled DuckDB replay of [[hitsScores]]: HUGEINT path-count
    * iterates via left-joined per-round aggregates, one final
    * divide-by-max. */
  def hitsOracleSql(edgeCte: String, rounds: Int): String = {
    val sb = new StringBuilder(
      s"""WITH e AS MATERIALIZED (SELECT src, dst FROM ($edgeCte)
            WHERE src <> dst),
          nodes AS MATERIALIZED (SELECT src AS node FROM e
            UNION SELECT dst FROM e),
          h0 AS (SELECT node, CAST(1 AS HUGEINT) AS h FROM nodes)""")
    for (r <- 1 to rounds) {
      sb.append(s""", a$r AS MATERIALIZED (
        SELECT n.node, CAST(coalesce(s.v, 0) AS HUGEINT) AS a
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, sum(h.h) AS v
          FROM e JOIN h${r - 1} h ON e.src = h.node GROUP BY e.dst) s
        USING (node))""")
      sb.append(s""", h$r AS MATERIALIZED (
        SELECT n.node, CAST(coalesce(s.v, 0) AS HUGEINT) AS h
        FROM nodes n LEFT JOIN (
          SELECT e.src AS node, sum(a.a) AS v
          FROM e JOIN a$r a ON e.dst = a.node GROUP BY e.src) s
        USING (node))""")
    }
    sb.append(s"""
      SELECT h.node,
        CASE WHEN (SELECT max(h) FROM h$rounds) > 0 THEN
          round(CAST(h.h AS DOUBLE)
            / CAST((SELECT max(h) FROM h$rounds) AS DOUBLE), 6) END AS hub,
        CASE WHEN (SELECT max(a) FROM a$rounds) > 0 THEN
          round(CAST(a.a AS DOUBLE)
            / CAST((SELECT max(a) FROM a$rounds) AS DOUBLE), 6) END AS auth
      FROM h$rounds h JOIN a$rounds a ON h.node = a.node
      ORDER BY h.node""")
    sb.toString
  }

  /** Rich-club coefficient (Colizza et al. '06): for each degree
    * threshold k, the edge density φ(k) = 2·E_k / (N_k·(N_k−1))
    * among the nodes of degree > k — do the hubs form their own
    * densely-wired club (φ rising with k) or merely fan out to
    * leaves? Degrees and subgraph edge counts are exact integers;
    * the k-sweep is a broadcast of `maxK` threshold rows against the
    * canonical edge list (one scan, no per-k recomputation), so the
    * shape scales as one join + two grouped counts regardless of
    * maxK. Returns (k, n_nodes, n_edges, phi), φ null when the club
    * has fewer than two members. */
  def richClub(edges: DataFrame, maxK: Int): DataFrame = {
    require(maxK >= 1)
    val spark = edges.sparkSession
    val e = edges.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val deg = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val ks = spark.range(1, maxK + 1).select(col("id").as("k"))
    val nk = deg.crossJoin(broadcast(ks)).filter(col("deg") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
    val ek = e
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), Seq("dst"))
      .crossJoin(broadcast(ks))
      .filter(least(col("dx"), col("dy")) > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_edges"))
    ks.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("phi",
        when(col("n_nodes") >= 2,
          round(lit(2.0) * col("n_edges").cast("double") /
            (col("n_nodes").cast("double") * (col("n_nodes") - 1).cast("double")),
            6)))
  }

  /** Graph-layout audit: what fraction of edges would CROSS executor
    * boundaries under k-way hash partitioning vs. contiguous range
    * partitioning of the node ids? Every distributed graph operator
    * in this repo (GraphX supersteps, the star-CC rounds, Pregel
    * SSSP) pays one network hop per cut edge per round — so cut
    * fraction × rounds IS the shuffle bill, and choosing a layout
    * before a 100-iteration PageRank is a measured decision, not a
    * guess. Hash assigns node → pmod(id, k) (the default shuffle
    * placement); range splits the observed id span into k equal
    * strips (what `repartitionByRange` + Z-order bucketing would
    * give — wins exactly when edge locality correlates with id
    * locality, e.g. crawl-order or community-renumbered ids).
    * Per scheme: cut fraction and the max partition's share of edge
    * endpoints (balance — a 0-cut layout that parks 90% of endpoints
    * on one executor still stalls). Two bounded aggregations over the
    * edge list; the id-span row broadcasts. Integer arithmetic
    * throughout → oracle replays exactly. Returns
    * (scheme, k, n_edges, cut_edges, cut_frac, max_load_share). */
  def partitionCutAudit(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val span = e.agg(min(least(col("src"), col("dst"))).as("lo"),
      max(greatest(col("src"), col("dst"))).as("hi"))
    val tagged = e.crossJoin(broadcast(span))
    // SQL-string partition functions so the range strip uses `div`
    // (integer division — long `/` would round-trip through double)
    def audit(scheme: String, part: String => String) = {
      val t = tagged.selectExpr(s"${part("src")} AS ps",
        s"${part("dst")} AS pd")
      val cut = t.agg(count(lit(1)).as("n_edges"),
        sum(when(col("ps") =!= col("pd"), 1L).otherwise(0L)).as("cut_edges"))
      val load = t.select(explode(array(col("ps"), col("pd"))).as("p"))
        .groupBy(col("p")).agg(count(lit(1)).as("c"))
        .agg(max(col("c")).as("max_c"), sum(col("c")).as("tot_c"))
      cut.crossJoin(broadcast(load))
        .select(lit(scheme).as("scheme"), lit(k.toLong).as("k"),
          col("n_edges"), col("cut_edges"),
          round(col("cut_edges").cast("double") /
            col("n_edges").cast("double"), 6).as("cut_frac"),
          round(col("max_c").cast("double") /
            col("tot_c").cast("double"), 6).as("max_load_share"))
    }
    audit("hash", c => s"pmod($c, ${k}L)")
      .unionByName(audit("range", c =>
        s"least((($c - lo) * ${k}L) div (hi - lo + 1), ${k - 1}L)"))
  }
}
