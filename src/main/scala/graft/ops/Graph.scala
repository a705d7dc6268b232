package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Iterative graph analytics over a planted link graph on the `documents`
  * fixture — the PageRank-style importance propagation a crawl-derived
  * training corpus uses for source weighting (quality-weighted sampling by
  * link authority, the original signal behind "high-quality web" subsets).
  *
  * The fixture has no edge table, so a deterministic 2-regular link graph
  * is planted by integer arithmetic on dense doc_ids (both engines replay
  * it exactly); a real deployment swaps in its crawl edge table and the
  * plan shape is unchanged.
  *
  * All rank arithmetic is FIXED-POINT: ranks live in integer micro-units
  * and every per-edge contribution is an integer division, so the result
  * is bit-exact on any engine and any partitioning — no float summation
  * order to diverge. Each round is one shuffle join (edges x ranks on src)
  * plus one aggregation (sum by tgt): the classic iterative-Spark shape,
  * same as [[Dedup]]'s connected-components rounds. At production round
  * counts the loop needs per-round `localCheckpoint` lineage truncation
  * exactly as `Dedup.propagateLabels` does; at the fixed 3 rounds here
  * the lineage stays shallow enough to skip it.
  */
object Graph {

  /** Damping numerator/denominator: rank flows 85/100 through edges, 15/100
    * restarts uniformly — the standard PageRank damping as exact integers. */
  val Rounds = 3
  val RankScale = 1000000L

  /** Fixed-point PageRank over the planted graph: every doc links to
    * `(7*id+13) mod n` and `(31*id+5) mod n` (self-loops displaced by one),
    * giving out-degree exactly 2. Per-round update:
    * `rank'(v) = 150000 + sum over in-edges u of (85 * rank(u)) div 200`.
    */
  /** The deterministic 2-regular planted edge table shared by
    * [[linkRank]] and [[khopReach]], materialized once: every round
    * joins this table, and without the checkpoint each round re-plans
    * the scan + edge generation; eager localCheckpoint also truncates
    * lineage, the same treatment Dedup's connected-components rounds
    * use. */
  /** Memo of checkpointed edge tables keyed by (session, canonicalized
    * input plan): [[linkRank]] and [[khopReach]] are both registered
    * queries over the same `documents` scan, and a Verify/Bench
    * session runs both — without the memo the identical edge table
    * materializes twice. Canonicalized plans are structurally hashable,
    * so a freshly-built-but-identical `Tables.documents` read hits. */
  private val edgeMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan), DataFrame]()

  private def plantedEdges(documents: DataFrame): DataFrame =
    edgeMemo.computeIfAbsent(
      (documents.sparkSession, documents.queryExecution.analyzed.canonicalized),
      _ => plantedEdgesUncached(documents))

  private def plantedEdgesUncached(documents: DataFrame): DataFrame = {
    val n = documents.agg(count(lit(1)).as("n"))
    documents.select(col("doc_id")).crossJoin(broadcast(n))
      .select(col("doc_id").as("src"),
        explode(array(pmod(col("doc_id") * 7 + 13, col("n")),
          pmod(col("doc_id") * 31 + 5, col("n")))).as("t"),
        col("n"))
      .select(col("src"),
        when(col("t") === col("src"), pmod(col("t") + 1, col("n")))
          .otherwise(col("t")).as("tgt"))
      .transform(Par.stage)
  }

  def linkRank(documents: DataFrame): DataFrame = {
    val edges = plantedEdges(documents)
    val nodes = documents.select(col("doc_id").as("node"))
    var ranks = nodes.select(col("node"), lit(RankScale).as("rank"))
    for (_ <- 1 to Rounds) {
      val contribs = edges.join(ranks, col("src") === col("node"))
        .select(col("tgt"), expr("(85 * rank) div 200").as("c"))
        .groupBy(col("tgt")).agg(sum(col("c")).as("contrib"))
      ranks = nodes.join(contribs, col("node") === col("tgt"), "left")
        .select(col("node"),
          (lit(RankScale * 15 / 100) + coalesce(col("contrib"), lit(0L))).as("rank"))
    }
    ranks.orderBy(col("node"))
  }

  /** Triangle counting on a co-purchase graph, in the degree-ordered
    * node-iterator formulation (Schank's forward algorithm / the MapReduce
    * shape of Suri & Vassilvitskii 2011) — the standard scalable
    * construction:
    *
    *   1. edges = distinct part pairs co-occurring in an order (pair
    *      generation happens INSIDE each order's collected item array —
    *      orders are small, so no fact-table self-join);
    *   2. every edge is oriented from its lower-(degree, id) endpoint to
    *      the higher one — the step that makes the algorithm scale: the
    *      oriented out-degree is bounded by O(√m) on any graph, so the
    *      wedge join below is O(m^1.5) worst-case instead of Σdeg²
    *      (a hub's wedges otherwise explode quadratically);
    *   3. wedges = oriented edges self-joined on their source, ordered so
    *      each wedge is generated once;
    *   4. triangles = wedges semi-joined against the oriented edge set
    *      (closure check in the one direction the orientation allows).
    *
    * Everything is joins + aggs on integer keys — no forced broadcasts
    * (AQE picks broadcast when the degree table is small, splits skewed
    * wedge partitions when it is not). The quantity filter keeps the
    * fixture's wedge space proportionate; the plan is volume-independent.
    */
  def triangleCount(lineitem: DataFrame): DataFrame = {
    val items = lineitem.filter(col("l_quantity") >= 30)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("p"))
    val perOrder = items.groupBy(col("okey"))
      .agg(array_sort(collect_set(col("p"))).as("ps"))
      .filter(size(col("ps")) >= 2)
    // Profiled (r18): `pairs` feeds three arms (degrees, the orientation
    // join, the n_edges count) and `oriented` FIVE (both wedge sides, the
    // closure semi-join, and through wedges both count arms) — the
    // un-materialized plan re-ran the orientation subtree per consumer
    // (five ~0.1-0.5 s twin stages reading the same 357 KiB). Stage both
    // once: they are edge-scale frames (distinct co-occurring part
    // pairs), exactly the intermediate a production triangle count
    // materializes between rounds; [[Par.stage]] puts them on reliable
    // storage when configured.
    val pairs = Par.stage(perOrder
      .select(explode(expr(
        """flatten(transform(ps,
          |  (x, i) -> transform(slice(ps, i + 2, size(ps)),
          |            y -> struct(x AS a, y AS b))))""".stripMargin)).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct())
    val deg = pairs.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val withDeg = pairs
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val fwd = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = Par.stage(withDeg.select(
      when(fwd, col("a")).otherwise(col("b")).as("src"),
      when(fwd, col("b")).otherwise(col("a")).as("tgt"),
      when(fwd, col("db")).otherwise(col("da")).as("dt")))
    val x = oriented.select(col("src"), col("tgt").as("wa"), col("dt").as("dwa"))
    val y = oriented.select(col("src"), col("tgt").as("wb"), col("dt").as("dwb"))
    val wedges = x.join(y, "src")
      .filter(col("dwa") < col("dwb") ||
        (col("dwa") === col("dwb") && col("wa") < col("wb")))
      .select(col("wa"), col("wb"))
    // Wedge and triangle counts from ONE execution of the O(m^1.5) wedge
    // join: a left join against the (distinct) oriented edge set marks
    // closures — at most one match per wedge, so count(*) is the wedge
    // count and count(closed) the triangle count. The previous shape
    // (separate count arm + left_semi arm) ran the wedge join twice,
    // once per consumer (guide §1.2: don't compute things twice).
    val closed = wedges.join(
        oriented.select(col("src").as("wa"), col("tgt").as("wb"),
          lit(1).as("closed")),
        Seq("wa", "wb"), "left")
      .agg(count(lit(1)).as("n_wedges"), count(col("closed")).as("n_triangles"))
    pairs.agg(count(lit(1)).as("n_edges")).crossJoin(closed)
  }

  /** Hop budget and seed count for [[khopReach]]. */
  val ReachHops = 3
  val ReachSeeds = 5

  /** Bounded K-hop reachability (multi-source BFS) from the
    * highest-in-degree hubs — the traversal primitive the graph section
    * lacked next to propagation ([[linkRank]]), components
    * ([[Dedup.clusterAssignments]]) and counting ([[triangleCount]]):
    * "how much of the corpus sits within K clicks of the hubs" is the
    * influence-radius question behind crawl frontier budgeting. Emits
    * the per-seed min-hop profile: for each seed and hop ≤
    * [[ReachHops]], how many nodes are FIRST reached at that hop.
    *
    * The loop is frontier-style BFS, not path enumeration: each round
    * joins only the newest frontier against the edge table and
    * anti-joins the visited set, so per-seed state is O(reached), never
    * O(paths) — the same visited-set discipline as label propagation.
    * Seeds come from a `TakeOrdered` top-[[ReachSeeds]] on (in-degree,
    * id) — a bounded driver-side head, not a corpus sort. At production
    * round counts the per-round `localCheckpoint` lineage truncation of
    * [[plantedEdges]] extends to the frontier, as in
    * [[Dedup.clusterAssignments]]; at 3 rounds lineage stays shallow.
    */
  def khopReach(documents: DataFrame): DataFrame = {
    val edges = plantedEdges(documents)
    val seeds = edges.groupBy(col("tgt").as("node"))
      .agg(count(lit(1)).as("indeg"))
      .orderBy(col("indeg").desc, col("node")).limit(ReachSeeds)
      .select(col("node").as("seed"))
    var visited = seeds
      .select(col("seed"), col("seed").as("node"), lit(0L).as("hop"))
    var frontier = visited
    for (h <- 1 to ReachHops) {
      val next = frontier.join(edges, frontier("node") === edges("src"))
        .select(col("seed"), col("tgt").as("node"), lit(h.toLong).as("hop"))
        .distinct()
      frontier = next
        .join(visited.select("seed", "node"), Seq("seed", "node"), "left_anti")
      visited = visited.unionByName(frontier)
    }
    visited.groupBy(col("seed"), col("hop"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("seed"), col("hop"))
  }

  /** Minimum co-occurrence and neighbors-per-item for
    * [[copurchaseSimilar]]. */
  val CoocMin = 2
  val SimilarK = 5

  /** Item-item co-purchase similarity with top-[[SimilarK]] neighbors
    * per item — the collaborative-filtering primitive ("customers who
    * bought X also bought Y") built from the same per-order pair
    * generation as [[triangleCount]]: pairs come from inside each
    * order's collected item array (orders are schema-bounded at a
    * handful of lineitems — the allowlisted bounded-collect shape),
    * never from a fact-table self-join. Similarity is squared cosine
    * over order-membership vectors in exact parts-per-million:
    * `1e6·cooc² div (deg_a·deg_b)` — cross-multiplied integers, no
    * sqrt to diverge at the ulp.
    *
    * Scale shape: pair volume is Σ(order_size²) ≈ linear in orders;
    * degrees join back broadcast-or-shuffle by AQE's choice; the final
    * per-item top-k is a `row_number() ≤ k` rank filter, which
    * `WindowTopKRewrite` re-plans onto the bounded-heap TopK physical
    * operator — shuffle input ≤ partitions·items·k rows, no sort.
    */
  def copurchaseSimilar(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val items = lineitem
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("p"))
    // ONE fact-table shuffle total: the per-order deduped part sets feed
    // both the pair generation AND the part degrees (deg = explode of the
    // already-deduped sets, map-side combinable — identical values to a
    // distinct(okey, p) count, without re-exchanging the fact table).
    // No persist: the two consumers share the aggregation EXCHANGE
    // (ReusedExchange — identical canonicalized subtrees), so the fact
    // table is scanned and shuffled once while the cheap post-shuffle
    // collect_set re-runs per consumer. At sf0.1 this beats paying the
    // cache-build serialization of every order's part array, and at 50×
    // it keeps the one-shuffle property without pinning executor memory.
    val perOrder = items.groupBy(col("okey"))
      .agg(array_sort(collect_set(col("p"))).as("ps"))
    val pairs = perOrder
      .filter(size(col("ps")) >= 2)
      .select(explode(expr(
        """flatten(transform(ps,
          |  (x, i) -> transform(slice(ps, i + 2, size(ps)),
          |            y -> struct(x AS a, y AS b))))""".stripMargin)).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(count(lit(1)).as("cooc"))
      .filter(col("cooc") >= CoocMin)
    val deg = perOrder.select(explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("d"))
    val scored = pairs
      .select(explode(array(
        struct(col("a").as("part"), col("b").as("nbr")),
        struct(col("b").as("part"), col("a").as("nbr")))).as("e"),
        col("cooc"))
      .select(col("e.part").as("part"), col("e.nbr").as("nbr"), col("cooc"))
      .join(deg.select(col("p").as("part"), col("d").as("dp")), "part")
      .join(deg.select(col("p").as("nbr"), col("d").as("dn")), "nbr")
      .withColumn("cos2_ppm",
        expr("(1000000 * cooc * cooc) div (dp * dn)"))
    val w = Window.partitionBy(col("part"))
      .orderBy(col("cos2_ppm").desc, col("cooc").desc, col("nbr"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= SimilarK)
      .select(col("part"), col("rnk").cast("long").as("rnk"), col("nbr"),
        col("cooc"), col("cos2_ppm"))
      .orderBy(col("part"), col("rnk"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "link_rank" -> ((s, d) => linkRank(Tables.documents(s, d))),
    "triangle_count" -> ((s, d) => triangleCount(Tables.lineitem(s, d))),
    "khop_reach" -> ((s, d) => khopReach(Tables.documents(s, d))),
    "copurchase_similar" -> ((s, d) => copurchaseSimilar(Tables.lineitem(s, d))),
  )

  /** Oracle: the same three rounds unrolled as chained CTEs — integer
    * arithmetic end to end, so equality is exact, not a tolerance check. */
  def oracleSql: Map[String, String] = {
    def round(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT n.node, ${RankScale * 15 / 100} + coalesce(s.contrib, 0) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.tgt AS node, sum((85 * r.rank) // 200)::BIGINT AS contrib
         |    FROM edges e JOIN $prev r ON r.node = e.src GROUP BY e.tgt
         |  ) s ON s.node = n.node
         |)""".stripMargin
    // BFS round for khop_reach: newest frontier × edges, minus visited.
    def bfsRound(h: Int): String =
      s"""n$h AS (
         |  SELECT DISTINCT f.seed, e.tgt AS node, ${h}::BIGINT AS hop
         |  FROM f${h - 1} f JOIN edges e ON e.src = f.node
         |), f$h AS (
         |  SELECT * FROM n$h n WHERE NOT EXISTS (
         |    SELECT 1 FROM v${h - 1} v WHERE v.seed = n.seed AND v.node = n.node)
         |), v$h AS (SELECT * FROM v${h - 1} UNION ALL SELECT * FROM f$h)""".stripMargin
    Map(
      "copurchase_similar" ->
        s"""WITH items AS (
           |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS p FROM lineitem
           |), pairs AS (
           |  SELECT x.p AS a, y.p AS b, count(*)::BIGINT AS cooc
           |  FROM items x JOIN items y ON x.okey = y.okey AND x.p < y.p
           |  GROUP BY 1, 2 HAVING count(*) >= $CoocMin
           |), deg AS (
           |  SELECT p, count(*)::BIGINT AS d FROM items GROUP BY p
           |), both_dirs AS (
           |  SELECT a AS part, b AS nbr, cooc FROM pairs
           |  UNION ALL
           |  SELECT b, a, cooc FROM pairs
           |), scored AS (
           |  SELECT s.part, s.nbr, s.cooc,
           |    (1000000 * s.cooc * s.cooc // (da.d * dn.d))::BIGINT AS cos2_ppm
           |  FROM both_dirs s
           |  JOIN deg da ON da.p = s.part
           |  JOIN deg dn ON dn.p = s.nbr
           |)
           |SELECT part, rnk::BIGINT AS rnk, nbr, cooc, cos2_ppm FROM (
           |  SELECT part, nbr, cooc, cos2_ppm,
           |    row_number() OVER (PARTITION BY part
           |      ORDER BY cos2_ppm DESC, cooc DESC, nbr) AS rnk
           |  FROM scored)
           |WHERE rnk <= $SimilarK ORDER BY part, rnk""".stripMargin,
      "khop_reach" ->
        s"""WITH params AS (SELECT count(*)::BIGINT AS n FROM documents),
           |e0 AS (
           |  SELECT doc_id AS src, (doc_id * 7 + 13) % n AS t FROM documents, params
           |  UNION ALL
           |  SELECT doc_id, (doc_id * 31 + 5) % n FROM documents, params
           |),
           |edges AS (
           |  SELECT src, CASE WHEN t = src THEN (t + 1) % (SELECT n FROM params)
           |    ELSE t END AS tgt
           |  FROM e0
           |),
           |ind AS (SELECT tgt AS node, count(*) AS indeg FROM edges GROUP BY tgt),
           |seeds AS (
           |  SELECT node AS seed FROM ind ORDER BY indeg DESC, node
           |  LIMIT $ReachSeeds
           |),
           |v0 AS (SELECT seed, seed AS node, 0::BIGINT AS hop FROM seeds),
           |f0 AS (SELECT * FROM v0),
           |${(1 to ReachHops).map(bfsRound).mkString(",\n")}
           |SELECT seed, hop, count(*)::BIGINT AS n_nodes
           |FROM v$ReachHops GROUP BY seed, hop ORDER BY seed, hop""".stripMargin,
      "link_rank" ->
        s"""WITH params AS (SELECT count(*)::BIGINT AS n FROM documents),
           |nodes AS (SELECT doc_id AS node FROM documents),
           |e0 AS (
           |  SELECT doc_id AS src, (doc_id * 7 + 13) % n AS t FROM documents, params
           |  UNION ALL
           |  SELECT doc_id, (doc_id * 31 + 5) % n FROM documents, params
           |),
           |edges AS (
           |  SELECT src, CASE WHEN t = src THEN (t + 1) % (SELECT n FROM params)
           |    ELSE t END AS tgt
           |  FROM e0
           |),
           |r0 AS (SELECT node, $RankScale::BIGINT AS rank FROM nodes),
           |${round("r0", "r1")},
           |${round("r1", "r2")},
           |${round("r2", "r3")}
           |SELECT node, rank FROM r3 ORDER BY node""".stripMargin,
      // The oracle regenerates pairs with a per-order self-join (fine at
      // oracle scale; the Spark side pairs inside the collected arrays).
      "triangle_count" ->
        """WITH li AS (
          |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS p
          |  FROM lineitem WHERE l_quantity >= 30
          |), pairs AS (
          |  SELECT DISTINCT o1.p AS a, o2.p AS b
          |  FROM li o1 JOIN li o2 ON o1.okey = o2.okey AND o1.p < o2.p
          |), deg AS (
          |  SELECT v, count(*) AS d FROM (
          |    SELECT a AS v FROM pairs UNION ALL SELECT b FROM pairs
          |  ) GROUP BY v
          |), oriented AS (
          |  SELECT
          |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN a ELSE b END AS src,
          |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN b ELSE a END AS tgt,
          |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN db.d ELSE da.d END AS dt
          |  FROM pairs JOIN deg da ON da.v = pairs.a JOIN deg db ON db.v = pairs.b
          |), wedges AS (
          |  SELECT x.tgt AS wa, y.tgt AS wb
          |  FROM oriented x JOIN oriented y ON x.src = y.src
          |  WHERE x.dt < y.dt OR (x.dt = y.dt AND x.tgt < y.tgt)
          |), tri AS (
          |  SELECT count(*) AS n_triangles FROM wedges w
          |  WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.src = w.wa AND o.tgt = w.wb)
          |)
          |SELECT (SELECT count(*) FROM pairs)::BIGINT AS n_edges,
          |  (SELECT count(*) FROM wedges)::BIGINT AS n_wedges,
          |  (SELECT n_triangles FROM tri)::BIGINT AS n_triangles""".stripMargin,
    )
  }
}
