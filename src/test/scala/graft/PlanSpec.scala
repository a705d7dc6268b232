package graft

/** Plan-shape regression tests — the 100 TB audit encoded as assertions,
  * so a refactor that silently degrades a plan (loses a broadcast, turns
  * the interval join into a nested loop, widens a scan) fails CI instead
  * of surfacing as a cluster incident. Asserted on the pre-execution
  * physical plan over the sf0.001 fixtures.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val p = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    p
  }

  test("interval join plans as an equi hash join, never a nested loop") {
    val p = plan("interval_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("NestedLoop"), p.take(2000))
  }

  test("anti join broadcasts the key side") {
    val p = plan("inactive_customers")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p.take(2000))
  }

  test("semi join stays a semi join (no fact-side multiplication)") {
    assert(plan("priority_return_counts").contains("LeftSemi"))
  }

  test("latest-per-key top-1 plans the TopK operator, not a sorted window") {
    // WindowTopKRewrite supersedes Spark's WindowGroupLimit pushdown these
    // queries used to get: the rank-filter pattern plans as partial+final
    // bounded heaps — no per-partition sort, shuffle input capped at one
    // row per (partition, key). cdc_snapshot exercises the conjunction
    // split (rn = 1 AND NOT __deleted).
    for (q <- Seq("cdc_snapshot", "doc_top_term")) {
      val p = plan(q)
      assert(p.contains("TopKPerGroupFinal"), s"$q:\n${p.take(2000)}")
      assert(!p.contains("WindowGroupLimit"), s"$q:\n${p.take(2000)}")
      assert(!p.contains("Window "), s"$q:\n${p.take(2000)}")
    }
  }

  test("rank() and dense_rank() filters plan the TopK operator tie-aware") {
    for (q <- Seq("topk_rank_ties", "topk_dense_rank")) {
      val p = plan(q)
      assert(p.contains("TopKPerGroupFinal"), s"$q:\n${p.take(2000)}")
      assert(!p.contains("WindowGroupLimit"), s"$q:\n${p.take(2000)}")
      assert(!p.contains("Window "), s"$q:\n${p.take(2000)}")
    }
  }

  test("domain cap and reservoir sample plan the TopK operator, ranks emitted") {
    for (q <- Seq("domain_cap", "reservoir_sample")) {
      val p = plan(q)
      assert(p.contains("TopKPerGroupPartial") && p.contains("TopKPerGroupFinal"),
        s"$q:\n${p.take(2000)}")
      assert(!p.contains("WindowGroupLimit") && !p.contains("Window "),
        s"$q:\n${p.take(2000)}")
    }
  }

  test("prefix-filter jaccard join never plans a nested loop or cartesian") {
    val p = plan("dedup_jaccard_prefix")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p.take(2000))
  }

  test("dedup apply carries no forced broadcast on the cluster join") {
    // The cluster table is O(duplicate-involved docs) — a constant fraction
    // of the corpus at web dup rates — so a broadcast HINT would override
    // Spark's size check and OOM at scale. The analyzed plan must be
    // hint-free; AQE remains free to pick broadcast when the table is
    // actually small (which it is on this fixture — that choice is Spark's,
    // not a hard-coded override).
    val qe = SparkEntry.queries("dedup_apply")(spark, sf).queryExecution
    val analyzed = qe.analyzed.toString
    assert(!analyzed.contains("ResolvedHint") && !analyzed.contains("UnresolvedHint"),
      analyzed.take(2000))
    spark.catalog.clearCache()
  }

  test("conversion funnel is windowless: chained aggs and equi joins only") {
    val p = plan("conversion_funnel")
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p.take(2000))
  }

  test("delta merge is join-free with map-side partial aggregation") {
    val p = plan("agg_delta_merge")
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(2000))
  }

  test("training order windows are shard-partitioned, never global") {
    val p = plan("training_order")
    assert(p.contains("hashpartitioning(shard"), p.take(2000))
  }

  test("region lookup broadcasts both dim levels") {
    val p = plan("region_lookup")
    assert("BroadcastExchange".r.findAllIn(p).length >= 2, p.take(2000))
  }

  test("rollup is a single Expand pass, not repeated aggregations") {
    val p = plan("order_priority_rollup")
    assert("Expand".r.findAllIn(p).length == 1, p.take(2000))
  }

  test("pricing summary scan prunes to the touched columns only") {
    // assert on the scan node's schema, not the (truncated) plan string
    val scans = SparkEntry.queries("pricing_summary")(spark, sf)
      .queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    assert(scans.nonEmpty)
    val cols = scans.head.output.map(_.name).toSet
    assert(cols.contains("l_quantity") && cols.size <= 6, cols.toString)
  }

  test("latest window scans and aggregates the events once") {
    // the newest window is picked from the one windowed aggregation's
    // output, not joined against a max taken from a second evaluation
    val plan = SparkEntry.queries("latest_window")(spark, sf).queryExecution.sparkPlan
    val scans = plan.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.length == 1, plan.toString.take(3000))
    assert(!plan.toString.contains("Join"), plan.toString.take(3000))
  }

  test("token packing window is sharded — no unpartitioned WindowExec") {
    val p = plan("token_packing")
    // every Window node must carry a partition spec (shard#...)
    val windows = p.linesIterator.filter(_.contains("Window ")).toList
    assert(windows.nonEmpty)
    assert(p.contains("shard"), p.take(2000))
  }

  test("ANN queries broadcast the probe side, never shuffle the corpus for it") {
    val p = plan("ann_cosine_topk")
    assert(p.contains("BroadcastExchange"), p.take(2000))
  }

  test("topk_per_group plans partial+final heaps and no sort below the limit") {
    val p = plan("topk_per_group")
    assert(p.contains("TopKPerGroupPartial") && p.contains("TopKPerGroupFinal"),
      p.take(2000))
    // the only Sort allowed is the final presentation orderBy above the operator
    assert(p.indexOf("Sort ") < p.indexOf("TopKPerGroupFinal"), p.take(2000))
  }

  test("contamination check broadcasts the eval shingle set") {
    val p = plan("contamination_check")
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("NestedLoop"), p.take(2000))
  }

  test("bloom decontamination probes map-side: might_contain above the scan, semi-join verify") {
    val p = plan("contamination_bloom")
    // The collected sketch probes as a codegen'd filter (foldable binary
    // literal → deserialize-once), and only survivors reach the exact
    // verify semi-join. No nested loop anywhere.
    assert(p.contains("might_contain") || p.contains("BloomFilterMightContain"),
      p.take(3000))
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(!p.contains("NestedLoop"), p.take(3000))
  }

  test("bitmap overlap joins word-aligned — no cartesian over users or types") {
    val p = plan("bitmap_overlap")
    // The T^2 pair space materializes only on the tiny totals side; the
    // word table joins equi on (chunk, slot). User-grain rows never
    // self-join.
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      p.take(3000))
  }

  test("fuzzy title pairs: distinct-title reps before the blocked self-join") {
    val p = plan("dedup_fuzzy_title")
    // The exact-dup collapse (groupBy title → min doc_id) must sit below
    // the pair join — the 50x-smoke lesson: without it a 50x-replicated
    // corpus spends 13 minutes emitting distance-0 pairs.
    assert(p.contains("levenshtein"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p.take(3000))
  }

  test("line dedup anti-joins against a broadcast boilerplate set") {
    val p = plan("line_dedup")
    assert(p.contains("LeftAnti") && p.contains("BroadcastExchange"), p.take(2000))
  }

  test("domain mix joins thresholds broadcast — the corpus is never shuffled") {
    val p = plan("domain_mix")
    assert(p.contains("BroadcastExchange"), p.take(2000))
  }

  test("pii scrub and length histogram stay map-side until the stated agg") {
    // narrow ops: no join of any kind in either plan
    Seq("pii_scrub", "length_histogram").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q grew a join:\n${p.take(2000)}")
    }
  }

  test("duplicate spans: doc-partitioned island window, no global sort funnel") {
    val p = plan("duplicate_spans")
    // the island window must be partitioned by doc_id (high-cardinality key)
    val windows = p.linesIterator.filter(_.contains("Window ")).toList
    assert(windows.nonEmpty && windows.forall(_.contains("doc_id")), windows.mkString("\n"))
    assert(!p.contains("NestedLoop"), p.take(2000))
  }

  test("sketch rollup partial-aggregates the sample map-side before the shuffle") {
    val p = plan("quantile_sketch_rollup")
    // typed Aggregator plans as ObjectHashAggregate with a partial pass
    // below the exchange: each map task ships one <=k sketch per group,
    // never raw rows
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(p.linesIterator.exists(l =>
      l.contains("ObjectHashAggregate") && l.contains("partial")), p.take(3000))
  }

  test("disjunctive predicate pushes into the parquet scan as one Or filter") {
    val p = plan("disjunctive_filter")
    val scanLine = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("Or("), s"no pushed Or:\n$scanLine")
    assert(scanLine.contains("l_quantity"), scanLine)
  }

  test("promo revenue broadcasts the part dim and filters at the scan") {
    val p = plan("promo_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    val scanLine = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("l_shipdate"), s"date filter not pushed:\n$scanLine")
  }

  test("zorder key is pure projection — no exchange, no window") {
    val p = plan("zorder_key")
    assert(!p.contains("Window"), p.take(2000))
    // only the presentation orderBy's range exchange is allowed
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.forall(_.contains("rangepartitioning")), exchanges.mkString("\n"))
  }
  test("doc chunking is generate+project only: no join, no window") {
    val p = plan("doc_chunks")
    assert(p.contains("Generate explode"), p.take(2000))
    assert(!p.contains("Join") && !p.contains("Window"), p.take(2000))
  }

  test("JL projection is map-side only: no join, no window, no aggregation") {
    val p = plan("embedding_project")
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("HashAggregate"), p.take(2000))
  }

  test("link rank rounds are equi joins + aggregations, nested-loop only vs the 1-row count") {
    val p = plan("link_rank")
    // the single BroadcastNestedLoopJoin is the deliberate 1-row count-agg
    // crossJoin; every rank round must plan as hash/sort-merge equi joins
    assert(p.split("BroadcastNestedLoopJoin").length <= 2, p.take(3000))
    assert(p.contains("HashAggregate"), p.take(2000))
  }
  test("knn graph plans the TopK operator even though the rank is kept") {
    // the rank column is part of the output; since the final stage numbers
    // its in-order survivors, the rewrite now fires here too — partial+final
    // bounded heaps instead of Spark's sort-based WindowGroupLimit pair,
    // and only <= k rows per group cross the exchange
    // (the bucket-cap count window of the candidate stage legitimately
    // remains — only the rank-filter window must be gone)
    val p = plan("knn_graph")
    assert(p.contains("TopKPerGroupPartial") && p.contains("TopKPerGroupFinal"),
      p.take(3000))
    assert(!p.contains("WindowGroupLimit"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p.take(3000))
  }

  test("index summaries run storage-partitioned: no hash exchange anywhere") {
    // The one-key-per-file layouts + reported KeyGroupedPartitioning mean
    // the clustered aggregations (including the two-phase countDistinct)
    // complete inside their grouped partitions; the only exchange left is
    // the final orderBy's range partitioning. A refactor that loses the
    // keyed read or breaks the layout proof re-introduces
    // "Exchange hashpartitioning" and fails here.
    for (q <- Seq("lsh_index_build", "ann_ivfpq_build_index",
        "ann_ivfpq_index_delta_feed")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q lost storage-partitioned execution:\n${p.take(3000)}")
    }
  }
}
