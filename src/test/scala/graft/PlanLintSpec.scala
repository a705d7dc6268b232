package graft

import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Expression, If}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList, CollectSet, Complete, Partial}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{LocalTableScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Plan linter over EVERY registered query: builds each physical plan at
  * sf0.001 (pre-AQE `sparkPlan`, which is fully traversable) and fails the
  * build on the three crisp scale anti-patterns that have bitten before:
  *
  *   1. An unpartitioned WindowExec — "Moving all data to a single
  *      partition": the whole input funnels through one task. Allowlisted
  *      only where the window's INPUT is provably tiny by construction
  *      (documented per entry below).
  *   2. A CartesianProductExec — a non-broadcast cross join never belongs
  *      in a registered query.
  *   3. An UNGUARDED `collect_list`/`collect_set` aggregate — the
  *      round-6 `session_paths` lesson: the OUTPUT may be sliced to k,
  *      but the aggregation BUFFER still materializes the whole group
  *      unless the collect's input is conditionally nulled (a
  *      `CASE WHEN rn <= k THEN … END` guard — collect skips NULLs, so
  *      the state is bounded at k). Collects whose group grain is
  *      bounded by construction (a document's own lines, an order's
  *      items, a histogram bucket) are allowlisted with the bound.
  *
  * This is the regression net for plan-shape drift: a new query (or a
  * refactor of an old one) that quietly plans a global window, a
  * cartesian product, or an unbounded collect now fails `sbt test`
  * instead of surfacing in a round's manual plan audit.
  */
class PlanLintSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries allowed an unpartitioned window, each with the reason the
    * single task is safe: the window input is a bounded aggregate, not
    * corpus-grain rows. */
  private val globalWindowAllowed: Map[String, String] = Map(
    "skew_profile" ->
      "window runs over the <=64-row magnitude-bucket histogram",
  )

  /** Queries allowed an unguarded collect_list/collect_set, each with the
    * reason the aggregation buffer is bounded anyway. The common shapes:
    * the group IS the unit being reconstructed (a document's own lines —
    * state is the size of the output row), the algorithm needs the full
    * per-group set (Jaccard over a doc's shingles, an order's item pairs),
    * or the input is already a bounded histogram / sample grain. */
  private val unboundedCollectAllowed: Map[String, String] = Map(
    "line_dedup" ->
      "per-doc line reassembly: buffer = the document being rebuilt",
    "paragraph_dedup" ->
      "per-doc paragraph reassembly: buffer = the document being rebuilt",
    "triangle_count" ->
      "per-order item set: wedge generation needs all pairs; order-bounded",
    "copurchase_similar" ->
      "per-order item set: pair generation needs all pairs; order-bounded",
    "rfm_segments" ->
      "level-2 fold over the O(range/1024) bucket-total histogram",
    "ann_pq_topk" ->
      "codebook assembly: group grain = (subspace, centroid), dim-bounded",
    "ann_ivfpq_topk" ->
      "PQ code assembly: collect_list per (vec_id) of exactly M=8 sub-codes",
    "ann_ivfpq_rerank" ->
      "same IVF-PQ core: collect_list per (vec_id) of exactly M=8 sub-codes",
    "ann_ivfpq_incremental" ->
      "same IVF-PQ core: collect_list per (vec_id) of exactly M=8 sub-codes",
    "ann_ivfpq_search_prebuilt" ->
      ("index reassembly: collect_list per centroid of exactly dim=64 " +
        "(cells) / subdim=8 (books) components — K·dim rows total"),
    "ann_ivfpq_index_append" ->
      ("same index reassembly as search_prebuilt (frozen cells/books " +
        "loaded from the persisted tables, dim-bounded groups)"),
    "ann_ivfpq_index_maintain" ->
      ("same index reassembly over the maintenance-compacted codes " +
        "table (frozen cells/books, dim-bounded groups)"),
    "lsh_index_probe" ->
      ("signature reassembly from the persisted sigs table: collect_list " +
        "per doc_id of exactly 12 MinHash components"),
    "lsh_index_append" ->
      ("same signature reassembly (base + appended batch read from the " +
        "persisted sigs table), 12-bounded groups"),
    "latest_window" ->
      ("per-window region set: regionFrame groups by (window, region_name), " +
        "so a group holds at most one row per region (9 names + Unknown)"),
  )

  /** Queries allowed a broadcast cross join whose build side is neither a
    * global (1-row) aggregate nor a driver-materialized local relation,
    * each with the reason the build side is small by construction. */
  private val crossJoinBuildAllowed: Map[String, String] = Map(
    "ann_ivf_topk" ->
      "build = 8-row fixture-centroid id-range filter (vec_id in [100,108))",
    "ann_lsh_topk" ->
      "build = NumQueries-row query filter (vec_id < 5)",
    "ann_cosine_topk" ->
      "build = NumQueries-row query filter (vec_id < 5)",
    "ann_pq_topk" ->
      "build = NumQueries-row query filter / dim-bounded codebooks",
    "ann_ivf_trained_topk" ->
      "build = NumQueries-row probe filter (vec_id < 5)",
    "cluster_balance" ->
      "build = 8-row fixture-centroid id-range filter",
    "semantic_dedup" ->
      "build = K-row trained-centroid table",
    "activity_calendar" ->
      "build = distinct event_type (closed enum, T rows) crossed with the day spine",
    "bitmap_overlap" ->
      "build = per-event_type totals (closed enum, T rows) in the T x T non-equi pair join",
    "ann_ivfpq_search_prebuilt" ->
      ("build = CoarseK-row (8) centroid reassembly loaded from the " +
        "index table, crossed only with the SearchQueries-row query set"),
    "ann_ivfpq_index_append" ->
      ("build = CoarseK-row (8) centroid reassembly loaded from the " +
        "persisted index, crossed only with the NumQueries-row query set"),
    "ann_ivfpq_index_maintain" ->
      ("build = CoarseK-row (8) centroid reassembly loaded from the " +
        "compacted index, crossed only with the NumQueries-row query set"),
  )

  /** Rule 4 — broadcast-scalar discipline: every cross join in a
    * registered query must broadcast a side that is PROVABLY tiny — a
    * global aggregate (exactly one row) or a driver-materialized local
    * relation (collected centroids/codebooks, O(K) rows). Anything else
    * broadcast-cross-joined against the corpus is a latent 100 TB
    * replication bomb and must either be rewritten or justified in the
    * allowlist. */
  private def crossJoinViolations(plan: SparkPlan): Seq[String] =
    plan.collect {
      case j: BroadcastNestedLoopJoinExec =>
        val build = if (j.buildSide == BuildLeft) j.left else j.right
        val ok = build.exists {
          case a: BaseAggregateExec => a.groupingExpressions.isEmpty
          case _: LocalTableScanExec => true
          case _: RDDScanExec => true // createDataFrame of collected rows
          case _ => false
        }
        if (ok) None
        else Some(s"cross-join build side is not a 1-row aggregate or local relation: ${build.nodeName}")
    }.flatten

  /** Unguarded collect_list/collect_set aggregate calls in `plan`: the
    * collect's input expression carries no CASE WHEN / IF guard (the
    * NULL-skipping bound), examined in Partial/Complete mode where the
    * original child is visible (Final mode sees only the merge buffer). */
  private def unguardedCollects(plan: SparkPlan): Seq[AggregateExpression] = {
    def guarded(e: Expression): Boolean =
      e.exists { case _: CaseWhen | _: If => true; case _ => false }
    plan.collect { case a: BaseAggregateExec =>
      a.aggregateExpressions.filter { ae =>
        (ae.mode == Partial || ae.mode == Complete) && (ae.aggregateFunction match {
          case c: CollectList => !guarded(c.child)
          case c: CollectSet  => !guarded(c.child)
          case _              => false
        })
      }
    }.flatten
  }

  test("no registered query plans an unpartitioned corpus window, a cartesian product, or an unbounded collect") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.sparkPlan
        val globalWindows = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
        }
        if (globalWindows.nonEmpty && !globalWindowAllowed.contains(name))
          failures += s"$name: unpartitioned window (single-task funnel)"
        val cartesians = plan.collect { case c: CartesianProductExec => c }
        if (cartesians.nonEmpty)
          failures += s"$name: CartesianProductExec in plan"
        val collects = unguardedCollects(plan)
        if (collects.nonEmpty && !unboundedCollectAllowed.contains(name))
          failures += s"$name: unguarded collect aggregate (unbounded buffer): " +
            collects.map(_.aggregateFunction.prettyName).distinct.mkString(",")
        val crossBuilds = crossJoinViolations(plan)
        if (crossBuilds.nonEmpty && !crossJoinBuildAllowed.contains(name))
          failures ++= crossBuilds.map(v => s"$name: $v")
      } catch {
        case e: Throwable => failures += s"$name: plan build failed: ${e.getMessage}"
      } finally spark.catalog.clearCache()
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("the unguarded-collect rule fires on a deliberately unbounded fixture") {
    import org.apache.spark.sql.functions._
    val df = spark.range(100).select((col("id") % 3).as("k"), col("id").as("v"))
    val unbounded = df.groupBy(col("k")).agg(collect_list(col("v")).as("vs"))
    assert(unguardedCollects(unbounded.queryExecution.sparkPlan).nonEmpty,
      "lint must flag a bare collect_list")
    val guarded = df
      .withColumn("rn", expr(
        "row_number() over (partition by k order by v)"))
      .groupBy(col("k"))
      .agg(collect_list(expr("CASE WHEN rn <= 8 THEN v END")).as("vs"))
    assert(unguardedCollects(guarded.queryExecution.sparkPlan).isEmpty,
      "lint must accept the CASE WHEN rn <= k guard")
  }

  test("the cross-join rule fires on an unbroadcast-worthy build side and accepts the scalar convention") {
    import org.apache.spark.sql.functions._
    val fact = spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
    // VIOLATION: broadcast cross join against a multi-row non-aggregated
    // relation — the replication-bomb shape the rule exists to catch.
    val bad = fact.crossJoin(broadcast(
      spark.range(500).select(col("id").as("other"))))
    assert(crossJoinViolations(bad.queryExecution.sparkPlan).nonEmpty,
      "lint must flag a multi-row non-aggregate cross-join build side")
    // CONVENTION: broadcast of a 1-row global aggregate — the scalar-anchor
    // shape used throughout the registry.
    val good = fact.crossJoin(broadcast(fact.agg(sum(col("id")).as("total"))))
    assert(crossJoinViolations(good.queryExecution.sparkPlan).isEmpty,
      "lint must accept crossJoin(broadcast(<1-row agg>))")
    // CONVENTION: broadcast of a driver-materialized local relation
    // (collected centroid tables).
    import spark.implicits._
    val local = Seq((1, 2.0), (2, 3.0)).toDF("c_id", "cv")
    val alsoGood = fact.join(broadcast(local), expr("true"))
    assert(crossJoinViolations(alsoGood.queryExecution.sparkPlan).isEmpty,
      "lint must accept a broadcast local relation")
  }
}
