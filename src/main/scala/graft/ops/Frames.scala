package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The reference's windowed-aggregation dataflows (SURVEY.md §2.5/§2.6/§2.7)
  * as pure DataFrame → DataFrame builders over the `events` fixture.
  *
  * Builders mirror, one-for-one:
  *   - KPI sliding multi-agg     (reference: src/streaming/transforms/kpi_aggregator.py:146-203)
  *   - region keyed sliding agg  (reference: region_aggregator.py:102-131)
  *   - traffic tumbling count    (reference: traffic_builder.py:35-44)
  *   - health conditional agg    (reference: health_aggregator.py:31-49)
  *   - geo header window count   (reference: geo_header.py:32-44)
  *   - platform running count    (reference: device_platform.py:36-44)
  *   - richest-window top-1      (reference: kpi_aggregator.py:60-67)
  *   - latest-window selection   (reference: region_aggregator.py:32-38)
  *
  * Streaming discipline is preserved: every aggregating builder applies
  * `withWatermark` after its one normalizing projection and once per frame
  * (reference: kpi_aggregator.py:180, FLOW.md:411-412) — a no-op under
  * batch input, the real thing when the same builder runs over `readStream`
  * (see graft.streaming). Window durations are scaled (seconds → minutes)
  * to the fixture's 30-day span; shapes and expressions are unchanged.
  *
  * Scale notes (100 TB lens): each frame is one scan → one filter and
  * narrow projection (no shuffle) → single windowed groupBy (one shuffle,
  * map-side partial agg). No joins, no collect, no UDFs; everything whole-stage
  * codegen. Sliding windows multiply rows by duration/slide (3× for KPI)
  * before the exchange — that fan-out is inherent to the operator and is
  * what Spark's own `window()` does.
  */
object Frames {

  import Synth.epochMs

  private val Regions = "30 minutes" -> "15 minutes"
  private val Kpi = "30 minutes" -> "10 minutes"
  private val Health = "30 minutes" -> "15 minutes"
  private val Geo = "60 minutes" -> "30 minutes"
  private val TrafficWindow = "15 minutes"
  private val WatermarkDelay = "10 minutes"

  /** P3/P4/P6/P7/U1: normalize orders, sessions and requests onto one
    * schema (reference: kpi_aggregator.py:149-179). `purchase` events play
    * orders, `signup` events play sessions, click/view/error play
    * request_log. The reference unions three projections because its events
    * arrive on three Kafka topics; here they arrive on one stream, so one
    * filter plus one `when` projection yields the same rows from one scan
    * (a union would scan every micro-batch once per arm). The DuckDB oracle
    * keeps the three-arm `UNION ALL` as the independent reference.
    */
  def kpiNormalize(events: DataFrame): DataFrame = {
    val t = col("event_type")
    val isOrder = t === "purchase"
    val isRequest = t.isin("click", "view", "error")
    def flag(c: Column) = when(c, lit(1)).otherwise(lit(0))
    Synth.eventTime(events)
      .filter(t.isin("purchase", "signup", "click", "view", "error"))
      .select(
        col("ts").as("event_time"),
        flag(t === "signup").as("active_session_count"),
        when(isOrder, col("value").cast("double")).otherwise(lit(0.0)).as("revenue_amount"),
        flag(isOrder).as("order_count"),
        flag(isRequest).as("request_count"),
        flag(t === "error").as("error_count"),
        when(isRequest, (col("value") * 100).cast("double")).as("latency_ms"))
  }

  /** A1/A2/F3/P14: sliding-window KPI multi-agg with derived errorRate
    * (greatest() div-by-zero guard) and median latency
    * (reference: kpi_aggregator.py:183-203). Exact `percentile` instead of
    * `percentile_approx` so the result is oracle-checkable; the approximate
    * variant is a drop-in (same plan shape, no sort of the group).
    */
  def kpiFrame(events: DataFrame, approxLatency: Boolean = false): DataFrame =
    kpiNormalize(events)
      .withWatermark("event_time", WatermarkDelay)
      .groupBy(window(col("event_time"), Kpi._1, Kpi._2))
      .agg(
        sum("active_session_count").cast("long").as("activeUsers"),
        round(sum("revenue_amount"), 2).as("revenue"),
        sum("order_count").cast("long").as("orders"),
        round(sum("error_count") / greatest(sum("request_count"), lit(1)) * 100, 2)
          .as("errorRate"),
        floor(expr(
          // The reference's own median is percentile_approx
          // (kpi_aggregator.py:192); the exact form is registered for the
          // oracle (approx estimates can't hash-match), the approx form as a
          // rows-only query + a bound test (FramesApproxSpec) documenting
          // the drop-in claim. Same plan shape either way — ApproxPercentile
          // is a partial-mergeable ImperativeAggregate, no group sort.
          if (approxLatency) "percentile_approx(latency_ms, 0.5, 10000)"
          else "percentile(latency_ms, 0.5)")).as("latency_raw"))
      .select(
        epochMs(col("window.end")).as("updatedAt"),
        col("activeUsers"), col("revenue"), col("orders"), col("errorRate"),
        coalesce(col("latency_raw"), lit(0L)).cast("long").as("latency"))

  /** A3/P12/F3: keyed sliding-window agg with the least() intensity clamp
    * (reference: region_aggregator.py:102-131). The reference unions
    * orders and requests from two topics; here one event stream feeds one
    * filter plus one projection, with the region computed once (a union
    * would scan each micro-batch once per arm). The DuckDB oracle keeps the
    * two-arm `UNION ALL` as the independent reference. */
  def regionFrame(events: DataFrame): DataFrame = {
    val isOrder = col("event_type") === "purchase"
    Synth.eventTime(events)
      .filter(col("event_type").isin("purchase", "click", "view", "error"))
      .select(
        col("ts").as("event_time"),
        coalesce(Synth.regionName(col("user_id")), lit("Unknown")).as("region_name"),
        when(isOrder, col("value").cast("double")).otherwise(lit(0.0)).as("sales"),
        when(isOrder, lit(0)).otherwise(lit(1)).as("request_count"))
      .withWatermark("event_time", WatermarkDelay)
      .groupBy(window(col("event_time"), Regions._1, Regions._2), col("region_name"))
      .agg(round(sum("sales"), 2).as("sales"),
        sum("request_count").cast("long").as("request_count"))
      .select(
        epochMs(col("window.end")).as("updatedAt"),
        col("region_name"), col("sales"),
        least(col("request_count") * lit(5.0), lit(100.0)).as("intensity"))
  }

  /** A4/F2: tumbling-window count with epoch-ms timestamp and 12-hour label
    * (reference: traffic_builder.py:35-44). */
  def trafficFrame(events: DataFrame): DataFrame =
    Synth.eventTime(events)
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), TrafficWindow))
      .agg(count(lit(1)).as("value"))
      .select(
        epochMs(col("window.end")).as("timestamp"),
        col("value"),
        date_format(col("window.end"), "hh:mm:ss a").as("label"))

  /** A5/A6(P14): conditional pivot-style averages + per-window distinct node
    * count (reference: health_aggregator.py:31-49). `exactDistinct = true`
    * (batch/oracle) uses exact count distinct; streaming MUST use the
    * reference's `approx_count_distinct` — Spark rejects exact distinct
    * aggregation on streams, which is precisely why the reference reaches
    * for HLL (A6).
    */
  def healthFrame(events: DataFrame, exactDistinct: Boolean = true): DataFrame =
    Synth.eventTime(events)
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), Health._1, Health._2))
      .agg(
        // Averaged over exact integer cents and reported in centi-units:
        // `value` carries 2 decimals, so round(avg(double), 2) lands on
        // round-half boundaries where engines disagree at ulp level; integer
        // sums are exact and rounding to a whole number of cents is
        // cross-engine deterministic.
        round(avg(when(col("event_type") === "view", round(col("value") * 100))), 0)
          .cast("long").as("cpu_raw"),
        round(avg(when(col("event_type") === "click", round(col("value") * 100))), 0)
          .cast("long").as("mem_raw"),
        (if (exactDistinct) countDistinct(col("user_id"))
         else approx_count_distinct(col("user_id"))).as("total_nodes"))
      .select(
        coalesce(col("cpu_raw"), lit(0L)).as("cpu_centi"),
        coalesce(col("mem_raw"), lit(0L)).as("memory_centi"),
        col("total_nodes"),
        when(col("total_nodes") > 0, lit(100.0)).otherwise(lit(0.0)).as("apiClusterScore"),
        when(col("total_nodes") > 0, lit("HEALTHY")).otherwise(lit("DOWN")).as("apiClusterStatus"),
        epochMs(col("window.end")).as("updatedAt"))

  /** A6, oracle-checkable form: computes the builtin HLL estimate AND the
    * exact distinct count in the same plan, and emits the exact count plus a
    * deterministic bounded-error check (`approx_within_rse`). The raw
    * estimate itself is not a column (it can't hash-match any exact SQL
    * oracle) but it still binds the hash: if `approx_count_distinct`
    * regressed past 3 absolute / 15% relative error — 3× the default 5% rsd,
    * far beyond any plausible HLL++ drift, yet tight enough that a broken
    * sketch flips it — the boolean column flips and the driver's hash check
    * fails. The DuckDB oracle replays the exact count and a literal TRUE.
    * See TOLERANCE.md.
    */
  def approxDistinctChecked(events: DataFrame): DataFrame =
    Synth.eventTime(events)
      .groupBy(window(col("ts"), "1 day"))
      .agg(
        approx_count_distinct("user_id").as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .select(
        epochMs(col("window.end")).as("updatedAt"),
        col("exact_users"), col("n_events"),
        (abs(col("approx_users") - col("exact_users")) <=
          greatest(lit(3L), ceil(col("exact_users") * 0.15).cast("long")))
          .as("approx_within_rse"))

  /** Mergeable-sketch rollup — the warehouse distinct-count pattern exact
    * counts can't do: per-day HLL sketches (Apache DataSketches binary
    * column) built ONCE, then unioned to coarser grains without touching
    * the raw data again. At 100 TB the daily sketch table is the stored
    * intermediate; weekly/monthly/all-time distincts are cheap unions of
    * kilobyte sketches, where an exact or approx_count_distinct re-rollup
    * would rescan the fact table per grain. Rows-only (estimates have no
    * exact SQL oracle); FramesSpec bounds the estimates against exact
    * distinct counts and pins that union(day sketches) == direct week
    * estimate.
    */
  def hllRollup(events: DataFrame): DataFrame = {
    val daily = Synth.eventTime(events)
      .groupBy(date_trunc("week", col("ts")).as("week"),
        date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        count(lit(1)).as("n_events"))
    daily.groupBy(col("week"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_weekly_users"),
        sum(col("n_events")).as("n_events"),
        count(lit(1)).as("n_days"))
      .select(unix_micros(col("week")).as("week_us"),
        col("est_weekly_users"), col("n_events"), col("n_days"))
      .orderBy(col("week_us"))
  }

  /** A7/F1: sliding-window count formatted into the geo header payload
    * (reference: geo_header.py:32-44). */
  def geoFrame(events: DataFrame): DataFrame =
    Synth.eventTime(events)
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), Geo._1, Geo._2))
      .agg(count(lit(1)).as("request_count"))
      .select(
        lit(99.999).as("uptime"),
        concat(format_number(coalesce(col("request_count"), lit(0L)) / 1000.0, 1),
          lit(" TB/S")).as("globalLoad"),
        coalesce(col("request_count"), lit(0L)).cast("long").as("globalLoadBytes"),
        lit("V4-Orbit").as("engineVersion"),
        lit("Secure").as("protocolStatus"),
        epochMs(col("window.end")).as("updatedAt"))

  /** A8/P5/T5: global (unwindowed) platform breakdown — the `complete`-mode
    * running count (reference: device_platform.py:36-44). */
  def platformFrame(events: DataFrame): DataFrame =
    events
      .select(Synth.platform(col("event_id"), col("user_id")).as("platform"))
      .filter(col("platform").isNotNull)
      .groupBy(col("platform"))
      .count()
      .select(col("platform").as("name"), col("count").as("value"))

  /** Pivot: platform × event_type count matrix in one pass. The value list
    * is EXPLICIT — `pivot(col)` without one runs a whole extra distinct-scan
    * job just to discover the columns, and makes the output schema
    * data-dependent (a new event type would silently widen the table).
    * Pivot lowers to the same single groupBy with conditional aggregates
    * the oracle states directly.
    */
  def platformPivot(events: DataFrame): DataFrame =
    events
      .select(Synth.platform(col("event_id"), col("user_id")).as("platform"),
        col("event_type"))
      .filter(col("platform").isNotNull)
      .groupBy(col("platform"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .count()
      .na.fill(0L)
      .orderBy(col("platform"))

  /** A9/T1: the richest-then-latest window pick the KPI writer makes per
    * micro-batch (reference: kpi_aggregator.py:60-67), as a plan-level
    * TakeOrderedAndProject instead of a driver-side collect.
    */
  def top1RichestWindow(events: DataFrame): DataFrame = richestWindow(kpiFrame(events))

  /** The A9/T1 selection rule over KPI rows: most activeUsers + orders +
    * latency first, the latest window on ties, one row. Shared by
    * [[top1RichestWindow]] and `KvSink.kpiWriter`. */
  def richestWindow(kpis: DataFrame): DataFrame =
    kpis.orderBy((col("activeUsers") + col("orders") + col("latency")).desc,
      col("updatedAt").desc)
      .limit(1)

  /** T3: keep only the rows of the latest window (reference:
    * region_aggregator.py:32-38 does this driver-side over collected rows).
    */
  def latestWindow(events: DataFrame): DataFrame =
    latestRows(regionFrame(events)).orderBy(col("region_name"))

  /** The T3 selection rule over region rows: the rows whose `updatedAt` is
    * the maximum, in one pass over `regions`. Each window's rows are
    * gathered per `updatedAt` (a keyed shuffle, so no single-task funnel),
    * the newest window's list is kept by a global `max_by` over O(windows)
    * partial rows, and exploded back to its O(regions) rows. A max-join
    * would evaluate `regions` twice: for a stream writer that runs the
    * state store twice per batch. Shared by [[latestWindow]] and
    * `KvSink.regionsWriter`. */
  def latestRows(regions: DataFrame): DataFrame =
    regions.groupBy(col("updatedAt"))
      .agg(collect_list(struct(regions.columns.map(col): _*)).as("rows"))
      .agg(max_by(col("rows"), col("updatedAt")).as("rows"))
      .select(explode(col("rows")).as("row"))
      .select(col("row.*"))

  // ---------------------------------------------------------------- registry

  /** Batch registry: builders stay sort-free so they are legal streaming
    * plans (sorting is unsupported before a streaming sink in update mode);
    * deterministic output order for the oracle is applied here.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kpi_sliding" -> ((s, d) => kpiFrame(Tables.events(s, d)).orderBy(col("updatedAt"))),
    // Oracle-checked: percentile_approx's GK summary is EXACT while a
    // group holds fewer rows than the accuracy parameter (rank error
    // eps*n with eps = 1/accuracy, so < 1 row of error below n = 10000 —
    // the FramesApproxSpec bound), and its exact answer is the
    // lower-median element, which is DuckDB's quantile_disc. Windows at
    // every fixture SF are far below 10000 rows; past that scale this
    // row would revert to rows-only + the bound spec.
    "kpi_sliding_approx" -> ((s, d) =>
      kpiFrame(Tables.events(s, d), approxLatency = true).orderBy(col("updatedAt"))),
    "region_sliding" -> ((s, d) =>
      regionFrame(Tables.events(s, d)).orderBy(col("updatedAt"), col("region_name"))),
    "traffic_tumbling" -> ((s, d) =>
      trafficFrame(Tables.events(s, d)).orderBy(col("timestamp"))),
    "health_frame" -> ((s, d) => healthFrame(Tables.events(s, d)).orderBy(col("updatedAt"))),
    "approx_distinct_users" -> ((s, d) =>
      approxDistinctChecked(Tables.events(s, d)).orderBy(col("updatedAt"))),
    // hllRollup (builtin DataSketches HLL day→week union) is spec-covered
    // in FramesSpec; the REGISTERED mergeable distinct rollup is the KMV
    // form (`kmv_distinct_rollup`, functions/Sketches.scala), whose
    // estimate is exact integer arithmetic a DuckDB oracle can replay —
    // hard hash-verified instead of rows-only.
    "geo_header" -> ((s, d) => geoFrame(Tables.events(s, d)).orderBy(col("updatedAt"))),
    "platform_breakdown" -> ((s, d) => platformFrame(Tables.events(s, d)).orderBy(col("name"))),
    "platform_pivot" -> ((s, d) => platformPivot(Tables.events(s, d))),
    "top1_richest_window" -> ((s, d) => top1RichestWindow(Tables.events(s, d))),
    "latest_window" -> ((s, d) => latestWindow(Tables.events(s, d)))
  )

  /** DuckDB oracles. Sliding windows: each event belongs to exactly
    * duration/slide epoch-aligned windows, generated with a per-event
    * `generate_series` unnest — the INNER join semantics (only windows that
    * contain ≥1 event) match Spark's `window()`.
    */
  def oracleSql: Map[String, String] = {
    // Parameterized on the median function: the exact form interpolates
    // (quantile_cont, mirroring Spark's `percentile`); the approx form
    // picks the lower-median element (quantile_disc, mirroring what the
    // GK summary returns while exact — see the registry note).
    def kpiCteWith(quantileFn: String) =
      s"""WITH n AS (
        |  SELECT ts AS event_time, 0 AS asc_, value AS rev, 1 AS ord, 0 AS req, 0 AS err, NULL::DOUBLE AS lat
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT ts, 1, 0.0, 0, 0, 0, NULL FROM events WHERE event_type = 'signup'
        |  UNION ALL
        |  SELECT ts, 0, 0.0, 0, 1, CASE WHEN event_type = 'error' THEN 1 ELSE 0 END, value * 100
        |  FROM events WHERE event_type IN ('click','view','error')
        |), w AS (
        |  SELECT (((epoch_us(event_time) // 1000000) // 600) * 600 - 600 * g.g) AS wstart, n.*
        |  FROM n, generate_series(0, 2) g(g)
        |), agg AS (
        |  SELECT (wstart + 1800) * 1000 AS "updatedAt",
        |    sum(asc_)::BIGINT AS "activeUsers",
        |    round(sum(rev), 2) AS revenue,
        |    sum(ord)::BIGINT AS orders,
        |    round(sum(err) / greatest(sum(req), 1) * 100, 2) AS "errorRate",
        |    coalesce(floor($quantileFn(lat, 0.5)), 0)::BIGINT AS latency
        |  FROM w GROUP BY wstart
        |)""".stripMargin
    val kpiCte = kpiCteWith("quantile_cont")
    val regionCte =
      s"""WITH n AS (
         |  SELECT ts AS event_time,
         |    coalesce(${Synth.regionNameSql("user_id")}, 'Unknown') AS region_name,
         |    value AS sales, 0 AS req
         |  FROM events WHERE event_type = 'purchase'
         |  UNION ALL
         |  SELECT ts, coalesce(${Synth.regionNameSql("user_id")}, 'Unknown'), 0.0, 1
         |  FROM events WHERE event_type IN ('click','view','error')
         |), w AS (
         |  SELECT (((epoch_us(event_time) // 1000000) // 900) * 900 - 900 * g.g) AS wstart, n.*
         |  FROM n, generate_series(0, 1) g(g)
         |), agg AS (
         |  SELECT (wstart + 1800) * 1000 AS "updatedAt", region_name,
         |    round(sum(sales), 2) AS sales,
         |    least(sum(req)::BIGINT * 5.0, 100.0) AS intensity
         |  FROM w GROUP BY wstart, region_name
         |)""".stripMargin
    Map(
      "kpi_sliding" ->
        s"""$kpiCte
           |SELECT * FROM agg ORDER BY "updatedAt"""".stripMargin,
      "kpi_sliding_approx" ->
        s"""${kpiCteWith("quantile_disc")}
           |SELECT * FROM agg ORDER BY "updatedAt"""".stripMargin,
      // S9 payload: the oracle re-renders the exact JSON string the Kafka
      // sink would send. Longs render identically everywhere; the two
      // double fields (revenue, errorRate) are round(x, 2) values whose
      // shortest decimal form is what both Java's Double.toString and
      // DuckDB's VARCHAR cast emit, so the concatenation is byte-identical.
      "kpi_kafka_payload" ->
        s"""$kpiCte
           |SELECT "updatedAt"::VARCHAR AS key,
           |  '{"activeUsers":' || "activeUsers"::VARCHAR
           |  || ',"activeUsersTrend":0.0,"revenue":' || revenue::VARCHAR
           |  || ',"revenueTrend":0.0,"orders":' || orders::VARCHAR
           |  || ',"ordersTrend":0.0,"errorRate":' || "errorRate"::VARCHAR
           |  || ',"errorRateTrend":0.0,"latency":' || latency::VARCHAR
           |  || ',"latencyTrend":0.0,"updatedAt":' || "updatedAt"::VARCHAR
           |  || '}' AS value
           |FROM agg ORDER BY key""".stripMargin,
      "top1_richest_window" ->
        s"""$kpiCte
           |SELECT * FROM agg
           |ORDER BY ("activeUsers" + orders + latency) DESC, "updatedAt" DESC
           |LIMIT 1""".stripMargin,
      "region_sliding" ->
        s"""$regionCte
           |SELECT * FROM agg ORDER BY "updatedAt", region_name""".stripMargin,
      "latest_window" ->
        s"""$regionCte
           |SELECT * FROM agg
           |WHERE "updatedAt" = (SELECT max("updatedAt") FROM agg)
           |ORDER BY region_name""".stripMargin,
      "traffic_tumbling" ->
        """SELECT (wstart + 900) * 1000 AS "timestamp",
          |  count(*) AS value,
          |  strftime(make_timestamp((wstart + 900) * 1000000), '%I:%M:%S %p') AS label
          |FROM (SELECT (((epoch_us(ts) // 1000000) // 900) * 900) AS wstart FROM events)
          |GROUP BY wstart ORDER BY 1""".stripMargin,
      "health_frame" ->
        """WITH w AS (
          |  SELECT (((epoch_us(ts) // 1000000) // 900) * 900 - 900 * g.g) AS wstart, events.*
          |  FROM events, generate_series(0, 1) g(g)
          |), agg AS (
          |  SELECT wstart,
          |    round(avg(CASE WHEN event_type = 'view' THEN round(value * 100) END))::BIGINT AS cpu_raw,
          |    round(avg(CASE WHEN event_type = 'click' THEN round(value * 100) END))::BIGINT AS mem_raw,
          |    count(DISTINCT user_id) AS total_nodes
          |  FROM w GROUP BY wstart
          |)
          |SELECT coalesce(cpu_raw, 0) AS cpu_centi,
          |  coalesce(mem_raw, 0) AS memory_centi,
          |  total_nodes,
          |  CASE WHEN total_nodes > 0 THEN 100.0 ELSE 0.0 END AS "apiClusterScore",
          |  CASE WHEN total_nodes > 0 THEN 'HEALTHY' ELSE 'DOWN' END AS "apiClusterStatus",
          |  (wstart + 1800) * 1000 AS "updatedAt"
          |FROM agg ORDER BY "updatedAt"""".stripMargin,
      "geo_header" ->
        """WITH w AS (
          |  SELECT (((epoch_us(ts) // 1000000) // 1800) * 1800 - 1800 * g.g) AS wstart
          |  FROM events, generate_series(0, 1) g(g)
          |)
          |SELECT 99.999 AS uptime,
          |  printf('%.1f', count(*) / 1000.0) || ' TB/S' AS "globalLoad",
          |  count(*)::BIGINT AS "globalLoadBytes",
          |  'V4-Orbit' AS "engineVersion",
          |  'Secure' AS "protocolStatus",
          |  (wstart + 3600) * 1000 AS "updatedAt"
          |FROM w GROUP BY wstart ORDER BY "updatedAt"""".stripMargin,
      "platform_breakdown" ->
        s"""SELECT platform AS name, count(*) AS value FROM (
           |  SELECT ${Synth.platformSql("event_id", "user_id")} AS platform FROM events
           |) WHERE platform IS NOT NULL
           |GROUP BY platform ORDER BY name""".stripMargin,
      "platform_pivot" ->
        s"""SELECT platform,
           |  count(*) FILTER (WHERE event_type = 'click') AS click,
           |  count(*) FILTER (WHERE event_type = 'view') AS view,
           |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
           |  count(*) FILTER (WHERE event_type = 'error') AS error
           |FROM (
           |  SELECT ${Synth.platformSql("event_id", "user_id")} AS platform, event_type
           |  FROM events
           |) WHERE platform IS NOT NULL
           |GROUP BY platform ORDER BY platform""".stripMargin,
      // approx_distinct_users: the exact count and event count are
      // replayed; the HLL estimate binds the hash through the
      // deterministic bounded-error boolean (see approxDistinctChecked).
      "approx_distinct_users" ->
        """SELECT (wstart + 86400) * 1000 AS "updatedAt",
          |  count(DISTINCT user_id) AS exact_users,
          |  count(*) AS n_events,
          |  TRUE AS approx_within_rse
          |FROM (SELECT (((epoch_us(ts) // 1000000) // 86400) * 86400) AS wstart, user_id
          |      FROM events)
          |GROUP BY wstart ORDER BY 1""".stripMargin
    )
  }
}
