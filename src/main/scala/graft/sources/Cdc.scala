package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC envelope semantics (SURVEY.md §2 S2/S5/P1/P2/P6/U1/F6).
  *
  * The reference consumes Debezium change events: flat after-image rows
  * carrying op metadata (`__op` ∈ c/u/r/d, `__table`, `__source_ts_ms`,
  * `__deleted`) with TIMESTAMPTZ encoded as ISO-8601 strings (reference:
  * src/streaming/schemas.py:15-20, kafka_sources.py:75-99). Here the
  * envelope is derived deterministically from the `events` fixture so the
  * exact same filter/normalize/union expressions run and are
  * oracle-checkable. The Kafka transport is not built (the build's Spark
  * jars carry no Kafka connector); the Avro wire codec is [[AvroCodec]].
  */
object Cdc {

  import graft.ops.Synth.epochMs

  /** ISO-8601 micros + literal Z, the Debezium ZonedTimestamp shape the
    * reference parses first (reference: kafka_sources.py:95). */
  val IsoMicros = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
  val IsoSeconds = "yyyy-MM-dd'T'HH:mm:ss'Z'"

  /** Deterministic CDC envelope over `events`: __op cycles c/u/r/d on
    * event_id, and the ts string takes one of the three wire shapes the
    * 3-way coalesce must handle (micros+Z / seconds+Z / plain).
    */
  def envelope(events: DataFrame): DataFrame = {
    val e = graft.ops.Synth.eventTime(events)
    e.select(
      col("event_id"), col("user_id"), col("event_type"), col("value"), col("props"),
      element_at(array(lit("c"), lit("u"), lit("r"), lit("d")),
        (pmod(col("event_id"), lit(4)) + 1).cast("int")).as("__op"),
      lit("events").as("__table"),
      epochMs(col("ts")).as("__source_ts_ms"),
      (pmod(col("event_id"), lit(4)) === 3).as("__deleted"),
      when(pmod(col("event_id"), lit(3)) === 0, date_format(col("ts"), IsoMicros))
        .when(pmod(col("event_id"), lit(3)) === 1, date_format(col("ts"), IsoSeconds))
        .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
        .as("ts_str"))
  }

  /** P1: keep create/update/snapshot-read, drop deletes
    * (reference: kafka_sources.py:84-87). */
  def opFilter(envelope: DataFrame): DataFrame =
    envelope.filter(col("__op").isin("c", "u", "r"))

  /** P2/F2: the 3-way to_timestamp coalesce over wire-shaped strings
    * (reference: kafka_sources.py:92-98). `try_to_timestamp` because a
    * non-matching pattern must yield NULL for the next branch, not an
    * ANSI error.
    *
    * Each try branch is guarded by a cheap shape test that is a NECESSARY
    * condition for its pattern to match (an IsoMicros match always ends in
    * 'Z' and contains '.', an IsoSeconds match always ends in 'Z'), so the
    * guards never change which branch wins — they only skip attempts that
    * were guaranteed to fail. Without them, `try_to_timestamp`'s misses are
    * exception-driven per row, and at 2/3 miss rate the parse dominated the
    * whole query (~10× the cost of the same table's other projections).
    */
  def normalizeTs(df: DataFrame, tsCol: String): DataFrame = {
    val s = col(tsCol)
    df.withColumn(tsCol,
      coalesce(
        when(s.endsWith("Z") && s.contains("."), try_to_timestamp(s, lit(IsoMicros))),
        when(s.endsWith("Z"), try_to_timestamp(s, lit(IsoSeconds))),
        try_to_timestamp(s)))
  }

  /** S2: Confluent wire-format header strip — drop the 5-byte magic+schemaId
    * prefix before decode (reference: kafka_sources.py:70-72). Same 1-based
    * substring expression the reference uses, here over a synthesized
    * 5-byte-prefixed payload.
    */
  def stripWireHeader(df: DataFrame, payloadCol: String): DataFrame =
    df.withColumn(payloadCol,
      expr(s"substring($payloadCol, 6, length($payloadCol) - 5)"))

  /** S3 semantics: PERMISSIVE decode — a malformed payload must yield a row
    * with null fields and the raw bytes in the corrupt-record channel, never
    * kill the stream (the reference decodes Avro with PERMISSIVE mode,
    * kafka_sources.py:79-82; spark-avro is absent from this container, so
    * the same error-channel contract is exercised on the JSON path).
    * Corruption is planted deterministically (1-in-7 payloads truncated) so
    * the good/bad split is oracle-checkable.
    */
  def permissiveDecode(events: DataFrame): DataFrame = {
    val wire = events.select(col("event_id"),
      when(pmod(col("event_id"), lit(7)) === 0,
        concat(lit("{broken"), col("props")))
        .otherwise(col("props")).as("payload"))
    wire
      .select(col("event_id"), col("payload"),
        from_json(col("payload"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("_corrupt",
              org.apache.spark.sql.types.StringType))),
          Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt"))
          .as("data"))
      .select(col("event_id"),
        col("data.k").as("k"),
        col("data._corrupt").isNotNull.as("is_corrupt"))
      .orderBy(col("event_id"))
  }

  /** CDC log compaction: materialize the current table state from the op
    * log — latest op per key wins, keys whose latest op is a delete drop
    * out. This is the canonical batch consumer of a Debezium stream (the
    * upsert/merge a lakehouse sink applies per micro-batch).
    *
    * Scale shape: one shuffle on the primary key, then a sorted-run
    * `row_number` per key — no join, no global ordering. The key here is
    * user_id (an entity with many change events); ties on the ms-precision
    * source timestamp break deterministically by event_id (the log offset),
    * exactly how a real consumer resolves same-ms updates.
    */
  def snapshot(envelope: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("__source_ts_ms").desc, col("event_id").desc)
    envelope
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && !col("__deleted"))
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("__op").as("last_op"), col("__source_ts_ms").as("last_ts_ms"),
        col("value").as("last_value"))
      .orderBy(col("user_id"))
  }

  /** SCD2 history build: the op log rendered as TYPE-2 dimension rows —
    * every non-delete op opens a version valid [its ts, next op's ts);
    * deletes close the prior version without emitting one; the open-ended
    * version is `is_current`. One `lead` window per key (high-cardinality
    * partition — no funnel), the companion of [[snapshot]]'s latest-only
    * compaction: snapshot answers "what is", SCD2 answers "what was when",
    * and a warehouse materializes both from the same log.
    */
  def scd2History(envelope: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("__source_ts_ms"), col("event_id"))
    envelope
      .withColumn("valid_to_ms", lead(col("__source_ts_ms"), 1).over(w))
      .withColumn("version_n", row_number().over(w).cast("long"))
      .filter(!col("__deleted"))
      .select(col("user_id"), col("version_n"), col("event_id"), col("value"),
        col("__source_ts_ms").as("valid_from_ms"), col("valid_to_ms"),
        col("valid_to_ms").isNull.as("is_current"))
      .orderBy(col("user_id"), col("version_n"))
  }

  /** Snapshot diff: the compacted state at an earlier log position vs now,
    * classified added / removed / changed per key (unchanged suppressed) —
    * the audit a pipeline runs between materialization versions. One full
    * outer join on the key; at 100 TB both sides are the (already small)
    * compacted snapshots, never the raw log, and co-locate if the snapshot
    * table is bucketed by key ([[graft.sources.Bucketing]]).
    */
  def snapshotDiff(envelope: DataFrame, splitId: Long = 500): DataFrame = {
    val old = snapshot(envelope.filter(col("event_id") < splitId))
      .select(col("user_id"), col("last_event_id").as("old_event_id"),
        col("last_value").as("old_value"))
    val cur = snapshot(envelope)
      .select(col("user_id"), col("last_event_id").as("new_event_id"),
        col("last_value").as("new_value"))
    old.join(cur, Seq("user_id"), "full_outer")
      .withColumn("change",
        when(col("old_event_id").isNull, "added")
          .when(col("new_event_id").isNull, "removed")
          .when(col("old_event_id") =!= col("new_event_id"), "changed")
          .otherwise("unchanged"))
      .filter(col("change") =!= "unchanged")
      .select(col("user_id"), col("change"), col("old_event_id"),
        col("new_event_id"), col("old_value"), col("new_value"))
      .orderBy(col("user_id"))
  }

  /** Merkle-style snapshot reconciliation — the scale path
    * [[snapshotDiff]]'s row-level full-outer join grows out of: both
    * snapshots reduce to per-bucket fingerprints (row count + bit_xor of a
    * row content hash over `user_id % 256` buckets), and only the buckets
    * whose fingerprints disagree are reported. At 100 TB the row-level
    * diff then reruns INSIDE the ~handful of dirty buckets (each a
    * predicate-pushdown-able slice), never across the full keyspace —
    * 2×256 fingerprint rows travel instead of two key-grain tables.
    * bit_xor is order- and partition-insensitive, so the fingerprint is
    * layout-independent; xor cancellation needs a PAIR of offsetting row
    * edits inside one bucket to false-negative, which the count column
    * already catches unless the pair also preserves cardinality — the
    * classic, documented merkle-tradeoff.
    */
  def snapshotReconcile(envelope: DataFrame, splitId: Long = 500): DataFrame = {
    def fingerprints(snap: DataFrame) = snap
      // Row content hashed over INTEGERS (value as floored cents): a raw
      // double in concat_ws would ride each engine's float-to-string
      // renderer, which disagree on exponent form.
      .select(pmod(col("user_id"), lit(256L)).as("bucket"),
        expr("cast(conv(substring(md5(concat_ws('|', user_id, last_event_id, " +
          "cast(floor(last_value * 100) as bigint))), 1, 15), 16, 10) as bigint)")
          .as("row_h"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(row_h)").as("checksum"))
    val old = fingerprints(snapshot(envelope.filter(col("event_id") < splitId)))
      .select(col("bucket"), col("n").as("old_n"), col("checksum").as("old_sum"))
    val cur = fingerprints(snapshot(envelope))
      .select(col("bucket"), col("n").as("new_n"), col("checksum").as("new_sum"))
    old.join(cur, Seq("bucket"), "full_outer")
      .filter(col("old_sum").isNull || col("new_sum").isNull ||
        col("old_n") =!= col("new_n") || col("old_sum") =!= col("new_sum"))
      .select(col("bucket"),
        coalesce(col("old_n"), lit(0L)).as("old_n"),
        coalesce(col("new_n"), lit(0L)).as("new_n"))
      .orderBy(col("bucket"))
  }

  /** MapType handling: parse the JSON payload as `map<string,long>` (the
    * schema-less variant of the struct decode — right when producers add
    * keys without coordination), extend it with a derived entry, explode to
    * key/value rows, and aggregate per key. Map columns explode to long
    * narrow rows — the scale-safe way to aggregate over dynamic keys (a
    * pivot to columns would make the schema data-dependent).
    */
  def propsMap(events: DataFrame): DataFrame =
    events
      .select(col("event_id"),
        map_concat(
          from_json(col("props"), org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType)),
          map(lit("bucket"), pmod(col("event_id"), lit(5L)))).as("m"))
      .select(col("event_id"), explode(col("m")))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .orderBy(col("key"))

  /** VARIANT decode of the props payload — Spark 4's native
    * semi-structured type (parse_json → binary variant, typed point reads
    * via variant_get) instead of a fixed MapType schema: the shredded
    * binary form skips re-tokenizing the JSON text per access, which is
    * the scan-throughput difference on wide telemetry blobs at 100 TB.
    * try_variant_get('$.missing') exercises the NULL (not error) contract
    * on absent paths. The oracle mirrors it with DuckDB's JSON point
    * extraction — same typed values, so the hash match pins the variant
    * path end-to-end.
    */
  def propsVariant(events: DataFrame): DataFrame =
    events
      .select(col("event_id"), parse_json(col("props")).as("v"))
      .select(col("event_id"),
        expr("variant_get(v, '$.k', 'long')").as("k"),
        expr("try_variant_get(v, '$.missing', 'long')").as("missing"))
      .groupBy(pmod(col("k"), lit(10L)).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        count(col("missing")).as("n_missing"))
      .orderBy(col("k_mod"))

  // ---------------------------------------------------------------- registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MapType: schema-less JSON map decode + derived entry + key rollup.
    "props_map" -> ((s, d) => propsMap(Tables.events(s, d))),
    // VARIANT (Spark 4 semi-structured type): typed point reads, no schema.
    "props_variant" -> ((s, d) => propsVariant(Tables.events(s, d))),
    // CDC compaction: op log → current state (latest per key, deletes drop).
    "cdc_snapshot" -> ((s, d) => snapshot(envelope(Tables.events(s, d)))),
    // Op log → type-2 dimension history (validity intervals per key).
    "cdc_scd2" -> ((s, d) => scd2History(envelope(Tables.events(s, d)))),
    // Compacted-state diff between two log positions.
    "cdc_snapshot_diff" -> ((s, d) => snapshotDiff(envelope(Tables.events(s, d)))),
    // Bucket-checksum reconciliation between the same two positions.
    "cdc_reconcile" -> ((s, d) => snapshotReconcile(envelope(Tables.events(s, d)))),
    // S3 semantics: PERMISSIVE decode error channel over planted corruption.
    "json_permissive" -> ((s, d) => permissiveDecode(Tables.events(s, d))),
    // P1 + envelope: op filter over the CDC stream shape.
    "cdc_op_filter" -> ((s, d) => opFilter(envelope(Tables.events(s, d)))
      .select("event_id", "__op", "__table", "__source_ts_ms", "__deleted")
      .orderBy("event_id")),
    // P2: 3-way timestamp normalization — round-trips every wire shape.
    "cdc_ts_normalize" -> ((s, d) => {
      val env = normalizeTs(envelope(Tables.events(s, d)), "ts_str")
      env.select(col("event_id"),
        unix_micros(col("ts_str")).as("ts_us"),
        pmod(col("event_id"), lit(3)).as("wire_shape"))
        .orderBy("event_id")
    }),
    // S5 composition: envelope → op filter → ts normalize (the CDC reader
    // minus the Kafka/Avro transport).
    "cdc_reader" -> ((s, d) => {
      val env = normalizeTs(opFilter(envelope(Tables.events(s, d))), "ts_str")
      env.select(col("event_id"), col("__op"), col("__source_ts_ms"),
        unix_micros(col("ts_str")).as("ts_us"), col("value"))
        .orderBy("event_id")
    }),
    // S2: wire-header strip (string payload stands in for the Avro bytes).
    "cdc_wire_strip" -> ((s, d) => {
      val wired = Tables.events(s, d)
        .select(col("event_id"), concat(lit("MAGIC"), col("props")).as("payload"))
      stripWireHeader(wired, "payload")
        .select(col("event_id"), col("payload"))
        .orderBy("event_id")
    }),
    // P6/U1: the orders/sessions/requests normalization, row-level (the
    // aggregated form is Frames.kpiFrame); its oracle is the 3-way union.
    "kpi_union" -> ((s, d) => graft.ops.Frames.kpiNormalize(Tables.events(s, d))
      .select(unix_micros(col("event_time")).as("event_time_us"),
        col("active_session_count"), col("revenue_amount"), col("order_count"),
        col("request_count"), col("error_count"), col("latency_ms"))
      .orderBy("event_time_us")),
    // S7/F6: JSON serde round-trip — from_json over the props payload, then
    // to_json of a struct (the aggregated.kpis read-back + Kafka-sink pair,
    // reference: kafka_sources.py:160-168, kpi_aggregator.py:217-233).
    "json_roundtrip" -> ((s, d) => Tables.events(s, d)
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
      .select(col("event_id"), col("k"),
        to_json(struct(col("event_id"), col("k"))).as("payload"))
      .orderBy("event_id")),
  )

  def oracleSql: Map[String, String] = Map(
    "props_variant" ->
      """WITH e AS (
        |  SELECT event_id,
        |    json_extract(props, '$.k')::BIGINT AS k,
        |    json_extract(props, '$.missing')::BIGINT AS missing
        |  FROM events
        |)
        |SELECT k % 10 AS k_mod, count(*) AS n, sum(k)::BIGINT AS sum_k,
        |  min(k)::BIGINT AS min_k, max(k)::BIGINT AS max_k,
        |  count(missing) AS n_missing
        |FROM e GROUP BY 1 ORDER BY k_mod""".stripMargin,
    "props_map" ->
      """WITH kv AS (
        |  SELECT 'k' AS key, json_extract(props, '$.k')::BIGINT AS value FROM events
        |  UNION ALL
        |  SELECT 'bucket', event_id % 5 FROM events
        |)
        |SELECT key, count(*) AS n, sum(value)::BIGINT AS sum_v,
        |  min(value) AS min_v, max(value) AS max_v
        |FROM kv GROUP BY key ORDER BY key""".stripMargin,
    "json_permissive" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 7 = 0 THEN NULL
        |    ELSE json_extract(props, '$.k')::BIGINT END AS k,
        |  (event_id % 7 = 0) AS is_corrupt
        |FROM events ORDER BY event_id""".stripMargin,
    "cdc_scd2" ->
      """WITH env AS (
        |  SELECT event_id, user_id, value,
        |    epoch_ms(ts) AS __source_ts_ms,
        |    (event_id % 4 = 3) AS __deleted
        |  FROM events
        |), v AS (
        |  SELECT user_id, event_id, value, __source_ts_ms, __deleted,
        |    lead(__source_ts_ms) OVER (PARTITION BY user_id
        |      ORDER BY __source_ts_ms, event_id) AS valid_to_ms,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY __source_ts_ms, event_id) AS version_n
        |  FROM env
        |)
        |SELECT user_id, version_n, event_id, value,
        |  __source_ts_ms AS valid_from_ms, valid_to_ms,
        |  valid_to_ms IS NULL AS is_current
        |FROM v WHERE NOT __deleted
        |ORDER BY user_id, version_n""".stripMargin,
    "cdc_snapshot_diff" ->
      """WITH env AS (
        |  SELECT event_id, user_id, value,
        |    epoch_ms(ts) AS __source_ts_ms,
        |    (event_id % 4 = 3) AS __deleted
        |  FROM events
        |), snap_old AS (
        |  SELECT user_id, event_id AS old_event_id, value AS old_value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY __source_ts_ms DESC, event_id DESC) AS rn
        |    FROM env WHERE event_id < 500
        |  ) WHERE rn = 1 AND NOT __deleted
        |), snap_new AS (
        |  SELECT user_id, event_id AS new_event_id, value AS new_value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY __source_ts_ms DESC, event_id DESC) AS rn
        |    FROM env
        |  ) WHERE rn = 1 AND NOT __deleted
        |)
        |SELECT user_id, change, old_event_id, new_event_id, old_value, new_value
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN old_event_id IS NULL THEN 'added'
        |         WHEN new_event_id IS NULL THEN 'removed'
        |         WHEN old_event_id <> new_event_id THEN 'changed'
        |         ELSE 'unchanged' END AS change,
        |    old_event_id, new_event_id, old_value, new_value
        |  FROM snap_old FULL OUTER JOIN snap_new USING (user_id)
        |) WHERE change <> 'unchanged' ORDER BY user_id""".stripMargin,
    "cdc_reconcile" ->
      """WITH env AS (
        |  SELECT event_id, user_id, value,
        |    epoch_ms(ts) AS __source_ts_ms,
        |    (event_id % 4 = 3) AS __deleted
        |  FROM events
        |), snap_old AS (
        |  SELECT user_id, event_id AS last_event_id, value AS last_value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY __source_ts_ms DESC, event_id DESC) AS rn
        |    FROM env WHERE event_id < 500
        |  ) WHERE rn = 1 AND NOT __deleted
        |), snap_new AS (
        |  SELECT user_id, event_id AS last_event_id, value AS last_value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY __source_ts_ms DESC, event_id DESC) AS rn
        |    FROM env
        |  ) WHERE rn = 1 AND NOT __deleted
        |), fp_old AS (
        |  SELECT user_id % 256 AS bucket, count(*)::BIGINT AS old_n,
        |    bit_xor(('0x' || substr(md5(user_id || '|' || last_event_id || '|' ||
        |      floor(last_value * 100)::BIGINT), 1, 15))::BIGINT) AS old_sum
        |  FROM snap_old GROUP BY 1
        |), fp_new AS (
        |  SELECT user_id % 256 AS bucket, count(*)::BIGINT AS new_n,
        |    bit_xor(('0x' || substr(md5(user_id || '|' || last_event_id || '|' ||
        |      floor(last_value * 100)::BIGINT), 1, 15))::BIGINT) AS new_sum
        |  FROM snap_new GROUP BY 1
        |)
        |SELECT bucket, coalesce(old_n, 0)::BIGINT AS old_n,
        |  coalesce(new_n, 0)::BIGINT AS new_n
        |FROM fp_old FULL OUTER JOIN fp_new USING (bucket)
        |WHERE old_sum IS NULL OR new_sum IS NULL
        |   OR old_n <> new_n OR old_sum <> new_sum
        |ORDER BY bucket""".stripMargin,
    "cdc_snapshot" ->
      """WITH env AS (
        |  SELECT event_id, user_id, value,
        |    (['c','u','r','d'])[(event_id % 4)::INT + 1] AS __op,
        |    epoch_ms(ts) AS __source_ts_ms,
        |    (event_id % 4 = 3) AS __deleted
        |  FROM events
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY __source_ts_ms DESC, event_id DESC) AS rn
        |  FROM env
        |)
        |SELECT user_id, event_id AS last_event_id, __op AS last_op,
        |  __source_ts_ms AS last_ts_ms, value AS last_value
        |FROM ranked WHERE rn = 1 AND NOT __deleted
        |ORDER BY user_id""".stripMargin,
    "cdc_op_filter" ->
      """SELECT event_id,
        |  (['c','u','r','d'])[(event_id % 4)::INT + 1] AS __op,
        |  'events' AS __table,
        |  epoch_ms(ts) AS __source_ts_ms,
        |  (event_id % 4 = 3) AS __deleted
        |FROM events
        |WHERE (['c','u','r','d'])[(event_id % 4)::INT + 1] IN ('c','u','r')
        |ORDER BY event_id""".stripMargin,
    "cdc_ts_normalize" ->
      """WITH env AS (
        |  SELECT event_id,
        |    CASE
        |      WHEN event_id % 3 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ')
        |      WHEN event_id % 3 = 1 THEN strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
        |      ELSE strftime(ts, '%Y-%m-%d %H:%M:%S')
        |    END AS ts_str
        |  FROM events
        |)
        |SELECT event_id,
        |  epoch_us(coalesce(
        |    try_strptime(ts_str, '%Y-%m-%dT%H:%M:%S.%fZ'),
        |    try_strptime(ts_str, '%Y-%m-%dT%H:%M:%SZ'),
        |    try_strptime(ts_str, '%Y-%m-%d %H:%M:%S'))) AS ts_us,
        |  event_id % 3 AS wire_shape
        |FROM env ORDER BY event_id""".stripMargin,
    "cdc_reader" ->
      """WITH env AS (
        |  SELECT event_id,
        |    (['c','u','r','d'])[(event_id % 4)::INT + 1] AS __op,
        |    epoch_ms(ts) AS __source_ts_ms,
        |    CASE
        |      WHEN event_id % 3 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ')
        |      WHEN event_id % 3 = 1 THEN strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
        |      ELSE strftime(ts, '%Y-%m-%d %H:%M:%S')
        |    END AS ts_str,
        |    value
        |  FROM events
        |)
        |SELECT event_id, __op, __source_ts_ms,
        |  epoch_us(coalesce(
        |    try_strptime(ts_str, '%Y-%m-%dT%H:%M:%S.%fZ'),
        |    try_strptime(ts_str, '%Y-%m-%dT%H:%M:%SZ'),
        |    try_strptime(ts_str, '%Y-%m-%d %H:%M:%S'))) AS ts_us,
        |  value
        |FROM env WHERE __op IN ('c','u','r') ORDER BY event_id""".stripMargin,
    "cdc_wire_strip" ->
      """SELECT event_id, substr('MAGIC' || props, 6) AS payload
        |FROM events ORDER BY event_id""".stripMargin,
    "kpi_union" ->
      """SELECT epoch_us(ts) AS event_time_us,
        |  0 AS active_session_count, value AS revenue_amount, 1 AS order_count,
        |  0 AS request_count, 0 AS error_count, NULL::DOUBLE AS latency_ms
        |FROM events WHERE event_type = 'purchase'
        |UNION ALL
        |SELECT epoch_us(ts), 1, 0.0, 0, 0, 0, NULL FROM events WHERE event_type = 'signup'
        |UNION ALL
        |SELECT epoch_us(ts), 0, 0.0, 0, 1,
        |  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END, value * 100
        |FROM events WHERE event_type IN ('click','view','error')
        |ORDER BY event_time_us""".stripMargin,
    "json_roundtrip" ->
      """SELECT event_id,
        |  json_extract(props, '$.k')::BIGINT AS k,
        |  '{"event_id":' || event_id::VARCHAR || ',"k":' ||
        |    json_extract(props, '$.k')::BIGINT::VARCHAR || '}' AS payload
        |FROM events ORDER BY event_id""".stripMargin,
  )
}
