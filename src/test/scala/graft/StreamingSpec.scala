package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.ops.Frames
import graft.streaming.{AlertStateMachine, InMemoryKvStore, Jobs, KvSink}
import graft.streaming.AlertStateMachine.AlertEval

/** Real Structured Streaming semantics (W1/W3/W4/W5): the same frame
  * builders the batch oracle verifies, driven through MemoryStream with
  * watermark + update mode, and the stateful alert machine.
  */
class StreamingSpec extends SparkSpec {

  case class Evt(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("kpiFrame runs as a streaming query with watermark in update mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val query = Frames.kpiFrame(input.toDF())
      .writeStream
      .format("memory")
      .queryName("kpi_stream_test")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(
        Evt(0L, ts("2024-01-01 00:01:00"), 1L, "purchase", 10.0, "{}"),
        Evt(1L, ts("2024-01-01 00:03:00"), 2L, "error", 5.0, "{}"),
        Evt(2L, ts("2024-01-01 00:04:00"), 3L, "click", 2.0, "{}"))
      query.processAllAvailable()
      val rows = spark.sql("SELECT * FROM kpi_stream_test").collect()
      assert(rows.nonEmpty) // sliding 30m/10m → 3 windows per event
      val w = rows.filter(_.getAs[Long]("updatedAt") == 1704068400000L)
      assert(w.length == 1)
      assert(w(0).getAs[Long]("orders") == 1L)
      assert(w(0).getAs[Double]("errorRate") == 50.0)

      // late-but-within-watermark data updates the same window
      input.addData(Evt(3L, ts("2024-01-01 00:02:00"), 4L, "purchase", 7.0, "{}"))
      query.processAllAvailable()
      val updated = spark.sql(
        "SELECT * FROM kpi_stream_test WHERE updatedAt = 1704068400000")
        .collect().maxBy(_.getAs[Long]("orders"))
      assert(updated.getAs[Long]("orders") == 2L)
      assert(updated.getAs[Double]("revenue") == 17.0)
    } finally query.stop()
  }

  test("trafficFrame streams tumbling counts in complete mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val query = Frames.trafficFrame(input.toDF())
      .writeStream.format("memory").queryName("traffic_stream_test")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(
        Evt(0L, ts("2024-01-01 00:01:00"), 1L, "click", 1.0, "{}"),
        Evt(1L, ts("2024-01-01 00:02:00"), 1L, "view", 1.0, "{}"),
        Evt(2L, ts("2024-01-01 00:20:00"), 1L, "click", 1.0, "{}"))
      query.processAllAvailable()
      val rows = spark.sql("SELECT * FROM traffic_stream_test ORDER BY timestamp")
        .collect()
      assert(rows.map(_.getAs[Long]("value")).toSeq == Seq(2L, 1L))
    } finally query.stop()
  }

  test("late data beyond the watermark is dropped (W8)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val query = Frames.kpiFrame(input.toDF())
      .writeStream.format("memory").queryName("late_data_test")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(Evt(0L, ts("2024-01-01 00:01:00"), 1L, "purchase", 10.0, "{}"))
      query.processAllAvailable()
      // advance event time far ahead → watermark moves to 01:50
      input.addData(Evt(1L, ts("2024-01-01 02:00:00"), 2L, "purchase", 1.0, "{}"))
      query.processAllAvailable()
      val before = spark.sql(
        "SELECT count(*) FROM late_data_test WHERE updatedAt = 1704068400000")
        .head().getLong(0)
      // 00:05 is far behind the 01:50 watermark → must not update old windows
      input.addData(Evt(2L, ts("2024-01-01 00:05:00"), 3L, "purchase", 99.0, "{}"))
      query.processAllAvailable()
      val after = spark.sql(
        "SELECT count(*) FROM late_data_test WHERE updatedAt = 1704068400000")
        .head().getLong(0)
      assert(after == before) // no new update row emitted for the old window
    } finally query.stop()
  }

  test("alert state machine: normal → pending → firing → reset") {
    // Pure transition first
    var s = AlertStateMachine.initial
    s = AlertStateMachine.step(s, breached = true)
    assert(s.status == "pending" && s.consecutive == 1)
    s = AlertStateMachine.step(s, breached = true)
    assert(s.status == "pending" && s.consecutive == 2)
    s = AlertStateMachine.step(s, breached = true)
    assert(s.status == "firing" && s.consecutive == 3)
    s = AlertStateMachine.step(s, breached = false)
    assert(s.status == "normal" && s.consecutive == 0)
  }

  test("alert state machine fires after 3 consecutive breaches in a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AlertEval]
    val query = AlertStateMachine(input.toDS())
      .writeStream.format("memory").queryName("alert_stream_test")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(AlertEval("r1", breached = true, 1000L))
      query.processAllAvailable()
      input.addData(AlertEval("r1", breached = true, 2000L))
      query.processAllAvailable()
      def status(): String = spark
        .sql("SELECT status FROM alert_stream_test ORDER BY updatedAt DESC LIMIT 1")
        .head().getString(0)
      assert(status() == "pending")
      input.addData(AlertEval("r1", breached = true, 3000L))
      query.processAllAvailable()
      assert(status() == "firing")
      input.addData(AlertEval("r1", breached = false, 4000L))
      query.processAllAvailable()
      assert(status() == "normal")
    } finally query.stop()
  }

  test("kpi foreachBatch writer picks richest window and computes trends") {
    import spark.implicits._
    val kv = new InMemoryKvStore
    val writer = KvSink.kpiWriter(kv)
    val hourMs = 3600000L
    // previous hour snapshot present → trends computed against it
    kv.writeHash(graft.streaming.Keys.kpiSnapshot(0L), Map(
      "activeUsers" -> "2", "revenue" -> "10.0", "orders" -> "4",
      "errorRate" -> "1.0", "latency" -> "100"))
    val batch = Seq(
      (5L, 20.0, 8L, 2.0, 200L, hourMs + 1000L), // richest
      (1L, 1.0, 1L, 0.0, 10L, hourMs + 2000L))
      .toDF("activeUsers", "revenue", "orders", "errorRate", "latency", "updatedAt")
    writer(batch, 0L)
    val cur = kv.hashes(graft.streaming.Keys.KpiCurrent)
    assert(cur("activeUsers") == "5")
    assert(cur("revenueTrend") == "100.0") // 10 → 20 = +100%
    assert(cur("ordersTrend") == "100.0")
    assert(kv.published.contains(graft.streaming.Keys.ChannelKpi)) // write-then-publish
    assert(kv.hashes.contains(graft.streaming.Keys.kpiSnapshot(1L)))
  }

  test("regions writer ranks latest window and emits hub-centric flows (T4)") {
    import spark.implicits._
    val kv = new InMemoryKvStore
    val batch = Seq(
      // stale window rows must be ignored
      ("Japan", 10.0, 5.0, 1000L),
      // latest window: Brazil is the hub (highest intensity)
      ("Japan", 20.0, 35.0, 2000L),
      ("Brazil", 30.0, 90.0, 2000L),
      ("India", 5.0, 10.0, 2000L))
      .toDF("region_name", "sales", "intensity", "updatedAt")
    KvSink.regionsWriter(kv)(batch, 0L)
    val regions = kv.strings(graft.streaming.Keys.RegionsCurrent)
    assert(regions ==
      """[{"name":"Brazil","intensity":90.0,"sales":30.0},{"name":"India","intensity":10.0,"sales":5.0},{"name":"Japan","intensity":35.0,"sales":20.0}]""")
    val flows = kv.strings("nexus:flows:current")
    assert(flows ==
      """[{"id":"flow_1","source":"Japan","target":"Brazil","value":35.0},{"id":"flow_2","source":"India","target":"Brazil","value":10.0}]""")
  }

  test("regions writer publishes the same flows whatever the order of tied rows") {
    import spark.implicits._
    val rows = Seq(
      ("Chile", 4.0, 50.0, 2000L), ("Brazil", 3.0, 50.0, 2000L),
      ("India", 2.0, 25.0, 2000L), ("Egypt", 1.0, 25.0, 2000L),
      ("Japan", 5.0, 10.0, 2000L))
    def flows(order: Seq[(String, Double, Double, Long)]): String = {
      val kv = new InMemoryKvStore
      KvSink.regionsWriter(kv)(
        order.toDF("region_name", "sales", "intensity", "updatedAt").coalesce(1), 0L)
      kv.strings("nexus:flows:current")
    }
    val forward = flows(rows)
    assert(forward == flows(rows.reverse))
    // ties rank by region name: Brazil is the hub, Egypt before India
    assert(forward ==
      """[{"id":"flow_1","source":"Chile","target":"Brazil","value":50.0},{"id":"flow_2","source":"Egypt","target":"Brazil","value":25.0},{"id":"flow_3","source":"India","target":"Brazil","value":25.0},{"id":"flow_4","source":"Japan","target":"Brazil","value":10.0}]""")
  }

  test("regions writer runs the state store once per micro-batch") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-regions-in").toString
    (0 until 3).foreach { f =>
      (0 until 40).map(i => (f * 40L + i, ts(f"2024-01-01 ${f}%02d:${i}%02d:00"),
        i % 7L, if (i % 3 == 0) "purchase" else "view", i.toDouble, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in)
    }
    // summed state rows over the drain, the batch consumed by `consume`
    def stateRows(consume: (DataFrame, Long) => Unit): Long = {
      val ckpt = Files.createTempDirectory("graft-regions-ckpt").toString
      val q = Frames.regionFrame(Jobs.fileEventStream(spark, in))
        .writeStream.outputMode(OutputMode.Complete())
        .foreachBatch { (df: DataFrame, id: Long) => consume(df, id) }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination(60000) finally if (q.isActive) q.stop()
      q.recentProgress.flatMap(_.stateOperators).map(_.numRowsTotal).sum
    }
    val counted = stateRows((df, _) => { df.count(); () })
    assert(counted > 0)
    assert(stateRows(KvSink.regionsWriter(new InMemoryKvStore)) == counted)
  }

  test("activity writer pushes top-15 newest, newest at list head") {
    import spark.implicits._
    val kv = new InMemoryKvStore
    val batch = (1 to 20).map(i =>
      (s"evt_$i", s"user_$i", "view", f"2024-01-01T00:${i}%02d:00.000Z"))
      .toDF("id", "user", "action", "timestamp")
    KvSink.activityWriter(kv)(batch, 0L)
    val list = kv.lists(graft.streaming.Keys.ActivityFeed)
    assert(list.length == 15)
    assert(list.head.contains("evt_20")) // newest first
    assert(!list.exists(_.contains("evt_5\""))) // oldest 5 trimmed
  }

  test("session_window sessionization runs as a stream and merges across batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    // The batch builder's session_window, streamed: watermark required for
    // state eviction; update mode emits merged sessions as they grow.
    val sessions = graft.ops.Synth.eventTime(input.toDF())
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("start"), col("user_id"), col("n_events"))
    // Session-window streaming aggregation requires APPEND mode: a session
    // only emits once the watermark passes its close (merging is final).
    val query = sessions.writeStream.format("memory")
      .queryName("session_stream_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(Evt(0L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0, "{}"))
      query.processAllAvailable()
      // same session continues in a later micro-batch (gap < 30 min)...
      input.addData(Evt(1L, ts("2024-01-01 00:10:00"), 1L, "click", 1.0, "{}"))
      query.processAllAvailable()
      // ...a > 30 min gap opens a NEW session...
      input.addData(Evt(2L, ts("2024-01-01 01:00:00"), 1L, "click", 1.0, "{}"))
      query.processAllAvailable()
      // ...and a far-future event advances the watermark so both closed
      // user-1 sessions finalize and emit.
      input.addData(Evt(3L, ts("2024-01-01 03:00:00"), 2L, "click", 1.0, "{}"))
      query.processAllAvailable()
      val emitted = spark.table("session_stream_test")
        .filter($"user_id" === 1L)
        .collect().map(r => r.getTimestamp(0).toString -> r.getAs[Long]("n_events")).toMap
      assert(emitted == Map(
        "2024-01-01 00:00:00.0" -> 2L, // merged across micro-batches
        "2024-01-01 01:00:00.0" -> 1L)) // split by the gap
    } finally query.stop()
  }

  test("observability recorder counts batches, rows, and watermark drops") {
    import spark.implicits._
    import graft.streaming.Observability
    implicit val sqlCtx = spark.sqlContext
    val rec = Observability.attach(spark)
    val input = MemoryStream[Evt]
    val query = Frames.kpiFrame(input.toDF())
      .writeStream.format("memory").queryName("obs_test")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(
        Evt(0L, ts("2024-01-01 02:00:00"), 1L, "purchase", 10.0, "{}"),
        Evt(1L, ts("2024-01-01 02:01:00"), 2L, "click", 1.0, "{}"))
      query.processAllAvailable()
      // Advance the watermark far past 02:xx, then feed a hopelessly late row:
      // it must show up in droppedByWatermark, not silently vanish.
      input.addData(Evt(2L, ts("2024-01-01 09:00:00"), 3L, "click", 1.0, "{}"))
      query.processAllAvailable()
      input.addData(Evt(3L, ts("2024-01-01 01:00:00"), 4L, "click", 1.0, "{}"))
      query.processAllAvailable()
      val s = rec.stats("obs_test")
      assert(s.batches >= 3)
      // kpiFrame reads its source once, so progress accounts each of the
      // 4 ingested rows once.
      assert(s.inputRows == 4L, s.toString)
      assert(s.droppedByWatermark >= 1L, s.toString)
      assert(s.maxBatchDurationMs > 0L)
    } finally {
      query.stop()
      Observability.detach(spark, rec)
    }
  }

  test("batch audit listener records input paths, rows, and duration") {
    import graft.streaming.Observability
    val sf = "/root/testdata/sf0.001"
    val gavroDir = java.nio.file.Files.createTempDirectory("graft-audit-gavro").toString
    graft.sources.Tables.events(spark, sf)
      .select(graft.sources.AvroCodec.requestLogRec.as("rec")).select(col("rec.*"))
      .coalesce(1).write.format("gavro").option("schema", "request_log")
      .mode("append").save(gavroDir)
    val rec = Observability.attachBatch(spark)
    try {
      val docs = graft.sources.Tables.documents(spark, sf)
      val n = docs.filter(col("doc_id") < 100).count()
      assert(n > 0)
      // a DSv2 (gavro) read is an input too
      val requests = spark.read.format("gavro").option("schema", "request_log")
        .load(gavroDir)
      assert(requests.filter(col("status_code") === 200).count() > 0)
      // listener events arrive via the async bus — poll briefly
      val deadline = System.currentTimeMillis() + 10000
      def hits(input: String) = {
        import scala.jdk.CollectionConverters._
        rec.audits.asScala.toList.filter(_.inputPaths.exists(_.contains(input)))
      }
      while ((hits("documents.parquet").isEmpty || hits(gavroDir).isEmpty) &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
      val audit = hits("documents.parquet").head
      assert(!audit.failed)
      assert(audit.durationMs >= 0)
      assert(audit.inputPaths.exists(_.contains("sf0.001")))
      assert(hits(gavroDir).nonEmpty, s"no audit names the gavro read of $gavroDir")
    } finally Observability.detachBatch(spark, rec)
  }

  test("stream-stream interval join matches within the window across batches") {
    import spark.implicits._
    import graft.streaming.StreamJoins
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val query = StreamJoins.purchaseErrorJoin(input.toDF())
      .writeStream.format("memory").queryName("ss_join_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // Batch 1: purchases only — buffered as join state, nothing emitted.
      input.addData(
        Evt(0L, ts("2024-01-01 00:00:00"), 1L, "purchase", 50.0, "{}"),
        Evt(1L, ts("2024-01-01 00:00:00"), 2L, "purchase", 60.0, "{}"))
      query.processAllAvailable()
      // Batch 2: user 1's error 5 min later (in window); user 2's error
      // 20 min later (outside); user 3's error with no purchase at all.
      input.addData(
        Evt(2L, ts("2024-01-01 00:05:00"), 1L, "error", 0.0, "{}"),
        Evt(3L, ts("2024-01-01 00:20:00"), 2L, "error", 0.0, "{}"),
        Evt(4L, ts("2024-01-01 00:05:00"), 3L, "error", 0.0, "{}"))
      query.processAllAvailable()
      val rows = spark.table("ss_join_test").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("purchase_value")))
      assert(rows.toSeq == Seq((1L, 50.0)))
    } finally query.stop()
  }

  test("outer stream-stream join emits NULL rows only after watermark eviction") {
    import spark.implicits._
    import graft.streaming.StreamJoins
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val query = StreamJoins.purchaseErrorOuterJoin(input.toDF())
      .writeStream.format("memory").queryName("ss_outer_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // Batch 1: two purchases. No outer rows may emit yet — a match for
      // either could still arrive.
      input.addData(
        Evt(0L, ts("2024-01-01 00:00:00"), 1L, "purchase", 50.0, "{}"),
        Evt(1L, ts("2024-01-01 00:00:00"), 2L, "purchase", 60.0, "{}"))
      query.processAllAvailable()
      assert(spark.table("ss_outer_test").isEmpty)
      // Batch 2: user 1 matches in-window. The matched row emits; user 2's
      // NULL row must NOT — its window is still open under the watermark.
      input.addData(Evt(2L, ts("2024-01-01 00:05:00"), 1L, "error", 0.0, "{}"))
      query.processAllAvailable()
      val afterMatch = spark.table("ss_outer_test").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Boolean]("had_error")))
      assert(afterMatch.toSeq == Seq((1L, true)))
      // Batch 3: late traffic on BOTH sides at 00:40 — the global
      // watermark is the MIN of the two sides', so an error alone cannot
      // release user 2's row (the purchase side would still hold it).
      // min(00:40−10m) = 00:30, past user 2's 00:00+10min window end →
      // the unmatched purchase is evicted from state AND emitted as NULL
      // in the following batch.
      input.addData(
        Evt(3L, ts("2024-01-01 00:40:00"), 99L, "purchase", 1.0, "{}"),
        Evt(4L, ts("2024-01-01 00:40:00"), 99L, "error", 0.0, "{}"))
      query.processAllAvailable()
      input.addData(Evt(5L, ts("2024-01-01 00:41:00"), 98L, "error", 0.0, "{}"))
      query.processAllAvailable()
      val rows = spark.table("ss_outer_test").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Boolean]("had_error"),
          Option(r.getAs[java.lang.Long]("error_ts_us")))).sortBy(_._1)
      assert(rows.exists { case (u, h, e) => u == 2L && !h && e.isEmpty },
        s"user 2's NULL outer row missing: ${rows.mkString(", ")}")
      assert(rows.count(_._1 == 1L) == 1 && rows.head._2)
    } finally query.stop()
  }

  test("stream-static enrichment resolves regions without stream shuffle") {
    import spark.implicits._
    import graft.streaming.StreamJoins
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val enriched = StreamJoins.enrichedEvents(spark, input.toDF())
    val query = enriched
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // user_id picks country/city deterministically (mod 10 / mod 9):
      // 7 → IN (country fallback), 9 → XX (unmapped → default),
      // 61 → CA + Vancouver (city override differing from CA's fallback).
      input.addData(
        Evt(0L, ts("2024-01-01 00:00:00"), 7L, "click", 1.0, "{}"),
        Evt(1L, ts("2024-01-01 00:00:00"), 9L, "click", 1.0, "{}"),
        Evt(2L, ts("2024-01-01 00:00:00"), 61L, "click", 1.0, "{}"))
      query.processAllAvailable()
      val byUser = spark.table("enrich_test").collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[String]("region_name"), r.getAs[String]("src"))).toMap
      assert(byUser(7L) == (("India", "country")))
      assert(byUser(9L) == (("Unknown", "default")))
      assert(byUser(61L) == (("North America (West)", "city")))
    } finally query.stop()
  }
}
