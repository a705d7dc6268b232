package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{InMemoryKvStore, Jobs, Keys}

/** End-to-end slice (SURVEY §7.2 step 2): parquet drop-dir file stream →
  * the three reference job graphs → foreachBatch writers → in-memory KV,
  * with checkpoints, real output modes, and AvailableNow triggers.
  */
class JobsSpec extends SparkSpec {

  private def writeDropDir(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-in").toString
    Seq(
      (0L, Timestamp.valueOf("2024-01-01 00:01:00"), 1L, "purchase", 10.0, "{}"),
      (1L, Timestamp.valueOf("2024-01-01 00:02:00"), 2L, "signup", 0.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 00:03:00"), 3L, "error", 5.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 00:04:00"), 4L, "click", 2.0, "{}"),
      (4L, Timestamp.valueOf("2024-01-01 00:16:00"), 5L, "view", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("transactions job runs end-to-end from a file stream into the KV store") {
    val in = writeDropDir()
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val kv = new InMemoryKvStore
    val queries = Jobs.transactionsJob(
      () => Jobs.fileEventStream(spark, in), kv, ckpt, Trigger.AvailableNow())
    try {
      queries.foreach(_.awaitTermination(60000))
      // KPI contract row landed with trend fields and published
      val kpi = kv.hashes(Keys.KpiCurrent)
      assert(kpi("orders") == "1")
      assert(kpi("activeUsers") == "1")
      assert(kpi.contains("revenueTrend"))
      assert(kv.published.contains(Keys.ChannelKpi))
      // activity feed capped list, newest first
      val feed = kv.lists(Keys.ActivityFeed)
      assert(feed.nonEmpty && feed.length <= 15)
      assert(feed.head.contains("evt_4"))
      // regions snapshot is the latest window only, name-sorted JSON
      val regions = kv.strings(Keys.RegionsCurrent)
      assert(regions.startsWith("[") && regions.contains("\"intensity\""))
    } finally queries.foreach(q => if (q.isActive) q.stop())
  }

  test("alerts job folds kpi snapshots through the state machine (W4 end-to-end)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ckpt = Files.createTempDirectory("graft-ckpt-alerts").toString
    val kv = new InMemoryKvStore
    val input = MemoryStream[(Double, Long, Long)]
    val query = Jobs.alertsJob(
      () => input.toDF().toDF("errorRate", "latency", "updatedAt"), kv, ckpt,
      Trigger.ProcessingTime("100 milliseconds"))
    try {
      // latency 500 >= 200 breaches alert_1; errorRate 0.0 keeps alert_2 ok
      input.addData((0.0, 500L, 1000L)); query.processAllAvailable()
      assert(kv.strings(Keys.AlertRules).contains("\"id\":\"alert_1\",\"status\":\"pending\""))
      input.addData((0.0, 500L, 2000L)); query.processAllAvailable()
      input.addData((0.0, 500L, 3000L)); query.processAllAvailable()
      val rules = kv.strings(Keys.AlertRules)
      assert(rules.contains("\"id\":\"alert_1\",\"status\":\"firing\",\"consecutive\":3"))
      assert(rules.contains("\"id\":\"alert_2\",\"status\":\"normal\""))
      // reference-shaped summary: alert_1 (critical) firing, alert_2 +
      // alert_3 quiescent
      val summary = kv.hashes(Keys.AlertSummary)
      assert(summary("criticalCount") == "1")
      assert(summary("warningCount") == "0")
      assert(summary("healthyCount") == "2")
      assert(summary("criticalImpact").nonEmpty)
      // recovery resets
      input.addData((0.0, 10L, 4000L)); query.processAllAvailable()
      assert(kv.strings(Keys.AlertRules).contains("\"id\":\"alert_1\",\"status\":\"normal\""))
    } finally query.stop()
  }

  test("kpi relay feeds the alerts job through a derived drop-dir (StreamMain topology)") {
    val in = writeDropDir()
    val ckpt = Files.createTempDirectory("graft-ckpt-relay").toString
    val derived = Files.createTempDirectory("graft-derived-kpis").toString
    val kv = new InMemoryKvStore
    val relay = Jobs.kpiRelayJob(
      () => Jobs.fileEventStream(spark, in), derived, ckpt, Trigger.AvailableNow())
    try relay.awaitTermination(60000) finally if (relay.isActive) relay.stop()
    val alerts = Jobs.alertsJob(
      () => Jobs.fileKpiStream(spark, derived), kv, ckpt, Trigger.AvailableNow())
    try alerts.awaitTermination(60000) finally if (alerts.isActive) alerts.stop()
    val summary = kv.hashes(Keys.AlertSummary)
    assert(summary.keySet == Set("criticalCount", "warningCount", "healthyCount",
      "criticalImpact", "updatedAt"))
    assert(summary("criticalCount").toInt + summary("warningCount").toInt +
      summary("healthyCount").toInt == graft.ops.Alerts.rules.length)
    assert(kv.strings(Keys.AlertRules).contains("\"id\":\"alert_1\""))
  }

  test("the stream graph starts the nine StreamMain queries, each on its own checkpoint") {
    val in = writeDropDir()
    val ckpt = Files.createTempDirectory("graft-ckpt-graph").toString
    val kv = new InMemoryKvStore
    val queries = Jobs.graph(spark, in, kv, ckpt, Trigger.AvailableNow())
    try {
      queries.foreach(_.awaitTermination(60000))
      assert(queries.map(_.name).sorted == Jobs.WatermarkedModes.keys.toSeq.sorted)
      queries.foreach(q => assert(Files.isDirectory(Paths.get(ckpt, q.name, "offsets")), q.name))
      assert(kv.strings.contains(Keys.RegionsCurrent))
    } finally queries.foreach(q => if (q.isActive) q.stop())
  }

  test("infrastructure + derived jobs populate health, traffic, platform") {
    val in = writeDropDir()
    val ckpt = Files.createTempDirectory("graft-ckpt2").toString
    val kv = new InMemoryKvStore
    val queries =
      Jobs.infrastructureJob(() => Jobs.fileEventStream(spark, in), kv, ckpt,
        Trigger.AvailableNow()) ++
      Jobs.derivedJob(() => Jobs.fileEventStream(spark, in), kv, ckpt,
        Trigger.AvailableNow())
    try {
      queries.foreach(_.awaitTermination(60000))
      assert(kv.lists(Keys.TrafficTs).nonEmpty)
      assert(kv.hashes("nexus:health:current").contains("cpu_centi"))
      val platform = kv.strings("nexus:platform:breakdown")
      assert(platform.contains("\"name\"") && platform.contains("\"value\""))
    } finally queries.foreach(q => if (q.isActive) q.stop())
  }

  test("a restarted stream query compiles no class the JVM has already compiled") {
    // Generated classes are cached per (class loader, code); each query
    // start clones the session, and with per-session artifact isolation
    // every clone brought a fresh class loader and a full recompile.
    import spark.implicits._
    val in = writeDropDir()
    val ckpt = Files.createTempDirectory("graft-ckpt-restart").toString
    val kv = new InMemoryKvStore
    // Starts the queries from the checkpoints, drains and stops them: rows read.
    def drain(): Long = {
      val queries = Jobs.transactionsJob(
        () => Jobs.fileEventStream(spark, in), kv, ckpt, Trigger.AvailableNow())
      try queries.foreach(_.awaitTermination(60000))
      finally queries.foreach(q => if (q.isActive) q.stop())
      queries.flatMap(_.recentProgress).map(_.numInputRows).sum
    }
    // Adds one event file and drains again: rows read and classes compiled.
    def restart(eventId: Long): (Long, Long) = {
      Seq((eventId, Timestamp.valueOf("2024-01-01 00:05:00"), 6L, "purchase", 4.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val rows = drain()
      (rows, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled)
    }
    assert(drain() > 0)
    // The first restart may compile what only a resumed query runs (the
    // row joiner that reads the KPI state back from its snapshot).
    assert(restart(5L)._1 == 3) // the new event, once per query
    assert(restart(6L) == (3L, 0L))
  }

  test("a micro-batch of more than 32 files lists them on the driver, not in a listing job") {
    val in = Files.createTempDirectory("graft-stream-many").toString + "/in"
    val n = 40
    assert(n > 32 && n <= Jobs.MaxFilesPerTrigger)
    val rows = (0 until n).map(i => Row(i.toLong,
      Timestamp.valueOf("2024-01-01 00:00:00"), i.toLong, "view", 1.0, "{}"))
    // one slice per row: one one-row parquet file per write task
    spark.createDataFrame(spark.sparkContext.parallelize(rows, n), Jobs.eventsSchema)
      .write.parquet(in)
    assert(new java.io.File(in).list().count(_.endsWith(".parquet")) == n)
    val ckpt = Files.createTempDirectory("graft-ckpt-many").toString
    val seen = new AtomicLong
    val listingJobs = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
    val query = Jobs.fileEventStream(spark, in).writeStream
      .foreachBatch { (df: DataFrame, _: Long) => seen.addAndGet(df.count()); () }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    try query.awaitTermination(60000) finally if (query.isActive) query.stop()
    assert(seen.get == n)
    // incremented on the driver when a listing job is launched
    assert(HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount - listingJobs == 0)
  }
}
