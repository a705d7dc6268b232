package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{InMemoryKvStore, Jobs, Keys}

/** The reference's ops-level acceptance check, as one automated test: run
  * the full three-job dataflow (plus the derived-KPI relay and the alerts
  * job it feeds) concurrently over one drop-dir against a SHARED KvStore,
  * and assert that every key of the 12-key contract populates and every
  * one of the 9 publish channels fires with a contract-shaped payload
  * (reference: README.md:27-37, src/streaming/config.py:46-66,
  * FLOW.md:322-349). JobsSpec exercises the writers query-by-query; this
  * spec pins the §2.9 WIRING — all queries coexisting in one session, W2
  * per-query source instances, `awaitAnyTermination` path included.
  */
class DataflowParitySpec extends SparkSpec {

  /** Fixture: a burst of events dense enough that the LATEST sliding
    * window holds several regions/platforms (flows need ≥2 ranked regions
    * in the newest window), plus earlier rows so trend/window logic has
    * history. user_id spreads across the Synth region/platform mappings.
    */
  private def writeDropDir(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-parity-in").toString
    val early = (0 until 8).map { i =>
      (i.toLong, Timestamp.valueOf(s"2024-01-01 00:0${i % 6}:0${i % 10}"),
        (i + 1).toLong, Seq("purchase", "click", "view", "error")(i % 4),
        (i * 2).toDouble, "{}")
    }
    val burst = (0 until 24).map { i =>
      (100L + i, Timestamp.valueOf(s"2024-01-01 00:30:${10 + i % 20}"),
        (i + 1).toLong, Seq("purchase", "click", "view", "error", "signup")(i % 5),
        (i + 1).toDouble, "{}")
    }
    (early ++ burst).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("three concurrent jobs populate all 12 keys and 9 channels (reference acceptance)") {
    val in = writeDropDir()
    val ckpt = Files.createTempDirectory("graft-parity-ckpt").toString
    val derivedDir = s"$ckpt/derived-kpis"
    Files.createDirectories(java.nio.file.Paths.get(derivedDir))
    val kv = new InMemoryKvStore
    val source = () => Jobs.fileEventStream(spark, in)
    val trigger = Trigger.AvailableNow()
    // All three jobs + the relay CONCURRENTLY in one session — the wiring
    // the reference's compose stack runs (transaction_analytics.py:17-41).
    val stage1 =
      Jobs.transactionsJob(source, kv, ckpt, trigger) ++
      Jobs.infrastructureJob(source, kv, ckpt, trigger) ++
      Jobs.derivedJob(source, kv, ckpt, trigger) :+
      Jobs.kpiRelayJob(source, derivedDir, ckpt, trigger)
    try {
      // awaitAnyTermination first (the blocking call the job mains use),
      // then drain every query — AvailableNow terminates each when done.
      spark.streams.awaitAnyTermination(120000)
      stage1.foreach(_.awaitTermination(120000))
    } finally stage1.foreach(q => if (q.isActive) q.stop())
    // Each event query reads the 32 events once: a frame that scanned its
    // micro-batch once per union arm would report a multiple of 32.
    val inputRows = stage1.map(q => q.name -> q.recentProgress.map(_.numInputRows).sum).toMap
    assert(inputRows.size == 8 && inputRows.values.forall(_ == 32), inputRows)
    // Alerts consume the relayed derived-KPI stream (the reference's
    // `aggregated.kpis` read-back) once the relay has materialized it.
    val alerts = Jobs.alertsJob(
      () => Jobs.fileKpiStream(spark, derivedDir), kv, ckpt, trigger)
    try alerts.awaitTermination(120000)
    finally if (alerts.isActive) alerts.stop()

    // --- the 12 keys ---------------------------------------------------
    val kpi = kv.hashes(Keys.KpiCurrent) //                          key 1
    assert(Set("activeUsers", "revenue", "orders", "errorRate", "latency",
      "updatedAt", "activeUsersTrend", "revenueTrend", "ordersTrend",
      "errorRateTrend", "latencyTrend").subsetOf(kpi.keySet))
    val snapshotKeys = kv.hashes.keys.filter(_.startsWith("nexus:kpi:snapshot:"))
    assert(snapshotKeys.nonEmpty) //                                 key 2
    assert(snapshotKeys.forall(k => k.stripPrefix("nexus:kpi:snapshot:").forall(_.isDigit)))
    val traffic = kv.lists(Keys.TrafficTs) //                        key 3
    assert(traffic.nonEmpty && traffic.length <= 21)
    assert(traffic.head.contains("\"timestamp\"") && traffic.head.contains("\"label\""))
    val feed = kv.lists(Keys.ActivityFeed) //                        key 4
    assert(feed.nonEmpty && feed.length <= 15)
    assert(feed.head.contains("\"action\"") || feed.head.contains("\"id\""))
    val regions = kv.strings(Keys.RegionsCurrent) //                 key 5
    assert(regions.startsWith("[") && regions.contains("\"intensity\"")
      && regions.contains("\"sales\""))
    val flows = kv.strings(Keys.FlowsCurrent) //                     key 6
    assert(flows.contains("\"source\"") && flows.contains("\"target\"")
      && flows.contains("flow_1"))
    val platform = kv.strings(Keys.PlatformBreakdown) //             key 7
    assert(platform.contains("\"name\"") && platform.contains("\"value\""))
    val rules = kv.strings(Keys.AlertRules) //                       key 8
    assert(graft.ops.Alerts.rules.forall(r => rules.contains(s""""id":"${r.id}"""")))
    val summary = kv.hashes(Keys.AlertSummary) //                    key 9
    assert(summary.keySet == Set("criticalCount", "warningCount", "healthyCount",
      "criticalImpact", "updatedAt"))
    assert(summary("criticalCount").toInt + summary("warningCount").toInt +
      summary("healthyCount").toInt == graft.ops.Alerts.rules.length)
    val health = kv.hashes(Keys.HealthCurrent) //                    key 10
    assert(Set("cpu_centi", "memory_centi", "apiClusterScore", "apiClusterStatus",
      "updatedAt").subsetOf(health.keySet))
    val geo = kv.hashes(Keys.GeoHeader) //                           key 11
    assert(Set("uptime", "globalLoad", "globalLoadBytes", "engineVersion",
      "protocolStatus", "updatedAt").subsetOf(geo.keySet))
    assert(geo("globalLoad").endsWith(" TB/S"))
    assert(kv.hashes.keys.count(_.startsWith("nexus:kpi:snapshot:")) >= 1) // key 12
    // (snapshot hour keys are the 12th family: current + snapshot are
    // distinct hashes by construction)
    assert(kv.hashes.contains(Keys.KpiCurrent) && snapshotKeys.nonEmpty)

    // --- the 9 channels ------------------------------------------------
    assert(Keys.AllChannels.subsetOf(kv.published.keySet.toSet),
      s"missing channels: ${Keys.AllChannels -- kv.published.keySet}")
    // each channel carried a non-empty payload
    Keys.AllChannels.foreach { c =>
      assert(kv.published(c).nonEmpty && kv.published(c).head.nonEmpty, s"empty channel $c")
    }
  }

  test("full stack over the wire: jobs -> RESP -> HTTP API serves every snapshot") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val stub = new graft.streaming.RespServerStub
    val kv = new graft.streaming.RespKvStore("127.0.0.1", stub.port)
    val server = graft.streaming.Api.start(kv)
    val port = server.getAddress.getPort
    val in = writeDropDir()
    val ckpt = Files.createTempDirectory("graft-stack-ckpt").toString
    val derivedDir = s"$ckpt/derived-kpis"
    Files.createDirectories(java.nio.file.Paths.get(derivedDir))
    val source = () => Jobs.fileEventStream(spark, in)
    val trigger = Trigger.AvailableNow()
    try {
      val stage1 =
        Jobs.transactionsJob(source, kv, ckpt, trigger) ++
        Jobs.infrastructureJob(source, kv, ckpt, trigger) ++
        Jobs.derivedJob(source, kv, ckpt, trigger) :+
        Jobs.kpiRelayJob(source, derivedDir, ckpt, trigger)
      try stage1.foreach(_.awaitTermination(120000))
      finally stage1.foreach(q => if (q.isActive) q.stop())
      val alerts = Jobs.alertsJob(
        () => Jobs.fileKpiStream(spark, derivedDir), kv, ckpt, trigger)
      try alerts.awaitTermination(120000)
      finally if (alerts.isActive) alerts.stop()

      // every REST route serves a populated, contract-shaped payload that
      // crossed process boundaries twice (RESP write, RESP read-back)
      val http = HttpClient.newHttpClient()
      def get(path: String): String = http.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      val metrics = get("/api/metrics")
      assert(metrics.contains("\"orders\":") && metrics.contains("\"revenueTrend\":"),
        metrics)
      assert(!metrics.contains("\"updatedAt\":0"), s"metrics not populated: $metrics")
      assert(get("/api/traffic").startsWith("[{\"timestamp\""))
      assert(get("/api/activities").contains("\"action\""))
      assert(get("/api/regions").contains("\"intensity\""))
      assert(get("/api/flows").contains("\"source\""))
      assert(get("/api/platform").contains("\"name\""))
      assert(get("/api/alerts").contains("\"rules\":[{\"id\":\"alert_"))
      assert(get("/api/health").contains("\"cpu_centi\""))
      assert(get("/api/geo").contains("\"globalLoad\""))
      // and the channels were published over the wire
      assert(graft.streaming.Keys.AllChannels.subsetOf(stub.published.keySet.toSet),
        s"missing: ${graft.streaming.Keys.AllChannels -- stub.published.keySet}")
    } finally { server.stop(0); kv.close(); stub.close() }
  }
}
