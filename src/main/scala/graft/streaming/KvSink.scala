package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The reference's Redis sink family (SURVEY.md §2 S10/A9/T1/T3/W9) behind a
  * pluggable KV interface: every write is the two-step write-then-publish
  * contract of the reference's client (reference: src/streaming/
  * redis_client.py:52-104, contract DESCRIPTION.md:1499-1524).
  *
  * `foreachBatch` writers run on the driver per micro-batch, exactly like
  * the reference's `write_*_batch` functions; the store is injectable so
  * tests observe writes in-memory and production plugs a Redis client with
  * no change to the dataflow.
  */
trait KvStore extends Serializable {

  /** HSET + optional TTL + optional PUBLISH. */
  def writeHash(key: String, value: Map[String, String], ttlSeconds: Option[Int] = None,
      channel: Option[String] = None): Unit

  /** SET of a JSON string + optional PUBLISH. */
  def writeJson(key: String, json: String, channel: Option[String] = None): Unit

  /** LPUSH + LTRIM to maxLen + optional PUBLISH. */
  def pushToList(key: String, json: String, maxLen: Int,
      channel: Option[String] = None): Unit

  /** HGETALL (empty when absent) — used by trend computation (W9). */
  def readHash(key: String): Map[String, String]

  /** GET (None when absent) — serving-layer snapshot read-back. */
  def readJson(key: String): Option[String] = None

  /** LRANGE 0..n-1 (empty when absent) — serving-layer list read-back. */
  def readList(key: String, n: Int): List[String] = Nil

  /** Pub/sub subscription for push fan-out (the SSE/WS side of the
    * contract); the returned handle stops delivery. Default: no-op. */
  def subscribe(channels: Seq[String])(
      handler: (String, String) => Unit): java.io.Closeable = () => ()
}

/** Thread-safe in-memory KvStore for tests and local runs. */
final class InMemoryKvStore extends KvStore {
  val hashes = TrieMap.empty[String, Map[String, String]]
  val strings = TrieMap.empty[String, String]
  val lists = TrieMap.empty[String, List[String]]
  val published = TrieMap.empty[String, List[String]]
  private val listeners =
    new java.util.concurrent.CopyOnWriteArrayList[(Set[String], (String, String) => Unit)]()

  private def publish(channel: Option[String], payload: String): Unit =
    channel.foreach { c =>
      published.updateWith(c)(l => Some(payload :: l.getOrElse(Nil)))
      listeners.forEach { case (chs, h) => if (chs.contains(c)) h(c, payload) }
    }

  def writeHash(key: String, value: Map[String, String], ttlSeconds: Option[Int],
      channel: Option[String]): Unit = {
    hashes.put(key, value)
    publish(channel, value.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(","))
  }

  def writeJson(key: String, json: String, channel: Option[String]): Unit = {
    strings.put(key, json)
    publish(channel, json)
  }

  def pushToList(key: String, json: String, maxLen: Int, channel: Option[String]): Unit = {
    lists.updateWith(key)(l => Some((json :: l.getOrElse(Nil)).take(maxLen)))
    publish(channel, json)
  }

  def readHash(key: String): Map[String, String] = hashes.getOrElse(key, Map.empty)

  override def readJson(key: String): Option[String] = strings.get(key)

  override def readList(key: String, n: Int): List[String] =
    lists.getOrElse(key, Nil).take(n)

  override def subscribe(channels: Seq[String])(
      handler: (String, String) => Unit): java.io.Closeable = {
    val entry = (channels.toSet, handler)
    listeners.add(entry)
    () => { listeners.remove(entry); () }
  }
}

/** Key/channel names (reference: src/streaming/config.py:46-66) — the full
  * 12-key / 9-channel acceptance contract (reference README.md:27-37). */
object Keys {
  val KpiCurrent = "nexus:kpi:current"
  def kpiSnapshot(epochHour: Long) = s"nexus:kpi:snapshot:$epochHour"
  val TrafficTs = "nexus:traffic:timeseries"
  val ActivityFeed = "nexus:activity:feed"
  val RegionsCurrent = "nexus:regions:current"
  val FlowsCurrent = "nexus:flows:current"
  val PlatformBreakdown = "nexus:platform:breakdown"
  val AlertRules = "nexus:alert:rules"
  val AlertSummary = "nexus:alert:summary"
  val HealthCurrent = "nexus:health:current"
  val GeoHeader = "nexus:geo:header"
  val ChannelKpi = "nexus.kpi"
  val ChannelTraffic = "nexus.traffic"
  val ChannelActivity = "nexus.activity"
  val ChannelRegions = "nexus.regions"
  val ChannelFlows = "nexus.flows"
  val ChannelAlerts = "nexus.alerts"
  val ChannelPlatform = "nexus.platform"
  val ChannelHealth = "nexus.health"
  val ChannelGeo = "nexus.geo"

  /** Every publish channel of the contract (config.py:58-66). */
  val AllChannels: Set[String] = Set(ChannelKpi, ChannelTraffic,
    ChannelActivity, ChannelRegions, ChannelFlows, ChannelAlerts,
    ChannelPlatform, ChannelHealth, ChannelGeo)
}

object KvSink {

  /** W9: trend vs the previous epoch-hour snapshot read back from the KV
    * store; 0.0 when the previous value is missing or zero
    * (reference: kpi_aggregator.py:28-51). */
  def computeTrend(current: Double, previous: Option[Double]): Double =
    previous match {
      case None | Some(0.0) => 0.0
      case Some(p) => math.round((current - p) / p * 1000.0) / 10.0
    }

  /** A9/T1 + W9: the KPI batch writer — pick the richest-then-latest window,
    * write current hash + epoch-hour snapshot (TTL 7200 s), derive trends
    * from the previous hour's snapshot (reference: kpi_aggregator.py:54-96).
    */
  def kpiWriter(kv: KvStore): (DataFrame, Long) => Unit = (batch, _) => {
    val rows = graft.ops.Frames.richestWindow(batch).collect()
    rows.headOption.foreach { row =>
      val current = Map(
        "activeUsers" -> row.getAs[Long]("activeUsers").toString,
        "revenue" -> row.getAs[Double]("revenue").toString,
        "orders" -> row.getAs[Long]("orders").toString,
        "errorRate" -> row.getAs[Double]("errorRate").toString,
        "latency" -> row.getAs[Long]("latency").toString,
        "updatedAt" -> row.getAs[Long]("updatedAt").toString)
      val updatedAt = row.getAs[Long]("updatedAt")
      val currentHour = updatedAt / 3600000L
      val previous = kv.readHash(Keys.kpiSnapshot(math.max(currentHour - 1, 0)))
      def trend(metric: String): String =
        KvSink.computeTrend(current(metric).toDouble,
          previous.get(metric).filter(_.nonEmpty).map(_.toDouble)).toString
      val payload = current ++ Map(
        "activeUsersTrend" -> trend("activeUsers"),
        "revenueTrend" -> trend("revenue"),
        "ordersTrend" -> trend("orders"),
        "errorRateTrend" -> trend("errorRate"),
        "latencyTrend" -> trend("latency"))
      kv.writeHash(Keys.KpiCurrent, payload, channel = Some(Keys.ChannelKpi))
      kv.writeHash(Keys.kpiSnapshot(currentHour), current, ttlSeconds = Some(7200))
    }
  }

  /** T3 + list push: latest traffic point → capped list
    * (reference: traffic_builder.py:19-32). */
  def trafficWriter(kv: KvStore): (DataFrame, Long) => Unit = (batch, _) => {
    batch.orderBy(col("timestamp").desc).limit(1).collect().foreach { row =>
      kv.pushToList(Keys.TrafficTs,
        s"""{"timestamp":${row.getAs[Long]("timestamp")},"value":${row.getAs[Long]("value")},"label":"${row.getAs[String]("label")}"}""",
        maxLen = 21, channel = Some(Keys.ChannelTraffic))
    }
  }

  /** T2: top-15 newest activities pushed oldest-first so the list head is
    * newest (reference: activity_enricher.py:19-26). */
  def activityWriter(kv: KvStore): (DataFrame, Long) => Unit = (batch, _) => {
    val rows = batch.orderBy(col("timestamp").desc).limit(15).collect()
    rows.reverseIterator.foreach { row =>
      kv.pushToList(Keys.ActivityFeed, rowJson(row), maxLen = 15,
        channel = Some(Keys.ChannelActivity))
    }
  }

  /** Latest-row hash writer shared by health and geo: top-1 by updatedAt,
    * every field stringified into the hash, published on `channel`
    * (reference: health_aggregator.py:20-27, geo_header.py:20-27). */
  def latestRowHashWriter(kv: KvStore, key: String,
      channel: String): (DataFrame, Long) => Unit = (batch, _) => {
    batch.orderBy(col("updatedAt").desc).limit(1).collect().foreach { row =>
      kv.writeHash(key,
        row.schema.fields.map(f =>
          f.name -> Option(row.getAs[Any](f.name)).map(_.toString).getOrElse("")).toMap,
        channel = Some(channel))
    }
  }

  def healthWriter(kv: KvStore): (DataFrame, Long) => Unit =
    latestRowHashWriter(kv, Keys.HealthCurrent, Keys.ChannelHealth)

  def geoWriter(kv: KvStore): (DataFrame, Long) => Unit =
    latestRowHashWriter(kv, Keys.GeoHeader, Keys.ChannelGeo)

  /** T5 + publish: platform breakdown, name-sorted JSON array
    * (reference: device_platform.py:24-44). */
  def platformWriter(kv: KvStore): (DataFrame, Long) => Unit = (batch, _) => {
    val rows = batch.collect().sortBy(_.getAs[String]("name"))
    if (rows.nonEmpty)
      kv.writeJson(Keys.PlatformBreakdown,
        rows.map(r => s"""{"name":"${r.getAs[String]("name")}","value":${r.getAs[Long]("value")}}""")
          .mkString("[", ",", "]"),
        channel = Some(Keys.ChannelPlatform))
  }

  /** A10/W4: alert rules + summary writer over the state machine's rows
    * (ruleId, status, consecutive, updatedAt) — rules as a JSON array, the
    * summary in the reference's hash shape (reference:
    * alert_evaluator.py:21-38). Severity comes from the rule config by
    * ruleId; healthy is the machine's quiescent state only (its "normal"
    * plays the reference's status == 'ok').
    */
  def alertWriter(kv: KvStore): (DataFrame, Long) => Unit = (batch, _) => {
    val rows = batch.collect()
    if (rows.nonEmpty) {
      val payload = rows.sortBy(r => (r.getAs[String]("ruleId")))
        .map(r => s"""{"id":"${r.getAs[String]("ruleId")}","status":"${r.getAs[String]("status")}","consecutive":${r.getAs[Int]("consecutive")},"updatedAt":${r.getAs[Long]("updatedAt")}}""")
      kv.writeJson(Keys.AlertRules, payload.mkString("[", ",", "]"),
        channel = Some(Keys.ChannelAlerts))
      val sevById = graft.ops.Alerts.rules.map(r => r.id -> r.severity).toMap
      val unhealthy = rows.filter(_.getAs[String]("status") != "normal")
      def bySev(s: String) = unhealthy.count(r =>
        sevById.getOrElse(r.getAs[String]("ruleId"), "warning") == s)
      kv.writeHash(Keys.AlertSummary, Map(
        "criticalCount" -> bySev("critical").toString,
        "warningCount" -> bySev("warning").toString,
        "healthyCount" -> rows.count(_.getAs[String]("status") == "normal").toString,
        "criticalImpact" -> "Currently affecting 0% of users",
        "updatedAt" -> rows.map(_.getAs[Long]("updatedAt")).max.toString))
    }
  }

  /** T4: the flow arcs — regions of the latest window ranked by intensity;
    * ranked[0] is the hub, ranked[1..5] become arcs into it
    * (reference: region_aggregator.py:53-65). Returns the JSON payload, and
    * [[regionsWriter]] publishes it alongside the region snapshot.
    */
  def flowsPayload(ranked: Seq[(String, Double)]): Option[String] =
    if (ranked.length < 2) None
    else {
      val hub = ranked.head._1
      val arcs = ranked.slice(1, 6).zipWithIndex.map { case ((region, intensity), i) =>
        s"""{"id":"flow_${i + 1}","source":"$region","target":"$hub","value":$intensity}"""
      }
      Some(arcs.mkString("[", ",", "]"))
    }

  /** Regions writer: latest-window snapshot (name-sorted) + flow arcs
    * ranked by intensity, ties by region name, so the published arcs depend
    * on the rows alone, not on their collect order
    * (reference: region_aggregator.py:27-65). The latest-window filter runs
    * IN-PLAN (`Frames.latestRows`, the rule `Frames.latestWindow` uses)
    * before the collect: complete mode re-emits every window ever, so a
    * driver-side filter over `batch.collect()` would grow without bound
    * with stream lifetime — the collect must only ever see O(regions) rows.
    */
  def regionsWriter(kv: KvStore): (DataFrame, Long) => Unit = (batch, _) => {
    val current = graft.ops.Frames.latestRows(batch).collect()
    if (current.nonEmpty) {
      val payload = current.sortBy(_.getAs[String]("region_name"))
        .map(r => s"""{"name":"${r.getAs[String]("region_name")}","intensity":${r.getAs[Double]("intensity")},"sales":${r.getAs[Double]("sales")}}""")
      kv.writeJson(Keys.RegionsCurrent, payload.mkString("[", ",", "]"),
        channel = Some(Keys.ChannelRegions))
      val ranked = current
        .map(r => (r.getAs[String]("region_name"), r.getAs[Double]("intensity")))
        .sortBy { case (name, intensity) => (-intensity, name) }.toSeq
      flowsPayload(ranked).foreach(
        kv.writeJson(Keys.FlowsCurrent, _, channel = Some(Keys.ChannelFlows)))
    }
  }

  private def rowJson(row: Row): String =
    row.schema.fields.map { f =>
      val v = row.getAs[Any](f.name) match {
        case null => "null"
        case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        case other => other.toString
      }
      s""""${f.name}":$v"""
    }.mkString("{", ",", "}")
}
