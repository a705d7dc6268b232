package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Job wiring (SURVEY.md §2.9, §2.7 W2/W5/W6/W7): the three reference jobs'
  * query graphs — same frame builders as the batch registry, same output
  * modes/triggers/checkpoints as the reference
  * (reference: src/streaming/jobs/transaction_analytics.py:17-41,
  * infrastructure_analytics.py:11-22, derived_analytics.py:9-17).
  *
  * W2 discipline: `source()` is called once per query so no two queries
  * share a plan node (sharing trips `Redefining watermark` once each query
  * applies its own watermark after union).
  */
object Jobs {

  val TriggerInterval = "10 seconds"
  val WatermarkedModes = Map(
    "kpi" -> "update", "activity" -> "append", "regions" -> "complete",
    "traffic" -> "complete", "health" -> "complete", "geo" -> "complete",
    "platform" -> "complete", "alerts" -> "update")

  /** The events schema for streaming file sources (explicit — never inferred
    * in the hot path, reference: schemas.py:23-170 discipline). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Backpressure rides Spark's own file-source admission control: a
    * restart against a weekend's backlog must drain in bounded batches,
    * not one giant first micro-batch that blows the trigger SLA (SURVEY
    * §4's `maxOffsetsPerTrigger` story; the reference saturates on its
    * first batch, FLOW.md:107,413). 64 files ≈ a few minutes of 10 s
    * epochs — deep enough to amortize scheduling, bounded enough to keep
    * first-batch memory flat. A 64-file admission is cheap only because
    * [[graft.Session]] lists files on the driver: above 32 paths Spark
    * would otherwise launch a listing job with one task per file, in
    * every query's batch. */
  val MaxFilesPerTrigger = 64

  /** File-based stream source for local/dev runs (S11 streaming form):
    * parquet drop-dir with the explicit schema. Kafka deployments use
    * [[KafkaStack.cdcStream]] instead. */
  def fileEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger)
      .parquet(dir)

  private def start(frame: DataFrame, name: String, mode: String,
      checkpointBase: String, writer: (DataFrame, Long) => Unit,
      trigger: Trigger): StreamingQuery =
    frame.writeStream
      .outputMode(mode)
      .foreachBatch { (df: DataFrame, id: Long) => writer(df, id) }
      .option("checkpointLocation", s"$checkpointBase/$name")
      .trigger(trigger)
      .queryName(name)
      .start()

  /** Transactions job: KPI (update) + activity (append) + regions (complete),
    * one fresh source per query (W2). `trigger` defaults to the reference's
    * 10 s processing-time cadence; tests pass `Trigger.AvailableNow`.
    */
  def transactionsJob(source: () => DataFrame, kv: KvStore,
      checkpointBase: String,
      trigger: Trigger = Trigger.ProcessingTime(TriggerInterval)): Seq[StreamingQuery] = Seq(
    start(graft.ops.Frames.kpiFrame(source()), "kpi",
      WatermarkedModes("kpi"), checkpointBase, KvSink.kpiWriter(kv), trigger),
    start(graft.ops.Activity.activityFeed(source()), "activity",
      WatermarkedModes("activity"), checkpointBase, KvSink.activityWriter(kv), trigger),
    start(graft.ops.Frames.regionFrame(source()), "regions",
      WatermarkedModes("regions"), checkpointBase, KvSink.regionsWriter(kv), trigger))

  /** Infrastructure job: traffic (complete) + health (complete) + geo
    * (complete) — the reference's three infra queries
    * (jobs/infrastructure_analytics.py:11-22), each on its own source
    * instance (W2). */
  def infrastructureJob(source: () => DataFrame, kv: KvStore,
      checkpointBase: String,
      trigger: Trigger = Trigger.ProcessingTime(TriggerInterval)): Seq[StreamingQuery] = Seq(
    start(graft.ops.Frames.trafficFrame(source()), "traffic",
      WatermarkedModes("traffic"), checkpointBase, KvSink.trafficWriter(kv), trigger),
    start(graft.ops.Frames.healthFrame(source(), exactDistinct = false), "health",
      WatermarkedModes("health"), checkpointBase, KvSink.healthWriter(kv), trigger),
    start(graft.ops.Frames.geoFrame(source()), "geo",
      WatermarkedModes("geo"), checkpointBase, KvSink.geoWriter(kv), trigger))

  /** Derived alerts job: consume a KPI snapshot stream (in production the
    * `aggregated.kpis` read-back via [[KafkaStack.jsonStream]] — the
    * reference routes alert evaluation through that derived topic precisely
    * so the threshold eval + state machine don't chain stateful operators
    * onto the windowed aggregation in one query), evaluate thresholds per
    * rule, fold through the Normal→Pending→Firing machine, write
    * rules+summary (reference: jobs/derived_analytics.py:9-17,
    * alert_evaluator.py:43-88).
    *
    * `kpiRows` schema: (errorRate double, latency long, updatedAt long).
    */
  def alertsJob(kpiRows: () => DataFrame, kv: KvStore, checkpointBase: String,
      trigger: Trigger = Trigger.ProcessingTime(TriggerInterval)): StreamingQuery = {
    import org.apache.spark.sql.functions._
    val spark0 = kpiRows().sparkSession
    import spark0.implicits._
    val evals = graft.ops.Alerts.rules.map { r =>
      val breached: org.apache.spark.sql.Column = r.metricColumn match {
        case None => lit(false)
        case Some(c) => col(c).cast("double") >= lit(r.threshold)
      }
      kpiRows().select(lit(r.id).as("ruleId"), breached.as("breached"),
        col("updatedAt").cast("long").as("updatedAt"))
    }.reduce(_ unionByName _)
      .as[AlertStateMachine.AlertEval]
    AlertStateMachine(evals)
      .toDF()
      .writeStream
      .outputMode(AlertStateMachine.outputMode)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.collect()
        if (rows.nonEmpty) {
          val payload = rows.sortBy(r => (r.getAs[String]("ruleId")))
            .map(r => s"""{"id":"${r.getAs[String]("ruleId")}","status":"${r.getAs[String]("status")}","consecutive":${r.getAs[Int]("consecutive")},"updatedAt":${r.getAs[Long]("updatedAt")}}""")
          kv.writeJson(Keys.AlertRules, payload.mkString("[", ",", "]"),
            channel = Some(Keys.ChannelAlerts))
          // Reference-shaped summary (alert_evaluator.py:28-36) — the same
          // schema KvSink.alertWriter writes to this key, so readers via
          // Serve.getAlertSummary see one contract regardless of which
          // writer ran last. Severity comes from the rule config by ruleId;
          // healthy is the machine's quiescent state only (its "normal"
          // plays the reference's status == 'ok').
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
      .option("checkpointLocation", s"$checkpointBase/alerts")
      .trigger(trigger)
      .queryName("alerts")
      .start()
  }

  /** Schema of the derived KPI row stream [[alertsJob]] consumes
    * (the `aggregated.kpis` read-back in production). */
  val kpiRowsSchema: StructType = StructType(Seq(
    StructField("errorRate", DoubleType), StructField("latency", LongType),
    StructField("updatedAt", LongType)))

  /** File-based form of the derived KPI stream for local/dev runs. */
  def fileKpiStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(kpiRowsSchema).parquet(dir)

  /** The KPI → derived-stream relay: re-publish each micro-batch's KPI rows
    * into a drop-dir the alerts job tails — the file-source rendition of the
    * reference's `aggregated.kpis` derived topic (derived_analytics.py:9-17).
    * Routing alert evaluation through a materialized stream rather than
    * chaining onto the windowed aggregation is what keeps each streaming
    * query single-stateful-operator (agg here, mapGroupsWithState there).
    */
  def kpiRelayJob(source: () => DataFrame, derivedDir: String,
      checkpointBase: String,
      trigger: Trigger = Trigger.ProcessingTime(TriggerInterval)): StreamingQuery =
    graft.ops.Frames.kpiFrame(source()).writeStream
      .outputMode("update")
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select("errorRate", "latency", "updatedAt")
          .write.mode("append").parquet(derivedDir)
      }
      .option("checkpointLocation", s"$checkpointBase/kpi-relay")
      .trigger(trigger)
      .queryName("kpi-relay")
      .start()

  /** Derived job: platform breakdown (complete, unwindowed running agg). */
  def derivedJob(source: () => DataFrame, kv: KvStore,
      checkpointBase: String,
      trigger: Trigger = Trigger.ProcessingTime(TriggerInterval)): Seq[StreamingQuery] = Seq(
    start(graft.ops.Frames.platformFrame(source()), "platform",
      WatermarkedModes("platform"), checkpointBase, KvSink.platformWriter(kv), trigger))
}
