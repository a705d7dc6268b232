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
  * applies its own watermark).
  */
object Jobs {

  val TriggerInterval = "10 seconds"
  val WatermarkedModes = Map(
    "kpi" -> "update", "activity" -> "append", "regions" -> "complete",
    "traffic" -> "complete", "health" -> "complete", "geo" -> "complete",
    "platform" -> "complete", "alerts" -> "update", "kpi-relay" -> "update")

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
    * parquet drop-dir with the explicit schema. The reference reads Kafka
    * here; the build's Spark jars carry no Kafka connector. */
  def fileEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger)
      .parquet(dir)

  /** The one wiring every query starts through: output mode by query name
    * from [[WatermarkedModes]], a `foreachBatch` writer, and a checkpoint
    * directory named after the query. */
  private def start(frame: DataFrame, name: String,
      checkpointBase: String, writer: (DataFrame, Long) => Unit,
      trigger: Trigger): StreamingQuery = {
    val checkpoint = s"$checkpointBase/$name"
    collapseRepeatedSource(frame, checkpoint)
    frame.writeStream
      .outputMode(WatermarkedModes(name))
      .foreachBatch { (df: DataFrame, id: Long) => writer(df, id) }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .queryName(name)
      .start()
  }

  /** Checkpoint upgrade for the one-pass frames. While `Frames.kpiNormalize`
    * and `regionFrame` unioned filtered arms of their one stream, each
    * offsets entry of kpi, kpi-relay and regions listed that stream once per
    * arm (3, 3 and 2 identical lines), and Spark refuses to resume when the
    * source count changes. For a query that now reads one source, such an
    * entry is rewritten with one line; a query reading several sources (the
    * alerts job's per-rule streams) is left alone. */
  private def collapseRepeatedSource(frame: DataFrame, checkpoint: String): Unit =
    if (frame.queryExecution.analyzed.collectLeaves().count(_.isStreaming) == 1) {
      val offsets = new org.apache.hadoop.fs.Path(checkpoint, "offsets")
      val fs = offsets.getFileSystem(frame.sparkSession.sparkContext.hadoopConfiguration)
      if (fs.exists(offsets))
        fs.listStatus(offsets).map(_.getPath).filter(_.getName.forall(_.isDigit)).foreach { f =>
          val in = fs.open(f)
          val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
            finally in.close()
          val entries = lines.drop(2)
          if (entries.length > 1 && entries.distinct.length == 1) {
            val out = fs.create(f, true)
            try out.write((lines.take(2) :+ entries.head).mkString("\n").getBytes("UTF-8"))
            finally out.close()
          }
        }
    }

  /** Transactions job: KPI (update) + activity (append) + regions (complete),
    * one fresh source per query (W2). `trigger` defaults to the reference's
    * 10 s processing-time cadence; tests pass `Trigger.AvailableNow`.
    */
  def transactionsJob(source: () => DataFrame, kv: KvStore,
      checkpointBase: String,
      trigger: Trigger = Trigger.ProcessingTime(TriggerInterval)): Seq[StreamingQuery] = Seq(
    start(graft.ops.Frames.kpiFrame(source()), "kpi",
      checkpointBase, KvSink.kpiWriter(kv), trigger),
    start(graft.ops.Activity.activityFeed(source()), "activity",
      checkpointBase, KvSink.activityWriter(kv), trigger),
    start(graft.ops.Frames.regionFrame(source()), "regions",
      checkpointBase, KvSink.regionsWriter(kv), trigger))

  /** Infrastructure job: traffic (complete) + health (complete) + geo
    * (complete) — the reference's three infra queries
    * (jobs/infrastructure_analytics.py:11-22), each on its own source
    * instance (W2). */
  def infrastructureJob(source: () => DataFrame, kv: KvStore,
      checkpointBase: String,
      trigger: Trigger = Trigger.ProcessingTime(TriggerInterval)): Seq[StreamingQuery] = Seq(
    start(graft.ops.Frames.trafficFrame(source()), "traffic",
      checkpointBase, KvSink.trafficWriter(kv), trigger),
    start(graft.ops.Frames.healthFrame(source(), exactDistinct = false), "health",
      checkpointBase, KvSink.healthWriter(kv), trigger),
    start(graft.ops.Frames.geoFrame(source()), "geo",
      checkpointBase, KvSink.geoWriter(kv), trigger))

  /** Derived alerts job: consume a KPI snapshot stream (in the reference,
    * the `aggregated.kpis` topic read-back — the
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
    start(AlertStateMachine(evals).toDF(), "alerts", checkpointBase,
      KvSink.alertWriter(kv), trigger)
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
    start(graft.ops.Frames.kpiFrame(source()), "kpi-relay", checkpointBase,
      (df, _) => df.select("errorRate", "latency", "updatedAt")
        .write.mode("append").parquet(derivedDir),
      trigger)

  /** The whole stream graph [[StreamMain]] runs: the nine queries of the
    * transactions, infrastructure and derived jobs plus the KPI relay and
    * the alerts job it feeds, all reading parquet event files from
    * `inputDir`, with checkpoints under `checkpointBase`. The alerts job
    * consumes the derived KPI stream (reference: the `aggregated.kpis`
    * topic), rendered as the relay's drop-dir `checkpointBase/derived-kpis`. */
  def graph(spark: SparkSession, inputDir: String, kv: KvStore,
      checkpointBase: String,
      trigger: Trigger = Trigger.ProcessingTime(TriggerInterval)): Seq[StreamingQuery] = {
    val source = () => fileEventStream(spark, inputDir)
    val derivedDir = s"$checkpointBase/derived-kpis"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(derivedDir))
    transactionsJob(source, kv, checkpointBase, trigger) ++
      infrastructureJob(source, kv, checkpointBase, trigger) ++
      derivedJob(source, kv, checkpointBase, trigger) ++
      Seq(
        kpiRelayJob(source, derivedDir, checkpointBase, trigger),
        alertsJob(() => fileKpiStream(spark, derivedDir), kv, checkpointBase, trigger))
  }

  /** Derived job: platform breakdown (complete, unwindowed running agg). */
  def derivedJob(source: () => DataFrame, kv: KvStore,
      checkpointBase: String,
      trigger: Trigger = Trigger.ProcessingTime(TriggerInterval)): Seq[StreamingQuery] = Seq(
    start(graft.ops.Frames.platformFrame(source()), "platform",
      checkpointBase, KvSink.platformWriter(kv), trigger))
}
