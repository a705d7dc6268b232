package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{InMemoryKvStore, Jobs, Keys, Serve}

/** W7: checkpointed restart — a second run from the same checkpoint resumes
  * at the recorded offsets and processes only newly-arrived files. Also
  * exercises the serving-layer readers over the resulting KV state.
  */
class CheckpointSpec extends SparkSpec {

  private def writeBatch(dir: String, rows: Seq[(Long, String, Long, String, Double, String)],
      part: String): Unit = {
    import spark.implicits._
    rows.map { case (id, ts, uid, et, v, p) =>
      (id, Timestamp.valueOf(ts), uid, et, v, p)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)
  }

  test("restart from checkpoint processes only new data (W7) and serves reads") {
    val in = Files.createTempDirectory("graft-ckpt-in").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-state").toString
    val kv = new InMemoryKvStore

    writeBatch(in, Seq(
      (0L, "2024-01-01 00:01:00", 1L, "purchase", 10.0, "{}"),
      (1L, "2024-01-01 00:03:00", 2L, "click", 2.0, "{}")), "a")
    val run1 = Jobs.transactionsJob(
      () => Jobs.fileEventStream(spark, in), kv, ckpt, Trigger.AvailableNow())
    run1.foreach(_.awaitTermination(60000))
    run1.foreach(q => if (q.isActive) q.stop())
    val feedAfter1 = kv.lists(Keys.ActivityFeed).length
    assert(feedAfter1 == 2)

    // second run, same checkpoint: one new event arrives; only it is pushed
    writeBatch(in, Seq(
      (2L, "2024-01-01 00:05:00", 3L, "purchase", 5.0, "{}")), "b")
    val run2 = Jobs.transactionsJob(
      () => Jobs.fileEventStream(spark, in), kv, ckpt, Trigger.AvailableNow())
    run2.foreach(_.awaitTermination(60000))
    run2.foreach(q => if (q.isActive) q.stop())
    val feed = kv.lists(Keys.ActivityFeed)
    assert(feed.length == 3) // not 5: events 0/1 were not reprocessed
    assert(feed.head.contains("evt_2"))

    // serving-layer parity: numbers re-typed from the KV strings
    val metrics = Serve.getMetrics(kv)
    assert(metrics("orders") == 2L) // both purchases aggregated (update mode)
    assert(metrics("revenue").isInstanceOf[Double])
    assert(Serve.parseNumber("12") == 12L)
    assert(Serve.parseNumber("12.5") == 12.5)
    assert(Serve.parseNumber("HEALTHY") == "HEALTHY")
  }

  test("a kpi checkpoint that lists its one stream once per union arm resumes with its state") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val in = Files.createTempDirectory("graft-arms-in").toString
    val ckpt = Files.createTempDirectory("graft-arms-ckpt").toString
    val kv = new InMemoryKvStore
    writeBatch(in, Seq(
      (0L, "2024-01-01 00:01:00", 1L, "purchase", 10.0, "{}"),
      (1L, "2024-01-01 00:03:00", 2L, "click", 2.0, "{}")), "a")
    // Run 1 in the union shape: two filtered arms of one stream, so every
    // offsets entry lists that stream twice.
    val events = Jobs.fileEventStream(spark, in)
    val purchase = col("event_type") === "purchase"
    val run1 = graft.ops.Frames.kpiFrame(events.filter(purchase).unionByName(events.filter(!purchase)))
      .writeStream.outputMode("update")
      .foreachBatch { (df: DataFrame, id: Long) => graft.streaming.KvSink.kpiWriter(kv)(df, id) }
      .option("checkpointLocation", s"$ckpt/kpi")
      .trigger(Trigger.AvailableNow())
      .start()
    try run1.awaitTermination(60000) finally if (run1.isActive) run1.stop()

    writeBatch(in, Seq((2L, "2024-01-01 00:05:00", 3L, "purchase", 5.0, "{}")), "b")
    val run2 = Jobs.transactionsJob(
      () => Jobs.fileEventStream(spark, in), kv, ckpt, Trigger.AvailableNow())
    try run2.foreach(_.awaitTermination(60000))
    finally run2.foreach(q => if (q.isActive) q.stop())
    val kpi = run2.find(_.name == "kpi").get
    assert(kpi.recentProgress.map(_.numInputRows).sum == 1) // only the new event
    assert(Serve.getMetrics(kv)("orders") == 2L) // run 1's purchase came from state
  }

  test("parquet file sink is exactly-once across a checkpointed restart") {
    val in = Files.createTempDirectory("graft-fsink-in").toString
    val out = Files.createTempDirectory("graft-fsink-out").toString
    val ckpt = Files.createTempDirectory("graft-fsink-ckpt").toString

    def run(): Unit = {
      val q = Jobs.fileEventStream(spark, in)
        .select(org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.col("event_type"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      if (q.isActive) q.stop()
    }
    writeBatch(in, Seq(
      (0L, "2024-01-01 00:01:00", 1L, "purchase", 10.0, "{}"),
      (1L, "2024-01-01 00:02:00", 2L, "click", 2.0, "{}")), "a")
    run()
    // restart from the same checkpoint with one new input file: committed
    // batch 1 must NOT be re-emitted (the sink's transaction log +
    // checkpointed offsets give end-to-end exactly-once for file sinks)
    writeBatch(in, Seq(
      (2L, "2024-01-01 00:03:00", 3L, "purchase", 5.0, "{}")), "b")
    run()
    val ids = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(0L, 1L, 2L), s"expected exactly-once output, got $ids")
    // the sink's _spark_metadata transaction log is what readers honor
    assert(new java.io.File(s"$out/_spark_metadata").exists())
  }

  test("mapGroupsWithState state survives a checkpointed restart") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-alerts-in").toString
    val ckpt = Files.createTempDirectory("graft-alerts-ckpt").toString

    def writeKpis(rows: Seq[(Double, Long, Long)], mode: String): Unit =
      rows.toDF("errorRate", "latency", "updatedAt")
        .coalesce(1).write.mode(mode).parquet(in)
    def run(): String = {
      val kv = new InMemoryKvStore
      val q = Jobs.alertsJob(() => Jobs.fileKpiStream(spark, in), kv, ckpt,
        Trigger.AvailableNow())
      q.awaitTermination(60000)
      if (q.isActive) q.stop()
      kv.strings(Keys.AlertRules)
    }

    // latency 500 >= 200 breaches alert_1 twice: pending, not yet firing
    writeKpis(Seq((0.0, 500L, 1000L), (0.0, 500L, 2000L)), "append")
    assert(run().contains("\"id\":\"alert_1\",\"status\":\"pending\",\"consecutive\":2"))
    // Restart from the checkpoint with one more breach. The overwrite
    // drops run 1's file, as source retention would, so the run of two
    // can only come back from the checkpointed state: the third
    // consecutive breach fires only if it was restored, and lost state
    // would read pending with a run of one.
    writeKpis(Seq((0.0, 500L, 3000L)), "overwrite")
    val rules = run()
    assert(rules.contains("\"id\":\"alert_1\",\"status\":\"firing\",\"consecutive\":3"),
      s"alert state lost across restart: $rules")
  }
}
