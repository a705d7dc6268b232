package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Spark 4's state data source (`spark.read.format("statestore")`): the
  * operational window into a live streaming checkpoint — what an on-call
  * engineer reads to answer "what does the job currently believe" without
  * stopping the query or instrumenting the code. Verified here by driving
  * a keyed streaming aggregation through a checkpoint, then reading the
  * state store OFFLINE and reconciling it against the query's own output. */
class StateSourceSpec extends SparkSpec {

  test("statestore read reconciles with the streaming aggregation's state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-state").toString
    val in = MemoryStream[(String, Long)]
    val agg = in.toDF().toDF("k", "v")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val q = agg.writeStream
      .format("noop")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .start()
    in.addData(("a", 1L), ("a", 2L), ("b", 10L))
    q.processAllAvailable()
    in.addData(("b", 5L), ("c", 7L))
    q.processAllAvailable()
    q.stop()

    def stateAt(batch: Option[Long]): Map[String, (Long, Long)] = {
      val r = batch.foldLeft(spark.read.format("statestore")
        .option("path", ckpt)) { (rd, b) => rd.option("batchId", b) }
      r.load()
        .select(col("key.k"), col("value.count").as("n"), col("value.sum").as("s"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    // Latest state = both batches folded in.
    assert(stateAt(None) ==
      Map("a" -> (2L, 3L), "b" -> (2L, 15L), "c" -> (1L, 7L)))
    // Time-travel to batch 0: the checkpoint still answers what the job
    // believed BEFORE the second batch — c absent, b at one event.
    assert(stateAt(Some(0L)) == Map("a" -> (2L, 3L), "b" -> (1L, 10L)))
  }
}
