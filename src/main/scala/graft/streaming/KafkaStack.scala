package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The transport-independent pieces of the reference's Kafka stack
  * (SURVEY.md §2 S4/S9): the Schema Registry lookup and the KPI sink
  * payload.
  *
  * The Kafka transport itself (`format("kafka")` source and sink) is not
  * built: the Spark jars the build compiles against carry no Kafka
  * connector, so no check could run it. The CDC semantics it would carry
  * (wire-header strip, op filter, timestamp normalization) live in
  * [[graft.sources.Cdc]], where the batch oracle verifies them.
  */
object KafkaStack {

  /** S4: fetch the writer schema for a subject from Schema Registry — using
    * the writer schema avoids the name/namespace-mismatch NULL-outs the
    * reference documents (reference: kafka_sources.py:41-52). Driver-side,
    * once, at query build time.
    */
  def fetchLatestSchema(registryUrl: String, subject: String): String = {
    val uri = java.net.URI.create(s"$registryUrl/subjects/$subject/versions/latest")
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(30)).build()
    val req = java.net.http.HttpRequest.newBuilder(uri).GET().build()
    val body = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString()).body()
    // {"schema": "<json-escaped schema>"} — minimal extraction, no JSON dep.
    val m = """"schema"\s*:\s*"((?:\\.|[^"\\])*)"""".r.findFirstMatchIn(body)
      .getOrElse(sys.error(s"no schema field in registry response for $subject"))
    m.group(1).replace("\\\"", "\"").replace("\\\\", "\\")
  }

  /** S9: JSON-encoded Kafka sink payload for the KPI frame
    * (reference: kpi_aggregator.py:217-243) — key = updatedAt, value =
    * to_json(struct(...)) with zeroed trend fields.
    */
  def kpiKafkaPayload(kpis: DataFrame): DataFrame =
    kpis.select(
      col("updatedAt").cast("string").as("key"),
      to_json(struct(
        col("activeUsers"), lit(0.0).as("activeUsersTrend"),
        col("revenue"), lit(0.0).as("revenueTrend"),
        col("orders"), lit(0.0).as("ordersTrend"),
        round(col("errorRate"), 2).as("errorRate"), lit(0.0).as("errorRateTrend"),
        col("latency"), lit(0.0).as("latencyTrend"),
        col("updatedAt"))).as("value"))
}
