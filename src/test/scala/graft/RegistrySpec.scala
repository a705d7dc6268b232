package graft

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.metrics.source.CodegenMetrics

import graft.streaming.KafkaStack

/** S4 upgraded from code-only to exercised: the writer-schema fetch driven
  * against a local HTTP server speaking the Schema Registry wire shape
  * (`GET /subjects/{subject}/versions/latest` → `{"schema": "..."}`), with
  * the JSON-escaped payload the real registry returns; and the query
  * registry's generated classes reused across passes.
  */
class RegistrySpec extends SparkSpec {

  test("a second pass over dedup_apply and bpe_merges compiles nothing") {
    // The two queries generate about 117 classes together, more than
    // Spark's default codegen cache of 100 entries: a list walked in a
    // cycle through a too-small LRU cache recompiles every class.
    val sf = "/root/testdata/sf0.001"
    def pass(): Unit = Seq("dedup_apply", "bpe_merges").foreach { q =>
      SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    pass()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled == 0)
  }

  test("writer-schema fetch parses the registry response, unescaping JSON") {
    // the registry returns the Avro schema JSON-escaped inside a JSON field
    val escaped =
      """{\"type\":\"record\",\"name\":\"User\",\"fields\":[{\"name\":\"path\",\"type\":\"string\",\"doc\":\"C:\\\\tmp\"}]}"""
    val body = s"""{"subject":"users-value","version":3,"id":7,"schema":"$escaped"}"""

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/subjects/users-value/versions/latest", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val bytes = body.getBytes("UTF-8")
        ex.getResponseHeaders.add("Content-Type", "application/vnd.schemaregistry.v1+json")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val schema = KafkaStack.fetchLatestSchema(url, "users-value")
      // fully unescaped: quotes and backslashes restored
      assert(schema.startsWith("""{"type":"record","name":"User""""))
      assert(schema.contains(""""doc":"C:\\tmp""""))
      assert(!schema.contains("\\\""))
    } finally server.stop(0)
  }
}
