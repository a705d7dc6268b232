package graft.streaming

/** Streaming entry point mirroring the reference's job mains (§2.9): wire
  * every query of the three jobs over a parquet drop-dir source and block on
  * `awaitAnyTermination` (reference: jobs/transaction_analytics.py:41).
  *
  * Usage: sbt "runMain graft.streaming.StreamMain <inputDir> [checkpointBase]"
  * Feed it by dropping parquet files with the events schema into inputDir.
  * Outputs land in an in-memory KV, or a real Redis when
  * `GRAFT_REDIS=host:port` is set ([[RespKvStore]], no client library
  * needed); `GRAFT_API_PORT` additionally serves the REST/SSE shell
  * ([[Api]]) over whichever store is active — the full reference stack
  * (jobs → KV → HTTP) as one process.
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    val inputDir = args.headOption.getOrElse(sys.error("usage: StreamMain <inputDir> [ckptBase]"))
    val ckpt = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-checkpoints").toString)
    val spark = graft.Session.local("graft-streaming")
    val kv: KvStore = sys.env.get("GRAFT_REDIS") match {
      case Some(hp) =>
        val Array(h, p) = hp.split(":", 2)
        new RespKvStore(h, p.toInt)
      case None => new InMemoryKvStore
    }
    sys.env.get("GRAFT_API_PORT").foreach { p =>
      val srv = Api.start(kv, p.toInt)
      System.err.println(s"[graft] API serving on :${srv.getAddress.getPort}")
    }
    sys.env.get("GRAFT_WS_PORT").foreach { p =>
      val ws = WsPush.start(kv, p.toInt)
      System.err.println(s"[graft] WebSocket push on :${ws.port}")
    }
    val queries = Jobs.graph(spark, inputDir, kv, ckpt)
    sys.addShutdownHook(queries.foreach(q => if (q.isActive) q.stop()))
    spark.streams.awaitAnyTermination()
  }
}
