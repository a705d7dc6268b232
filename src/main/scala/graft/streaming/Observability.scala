package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Streaming observability: a `StreamingQueryListener` folding each query's
  * progress events into the running counters an operator actually pages on —
  * rows/s, batch duration, watermark lag, and ROWS DROPPED BY THE WATERMARK
  * (silent data loss if nobody watches it; the reference's stack pages on
  * the same signal via Spark UI + `ProcessingTimeExecutor` falling-behind
  * warnings, FLOW.md:107).
  *
  * Driver-side and O(#queries) state only — the listener sees already-
  * aggregated `QueryProgress` JSON, never rows. At scale this is the hook a
  * metrics bridge (StatsD/Prometheus) attaches to; here the counters land
  * in a TrieMap the tests (and `Serve`-style readers) can inspect.
  */
object Observability {

  /** Monotone per-query counters folded over all progress events. */
  final case class QueryStats(
      name: String,
      batches: Long,
      inputRows: Long,
      droppedByWatermark: Long,
      maxBatchDurationMs: Long,
      lastInputRowsPerSec: Double,
      stateRows: Long)

  final class Recorder extends StreamingQueryListener {
    val stats = new TrieMap[String, QueryStats]()

    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryIdle(event: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      val p = event.progress
      val name = Option(p.name).getOrElse(p.id.toString)
      val dropped = p.stateOperators.map(_.numRowsDroppedByWatermark).sum
      val state = p.stateOperators.map(_.numRowsTotal).sum
      val batchMs = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)
      val prev = stats.getOrElse(name,
        QueryStats(name, 0L, 0L, 0L, 0L, 0.0, 0L))
      stats.update(name, QueryStats(
        name,
        batches = prev.batches + 1,
        inputRows = prev.inputRows + p.numInputRows,
        droppedByWatermark = prev.droppedByWatermark + dropped,
        maxBatchDurationMs = math.max(prev.maxBatchDurationMs, batchMs),
        lastInputRowsPerSec =
          if (p.inputRowsPerSecond.isNaN) prev.lastInputRowsPerSec
          else p.inputRowsPerSecond,
        stateRows = state))
    }
  }

  /** Attach a fresh recorder to the session; caller keeps the handle. */
  def attach(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.streams.addListener(r)
    r
  }

  def detach(spark: SparkSession, r: Recorder): Unit =
    spark.streams.removeListener(r)

  // ------------------------------------------------------------ batch audit

  /** One audit record per completed BATCH action: which datasets were read
    * (file-scan paths), how many rows came out, how long it ran, and
    * whether it failed — the access/lineage log a data-governance review
    * asks for first. Driver-side only: the listener walks the executed
    * plan for file scans (their root paths) and DSv2 scans (their table
    * name; a gavro table's name carries its path) and reads the plan's
    * metrics; it never touches rows. At scale this is the hook an audit
    * pipe (e.g. a lineage service) attaches to.
    */
  final case class BatchAudit(
      action: String,
      inputPaths: Seq[String],
      outputRows: Long,
      durationMs: Long,
      failed: Boolean)

  final class BatchRecorder extends org.apache.spark.sql.util.QueryExecutionListener {
    val audits = new java.util.concurrent.ConcurrentLinkedQueue[BatchAudit]()

    // AQE wraps the live plan in AdaptiveSparkPlanExec / QueryStageExec
    // nodes whose subtrees are NOT `children`; a plain collect misses every
    // scan. Walk through them explicitly.
    private def inputsOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[String] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        inputsOf(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        inputsOf(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        Seq(b.table.name())
      case other => other.children.flatMap(inputsOf)
    }

    private def record(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long, failed: Boolean): Unit = {
      val scans = inputsOf(qe.executedPlan).distinct
      val rows = qe.executedPlan.metrics.get("numOutputRows")
        .map(_.value).getOrElse(-1L)
      audits.add(BatchAudit(funcName, scans, rows, durationNs / 1000000L, failed))
    }

    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit = record(funcName, qe, durationNs, failed = false)

    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = record(funcName, qe, 0L, failed = true)
  }

  def attachBatch(spark: SparkSession): BatchRecorder = {
    val r = new BatchRecorder
    spark.listenerManager.register(r)
    r
  }

  def detachBatch(spark: SparkSession, r: BatchRecorder): Unit =
    spark.listenerManager.unregister(r)
}
