package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What the Spark layers did during one query execution, read from the
  * listener events posted while it ran. Times in ms, sizes in bytes. */
final case class Sample(
    jobs: Int, buildJobs: Int, stages: Int, tasks: Int,
    taskMs: Double, cpuMs: Double, gcMs: Double, idleMs: Double,
    bytesRead: Double, rowsRead: Double,
    shuffleWritten: Double, shuffleRead: Double, fetchWaitMs: Double, spillBytes: Double,
    analysisMs: Double, optimizationMs: Double, planningMs: Double, exchanges: Int,
    gavroBlocksRead: Double, gavroBlocksTotal: Double)

/** Listener pair the traced run attaches: job, stage and task events from
  * the scheduler, and each finished Dataset action's `QueryExecution`
  * (planning-phase times, the executed plan's exchanges and scan
  * metrics). Events queue up until [[take]] folds them into one
  * [[Sample]]. */
final class Layers(spark: SparkSession, tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private final case class Task(launchMs: Long, finishMs: Long, m: org.apache.spark.executor.TaskMetrics)
  private final case class Qe(phases: Map[String, (Long, Long)], exchanges: Int, gavroRead: Long, gavroTotal: Long)

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stages = new java.util.concurrent.atomic.AtomicInteger()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val qes = new ConcurrentLinkedQueue[Qe]()

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add((s, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) tasks.add(Task(e.taskInfo.launchTime, e.taskInfo.finishTime, e.taskMetrics))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = Layers.nodes(qe.executedPlan)
    def metric(n: String) = nodes.collect { case b: BatchScanExec => b.metrics.get(n).map(_.value).getOrElse(0L) }.sum
    qes.add(Qe(qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) },
      nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      metric("gavroBlocksRead"), metric("gavroBlocksTotal")))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def drainQueue[T](q: ConcurrentLinkedQueue[T]): Vector[T] = {
    val b = Vector.newBuilder[T]
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.result()
  }

  /** Drops every event posted so far. */
  def reset(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    jobs.clear(); tasks.clear(); qes.clear(); stages.set(0)
  }

  /** Folds every event since the last call into the sample of one query
    * execution whose builder call ran over `[startMs, buildEndMs)` and
    * whose action ended at `endMs`; records job and planner spans under
    * the build and action spans. */
  def take(key: String, startMs: Long, buildEndMs: Long, endMs: Long,
      buildSpan: Long, actionSpan: Long): Sample = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val js = drainQueue(jobs)
    val ts = drainQueue(tasks)
    val qs = drainQueue(qes)
    val nStages = stages.getAndSet(0)
    def parentOf(t: Long) = if (t < buildEndMs) buildSpan else actionSpan
    js.foreach { case (s, e) => tracer.record("spark.job", key, parentOf(s), s * 1000, e * 1000) }
    qs.foreach(_.phases.foreach { case (ph, (s, e)) =>
      tracer.record(s"planner.$ph", key, parentOf(s), s * 1000, e * 1000) })
    val busy = Trace.covered(ts.map(t => (t.launchMs, t.finishMs)), startMs, endMs)
    def phase(n: String) = qs.map(_.phases.get(n).map { case (s, e) => (e - s).toDouble }.getOrElse(0.0)).sum
    def sum(f: org.apache.spark.executor.TaskMetrics => Long) = ts.map(t => f(t.m).toDouble).sum
    Sample(
      jobs = js.size, buildJobs = js.count(_._1 < buildEndMs), stages = nStages, tasks = ts.size,
      taskMs = sum(_.executorRunTime), cpuMs = sum(_.executorCpuTime) / 1e6, gcMs = sum(_.jvmGCTime),
      idleMs = (endMs - startMs - busy).toDouble,
      bytesRead = sum(_.inputMetrics.bytesRead), rowsRead = sum(_.inputMetrics.recordsRead),
      shuffleWritten = sum(_.shuffleWriteMetrics.bytesWritten),
      shuffleRead = sum(_.shuffleReadMetrics.totalBytesRead),
      fetchWaitMs = sum(_.shuffleReadMetrics.fetchWaitTime),
      spillBytes = sum(m => m.memoryBytesSpilled + m.diskBytesSpilled),
      analysisMs = phase("analysis"), optimizationMs = phase("optimization"), planningMs = phase("planning"),
      exchanges = qs.map(_.exchanges).sum,
      gavroBlocksRead = qs.map(_.gavroRead.toDouble).sum, gavroBlocksTotal = qs.map(_.gavroTotal.toDouble).sum)
  }
}

object Layers {
  /** Every node of an executed plan, through adaptive plans, query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other =>
      (other.children ++ other.subqueries ++
        other.innerChildren.collect { case c: SparkPlan => c }).flatMap(nodes)
  })
}
