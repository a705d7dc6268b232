package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, run the workload, check outputs, and print
  * every metric by name with its unit, ending with the one-line JSON
  * result. */
object Run {

  /** Set-up cycles per run; `setup_s` is their median. */
  val SetupCycles = 3

  final case class Metric(name: String, value: Double, unit: String, note: String = "")

  /** Everything a workload reports: end-to-end values, per-layer values
    * (traced runs), attempted and failed item counts with a message per
    * failure, and the inputs' size. */
  final case class Outcome(e2e: Seq[Metric], layers: Map[String, Double], attempted: Long,
      failed: Long, failures: Vector[String], inputBytes: Long, samples: Int, detail: Map[String, Seq[Double]])

  /** 1 - failed/attempted, the share of attempted items that succeeded. */
  def okShare(failed: Long, attempted: Long): Double = 1.0 - failed.toDouble / math.max(1L, attempted)

  /** Progress line on stderr, seconds since the JVM started. */
  def phase(name: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s $name")

  def apply(a: Main.Args): Unit = {
    val loadStart = Util.loadavg()
    val cpuStart = Util.cpuJiffies()
    val spec = Spec.load(a.root)
    val declared = Spec.declared(a.root, if (a.trace) "per_layer" else "end_to_end")
    val tracer = new Tracer(a.trace)
    val host = new HostSpeed
    host.warm()
    val (outcome, width) = a.workload match {
      case "stream-restart" => stream(a, tracer, host)
      case w if spec.batch.contains(w) => batch(a, spec.batch(w), spec.golden, tracer, host)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    tracer.write(Main.work(a.root).resolve(s"traces/${a.workload}-s${a.seed}.jsonl"))
    report(a, outcome, width, host, loadStart, cpuStart, declared)
  }

  /** Set-up, `cycles` times; all but the last are torn down. Returns the
    * last one with the median wall and the median Java-thread CPU seconds
    * of one set-up. */
  private def setup[T](cycles: Int)(up: () => T, down: T => Unit): (T, Double, Double) = {
    var last: Option[T] = None
    val times = (1 to cycles).map { i =>
      val c0 = Util.threadCpuNs()
      val t0 = System.nanoTime()
      val x = up()
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = Util.cpuSince(c0) / 1e9
      if (i < cycles) down(x) else last = Some(x)
      (dt, dc)
    }
    (last.get, Stats.median(times.map(_._1)), Stats.median(times.map(_._2)))
  }

  private def setupMetrics(wallS: Double, cpuS: Double, host: HostSpeed): Seq[Metric] = Seq(
    Metric("setup_s", cpuS * host.scale, "s",
      f"Java-thread CPU at reference host speed, median of $SetupCycles set-ups; $cpuS%.3f s as measured"),
    Metric("setup_wall_s", wallS, "s", s"wall, median of $SetupCycles set-ups"))

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }

  def batch(a: Main.Args, w: Spec.BatchWorkload, golden: Map[String, Map[String, (Long, String)]],
      tracer: Tracer, host: HostSpeed): (Outcome, Int) = {
    val dir = Main.dataDir(a.root, w.sf)
    if (!Gen.ready(dir)) {
      val s = Main.session(a.root)
      Gen.ensureTables(s, dir, w.sf)
      s.stop()
    }
    val warmup = graft.SparkEntry.queries("pricing_summary")
    val (spark, setupWallS, setupCpuS) = setup(SetupCycles)(() => {
      val s = Main.session(a.root)
      warmup(s, dir.toString).write.format("noop").mode("overwrite").save()
      s
    }, (s: SparkSession) => s.stop())
    phase("set up")
    val layers = if (a.trace) Some(new Layers(spark, tracer).attach()) else None
    val r = Batch.run(spark, dir.toString, w.queries, golden.getOrElse(w.goldenKey, Map.empty),
      a.seed, a.seconds, tracer, layers, host)
    host.sample()
    val width = spark.sparkContext.defaultParallelism
    spark.stop()
    phase("stopped")

    val ok = r.execs.filter(_.ok)
    val walls = ok.map(_.wallMs)
    val n = r.execs.size.toDouble
    val failures = r.checkFailures ++ r.errors
    def perPass(f: Batch.Exec => Double) = ok.groupMap(_.name)(f).values.map(Stats.median).sum / 1000
    val batchCpu = perPass(_.cpuMs) * host.scale
    val batchTotal = perPass(_.wallMs)
    val p50 = if (walls.isEmpty) 0.0 else Stats.median(walls)
    val e2e = setupMetrics(setupWallS, setupCpuS, host) ++ Seq(
      Metric("batch_cpu_s", batchCpu, "s", s"sum of ${w.queries.size} queries' median Java-thread CPU over " +
        f"${r.passWallsS.size} passes, at reference host speed; ${batchCpu / host.scale}%.3f s as measured"),
      Metric("batch_total_s", batchTotal, "s", s"sum of ${w.queries.size} queries' median walls; " +
        s"pass walls ${r.passWallsS.map(x => f"$x%.2f").mkString(" ")} s"),
      Metric("latency_p50_ms", p50, "ms", s"per query execution, n=${walls.size}"),
      Metric("latency_p90_ms", if (walls.isEmpty) 0.0 else Stats.percentile(walls, 0.9), "ms",
        s"n=${walls.size}, ${if (Stats.supports(walls.size, 0.9)) "supported" else "fewer than 10 samples beyond"}"))
    val layerValues: Map[String, Double] = if (!a.trace) Map.empty else {
      val ss = r.execs.flatMap(_.sample)
      def mean(f: Sample => Double) = if (ss.isEmpty) 0.0 else ss.map(f).sum / ss.size
      val self = Trace.selfByName(tracer.spans).map { case (k, v) => k -> v / 1000.0 / n }
      Map(
        "registry.build_ms" -> r.execs.map(_.buildMs).sum / n,
        "registry.build_jobs" -> mean(_.buildJobs),
        "planner.analysis_ms" -> mean(_.analysisMs), "planner.optimization_ms" -> mean(_.optimizationMs),
        "planner.planning_ms" -> mean(_.planningMs), "planner.exchanges" -> mean(_.exchanges),
        "sched.jobs" -> mean(_.jobs), "sched.stages" -> mean(_.stages), "sched.tasks" -> mean(_.tasks),
        "sched.idle_ms" -> mean(_.idleMs), "sched.task_ms" -> mean(_.taskMs),
        "sched.cpu_ms" -> mean(_.cpuMs), "sched.gc_ms" -> mean(_.gcMs),
        "sources.bytes_read" -> mean(_.bytesRead), "sources.rows_read" -> mean(_.rowsRead),
        "sources.gavro_blocks_read" -> mean(_.gavroBlocksRead),
        "sources.gavro_blocks_total" -> mean(_.gavroBlocksTotal),
        "shuffle.bytes_written" -> mean(_.shuffleWritten), "shuffle.bytes_read" -> mean(_.shuffleRead),
        "shuffle.fetch_wait_ms" -> mean(_.fetchWaitMs), "shuffle.spill_bytes" -> mean(_.spillBytes),
        "session.cached_blocks_left" -> r.execs.map(_.cachedBlocks).sum / n,
        "self.query_ms" -> self.getOrElse("query", 0.0), "self.build_ms" -> self.getOrElse("build", 0.0),
        "self.action_ms" -> self.getOrElse("action", 0.0), "self.job_ms" -> self.getOrElse("spark.job", 0.0),
        "self.planner_ms" -> self.filter(_._1.startsWith("planner.")).values.sum,
        "trace.batch_cpu_s" -> batchCpu, "trace.batch_total_s" -> batchTotal, "trace.latency_p50_ms" -> p50)
    }
    (Outcome(e2e, layerValues, w.queries.size + r.execs.size, failures.size, failures, dirBytes(dir), walls.size,
      r.execs.groupMap(_.name)(_.wallMs) ++ r.execs.groupMap("cpu:" + _.name)(_.cpuMs)), width)
  }

  def stream(a: Main.Args, tracer: Tracer, host: HostSpeed): (Outcome, Int) = {
    val work = Main.work(a.root)
    val warmDir = work.resolve("stream-warmup")
    Util.deleteTree(warmDir)
    Files.createDirectories(warmDir)
    val warmIn = Files.createDirectories(warmDir.resolve("in"))
    Gen.writeEventFile(warmIn, Gen.EventFile(Clock.nowMs(), 0L, 2000, 60000L), a.seed, Stream.Users)
    val ((spark, srv), setupWallS, setupCpuS) = setup[(SparkSession, Stream.Servers)](SetupCycles)(() => {
      val s = Main.session(a.root)
      val srv = new Stream.Servers
      graft.ops.Frames.kpiFrame(s.read.schema(graft.streaming.Jobs.eventsSchema).parquet(warmIn.toString))
        .write.format("noop").mode("overwrite").save()
      (s, srv)
    }, { case (s, srv) => srv.close(); s.stop() })
    Stream.warm(spark, warmIn, warmDir.resolve("ckpt"))
    Util.deleteTree(warmDir)
    phase("set up")
    val r = Stream.run(spark, srv, work, a.seed, a.seconds, tracer, host)
    val width = spark.sparkContext.defaultParallelism
    srv.close()
    spark.stop()
    phase("stopped")

    val fresh = r.freshnessMs
    val failures = r.checkFailures ++ r.errors ++
      (if (r.framesMissing > 0) Vector(s"${r.framesMissing} published results had no WebSocket frame") else Nil) ++
      (if (r.apiErrors > 0) Vector(s"${r.apiErrors} REST requests failed") else Nil) ++
      (if (fresh.isEmpty) Vector("no freshness samples") else Nil)
    val p50 = if (fresh.isEmpty) 0.0 else Stats.median(fresh)
    val drainCpu = r.drainCpuS * host.scale
    val e2e = setupMetrics(setupWallS, setupCpuS, host) ++ Seq(
      Metric("batch_cpu_s", drainCpu, "s",
        f"Java-thread CPU of the backlog drain at reference host speed; ${r.drainCpuS}%.3f s as measured"),
      Metric("batch_total_s", r.drainS, "s",
        f"backlog drain, ${r.backlogEvents} events, ${r.backlogEvents / r.drainS}%.0f events/s"),
      Metric("latency_p50_ms", p50, "ms", s"freshness per published result after each query's first live " +
        s"batch, n=${fresh.size}${if (fresh.size < Stream.MinSamples) s", fewer than ${Stream.MinSamples}" else ""}"),
      Metric("latency_p90_ms", if (fresh.isEmpty) 0.0 else Stats.percentile(fresh, 0.9), "ms",
        s"n=${fresh.size}, ${if (Stats.supports(fresh.size, 0.9)) "supported" else "fewer than 10 samples beyond"}"))
    val layerValues: Map[String, Double] = if (!a.trace) Map.empty else {
      val live = r.progress.filter(_._2).map(_._3)
      val liveData = live.filter(_.numInputRows > 0)
      def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def meanOf(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
        if (ps.isEmpty) 0.0 else ps.map(f).sum / ps.size
      val lastByQuery = live.groupBy(_.name).values.map(_.maxBy(_.batchId))
      val named = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      recordBatchSpans(tracer, r.progress.map(_._3), named)
      val self = Trace.selfByName(tracer.spans)
      val batches = r.progress.size.toDouble
      Map(
        "stream.batches" -> batches,
        "stream.trigger_ms_p50" -> (if (liveData.isEmpty) 0.0 else Stats.median(liveData.map(dur(_, "triggerExecution")))),
        "stream.add_batch_ms" -> meanOf(liveData)(dur(_, "addBatch")),
        "stream.planning_ms" -> meanOf(liveData)(dur(_, "queryPlanning")),
        "stream.commit_ms" -> meanOf(liveData)(p => dur(p, "walCommit") + dur(p, "commitOffsets")),
        "stream.state_rows" -> lastByQuery.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).sum,
        "stream.state_bytes" -> lastByQuery.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).sum,
        "stream.state_commit_ms" -> meanOf(liveData)(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
        "stream.dropped_by_watermark" -> live.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble).sum,
        "stream.read_amplification" -> r.progress.map(_._3.numInputRows.toDouble).sum / (r.backlogEvents + r.genEvents),
        "stream.backlog_files_end" -> r.backlogFilesEnd.toDouble,
        "stream.catchup_eps" -> r.backlogEvents / r.drainS,
        "self.batch_ms" -> (if (batches == 0) 0.0 else self.getOrElse("stream.batch", 0L) / 1000.0 / batches),
        "kvsink.calls" -> r.kvCalls.toDouble, "kvsink.ms" -> r.kvMs,
        "push.frames" -> r.pushLagMs.size.toDouble,
        "push.lag_ms_p50" -> (if (r.pushLagMs.isEmpty) 0.0 else Stats.median(r.pushLagMs)),
        "api.requests" -> r.apiMs.size.toDouble, "api.errors" -> r.apiErrors.toDouble,
        "api.p50_ms" -> (if (r.apiMs.isEmpty) 0.0 else Stats.median(r.apiMs)),
        "api.p99_ms" -> (if (r.apiMs.isEmpty) 0.0 else Stats.percentile(r.apiMs, 0.99)),
        "gen.events" -> r.genEvents.toDouble, "gen.late_ms_max" -> r.genLateMaxMs,
        "trace.batch_cpu_s" -> drainCpu, "trace.batch_total_s" -> r.drainS, "trace.latency_p50_ms" -> p50)
    }
    (Outcome(e2e, layerValues, r.attempted, r.failed + (if (fresh.isEmpty) 1 else 0), failures, r.inputBytes, fresh.size,
      Map("freshness_ms" -> fresh, "api_ms" -> r.apiMs)), width)
  }

  /** Stream batches as spans: the trigger, with its reported phases laid
    * out one after another from the trigger's start. */
  private def recordBatchSpans(tracer: Tracer,
      ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], named: Seq[String]): Unit =
    ps.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
      val total = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L) * 1000
      val key = s"${p.name}#${p.batchId}"
      val id = tracer.record("stream.batch", key, 0L, start, start + total)
      var at = start
      named.foreach { k =>
        Option(p.durationMs.get(k)).foreach { d =>
          tracer.record(s"stream.$k", key, id, at, at + d * 1000)
          at += d * 1000
        }
      }
    }

  private def report(a: Main.Args, o: Outcome, width: Int, host: HostSpeed, loadStart: Seq[Double],
      cpuStart: (Long, Long), declared: Seq[(String, String)]): Unit = {
    val cpuEnd = Util.cpuJiffies()
    val steal = (cpuEnd._2 - cpuStart._2).toDouble / math.max(1L, cpuEnd._1 - cpuStart._1)
    val rss = Util.peakRssMb()
    val failed = o.failed
    val attempted = math.max(1L, o.attempted)
    val ok = okShare(failed, attempted)
    val e2e = o.e2e ++ Seq(
      Metric("peak_rss_mb", rss, "MB", "VmHWM of the benchmark JVM"),
      Metric("ok_share", ok, "ratio", s"failed_share ${1.0 - ok} ($failed of $attempted)"))
    val provenance = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "git_sha" -> graft.Canonical.gitSha(), "nproc" -> Main.cores, "spark_width" -> width,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "loadavg_start" -> loadStart, "loadavg_end" -> Util.loadavg(), "cpu_steal_share" -> steal,
      "host_kernel_ms" -> host.medianMs, "host_kernel_samples" -> host.samples,
      "input_bytes" -> o.inputBytes, "samples" -> o.samples)
    val metrics: Seq[(String, Double, String)] = declared.map { case (n, u) =>
      if (a.trace) (n, o.layers.getOrElse(n, 0.0), u)
      else (n, e2e.find(_.name == n).getOrElse(sys.error(s"workload does not report $n")).value, u)
    }
    val record = Map("provenance" -> provenance, "failures" -> o.failures,
      "end_to_end" -> e2e.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit, "note" -> m.note)).toMap,
      "per_layer" -> o.layers, "samples" -> o.detail)
    val out = Main.work(a.root).resolve(s"results/${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}.json")
    Files.createDirectories(out.getParent)
    Files.write(out, Json.render(record).getBytes("UTF-8"))

    println(s"provenance ${Json.render(provenance)}")
    o.failures.foreach(f => println(s"FAILED $f"))
    e2e.foreach(m => println(f"${m.name}%-16s ${m.value}%.4f ${m.unit} (${m.note})"))
    if (a.trace) declared.foreach { case (n, u) => println(f"$n%-28s ${o.layers.getOrElse(n, 0.0)}%.4f $u") }
    val last = Map("correct" -> (failed == 0 && o.failures.isEmpty), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, v, u) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*))
    println(Json.render(last))
  }
}
