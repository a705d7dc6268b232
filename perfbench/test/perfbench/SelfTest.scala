package perfbench

import java.nio.file.{Files, Path, Paths}

/** The benchmark's own tests: `python3 perfbench/test.py`. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(s"  $name threw $e"); false }
    if (ok) passed += 1 else { failures += 1; System.err.println(s"FAIL $name") }
  }

  def main(args: Array[String]): Unit = {
    percentiles()
    selfTime()
    frameMapping()
    failedShare()
    threadCpu()
    goldenStability(Paths.get(args.headOption.getOrElse(".")))
    println(s"$passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }

  def percentiles(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("p50 of 1..100 is 50")(Stats.median(xs) == 50.0)
    check("p90 of 1..100 is 90")(Stats.percentile(xs, 0.9) == 90.0)
    check("p100 is the maximum")(Stats.percentile(xs, 1.0) == 100.0)
    check("p0 is the minimum")(Stats.percentile(xs, 0.0) == 1.0)
    check("order does not matter")(Stats.percentile(xs.reverse, 0.9) == 90.0)
    check("ten samples lie beyond p90 of 100")(xs.count(_ > Stats.percentile(xs, 0.9)) == 10)
    check("100 samples support p90")(Stats.supports(100, 0.9))
    check("99 samples do not support p90")(!Stats.supports(99, 0.9))
    check("1000 samples support p99 but not p99.9")(Stats.supports(1000, 0.99) && !Stats.supports(1000, 0.999))
    check("20 samples support the median, 19 do not")(Stats.supports(20, 0.5) && !Stats.supports(19, 0.5))
    check("no samples is an error")(
      try { Stats.percentile(Nil, 0.5); false } catch { case _: IllegalArgumentException => true })
  }

  def selfTime(): Unit = {
    check("overlapping intervals are counted once")(
      Trace.covered(Seq((10L, 30L), (20L, 50L), (90L, 120L)), 0L, 100L) == 50L)
    check("intervals are clipped to the window")(Trace.covered(Seq((-5L, 5L)), 0L, 100L) == 5L)
    val spans = Seq(
      Span(1, 0, "query", 0, 100, "q"),
      Span(2, 1, "build", 0, 40, "q"),
      Span(3, 1, "action", 40, 100, "q"),
      Span(4, 3, "spark.job", 50, 70, "q"),
      Span(5, 3, "spark.job", 60, 90, "q"),
      Span(6, 2, "spark.job", 10, 20, "q"))
    val self = Trace.selfTimes(spans)
    check("root self time excludes its children")(self(1) == 0L)
    check("build self time excludes its job")(self(2) == 30L)
    check("action self time excludes overlapping jobs once")(self(3) == 20L)
    check("leaf self time is its duration")(self(4) == 20L && self(5) == 30L)
    val byName = Trace.selfByName(spans)
    check("self time sums per name")(byName("spark.job") == 60L && byName("action") == 20L)
    check("without overlapping siblings, self times add up to the root's duration")(
      Trace.selfTimes(spans.filter(_.id != 5)).values.sum == 100L)
  }

  def frameMapping(): Unit = {
    val ckpt = Files.createTempDirectory("perfbench-test")
    val log = Files.createDirectories(ckpt.resolve("kpi/sources/0"))
    def entry(sched: Long, batch: Long) =
      s"""{"path":"file:///in/ev-$sched-${sched * 10}.parquet","timestamp":$sched,"batchId":$batch}"""
    Files.write(log.resolve("9.compact"), (Seq("v1") ++ (0 to 9).map(b => entry(1000L + b, b)))
      .mkString("\n").getBytes("UTF-8"))
    Files.write(log.resolve("10"), Seq("v1", entry(2000, 10), entry(2250, 10)).mkString("\n").getBytes("UTF-8"))
    Files.write(log.resolve(".10.crc"), Array[Byte](1, 2, 3))
    val admitted = Stream.admitted(ckpt, "kpi")
    check("compacted and plain logs are both read")(admitted.keySet == (0L to 10L).toSet)
    check("a batch keeps every file it admitted")(admitted(10L).size == 2)
    val newest = Stream.newestByBatch(admitted)
    check("a batch's newest event is its newest file's due time")(newest(10L) == 2250L && newest(3L) == 1003L)
    check("file names give their due time")(Gen.schedOf("/x/ev-123-0.parquet").contains(123L) &&
      Gen.schedOf("/x/part-0001.parquet").isEmpty)
    check("a query with no log admits nothing")(Stream.admitted(ckpt, "geo").isEmpty)

    val kpi = graft.streaming.Keys.ChannelKpi
    val act = graft.streaming.Keys.ChannelActivity
    val pubs = Seq(
      Stream.Publish(kpi, "kpi", 10, 2300), Stream.Publish(act, "activity", 7, 2310),
      Stream.Publish(kpi, "kpi", 3, 2200), Stream.Publish(act, "activity", 8, 2400))
    val frames = Seq(("metrics", 2350L), ("metrics", 2500L), ("activity", 2330L))
    val (fresh, lags, missing) = Stream.matchFrames(pubs, frames,
      Map("kpi" -> newest, "activity" -> Map(7L -> 2100L)))
    check("frames match their channel's publishes in order")(lags.sorted == Vector(20.0, 150.0, 200.0))
    check("freshness is receipt minus the batch's newest event")(fresh.sorted == Vector(230.0, 250.0, 1347.0))
    check("a publish without a frame is missing")(missing == 1)
    val steady = Stream.steadyState(pubs, Map("kpi" -> newest, "activity" -> Map(7L -> 2100L, 8L -> 2200L)))
    check("steady state drops each query's first live batch")(
      steady("kpi").keySet == newest.keySet - 3L && steady("activity").keySet == Set(8L))
    check("a query that published nothing keeps its batches")(
      Stream.steadyState(Nil, Map("kpi" -> newest))("kpi") == newest)
    Util.deleteTree(ckpt)
  }

  /** ok_share counts every failed item, not one per kind of failure. */
  def failedShare(): Unit = {
    val r = Stream.Result(drainS = 1.0, drainCpuS = 1.0, backlogEvents = 10, freshnessMs = Vector(1.0), pushLagMs = Vector(1.0),
      apiMs = Vector.fill(700)(1.0), apiErrors = 300, publishes = 100, framesMissing = 40, checks = 6,
      checkFailures = Vector("regions"), errors = Vector("kpi", "geo"), progress = Vector.empty,
      kvCalls = 0, kvMs = 0.0, genEvents = 0, genLateMaxMs = 0.0, backlogFilesEnd = 0, inputBytes = 0,
      queryStarts = 18)
    check("attempted counts query starts, checks, publishes and REST requests")(r.attempted == 18 + 6 + 100 + 700)
    check("failed counts each failed REST request and each missing frame")(r.failed == 2 + 1 + 40 + 300)
    check("ok_share is 1 - failed/attempted")(math.abs(Run.okShare(r.failed, r.attempted) - (1 - 343.0 / 824)) < 1e-12)
    check("ok_share of a clean run is 1")(Run.okShare(0, 824) == 1.0)
    check("ok_share with nothing attempted does not divide by 0")(Run.okShare(1, 0) == 0.0)
  }

  /** CPU time is summed per thread between two snapshots, keeping the
    * last reading of a thread that ended. */
  def threadCpu(): Unit = {
    check("cpuSince counts each thread's growth, a new thread from 0")(
      Util.cpuSince(Map(1L -> 100L, 2L -> 50L), Map(1L -> 130L, 2L -> 50L, 3L -> 7L)) == 37L)
    val before = Util.threadCpuNs()
    var seen = before
    val t = new Thread(() => { val end = System.nanoTime() + 50000000L; while (System.nanoTime() < end) {} })
    t.start()
    while (t.isAlive) { seen ++= Util.threadCpuNs(); Thread.sleep(5) }
    val kept = Util.cpuSince(before, seen ++ Util.threadCpuNs())
    val lost = Util.cpuSince(before)
    check("a thread that ended keeps its last reading")(kept >= 30000000L)
    check("without it, its time is missing")(kept - lost >= 20000000L)
    val host = new HostSpeed
    host.warm()
    host.sample(3)
    check("host speed keeps every kernel timing")(host.samples == 3 && host.medianMs > 0)
    check("host scale is the reference time over the median")(
      math.abs(host.scale * host.medianMs - HostSpeed.RefMs) < 1e-9)
  }

  /** Golden digests must not depend on the order queries run in, nor on
    * output row order. */
  def goldenStability(root: Path): Unit = {
    val spec = Spec.load(root)
    val w = spec.batch("registry-sf0.001")
    val spark = Main.session(root)
    try {
      val dir = Main.dataDir(root, w.sf)
      Gen.ensureTables(spark, dir, w.sf)
      val names = w.queries.take(6)
      val registry = graft.SparkEntry.queries
      def pass(order: Seq[String]) = order.map { n =>
        spark.catalog.clearCache()
        n -> Check.digest(registry(n)(spark, dir.toString))
      }.toMap
      val a = pass(names)
      val b = pass(names.reverse)
      check("digests agree across two query orders")(a == b)
      check("digests match the golden file")(
        names.forall(n => spec.golden(w.goldenKey).get(n).contains(a(n))))
      val df = spark.range(0, 1000).selectExpr("id", "id % 7 AS k")
      check("digest ignores row order")(Check.digest(df) == Check.digest(df.orderBy(df("id").desc).repartition(3)))
      check("digest sees a changed row")(Check.digest(df) != Check.digest(df.selectExpr("id", "IF(id = 5, 0, k) AS k")))
      check("digest sees a renamed column")(Check.digest(df) != Check.digest(df.withColumnRenamed("k", "j")))
    } finally spark.stop()
  }
}
