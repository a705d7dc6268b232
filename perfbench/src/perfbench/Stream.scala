package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming._

/** The stream-restart workload: the StreamMain job graph (transactions,
  * infrastructure, derived, KPI relay and alerts: nine queries) over a
  * parquet drop-dir, writing through `RespKvStore` to the in-JVM
  * `RespServerStub`, with `WsPush` and `Api` serving from the same store.
  *
  * Phase 1 drains a seeded backlog with `Trigger.AvailableNow`. Phase 2
  * restarts from the same checkpoints on a 1 s trigger under live load
  * from this process: one open-loop generator thread writing a file every
  * 250 ms, one WebSocket client, and one closed-loop REST reader.
  */
object Stream {

  /** One admission-capped batch (`Jobs.MaxFilesPerTrigger` files) per query. */
  val BacklogFiles = 64
  val BacklogEventsPerFile = 800
  val BacklogSpanMs = 300000L
  val LiveEveryMs = 250L
  val LiveEventsPerFile = 500
  val Users = 20000
  val ApiThinkMs = 10L
  /** Longest wait for the first live micro-batches after the restart. */
  val RestartWaitS = 30
  /** Freshness samples a run should collect at the least. */
  val MinSamples = 100

  /** The servers a run sets up: RESP stub, the store over it, WebSocket
    * push and REST, as StreamMain wires them. */
  final class Servers {
    val stub = new RespServerStub
    val kv = new RespKvStore("127.0.0.1", stub.port)
    val ws: WsPush.Handle = WsPush.start(kv)
    val api: com.sun.net.httpserver.HttpServer = Api.start(kv)
    def apiPort: Int = api.getAddress.getPort
    def close(): Unit = {
      api.stop(0); ws.close(); kv.close(); stub.close()
    }
  }

  /** A sink write that published on a channel, with the query and
    * micro-batch that made it. */
  final case class Publish(channel: String, query: String, batch: Long, atMs: Long)

  /** The store the jobs write through: delegates to the real store, times
    * every call and records each publish with its query and batch id (read
    * from the local properties Spark sets on the stream execution thread). */
  final class TimedKv(under: KvStore, tracer: Tracer, spark: SparkSession) extends KvStore {
    val calls = new AtomicLong
    val nanos = new AtomicLong
    val publishes = new ConcurrentLinkedQueue[Publish]()

    private def origin(): (String, Long) = {
      val sc = spark.sparkContext
      val name = Option(sc.getLocalProperty("sql.streaming.queryId"))
        .flatMap(id => Option(spark.streams.get(java.util.UUID.fromString(id)))).map(_.name)
        .getOrElse("?")
      (name, Option(sc.getLocalProperty("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L))
    }

    private def timed[T](channel: Option[String])(f: => T): T = {
      val startUs = Clock.nowUs()
      val t0 = System.nanoTime()
      try f
      finally {
        nanos.addAndGet(System.nanoTime() - t0)
        calls.incrementAndGet()
        val (q, b) = origin()
        channel.foreach(c => publishes.add(Publish(c, q, b, startUs / 1000)))
        tracer.record("kv.call", s"$q#$b", 0L, startUs, Clock.nowUs())
      }
    }

    def writeHash(key: String, value: Map[String, String], ttlSeconds: Option[Int],
        channel: Option[String]): Unit = timed(channel)(under.writeHash(key, value, ttlSeconds, channel))
    def writeJson(key: String, json: String, channel: Option[String]): Unit =
      timed(channel)(under.writeJson(key, json, channel))
    def pushToList(key: String, json: String, maxLen: Int, channel: Option[String]): Unit =
      timed(channel)(under.pushToList(key, json, maxLen, channel))
    def readHash(key: String): Map[String, String] = timed(None)(under.readHash(key))
    override def readJson(key: String): Option[String] = timed(None)(under.readJson(key))
    override def readList(key: String, n: Int): List[String] = timed(None)(under.readList(key, n))
  }

  /** The queries StreamMain starts, over `in`, relaying KPIs through `derived`. */
  def startJobs(spark: SparkSession, in: Path, ckpt: Path, derived: Path, kv: KvStore,
      trigger: Trigger): Seq[StreamingQuery] = {
    val source = () => Jobs.fileEventStream(spark, in.toString)
    Jobs.transactionsJob(source, kv, ckpt.toString, trigger) ++
      Jobs.infrastructureJob(source, kv, ckpt.toString, trigger) ++
      Jobs.derivedJob(source, kv, ckpt.toString, trigger) ++
      Seq(Jobs.kpiRelayJob(source, derived.toString, ckpt.toString, trigger),
        Jobs.alertsJob(() => Jobs.fileKpiStream(spark, derived.toString), kv, ckpt.toString, trigger))
  }

  /** Warm-up after set-up: the job graph drains `in` once into a
    * throwaway store and checkpoints, so the timed drain starts with the
    * classes loaded (a cold drain took about 40% longer). It runs once,
    * not in every set-up cycle, to keep the run within its time budget. A
    * query that fails here fails again in the drain, where it is counted. */
  def warm(spark: SparkSession, in: Path, ckpt: Path): Unit = {
    Util.deleteTree(ckpt)
    val qs = startJobs(spark, in, ckpt, Files.createDirectories(ckpt.resolve("derived-kpis")),
      new InMemoryKvStore, Trigger.AvailableNow())
    qs.foreach(q => try q.awaitTermination(120000) catch { case _: Exception => () })
    qs.foreach(_.stop())
  }

  /** Files each micro-batch of `query` admitted, from the file-source log
    * in its checkpoint (`Jobs` names the checkpoint after the query; plain
    * and compacted entries alike): batch id → file paths. */
  def admitted(ckpt: Path, query: String): Map[Long, Seq[String]] = {
    val dir = ckpt.resolve(query).resolve("sources/0")
    if (!Files.isDirectory(dir)) return Map.empty
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    val s = Files.list(dir)
    val logs = try s.iterator().asScala.toVector finally s.close()
    logs.filter(p => !p.getFileName.toString.startsWith(".")).flatMap { p =>
      Util.readString(p).linesIterator.flatMap(l => entry.findFirstMatchIn(l)
        .map(m => m.group(2).toLong -> m.group(1)))
    }.distinct.groupMap(_._1)(_._2)
  }

  /** The scheduled time of the newest generator event a batch read, for
    * every batch that admitted generator files. */
  def newestByBatch(admittedFiles: Map[Long, Seq[String]]): Map[Long, Long] =
    admittedFiles.flatMap { case (b, fs) => fs.flatMap(Gen.schedOf).maxOption.map(b -> _) }

  /** Drops each query's first live micro-batch from `newest`, so freshness
    * is sampled in steady state: that batch also pays the restart (state
    * store load, first planning) and reads the files written meanwhile. */
  def steadyState(publishes: Seq[Publish], newest: Map[String, Map[Long, Long]]): Map[String, Map[Long, Long]] = {
    val first = publishes.groupMapReduce(_.query)(_.batch)(math.min)
    newest.map { case (q, m) => q -> first.get(q).fold(m)(m - _) }
  }

  /** One freshness sample per publish that has a frame: frame receipt
    * minus the newest event its batch read. Frames of one event name match
    * that channel's publishes in order. Returns the samples, the push lag
    * of every matched frame, and the publishes left without a frame. */
  def matchFrames(publishes: Seq[Publish], frames: Seq[(String, Long)],
      newest: Map[String, Map[Long, Long]]): (Vector[Double], Vector[Double], Int) = {
    val byEvent = frames.groupMap(_._1)(_._2)
    val fresh = Vector.newBuilder[Double]
    val lags = Vector.newBuilder[Double]
    var missing = 0
    publishes.groupBy(p => Api.ChannelToEvent(p.channel)).foreach { case (event, ps) =>
      val fs = byEvent.getOrElse(event, Nil)
      ps.sortBy(_.atMs).zipWithIndex.foreach { case (p, i) =>
        if (i >= fs.size) missing += 1
        else {
          lags += (fs(i) - p.atMs).toDouble
          newest.get(p.query).flatMap(_.get(p.batch)).foreach(n => fresh += (fs(i) - n).toDouble)
        }
      }
    }
    (fresh.result(), lags.result(), missing)
  }

  /** Raw RFC 6455 client: records (event name, receipt ms) per text frame. */
  final class WsClient(port: Int) extends java.io.Closeable {
    val frames = new ConcurrentLinkedQueue[(String, Long)]()
    private val sock = new java.net.Socket("127.0.0.1", port)
    private val in = new java.io.BufferedInputStream(sock.getInputStream)
    locally {
      val out = sock.getOutputStream
      out.write(("GET / HTTP/1.1\r\nHost: localhost\r\nUpgrade: websocket\r\n" +
        "Connection: Upgrade\r\nSec-WebSocket-Key: cGVyZmJlbmNoLWNsaWVudA==\r\n" +
        "Sec-WebSocket-Version: 13\r\n\r\n").getBytes("UTF-8"))
      out.flush()
      var last4 = 0
      while (last4 != 0x0d0a0d0a) {
        val c = in.read()
        if (c < 0) throw new java.io.EOFException("websocket handshake")
        last4 = (last4 << 8) | c
      }
    }
    private val EventName = """^\{"event":"([a-z]+)"""".r.unanchored
    private val reader = new Thread(() => {
      try {
        while (!sock.isClosed) {
          val b0 = in.read(); val b1 = in.read()
          if (b0 < 0 || b1 < 0) throw new java.io.EOFException
          var len = (b1 & 0x7f).toLong
          if (len == 126) len = (in.read() << 8) | in.read()
          else if (len == 127) { len = 0; (0 until 8).foreach(_ => len = (len << 8) | in.read()) }
          val buf = in.readNBytes(len.toInt)
          val at = Clock.nowMs()
          if ((b0 & 0x0f) == 1) new String(buf, "UTF-8") match {
            case EventName(e) => frames.add((e, at))
            case _ => ()
          }
        }
      } catch { case _: Exception => () }
    }, "perfbench-ws-client")
    reader.setDaemon(true)
    reader.start()
    def close(): Unit = { sock.close(); reader.join(5000) }
  }

  /** Closed-loop REST reader: GET /api/metrics and /api/activities in turn,
    * `ApiThinkMs` between a response and the next request. */
  final class ApiReader(port: Int, tracer: Tracer) {
    val latMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val errors = new AtomicLong
    @volatile private var running = true
    private val thread = new Thread(() => {
      val paths = Iterator.continually(Seq("/api/metrics", "/api/activities")).flatten
      while (running) {
        val path = paths.next()
        val startUs = Clock.nowUs()
        val t0 = System.nanoTime()
        val ok = try {
          val c = new java.net.URL(s"http://127.0.0.1:$port$path").openConnection()
            .asInstanceOf[java.net.HttpURLConnection]
          val code = c.getResponseCode
          val s = if (code < 400) c.getInputStream else c.getErrorStream
          if (s != null) { s.readAllBytes(); s.close() }
          code == 200
        } catch { case _: Exception => false }
        latMs.add((System.nanoTime() - t0) / 1e6)
        tracer.record("api.get", path, 0L, startUs, Clock.nowUs())
        if (!ok) errors.incrementAndGet()
        Thread.sleep(ApiThinkMs)
      }
    }, "perfbench-api-reader")
    thread.setDaemon(true)
    thread.start()
    def stop(): Unit = { running = false; thread.join(10000) }
  }

  /** Open-loop generator: file k is due at `startMs + k * LiveEveryMs`
    * whatever the system does; lateness is write completion minus due time. */
  final class Generator(dir: Path, seed: Long, startMs: Long, firstId: Long, tracer: Tracer) {
    val files = new AtomicLong
    @volatile var lateMaxMs = 0L
    @volatile private var running = true
    private val thread = new Thread(() => {
      var k = 1L
      while (running) {
        val due = startMs + k * LiveEveryMs
        val wait = due - Clock.nowMs()
        if (wait > 0) Thread.sleep(wait)
        if (running) {
          val f = Gen.EventFile(due, firstId + (k - 1) * LiveEventsPerFile, LiveEventsPerFile, LiveEveryMs)
          val startUs = Clock.nowUs()
          Gen.writeEventFile(dir, f, seed, Users)
          val end = Clock.nowMs()
          tracer.record("gen.file", Gen.fileName(f), 0L, startUs, end * 1000)
          lateMaxMs = math.max(lateMaxMs, end - due)
          files.incrementAndGet()
          k += 1
        }
      }
    }, "perfbench-generator")
    thread.setDaemon(true)
    thread.start()
    def stop(): Unit = { running = false; thread.join(10000) }
    def events: Long = files.get * LiveEventsPerFile
  }

  final case class Result(
      drainS: Double, drainCpuS: Double, backlogEvents: Long, freshnessMs: Vector[Double], pushLagMs: Vector[Double],
      apiMs: Vector[Double], apiErrors: Long, publishes: Int, framesMissing: Int,
      checks: Int, checkFailures: Vector[String], errors: Vector[String], progress: Vector[(String, Boolean, StreamingQueryProgress)],
      kvCalls: Long, kvMs: Double, genEvents: Long, genLateMaxMs: Double,
      backlogFilesEnd: Long, inputBytes: Long, queryStarts: Int) {

    /** Items the run attempted: query starts (drain and live), output
      * checks, published results and REST requests. */
    def attempted: Long = queryStarts.toLong + checks + publishes + apiMs.size

    /** Items that failed: queries that stopped with an exception, failed
      * checks, published results with no frame and REST requests that did
      * not answer 200. */
    def failed: Long = errors.size.toLong + checkFailures.size + framesMissing + apiErrors
  }

  /** The complete-mode snapshots and the activity head after the drain,
    * against the same frame builders and sink writers run in batch over the
    * backlog files. Flows are left out: they rank regions by an intensity
    * that clamps at 100, so tied regions come out in any order. */
  def checkDrain(spark: SparkSession, in: Path, kv: KvStore, backlogEvents: Long): (Int, Vector[String]) = {
    import graft.ops.Frames
    val ev = spark.read.schema(Jobs.eventsSchema).parquet(in.toString)
    val ref = new InMemoryKvStore
    KvSink.regionsWriter(ref)(Frames.regionFrame(ev), 0L)
    KvSink.trafficWriter(ref)(Frames.trafficFrame(ev), 0L)
    KvSink.healthWriter(ref)(Frames.healthFrame(ev, exactDistinct = false), 0L)
    KvSink.geoWriter(ref)(Frames.geoFrame(ev), 0L)
    KvSink.platformWriter(ref)(Frames.platformFrame(ev), 0L)
    val Id = """"id":"evt_(\d+)"""".r.unanchored
    val expectedFeed = (1 to 15).map(i => (backlogEvents - i).toString)
    val checks = Seq(
      "regions" -> (kv.readJson(Keys.RegionsCurrent), ref.readJson(Keys.RegionsCurrent)),
      "traffic" -> (kv.readList(Keys.TrafficTs, 1), ref.readList(Keys.TrafficTs, 1)),
      "health" -> (kv.readHash(Keys.HealthCurrent), ref.readHash(Keys.HealthCurrent)),
      "geo" -> (kv.readHash(Keys.GeoHeader), ref.readHash(Keys.GeoHeader)),
      "platform" -> (kv.readJson(Keys.PlatformBreakdown), ref.readJson(Keys.PlatformBreakdown)),
      "activity" -> (kv.readList(Keys.ActivityFeed, 15).collect { case Id(id) => id }, expectedFeed.toList)
    )
    (checks.size, checks.collect { case (name, (got, want)) if got != want =>
      s"$name: got $got, want $want".take(400) }.toVector)
  }

  def run(spark: SparkSession, srv: Servers, work: Path, seed: Long, seconds: Int, tracer: Tracer,
      host: HostSpeed): Result = {
    val base = work.resolve(s"stream-$seed")
    Util.deleteTree(base)
    val in = Files.createDirectories(base.resolve("in"))
    val ckpt = Files.createDirectories(base.resolve("ckpt"))
    val derived = Files.createDirectories(ckpt.resolve("derived-kpis"))
    val errors = Vector.newBuilder[String]
    val progress = Vector.newBuilder[(String, Boolean, StreamingQueryProgress)]
    import Run.phase

    // Backlog: the last five minutes, spread evenly over BacklogFiles files.
    val now = Clock.nowMs()
    val spacing = BacklogSpanMs / BacklogFiles
    (0 until BacklogFiles).foreach { i =>
      Gen.writeEventFile(in, Gen.EventFile(now - BacklogSpanMs + (i + 1) * spacing,
        i.toLong * BacklogEventsPerFile, BacklogEventsPerFile, spacing), seed, Users)
    }
    val backlogEvents = BacklogFiles.toLong * BacklogEventsPerFile
    val inputBytes = Files.list(in).iterator().asScala.map(Files.size(_)).sum

    phase("backlog written")
    host.sample()
    val kv = new TimedKv(srv.kv, tracer, spark)
    def stopAll(qs: Seq[StreamingQuery], live: Boolean): Unit = qs.map { q =>
      val t = new Thread(() => if (q.isActive) q.stop())
      t.start()
      t
    }.zip(qs).foreach { case (t, q) =>
      t.join()
      q.exception.foreach(e => errors += s"${q.name}: ${e.getMessage}".take(300))
      q.recentProgress.foreach(p => progress += ((q.name, live, p)))
    }

    // Each query's own thread ends with the drain, so Java-thread CPU is
    // read every 20 ms and the last reading of every thread kept.
    val cpu0 = Util.threadCpuNs()
    val t0 = System.nanoTime()
    val drain = startJobs(spark, in, ckpt, derived, kv, Trigger.AvailableNow())
    var cpuSeen = cpu0
    val drainEnd = t0 + 120000000000L
    while (drain.exists(_.isActive) && System.nanoTime() < drainEnd) {
      cpuSeen ++= Util.threadCpuNs()
      Thread.sleep(20)
    }
    val drainS = (System.nanoTime() - t0) / 1e9
    val drainCpuS = Util.cpuSince(cpu0, cpuSeen ++ Util.threadCpuNs()) / 1e9
    stopAll(drain, live = false)
    phase("drained")
    host.sample()
    val (checks, checkFailures) = checkDrain(spark, in, srv.kv, backlogEvents)
    phase("checked")

    val ws = new WsClient(srv.ws.port)
    val initial = System.nanoTime() + 5000000000L
    while (ws.frames.size < Api.ChannelToEvent.size && System.nanoTime() < initial) Thread.sleep(10)
    ws.frames.clear()
    kv.publishes.clear()
    kv.calls.set(0); kv.nanos.set(0)

    val api = new ApiReader(srv.apiPort, tracer)
    val gen = new Generator(in, seed, Clock.nowMs(), backlogEvents, tracer)
    val live = startJobs(spark, in, ckpt, derived, kv, Trigger.ProcessingTime("1 second"))
    phase("live started")
    // The measured window starts once every query has finished its first
    // live micro-batch, whose results are not sampled (see steadyState).
    val restartEnd = System.nanoTime() + RestartWaitS * 1000000000L
    while (live.exists(q => q.isActive && q.recentProgress.isEmpty) && System.nanoTime() < restartEnd)
      Thread.sleep(50)
    phase("restarted")
    Thread.sleep(seconds * 1000L)
    gen.stop()
    api.stop()
    val written = Files.list(in).iterator().asScala.count(p => Gen.schedOf(p.toString).isDefined)
    stopAll(live, live = true)
    phase("live stopped")
    host.sample()
    val publishes = kv.publishes.asScala.toVector
    val graceEnd = System.nanoTime() + 3000000000L
    while (ws.frames.size < publishes.size && System.nanoTime() < graceEnd) Thread.sleep(20)
    ws.close()
    phase("frames in")

    val eventQueries = live.map(_.name).filter(n => n != "alerts")
    val admittedBy = eventQueries.map(n => n -> admitted(ckpt, n)).toMap
    val (fresh, lags, missing) = matchFrames(publishes, ws.frames.asScala.toVector,
      steadyState(publishes, admittedBy.map { case (n, a) => n -> newestByBatch(a) }))
    val backlogEnd = admittedBy.values.map(a => written - a.values.map(_.size).sum).maxOption.getOrElse(0)
    Util.deleteTree(base)
    Result(drainS, drainCpuS, backlogEvents, fresh, lags, api.latMs.asScala.toVector.map(_.doubleValue), api.errors.get,
      publishes.size, missing, checks, checkFailures, errors.result(), progress.result(),
      kv.calls.get, kv.nanos.get / 1e6, gen.events, gen.lateMaxMs.toDouble,
      backlogEnd.toLong, inputBytes, drain.size + live.size)
  }
}
