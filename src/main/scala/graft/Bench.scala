package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints the full per-query JSON line followed by a compact summary line
  * (the summary is LAST so a bounded stdout-tail capture keeps it whole).
  * A failing query is reported in an "errors" map (name → message)
  * instead of being silently timed as a fast failure.
  *
  * Each query is materialized with a noop-format write so the timed work
  * includes the full projection the Verify dump would write (a bare
  * `.count()` lets Catalyst prune output columns and undercounts the work).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    val spark = Session.builder("graft-bench", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Canonicality gate, computed from the run's OWN starting conditions:
    // round-over-round totals are only comparable when the host was idle
    // when the clock started (the r10/r11 lesson: +30 s of uniform wall
    // inflation with byte-identical shuffles, pure ambient load). The
    // record run discipline — 1-min AND 5-min loadavg below ~2 — becomes
    // a flag the artifact carries, so bench_compare can refuse REGRESSED
    // verdicts from a run that was never comparable to begin with.
    // [[Canonical]] — the gate shared with perfbench.
    val loadavgStart = Canonical.readLoadavg()
    val canonical = Canonical.isCanonical(loadavgStart)
    // SHA captured BEFORE the run: the measured classes were compiled from
    // the tree as it stands at launch — an edit landing mid-run must not
    // relabel (or dirty-flag) numbers it had no part in.
    val gitSha = Canonical.gitSha()

    // Shuffle telemetry: bytes written to shuffle per query (stage metrics
    // accumulate asynchronously; the snapshot after each query is taken
    // post-settle and labeled approximate). The number the 100 TB lens
    // cares about: a query whose shuffle volume ~equals its input volume
    // is one partitioning mistake away from a cluster incident.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    // Untimed warm-up: absorb JVM/codegen/parquet-footer startup cost so the
    // first timed query (alphabetical) isn't penalized vs the rest.
    try SparkEntry.queries.get("pricing_summary")
      .foreach(_(spark, sfDir).write.format("noop").mode("overwrite").save())
    catch { case _: Throwable => () }

    var times = Vector.empty[(String, Double)]
    var shuffles = Vector.empty[(String, Long)]
    // Classes Janino compiled while the query's two timed runs ran: a
    // query that keeps compiling after its first run has lost the codegen
    // cache (see the cache settings in [[Session]]).
    var compiles = Vector.empty[(String, Long)]
    var errors = Vector.empty[(String, String)]
    // Optional args = query-name filter (iterate on one hotspot without
    // paying for the full suite); no args = the full driver-run suite.
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => args.contains(k) }
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // Two timed runs, min taken: single-shot times on a shared host swing
      // 2-4× with ambient load; the min is the standard noise-robust
      // estimator and both runs do full work (cache cleared between, noop
      // write materializes every output column).
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val runs = (0 until 2).flatMap { _ =>
        // Evict any persist()ed intermediates before starting the clock:
        // leaked caches both skew the time and accumulate memory pressure
        // across the multi-query session.
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            if (!errors.exists(_._1 == name))
              errors :+= name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            None
        }
      }
      if (runs.nonEmpty) {
        times :+= name -> runs.min
        Thread.sleep(100) // let async stage-completion events settle
        val sb = shuffleBytes.getAndSet(0L)
        shuffles :+= name -> sb / 2 // two timed runs → per-run bytes
        compiles :+= name -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0)
      }
    }
    // Contention guard (the round-9 lesson: a shared host inflated the ANN
    // family 5-10× with byte-identical shuffle volumes and the artifact
    // shipped looking like a regression). Against the newest committed
    // BENCH_SELF_r*.json snapshot (or SPARK_GRAFT_BENCH_PRIOR), any query
    // whose wall time exceeds its prior ×2 while its deterministic shuffle
    // bytes are unchanged (±2%) is re-run ONCE and the min kept — transient
    // load self-heals instead of polluting the round record.
    val priorPath = sys.env.get("SPARK_GRAFT_BENCH_PRIOR").orElse {
      Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(n => n.startsWith("BENCH_SELF_r") && n.endsWith(".json"))
        .sorted.lastOption
    }
    def flatObj(text: String, key: String): Map[String, Double] = {
      val start = text.indexOf(s""""$key":{""")
      if (start < 0) Map.empty
      else {
        val body = text.substring(start + key.length + 4,
          text.indexOf('}', start))
        """"([A-Za-z0-9_]+)":([-0-9.Ee]+)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    val rerun = scala.collection.mutable.ArrayBuffer.empty[String]
    priorPath.map(p => new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), java.nio.charset.StandardCharsets.UTF_8))
      .foreach { prior =>
        val pq = flatObj(prior, "queries")
        val psb = flatObj(prior, "shuffle_bytes")
        times = times.map { case (name, t) =>
          val suspect = pq.get(name).exists(pt => t > 2.0 * pt && t > 1.0) &&
            psb.get(name).zip(shuffles.find(_._1 == name).map(_._2.toDouble))
              .exists { case (b, n) => math.abs(n - b) <= 0.02 * math.max(math.max(b, n), 1.0) }
          if (!suspect) name -> t
          else {
            rerun += name
            spark.catalog.clearCache()
            val t0 = System.nanoTime()
            val again = try {
              SparkEntry.queries(name)(spark, sfDir)
                .write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9
            } catch { case _: Throwable => t }
            name -> math.min(t, again)
          }
        }
      }
    val loadavg = Canonical.readLoadavg().mkString("[", ",", "]")
    val loadStart = loadavgStart.mkString("[", ",", "]")

    val qs = times.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val sh = shuffles.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val cc = compiles.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = times.map(_._2).sum
    val reruns = rerun.map(jstr).mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"shuffle_bytes":$sh,"codegen_compiles":$cc,"errors":$errs,"loadavg":$loadavg,"loadavg_start":$loadStart,"canonical":$canonical,"git_sha":${jstr(gitSha)},"cpus":$cpus,"contention_reruns":$reruns,"sf":${jstr(sfDir)}}"""
    println(line)
    // Persist the FULL line to a stable file as well: the driver's capture
    // truncates stdout tails, which once left per-query numbers without
    // their "unit" prefix. Full runs only — a filtered run (args non-empty)
    // must not clobber the suite-wide baseline that BenchGateSpec and
    // tools/bench_compare.py read.
    val outFile: Option[String] =
      if (args.nonEmpty) None
      else {
        val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SELF_latest.json")
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Some(out)
      }
    // Compact summary as the LAST stdout line: the driver keeps only a
    // ~2 kB stdout TAIL, which truncates the full line above mid-object —
    // every round's BENCH_r*.json landed "parsed": null, losing the
    // driver-side wall-time record. A short self-contained closing line
    // survives any tail window whole. It deliberately carries no
    // per-query "queries" map, so tools/bench_ab.py (last line matching
    // "metric"+"queries") and tools/bench_compare.py (FIRST line matching
    // "metric") both still select the full line; the full map lives in
    // the file named by "full_out".
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    val slowest = times.sortBy(-_._2).take(5)
      .map { case (k, v) => s"${jstr(k)}:${r3(v)}" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","nq":${times.length},"n_err":${errors.length},"slowest":$slowest,"canonical":$canonical,"git_sha":${jstr(gitSha)},"cpus":$cpus,"sf":${jstr(sfDir)},"full_out":${outFile.map(jstr).getOrElse("null")}}""")
    spark.stop()
  }
}
