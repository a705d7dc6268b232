package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The batch workloads: a frozen list of registered queries
  * (`graft.SparkEntry.queries`) run in seed-shuffled passes over one
  * generated input.
  *
  * First an untimed check pass runs each query once and compares its
  * output digest with the golden value, and an untimed warm pass runs each
  * once more as the timed passes do. Then a fixed number of whole timed
  * passes run ([[passes]]), so every query contributes the same number of
  * executions however fast the host is. One execution is the builder call
  * plus a noop write of every output column; it is timed both in wall time
  * and in CPU time of the JVM's Java threads.
  */
object Batch {

  final case class Exec(name: String, buildMs: Double, wallMs: Double, cpuMs: Double, ok: Boolean,
      cachedBlocks: Int, sample: Option[Sample])

  final case class Result(execs: Vector[Exec], passWallsS: Vector[Double],
      checkFailures: Vector[String], errors: Vector[String])

  /** Timed passes per run at the least. With three, a query's median
    * execution leaves out both the first timed pass, which the JIT still
    * slows, and one pass that a burst of host load slows. */
  val MinPasses = 3

  /** Length of one pass on the reference host, in seconds. */
  val NominalPassS = 5

  /** Timed passes for a run of `seconds`. The count depends on `seconds`
    * only: the JIT makes each pass cheaper than the one before, so a
    * count that followed the host's speed would move the per-query
    * medians with it. */
  def passes(seconds: Int): Int = math.max(MinPasses, seconds / NominalPassS)

  def cachedBlocks(spark: SparkSession): Int =
    spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum

  def run(spark: SparkSession, dir: String, names: Seq[String],
      golden: Map[String, (Long, String)], seed: Long, seconds: Int,
      tracer: Tracer, layers: Option[Layers], host: HostSpeed): Result = {
    val registry = graft.SparkEntry.queries
    val rnd = new scala.util.Random(seed)
    val errors = Vector.newBuilder[String]
    val checkFailures = Vector.newBuilder[String]

    rnd.shuffle(names).foreach { n =>
      spark.catalog.clearCache()
      try {
        val got = Check.digest(registry(n)(spark, dir))
        if (!golden.get(n).contains(got)) checkFailures += s"$n: digest $got, golden ${golden.get(n)}"
      } catch { case e: Throwable => checkFailures += s"$n: ${e.getMessage}".take(300) }
    }
    Run.phase("checked")
    rnd.shuffle(names).foreach { n =>
      try registry(n)(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () } // it fails again in a timed pass, where it is counted
      spark.catalog.clearCache()
    }
    layers.foreach(_.reset())
    Run.phase("warmed")

    val execs = Vector.newBuilder[Exec]
    val passWalls = Vector.newBuilder[Double]
    (0 until passes(seconds)).foreach { pass =>
      host.sample()
      val passStart = System.nanoTime()
      rnd.shuffle(names).foreach { n =>
        val key = s"$n#$pass"
        tracer.span("query", key) { qSpan =>
          val c0 = Util.threadCpuNs()
          val t0 = System.nanoTime()
          val startMs = Clock.nowMs()
          var buildEnd = t0
          var buildEndMs = startMs
          var buildSpan, actionSpan = 0L
          val ok = try {
            val df = tracer.span("build", key, qSpan) { s => buildSpan = s; registry(n)(spark, dir) }
            buildEnd = System.nanoTime(); buildEndMs = Clock.nowMs()
            tracer.span("action", key, qSpan) { s =>
              actionSpan = s; df.write.format("noop").mode("overwrite").save()
            }
            true
          } catch { case e: Throwable => errors += s"$n: ${e.getMessage}".take(300); false }
          val t1 = System.nanoTime()
          val cpuNs = Util.cpuSince(c0)
          val sample = layers.map(_.take(key, startMs, buildEndMs, Clock.nowMs(), buildSpan, actionSpan))
          val blocks = cachedBlocks(spark)
          spark.catalog.clearCache()
          execs += Exec(n, (buildEnd - t0) / 1e6, (t1 - t0) / 1e6, cpuNs / 1e6, ok, blocks, sample)
        }
      }
      passWalls += (System.nanoTime() - passStart) / 1e9
      Run.phase(f"pass $pass took ${passWalls.result().last}%.2f s")
    }
    Result(execs.result(), passWalls.result(), checkFailures.result(), errors.result())
  }
}
