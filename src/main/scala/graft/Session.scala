package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's required settings and the scale knobs
  * documented in one place.
  *
  * Local/test sizing here; at cluster scale the same builder applies with
  * different numbers:
  *   - `spark.sql.shuffle.partitions`: target ~128-200 MB per post-shuffle
  *     partition (AQE coalescing trims the tail) — at 100 TB input that is
  *     O(100k) initial partitions, not the local 32.
  *   - `spark.sql.files.maxPartitionBytes` 128-256 MB keeps scan tasks
  *     executor-memory-safe.
  *   - AQE is left ON (default in Spark 4): runtime re-plan gives skew-join
  *     splitting and dynamic broadcast decisions that static tuning can't.
  *   - `spark.sql.session.timeZone=UTC` is load-bearing: every date_format /
  *     epoch expression in the engine assumes it (oracle parity).
  *   - `nanosAsLong`: the driver fixtures store TIMESTAMP(NANOS), which the
  *     Spark 4 parquet reader otherwise rejects; `Tables.events` converts.
  *   - `GraftExtensions` registers the native `vec_dot` expression.
  *   - `parallelPartitionDiscovery.threshold` is `Int.MaxValue`: file
  *     listing always runs on the driver. Above the default of 32 paths
  *     Spark lists in a job with one task per path, and every task
  *     deserializes the whole Hadoop configuration to stat one file.
  *     A stream micro-batch admitting `Jobs.MaxFilesPerTrigger` = 64
  *     files paid that in every query's batch, although the source
  *     already holds each file's status. The master is always
  *     `local[cores]`, so the listing job ran on this JVM anyway; on a
  *     cluster whose sources list thousands of directories, lower it.
  *   - `artifact.isolation.enabled` is `false`: generated classes are
  *     cached per (class loader, code). With isolation on, every session
  *     gets its own artifact UUID, every `StreamingQuery.start` clones the
  *     session, and each UUID gets a fresh class loader, so each query
  *     start recompiled all of its classes: a drain of the nine-query
  *     stream graph compiled 154-163 classes every time, the same 73
  *     bodies on every repetition. Isolation serves only Spark Connect
  *     clients and per-session `addArtifact` jars, which nothing here
  *     uses; turn it back on if the engine ever serves either.
  *   - `codegen.cache.maxEntries` is 1000: the default of 100 is smaller
  *     than one pass over the registry (about 186 distinct classes,
  *     `dedup_apply` alone 92) or the stream graph (about 120), and a
  *     list walked in a cycle through a too-small LRU cache misses on
  *     every entry: each registry pass compiled 184-192 classes. With
  *     isolation off alone a drain still compiled about 81; with both
  *     settings a repeated drain or pass compiles none. Revisit the size
  *     if the registry grows past it.
  */
object Session {

  def builder(appName: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Lets a DSv2 scan's reported KeyGroupedPartitioning reach the
      // planner (gavro tables written repartitionByRange report it via
      // the `partitionKey` reader option) — clustered aggs/joins over
      // index tables then skip their Exchange entirely.
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // AQE coalesces post-shuffle partitions to
      // max(totalBytes/defaultParallelism, minPartitionSize); the 1 MB
      // default floor collapses this suite's CPU-heavy post-shuffle
      // stages (token-window chains, shingle/pair explodes — many CPU
      // cycles per shuffled byte) onto a handful of the session's cores
      // (profiled: 6 tasks over a 6.5 MB exchange on 32 cores). 64 KiB
      // keeps those stages at session width while remaining
      // scale-adaptive: at production volumes totalBytes/parallelism
      // dominates the max and the floor is inert — this is not a
      // local[32] constant, it just stops the floor from overriding the
      // parallelism-first target on small-shuffle stages.
      // DESIGN RECORD (r18): 128 KiB was tried for the ~7-query tail tax
      // the 64 KiB floor carries and REVERTED on a full-suite paired A/B
      // (BENCH_AB_r18_floor128.json): total 143.0 → 146.0 s, with the
      // width-sensitive tier paying hard (ann_ivfpq_incremental 1.85×,
      // dedup_fuzzy_title 1.78×, ann_ivfpq_topk 1.63×) and even the
      // tail-tax queries not recovering (rare_bigram_score 1.44×).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        Int.MaxValue.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")

  def local(appName: String): SparkSession = {
    val cores = math.min(32, Runtime.getRuntime.availableProcessors)
    val s = builder(appName, cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
