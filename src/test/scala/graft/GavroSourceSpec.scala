package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{AvroCodec, Gavro, Tables}

/** The `gavro` DataSource V2 connector: write/read round-trip, per-file
  * partition planning, column pruning pushed into the decoder, and the
  * PERMISSIVE all-null contract for corrupt record bodies. */
class GavroSourceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"gavro_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** Block-granular task planning for assertions that equate partitions
    * with footer blocks: the GAVRO-scoped split cap at 1 byte disables
    * [[graft.sources.GavroSkip.pack]]'s contiguous-run merging for any
    * on-disk block size (the old 4096 global cap let sub-2 KiB compressed
    * blocks pack), while parquet scans in these bodies keep their normal
    * split sizing. Packed-mode behavior is pinned separately ("packing
    * merges contiguous blocks..."). */
  private def blockTasks[A](body: => A): A = {
    val k = "spark.graft.gavro.maxPartitionBytes"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "1")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  test("write then scan round-trips every field of every record") {
    val events = Tables.events(spark, dir)
    val out = tmpDir("roundtrip")
    Gavro.write(events.select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), out)

    val scanned = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
    // Full-width read equals the in-plan synthesis — with created_at
    // truncated to the wire's millis grain (the codec's documented
    // timestamp-millis contract, not connector loss).
    val expected = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(col("rec.*"))
      .withColumn("created_at",
        expr("timestamp_micros(unix_millis(created_at) * 1000)"))
    val sCols = scanned.columns.sorted.toSeq
    assert(sCols == expected.columns.sorted.toSeq)
    val key = (r: org.apache.spark.sql.Row) => r.getAs[Long]("id")
    val got = scanned.collect().map(r => key(r) -> r.toString).toMap
    val want = expected.collect().map(r => key(r) -> r.toString).toMap
    assert(got.size == want.size)
    // Row content equality needs stable column order within the row:
    // compare on the re-selected canonical order.
    val gotC = scanned.select(expected.columns.map(col).toIndexedSeq: _*)
      .collect().map(_.toString).sorted.toSeq
    val wantC = expected.collect().map(_.toString).sorted.toSeq
    assert(gotC == wantC)
  }

  test("one input partition per file; pruned ReadSchema reaches the scan") {
    val events = Tables.events(spark, dir)
    val out = tmpDir("prune")
    Gavro.write(events.repartition(4)
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), out)
    assert(new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".gavro")) == 4)

    val pruned = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .select(col("endpoint"), col("status_code"))
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    assert(scans.nonEmpty, pruned.queryExecution.executedPlan.toString)
    // Catalyst pruned 11 columns to 2, and the connector received it.
    assert(scans.head.scan.readSchema().fieldNames.toSeq ==
      Seq("endpoint", "status_code"))
    assert(scans.head.inputRDD.getNumPartitions == 4)
    // The pruned read still computes correct values.
    val n500 = pruned.filter(col("status_code") === 500).count()
    val expected500 = events.filter(pmod(col("event_id"), lit(7)) === 0).count()
    assert(n500 == expected500)
  }

  test("corrupt record bodies surface as all-null rows, count preserved") {
    val out = tmpDir("corrupt")
    val vals: Array[Any] = Array(3L, UTF8String.fromString("ab"),
      UTF8String.fromString("c"), 1.5, 1000000L)
    val good = AvroCodec.encode(AvroCodec.SystemMetrics, vals(_), _ => false)
    val corrupt = Array[Byte](0x06, 0x01) // id=3, then negative string length
    val f = new java.io.File(out, "part-00000.gavro")
    val os = new java.io.FileOutputStream(f)
    try Seq(good, corrupt).foreach { b =>
      os.write(Array[Byte]((b.length >>> 24).toByte, (b.length >>> 16).toByte,
        (b.length >>> 8).toByte, b.length.toByte))
      os.write(b)
    } finally os.close()

    val rows = spark.read.format("gavro")
      .option("schema", "system_metrics").load(out)
      .collect()
    assert(rows.length == 2)
    val (bad, ok) = rows.partition(_.isNullAt(0))
    assert(ok.length == 1 && ok.head.getAs[String]("node_name") == "ab")
    assert(bad.length == 1 && (0 until bad.head.length).forall(bad.head.isNullAt))
  }

  test("pushed filters vanish from the plan and drop rows inside the reader") {
    val events = Tables.events(spark, dir)
    val out = tmpDir("pushdown")
    Gavro.write(events.select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), out)

    // Project only `endpoint`; filter on `status_code` (NOT projected) —
    // pruning and pushdown must compose: the filter column rides the decode
    // target but not the emitted row.
    val filtered = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .filter(col("status_code") === 500 && col("endpoint") >= "/api/p")
      .select(col("endpoint"))
    val plan = filtered.queryExecution.executedPlan
    val scans = plan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    // Both conjuncts (plus Catalyst's derived IsNotNulls) were accepted…
    val desc = scans.head.scan.description()
    assert(desc.contains("status_code") && desc.contains("PushedFilters"), desc)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("endpoint"))
    // …so NO FilterExec survives above the scan.
    val residualFilters = plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f }
    assert(residualFilters.isEmpty, plan.toString)
    // And the reader's evaluation is exactly the WHERE it replaced.
    val got = filtered.groupBy("endpoint").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = events
      .filter(pmod(col("event_id"), lit(7)) === 0 &&
        concat(lit("/api/"), col("event_type")) >= "/api/p")
      .groupBy(concat(lit("/api/"), col("event_type")).as("endpoint")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want && got.nonEmpty)
  }

  test("pushed null-tests honor the PERMISSIVE all-null corrupt channel") {
    val out = tmpDir("pushnull")
    val vals: Array[Any] = Array(3L, UTF8String.fromString("ab"),
      UTF8String.fromString("c"), 1.5, 1000000L)
    val good = AvroCodec.encode(AvroCodec.SystemMetrics, vals(_), _ => false)
    val corrupt = Array[Byte](0x06, 0x01)
    val f = new java.io.File(out, "part-00000.gavro")
    val os = new java.io.FileOutputStream(f)
    try Seq(good, corrupt).foreach { b =>
      os.write(Array[Byte]((b.length >>> 24).toByte, (b.length >>> 16).toByte,
        (b.length >>> 8).toByte, b.length.toByte))
      os.write(b)
    } finally os.close()

    def scan() = spark.read.format("gavro")
      .option("schema", "system_metrics").load(out)
    // A comparison conjunct never matches NULL: the corrupt row is dropped
    // by the reader, same as the FilterExec it replaced would have.
    assert(scan().filter(col("id") > 0L).count() == 1)
    // A pushed IS NULL keeps exactly the corrupt row.
    assert(scan().filter(col("id").isNull).count() == 1)
  }

  test("pushed limit stops the reader after n matching records per partition") {
    val events = Tables.events(spark, dir)
    val out = tmpDir("limit")
    Gavro.write(events.repartition(4)
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), out)
    val limited = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .filter(col("status_code") === 200)
      .limit(3)
    val scans = limited.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    // Limit reached the scan (composed with the pushed filter)…
    assert(scans.head.scan.description().contains("PushedLimit: 3"),
      scans.head.scan.description())
    // …and the result honors both: exactly 3 rows, every one matching.
    val rows = limited.collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getAs[Int]("status_code") == 200))
  }

  test("aggregates push into the scan: partial rows per group, exact result") {
    val events = Tables.events(spark, dir)
    val out = tmpDir("aggpush")
    Gavro.write(events.repartition(4)
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), out)

    val agg = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .filter(col("status_code") === 200)
      .groupBy(col("endpoint"))
      .agg(count(lit(1)).as("n"), sum(col("latency_ms")).as("sum_latency"),
        min(col("latency_ms")).as("min_latency"),
        max(col("latency_ms")).as("max_latency"),
        count(col("user_id")).as("n_user_known"))
    // Aggregation introduces an exchange, so the plan is AQE-wrapped:
    // unwrap before looking for the scan.
    val scans = (agg.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    val desc = scans.head.scan.description()
    // The aggregation (and the filter before it) reached the reader…
    assert(desc.contains("PushedAggregates"), desc)
    assert(desc.contains("GroupBy: [endpoint]"), desc)
    // …and the scan's output collapsed to the partial-agg schema: the
    // shuffle upstream of the final merge carries O(files × groups) rows.
    assert(scans.head.scan.readSchema().fieldNames.length == 6, // 1 group + 5 aggs
      scans.head.scan.readSchema().catalogString)
    assert(scans.head.scan.readSchema().fieldNames.head == "endpoint")

    // Exactness vs the same aggregate computed from the raw synthesis.
    val got = agg.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getLong(5))).toMap
    val want = events.filter(pmod(col("event_id"), lit(7)) =!= 0)
      .groupBy(concat(lit("/api/"), col("event_type")).as("endpoint"))
      .agg(count(lit(1)).as("n"),
        sum(pmod(col("event_id"), lit(500))).as("sum_latency"),
        min(pmod(col("event_id"), lit(500)).cast("int")).as("min_latency"),
        max(pmod(col("event_id"), lit(500)).cast("int")).as("max_latency"),
        count(when(pmod(col("user_id"), lit(11)) =!= 0, col("user_id")))
          .as("n_user_known"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getLong(5))).toMap
    assert(got == want && got.nonEmpty)
  }

  test("global pushed aggregate emits a row even when every record is filtered") {
    val events = Tables.events(spark, dir)
    val out = tmpDir("aggglobal")
    Gavro.write(events.select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), out)
    def scan() = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
    // No group-by: each partition contributes its single partial row.
    val global = scan().agg(count(lit(1)).as("n"),
      min(col("latency_ms")).as("mn"), max(col("latency_ms")).as("mx"))
    val desc = (global.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case b: BatchScanExec => b }.head.scan.description()
    assert(desc.contains("PushedAggregates"), desc)
    val r = global.collect().head
    assert(r.getLong(0) == events.count())
    assert(r.getInt(1) <= r.getInt(2))
    // Fully-filtered input: count must still be 0 (not an empty result) —
    // the global partial row exists even when nothing matches, and the
    // min over zero non-null inputs stays NULL.
    val empty = scan().filter(col("status_code") === 12345)
      .agg(count(lit(1)).as("n"), min(col("latency_ms")).as("mn"))
      .collect().head
    assert(empty.getLong(0) == 0L && empty.isNullAt(1))
  }

  test("pushed count semantics on the PERMISSIVE corrupt channel") {
    val out = tmpDir("aggnull")
    val vals: Array[Any] = Array(3L, UTF8String.fromString("ab"),
      UTF8String.fromString("c"), 1.5, 1000000L)
    val good = AvroCodec.encode(AvroCodec.SystemMetrics, vals(_), _ => false)
    val corrupt = Array[Byte](0x06, 0x01)
    val f = new java.io.File(out, "part-00000.gavro")
    val os = new java.io.FileOutputStream(f)
    try Seq(good, corrupt).foreach { b =>
      os.write(Array[Byte]((b.length >>> 24).toByte, (b.length >>> 16).toByte,
        (b.length >>> 8).toByte, b.length.toByte))
      os.write(b)
    } finally os.close()
    // count(*) counts the all-null corrupt row; count(col) skips it — the
    // exact semantics of the partial HashAggregate the pushdown replaced.
    val r = spark.read.format("gavro")
      .option("schema", "system_metrics").load(out)
      .agg(count(lit(1)).as("all"), count(col("id")).as("ids"),
        sum(col("id")).as("s")).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L && r.getLong(2) == 3L)
  }

  test("agg reader flushes past the group cap; re-merged partials stay exact") {
    import graft.sources.{GAggSpec, GavroAgg, GavroAggPartitionReader}
    val events = Tables.events(spark, dir)
    val out = tmpDir("aggflush")
    Gavro.write(events.select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"))
      .coalesce(1), out)
    val file = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".gavro")).head.getAbsolutePath
    // Cap of ONE live group: nearly every record lands on a "new" group
    // and flushes the map, so the reader emits many duplicate-key partial
    // rows — exactly what a final merge aggregate receives.
    val reader = new GavroAggPartitionReader(
      graft.sources.GavroSkip.planFile(new java.io.File(file), Seq.empty).head,
      "request_log",
      GavroAgg(Array("endpoint"),
        Array(GAggSpec("count_star", null), GAggSpec("sum", "latency_ms")),
        new org.apache.spark.sql.types.StructType()),
      Array.empty, maxGroups = 1)
    val partials = Iterator.continually(reader)
      .takeWhile(_.next()).map { r =>
        (r.get().get(0, null).toString,
          (r.get().getLong(1), r.get().getLong(2)))
      }.toVector
    val merged = partials.groupBy(_._1).view
      .mapValues(v => (v.map(_._2._1).sum, v.map(_._2._2).sum)).toMap
    val want = events
      .groupBy(concat(lit("/api/"), col("event_type")).as("endpoint"))
      .agg(count(lit(1)).as("n"), sum(pmod(col("event_id"), lit(500))).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(merged == want)
    // Flushing genuinely happened: far more partial rows than groups.
    assert(partials.length > want.size * 3, s"partials=${partials.length}")
  }

  test("reported file-size statistics let a small gavro dim broadcast") {
    import spark.implicits._
    val events = Tables.events(spark, dir)
    val out = tmpDir("stats")
    Gavro.write(events.limit(50)
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), out)
    val dim = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .select(col("id"), col("endpoint"))
    // The scan must report its real on-disk size…
    val scan = dim.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.head
    val stats = scan.computeStats()
    assert(stats.sizeInBytes > 0 &&
      stats.sizeInBytes < 10L * 1024 * 1024, stats.sizeInBytes)
    // …so a join against a big fact side AUTO-plans the gavro dim as the
    // broadcast build side (no hint anywhere). Without statistics, DSv2
    // reports Long.MaxValue and this would be a sort-merge join.
    val fact = (0L until 10000L).toDF("id")
    val joined = fact.join(dim, "id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(joined.count() == 50)
  }

  test("decode and corrupt counters surface as scan metrics") {
    val out = tmpDir("metrics")
    val vals: Array[Any] = Array(3L, UTF8String.fromString("ab"),
      UTF8String.fromString("c"), 1.5, 1000000L)
    val good = AvroCodec.encode(AvroCodec.SystemMetrics, vals(_), _ => false)
    val corrupt = Array[Byte](0x06, 0x01)
    val f = new java.io.File(out, "part-00000.gavro")
    val os = new java.io.FileOutputStream(f)
    try Seq(good, corrupt, good).foreach { b =>
      os.write(Array[Byte]((b.length >>> 24).toByte, (b.length >>> 16).toByte,
        (b.length >>> 8).toByte, b.length.toByte))
      os.write(b)
    } finally os.close()
    val df = spark.read.format("gavro")
      .option("schema", "system_metrics").load(out)
    // collect() executes THIS QueryExecution instance — the metrics below
    // belong to it (a separate .count() would execute a different plan).
    assert(df.collect().length == 3)
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b }.get
    // The PERMISSIVE channel is observable, not silent: the SQL-UI
    // metrics on the scan node carry both counters.
    assert(scan.metrics("gavroRecords").value == 3L,
      scan.metrics.view.mapValues(_.value).toMap.toString)
    assert(scan.metrics("gavroCorrupt").value == 1L)
  }

  test("the registered aggregate query matches its oracle shape") {
    val df = Gavro.gavroScan(spark, dir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(df.columns.toSeq == Seq("endpoint", "n", "sum_status"))
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == Tables.events(spark, dir).count())
  }

  test("a single multi-block file splits into multiple partitions, results unchanged")(blockTasks {
    val events = Tables.events(spark, dir)
    val out = tmpDir("blocks")
    // ONE file (coalesce(1)) with 8 KiB blocks: the footer index must fan
    // the scan out even though the listing has a single entry.
    Gavro.write(events.coalesce(1)
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), out,
      blockBytes = 8192L)
    assert(new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".gavro")) == 1)
    val scanned = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .select(col("id"), col("status_code"))
    val scans = scanned.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    assert(scans.head.inputRDD.getNumPartitions > 1,
      s"expected a block split, got ${scans.head.inputRDD.getNumPartitions}")
    // Block bounds are record-aligned: nothing lost or duplicated at seams.
    assert(scanned.count() == events.count())
    assert(scanned.agg(sum(col("id"))).head.getLong(0) ==
      events.agg(sum(col("event_id"))).head.getLong(0))
  })

  test("footer min/max stats skip files a pushed predicate excludes") {
    val events = Tables.events(spark, dir)
    val out = tmpDir("skip")
    // Range-layout by endpoint so files carry disjoint value ranges —
    // the layout a partitioned archiver produces naturally.
    Gavro.write(events
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.endpoint").as("endpoint"),
        col("rec.status_code").as("status_code"))
      .repartitionByRange(4, col("endpoint")), out,
      statCols = Seq("endpoint", "status_code"))
    val files = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".gavro"))
    assert(files == 4)
    val all = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
    val filtered = all.filter(col("endpoint") >= "/api/p")
      .select(col("id"), col("endpoint"))
    val scans = filtered.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    // Fewer tasks than files: the planner never opened the excluded ones.
    val opened = scans.head.inputRDD.getNumPartitions
    assert(opened < files, s"expected stats skipping, opened $opened of $files")
    // Skipping is exact: same rows as recomputing from the synthesis.
    val expected = events.select(AvroCodec.requestLogRec.as("rec"))
      .filter(col("rec.endpoint") >= "/api/p").count()
    assert(filtered.count() == expected)
    // Null-tests never skip (the corrupt channel can add nulls post-stats).
    val nulls = all.filter(col("endpoint").isNull)
    val nullScan = nulls.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    assert(nullScan.head.inputRDD.getNumPartitions == files)
    // An IN-RANGE equality predicate must NOT skip: every file holds both
    // status codes, so the count must equal the full recompute (this is
    // the case an inverted bound comparison silently zeroes).
    val eq = all.filter(col("status_code") === 500)
    assert(eq.count() ==
      events.filter(pmod(col("event_id"), lit(7)) === 0).count())
  }

  test("per-block stats prune blocks inside one clustered file")(blockTasks {
    val events = Tables.events(spark, dir)
    val out = tmpDir("blockskip")
    // ONE file, sorted by endpoint, small blocks: each block covers a
    // narrow endpoint range — the time-clustered-landing-file shape.
    Gavro.write(events
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.endpoint").as("endpoint"))
      .orderBy(col("endpoint")).coalesce(1), out,
      blockBytes = 8192L, statCols = Seq("endpoint"))
    val all = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .select(col("id"), col("endpoint"))
    val allScan = all.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head
    val totalBlocks = allScan.inputRDD.getNumPartitions
    assert(totalBlocks > 2, s"need a multi-block file, got $totalBlocks")
    val filtered = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .filter(col("endpoint") >= "/api/p")
      .select(col("id"), col("endpoint"))
    val fScan = filtered.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head
    val opened = fScan.inputRDD.getNumPartitions
    assert(opened < totalBlocks,
      s"expected block pruning, opened $opened of $totalBlocks blocks")
    val expected = events.select(AvroCodec.requestLogRec.as("rec"))
      .filter(col("rec.endpoint") >= "/api/p").count()
    assert(filtered.count() == expected)
  })

  test("IN lists past 64 values push: blocks skip, no residual filter, rows exact")(blockTasks {
    val events = Tables.events(spark, dir)
    val out = tmpDir("bigin")
    // One id-sorted file with small blocks: a clustered 200-value IN list
    // must skip the blocks outside its id band. Pre-r15 the 64-value cap
    // kept this list out of the reader entirely (full scan + FilterExec).
    Gavro.write(events
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.id").as("id"))
      .orderBy(col("id")).coalesce(1), out,
      blockBytes = 8192L, statCols = Seq("id"))
    val ids = events.select(col("event_id")).orderBy(col("event_id"))
      .limit(200).collect().map(_.getLong(0)).toSeq
    assert(ids.length > 64)
    def scanOf(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b }.head
    val all = spark.read.format("gavro")
      .option("schema", "request_log").load(out).select(col("id"))
    val totalBlocks = scanOf(all).inputRDD.getNumPartitions
    assert(totalBlocks > 4, s"need a multi-block file, got $totalBlocks")
    val filtered = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .filter(col("id").isin(ids.map(Long.box): _*)).select(col("id"))
    // fully pushed: nothing left for Spark to re-filter
    assert(filtered.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty)
    val opened = scanOf(filtered).inputRDD.getNumPartitions
    assert(opened < totalBlocks,
      s"expected block pruning for the 200-value IN, opened $opened of $totalBlocks")
    assert(filtered.collect().map(_.getLong(0)).toSet == ids.toSet)
    // and a STRING list past 64 pushes too (the LSH band_key shape:
    // session_id is an md5 hex key)
    val sOut = tmpDir("bigin_str")
    Gavro.write(events
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.session_id").as("session_id"))
      .orderBy(col("session_id")).coalesce(1), sOut,
      blockBytes = 8192L, statCols = Seq("session_id"))
    val keys = events
      .select(md5(col("event_id").cast("string")).as("k")).distinct()
      .orderBy(col("k")).limit(100).collect().map(_.getString(0)).toSeq
    assert(keys.length > 64)
    val sFiltered = spark.read.format("gavro")
      .option("schema", "request_log").load(sOut)
      .filter(col("session_id").isin(keys: _*))
      .select(col("session_id"))
    assert(sFiltered.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty)
    assert(sFiltered.collect().map(_.getString(0)).toSet == keys.toSet)
  })

  test("startsWith pushes with prefix-range block skip; ends/contains evaluate in-reader")(blockTasks {
    val events = Tables.events(spark, dir)
    val out = tmpDir("strpush")
    Gavro.write(events
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.endpoint").as("endpoint"))
      .orderBy(col("endpoint")).coalesce(1), out,
      blockBytes = 8192L, statCols = Seq("endpoint"))
    def scanOf(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    def noFilterExec(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty
    val all = spark.read.format("gavro")
      .option("schema", "request_log").load(out).select(col("endpoint"))
    val totalBlocks = scanOf(all).inputRDD.getNumPartitions
    assert(totalBlocks > 2)
    // prefix scan: fully pushed, blocks outside [p, upper(p)) skipped
    val pre = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .filter(col("endpoint").startsWith("/api/p")).select(col("endpoint"))
    assert(noFilterExec(pre), "startsWith must vanish from the plan")
    assert(scanOf(pre).inputRDD.getNumPartitions < totalBlocks,
      s"expected prefix block pruning")
    val wantPre = events.select(AvroCodec.requestLogRec.as("rec"))
      .filter(col("rec.endpoint").startsWith("/api/p")).count()
    assert(pre.count() == wantPre && wantPre > 0)
    // endsWith / contains: no min/max proof (never skip), but in-reader
    val ends = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .filter(col("endpoint").endsWith("ogin")).select(col("endpoint"))
    assert(noFilterExec(ends))
    assert(ends.count() == events.select(AvroCodec.requestLogRec.as("rec"))
      .filter(col("rec.endpoint").endsWith("ogin")).count())
    val contains = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .filter(col("endpoint").contains("pur")).select(col("endpoint"))
    assert(noFilterExec(contains))
    assert(contains.count() == events
      .select(AvroCodec.requestLogRec.as("rec"))
      .filter(col("rec.endpoint").contains("pur")).count())
    // proof edges, unit-level
    import graft.sources.{GavroColStat, GavroPred, GavroSkip}
    val st = Map("k" -> GavroColStat(2, "/api/login", "/api/order"))
    def ex(pre: String) =
      GavroSkip.exclude(st, Seq(GavroPred("k", "starts", pre)))
    assert(ex("/api/z"))            // whole range below the prefix
    assert(ex("/aaa"))              // whole range above upper("/aaa")
    assert(!ex("/api/l"))           // overlaps min
    assert(!ex("/api/o"))           // overlaps max
    assert(!ex("/api"))             // prefix of everything
    assert(!ex(""))                 // empty prefix matches all
    // a U+FFFF prefix bounds at U+10000, a surrogate pair that sorts
    // after every BMP unit in code-point order
    assert(ex("￿￿"))
    assert(!GavroSkip.exclude(Map("k" -> GavroColStat(2, "￿", "￿")),
      Seq(GavroPred("k", "starts", "￿"))))
    def exAt(mn: String, mx: String, pre: String) = GavroSkip.exclude(
      Map("k" -> GavroColStat(2, mn, mx)), Seq(GavroPred("k", "starts", pre)))
    // U+D7FF's successor is U+E000, not a lone surrogate: matches stay,
    // the first value past the prefix range is skipped
    assert(!exAt("\uD7FF\uD83D\uDE00", "\uD7FFz", "\uD7FF"))
    assert(exAt("\uE000", "\uE001", "\uD7FF"))
    // supplementary prefix U+1F600: bound U+1F601, BMP values sort below
    val grin = "\uD83D\uDE00"
    assert(!exAt(grin + "a", grin + "z", grin))
    assert(exAt("\uD83D\uDE01", "\uD83D\uDE01", grin))
    assert(exAt("\uFFFD", "\uFFFF", grin))
    assert(!exAt("\uFFFD", grin, grin))
    // trailing U+10FFFF is dropped before the increment; an all-U+10FFFF
    // prefix has no finite bound, so only max < p can skip
    val top = "\uDBFF\uDFFF"
    assert(exAt("b", "c", "a" + top))
    assert(!exAt("a" + top + "x", "b", "a" + top))
    assert(!exAt(top, top + "x", top))
    assert(exAt("a", "\uFFFF", top))
    // ends/contains never skip, whatever the stats say
    assert(!GavroSkip.exclude(st, Seq(GavroPred("k", "ends", "zzz"))))
    assert(!GavroSkip.exclude(st, Seq(GavroPred("k", "contains", "zzz"))))
  })

  test("IN proof fuzz: sorted binary search ≡ linear over seeded random windows") {
    import graft.sources.{GavroColStat, GavroPred, GavroSkip, GavroSortedVals}
    val rnd = new scala.util.Random(42) // seeded: deterministic failures
    def agree(stat: GavroColStat, vs: Seq[Any], tag: String): Unit = {
      val viaSorted = GavroPred("k", "in", GavroSortedVals.build(vs))
      val viaLinear = GavroPred("k", "in", vs)
      val (bin, lin) = (GavroSkip.exclude(Map("k" -> stat), Seq(viaSorted)),
        GavroSkip.exclude(Map("k" -> stat), Seq(viaLinear)))
      assert(bin == lin, s"$tag disagree: binary=$bin linear=$lin " +
        s"stat=[${stat.min},${stat.max}] vs=${vs.take(12)}…(${vs.length})")
    }
    (0 until 300).foreach { i =>
      // longs: tight and wide windows against clustered and spread lists
      val lo = rnd.nextInt(2000) - 1000
      val hi = lo + rnd.nextInt(500)
      val n = 1 + rnd.nextInt(200)
      val spread = if (rnd.nextBoolean()) 4000 else 50 // straddle vs cluster
      val vs = Seq.fill(n)((rnd.nextInt(spread) - spread / 2 + lo).toLong: Any)
      agree(GavroColStat(0, lo.toLong, hi.toLong), vs, s"long#$i")
    }
    (0 until 300).foreach { i =>
      // strings: md5-ish hex keys against hex windows (the band_key shape)
      def hex(len: Int) = Seq.fill(len)("0123456789abcdef"(rnd.nextInt(16)))
        .mkString
      val a = hex(4); val b = hex(4)
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      val n = 1 + rnd.nextInt(150)
      val vs = Seq.fill(n)(hex(2 + rnd.nextInt(3)): Any)
      agree(GavroColStat(2, lo, hi), vs, s"str#$i")
    }
  }

  test("sorted IN skip proof: binary search agrees with the linear proof at every edge") {
    import graft.sources.{GavroColStat, GavroPred, GavroSkip, GavroSortedVals}
    def both(stat: GavroColStat, vs: Seq[Any]): (Boolean, Boolean) = {
      val stats = Map("k" -> stat)
      val sorted = GavroPred("k", "in", GavroSortedVals.build(vs))
      sorted.value match {
        case _: GavroSortedVals => ()
        case other => fail(s"expected sorted wrapper, got $other")
      }
      (GavroSkip.exclude(stats, Seq(sorted)),
        GavroSkip.exclude(stats, Seq(GavroPred("k", "in", vs))))
    }
    val sStat = GavroColStat(2, "f", "m")
    val stringCases = Seq(
      Seq("a", "b"), Seq("x", "z"), Seq("a", "z"), Seq("g"),
      Seq("f"), Seq("m"), Seq("e"), Seq("n"),
      Seq("a", "e", "n", "z"), Seq("a", "b", "c", "d", "e"),
      Seq("n", "o", "p"), Seq("f", "m"), Seq("fa"), Seq("mz"))
    stringCases.foreach { vs =>
      val (bin, lin) = both(sStat, vs)
      assert(bin == lin, s"disagree on $vs: binary=$bin linear=$lin")
    }
    val lStat = GavroColStat(0, 100L, 200L)
    val longCases = Seq(
      Seq(1L, 2L), Seq(300L, 400L), Seq(1L, 500L), Seq(150L),
      Seq(100L), Seq(200L), Seq(99L), Seq(201L), Seq(99L, 201L),
      (0L until 90L).toSeq, (201L until 400L).toSeq,
      Seq(50L, 99L, 150L, 250L))
    longCases.foreach { vs =>
      val (bin, lin) = both(lStat, vs.map(v => v: Any))
      assert(bin == lin, s"disagree on longs $vs: binary=$bin linear=$lin")
    }
    // unsorted direct construction (test-style preds) keeps working:
    // 150 ∈ [100, 200] → cannot exclude, even listed out of order
    assert(GavroSkip.exclude(Map("k" -> lStat),
      Seq(GavroPred("k", "in", Seq(300L, 150L, 1L)))) == false)
    // …and all-outside excludes, also out of order
    assert(GavroSkip.exclude(Map("k" -> lStat),
      Seq(GavroPred("k", "in", Seq(300L, 1L)))) == true)
    // type-mismatched sorted list can never exclude
    assert(GavroSkip.exclude(Map("k" -> lStat),
      Seq(GavroPred("k", "in", GavroSortedVals.build(Seq("a", "b"))))) == false)
  }

  test("an evolved reader schema resolves inside the scan") {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val events = Tables.events(spark, dir)
    val out = tmpDir("evolve")
    Gavro.write(events.select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), out)
    val evolved = spark.read.format("gavro").option("schema", "request_log")
      .option("readerSchema", AvroCodec.RequestLogV2Json).load(out)
    // Shape is the READER's: promotions applied, platform dropped,
    // trace_id present (and always null — absent from the writer).
    assert(evolved.schema("status_code").dataType == LongType)
    assert(evolved.schema("latency_ms").dataType == DoubleType)
    assert(!evolved.columns.contains("platform"))
    val got = evolved.select(col("id"), col("status_code"),
      col("latency_ms"), col("trace_id")).collect()
    assert(got.nonEmpty && got.forall(_.isNullAt(3)))
    val want = events.select(col("event_id").as("id"),
      when(pmod(col("event_id"), lit(7)) === 0, 500L).otherwise(200L)
        .as("status_code"),
      pmod(col("event_id"), lit(500)).cast("double").as("latency_ms"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    got.foreach { r =>
      val (st, lat) = want(r.getLong(0))
      assert(r.getLong(1) == st && r.getDouble(2) == lat, s"row ${r.getLong(0)}")
    }
    // A pushed filter on the PROMOTED column still vanishes from the plan
    // and the evolved values still filter correctly.
    val filtered = spark.read.format("gavro").option("schema", "request_log")
      .option("readerSchema", AvroCodec.RequestLogV2Json).load(out)
      .filter(col("status_code") === 500L).select(col("id"))
    val fexec = filtered.queryExecution.executedPlan
    assert(fexec.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty,
      fexec.toString)
    assert(filtered.count() ==
      events.filter(pmod(col("event_id"), lit(7)) === 0).count())
  }

  test("DSv2 write: encode-in-sink round-trips, names sequence, overwrite truncates") {
    val events = Tables.events(spark, dir)
    val out = tmpDir("dsv2write")
    val recs = events.select(AvroCodec.requestLogRec.as("rec")).select(col("rec.*"))
    recs.repartition(3).write.format("gavro").option("schema", "request_log")
      .mode("append").save(out)
    val names = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.endsWith(".gavro")).sorted.toSeq
    assert(names == Seq("part-00000.gavro", "part-00001.gavro", "part-00002.gavro"))
    // No temp droppings left behind.
    assert(!new java.io.File(out).listFiles().exists(_.getName.endsWith(".tmp")))
    // Round-trip equality at the wire's millis grain.
    val back = spark.read.format("gavro").option("schema", "request_log").load(out)
    assert(back.count() == events.count())
    assert(back.agg(sum(col("id"))).head.getLong(0) ==
      events.agg(sum(col("event_id"))).head.getLong(0))
    // Appended batch continues the sequence — sorts AFTER prior files,
    // preserving the streaming tail's offset contract.
    recs.limit(10).coalesce(1).write.format("gavro")
      .option("schema", "request_log").mode("append").save(out)
    val names2 = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.endsWith(".gavro")).sorted.toSeq
    assert(names2.last == "part-00003.gavro" && names2.size == 4)
    assert(spark.read.format("gavro").option("schema", "request_log")
      .load(out).count() == events.count() + 10)
    // Overwrite replaces everything.
    recs.limit(5).coalesce(1).write.format("gavro")
      .option("schema", "request_log").mode("overwrite").save(out)
    assert(spark.read.format("gavro").option("schema", "request_log")
      .load(out).count() == 5)
    // A frame that is not the record shape is rejected up front.
    intercept[Exception] {
      events.select(col("event_id")).write.format("gavro")
        .option("schema", "request_log").mode("append").save(out)
    }
  }

  test("DSv2 write emits footer stats and blocks the scan can split and skip")(blockTasks {
    val events = Tables.events(spark, dir)
    val out = tmpDir("dsv2writestats")
    // One sorted partition, small blocks: written footer must let the
    // scan split the single file AND prune blocks under a predicate —
    // proof the sink's metadata is the scan's metadata.
    events.select(AvroCodec.requestLogRec.as("rec")).select(col("rec.*"))
      .orderBy(col("endpoint")).coalesce(1)
      .write.format("gavro").option("schema", "request_log")
      .option("blockBytes", "8192").mode("overwrite").save(out)
    assert(new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".gavro")) == 1)
    val all = spark.read.format("gavro").option("schema", "request_log").load(out)
      .select(col("id"), col("endpoint"))
    val total = all.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head.inputRDD.getNumPartitions
    assert(total > 2, s"sink-written file must split, got $total")
    val filtered = spark.read.format("gavro").option("schema", "request_log")
      .load(out).filter(col("endpoint") >= "/api/p").select(col("id"))
    val opened = filtered.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head.inputRDD.getNumPartitions
    assert(opened < total, s"expected block pruning, opened $opened of $total")
    assert(filtered.count() == events.select(AvroCodec.requestLogRec.as("rec"))
      .filter(col("rec.endpoint") >= "/api/p").count())
  })

  test("stats skip decisions are exact on every operator and boundary") {
    import graft.sources.{GavroColStat, GavroPred, GavroSkip}
    val stats = Map(
      "l" -> GavroColStat(0, 10L, 20L),
      "s" -> GavroColStat(2, "bbb", "ddd"))
    def ex(name: String, op: String, v: Any): Boolean =
      GavroSkip.exclude(stats, Seq(GavroPred(name, op, v)))
    // equality: outside [min,max] skips, inside (incl. bounds) does not
    assert(ex("l", "=", 9L) && ex("l", "=", 21L))
    assert(!ex("l", "=", 10L) && !ex("l", "=", 15L) && !ex("l", "=", 20L))
    // > / >= against max
    assert(ex("l", ">", 20L) && !ex("l", ">", 19L))
    assert(ex("l", ">=", 21L) && !ex("l", ">=", 20L))
    // < / <= against min
    assert(ex("l", "<", 10L) && !ex("l", "<", 11L))
    assert(ex("l", "<=", 9L) && !ex("l", "<=", 10L))
    // strings compare lexicographically
    assert(ex("s", "=", "aaa") && ex("s", ">", "ddd") && !ex("s", ">=", "ccc"))
    // unknown columns and null-tests never skip
    assert(!ex("missing", "=", 5L))
    assert(!ex("l", "isnull", null) && !ex("l", "notnull", null))
    // int literals compare against long stats (widened family)
    assert(ex("l", "=", 9) && !ex("l", "=", 15))
  }

  test("block codecs (deflate, snappy): round-trip, split, skip, smaller files")(blockTasks {
    val events = Tables.events(spark, dir)
    val frame = events
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.endpoint").as("endpoint"))
      .orderBy(col("endpoint")).coalesce(1)
    val plain = tmpDir("codec_plain")
    Gavro.write(frame, plain, blockBytes = 8192L, statCols = Seq("endpoint"))
    def sizeOf(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".gavro")).map(_.length()).sum
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    val plainAll = spark.read.format("gavro")
      .option("schema", "request_log").load(plain)
      .select(col("id"), col("endpoint"))
      .collect().map(_.toString).sorted.toSeq

    for (codec <- Seq("deflate", "snappy")) {
      val packed = tmpDir(s"codec_$codec")
      Gavro.write(frame, packed, blockBytes = 8192L, statCols = Seq("endpoint"),
        blockCodec = codec)
      // the codec actually compresses (record bodies are ASCII-heavy)
      assert(sizeOf(packed) < sizeOf(plain),
        s"$codec ${sizeOf(packed)} !< plain ${sizeOf(plain)}")
      val all = spark.read.format("gavro")
        .option("schema", "request_log").load(packed)
        .select(col("id"), col("endpoint"))
      // block split survives compression: offsets index compressed positions
      val totalBlocks = scanOf(all).inputRDD.getNumPartitions
      assert(totalBlocks > 2,
        s"$codec: need a multi-block compressed file, got $totalBlocks")
      // full round-trip equality vs the uncompressed layout
      assert(all.collect().map(_.toString).sorted.toSeq == plainAll, codec)
      // per-block min/max skipping still prunes inside the compressed file
      val filtered = spark.read.format("gavro")
        .option("schema", "request_log").load(packed)
        .filter(col("endpoint") >= "/api/p")
        .select(col("id"), col("endpoint"))
      val opened = scanOf(filtered).inputRDD.getNumPartitions
      assert(opened < totalBlocks,
        s"$codec: expected block pruning, opened $opened of $totalBlocks")
      assert(filtered.count() ==
        events.select(AvroCodec.requestLogRec.as("rec"))
          .filter(col("rec.endpoint") >= "/api/p").count(), codec)
    }
  })

  test("commit manifest gives snapshot isolation: uncommitted files are invisible") {
    val out = tmpDir("manifest")
    val events = Tables.events(spark, dir)
    // A committed write: data files + one commit record.
    Gavro.write(events.repartition(2)
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), out)
    val commits = new java.io.File(out, Gavro.CommitsDir)
    assert(commits.isDirectory &&
      commits.listFiles().count(_.getName.endsWith(".commit")) == 1)
    val total = spark.read.format("gavro")
      .option("schema", "request_log").load(out).count()
    assert(total == events.count())
    // Simulate a torn publish: a data file lands WITHOUT a commit record
    // (the window between task renames and the driver's commit write —
    // or a crashed job). The scan must not see it.
    val committed = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".gavro")).minBy(_.getName)
    val orphan = new java.io.File(out, "part-99999.gavro")
    java.nio.file.Files.copy(committed.toPath, orphan.toPath)
    assert(spark.read.format("gavro")
      .option("schema", "request_log").load(out).count() == total,
      "reader saw an uncommitted (torn) file")
    // Landing a commit record naming it is the atomic visibility point.
    Gavro.writeCommit(out, "c9999999999", Seq(orphan.getName))
    assert(spark.read.format("gavro")
      .option("schema", "request_log").load(out).count() > total)
    // Legacy dirs (no commit log) still read by listing: the same orphan
    // file in a manifest-less copy IS visible.
    val legacy = tmpDir("manifest_legacy")
    new java.io.File(out).listFiles().filter(_.getName.endsWith(".gavro"))
      .foreach(f => java.nio.file.Files.copy(f.toPath,
        new java.io.File(legacy, f.getName).toPath))
    assert(spark.read.format("gavro")
      .option("schema", "request_log").load(legacy).count() > total)
  }

  test("vacuum deletes only uncommitted orphans and temp leftovers") {
    val out = tmpDir("vacuum")
    val events = Tables.events(spark, dir)
    Gavro.write(events.repartition(2)
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), out)
    val live = spark.read.format("gavro")
      .option("schema", "request_log").load(out).count()
    // plant a crashed job's leftovers: an uncommitted data file + a temp
    val committed = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".gavro")).minBy(_.getName)
    java.nio.file.Files.copy(committed.toPath,
      new java.io.File(out, "part-99999.gavro").toPath)
    java.nio.file.Files.copy(committed.toPath,
      new java.io.File(out, ".write-00007-1.gavro.tmp").toPath)
    // Retention grace: the freshly-planted leftovers look exactly like an
    // IN-FLIGHT writer's files, so the default-grace vacuum must NOT
    // touch them (the concurrent-writer protection)...
    assert(Gavro.vacuum(out).isEmpty, "vacuum reaped files inside the grace window")
    assert(new java.io.File(out, "part-99999.gavro").exists())
    // ...and a zero-grace vacuum (or letting them age past the window)
    // reaps exactly the orphans.
    val removed = Gavro.vacuum(out, graceMs = 0L)
    assert(removed.toSet ==
      Set("part-99999.gavro", ".write-00007-1.gavro.tmp"), removed)
    // committed data untouched, results unchanged
    assert(new java.io.File(out, committed.getName).exists())
    assert(spark.read.format("gavro")
      .option("schema", "request_log").load(out).count() == live)
    // second vacuum is a no-op
    assert(Gavro.vacuum(out, graceMs = 0L).isEmpty)
  }

  test("asOfCommit time-travels the scan to an earlier snapshot") {
    val out = tmpDir("timetravel")
    val events = Tables.events(spark, dir)
    val frame = events.select(AvroCodec.requestLogRec.as("rec")).select(col("rec.*"))
      .withColumn("created_at",
        expr("timestamp_micros(unix_millis(created_at) * 1000)"))
    val half = frame.count() / 2
    frame.filter(col("id") < half).write.format("gavro")
      .option("schema", "request_log").mode("overwrite").save(out)
    frame.filter(col("id") >= half).write.format("gavro")
      .option("schema", "request_log").mode("append").save(out)
    val commits = new java.io.File(out, Gavro.CommitsDir).listFiles()
      .map(_.getName.stripSuffix(".commit")).sorted
    assert(commits.length == 2, commits.mkString(","))
    // current snapshot = both batches; asOf first commit = first batch only
    val current = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
    assert(current.count() == frame.count())
    val asOf = spark.read.format("gavro")
      .option("schema", "request_log")
      .option("asOfCommit", commits.head).load(out)
    assert(asOf.count() == half, s"asOf saw ${asOf.count()} of expected $half")
    assert(asOf.agg(max(col("id"))).head.getLong(0) == half - 1)
    // time travel without a commit log is an explicit error, not a guess
    val legacy = tmpDir("timetravel_legacy")
    new java.io.File(out).listFiles().filter(_.getName.endsWith(".gavro"))
      .foreach(f => java.nio.file.Files.copy(f.toPath,
        new java.io.File(legacy, f.getName).toPath))
    val err = intercept[Exception] {
      spark.read.format("gavro").option("schema", "request_log")
        .option("asOfCommit", commits.head).load(legacy).count()
    }
    assert(err.getMessage != null)
  }

  test("DSv2 write with blockCodec=deflate round-trips through the scan") {
    val out = tmpDir("codec_dsv2")
    val events = Tables.events(spark, dir)
    val frame = events.select(AvroCodec.requestLogRec.as("rec")).select(col("rec.*"))
      .withColumn("created_at",
        expr("timestamp_micros(unix_millis(created_at) * 1000)"))
    frame.write.format("gavro")
      .option("schema", "request_log")
      .option("blockBytes", "8192")
      .option("blockCodec", "deflate")
      .mode("overwrite").save(out)
    val scanned = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
    assert(scanned.count() == frame.count())
    val gotC = scanned.select(frame.columns.map(col).toIndexedSeq: _*)
      .collect().map(_.toString).sorted.toSeq
    assert(gotC == frame.collect().map(_.toString).sorted.toSeq)
    // pushed filters still evaluate inside the reader on inflated records
    val n500 = scanned.filter(col("status_code") === 500).count()
    assert(n500 == events.filter(pmod(col("event_id"), lit(7)) === 0).count())
  }

  test("appending to a legacy (log-less) dir adopts pre-existing files") {
    // The upgrade path: a directory with data files but NO commit log
    // gets its first DSv2 append. The first commit record must adopt the
    // pre-existing files — otherwise they silently vanish from queries
    // and a later vacuum deletes them as orphans (data loss).
    val out = tmpDir("adopt")
    val events = Tables.events(spark, dir)
    val frame = events.select(AvroCodec.requestLogRec.as("rec")).select(col("rec.*"))
      .withColumn("created_at",
        expr("timestamp_micros(unix_millis(created_at) * 1000)"))
    val half = frame.count() / 2
    // legacy state: files present, no _graft_commits
    frame.filter(col("id") < half).write.format("gavro")
      .option("schema", "request_log").mode("overwrite").save(out)
    val commitsDir = new java.io.File(out, Gavro.CommitsDir)
    commitsDir.listFiles().foreach(_.delete()); commitsDir.delete()
    assert(!commitsDir.exists())
    // first logged append
    frame.filter(col("id") >= half).write.format("gavro")
      .option("schema", "request_log").mode("append").save(out)
    val read = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
    assert(read.count() == frame.count(),
      s"adoption lost rows: ${read.count()} of ${frame.count()}")
    // vacuum must not reap the adopted files
    assert(Gavro.vacuum(out, graceMs = 0L).isEmpty)
    assert(read.count() == frame.count())
  }

  test("commit-log checkpoint: O(1)+tail reads, compaction, explicit horizon") {
    val out = tmpDir("cklog")
    val events = Tables.events(spark, dir)
    val frame = events.select(AvroCodec.requestLogRec.as("rec")).select(col("rec.*"))
      .withColumn("created_at",
        expr("timestamp_micros(unix_millis(created_at) * 1000)"))
      .limit(240).cache()
    val n = frame.count()
    // 12 appends > CheckpointInterval=10 → auto-checkpoint fires
    frame.filter(col("id") % 12 === 0).write.format("gavro")
      .option("schema", "request_log").mode("overwrite").save(out)
    (1 until 12).foreach(i =>
      frame.filter(col("id") % 12 === i).write.format("gavro")
        .option("schema", "request_log").mode("append").save(out))
    val commitsDir = new java.io.File(out, Gavro.CommitsDir)
    val cps = commitsDir.listFiles().map(_.getName)
      .filter(_.endsWith(".checkpoint")).sorted
    assert(cps.nonEmpty, "auto-checkpoint did not fire after 12 commits")
    val before = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .collect().map(_.toString).sorted.toSeq
    assert(before.length == n)
    // records below the checkpoint still exist → pre-checkpoint time
    // travel works before compaction
    val recs = commitsDir.listFiles().map(_.getName)
      .filter(_.endsWith(".commit")).sorted.map(_.stripSuffix(".commit"))
    val early = recs.head
    val earlyCount = Gavro.listDataFiles(out, Some(early)).length
    val fullCount = Gavro.listDataFiles(out, None).length
    assert(earlyCount >= 1 && earlyCount < fullCount)
    // compact: superseded records deleted, full read unchanged
    val removed = Gavro.compactLog(out)
    assert(removed.nonEmpty)
    val after = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "read-after-compaction mismatch")
    // vacuum still sees the full committed set through the checkpoint
    assert(Gavro.vacuum(out, graceMs = 0L).isEmpty)
    // time travel below the horizon is an explicit error now
    val err = intercept[IllegalArgumentException] {
      Gavro.listDataFiles(out, Some(early))
    }
    assert(err.getMessage.contains("compaction horizon"), err.getMessage)
    // time travel at/after the checkpoint still works
    val cpName = cps.last.stripSuffix(".checkpoint")
    assert(Gavro.listDataFiles(out, Some(cpName)).nonEmpty)
    frame.unpersist()
  }

  test("optimize bin-packs small files losslessly and swaps the snapshot atomically")(blockTasks {
    val out = tmpDir("optimize")
    val events = Tables.events(spark, dir)
    Gavro.write(events.repartition(6)
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.endpoint").as("endpoint"),
        col("rec.status_code").as("status_code")), out,
      statCols = Seq("endpoint", "status_code"))
    def files() = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.endsWith(".gavro")).sorted.toSeq
    assert(files().length == 6)
    val before = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .collect().map(_.toString).sorted.toSeq
    val preMetas = Gavro.listDataFiles(out).map(f =>
      f.getName -> graft.sources.GavroFooter.read(f)).toMap
    val firstCommit = new java.io.File(out, Gavro.CommitsDir).listFiles()
      .map(_.getName).filter(_.endsWith(".commit")).sorted
      .head.stripSuffix(".commit")
    // a pre-optimize checkpoint: optimize must retire it (its named
    // files' bytes will live only inside the merged file)
    val oldCp = Gavro.checkpoint(out).get
    // age the small files PAST the vacuum grace before the swap: the
    // grace window must restart at absorb time, else a routine vacuum
    // right after optimize yanks inputs from an in-flight pre-swap reader
    val stale = System.currentTimeMillis() - 2 * Gavro.VacuumGraceMs
    new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".gavro")).foreach(_.setLastModified(stale))

    val merged = Gavro.optimize(out)
    assert(merged.length == 1, merged)
    // the LIVE set is only the merged file, but the absorbed files stay
    // on disk for in-flight readers (uncommitted now — vacuum's job)...
    assert(Gavro.listDataFiles(out).map(_.getName).toSeq == merged)
    assert(files().length == 7, files()) // 6 absorbed + 1 merged
    // ...a DEFAULT-grace vacuum spares the freshly-absorbed files even
    // though their write time is ancient (optimize re-touched them)...
    assert(Gavro.vacuum(out).isEmpty,
      "default-grace vacuum reaped freshly-absorbed files")
    // ...and a zero-grace vacuum reclaims exactly the absorbed six
    assert(Gavro.vacuum(out, graceMs = 0L).length == 6)
    assert(files() == merged)
    // lossless: identical row set through the raw byte merge
    val after = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "optimize changed the data")
    // the merged footer concatenates the inputs' block indexes (shifted)
    // and folds their stats — splitting and skipping survive the rewrite
    val m = graft.sources.GavroFooter.read(
      new java.io.File(out, merged.head))
    assert(m.blocks.length == preMetas.values.map(_.blocks.length).sum)
    assert(m.dataEnd == preMetas.values.map(_.dataEnd).sum)
    // folded per-file stats: min of mins / max of maxs, per column
    assert(m.stats("endpoint").min ==
      preMetas.values.map(_.stats("endpoint").min.toString).min)
    assert(m.stats("endpoint").max ==
      preMetas.values.map(_.stats("endpoint").max.toString).max)
    assert(m.stats("status_code").min.asInstanceOf[Number].longValue ==
      preMetas.values.map(_.stats("status_code").min.asInstanceOf[Number].longValue).min)
    assert(m.stats("status_code").max.asInstanceOf[Number].longValue ==
      preMetas.values.map(_.stats("status_code").max.asInstanceOf[Number].longValue).max)
    // pre-optimize time travel is now an EXPLICIT horizon error, never a
    // silently-partial snapshot — for a retired RECORD cut...
    val err = intercept[IllegalArgumentException] {
      Gavro.listDataFiles(out, Some(firstCommit))
    }
    assert(err.getMessage.contains("compaction") ||
      err.getMessage.contains("compacted"), err.getMessage)
    // ...AND for a retired pre-optimize CHECKPOINT cut (the silently-
    // partial case: its named files no longer exist standalone)
    intercept[IllegalArgumentException] {
      Gavro.listDataFiles(out, Some(oldCp))
    }
    // same guard through the change-feed exclusion path
    intercept[IllegalArgumentException] {
      Gavro.listDataFiles(out, None, Some(oldCp))
    }
    // appends after optimize compose: the log continues past the swap
    val extra = new java.io.File(out, "extra-00000.gavro")
    java.nio.file.Files.copy(
      new java.io.File(out, merged.head).toPath, extra.toPath)
    Gavro.commitBatch(out, Seq(extra.getName))
    assert(Gavro.listDataFiles(out).map(_.getName).toSeq ==
      (merged :+ extra.getName).sorted)
    // vacuum after the swap reaps nothing committed
    assert(Gavro.vacuum(out, graceMs = 0L).isEmpty)
    // plan-level: the merged file still fans out one task per block (the
    // footer rebuild preserved the split contract) and the scan's
    // description carries no stale snapshot options
    val planned = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .queryExecution.executedPlan.collect {
        case b: BatchScanExec => b }
    assert(planned.nonEmpty)
    val mergedBlocks = graft.sources.GavroFooter.read(
      new java.io.File(out, merged.head)).blocks.length
    val extraBlocks = graft.sources.GavroFooter.read(extra).blocks.length
    assert(planned.head.inputRDD.getNumPartitions == mergedBlocks + extraBlocks)
  })

  test("a crashed optimize retire heals before vacuum destroys anything") {
    val out = tmpDir("heal")
    def land(f: String): String = {
      new java.io.File(out, f).createNewFile()
      Gavro.commitBatch(out, Seq(f))
    }
    land("a.gavro"); land("b.gavro")
    // Simulate the crash window: the swap checkpoint landed (content =
    // the merged file) with its write-ahead .retire sidecar (gone = a,b),
    // but the retire never ran — and a concurrent writer's record landed
    // BELOW the checkpoint after the swap (it had allocated its sequence
    // pre-swap). That record's file is invisible and one vacuum away
    // from loss.
    new java.io.File(out, "merged.gavro").createNewFile()
    new java.io.File(out, "c.gavro").createNewFile()
    val commits = new java.io.File(out, Gavro.CommitsDir)
    val cpName = "0000000002-o"
    java.nio.file.Files.writeString(
      new java.io.File(commits, s"$cpName.retire").toPath, "a.gavro\nb.gavro")
    java.nio.file.Files.writeString(
      new java.io.File(commits, s"$cpName.checkpoint").toPath, "merged.gavro")
    java.nio.file.Files.writeString(
      new java.io.File(commits, "0000000002-b.commit").toPath, "c.gavro")
    // pre-heal: the concurrent commit is invisible — the hazard
    assert(Gavro.listDataFiles(out).map(_.getName).toSeq == Seq("merged.gavro"))
    // vacuum heals FIRST: the concurrent commit's file is folded into the
    // checkpoint (visible again), the absorbed a/b are reaped as orphans,
    // the below-records and sidecar are retired
    val reaped = Gavro.vacuum(out, graceMs = 0L)
    assert(reaped == Seq("a.gavro", "b.gavro"), reaped)
    assert(Gavro.listDataFiles(out).map(_.getName).toSeq ==
      Seq("c.gavro", "merged.gavro"))
    assert(!commits.listFiles().exists(_.getName.endsWith(".retire")))
    assert(commits.listFiles().filter(_.getName.endsWith(".commit"))
      .forall(_.getName.stripSuffix(".commit") > cpName))
  }

  test("heal folds into the LATEST checkpoint when one landed after the crash") {
    val out = tmpDir("heal2")
    def land(f: String): String = {
      new java.io.File(out, f).createNewFile()
      Gavro.commitBatch(out, Seq(f))
    }
    land("a.gavro") // record 0000000000-b
    // crashed swap at seq 1: checkpoint + sidecar landed, retire never
    // ran, and a concurrent record (allocated pre-swap) sits below it
    new java.io.File(out, "merged.gavro").createNewFile()
    new java.io.File(out, "c.gavro").createNewFile()
    val commits = new java.io.File(out, Gavro.CommitsDir)
    java.nio.file.Files.writeString(
      new java.io.File(commits, "0000000001-o.retire").toPath, "a.gavro")
    java.nio.file.Files.writeString(
      new java.io.File(commits, "0000000001-o.checkpoint").toPath, "merged.gavro")
    java.nio.file.Files.writeString(
      new java.io.File(commits, "0000000001-b.commit").toPath, "c.gavro")
    // normal writers continue AFTER the crash and a regular checkpoint
    // lands — its fold must pick up the below-base record but must NOT
    // resurrect the absorbed name (the sidecar's exclusion applies)
    land("d.gavro")
    Gavro.checkpoint(out)
    val latest = Gavro.listDataFiles(out).map(_.getName).toSet
    assert(latest == Set("c.gavro", "d.gavro", "merged.gavro"), latest)
    assert(!latest.contains("a.gavro"), "absorbed name resurrected")
    // heal-then-reap: folding must target the LATEST checkpoint (readers
    // resolve from it — folding into the crashed one would be invisible)
    val reaped = Gavro.vacuum(out, graceMs = 0L)
    assert(reaped == Seq("a.gavro"), reaped)
    assert(Gavro.listDataFiles(out).map(_.getName).toSet ==
      Set("c.gavro", "d.gavro", "merged.gavro"))
    assert(!commits.listFiles().exists(_.getName.endsWith(".retire")))
  }

  test("a writer landing below a fresh checkpoint retracts and retries above it") {
    val out = tmpDir("retract")
    new java.io.File(out, "x.gavro").createNewFile()
    Gavro.commitBatch(out, Seq("x.gavro"))
    // a checkpoint lands at a HIGHER sequence (as an optimize swap would)
    val commits = new java.io.File(out, Gavro.CommitsDir)
    java.nio.file.Files.writeString(
      new java.io.File(commits, "0000000005-o.checkpoint").toPath, "x.gavro")
    // a direct writeCommit below it must refuse (retract + conflict)...
    new java.io.File(out, "y.gavro").createNewFile()
    intercept[java.nio.file.FileAlreadyExistsException] {
      Gavro.writeCommit(out, "0000000003-b", Seq("y.gavro"))
    }
    assert(!new java.io.File(commits, "0000000003-b.commit").exists())
    // ...and the allocate-retry path lands ABOVE the checkpoint, visible
    val landed = Gavro.commitBatch(out, Seq("y.gavro"))
    assert(landed > "0000000005-o", landed)
    assert(Gavro.listDataFiles(out).map(_.getName).toSet ==
      Set("x.gavro", "y.gavro"))
  }

  test("optimize edge cases: empty log dir and single-file dir are no-ops") {
    val out = tmpDir("optimize_empty")
    new java.io.File(out, Gavro.CommitsDir).mkdirs()
    assert(Gavro.optimize(out).isEmpty)
    // a real footer-ed single file: still nothing to bin
    val events = Tables.events(spark, dir)
    Gavro.write(events.limit(5).repartition(1)
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), out)
    assert(Gavro.optimize(out).isEmpty)
    assert(spark.read.format("gavro")
      .option("schema", "request_log").load(out).count() == 5)
  }

  test("sinceCommit plan description shows the cut; streaming rejects it") {
    val (arch, first) = Gavro.twoCommitArchive(spark, dir)
    val scan = spark.read.format("gavro").option("schema", "request_log")
      .option("sinceCommit", first).load(arch)
      .select(col("endpoint"))
      .queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scan.nonEmpty)
    val desc = scan.head.scan.description()
    assert(desc.contains(s"SinceCommit: $first"), desc)
    assert(scan.head.scan.readSchema().fieldNames.toSeq == Seq("endpoint"))
    // gavro is batch-only: a stream read or write is refused when the
    // query starts, before any batch runs (a query that does start is
    // stopped at once, so a regression cannot leave a stream running)
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    def refusedAtStart(
        start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val msgs = causes(intercept[Exception](start.stop()))
        .flatMap(c => Option(c.getMessage))
      assert(msgs.exists(m => m.contains("gavro") &&
        m.toLowerCase.contains("stream")), msgs.mkString(" | "))
    }
    def ckpt() = java.nio.file.Files.createTempDirectory("gavro-ck").toString
    refusedAtStart(spark.readStream.format("gavro")
      .option("schema", "request_log").load(arch)
      .writeStream.format("noop").option("checkpointLocation", ckpt()).start())
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream(
      org.apache.spark.sql.Encoders.row(spark.read.format("gavro")
        .option("schema", "request_log").load(arch).schema),
      spark.sqlContext)
    refusedAtStart(input.toDF().writeStream.format("gavro")
      .option("schema", "request_log").option("checkpointLocation", ckpt())
      .start(tmpDir("stream_sink")))
    // the failed query must not leak into later suites' shared-session
    // awaitAnyTermination calls (Spark retains terminated queries'
    // exceptions until resetTerminated)
    spark.streams.resetTerminated()
  }

  test("optimize leaves footer-less files and already-large files alone") {
    val out = tmpDir("optimize_skip")
    val events = Tables.events(spark, dir)
    Gavro.write(events.repartition(3)
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), out)
    // plant a footer-less (torn) file and commit it: no trusted record
    // boundary, so optimize must not absorb it
    val torn = new java.io.File(out, "torn-00000.gavro")
    java.nio.file.Files.write(torn.toPath, Array[Byte](0, 0, 0, 2, 1))
    Gavro.commitBatch(out, Seq(torn.getName))
    val merged = Gavro.optimize(out)
    assert(merged.length == 1)
    val live = Gavro.listDataFiles(out).map(_.getName).toSeq
    assert(live.contains(torn.getName) && live.length == 2, live)
    // a second optimize finds a single small file + the torn one: no bins
    assert(Gavro.optimize(out).isEmpty)
  }

  test("sinceCommit change feed reads exactly the delta and composes with asOfCommit") {
    val out = tmpDir("changefeed")
    def land(i: Int): String = {
      val f = s"cf-$i.gavro"
      new java.io.File(out, f).createNewFile()
      Gavro.commitBatch(out, Seq(f))
    }
    val c = (0 until 4).map(land) // commits c(0)..c(3), one file each
    def names(asOf: Option[String], since: Option[String]) =
      Gavro.listDataFiles(out, asOf, since).map(_.getName).toSeq
    // full delta since c1: files of c2 + c3
    assert(names(None, Some(c(1))) == Seq("cf-2.gavro", "cf-3.gavro"))
    // bounded window (c0, c2]: files of c1 + c2 — the "catch up from my
    // last run to a pinned snapshot" read
    assert(names(Some(c(2)), Some(c(0))) == Seq("cf-1.gavro", "cf-2.gavro"))
    // empty delta when since == asOf
    assert(names(Some(c(2)), Some(c(2))).isEmpty)
    // a legacy (log-less) dir refuses the option instead of guessing
    val legacy = tmpDir("changefeed_legacy")
    new java.io.File(legacy, "x.gavro").createNewFile()
    intercept[IllegalArgumentException] {
      Gavro.listDataFiles(legacy, None, Some("0000000000-b"))
    }
    // and through the DSv2 read path: the two-batch archive's change feed
    // since the first commit is exactly the second batch
    val events = Tables.events(spark, dir)
    val frame = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(col("rec.*"))
      .withColumn("created_at",
        expr("timestamp_micros(unix_millis(created_at) * 1000)"))
    val arch = tmpDir("changefeed_arch")
    frame.filter(pmod(col("id"), lit(2)) === 0).write.format("gavro")
      .option("schema", "request_log").mode("overwrite").save(arch)
    frame.filter(pmod(col("id"), lit(2)) === 1).write.format("gavro")
      .option("schema", "request_log").mode("append").save(arch)
    val first = new java.io.File(arch, Gavro.CommitsDir).listFiles()
      .map(_.getName).filter(_.endsWith(".commit")).sorted
      .head.stripSuffix(".commit")
    val delta = spark.read.format("gavro").option("schema", "request_log")
      .option("sinceCommit", first).load(arch)
    val oddIds = frame.filter(pmod(col("id"), lit(2)) === 1)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(delta.select(col("id")).collect().map(_.getLong(0)).toSet == oddIds)
  }

  test("commit records are put-if-absent") {
    val out = tmpDir("putifabsent")
    new java.io.File(out, "a.gavro").createNewFile()
    Gavro.writeCommit(out, "0000000000-b", Seq("a.gavro"))
    // b.gavro lands AFTER the first record, so legacy-adoption (which
    // folds pre-log files into the first entry) doesn't apply to it.
    new java.io.File(out, "b.gavro").createNewFile()
    // A second writer landing the SAME sequence must NOT silently replace
    // the record (the old delete+rename made b.gavro the only visible file
    // and a.gavro vacuum bait).
    intercept[java.nio.file.FileAlreadyExistsException] {
      Gavro.writeCommit(out, "0000000000-b", Seq("b.gavro"))
    }
    assert(Gavro.listDataFiles(out).map(_.getName).toSeq == Seq("a.gavro"))
  }

  test("two interleaved committers: every commit visible, total asOf order") {
    val out = tmpDir("concurrent")
    val perWriter = 20
    // Each thread lands its own pre-placed data files through the
    // allocate-retry commit path; the sequences they race for overlap on
    // every commit.
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq("x", "y").map { tag =>
      new Thread(() => {
        try (0 until perWriter).foreach { i =>
          val f = s"$tag-$i.gavro"
          new java.io.File(out, f).createNewFile()
          Gavro.commitBatch(out, Seq(f))
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, failures.toString)
    // BOTH writers' files are all visible — no commit record was silently
    // replaced (the bug class: last-writer-wins would hide ~half of one
    // writer's commits and a later vacuum would reap their files).
    val visible = Gavro.listDataFiles(out).map(_.getName).toSet
    val expected = (for (t <- Seq("x", "y"); i <- 0 until perWriter)
      yield s"$t-$i.gavro").toSet
    assert(visible == expected,
      s"missing: ${(expected -- visible).toSeq.sorted.mkString(",")}")
    assert(Gavro.vacuum(out, graceMs = 0L).isEmpty, "vacuum saw committed files as orphans")
    // Total order: all 40 commit records landed under DISTINCT sequence
    // names (a checkpoint legitimately shares its record's name, so
    // uniqueness is per suffix), gap-free 0..39.
    val commitsDir = new java.io.File(out, Gavro.CommitsDir)
    val recNames = commitsDir.listFiles().map(_.getName)
      .filter(_.endsWith(".commit")).map(_.stripSuffix(".commit")).sorted
    assert(recNames.length == 2 * perWriter &&
      recNames.distinct.length == recNames.length, recNames.mkString(","))
    assert(recNames.map(_.takeWhile(_.isDigit).toInt).toSeq ==
      (0 until 2 * perWriter).toSeq)
    // asOf each surviving record is a monotone prefix of the final set.
    val recs = commitsDir.listFiles().map(_.getName)
      .filter(_.endsWith(".commit")).sorted.map(_.stripSuffix(".commit"))
    val sizes = recs.map(r => Gavro.listDataFiles(out, Some(r)).length)
    assert(sizes.sameElements(sizes.sorted), sizes.mkString(","))
  }

  test("time travel BETWEEN checkpoints errors once compaction removed the records") {
    val out = tmpDir("betweencp")
    def land(i: Int): String = {
      val f = s"f-$i.gavro"
      new java.io.File(out, f).createNewFile()
      Gavro.commitBatch(out, Seq(f))
    }
    val first = (0 until 5).map(land)
    Gavro.checkpoint(out) // cp1 named after commit 4
    val second = (5 until 9).map(land)
    Gavro.checkpoint(out) // cp2 named after commit 8
    val mid = second(1) // a commit strictly between cp1 and cp2
    // Pre-compaction: the record survives, the cut is covered, snapshot
    // is exact.
    assert(Gavro.listDataFiles(out, Some(mid)).length == 7)
    Gavro.compactLog(out) // deletes every record <= cp2
    // Post-compaction the records in (cp1, mid] are gone: the old code
    // silently returned cp1's 5-file snapshot; the contract is an
    // explicit error.
    val err = intercept[IllegalArgumentException] {
      Gavro.listDataFiles(out, Some(mid))
    }
    assert(err.getMessage.contains("compacted"), err.getMessage)
    // Travel to a checkpoint name itself still works on both.
    assert(Gavro.listDataFiles(out, Some(first.last)).length == 5)
    assert(Gavro.listDataFiles(out, Some(second.last)).length == 9)
    // And below the FIRST checkpoint stays the original horizon error.
    intercept[IllegalArgumentException] {
      Gavro.listDataFiles(out, Some(first.head))
    }
  }

  // ---- SupportsReportPartitioning: storage-partitioned execution ----

  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    var n = 0
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
          n += 1
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case _ => ()
      }
      p.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    n
  }

  private def writeCells(out: String, perFileSingleCell: Boolean): Unit = {
    val rows = spark.range(4000).select(
      col("id").as("vec_id"), (col("id") % 4).cast("int").as("cell"),
      // decorrelated from cell (id%8 would pin sub_idx%4 == cell)
      ((col("id") / 4) % 8).cast("int").as("sub_idx"),
      (col("id") % 256).cast("int").as("code"))
    val bins = rows.select(expr(
        "to_avro_graft(struct(vec_id, cell, sub_idx, code), 'ivf_codes')")
        .as("bin"), col("cell"))
    val laidOut =
      if (perFileSingleCell) Gavro.exactPartition(bins, "cell", 4)
      else bins.repartition(4) // every file spans all cells: min != max
    Gavro.write(laidOut, out, statCols = Seq("cell"))
  }

  private def readCodes(out: String, keyed: Boolean) = {
    val r = spark.read.format("gavro").option("schema", "ivf_codes")
    (if (keyed) r.option("partitionKey", "cell") else r).load(out)
  }

  test("exactPartition routes every row to floorMod(key, k) and loses nothing") {
    import graft.sources.Gavro
    val rows = spark.range(1000).select(col("id"),
      (col("id") % 7).cast("int").as("k"), md5(col("id").cast("string")).as("v"))
    val routed = Gavro.exactPartition(rows, "k", 7)
    assert(routed.rdd.getNumPartitions == 7)
    // partition i holds exactly the rows with k == i (dense keys)
    val perPart = routed.rdd.mapPartitionsWithIndex { (pid, it) =>
      it.map(r => (pid, r.getInt(1)))
    }.collect()
    assert(perPart.forall { case (pid, k) => k == pid })
    // nothing lost, content byte-identical
    assert(routed.collect().map(_.toString).sorted.toSeq ==
      rows.collect().map(_.toString).sorted.toSeq)
    // sparse keys: values sharing a residue co-locate, none lost
    val sparse = spark.range(100).select(col("id"),
      (col("id") % 20).cast("int").as("k"), lit("x").as("v"))
    assert(Gavro.exactPartition(sparse, "k", 8).count() == 100)
  }

  test("partitionKey: clustered aggregation plans with zero Exchange") {
    val out = tmpDir("keyed")
    writeCells(out, perFileSingleCell = true)
    def agg(keyed: Boolean) = readCodes(out, keyed)
      .groupBy(col("cell"), col("sub_idx"))
      .agg(count(lit(1)).as("n"), sum(col("code").cast("long")).as("s"))
    val keyedRes = agg(keyed = true)
    val plainRes = agg(keyed = false)
    assert(shuffleCount(keyedRes) == 0,
      "key-grouped scan must satisfy the clustered distribution in place")
    // identical answer either way (the unkeyed read keeps its pushed-agg
    // partials + final-merge exchange)
    assert(keyedRes.collect().map(_.toString).sorted.toSeq ==
      plainRes.collect().map(_.toString).sorted.toSeq)
    assert(keyedRes.count() == 4 * 8)
  }

  test("partitionKey: storage-partitioned join plans with zero Exchange") {
    val out = tmpDir("keyed_spj")
    writeCells(out, perFileSingleCell = true)
    val keep = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the join must prove co-location, not hide
      // behind a BroadcastExchange
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val a = readCodes(out, keyed = true)
        .groupBy(col("cell")).agg(count(lit(1)).as("na"))
      val b = readCodes(out, keyed = true)
        .groupBy(col("cell")).agg(sum(col("code").cast("long")).as("sb"))
      val joined = a.join(b, "cell")
      assert(shuffleCount(joined) == 0,
        "both sides are key-grouped on cell — the join must co-locate")
      val plain = {
        val pa = readCodes(out, keyed = false)
          .groupBy(col("cell")).agg(count(lit(1)).as("na"))
        val pb = readCodes(out, keyed = false)
          .groupBy(col("cell")).agg(sum(col("code").cast("long")).as("sb"))
        pa.join(pb, "cell")
      }
      assert(joined.collect().map(_.toString).sorted.toSeq ==
        plain.collect().map(_.toString).sorted.toSeq)
      assert(joined.count() == 4)
    } finally keep match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("partitionKey falls back to unknown partitioning when a live file is multi-valued") {
    val out = tmpDir("keyed_fb")
    writeCells(out, perFileSingleCell = false)
    val res = readCodes(out, keyed = true)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    // correctness first: the grouping must NOT be trusted — an exchange
    // stays in the plan and the answer is exact
    assert(shuffleCount(res) >= 1)
    assert(res.collect().map(r => (r.getInt(0), r.getLong(1))).toMap ==
      (0 until 4).map(c => c -> 1000L).toMap)
  }

  test("partitionKey composes with stats skipping: pruned files need no key proof") {
    val out = tmpDir("keyed_skip")
    writeCells(out, perFileSingleCell = true)
    // pushed cell filter prunes 3 of 4 files; the survivor is single-cell
    val res = readCodes(out, keyed = true).filter(col("cell") === 2)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    assert(shuffleCount(res) == 0)
    assert(res.collect().toSeq.map(r => (r.getInt(0), r.getLong(1))) ==
      Seq((2, 1000L)))
  }

  test("rewriteTable: semantic rewrite swaps atomically; concurrent commits survive; horizon enforced") {
    import graft.sources.Gavro
    val out = tmpDir("rewrite")
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n).select(
      col("id").as("vec_id"), (col("id") % 4).cast("int").as("cell"),
      lit(0).cast("int").as("sub_idx"), (col("id") % 256).cast("int").as("code"))
    def append(lo: Long, n: Long): Unit =
      rows(lo, n).write.format("gavro").option("schema", "ivf_codes")
        .mode("append").save(out)
    append(0, 1000)
    append(1000, 1000)
    val firstCommit = new java.io.File(out, Gavro.CommitsDir).listFiles()
      .map(_.getName).filter(_.endsWith(".commit")).sorted.head
      .stripSuffix(".commit")
    val staged = Gavro.rewriteTable(out, { pin =>
      // a WRITER races the rewrite: this commit lands after the pin and
      // before the swap — it must survive, counted exactly once
      append(2000, 50)
      val pinned = spark.read.format("gavro").option("schema", "ivf_codes")
        .option("asOfCommit", pin).load(out)
      Gavro.exactPartition(pinned.select(expr(
          "to_avro_graft(struct(vec_id, cell, sub_idx, code), 'ivf_codes')")
          .as("bin"), col("cell")), "cell", 4)
    }, statCols = Seq("cell"))
    assert(staged.nonEmpty)
    val all = spark.read.format("gavro").option("schema", "ivf_codes").load(out)
    assert(all.count() == 2050)
    assert(all.select(countDistinct(col("vec_id"))).first().getLong(0) == 2050)
    // the whole log collapsed to the swap checkpoint (the racing commit
    // was folded, not lost)
    assert(Gavro.commitRecordsSinceCheckpoint(out) == 0)
    // the rewritten files' footers prove the exact partitioning (the
    // RACING append's files are legitimately multi-cell, so whole-table
    // KGP correctly falls back until the next rewrite re-routes them)
    staged.foreach { name =>
      val s = graft.sources.GavroFooter
        .read(new java.io.File(out, name)).stats("cell")
      assert(s.min == s.max, s"$name spans cells")
    }
    // time travel below the swap is the explicit horizon error
    intercept[IllegalArgumentException] {
      spark.read.format("gavro").option("schema", "ivf_codes")
        .option("asOfCommit", firstCommit).load(out).count()
    }
    // replaced files are retired via vacuum grace, not deleted: they are
    // still on disk (uncommitted) until a grace-aged vacuum reaps them
    val onDisk = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".gavro"))
    assert(onDisk > Gavro.listDataFiles(out).length)
  }

  test("exactPartitionSalted: k·m writers, every partition single-valued on the key, nothing lost") {
    import graft.sources.Gavro
    val rows = spark.range(1200).select(col("id").as("vec_id"),
      (col("id") % 4).cast("int").as("cell"),
      md5(col("id").cast("string")).as("v"))
    val routed = Gavro.exactPartitionSalted(rows, "cell", 4, "vec_id", 3)
    assert(routed.rdd.getNumPartitions == 12)
    val perPart = routed.rdd.mapPartitionsWithIndex { (pid, it) =>
      it.map(r => (pid, r.getInt(1), r.getLong(0)))
    }.collect()
    // partition = cell * m + floorMod(vec_id, m): single-valued on cell
    assert(perPart.forall { case (pid, cell, vid) =>
      pid == cell * 3 + java.lang.Math.floorMod(vid, 3L).toInt })
    assert(routed.collect().map(_.toString).sorted.toSeq ==
      rows.collect().map(_.toString).sorted.toSeq)
  }

  test("salted layout still reports KGP: clustered agg over multi-file keys plans zero Exchange") {
    import graft.sources.Gavro
    val out = tmpDir("keyed_salted")
    val rows = spark.range(4000).select(
      col("id").as("vec_id"), (col("id") % 4).cast("int").as("cell"),
      ((col("id") / 4) % 8).cast("int").as("sub_idx"),
      (col("id") % 256).cast("int").as("code"))
    val bins = rows.select(expr(
        "to_avro_graft(struct(vec_id, cell, sub_idx, code), 'ivf_codes')")
        .as("bin"), col("cell"), col("vec_id"))
    Gavro.write(Gavro.exactPartitionSalted(bins, "cell", 4, "vec_id", 3),
      out, statCols = Seq("cell"))
    // the salt fans the 4 cells over 12 files…
    assert(new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".gavro")) == 12)
    // …and Spark's partition grouping folds them back per key: the keyed
    // read still satisfies the clustered distribution with no exchange
    val keyedRes = readCodes(out, keyed = true)
      .groupBy(col("cell"), col("sub_idx"))
      .agg(count(lit(1)).as("n"), sum(col("code").cast("long")).as("s"))
    assert(shuffleCount(keyedRes) == 0,
      "salted multi-file-per-key layout must still prove the grouping")
    val plainRes = readCodes(out, keyed = false)
      .groupBy(col("cell"), col("sub_idx"))
      .agg(count(lit(1)).as("n"), sum(col("code").cast("long")).as("s"))
    assert(keyedRes.collect().map(_.toString).sorted.toSeq ==
      plainRes.collect().map(_.toString).sorted.toSeq)
    // pushed key filter prunes the other cells' salt files wholesale
    val (got, opened) = Gavro.trackFileOpens {
      readCodes(out, keyed = false).filter(col("cell") === 2).count()
    }
    assert(got == 1000L)
    assert(opened.size == 3, s"cell filter should open 3 files: $opened")
  }

  test("OR trees push: no FilterExec, both-branch block skip, rows exact")(blockTasks {
    val events = Tables.events(spark, dir)
    val out = tmpDir("ortree")
    // One id-sorted file with small blocks: a two-band disjunction must
    // skip the blocks that BOTH branches exclude (the middle of the id
    // range) — the r15 string/IN pushdown cliff, closed for OR.
    Gavro.write(events
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.id").as("id"))
      .orderBy(col("id")).coalesce(1), out,
      blockBytes = 8192L, statCols = Seq("id"))
    def scanOf(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b }.head
    def noFilterExec(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty
    val all = spark.read.format("gavro")
      .option("schema", "request_log").load(out).select(col("id"))
    val totalBlocks = scanOf(all).inputRDD.getNumPartitions
    assert(totalBlocks > 4, s"need a multi-block file, got $totalBlocks")
    val ids = events.select(col("event_id")).orderBy(col("event_id"))
      .collect().map(_.getLong(0))
    val lo = ids(ids.length / 10)        // low band: first ~tenth
    val hi = ids(ids.length * 9 / 10)    // high band: last ~tenth
    val band = col("id") < lo || col("id") >= hi
    val filtered = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .filter(band).select(col("id"))
    assert(noFilterExec(filtered), "OR must vanish from the plan")
    val opened = scanOf(filtered).inputRDD.getNumPartitions
    assert(opened < totalBlocks,
      s"expected both-branch block pruning, opened $opened of $totalBlocks")
    assert(filtered.collect().map(_.getLong(0)).sorted.toSeq ==
      ids.filter(v => v < lo || v >= hi).sorted.toSeq)
    // A disjunction that covers the whole range must not skip anything.
    val mid = ids(ids.length / 2)
    val covering = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .filter(col("id") < mid || col("id") >= mid).select(col("id"))
    assert(noFilterExec(covering))
    assert(covering.count() == ids.length.toLong)
  })

  test("slot-scoped key disjunction skips blocks a flat IN cannot") {
    // The LSH probe's r16 pushdown shape on its exact layout: files
    // single-valued on a hash slot, rows key-sorted within, block stats
    // on both. A flat `key IN (all keys)` admits ~every block (each
    // slot file spans the whole keyspace); `(slot = s AND key IN
    // keys_of_s) OR …` kills foreign branches on the slot equality and
    // tests only ~keys/slots per file.
    val events = Tables.events(spark, dir)
    val out = tmpDir("slotkeys")
    val base = events.select(
      md5(col("event_id").cast("string")).as("band_key"))
      .withColumn("slot", pmod(xxhash64(col("band_key")), lit(4)).cast("int"))
    Gavro.write(graft.sources.Gavro.exactPartition(
        base.select(col("band_key"), col("slot"), lit(0L).as("doc_id"),
          lit(0).as("band_idx")), "slot", 4)
        .sortWithinPartitions(col("band_key"))
        .select(expr(
          "to_avro_graft(struct(doc_id, band_idx, band_key, slot), 'lsh_bands')")
          .as("bin"), col("slot"), col("band_key")), out,
      blockBytes = 1024L, statCols = Seq("slot", "band_key"))
    // Stride-sample the keys UNIFORMLY across the keyspace (the probe's
    // real shape — touched buckets are hash-scattered): clustered keys
    // would let even the flat IN skip on block ranges.
    val allKeys = base.select(col("band_key"), col("slot")).distinct()
      .orderBy(col("band_key")).collect()
      .map(r => (r.getString(0), r.getInt(1)))
    val keys = (0 until 12).map(i => allKeys(i * allKeys.length / 12))
    val bySlot = keys.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (s, ks) => s -> ks.map(_._1).toSeq }
    def readWith(pred: org.apache.spark.sql.Column) = {
      val d = spark.read.format("gavro").option("schema", "lsh_bands")
        .load(out).filter(pred).select(col("band_key"))
      assert(d.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty,
        s"must fully push: $pred")
      val (rows, reads) = graft.sources.Gavro.trackBlockReads {
        d.collect().map(_.getString(0)).sorted.toSeq
      }
      (rows, reads.values.sum)
    }
    val flat = col("band_key").isin(keys.map(_._1): _*)
    val scoped = bySlot.map { case (s, ks) =>
      col("slot") === s && col("band_key").isin(ks: _*)
    }.reduce(_ || _)
    val (flatRows, flatBlocks) = readWith(flat)
    val (scopedRows, scopedBlocks) = readWith(scoped)
    assert(flatRows == scopedRows && scopedRows.nonEmpty,
      "scoping must not change the answer")
    val total = graft.sources.Gavro.totalBlocks(out)
    assert(scopedBlocks < flatBlocks,
      s"slot scoping must skip more: scoped $scopedBlocks, flat " +
        s"$flatBlocks, total $total")
    assert(scopedBlocks * 2 < total,
      s"scoped probe must read a minority of blocks: $scopedBlocks of $total")
  }

  test("multi-prefix OR (startsWith branches) block-skips via per-branch range proofs")(blockTasks {
    // The URL-shape disjunction: each branch carries its own
    // [p, upper(p)) prefix-range proof; the Or excludes a block iff
    // EVERY branch's range misses it. Also pins a branch over a column
    // with NO stats: that branch can never be proven impossible, so the
    // Or must admit everything (soundness under missing stats).
    val events = Tables.events(spark, dir)
    val out = tmpDir("orprefix")
    Gavro.write(events
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.endpoint").as("endpoint"))
      .orderBy(col("endpoint")).coalesce(1), out,
      blockBytes = 8192L, statCols = Seq("endpoint"))
    def scanOf(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b }.head
    val all = spark.read.format("gavro")
      .option("schema", "request_log").load(out).select(col("endpoint"))
    val totalBlocks = scanOf(all).inputRDD.getNumPartitions
    assert(totalBlocks > 3, s"need a multi-block file, got $totalBlocks")
    val pred = col("endpoint").startsWith("/api/a") ||
      col("endpoint").startsWith("/api/z")
    val filtered = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .filter(pred).select(col("endpoint"))
    assert(filtered.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty)
    val opened = scanOf(filtered).inputRDD.getNumPartitions
    assert(opened < totalBlocks,
      s"expected per-branch prefix pruning, opened $opened of $totalBlocks")
    val want = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(col("rec.endpoint").as("endpoint"))
      .filter(pred).collect().map(_.getString(0)).sorted.toSeq
    assert(filtered.collect().map(_.getString(0)).sorted.toSeq == want)
    // A branch on a stats-less column (latency_ms not in statCols)
    // disables skipping for the whole Or — but results stay exact.
    val mixed = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .filter(col("endpoint").startsWith("/api/z") ||
        col("latency_ms") === 499)
      .select(col("endpoint"))
    assert(scanOf(mixed).inputRDD.getNumPartitions == totalBlocks,
      "a stats-less branch must disable skipping, not mis-skip")
    val wantMixed = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(col("rec.endpoint").as("endpoint"),
        col("rec.latency_ms").as("latency_ms"))
      .filter(col("endpoint").startsWith("/api/z") ||
        col("latency_ms") === 499)
      .count()
    assert(mixed.count() == wantMixed && wantMixed > 0)
  })

  test("OR filters compose with aggregate pushdown") {
    val events = Tables.events(spark, dir)
    val out = tmpDir("oragg")
    Gavro.write(events
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.endpoint").as("endpoint"),
        col("rec.status_code").as("status_code")), out,
      statCols = Seq("endpoint", "status_code"))
    // Spark pushes an aggregate only when EVERY filter was fully pushed —
    // before tree pushdown any OR in the WHERE silently blocked this.
    val agg = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .filter(col("status_code") === 500 || col("endpoint") < "/api/c")
      .groupBy(col("endpoint"))
      .agg(count(lit(1)).as("n"), sum(col("latency_ms")).as("sum_latency"))
    val desc = (agg.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case b: BatchScanExec => b }.head.scan.description()
    assert(desc.contains("PushedAggregates"), desc)
    val want = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(col("rec.*"))
      .filter(col("status_code") === 500 || col("endpoint") < "/api/c")
      .groupBy(col("endpoint"))
      .agg(count(lit(1)).as("n"), sum(col("latency_ms")).as("sum_latency"))
    assert(agg.collect().map(_.toString).sorted.toSeq ==
      want.collect().map(_.toString).sorted.toSeq)
  }

  test("NOT, <=>, and OR-over-null follow SQL three-valued semantics") {
    val events = Tables.events(spark, dir)
    val out = tmpDir("threeval")
    Gavro.write(events
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), out)
    val g = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
    // The reference frame: Spark's OWN FilterExec over the same rows —
    // equality proves the reader's three-valued eval is exactly the
    // semantics it displaced. user_id is the planted-null column
    // (user_id % 11 = 0 → NULL).
    val ref = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(col("rec.*"))
    val someUser = ref.filter(col("user_id").isNotNull)
      .select(col("user_id")).head.getLong(0)
    def check(f: org.apache.spark.sql.Column, pushed: Boolean = true): Unit = {
      val got = g.filter(f)
      if (pushed) assert(got.queryExecution.executedPlan.collect {
        case fe: org.apache.spark.sql.execution.FilterExec => fe }.isEmpty,
        s"expected full pushdown for $f")
      val gr = got.agg(count(lit(1)), sum(col("id"))).head
      val wr = ref.filter(f).agg(count(lit(1)), sum(col("id"))).head
      assert(gr.getLong(0) == wr.getLong(0) && gr.get(1) == wr.get(1),
        s"mismatch for $f: got $gr want $wr")
      assert(gr.getLong(0) > 0, s"vacuous check for $f")
    }
    // NOT(=) must DROP null user_ids (UNKNOWN, not TRUE)
    check(!(col("user_id") === someUser))
    // <=> equals = on non-null…
    check(col("user_id") <=> someUser)
    // …but NOT(<=>) KEEPS null rows (FALSE negates to TRUE — the case a
    // boolean-collapsed eval gets wrong)
    check(!(col("user_id") <=> someUser))
    // UNKNOWN OR TRUE = TRUE: null-user rows with status 500 must survive
    check(col("user_id") === someUser || col("status_code") === 500)
    // And-under-Or, mixed types
    check((col("user_id") > someUser && col("latency_ms") < 100) ||
      col("endpoint") >= "/api/p")
    // NOT over IN with nulls underneath
    check(!col("status_code").isin(500) || col("user_id").isNull)
  }

  test("a past-cap OR chain stays a FilterExec and still answers correctly") {
    val events = Tables.events(spark, dir)
    val out = tmpDir("orcap")
    Gavro.write(events
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), out)
    val g = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
    val ids = events.select(col("event_id")).orderBy(col("event_id"))
      .limit(70).collect().map(_.getLong(0))
    // 140 leaves across two columns (alternating so no In-rewrite
    // applies) > TreeLeafMax = 128: the filter must stay with Spark,
    // results exact.
    val chain = ids.map(v =>
      col("id") === v || col("latency_ms") === (v % 500).toInt)
      .reduce(_ || _)
    assert(graft.sources.GavroPred.leafCount(
      org.apache.spark.sql.sources.Or(
        org.apache.spark.sql.sources.EqualTo("a", 1),
        org.apache.spark.sql.sources.EqualTo("b", 2))) == 2)
    val got = g.filter(chain)
    assert(got.queryExecution.executedPlan.collect {
      case fe: org.apache.spark.sql.execution.FilterExec => fe }.nonEmpty,
      "a 140-leaf OR must NOT serialize into the scan")
    val want = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(col("rec.*")).filter(chain)
    assert(got.count() == want.count() && got.count() > 0)
  }

  test("block counters: trackBlockReads and driver metrics agree with the plan") {
    val events = Tables.events(spark, dir)
    val out = tmpDir("blockmetrics")
    Gavro.write(events
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.id").as("id"))
      .orderBy(col("id")).coalesce(1), out,
      blockBytes = 8192L, statCols = Seq("id"))
    val ids = events.select(col("event_id")).orderBy(col("event_id"))
      .collect().map(_.getLong(0))
    val filtered = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .filter(col("id") < ids(ids.length / 4)).select(col("id"))
    val scan = filtered.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head
    val gs = scan.scan.asInstanceOf[graft.sources.GavroScan]
    val plannedBlocks = gs.plannedBlocks
    val total = graft.sources.Gavro.totalBlocks(out)
    assert(total > plannedBlocks,
      s"pruned scan must read fewer blocks than the table holds " +
        s"($plannedBlocks of $total)")
    // Packing may merge contiguous admitted blocks into one task, but the
    // planned BLOCK count is partition-shape-independent…
    assert(scan.inputRDD.getNumPartitions <= plannedBlocks)
    // …the reader-side tap counts every block of every packed task…
    val (_, reads) = graft.sources.Gavro.trackBlockReads {
      filtered.count()
    }
    assert(reads.values.sum == plannedBlocks,
      s"tap ${reads.values.sum} != planned $plannedBlocks")
    // …and the scan's DRIVER metrics report the same pair for the UI.
    val dm = gs.reportDriverMetrics().map(m => m.name() -> m.value()).toMap
    assert(dm("gavroBlocksRead") == plannedBlocks, dm.toString)
    assert(dm("gavroBlocksTotal") == total, dm.toString)
  }

  test("packing merges contiguous admitted blocks; results, skip and codecs unchanged") {
    val events = Tables.events(spark, dir)
    for (codec <- Seq("none", "deflate")) {
      val out = tmpDir(s"pack_$codec")
      Gavro.write(events
        .select(AvroCodec.requestLogRec.as("rec"))
        .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
          col("rec.id").as("id"))
        .orderBy(col("id")).coalesce(1), out,
        blockBytes = 2048L, statCols = Seq("id"), blockCodec = codec)
      val total = Gavro.totalBlocks(out)
      assert(total > 4, s"need a multi-block file, got $total")
      // Unfiltered scan: every block planned, but packed into far fewer
      // tasks (default parallelism, not one task per 2 KiB block).
      val all = spark.read.format("gavro")
        .option("schema", "request_log").load(out).select(col("id"))
      val allScan = all.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b }.head
      assert(allScan.scan.asInstanceOf[graft.sources.GavroScan]
        .plannedBlocks == total)
      assert(allScan.inputRDD.getNumPartitions < total,
        s"$codec: expected packed tasks, got one per block")
      // Row set identical through the packed (and per-block-inflated) read.
      assert(all.count() == events.count())
      assert(all.agg(sum(col("id"))).head.getLong(0) ==
        events.agg(sum(col("event_id"))).head.getLong(0))
      // Block pruning composes with packing: a skipped block never joins
      // a packed task, so the pruned plan reads a strict block minority.
      val ids = events.agg(max(col("event_id"))).head.getLong(0)
      val pruned = spark.read.format("gavro")
        .option("schema", "request_log").load(out)
        .filter(col("id") <= ids / 4).select(col("id"))
      val (got, reads) = Gavro.trackBlockReads(pruned.count())
      assert(got == events.filter(col("event_id") <= ids / 4).count())
      assert(reads.values.sum < total / 2,
        s"$codec: pruned read ${reads.values.sum} of $total blocks")
    }
  }

  test("random predicate trees agree with Spark's own FilterExec end-to-end") {
    // The strongest oracle for the reader's three-valued eval + tree
    // skip proof TOGETHER: random trees over four columns (one with
    // planted nulls), each applied to the gavro scan (pushed) AND to
    // the identical in-memory frame (Spark's FilterExec semantics).
    // Any unsound skip or eval divergence breaks count/sum equality.
    val events = Tables.events(spark, dir)
    val out = tmpDir("treefuzz")
    Gavro.write(events
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.id").as("id"), col("rec.endpoint").as("endpoint"))
      .orderBy(col("id")).coalesce(1), out,
      blockBytes = 8192L, statCols = Seq("id", "endpoint"))
    val g = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
    val ref = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(col("rec.*"))
    val maxId = events.agg(max(col("event_id"))).head.getLong(0)
    val rnd = new scala.util.Random(16L)
    def leaf(): org.apache.spark.sql.Column = rnd.nextInt(8) match {
      case 0 => col("id") < rnd.nextLong(maxId + 1)
      case 1 => col("id") >= rnd.nextLong(maxId + 1)
      case 2 => col("user_id") === rnd.nextLong(200)
      case 3 => col("user_id") <=> rnd.nextLong(200)
      case 4 => col("user_id").isNull
      case 5 => col("status_code") === (if (rnd.nextBoolean()) 200 else 500)
      case 6 => col("endpoint") >= s"/api/${('a' + rnd.nextInt(26)).toChar}"
      case _ => col("latency_ms").isin(
        Seq.fill(1 + rnd.nextInt(5))(rnd.nextInt(500)).map(Int.box): _*)
    }
    def tree(depth: Int): org.apache.spark.sql.Column =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else rnd.nextInt(4) match {
        case 0 => tree(depth - 1) || tree(depth - 1)
        case 1 => tree(depth - 1) && tree(depth - 1)
        case 2 => !tree(depth - 1)
        case _ => tree(depth - 1) || (tree(depth - 1) && tree(depth - 1))
      }
    var nonEmpty = 0
    (1 to 20).foreach { i =>
      val f = tree(3)
      val got = g.filter(f)
        .agg(count(lit(1)), sum(col("id")), count(col("user_id"))).head
      val want = ref.filter(f)
        .agg(count(lit(1)), sum(col("id")), count(col("user_id"))).head
      assert(got.getLong(0) == want.getLong(0) &&
        got.get(1) == want.get(1) && got.getLong(2) == want.getLong(2),
        s"tree #$i diverged: got $got want $want for $f")
      if (got.getLong(0) > 0) nonEmpty += 1
    }
    assert(nonEmpty > 5, s"fuzz too vacuous: only $nonEmpty non-empty results")
  }

  test("tree skip proof is sound: exclusion implies no in-range value satisfies") {
    import graft.sources.{GavroColStat, GavroPred, GavroSkip, GavroSortedVals}
    val rnd = new scala.util.Random(20260816L)
    // Reference three-valued evaluator over Option[Long]: 1/0/-1,
    // written straight off the SQL truth tables.
    def evalLeafRef(p: GavroPred, v: Option[Long]): Int = p.op match {
      case "isnull" => if (v.isEmpty) 1 else 0
      case "notnull" => if (v.isDefined) 1 else 0
      case "<=>" => if (v.contains(p.value.asInstanceOf[Long])) 1 else 0
      case op => v match {
        case None => -1
        case Some(x) => p.value match {
          case GavroSortedVals(vs) => if (vs.contains(x)) 1 else 0
          case vs: Seq[_] => if (vs.contains(x)) 1 else 0
          case w: Long => op match {
            case "=" => if (x == w) 1 else 0
            case ">" => if (x > w) 1 else 0
            case ">=" => if (x >= w) 1 else 0
            case "<" => if (x < w) 1 else 0
            case "<=" => if (x <= w) 1 else 0
          }
        }
      }
    }
    def evalRef3(p: GavroPred, v: Option[Long]): Int = p.op match {
      case "not" => evalRef3(p.value.asInstanceOf[GavroPred], v) match {
        case 1 => 0
        case 0 => 1
        case _ => -1
      }
      case "or" =>
        val ks = p.value.asInstanceOf[Vector[GavroPred]].map(evalRef3(_, v))
        if (ks.contains(1)) 1 else if (ks.contains(-1)) -1 else 0
      case "and" =>
        val ks = p.value.asInstanceOf[Vector[GavroPred]].map(evalRef3(_, v))
        if (ks.contains(0)) 0 else if (ks.contains(-1)) -1 else 1
      case _ => evalLeafRef(p, v)
    }
    def randLeaf(): GavroPred = rnd.nextInt(9) match {
      case 0 => GavroPred("k", "=", rnd.nextInt(120).toLong)
      case 1 => GavroPred("k", ">", rnd.nextInt(120).toLong)
      case 2 => GavroPred("k", ">=", rnd.nextInt(120).toLong)
      case 3 => GavroPred("k", "<", rnd.nextInt(120).toLong)
      case 4 => GavroPred("k", "<=", rnd.nextInt(120).toLong)
      case 5 => GavroPred("k", "<=>", rnd.nextInt(120).toLong)
      case 6 => GavroPred("k", "in", GavroSortedVals.build(
        Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(120).toLong)))
      case 7 => GavroPred("k", "isnull", null)
      case _ => GavroPred("k", "notnull", null)
    }
    def randTree(depth: Int): GavroPred =
      if (depth == 0 || rnd.nextInt(3) == 0) randLeaf()
      else rnd.nextInt(3) match {
        case 0 => GavroPred("", "or",
          Vector.fill(2 + rnd.nextInt(2))(randTree(depth - 1)))
        case 1 => GavroPred("", "and",
          Vector.fill(2 + rnd.nextInt(2))(randTree(depth - 1)))
        case _ => GavroPred("", "not", randTree(depth - 1))
      }
    var excludes = 0
    (1 to 600).foreach { _ =>
      val mn = rnd.nextInt(100).toLong
      val mx = mn + rnd.nextInt(20)
      val stats = Map("k" -> GavroColStat(0, mn, mx))
      val tree = randTree(3)
      if (GavroSkip.exclude(stats, Seq(tree))) {
        excludes += 1
        // SOUND: every value the stats admit — and the null row — fails.
        (mn to mx).foreach(x => assert(evalRef3(tree, Some(x)) != 1,
          s"excluded but $x in [$mn,$mx] satisfies $tree"))
        assert(evalRef3(tree, None) != 1,
          s"excluded but NULL satisfies $tree")
      }
    }
    assert(excludes > 20, s"proof never fired ($excludes) — vacuous fuzz")
  }

  test("slot-scoped disjunction compiles to the hash-map dispatch, matches FilterExec") {
    val events = Tables.events(spark, dir)
    val out = tmpDir("slotmap")
    Gavro.write(events
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), out)
    val g = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
    val ref = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(col("rec.*"))
    // Rows kept by the pushed scan vs Spark's OWN FilterExec over the
    // identical frame; the tap proves the CSlotMap rewrite ENGAGED
    // (result equality alone can't distinguish it from the generic walk).
    def run(pred: org.apache.spark.sql.Column): (Long, Long) = {
      val ((cnt, sm), compiles) = Gavro.trackSlotMapCompiles {
        val r = g.filter(pred).agg(count(lit(1)), sum(col("id"))).head
        (r.getLong(0), r.get(1))
      }
      val w = ref.filter(pred).agg(count(lit(1)), sum(col("id"))).head
      assert(cnt == w.getLong(0) && sm == w.get(1),
        s"scan diverged from FilterExec for $pred: got ($cnt,$sm) want $w")
      (cnt, compiles)
    }
    def check(pred: org.apache.spark.sql.Column): Unit = {
      val (cnt, compiles) = run(pred)
      assert(compiles > 0, s"hash-map dispatch did not engage for $pred")
      assert(cnt > 0, s"vacuous check for $pred")
    }
    def checkGeneric(pred: org.apache.spark.sql.Column): Unit =
      assert(run(pred)._2 == 0, s"dispatch over-matched $pred")

    // int = lit AND string IN (…) branches — the LSH probe's exact shape,
    // over genuinely co-occurring (latency, session) pairs plus decoys so
    // both hit and miss paths execute.
    val pairs = ref.select(col("latency_ms"), col("session_id")).distinct()
      .orderBy(col("latency_ms"), col("session_id")).limit(400).collect()
      .map(r => (r.getInt(0), r.getString(1)))
    // Decoys come from latencies OUTSIDE the sampled slots: shared decoys
    // that swallow a branch's own keys make two branches' IN lists EQUAL,
    // and Catalyst then factors the common IN out of the Or — a legal
    // rewrite that is legitimately not the dispatch shape.
    val decoys = pairs.map(_._2).distinct.takeRight(6).toSeq
    val bySlot = pairs.groupBy(_._1).toSeq.sortBy(_._1).take(10)
      .map { case (l, a) => l -> (a.map(_._2).sorted.take(8).toSeq ++ decoys) }
      .filter(_._2.length >= 2)
    assert(bySlot.length >= 2, "fixture too narrow for the dispatch shape")
    check(bySlot.map { case (l, ks) =>
      col("latency_ms") === l && col("session_id").isin(ks: _*)
    }.reduce(_ || _))

    // long = lit over the PLANTED-NULL column (user_id % 11 → NULL): the
    // dispatch's FALSE must agree with the tree's UNKNOWN at top level.
    val uPairs = ref.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("session_id")).distinct()
      .orderBy(col("user_id"), col("session_id")).limit(200).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val uBySlot = uPairs.groupBy(_._1).toSeq.sortBy(_._1).take(6)
      .map { case (u, a) => u -> (a.map(_._2).sorted.take(8).toSeq ++ decoys) }
    check(uBySlot.map { case (u, ks) =>
      col("user_id") === u && col("session_id").isin(ks: _*)
    }.reduce(_ || _))

    // Planted-null STRING key column (region_name % 5 → NULL): null keys
    // drop on both paths.
    check(Seq(200 -> Seq("r1", "r2"), 500 -> Seq("r3", "r4", "r1"))
      .map { case (c, ks) =>
        col("status_code") === c && col("region_name").isin(ks: _*)
      }.reduce(_ || _))

    // Guard against over-matching: a NOT branch, a cross-branch column
    // swap, and a bare Or of equalities must all stay on the generic
    // tree compile (tap == 0) yet still answer exactly.
    val (l0, k0) = (bySlot.head._1, bySlot.head._2.take(3))
    val (l1, k1) = (bySlot.last._1, bySlot.last._2.take(3))
    checkGeneric(
      !(col("latency_ms") === l0 && col("session_id").isin(k0: _*)) ||
        (col("latency_ms") === l1 && col("session_id").isin(k1: _*)))
    checkGeneric(
      (col("latency_ms") === l0 && col("session_id").isin(k0: _*)) ||
        (col("latency_ms") === l1 && col("method").isin(k1: _*)))
    checkGeneric(col("latency_ms") === l0 || col("latency_ms") === l1)
  }

  test("bloom block skipping: point probes on an unclustered column read a small minority of blocks") {
    val events = Tables.events(spark, dir)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val bins = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.session_id").as("session_id"),
        col("rec.user_id").as("user_id"))
      .coalesce(1)
    val bloomDir = tmpDir("bloom")
    Gavro.write(bins, bloomDir, blockBytes = 1024L,
      statCols = Seq("session_id"), bloomCols = Seq("session_id", "user_id"))
    val plainDir = tmpDir("bloomless")
    Gavro.write(bins, plainDir, blockBytes = 1024L,
      statCols = Seq("session_id"))
    val ref = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(col("rec.*"))
    val keys = Seq("3", "57", "201").map(md5hex) ++
      Seq("absent-one", "absent-two")
    def probe(d: String): (Long, Long) = {
      val scan = spark.read.format("gavro")
        .option("schema", "request_log").load(d)
        .filter(col("session_id").isin(keys: _*))
      val (cnt, reads) = Gavro.trackBlockReads(scan.count())
      (cnt, reads.values.sum)
    }
    val total = Gavro.totalBlocks(bloomDir)
    assert(total > 40, s"fixture too coarse: $total blocks")
    val want = ref.filter(col("session_id").isin(keys: _*)).count()
    assert(want == 3)
    // min/max is BLIND on md5 keys: the bloom-less twin reads everything…
    val (cntPlain, readPlain) = probe(plainDir)
    assert(cntPlain == want)
    assert(readPlain == Gavro.totalBlocks(plainDir),
      s"control read $readPlain of ${Gavro.totalBlocks(plainDir)} — " +
        "unclustered fixture assumption broken")
    // …the bloom side reads ~|keys| blocks (+ ~1% fp slack).
    val (cntBloom, readBloom) = probe(bloomDir)
    assert(cntBloom == want)
    // ~12 values per 1 KiB block → 128-bit blooms, whose fp runs a few
    // per-cent (not the asymptotic 1%); the bound still pins a ~85%+
    // block-skip rate where the control reads 100%.
    assert(readBloom <= keys.length + total / 8,
      s"bloom read $readBloom of $total blocks")
    // Equality and null-safe-equality leaves skip too; a planted-null
    // long column blooms its non-null population.
    val someUser = ref.filter(col("user_id").isNotNull)
      .select(col("user_id")).head.getLong(0)
    def one(pred: org.apache.spark.sql.Column): (Long, Long) = {
      val s = spark.read.format("gavro")
        .option("schema", "request_log").load(bloomDir).filter(pred)
      val (c, r) = Gavro.trackBlockReads(s.count())
      (c, r.values.sum)
    }
    val (cEq, rEq) = one(col("session_id") === keys.head)
    assert(cEq == ref.filter(col("session_id") === keys.head).count() &&
      cEq == 1 && rEq <= 1 + total / 20)
    val (cNse, rNse) = one(col("session_id") <=> "definitely-absent")
    assert(cNse == 0 && rNse <= total / 20)
    val (cUser, rUser) = one(col("user_id") === someUser)
    assert(cUser == ref.filter(col("user_id") === someUser).count() &&
      cUser > 0)
    val (cGone, rGone) = one(col("user_id") === 999999999L)
    assert(cGone == 0 && rGone <= total / 20, s"absent user read $rGone blocks")
    assert(rUser >= 1)
  }

  test("bloom soundness: random present/absent IN probes agree with FilterExec; no false negatives at the unit level") {
    // Unit level: inserted values are NEVER reported absent; absent
    // values stay under a loose fp ceiling.
    val rnd = new scala.util.Random(171)
    (0 until 20).foreach { _ =>
      val tpe: Byte = if (rnd.nextBoolean()) 2 else 0
      val n = 1 + rnd.nextInt(400)
      val b = new graft.sources.GavroBloom.Builder(tpe)
      val vals: Seq[Any] =
        if (tpe == 2) (0 until n).map(i => s"v${rnd.nextInt(1 << 24)}_$i")
        else (0 until n).map(_ => rnd.nextLong())
      vals.foreach(b.add)
      val bloom = b.result()
      vals.foreach(v => assert(!bloom.definitelyAbsent(v),
        s"false negative on inserted $v"))
      val absent = (0 until 2000).map(i =>
        if (tpe == 2) s"absent_${rnd.nextInt(1 << 24)}_$i": Any
        else rnd.nextLong() + 1000000007L * (i + 1))
      val fp = absent.count(v => !bloom.definitelyAbsent(v))
      assert(fp < 100, s"fp rate ${fp / 2000.0} at n=$n") // < 5%
      // kind mismatch never excludes
      assert(!bloom.definitelyAbsent(if (tpe == 2) 42L else "x"))
    }
    // End-to-end: random IN mixes over the bloom archive equal Spark's
    // own FilterExec on the identical frame.
    val events = Tables.events(spark, dir)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = tmpDir("bloomfuzz")
    Gavro.write(events.select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.session_id").as("session_id")).coalesce(1),
      out, blockBytes = 4096L, bloomCols = Seq("session_id"))
    val g = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
    val ref = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(col("rec.*"))
    val maxId = events.agg(max(col("event_id"))).head.getLong(0)
    (1 to 12).foreach { _ =>
      val present = (0 until 1 + rnd.nextInt(4))
        .map(_ => md5hex(rnd.nextLong().abs.%(maxId + 1).toString))
      val absent = (0 until rnd.nextInt(4)).map(_ => s"zz${rnd.nextInt(1 << 20)}")
      val keys = rnd.shuffle(present ++ absent)
      val got = g.filter(col("session_id").isin(keys: _*)).count()
      val want = ref.filter(col("session_id").isin(keys: _*)).count()
      assert(got == want, s"IN$keys: got $got want $want")
      assert(got == present.distinct.length)
    }
  }

  test("DSv2 sink bloomCols option: appended archives bloom-skip; bad columns fail at the driver") {
    val events = Tables.events(spark, dir)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = tmpDir("bloomsink")
    val rows = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(col("rec.*"))
    // Two APPEND commits — the landing-zone shape Gavro.write (truncate
    // semantics) cannot serve; every committed file carries blooms.
    Seq(0, 1).foreach { half =>
      rows.filter(pmod(col("id"), lit(2)) === half).coalesce(1)
        .write.format("gavro").option("schema", "request_log")
        .option("blockBytes", "1024").option("bloomCols", "session_id")
        .mode("append").save(out)
    }
    val total = Gavro.totalBlocks(out)
    assert(total > 40, s"fixture too coarse: $total blocks")
    val probe = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .filter(col("session_id").isin(md5hex("12"), md5hex("13"), "zz-absent"))
    val (cnt, reads) = Gavro.trackBlockReads(probe.count())
    assert(cnt == 2)
    assert(reads.values.sum <= 2 + total / 8,
      s"sink-written blooms read ${reads.values.sum} of $total blocks")
    // Driver-side failure on a typo'd or double column.
    Seq("no_such_col").foreach { bad =>
      val e = intercept[Exception] {
        rows.limit(1).write.format("gavro").option("schema", "request_log")
          .option("bloomCols", bad).mode("append").save(tmpDir("bloombad"))
      }
      assert(e.getMessage != null)
    }
  }

  test("blooms survive OPTIMIZE's raw merge and keep skipping") {
    val events = Tables.events(spark, dir)
    val out = tmpDir("bloomopt")
    Gavro.write(events.select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.session_id").as("session_id")).repartition(4),
      out, blockBytes = 4096L, bloomCols = Seq("session_id"))
    val before = graft.sources.Gavro.listDataFiles(out).length
    assert(before == 4)
    Gavro.optimize(out)
    val files = graft.sources.Gavro.listDataFiles(out)
    assert(files.length == 1, s"optimize left ${files.length} files")
    val meta = graft.sources.GavroFooter.read(files.head)
    assert(meta.blockBlooms.length == meta.blocks.length,
      "merged footer lost its blooms")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val probe = spark.read.format("gavro")
      .option("schema", "request_log").load(out)
      .filter(col("session_id") === md5hex("7"))
    val (cnt, reads) = Gavro.trackBlockReads(probe.count())
    val total = Gavro.totalBlocks(out)
    assert(cnt == 1)
    assert(reads.values.sum * 10 < total,
      s"post-optimize probe read ${reads.values.sum} of $total blocks")
  }

  test("bloom IN proof is bounded: over-bound lists decline (rows exact), " +
      "bounded absent lists still skip") {
    // The all-values-absent conjunction behind an IN exclusion collapses
    // geometrically with list size — P(exclude) = (1-fp)^|IN| — so past
    // GavroBloom.InProofMax the proof can essentially never win and the
    // reader declines it rather than paying O(values × blocks) hashing
    // for nothing (measured at the 1024 cap: 8378/8378 blocks admitted,
    // all via false positives — SCALESMOKE_r17 bloom_plan_cost).
    val events = Tables.events(spark, dir)
    val out = tmpDir("bloombound")
    Gavro.write(events.select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.session_id").as("session_id")).coalesce(1),
      out, blockBytes = 1024L, bloomCols = Seq("session_id"))
    val total = Gavro.totalBlocks(out)
    assert(total > 50)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ref = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(col("rec.*"))
    def probe(keys: Seq[String]): (Long, Long) = {
      val s = spark.read.format("gavro")
        .option("schema", "request_log").load(out)
        .filter(col("session_id").isin(keys: _*))
      val (c, r) = Gavro.trackBlockReads(s.count())
      (c, r.values.sum)
    }
    // Bounded, truly-absent keys: the proof engages and wins on
    // ~(1-fp)^|IN| of blocks — assert a material minority skipped.
    val absentKeys = (0 until graft.sources.GavroBloom.InProofMax)
      .map(i => md5hex(s"nope-$i"))
    val (cA, rA) = probe(absentKeys)
    assert(cA == 0)
    assert(rA <= total * 3 / 4,
      s"bounded absent IN read $rA of $total — proof not engaging")
    // One value over the bound: the proof declines — every block reads —
    // and the answer is still exactly the reference's.
    val overKeys = (0 to graft.sources.GavroBloom.InProofMax)
      .map(i => md5hex((i * 3).toString))
    val (cO, rO) = probe(overKeys)
    assert(cO == ref.filter(col("session_id").isin(overKeys: _*)).count())
    assert(rO == total,
      s"over-bound IN read $rO of $total — expected a declined proof")
  }

  test("string stats order by code point, as Spark does, at file, block and optimize level") {
    val schema = AvroCodec.sqlType(AvroCodec.schemaByName("request_log"))
    def rows(endpoints: Seq[String]) = spark.createDataFrame(
      java.util.Arrays.asList(endpoints.zipWithIndex.map { case (e, i) =>
        org.apache.spark.sql.Row(i.toLong, e, "GET", 200, 1, 7L, "s", "r1",
          "u", "web", new java.sql.Timestamp(0L))
      }: _*), schema).coalesce(1)
    // one record per block
    def append(out: String, endpoints: String*): Unit =
      rows(endpoints).write.format("gavro").option("schema", "request_log")
        .option("blockBytes", "1").mode("append").save(out)
    // U+1F600 sorts above U+FFFD in Spark's order, yet its first UTF-16
    // unit (U+D83D) sorts below: a code-unit stat order skips live data
    val grin = "\uD83D\uDE00"
    val repl = "\uFFFD"
    def probe(out: String, all: Seq[String], tag: String): Unit =
      Seq(col("endpoint") > repl, col("endpoint") < grin).foreach { p =>
        val got = spark.read.format("gavro").option("schema", "request_log")
          .load(out).filter(p).count()
        val want = rows(all).filter(p).count()
        assert(want > 0 && got == want, s"$tag $p: gavro $got, Spark $want")
      }
    // file level: two one-record files
    val files = tmpDir("cporder_files")
    append(files, grin)
    append(files, repl)
    probe(files, Seq(grin, repl), "file")
    // block level: one file whose file stats admit both probes
    val blocks = tmpDir("cporder_blocks")
    val values = Seq("a", repl, grin, "\uFFFF")
    append(blocks, values: _*)
    val only = Gavro.listDataFiles(blocks)
    assert(only.length == 1 &&
      graft.sources.GavroFooter.read(only.head).blocks.length == values.length)
    probe(blocks, values, "block")
    // optimize folds the two one-record files' stats into one footer
    assert(Gavro.optimize(files).length == 1)
    assert(Gavro.listDataFiles(files).length == 1)
    probe(files, Seq(grin, repl), "optimized")
  }

  test("the DSv2 sink and Gavro.write write byte-identical files") {
    val schema = AvroCodec.sqlType(AvroCodec.schemaByName("request_log"))
    val recs = Tables.events(spark, dir)
      .select(AvroCodec.requestLogRec.as("rec")).select(col("rec.*")).collect()
    val rows = spark.createDataFrame(java.util.Arrays.asList(recs: _*), schema)
      .coalesce(1)
    // every scalar record field, in record order: the sink's stat set
    val statCols = Seq("id", "endpoint", "method", "status_code", "latency_ms",
      "user_id", "session_id", "region_name", "user_display_name", "platform")
    val quoted = rows.columns.map(c => s"`$c`").mkString(", ")
    val bins = rows.select(
      expr(s"to_avro_graft(struct($quoted), 'request_log')").as("bin") +:
        statCols.map(col): _*)
    def onlyDataFile(d: String): java.io.File = {
      val fs = new java.io.File(d).listFiles().filter(_.getName.endsWith(".gavro"))
      assert(fs.length == 1, fs.map(_.getName).mkString(", "))
      fs.head
    }
    Seq("none", "deflate").foreach { codec =>
      val viaSink = tmpDir(s"sink_$codec")
      rows.write.format("gavro").option("schema", "request_log")
        .option("blockBytes", "2048").option("blockCodec", codec)
        .option("bloomCols", "session_id").mode("append").save(viaSink)
      val viaWrite = tmpDir(s"write_$codec")
      Gavro.write(bins, viaWrite, blockBytes = 2048L, statCols = statCols,
        blockCodec = codec, bloomCols = Seq("session_id"))
      val (a, b) = (onlyDataFile(viaSink), onlyDataFile(viaWrite))
      val meta = graft.sources.GavroFooter.read(a)
      assert(meta.blocks.length > 1, "blocks must roll")
      assert(meta.blockBlooms.nonEmpty && meta.stats.size == statCols.length)
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(a.toPath),
        java.nio.file.Files.readAllBytes(b.toPath)), s"$codec: files differ")
    }
  }
}
