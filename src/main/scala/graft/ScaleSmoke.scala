package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale smoke harness: fabricates a corpus N× the sf0.1 fixture by
  * deterministic replication-with-mutation and runs the heavyweight
  * document operators over it, printing per-operator seconds and output
  * rows. Not part of the driver gates — a manual check that the sketch
  * pipelines, skew caps, and iterative operators keep working well past
  * fixture scale (the failure modes they guard against — mega-buckets,
  * lineage blowup, window funnels — only show up with volume).
  *
  * Usage: sbt "runMain graft.ScaleSmoke [replicas] [section]"
  *   replicas: default 20 → 100k docs
  *   section:  docs | temporal | round7 | all (default all)
  */
object ScaleSmoke {

  /** Key measures as JSON lines, printed AND (when
    * `SPARK_GRAFT_SCALESMOKE_OUT` names a file) appended to a committed
    * artifact — so round-over-round probe-shuffle and file-open numbers
    * are diffable without log archaeology. Human-narrative printlns stay
    * console-only. */
  private val outPath = sys.env.get("SPARK_GRAFT_SCALESMOKE_OUT")
  private def emit(json: String): Unit = {
    println(json)
    outPath.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
  }

  def main(args: Array[String]): Unit = {
    val replicas = args.headOption.map(_.toInt).getOrElse(20)
    val section = args.lift(1).getOrElse("all")
    // One JSON stamp line per run ([[Canonical]] — the shared gate), so
    // PROGRESS can cite exactly one authoritative run per section
    // instead of reconciling unlabeled reruns.
    val loadavgStart = Canonical.readLoadavg()
    val canonical = Canonical.isCanonical(loadavgStart)
    val gitSha = Canonical.gitSha() // captured at launch, like loadavg

    val spark = Session.local("graft-scale-smoke")
    spark.sparkContext.setLogLevel("WARN")
    if (section == "docs" || section == "all") docsSection(spark, replicas)
    if (section == "temporal" || section == "all") temporalSection(spark, replicas)
    if (section == "round7" || section == "all") round7Section(spark, replicas)
    if (section == "copurchase") copurchaseSection(spark, replicas)
    if (section == "containment") containmentSection(spark, replicas)
    if (section == "leakage") leakageSection(spark, replicas)
    if (section == "round10") round10Section(spark, replicas)
    if (section == "optimize") optimizeSection(spark, replicas)
    if (section == "round11") round11Section(spark, replicas)
    if (section == "round12") round12Section(spark, replicas)
    if (section == "round13") round13Section(spark, replicas)
    if (section == "round14") round14Section(spark, replicas)
    if (section == "round15") round15Section(spark, replicas)
    if (section == "round17") round17Section(spark, replicas)
    val loadavgEnd = Canonical.readLoadavg()
    emit(s"""{"harness":"scale_smoke","section":"$section",""" +
      s""""replicas":$replicas,""" +
      s""""loadavg_start":${loadavgStart.mkString("[", ",", "]")},""" +
      s""""loadavg":${loadavgEnd.mkString("[", ",", "]")},""" +
      s""""canonical":$canonical,""" +
      s""""git_sha":"$gitSha",""" +
      s""""cpus":${Runtime.getRuntime.availableProcessors}}""")
    spark.stop()
  }

  /** Round-14 additions, the three claims the v4 index layout makes at
    * replica volume. (a) BUILD PARALLELISM: the salted one-slot-per-file
    * build vs the pre-v4 serialized shape (sigs through one task, bands
    * through 6) on the same corpus — wall must drop, writer-file counts
    * show the task fan-out. (b) PROBE FILE PRUNING: a 2-doc serve-trigger
    * probe opens only its touched hash slices of the bands table.
    * (c) MAINTAIN: per-trigger appends compacted — occupancy rows merge,
    * logs collapse, probe answers unchanged, timed at volume. */
  private def round14Section(spark: SparkSession, replicas: Int): Unit = {
    import graft.ops.{Dedup, LshIndex}
    import graft.sources.Gavro
    val docsBase = graft.sources.Tables.documents(spark, "/root/testdata/sf0.1")
      .select(col("doc_id"), col("text"))
    val corpus = docsBase.crossJoin(spark.range(replicas).toDF("rep"))
      .select((col("doc_id") * replicas + col("rep")).as("doc_id"),
        concat(col("text"), lit(" r"), col("rep")).as("text"))
      .localCheckpoint(true)
    println(s"corpus: ${corpus.count()} docs (${replicas}x sf0.1)")
    def gavroFiles(dir: String): Int =
      Option(new java.io.File(dir).listFiles())
        .map(_.count(_.getName.endsWith(".gavro"))).getOrElse(0)

    // ---- (a) the WRITE path's parallelism cap, isolated: encode+write
    // the SAME checkpointed rows through the salted layout (32/48 writer
    // tasks) vs the pre-v4 serialized shape (sigs through ONE task, bands
    // through 6). The sketch is shared and paid once, outside the timers,
    // so the comparison measures exactly the cap the salt breaks — a
    // whole-build wall comparison buries it under the sketch (which
    // dominates at this scale and JIT-favors whichever build runs
    // second; measured: the full-build deltas flip sign run to run).
    // The SALTED shape runs FIRST, eating any residual cold-path cost.
    val slotExpr = LshIndex.slotExpr // the production routing, not a copy
    val sigs0 = Dedup.minhashSignatures(corpus)
      .select(col("doc_id"), col("sig")).localCheckpoint(true)
    val sigRowsRaw = sigs0
      .select(col("doc_id"), posexplode(col("sig"))).toDF("doc_id", "pos", "m")
      .localCheckpoint(true)
    val bandsRaw = Dedup.bands(sigs0).withColumn("slot", slotExpr)
      .localCheckpoint(true)
    println(s"sig rows: ${sigRowsRaw.count()}, band rows: ${bandsRaw.count()}")
    def sigBins = sigRowsRaw.select(
      expr("to_avro_graft(struct(doc_id, pos, m), 'lsh_sigs')").as("bin"))
    def bandBins = bandsRaw.select(expr(
        "to_avro_graft(struct(doc_id, band_idx, band_key, slot), 'lsh_bands')")
        .as("bin"), col("band_idx"), col("slot"))
    def tmp(tag: String) =
      java.nio.file.Files.createTempDirectory(s"smoke-w-$tag").toString
    val (ds1, ds2, db1, db2) = (tmp("ss"), tmp("os"), tmp("sb"), tmp("ob"))
    val saltedSigsWall = timed("write_sigs_salted") {
      Gavro.write(sigBins, ds1) }
    val serialSigsWall = timed("write_sigs_serialized") {
      Gavro.write(sigBins.coalesce(1), ds2) }
    val saltedBandsWall = timed("write_bands_salted") {
      Gavro.write(Gavro.exactPartition(bandBins, "slot",
        6 * LshIndex.SaltM), db1, statCols = Seq("band_idx", "slot")) }
    val serialBandsWall = timed("write_bands_serialized") {
      Gavro.write(Gavro.exactPartition(bandBins, "band_idx", 6), db2,
        statCols = Seq("band_idx", "slot")) }
    emit(s"""{"harness":"scale_smoke","metric":"lsh_write_parallelism",""" +
      s""""replicas":$replicas,"salted_sigs_s":$saltedSigsWall,""" +
      s""""serial_sigs_s":$serialSigsWall,""" +
      s""""salted_bands_s":$saltedBandsWall,""" +
      s""""serial_bands_s":$serialBandsWall,""" +
      s""""files_salted":{"sigs":${gavroFiles(ds1)},"bands":${gavroFiles(db1)}},""" +
      s""""files_serial":{"sigs":${gavroFiles(ds2)},"bands":${gavroFiles(db2)}}}""")
    val (salted, serial) =
      (saltedSigsWall + saltedBandsWall, serialSigsWall + serialBandsWall)
    println(f"index write wall salted/serialized: $salted%.2f / " +
      f"$serial%.2f s (${serial / salted}%.2fx faster)")
    // The assertion targets the STRUCTURALLY capped table: sigs went
    // through ONE task pre-v4, so parallel encode+write must win there
    // at any volume. The bands comparison (6 → 48 tasks on 32 cores) is
    // informational — 6 tasks already saturate a small corpus; the 48-way
    // layout's win is file pruning + per-key volume headroom at 100 TB,
    // not this fixture's wall clock.
    assert(saltedSigsWall < serialSigsWall,
      f"parallel sigs write must beat the one-task shape: " +
        f"$saltedSigsWall%.2f vs $serialSigsWall%.2f s")

    // the probe/maintain sections run against a normally-built index
    val dirNew = java.nio.file.Files.createTempDirectory("smoke-lsh-v4").toString
    timed("lsh_build_full") { LshIndex.buildAndWrite(corpus, dirNew) }

    // ---- (b) probe file pruning: the 2-doc serve-trigger shape
    val someText = docsBase.orderBy(col("doc_id")).limit(1).collect()(0)
      .getAs[String]("text")
    val floor = 1000000000L
    import spark.implicits._
    val tinyDelta = Seq(
      (floor + 1, someText.substring(someText.indexOf(' ') + 1)),
      (floor + 2, "zzqx glorp wibble frotz yoik snarf blib quux nargle veep"))
      .toDF("doc_id", "text").localCheckpoint(true)
    var pairs = 0L
    var probeWall = 0.0
    val (_, opened) = Gavro.trackFileOpens {
      probeWall = timed("lsh_probe_2doc") {
        pairs = LshIndex.probeBatch(spark, dirNew, tinyDelta, floor).count() }
    }
    val bandOpens = opened.count(_.contains("/bands/"))
    emit(s"""{"harness":"scale_smoke","metric":"lsh_probe_file_pruning",""" +
      s""""replicas":$replicas,"band_files_opened":$bandOpens,""" +
      s""""band_files_total":${gavroFiles(s"$dirNew/bands")},""" +
      s""""pairs":$pairs,"wall_s":$probeWall}""")

    // ---- (c) maintain after per-trigger appends
    val delta = corpus.filter(pmod(col("doc_id"), lit(50)) === 0)
      .select((col("doc_id") + floor).as("doc_id"), col("text"))
      .localCheckpoint(true)
    println(s"append delta: ${delta.count()} docs x 3 batches")
    (0 until 3).foreach { r =>
      LshIndex.appendBatch(spark, dirNew,
        delta.filter(pmod(col("doc_id"), lit(3)) === r))
    }
    val occBefore = LshIndex.loadBuckets(spark, dirNew).count()
    val probeBefore = LshIndex
      .probeMaterialized(spark, dirNew, floor).count()
    val maintainWall = timed("lsh_maintain") { LshIndex.maintain(spark, dirNew) }
    val occAfter = LshIndex.loadBuckets(spark, dirNew).count()
    val probeAfter = LshIndex.probeMaterialized(spark, dirNew, floor).count()
    emit(s"""{"harness":"scale_smoke","metric":"lsh_maintain",""" +
      s""""replicas":$replicas,"wall_s":$maintainWall,""" +
      s""""occupancy_rows_before":$occBefore,""" +
      s""""occupancy_rows_after":$occAfter,""" +
      s""""probe_pairs_before":$probeBefore,"probe_pairs_after":$probeAfter}""")
    assert(probeBefore == probeAfter && probeBefore > 0,
      s"maintain changed the probe answer: $probeBefore -> $probeAfter")
    assert(occAfter < occBefore,
      s"maintain did not merge occupancy: $occBefore -> $occAfter")
  }

  /** Round-15 addition: the MID-SIZE probe shape the raised IN cap
    * ([[graft.sources.Gavro.InPushMax]]) unlocks — a 100-doc delta
    * touches ~600 buckets, past the old 64-value cap (which silently
    * dropped ALL record/block skipping there) and comfortably within the
    * new one, so its band_key list pushes into every bands/buckets scan.
    * Measured against the 2-doc shape on the same index: file opens stay
    * bounded by the touched slots, shuffle stays O(Δ), answers pinned by
    * the pair count. */
  /** Round-17 additions — two waiver-to-number measurements. (a) FOOTER
    * PROOF WALL: [[graft.ops.IvfPqIndex.maintainIncremental]]'s
    * single-cell proof reads every codes-file footer driver-side —
    * O(files), the r15/r16 numbered waiver. Measure the EXACT proof loop
    * at the steady-state file count and at ~50× it, so "corpus-flat" is
    * a per-file cost and a wall number instead of an argument.
    * (b) FOOTER AMORTIZATION: per-block stats grow the footer as blocks
    * shrink; write one fixed corpus at 1 KiB / 4 KiB / 32 KiB / 1 MiB
    * blocks and record footer bytes + a full plan walk per size — the
    * datapoint that decides whether a sub-4 KiB guard is needed. */
  private def round17Section(spark: SparkSession, replicas: Int): Unit = {
    import graft.sources.{AvroCodec, Gavro, GavroFooter, GavroPred,
      GavroSkip, GavroSortedVals, Tables}

    // ---- (a) the maintainIncremental footer proof, timed at file scale.
    val codesDir = java.nio.file.Files
      .createTempDirectory("smoke-proof").toString + "/codes"
    def appendBatch(i: Int): Unit =
      Gavro.exactPartitionSalted(
        spark.range(256).select(
          (col("id") + i * 1000L).as("vec_id"),
          pmod(col("id"), lit(graft.ops.Quantize.CoarseK)).cast("int").as("cell"),
          pmod(col("id"), lit(4)).cast("int").as("sub_idx"),
          pmod(col("id") * 7 + i, lit(256)).cast("int").as("code")),
        "cell", graft.ops.Quantize.CoarseK, "vec_id", graft.ops.IvfPqIndex.SaltM)
        .write.format("gavro").option("schema", "ivf_codes")
        .mode("append").save(codesDir)
    // The EXACT driver-side loop maintainIncremental runs as its
    // single-cell layout proof (footer stats, min == max on `cell`).
    def proof(): (Int, Double) = {
      val t0 = System.nanoTime()
      val slotted = Gavro.listDataFiles(codesDir).map { f =>
        (f.getName,
          GavroFooter.read(f).stats.get("cell")
            .filter(s => s.min.asInstanceOf[Number].longValue ==
              s.max.asInstanceOf[Number].longValue)
            .map(_.min.asInstanceOf[Number].intValue),
          Gavro.dataStore.length(f))
      }
      assert(slotted.forall(_._2.isDefined), "proof must hold on this layout")
      (slotted.length, (System.nanoTime() - t0) / 1e9)
    }
    (1 to 2).foreach(appendBatch)
    val (files1, wall1) = proof()
    val target = math.max(10, replicas * 5 / 2) // 50 appends at replicas=20
    (3 to target).foreach(appendBatch)
    val (files50, wall50) = proof()
    emit(s"""{"harness":"scale_smoke","metric":"ivfpq_footer_proof",""" +
      s""""files_steady":$files1,"proof_wall_s_steady":${f"$wall1%.4f"},""" +
      s""""files_50x":$files50,"proof_wall_s_50x":${f"$wall50%.4f"},""" +
      s""""per_file_us_50x":${f"${wall50 * 1e6 / math.max(1, files50)}%.1f"}}""")
    assert(files50 >= files1 * 20, s"fixture too small: $files1 -> $files50")
    assert(wall50 < 10.0,
      f"footer proof took $wall50%.2f s at $files50 files — waiver premise broken")

    // ---- (b) footer weight + plan-walk wall vs block size.
    val events = Tables.events(spark, "/root/testdata/sf0.1")
    val bins = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.id").as("id"), col("rec.endpoint").as("endpoint"))
      .localCheckpoint(true)
    val midId = events.selectExpr("percentile_approx(event_id, 0.5)")
      .head.getLong(0)
    Seq(1L << 10, 4L << 10, 32L << 10, 1L << 20).foreach { bb =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"smoke-footer-$bb").toString
      Gavro.write(bins, dir, blockBytes = bb, statCols = Seq("id", "endpoint"))
      val metas = Gavro.listDataFiles(dir).map(f =>
        (GavroFooter.read(f), Gavro.dataStore.length(f)))
      val dataBytes = metas.map(_._1.dataEnd).sum
      val footerBytes = metas.map { case (m, len) => len - m.dataEnd }.sum
      val blocks = metas.map(_._1.blocks.length.toLong).sum
      // One full listing + two-level skip walk with a representative
      // comparison pred — the planning cost a scan pays at this size.
      val t0 = System.nanoTime()
      val planned = Gavro.listDataFiles(dir).flatMap(f =>
        GavroSkip.planFile(f, Seq(GavroPred("id", "<", midId))))
      val planWall = (System.nanoTime() - t0) / 1e9
      emit(s"""{"harness":"scale_smoke","metric":"footer_amortization",""" +
        s""""block_bytes":$bb,"files":${metas.length},"blocks":$blocks,""" +
        s""""data_bytes":$dataBytes,"footer_bytes":$footerBytes,""" +
        s""""footer_frac":${f"${footerBytes.toDouble / math.max(1L, dataBytes)}%.4f"},""" +
        s""""planned_blocks":${planned.length},""" +
        s""""plan_wall_s":${f"$planWall%.4f"}}""")
    }

    // ---- (c) clusterTable at replica scale: a 2-D range probe against
    // a value-unclustered landing zone (md5-shuffled write order) reads
    // ~every block — per-block min/max is structurally blind when each
    // block spans the value range — then the Z-ORDER rewrite makes the
    // same probe a minority read. The admission model for the control:
    // ~320 rows per 32 KiB block × a ~1% 2-D box → P(block holds a
    // match) ≈ 1-(0.99)^320 ≈ 96%, so "reads ~all" is the EXPECTED
    // number, not an assumption.
    val replRows = events.crossJoin(spark.range(replicas).toDF("rep"))
      .select((col("event_id") * replicas + col("rep")).as("event_id"),
        col("user_id"), col("event_type"), col("ts"))
    val clBins = replRows.select(AvroCodec.requestLogRec.as("rec"))
      .withColumn("k", md5(col("rec.id").cast("string")))
      .repartition(32, col("k"))
      .sortWithinPartitions("k")
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.user_id").as("user_id"),
        col("rec.latency_ms").as("latency_ms"))
    val clDir = java.nio.file.Files
      .createTempDirectory("smoke-cluster").toString
    Gavro.write(clBins, clDir, blockBytes = 32L << 10,
      statCols = Seq("user_id", "latency_ms"))
    def rangeProbe(): (Long, Long) = {
      val scan = spark.read.format("gavro")
        .option("schema", "request_log").load(clDir)
        .filter(col("user_id") >= 100L && col("user_id") < 240L &&
          col("latency_ms") >= 200 && col("latency_ms") < 250)
      val (cnt, reads) = Gavro.trackBlockReads(scan.count())
      (cnt, reads.values.sum)
    }
    val preTotal = Gavro.totalBlocks(clDir)
    val totalRows = replRows.count()
    val (preCnt, preRead) = rangeProbe()
    val tCl = System.nanoTime()
    Gavro.clusterTable(spark, clDir, "request_log",
      Seq("user_id", "latency_ms"), zorder = true,
      blockBytes = 32L << 10)
    val clusterWall = (System.nanoTime() - tCl) / 1e9
    val postTotal = Gavro.totalBlocks(clDir)
    val (postCnt, postRead) = rangeProbe()
    emit(s"""{"harness":"scale_smoke","metric":"cluster_range_probe",""" +
      s""""replicas":$replicas,"rows":$totalRows,""" +
      s""""probe_rows":$preCnt,"blocks_read_pre":$preRead,""" +
      s""""blocks_total_pre":$preTotal,"blocks_read_post":$postRead,""" +
      s""""blocks_total_post":$postTotal,""" +
      s""""cluster_wall_s":${f"$clusterWall%.2f"}}""")
    assert(postCnt == preCnt, "cluster rewrite changed the probe answer")
    assert(preRead >= preTotal * 3 / 5,
      s"control read $preRead of $preTotal — shuffled fixture broken")
    assert(postRead <= postTotal / 8,
      s"z-ordered probe read $postRead of $postTotal — layout not skipping")

    // …and the INCREMENTAL cadence at the same scale: append a ~2%
    // drizzle (one sf0.1 replica, shuffled — the day's landing-zone
    // accretion), cluster ONLY it. The claim under test is that the
    // rewrite wall scales with the delta, not the corpus, while probe
    // admission stays a minority across generations.
    val drizzle = events.select(AvroCodec.requestLogRec.as("rec"))
      .withColumn("k", md5(col("rec.id").cast("string")))
      .repartition(8, col("k")).sortWithinPartitions("k")
      .select(col("rec.*"))
    drizzle.write.format("gavro").option("schema", "request_log")
      .option("blockBytes", (32L << 10).toString)
      .mode("append").save(clDir)
    val drizzleRows = events.count()
    val (midCnt, midRead) = rangeProbe()
    val tInc = System.nanoTime()
    val incStaged = Gavro.clusterIncremental(spark, clDir, "request_log",
      Seq("user_id", "latency_ms"), zorder = true, blockBytes = 32L << 10)
    val incWall = (System.nanoTime() - tInc) / 1e9
    val incTotal = Gavro.totalBlocks(clDir)
    val (incCnt, incRead) = rangeProbe()
    emit(s"""{"harness":"scale_smoke","metric":"cluster_incremental",""" +
      s""""corpus_rows":$totalRows,"drizzle_rows":$drizzleRows,""" +
      s""""staged_files":${incStaged.length},""" +
      s""""blocks_read_mid":$midRead,"blocks_read_post":$incRead,""" +
      s""""blocks_total_post":$incTotal,""" +
      s""""incr_wall_s":${f"$incWall%.2f"},""" +
      s""""full_wall_s":${f"$clusterWall%.2f"}}""")
    assert(incCnt == midCnt, "incremental cluster changed the probe answer")
    assert(incStaged.nonEmpty && incRead < midRead,
      s"incremental pass did not tighten admission ($midRead -> $incRead)")
    assert(incRead <= incTotal / 8,
      s"cross-generation probe read $incRead of $incTotal")
    assert(incWall < clusterWall / 5,
      f"incremental wall $incWall%.1f s vs full $clusterWall%.1f s — " +
        "not delta-scaled")

    // ---- (d) bloom IN-proof planning cost at the pushdown cap: the
    // watch item's O(values × blocks) hash passes, measured. Two timings
    // in one JVM: the shipped planFile walk, and the raw
    // per-(block, value) definitelyAbsent loop — the cost an unmemoized
    // proof pays (and the counterfactual once a memo exists).
    def md5hexS(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val bpDir = java.nio.file.Files
      .createTempDirectory("smoke-bloomplan").toString
    val bpBins = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.session_id").as("session_id"))
    Gavro.write(bpBins, bpDir, blockBytes = 1024L,
      bloomCols = Seq("session_id"))
    val bpFiles = Gavro.listDataFiles(bpDir)
    val bpBlocks = bpFiles.map(f =>
      GavroSkip.liveBlocks(GavroFooter.read(f))).sum
    def bpLine(vals: Seq[Any], tag: String): (Int, Double) = {
      val pred = GavroPred("session_id", "in", GavroSortedVals.build(vals))
      def timePlan(): (Double, Int) = {
        val t0 = System.nanoTime()
        val k = bpFiles.map(f => GavroSkip.planFile(f, Seq(pred)).length).sum
        ((System.nanoTime() - t0) / 1e9, k)
      }
      def timeRawHashLoop(): Double = {
        val metas = bpFiles.map(GavroFooter.read)
        val t0 = System.nanoTime()
        var excluded = 0L
        metas.foreach(_.blockBlooms.foreach { bb =>
          bb.get("session_id").foreach { b =>
            if (vals.forall(b.definitelyAbsent)) excluded += 1
          }
        })
        val w = (System.nanoTime() - t0) / 1e9
        assert(excluded >= 0) // keep the loop un-eliminated
        w
      }
      timePlan(); timeRawHashLoop() // warm (footer cache, JIT)
      val planWalls = (1 to 3).map(_ => timePlan())
      val rawWall = (1 to 3).map(_ => timeRawHashLoop()).min
      emit(s"""{"harness":"scale_smoke","metric":"bloom_plan_cost",""" +
        s""""regime":"$tag","values":${vals.length},"blocks":$bpBlocks,""" +
        s""""planned_blocks":${planWalls.head._2},""" +
        s""""plan_wall_s":${f"${planWalls.map(_._1).min}%.4f"},""" +
        s""""raw_hash_loop_wall_s":${f"$rawWall%.4f"}}""")
      (planWalls.head._2, planWalls.map(_._1).min)
    }
    // At the push cap the all-values-absent conjunction is fp-collapsed
    // (P ≈ 0.992^1024): the bounded proof DECLINES, so planning must be
    // ~free while the raw loop shows the cost declining saves.
    val (capPlanned, capWall) = bpLine(
      (0 until Gavro.InPushMax).map(i => md5hexS((i * 37).toString)), "cap")
    // At the bound, with truly-absent keys, the proof still wins on
    // ~(1-fp)^64 ≈ 60% of blocks.
    val (boundPlanned, _) = bpLine(
      (0 until graft.sources.GavroBloom.InProofMax)
        .map(i => md5hexS(s"absent-${i * 37}")), "bound")
    assert(capPlanned == bpBlocks.toInt,
      "fp-collapse premise broken: the cap-size IN excluded blocks")
    assert(capWall < 0.02,
      f"declined proof still cost $capWall%.3f s at the cap")
    assert(boundPlanned <= bpBlocks * 3 / 4,
      s"bounded proof excluded too little: $boundPlanned of $bpBlocks")
  }

  private def round15Section(spark: SparkSession, replicas: Int): Unit = {
    import graft.ops.LshIndex
    import graft.sources.Gavro
    val docsBase = graft.sources.Tables.documents(spark, "/root/testdata/sf0.1")
      .select(col("doc_id"), col("text"))
    val corpus = docsBase.crossJoin(spark.range(replicas).toDF("rep"))
      .select((col("doc_id") * replicas + col("rep")).as("doc_id"),
        concat(col("text"), lit(" r"), col("rep")).as("text"))
      .localCheckpoint(true)
    println(s"corpus: ${corpus.count()} docs (${replicas}x sf0.1)")
    val dir = java.nio.file.Files.createTempDirectory("smoke-lsh-r15").toString
    val t0 = System.nanoTime()
    // 32 KiB blocks put the fixture in the PRODUCTION pruning regime
    // (blocks-per-file >> probe-keys-per-file — at 100 TB that holds at
    // any block size; at fixture scale the 1 MiB default inverts it and
    // every block contains a probed key by pigeonhole).
    val smokeBlockBytes = 32L << 10
    LshIndex.buildAndWrite(corpus, dir, blockBytes = smokeBlockBytes)
    println(f"build ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val floor = 1000000000L
    // 90 collision-free novel docs + 10 near-dups: ~600 touched buckets
    val novel = spark.range(90)
      .select((col("id") + floor + 100000).as("doc_id"),
        expr("concat_ws(' ', transform(sequence(0, 39), " +
          "i -> substring(md5(concat(cast(id as string), '-', cast(i as string))), 1, 8)))")
          .as("text"))
    val nearDups = docsBase.filter(pmod(col("doc_id"), lit(50)) === 0)
      .limit(10)
      .select((col("doc_id") + floor).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val delta = novel.unionByName(nearDups).localCheckpoint(true)
    val touched = graft.ops.Dedup
      .bands(graft.ops.Dedup.minhashSignatures(delta))
      .select(col("band_idx"), col("band_key")).distinct().count()
    var pairs = 0L
    val t1 = System.nanoTime()
    val ((_, opened), blockReads) = Gavro.trackBlockReads {
      Gavro.trackFileOpens {
        pairs = LshIndex.probeBatch(spark, dir, delta, floor).count()
      }
    }
    // Block-level pruning, the raised IN cap's actual at-scale I/O value
    // (file opens are 48/48 here by design — 600 random keys hit every
    // hash slice): the probe scans the bands table ONCE (the xRows
    // wave), so band blocks-read / blocks-total is a direct ratio.
    val bandBlocksRead = blockReads
      .collect { case (k, v) if k.contains("/bands/") => v }.sum
    val bandBlocksTotal = Gavro.totalBlocks(s"$dir/bands")
    emit(s"""{"harness":"scale_smoke","metric":"lsh_probe_midsize",""" +
      s""""replicas":$replicas,"delta_docs":100,""" +
      s""""touched_buckets":$touched,""" +
      s""""band_files_opened":${opened.count(_.contains("/bands/"))},""" +
      s""""band_files_total":${Option(new java.io.File(s"$dir/bands")
          .listFiles()).map(_.count(_.getName.endsWith(".gavro")))
          .getOrElse(0)},""" +
      s""""band_blocks_read":$bandBlocksRead,""" +
      s""""band_blocks_total":$bandBlocksTotal,""" +
      s""""block_bytes":$smokeBlockBytes,"pairs":$pairs,""" +
      s""""wall_s":${(System.nanoTime() - t1) / 1e9}}""")
    assert(touched > 64 && touched <= Gavro.InPushMax,
      s"mid-size delta touched $touched buckets — outside the shape under test")
    assert(pairs >= 10, s"near-dups must pair: $pairs")
    assert(bandBlocksRead * 2 < bandBlocksTotal,
      s"mid-size probe must read a MINORITY of band blocks: " +
        s"$bandBlocksRead of $bandBlocksTotal")
  }

  /** Round-13 addition: the LSH probe's O(Δ) contract measured in SHUFFLE
    * BYTES, not wall time. A FIXED arriving batch (1900 collision-free
    * novel docs + 100 near-dups of standing docs) is probed against two
    * standing corpora — `replicas`× and `2.5·replicas`× sf0.1 — and the
    * probe's total shuffle-write bytes must stay ~flat while the corpus
    * (and its persisted index) grows 2.5×. This is the claim the r12
    * verdict found violated by the probe-time bucket-cap window; the
    * occupancy-table probe exchanges only O(Δ) rows. */
  private def round13Section(spark: SparkSession, replicas: Int): Unit = {
    val docsBase = graft.sources.Tables.documents(spark, "/root/testdata/sf0.1")
      .select(col("doc_id"), col("text"))
    val floor = 1000000000L
    val novel = spark.range(1900)
      .select((col("id") + floor + 100000).as("doc_id"),
        expr("concat_ws(' ', transform(sequence(0, 39), " +
          "i -> substring(md5(concat(cast(id as string), '-', cast(i as string))), 1, 8)))")
          .as("text"))
    val nearDups = docsBase.filter(pmod(col("doc_id"), lit(50)) === 0)
      .limit(100)
      .select((col("doc_id") + floor).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val delta = novel.unionByName(nearDups).localCheckpoint(true)
    println(s"fixed delta: ${delta.count()} docs")
    def shuffled(body: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) { acc.addAndGet(m.shuffleWriteMetrics.bytesWritten); () }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        var last = -1L; var stable = 0; var polls = 0
        while (stable < 3 && polls < 100) {
          if (acc.get == last) stable += 1 else { stable = 0; last = acc.get }
          Thread.sleep(100); polls += 1
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      acc.get
    }
    def measure(r: Int): Long = {
      val corpus = docsBase.crossJoin(spark.range(r).toDF("rep"))
        .select((col("doc_id") * r + col("rep")).as("doc_id"),
          concat(col("text"), lit(" r"), col("rep")).as("text"))
        .localCheckpoint(true)
      println(s"corpus: ${corpus.count()} docs (${r}x sf0.1)")
      val dir = java.nio.file.Files.createTempDirectory(s"smoke-lsh-od-$r").toString
      val t0 = System.nanoTime()
      graft.ops.LshIndex.buildAndWrite(corpus, dir)
      println(f"  build ${(System.nanoTime() - t0) / 1e9}%.2f s")
      var pairs = 0L
      val t1 = System.nanoTime()
      val bytes = shuffled {
        pairs = graft.ops.LshIndex.probeBatch(spark, dir, delta, floor).count()
      }
      emit(s"""{"harness":"scale_smoke","metric":"lsh_probe_shuffle",""" +
        s""""replicas":$r,"shuffle_bytes":$bytes,"pairs":$pairs,""" +
        s""""wall_s":${(System.nanoTime() - t1) / 1e9}}""")
      corpus.unpersist()
      bytes
    }
    val small = measure(replicas)
    val big = measure(replicas * 5 / 2)
    emit(s"""{"harness":"scale_smoke","metric":"lsh_probe_shuffle_ratio",""" +
      s""""replicas_small":$replicas,"replicas_big":${replicas * 5 / 2},""" +
      s""""bytes_small":$small,"bytes_big":$big,""" +
      s""""ratio":${big.toDouble / small}}""")
    // Same guard as the unit test: the ratio bound plus an absolute-bytes
    // floor, so a run with a small absolute baseline cannot fail on fixed
    // per-job overhead noise rather than real O(corpus) growth.
    assert(big < math.max(small * 3 / 2, small + 64 * 1024),
      s"probe shuffle bytes tracked corpus growth: $small -> $big")
  }

  /** Round-12 addition: incremental append to the MATERIALIZED index at
    * replica volume. Build once over the corpus, search (baseline), fold
    * in a 2%-of-corpus batch with frozen codebooks via
    * [[graft.ops.IvfPqIndex.appendToIndex]], search again. The claims
    * under test: append cost tracks |delta| (not corpus), and per-search
    * cost is unchanged by the append (the delta's files join the same
    * cell-pruned scan). */
  private def round12Section(spark: SparkSession, replicas: Int): Unit = {
    val embBase = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
    val embCorpus = embBase.crossJoin(spark.range(replicas).toDF("rep"))
      .select((col("vec_id") * replicas + col("rep")).as("vec_id"),
        expr("transform(embedding, (x, i) -> x + cast(rep as float) / 1000)").as("embedding"),
        col("label"))
      .localCheckpoint(true)
    val n = embCorpus.count()
    println(s"embeddings: $n vectors (${replicas}x sf0.1)")
    val idxDir = java.nio.file.Files.createTempDirectory("smoke-ivfpq-app").toString
    timed("ivfpq_build_index") {
      graft.ops.IvfPqIndex.buildAndWrite(embCorpus, idxDir) }
    def search(tag: String): Unit = timed(tag) {
      assert(graft.ops.IvfPqIndex.searchIndex(spark, idxDir, embCorpus)
        .count() == graft.ops.IvfPqIndex.SearchQueries * 5L) }
    search("search_before_append")
    // tonight's crawl: a perturbed twin of every 50th corpus vector, ids
    // shifted above the live domain (2% of corpus — the daily-batch shape)
    val delta = graft.ops.Quantize.plantedDelta(embCorpus, idShift = n)
    println(s"delta: ${delta.count()} vectors")
    timed("ivfpq_append_frozen") {
      graft.ops.IvfPqIndex.appendToIndex(spark, idxDir, delta) }
    // post-append search must pass the FULL corpus (base ∪ delta): the
    // re-rank stage fetches full-precision vectors by inner join, so a
    // corpus frame missing the appended ids would silently drop the true
    // nearest neighbors (the review-caught failure this guards).
    val embAll = embCorpus.unionByName(
      delta.select(col("vec_id"),
        expr("cast(v as array<float>)").as("embedding"), lit(-1L).as("label")))
      .localCheckpoint(true)
    timed("search_after_append") {
      val rows = graft.ops.IvfPqIndex.searchIndex(spark, idxDir, embAll)
        .collect()
      assert(rows.length == graft.ops.IvfPqIndex.SearchQueries * 5)
      // every query's perturbed twin was appended at id+n and must now
      // top at least SOME results — the appended vectors are findable
      assert(rows.exists(_.getAs[Long]("vec_id") >= n),
        "no appended vector surfaced in any top-k")
    }

    // ---- (b) persisted LSH dedup index: sketch once, probe per batch.
    // The claim: probing a 4%-of-corpus arriving batch against the
    // PERSISTED sketch costs a fraction of re-sketching the corpus (the
    // in-query incremental), and the answers are identical.
    val docsBase = graft.sources.Tables.documents(spark, "/root/testdata/sf0.1")
      .select(col("doc_id"), col("text"))
    val docsCorpus = docsBase.crossJoin(spark.range(replicas).toDF("rep"))
      .select((col("doc_id") * replicas + col("rep")).as("doc_id"),
        concat(col("text"), lit(" r"), col("rep")).as("text"))
      .localCheckpoint(true)
    val nDocs = docsCorpus.count()
    println(s"documents: $nDocs docs (${replicas}x sf0.1)")
    val lshDir = java.nio.file.Files.createTempDirectory("smoke-lsh-idx").toString
    timed("lsh_build_index") {
      graft.ops.LshIndex.buildAndWrite(docsCorpus, lshDir) }
    val docsDelta = docsCorpus.filter(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + nDocs).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
      .localCheckpoint(true)
    println(s"delta: ${docsDelta.count()} docs")
    var probed = 0L
    timed("lsh_probe_batch") {
      probed = graft.ops.LshIndex.probeBatch(spark, lshDir, docsDelta, nDocs)
        .count() }
    var recomputed = 0L
    timed("lsh_incremental_recompute") {
      recomputed = graft.ops.Dedup.minhashIncremental(
        docsCorpus.unionByName(docsDelta), newFrom = nDocs).count() }
    assert(probed == recomputed && probed > 0,
      s"probe $probed != recompute $recomputed")
  }

  /** Round-11 additions. (a) The materialized IVF-PQ index's operating
    * claim at replica volume: build once (train + encode + gavro write),
    * then search many — per-search cost must sit far below the build and
    * stay flat as searches repeat. (b) OPTIMIZE under concurrent writer
    * traffic: a writer commits continuously while the swap runs; measure
    * the overhead vs the idle swap on an identical archive and verify no
    * writer commit is lost (the reconcile-then-retire fold's job). */
  private def round11Section(spark: SparkSession, replicas: Int): Unit = {
    import org.apache.spark.unsafe.types.UTF8String
    // ---- (a) prebuilt index: build once, search many
    val embBase = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
    val embCorpus = embBase.crossJoin(spark.range(replicas).toDF("rep"))
      .select((col("vec_id") * replicas + col("rep")).as("vec_id"),
        expr("transform(embedding, (x, i) -> x + cast(rep as float) / 1000)").as("embedding"),
        col("label"))
      .localCheckpoint(true)
    println(s"embeddings: ${embCorpus.count()} vectors (${replicas}x sf0.1)")
    val idxDir = java.nio.file.Files.createTempDirectory("smoke-ivfpq-idx").toString
    timed("ivfpq_build_index") {
      graft.ops.IvfPqIndex.buildAndWrite(embCorpus, idxDir) }
    timed("ivfpq_search_prebuilt") {
      assert(graft.ops.IvfPqIndex.searchIndex(spark, idxDir, embCorpus)
        .count() == graft.ops.IvfPqIndex.SearchQueries * 5L) }
    timed("ivfpq_search_again") {
      assert(graft.ops.IvfPqIndex.searchIndex(spark, idxDir, embCorpus)
        .count() == graft.ops.IvfPqIndex.SearchQueries * 5L) }

    // ---- (b) optimize under concurrent writer traffic
    val evBase = graft.sources.Tables.events(spark, "/root/testdata/sf0.1")
    val evCorpus = evBase.crossJoin(spark.range(replicas).toDF("rep"))
      .withColumn("event_id", col("event_id") * replicas + col("rep"))
      .withColumn("user_id", col("user_id") * replicas + col("rep"))
      .drop("rep").localCheckpoint(true)
    val total = evCorpus.count()
    println(s"events: $total rows (${replicas}x sf0.1), archived as 64 files twice")
    def archive(): String = {
      val dir = java.nio.file.Files.createTempDirectory("smoke-opt-w").toString
      graft.sources.Gavro.write(evCorpus.repartition(64)
        .select(graft.sources.AvroCodec.requestLogRec.as("rec"))
        .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), dir)
      dir
    }
    // one tiny, VALID request_log file per writer commit (the post-swap
    // scan proves the whole dataset incl. the traffic survived)
    def landTinyFile(dir: String, i: Int): String = {
      val name = f"traffic-$i%05d.gavro"
      val rec = graft.sources.AvroCodec.RequestLog
      val vals: Array[Any] = Array(1000000000L + i,
        UTF8String.fromString("/api/traffic"), UTF8String.fromString("GET"),
        200, 1, 1L, UTF8String.fromString("s"), UTF8String.fromString("r"),
        UTF8String.fromString("u"), UTF8String.fromString("web"),
        1000000L * i)
      val w = new graft.sources.GavroFileWriter(new java.io.File(dir, name),
        graft.sources.GavroFileWriter.Layout(graft.sources.Gavro.DefaultBlockBytes,
          0, Seq.empty, Seq.empty))
      w.append(graft.sources.AvroCodec.encode(rec, vals(_), _ => false),
        org.apache.spark.sql.catalyst.InternalRow.empty)
      w.commit()
      graft.sources.Gavro.commitBatch(dir, Seq(name))
      name
    }
    val idleDir = archive()
    timed("optimize_idle") {
      assert(graft.sources.Gavro.optimize(idleDir).nonEmpty) }
    val busyDir = archive()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val writerErr =
      new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val writer = new Thread(() => {
      var i = 0
      try while (!stop.get()) {
        landed.add(landTinyFile(busyDir, i)); i += 1
        Thread.sleep(5)
      } catch { case t: Throwable => writerErr.set(t) }
    })
    writer.start()
    try timed("optimize_under_writers") {
      assert(graft.sources.Gavro.optimize(busyDir).nonEmpty) }
    finally { stop.set(true); writer.join() }
    // a silently-dead writer would make the zero-loss check vacuous
    assert(writerErr.get() == null, s"writer thread died: ${writerErr.get()}")
    assert(landed.size > 10, s"writer landed only ${landed.size} commits")
    println(s"writer landed ${landed.size} commits during the swap")
    // zero loss, record-exact: the post-swap snapshot holds every base
    // row and every traffic row exactly once (a traffic file that landed
    // before the merge's listing may legitimately be ABSORBED — its
    // records live in the merged output — so the accounting is at record
    // grain, not file names)
    val scanned = spark.read.format("gavro")
      .option("schema", "request_log").load(busyDir).count()
    assert(scanned == total + landed.size,
      s"post-swap scan $scanned != ${total + landed.size}")
    println(s"post-swap scan: $scanned rows = $total base + ${landed.size} traffic (exact)")
  }

  /** OPTIMIZE read-path claim at replica volume: the same archive as 64
    * small files vs the bin-packed layout — scan wall time must not
    * regress and the file count collapses; the rewrite itself is a raw
    * byte copy and should be IO-bound, far cheaper than a decode-based
    * rewrite. */
  private def optimizeSection(spark: SparkSession, replicas: Int): Unit = {
    val evBase = graft.sources.Tables.events(spark, "/root/testdata/sf0.1")
    val evCorpus = evBase.crossJoin(spark.range(replicas).toDF("rep"))
      .withColumn("event_id", col("event_id") * replicas + col("rep"))
      .withColumn("user_id", col("user_id") * replicas + col("rep"))
      .drop("rep").localCheckpoint(true)
    println(s"events: ${evCorpus.count()} rows (${replicas}x sf0.1)")
    val dir = java.nio.file.Files.createTempDirectory("smoke-optimize").toString
    graft.sources.Gavro.write(evCorpus.repartition(64)
      .select(graft.sources.AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.endpoint").as("endpoint"),
        col("rec.status_code").as("status_code")), dir,
      statCols = Seq("endpoint", "status_code"))
    def scan() = spark.read.format("gavro")
      .option("schema", "request_log").load(dir)
      .groupBy(col("endpoint")).agg(count(lit(1)).as("n"))
    timed("gavro_scan_64_files") {
      scan().write.format("noop").mode("overwrite").save() }
    var merged: Seq[String] = Seq.empty
    timed("gavro_optimize") { merged = graft.sources.Gavro.optimize(dir) }
    println(s"merged into ${merged.length} file(s); live = " +
      graft.sources.Gavro.listDataFiles(dir).length)
    timed("gavro_scan_optimized") {
      scan().write.format("noop").mode("overwrite").save() }
  }

  /** Round-10 additions: real PNG decode at replica volume (is the
    * one-reader-per-partition amortization holding?), the IVF-PQ probe
    * pruning vs the PQ full code scan, the two extra full-column passes an
    * equi-height histogram adds to ANALYZE, and the commit-log checkpoint's
    * reader-listing claim measured against a no-checkpoint log of the same
    * depth. */
  private def round10Section(spark: SparkSession, replicas: Int): Unit = {
    def t(name: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      time(spark, name)(df)
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.1")
    val corpus = base.crossJoin(spark.range(replicas).toDF("rep"))
      .select((col("doc_id") * replicas + col("rep")).as("doc_id"),
        concat(col("text"), lit(" rep"), col("rep")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .localCheckpoint(true)
    println(s"corpus: ${corpus.count()} docs (${replicas}x sf0.1)")
    t("media_decode_batched") {
      graft.ops.Multimodal.decodeBatched(graft.ops.Multimodal.pngCorpus(corpus)) }
    t("media_decode_permissive") {
      graft.ops.Multimodal.decodeBatched(
        graft.ops.Multimodal.pngCorpusWithCorrupt(corpus)) }

    val embBase = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
    val embCorpus = embBase.crossJoin(spark.range(replicas).toDF("rep"))
      .select((col("vec_id") * replicas + col("rep")).as("vec_id"),
        expr("transform(embedding, (x, i) -> x + cast(rep as float) / 1000)").as("embedding"),
        col("label"))
      .localCheckpoint(true)
    println(s"embeddings: ${embCorpus.count()} vectors")
    t("ann_pq_topk") { graft.ops.Quantize.annPqTopK(embCorpus) }
    t("ann_ivfpq_topk") { graft.ops.Quantize.annIvfPqTopK(embCorpus) }
    t("ann_ivfpq_rerank") { graft.ops.Quantize.annIvfPqRerankTopK(embCorpus) }
    t("ann_ivfpq_incremental") {
      graft.ops.Quantize.annIvfPqIncrementalTopK(embCorpus) }

    // ANALYZE cost: the histogram's two extra full-column passes
    // (percentile edges + value-grain per-bin NDV) measured against the
    // base numRows/NDV/min-max profile on the same replicated table.
    val orBase = graft.sources.Tables.orders(spark, "/root/testdata/sf0.1")
    val pdir = java.nio.file.Files.createTempDirectory("smoke-analyze").toFile
    orBase.crossJoin(spark.range(replicas).toDF("rep"))
      .withColumn("o_orderkey", col("o_orderkey") * replicas + col("rep"))
      .withColumn("o_custkey", col("o_custkey") * replicas + col("rep"))
      .drop("rep")
      .write.mode("overwrite").parquet(pdir.getAbsolutePath)
    spark.sql("DROP TABLE IF EXISTS smoke_orders")
    spark.sql("CREATE TABLE smoke_orders USING parquet LOCATION " +
      s"'${pdir.getAbsolutePath}'")
    println(s"orders table: ${spark.table("smoke_orders").count()} rows")
    val cols = Seq("o_custkey", "o_totalprice")
    timed("analyze_no_histogram") {
      graft.ops.Profiling.analyzeTable(spark, "smoke_orders", cols,
        withHistograms = false) }
    timed("analyze_with_histogram") {
      graft.ops.Profiling.analyzeTable(spark, "smoke_orders", cols,
        withHistograms = true) }
    spark.sql("DROP TABLE IF EXISTS smoke_orders")

    // Commit-log checkpoint claim: resolve the visible file set from a
    // deep log. Fixture A is the no-checkpoint world (2000 raw commit
    // records — what every reader pays without compaction); fixture B is
    // the same log after checkpoint()+compactLog (one checkpoint + empty
    // tail). Same resolver, 20 iterations each.
    val commits = 2000
    def plantLog(dir: java.io.File): Unit = {
      val cd = new java.io.File(dir, graft.sources.Gavro.CommitsDir)
      cd.mkdirs()
      (0 until commits).foreach { i =>
        new java.io.File(dir, f"part-$i%05d.gavro").createNewFile()
        java.nio.file.Files.writeString(
          new java.io.File(cd, f"$i%010d-b.commit").toPath,
          f"part-$i%05d.gavro")
      }
    }
    val rawDir = java.nio.file.Files.createTempDirectory("smoke-gavro-raw").toFile
    plantLog(rawDir)
    val cpDir = java.nio.file.Files.createTempDirectory("smoke-gavro-cp").toFile
    plantLog(cpDir)
    graft.sources.Gavro.checkpoint(cpDir.getAbsolutePath)
    graft.sources.Gavro.compactLog(cpDir.getAbsolutePath)
    def resolve(dir: java.io.File): Int =
      graft.sources.Gavro.listDataFiles(dir.getAbsolutePath).length
    assert(resolve(rawDir) == commits && resolve(cpDir) == commits)
    timed(s"gavro_list_${commits}_records") {
      (0 until 20).foreach(_ => resolve(rawDir)) }
    timed("gavro_list_checkpointed") {
      (0 until 20).foreach(_ => resolve(cpDir)) }
  }

  /** Cross-split leakage audit at replica volume: the replica corpus is
    * the adversarial case (every doc has 19/49 near-dup siblings, many
    * across the md5 split), so candidate volume tracks minhash_candidates'
    * and the leak table is large — the shape check is that the split
    * filter adds nothing beyond the already-smoked candidate path. */
  private def leakageSection(spark: SparkSession, replicas: Int): Unit = {
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.1")
    val corpus = base.crossJoin(spark.range(replicas).toDF("rep"))
      .select((col("doc_id") * replicas + col("rep")).as("doc_id"),
        concat(col("text"), lit(" rep"), col("rep")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .localCheckpoint(true)
    println(s"corpus: ${corpus.count()} docs (${replicas}x sf0.1)")
    time(spark, "split_leakage") { graft.ops.Dedup.splitLeakage(corpus) }
  }

  /** Focused containment check: the replica corpus is the adversarial
    * duplication case (every doc quotes its 19/49 siblings), so the
    * unbounded pair count grows quadratically in replicas while the
    * top-N form's replay input is capped at N rows per doc. */
  private def containmentSection(spark: SparkSession, replicas: Int): Unit = {
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.1")
    val corpus = base.crossJoin(spark.range(replicas).toDF("rep"))
      .select((col("doc_id") * replicas + col("rep")).as("doc_id"),
        concat(col("text"), lit(" rep"), col("rep")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .localCheckpoint(true)
    println(s"corpus: ${corpus.count()} docs (${replicas}x sf0.1)")
    time(spark, "containment_topn") { graft.ops.Corpus.containmentTopN(corpus) }
  }

  /** Focused re-measure hook for the co-purchase shuffle rewrite. */
  private def copurchaseSection(spark: SparkSession, replicas: Int): Unit = {
    val liBase = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.1")
    val liCorpus = liBase.crossJoin(spark.range(replicas).toDF("rep"))
      .withColumn("l_orderkey", col("l_orderkey") * replicas + col("rep"))
      .drop("rep").localCheckpoint(true)
    println(s"lineitem: ${liCorpus.count()} rows")
    time(spark, "copurchase_similar") { graft.ops.Graph.copurchaseSimilar(liCorpus) }
  }

  /** Round-7 additions whose scale posture deserves its own check: the
    * guarded inverted index (bounded posting buffers under stopword
    * fan-in), the surprisal filter (vocab join + per-doc rollup), and
    * hard-negative mining (banded candidates + pre-fetch cap). */
  private def round7Section(spark: SparkSession, replicas: Int): Unit = {
    def t(name: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      time(spark, name)(df)
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.1")
    val corpus = base.crossJoin(spark.range(replicas).toDF("rep"))
      .select((col("doc_id") * replicas + col("rep")).as("doc_id"),
        concat(col("text"), lit(" rep"), col("rep")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .localCheckpoint(true)
    println(s"corpus: ${corpus.count()} docs (${replicas}x sf0.1)")
    t("inverted_index") { graft.ops.TextStats.invertedIndex(corpus) }
    t("unigram_surprisal") { graft.ops.TextStats.unigramSurprisal(corpus) }
    t("source_datacard") { graft.ops.Pipeline.sourceDatacard(corpus) }
    val embBase = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
    val embCorpus = embBase.crossJoin(spark.range(replicas).toDF("rep"))
      .select((col("vec_id") * replicas + col("rep")).as("vec_id"),
        expr("transform(embedding, (x, i) -> x + cast(rep as float) / 1000)").as("embedding"),
        col("label"))
      .localCheckpoint(true)
    println(s"embeddings: ${embCorpus.count()} vectors")
    t("hard_negatives") { graft.ops.Similarity.hardNegatives(embCorpus) }
    t("centroid_confusion") { graft.ops.Similarity.centroidConfusion(embCorpus) }
    // Corpus-analysis batch: the replica corpus is the adversarial case
    // for containment (every replica is a near-exact quote of its
    // original, so candidate volume is maximal for the df band).
    t("ngram_diversity") { graft.ops.Corpus.ngramDiversity(corpus) }
    t("source_overlap") { graft.ops.Corpus.sourceOverlap(corpus) }
    t("vocab_growth") { graft.ops.Corpus.vocabGrowth(corpus) }
    t("khop_reach") { graft.ops.Graph.khopReach(corpus) }
    t("containment_pairs") { graft.ops.Corpus.containmentPairs(corpus) }
    t("containment_topn") { graft.ops.Corpus.containmentTopN(corpus) }
    // Round-7 landings that missed the last smoke refresh: the co-purchase
    // wedge neighborhood (largest new shuffle — the Σ order_size² bound
    // needs a measured point), session path trigrams (per-user windows),
    // and the column profiler (value-grain histograms per column).
    val liBase = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.1")
    val liCorpus = liBase.crossJoin(spark.range(replicas).toDF("rep"))
      .withColumn("l_orderkey", col("l_orderkey") * replicas + col("rep"))
      .drop("rep").localCheckpoint(true)
    println(s"lineitem: ${liCorpus.count()} rows")
    t("copurchase_similar") { graft.ops.Graph.copurchaseSimilar(liCorpus) }
    val evBase = graft.sources.Tables.events(spark, "/root/testdata/sf0.1")
    val evCorpus = evBase.crossJoin(spark.range(replicas).toDF("rep"))
      .withColumn("event_id", col("event_id") * replicas + col("rep"))
      .withColumn("user_id", col("user_id") * replicas + col("rep"))
      .drop("rep").localCheckpoint(true)
    println(s"events: ${evCorpus.count()} rows")
    t("path_trigrams") { graft.ops.Corpus.pathTrigrams(evCorpus) }
    val orBase = graft.sources.Tables.orders(spark, "/root/testdata/sf0.1")
    val orCorpus = orBase.crossJoin(spark.range(replicas).toDF("rep"))
      .withColumn("o_orderkey", col("o_orderkey") * replicas + col("rep"))
      .withColumn("o_custkey", col("o_custkey") * replicas + col("rep"))
      .drop("rep").localCheckpoint(true)
    println(s"orders: ${orCorpus.count()} rows")
    t("column_profile") { graft.ops.Profiling.columnProfile(orCorpus) }
  }

  /** Wall seconds of `body`, printed under `name`. */
  private def timed(name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"$name%-28s $secs%8.2f s")
    secs
  }

  private def time(spark: SparkSession, name: String)(
      df: => org.apache.spark.sql.DataFrame): Unit = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"$name%-22s ${secs}%8.2f s")
  }

  private def docsSection(spark: SparkSession, replicas: Int): Unit = {
    def t(name: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      time(spark, name)(df)
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.1")
    // Replicate with a per-replica token suffix so replicas are near-dups of
    // their original (every suffix shifts the shingle set slightly) and
    // doc_ids stay unique.
    val corpus = base.crossJoin(spark.range(replicas).toDF("rep"))
      .select((col("doc_id") * replicas + col("rep")).as("doc_id"),
        concat(col("text"), lit(" rep"), col("rep")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .localCheckpoint(true)
    val n = corpus.count()
    println(s"corpus: $n docs (${replicas}x sf0.1)")

    import graft.ops.{Curation, Dedup, Pipeline, TextStats}
    t("exact_dedup") { Dedup.exactDedup(corpus) }
    t("minhash_candidates") { Dedup.minhashCandidates(corpus) }
    t("simhash_pairs") { Dedup.simhashPairs(corpus) }
    t("dup_clusters") { Dedup.dupClusters(corpus) }
    t("token_packing") { Pipeline.tokenPacking(corpus) }
    t("quality_filter") { Pipeline.qualityFilter(corpus) }
    t("doc_top_term") { TextStats.docTopTerm(corpus) }
    t("doc_freq_score") { TextStats.docFreqScore(corpus) }
    t("line_dedup") { Curation.lineDedup(corpus) }
    t("contamination_check") { Curation.contaminationCheck(corpus) }
    t("contamination_bloom") { Curation.contaminationBloom(corpus) }
    t("paragraph_dedup") { Curation.paragraphDedup(corpus) }
    t("fuzzy_title_pairs") { Dedup.fuzzyTitlePairs(corpus) }
    t("curation_funnel") { Curation.curationFunnel(corpus) }
    t("duplicate_spans") { Dedup.duplicateSpans(corpus) }
    t("rare_bigram_score") { TextStats.rareBigramScore(corpus) }
    t("jaccard_prefix_join") { Dedup.jaccardPrefixJoin(corpus) }
    t("media_phash_dedup") { graft.ops.Multimodal.phashPairs(corpus) }
    t("training_order") { Pipeline.trainingOrder(corpus) }
    t("doc_chunks") { Pipeline.docChunks(corpus) }
    // Global top-k via the extended rewrite: the final merge only ever
    // sees ~P×k partial survivors, so this must stay flat as docs grow.
    t("bm25_topk") { TextStats.bm25TopK(corpus) }
    t("secret_scan") { Curation.secretScan(corpus) }
    t("length_bucketing") { Pipeline.lengthBucketing(corpus) }
    t("link_rank") { graft.ops.Graph.linkRank(corpus) }
    // embeddings scale path: replicate the vector fixture the same way
    val embBase = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
    val embCorpus = embBase.crossJoin(spark.range(replicas).toDF("rep"))
      .select((col("vec_id") * replicas + col("rep")).as("vec_id"),
        expr("transform(embedding, (x, i) -> x + cast(rep as float) / 1000)").as("embedding"),
        col("label"))
      .localCheckpoint(true)
    println(s"embeddings: ${embCorpus.count()} vectors")
    t("semantic_dedup") { graft.ops.Similarity.semanticDedup(embCorpus) }
    t("knn_graph") { graft.ops.Similarity.knnGraph(embCorpus) }
  }

  /** Events + lineitem scale path: widens the USER population (ids
    * remapped per replica) while per-user history depth stays fixed — the
    * axis a production event stream actually grows on. Sublinear-ish wall
    * time here certifies the temporal operators' claims: value-grain
    * histograms (rfm/mad) are population-independent, session windows
    * shard by user, attribution carries O(1) state per user. */
  private def temporalSection(spark: SparkSession, replicas: Int): Unit = {
    def t(name: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      time(spark, name)(df)
    val evBase = graft.sources.Tables.events(spark, "/root/testdata/sf0.1")
    val evCorpus = evBase.crossJoin(spark.range(replicas).toDF("rep"))
      .withColumn("event_id", col("event_id") * replicas + col("rep"))
      .withColumn("user_id", col("user_id") * replicas + col("rep"))
      .drop("rep").localCheckpoint(true)
    println(s"events: ${evCorpus.count()} rows (${replicas}x sf0.1)")
    import graft.ops.Temporal
    t("rfm_segments") { Temporal.rfmSegments(evCorpus) }
    t("session_paths") { Temporal.sessionPaths(evCorpus) }
    t("mad_anomalies") { Temporal.madAnomalies(evCorpus) }
    t("purchase_attribution") { Temporal.purchaseAttribution(evCorpus) }
    // lineitem scale path for the wedge join: replicated orders over the
    // SAME part universe — edge set is unchanged, so this times the
    // explode + distinct volume funnel feeding the O(m^1.5) join.
    val liBase = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.1")
    val liCorpus = liBase.crossJoin(spark.range(replicas).toDF("rep"))
      .withColumn("l_orderkey", col("l_orderkey") * replicas + col("rep"))
      .drop("rep").localCheckpoint(true)
    println(s"lineitem: ${liCorpus.count()} rows")
    t("triangle_count") { graft.ops.Graph.triangleCount(liCorpus) }
  }
}
