package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Gavro, Tables}

/** A MATERIALIZED MinHash-LSH dedup index — sketch once, probe every
  * batch.
  *
  * The in-query near-dup family ([[Dedup.minhashCandidates]],
  * [[Dedup.minhashIncremental]]) recomputes the corpus sketch pipeline
  * (shingle → hash → 12-way MinHash → 6×2 banding) inside every query —
  * right for a self-contained oracle, but at 100 TB the corpus sketch is
  * THE expensive half (O(corpus tokens) of hashing) and a daily ingest
  * must not repeat it. [[Dedup.minhashIncremental]]'s scaladoc already
  * names the production shape: "band rows of the full corpus … READ BACK
  * from the persisted sketch/band table". This object IS that table,
  * persisted with the same machinery as the ANN index ([[IndexHome]]):
  *
  *   - `sigs/`  — the 12-element MinHash signature per document,
  *     scalar-exploded as (doc_id, pos, m) rows (scalars keep the gavro
  *     footer-stats machinery);
  *   - `bands/` — (doc_id, band_idx, band_key) bucket membership, the
  *     probe join's build side, ONE BAND PER FILE
  *     ([[Gavro.exactPartition]]) with band_idx in the footer stats;
  *   - `buckets/` — per-(bucket, commit) occupancy (n, max_doc), the
  *     table that lets the probe evaluate the mega-bucket cap and find
  *     persisted probe-side rows WITHOUT shuffling the corpus.
  *
  * The nightly-batch probe then costs O(Δdocs) in BOTH sketch work and
  * shuffle bytes: sketch ONLY the arriving batch, resolve the touched
  * buckets' persisted occupancy through broadcast joins, fetch just the
  * surviving buckets' membership and just the candidate pairs'
  * signatures from the persisted tables (again behind broadcasts), and
  * join within buckets restricted to pairs that touch the new batch —
  * new×old and new×new, never old×old. The persisted tables are scanned,
  * never exchanged; at cluster scale they'd additionally be bucketed by
  * band_key so the scans themselves prune.
  *
  * Everything is deterministic (md5-derived hash family, exact integer
  * arithmetic), so the probe result is hash-equal to the in-query
  * incremental rebuild — the oracle proves the persisted artifact
  * answers exactly what a from-scratch run would.
  */
object LshIndex {

  /** Bump when the sketch pipeline or layout changes — keys the cache.
    * (v2: added the `buckets/` occupancy table that makes the probe's
    * shuffle O(Δ). v3: bands laid out one-band-per-file via
    * [[Gavro.exactPartition]] so the scan reports KeyGroupedPartitioning
    * — a v2 artifact's range-sampled layout cannot prove the key. v4:
    * bands and buckets carry a `slot` hash-bucket column and are laid out
    * one-slot-per-file (6·[[SaltM]] writer tasks instead of 6, probe
    * scans prune files by `slot IN (touched…)`); the sigs write drops its
    * single-task coalesce. v5: occupancy rows sorted by max_doc within
    * slot files (floor-aware block skipping for hot-bucket discovery) — a
    * v4 artifact answers identically but cannot honor the block-skip
    * claim, so the layout contract keys a fresh build.) */
  val Version = 5

  /** Salt slots per band: the band's rows spread over this many files
    * (hash of the bucket key), so the build writes with 6·SaltM-task
    * parallelism and a probe touching few buckets opens few files. Sized
    * for the sandbox fixture; at 100 TB this is the knob that keeps one
    * file ≈ one HDFS-block-sized unit (the probe's IN pushdown caps at
    * [[Gavro.InPushMax]] values, so 6·SaltM stays comfortably pushable —
    * and so does the touched-BUCKET key list for probes up to hundreds of
    * delta docs, which is what keeps block-level skipping engaged on
    * large nightly batches). */
  val SaltM = 8

  private val NumBands = 6

  /** The layout hash bucket of a band row — MUST match what the writers
    * store in the `slot` field: files are exact-partitioned on this, so a
    * probe recomputing the same expression over its touched bucket keys
    * gets exactly the file slices that can hold them. */
  private[graft] def slotExpr: org.apache.spark.sql.Column =
    (col("band_idx") * SaltM + pmod(xxhash64(col("band_key")), lit(SaltM)))
      .cast("int")

  /** First doc_id of "tonight's batch" — the fixture's planted near-dup
    * ids, matching [[Dedup.minhashIncremental]]'s default. */
  val NewFrom = 10000L

  /** `scope` separates the canonical probe instance ("") from the
    * append-maintained one ("a") — one key format, two namespaces. */
  private def sfPrefix(sfDir: String, scope: String = ""): String =
    s"graft_lsh_v${Version}${scope}_" + IndexHome.sha256Hex(sfDir, 6) + "_"

  private def srcFile(sfDir: String) =
    new java.io.File(sfDir, "documents.parquet")

  /** The append WAL discipline ([[Gavro.withAppendMarker]] /
    * [[Gavro.requireNotTorn]], lifted there in r15 so the next
    * multi-table writer can't skip it): [[appendSigs]] brackets its three
    * table commits with the marker, so a crash between them leaves
    * durable evidence. The probe trusts buckets/ for hot-bucket discovery
    * and cap totals; without the marker a torn append (bands landed,
    * buckets missing) would make it silently miss new-vs-old pairs.
    * Commit-count comparison cannot carry this tripwire: each table's log
    * auto-checkpoints on its own cadence, resetting the counters
    * asynchronously mid-append. */
  val AppendStallMs: Long = Gavro.AppendStallMs

  // DESIGN RECORD (r15): a "small-index fast path" — skip the hot-set
  // collect and all slot/key pruning below a bands-bytes threshold, on
  // the theory that the pruning machinery's fixed per-trigger cost
  // dominates at fixture scale — was BUILT, MEASURED, AND REMOVED this
  // round. Same-run canonical comparisons (sf0.1, two independent runs)
  // put the pruned plan AHEAD at small scale too (1.84 vs 2.05 s,
  // 1.95 vs 2.75 s) and the fast path ADDED ~25% probe shuffle: the
  // collected hot set becomes a LocalRelation whose broadcasts re-execute
  // nothing, while the lazy-frame alternative re-runs the occupancy
  // scan + distinct per broadcast reference. The collect is the cheap
  // shape at every scale; the probe's residual fixture-scale wall
  // (~1.3-2 s) is fixed per-job scheduling across its eager waves, not
  // pruning overhead.

  /** Sketch `corpus` = (doc_id, text) and persist sigs/ + bands/ +
    * buckets/ under `dir`. Pure function of the input (md5-derived hash
    * family). All three tables use [[Gavro.DefaultBlockBytes]] blocks. */
  def buildAndWrite(corpus: DataFrame, dir: String): Unit = {
    val sigs = Dedup.minhashSignatures(corpus)
      .select(col("doc_id"), col("sig")).persist()
    val sigRows = sigs
      .select(col("doc_id"), posexplode(col("sig"))).toDF("doc_id", "pos", "m")
      .select(expr("to_avro_graft(struct(doc_id, pos, m), 'lsh_sigs')")
        .as("bin"))
    // Full write parallelism: nothing needs one file — the sig fetch is a
    // broadcast-filtered scan, per-file task fan-out only helps it. (The
    // pre-v4 coalesce(1) serialized the CORPUS-scale table through one
    // task: the build-wall cap the round-13 verdict flagged.)
    Gavro.write(sigRows, s"$dir/sigs")
    // Uncapped: the index stores EVERY band row; the mega-bucket skew cap
    // is probe-time policy (it must count probe-side rows too, the way
    // the oracle does — the `buckets/` table below supplies the persisted
    // half of that count without a probe-time corpus shuffle).
    //
    // ONE router shuffle feeds BOTH tables: raw band rows route by slot
    // (one slot per output partition, 6·SaltM writer tasks — footer
    // min == max on band_idx AND slot, so the scan still reports
    // KeyGroupedPartitioning on band_idx while a probe's `slot IN`
    // prunes to the touched buckets' hash slices), the bands encode is a
    // narrow projection AFTER the route, and occupancy aggregates
    // PARTITION-LOCALLY on the routed rows (a slot's buckets are
    // complete within their partition by construction) — zero additional
    // exchange, and Spark reuses the router's shuffle files across the
    // two write actions.
    // Rows SORTED by band_key within each slot file: per-BLOCK footer
    // stats then carry tight band_key ranges, so a probe's pushed
    // `band_key IN (…)` skips whole blocks inside a surviving slot file —
    // the sub-file pruning axis slot files alone can't give.
    val routed = Gavro.exactPartition(
        Dedup.bands(sigs).withColumn("slot", slotExpr),
        "slot", NumBands * SaltM).persist()
    Gavro.write(bandBins(routed), s"$dir/bands", statCols = BandStatCols)
    Gavro.write(occupancyBins(routed), s"$dir/buckets",
      statCols = Seq("band_idx", "max_doc", "slot"))
    routed.unpersist()
    sigs.unpersist()
    ()
  }

  /** The one write shape for the bands table — build, append, and both
    * maintenance rewrites all encode through here, so the band_key sort
    * (per-block footer ranges a probe's pushed `band_key IN` skips on)
    * and the stat columns can never drift apart between the paths.
    * Narrow ops only: the slot routing of `routedRaw` is preserved. */
  private def bandBins(routedRaw: DataFrame): DataFrame =
    routedRaw.sortWithinPartitions(col("band_key"))
      .select(expr(
        "to_avro_graft(struct(doc_id, band_idx, band_key, slot), 'lsh_bands')")
        .as("bin"), col("band_idx"), col("slot"), col("band_key"))

  private val BandStatCols = Seq("band_idx", "slot", "band_key")

  /** Per-bucket occupancy rows derived from SLOT-ROUTED band rows
    * (doc_id, band_idx, band_key, slot — every partition holds exactly
    * one slot, so every bucket's rows are partition-complete): aggregate
    * inside each partition with a bounded map, no exchange. Emitting a
    * bucket in several rows when the map cap flushes is sound — readers
    * sum `n` and max `max_doc` over a bucket's rows by contract (the
    * per-commit append rows already require it). A bucket's TOTAL size is
    * `sum(n)` over its rows; its probe-side membership is `max_doc`,
    * which rides the footer stats so a probe's `max_doc >= floor` scan
    * skips every file whose batch lies entirely below the floor (the
    * whole base build, usually). */
  private def occupancyBins(routedBands: DataFrame): DataFrame =
    occupancyRows(routedBands)
      // FLOOR-AWARE block layout: rows sorted by max_doc within each slot
      // file, so per-block footer ranges are tight on max_doc and the
      // probe's pushed `max_doc >= floor` skips the cold majority of
      // blocks — the axis that matters right after a full [[maintain]],
      // when every merged slot file spans all history and file-level
      // stats alone can't skip anything. Readers re-aggregate per bucket,
      // so row order is unobservable.
      .sortWithinPartitions(col("max_doc"))
      .select(expr(
        "to_avro_graft(struct(band_idx, band_key, n, max_doc, slot), 'lsh_buckets')")
        .as("bin"), col("band_idx"), col("max_doc"), col("slot"))

  /** The raw occupancy frame (band_idx, band_key, n, max_doc, slot) —
    * see [[occupancyBins]]'s scaladoc for the partition-local contract. */
  private def occupancyRows(routedBands: DataFrame): DataFrame = {
    val spark = routedBands.sparkSession
    val maxGroups = 1 << 20
    val occRdd = routedBands.rdd.mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.Row]
      val m = new java.util.HashMap[(Int, String), Array[Long]]()
      def flush(): Unit = {
        m.forEach { (k, v) =>
          out += org.apache.spark.sql.Row(k._1, k._2, v(0), v(1), v(2).toInt)
        }
        m.clear()
      }
      it.foreach { r =>
        val key = (r.getAs[Int]("band_idx"), r.getAs[String]("band_key"))
        val acc = m.get(key)
        val doc = r.getAs[Long]("doc_id")
        if (acc == null) {
          if (m.size >= maxGroups) flush()
          m.put(key, Array(1L, doc, r.getAs[Int]("slot").toLong))
        } else {
          acc(0) += 1L
          if (doc > acc(1)) acc(1) = doc
        }
        ()
      }
      flush()
      out.iterator
    }
    spark.createDataFrame(occRdd, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("band_idx",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("band_key",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("max_doc",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("slot",
          org.apache.spark.sql.types.IntegerType, nullable = false))))
  }

  /** The canonical per-sf-dir index over the PLAIN documents table (the
    * standing corpus a nightly batch probes against). */
  def ensure(spark: SparkSession, sfDir: String): String =
    IndexHome.ensureBuilt(spark, srcFile(sfDir), sfPrefix(sfDir)) { dir =>
      buildAndWrite(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text")), dir)
    }

  /** Signatures reassembled from the sigs table: (doc_id, sig). */
  def loadSigs(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("gavro").option("schema", "lsh_sigs").load(s"$dir/sigs")
      .groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
        .as("sig"))

  /** Band bucket membership read back: (doc_id, band_idx, band_key).
    * `keyed` reports the one-band-per-file storage partitioning to the
    * planner — use when the downstream plan clusters on band_idx (the
    * build summary's groupBy); the probe's broadcast joins gain nothing
    * from it, so the default keeps block-level task fan-out. `slots`
    * restricts the scan to the named layout slots: the filter pushes into
    * the reader, and since files are one-slot (footer min == max) the
    * scan OPENS only the touched hash slices — the file-level pruning
    * that keeps a small probe's I/O flat as the corpus grows. */
  def loadBands(spark: SparkSession, dir: String,
      keyed: Boolean = false, slots: Option[Seq[Int]] = None,
      keys: Option[Seq[String]] = None,
      slotKeys: Option[Seq[(Int, Seq[String])]] = None): DataFrame = {
    val r = spark.read.format("gavro").option("schema", "lsh_bands")
    val loaded = (if (keyed) r.option("partitionKey", "band_idx") else r)
      .load(s"$dir/bands")
    // `slotKeys` is the strongest pruning form (r16, rides the reader's
    // disjunctive pushdown): `(slot = s AND band_key IN keys_of_s) OR …`.
    // A flat `band_key IN (all keys)` admits nearly every BLOCK once the
    // probe is mid-size — each slot file spans the whole md5 keyspace
    // (slot = hash), so ~keys/blocksPerKeyspace land in every block
    // range. Scoping keys to their own slot kills 47 of 48 branches per
    // file on the slot equality (footer min = max = slot), leaving only
    // that file's ~keys/48 to test against its block ranges — block
    // admission drops from ~1 to ~keysPerSlot/blocksPerFile, the ratio
    // that stays tiny as the corpus (and blocksPerFile) grows.
    slotKeys.map(sk => loaded.filter(slotKeysPred(sk)))
      .getOrElse {
        val bySlot = slots.fold(loaded)(ss =>
          loaded.filter(col("slot").isin(ss.map(Int.box): _*)))
        // `keys` (≤ [[Gavro.InPushMax]] — the IN-pushdown cap) reaches
        // the reader too: non-candidate records drop at decode.
        keys.fold(bySlot)(ks => bySlot.filter(col("band_key").isin(ks: _*)))
      }
      .select(col("doc_id"), col("band_idx"), col("band_key"))
  }

  /** The slot-scoped disjunction: one Or branch per touched slot, each
    * `slot = s AND band_key IN (that slot's keys, sorted)`. Leaf count is
    * ≤ 2 · NumBands · SaltM = 96 — under the reader's
    * [[Gavro.TreeLeafMax]] — and each IN is its slot's share of the
    * (≤ [[Gavro.InPushMax]]) touched-bucket keys.
    *
    * Over-cap degrade: a layout with more touched slots than the tree cap
    * admits (2 leaves per slot) must NOT emit the tree — `pushFilters`
    * rejects an over-cap tree WHOLE, which would strip every level of
    * reader-side pruning (file skip, block skip, decode-time drop) and
    * leave a bare FilterExec over an unfiltered scan. Instead emit the
    * flat conjunction `slot IN (slots) AND band_key IN (all keys)`:
    * Catalyst splits conjuncts before pushdown, so the slot IN always
    * pushes (file-level pruning survives any slot count) and the key IN
    * pushes whenever it fits [[Gavro.InPushMax]] — a graceful ladder
    * instead of a cliff. */
  private[graft] def slotKeysPred(sk: Seq[(Int, Seq[String])])
      : org.apache.spark.sql.Column =
    if (2 * sk.length > Gavro.TreeLeafMax)
      col("slot").isin(sk.map(s => Int.box(s._1)): _*) &&
        col("band_key").isin(sk.flatMap(_._2): _*)
    else
      sk.map { case (s, ks) =>
        col("slot") === s && col("band_key").isin(ks: _*)
      }.reduce(_ || _)

  /** Bucket occupancy read back, one row per (bucket, commit):
    * (band_idx, band_key, n, max_doc). `slots`/`keys` prune like
    * [[loadBands]]'s. */
  def loadBuckets(spark: SparkSession, dir: String,
      slots: Option[Seq[Int]] = None,
      keys: Option[Seq[String]] = None,
      slotKeys: Option[Seq[(Int, Seq[String])]] = None): DataFrame = {
    val loaded = spark.read.format("gavro").option("schema", "lsh_buckets")
      .load(s"$dir/buckets")
    slotKeys.map(sk => loaded.filter(slotKeysPred(sk)))
      .getOrElse {
        val bySlot = slots.fold(loaded)(ss =>
          loaded.filter(col("slot").isin(ss.map(Int.box): _*)))
        keys.fold(bySlot)(ks => bySlot.filter(col("band_key").isin(ks: _*)))
      }
      .select(col("band_idx"), col("band_key"), col("n"), col("max_doc"))
  }

  /** Signatures for exactly the `ids` frame (one `doc_id` column),
    * reassembled by filtering the scalar sig rows BEFORE the rebuild
    * groupBy — the shuffle carries only the candidates' rows, never the
    * corpus sketch. */
  def loadSigsFor(spark: SparkSession, dir: String, ids: DataFrame): DataFrame =
    spark.read.format("gavro").option("schema", "lsh_sigs").load(s"$dir/sigs")
      .join(broadcast(ids), "doc_id")
      .groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
        .as("sig"))

  /** REBUILD the index and fingerprint the bands table READ BACK from
    * the written gavro files (per band: row count, distinct buckets, a
    * bucket-key checksum) — the oracle hash verifies the persisted
    * artifact itself, the same contract as `ann_ivfpq_build_index`. */
  def buildIndexSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val live = IndexHome.rebuildAndPublish(spark, srcFile(sfDir),
        sfPrefix(sfDir)) { dir =>
      buildAndWrite(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text")), dir)
    }
    loadBands(spark, live.getAbsolutePath, keyed = true)
      .groupBy(col("band_idx"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("band_key")).as("n_buckets"),
        sum(expr(s"${Dedup.md5i.format("band_key")} % 999999937"))
          .as("sum_key"))
      .orderBy(col("band_idx"))
  }

  /** Probe "tonight's batch" against the PERSISTED index: sketch ONLY
    * the delta (the planted near-dups, ids ≥ [[NewFrom]]), union its
    * band rows with the corpus bands read back from disk, apply the
    * probe-time mega-bucket cap over the combined view (exactly
    * [[Dedup.minhashIncremental]]'s semantics), and emit candidate pairs
    * touching the new batch with their estimated Jaccard. Hash-equal to
    * the in-query incremental rebuild — persisted-sketch probe ≡
    * recompute-everything, at O(Δdocs) sketch cost. */
  def probeNewBatch(spark: SparkSession, sfDir: String): DataFrame =
    probeBatch(spark, ensure(spark, sfDir),
      Dedup.nearCorpus(Tables.documents(spark, sfDir))
        .filter(col("doc_id") >= NewFrom),
      NewFrom)

  /** The serving form: probe an EXPLICIT arriving batch (doc_id, text)
    * against an index at `dir`. `newFrom` is the id floor of the batch —
    * pairs are restricted to those touching it. Sketch cost O(|delta|);
    * the corpus sketch is never recomputed, and (since the `buckets/`
    * occupancy table landed) the probe's SHUFFLES all carry O(|delta|)
    * too — the persisted tables are only scanned behind broadcast joins. */
  def probeBatch(spark: SparkSession, dir: String, delta: DataFrame,
      newFrom: Long): DataFrame =
    probeBatchKeepSigs(spark, dir, delta, newFrom)._1

  /** [[probeBatch]] that ALSO returns the delta's materialized signatures
    * — the dedup-on-ingest loop's shape: probe, filter survivors, then
    * [[appendSigs]] the already-computed signatures, so each micro-batch
    * is sketched EXACTLY ONCE (the pre-v4 loop paid the sketch twice:
    * once in the probe, once in the append's re-sketch). The returned
    * frame is eagerly checkpointed; filtering it to survivors and
    * appending costs no recompute. */
  def probeBatchKeepSigs(spark: SparkSession, dir: String, delta: DataFrame,
      newFrom: Long): (DataFrame, DataFrame) = {
    // SIZE CONTRACT: the probe broadcasts O(|delta|·cap)-bounded frames
    // (touched-bucket keys, their membership, candidate signatures) —
    // right for the nightly/per-trigger batch it serves (delta ≪ corpus,
    // the whole point of the standing index). A corpus-scale "delta"
    // would push those broadcasts toward the 8 GB driver limit; that job
    // is [[Dedup.minhashCandidates]]/[[Dedup.minhashIncremental]]'s
    // shuffle-based shape, not this one.
    //
    // The delta sketch feeds several downstream subtrees (and the loop's
    // append); without eager materialization every reference re-executes
    // the sketch shuffles (~5× the bytes — measured). localCheckpoint,
    // not persist: an eager checkpoint's blocks are released by the
    // ContextCleaner once the frame becomes unreachable, so the
    // once-per-micro-batch serve path cannot accumulate cached plans.
    val deltaSigs = Dedup.minhashSignatures(delta)
      .select(col("doc_id"), col("sig")).transform(Par.stage)
    (probeIndexed(spark, dir, Some(deltaSigs), newFrom), deltaSigs)
  }

  /** [[Dedup.bandProbe]]'s exact semantics re-planned against the
    * materialized artifact so NO exchange carries the corpus. The oracle
    * (`lsh_index_probe`/`lsh_index_append` share the in-query rebuild's
    * SQL unroll) and [[LshIndexSpec]]'s three-paths-one-answer checks pin
    * the equivalence. Shuffle accounting, the point of the rewrite:
    *
    *   - probe-side buckets come from the delta's own band rows plus the
    *     occupancy table filtered `max_doc >= newFrom` (footer-stat
    *     pushdown skips all-below-floor files — the base build, usually);
    *   - the mega-bucket cap sums PERSISTED per-commit counts for those
    *     buckets only (occupancy scan behind a broadcast join — the old
    *     plan's window count re-shuffled the full bands table per probe)
    *     and adds the delta's in-query counts;
    *   - band membership of surviving buckets is fetched from the bands
    *     table behind a broadcast of the bucket keys; the pair join
    *     broadcasts the probe side;
    *   - candidate signatures are fetched by broadcast-filtering the sig
    *     ROWS before their rebuild groupBy (the old plan joined the full
    *     corpus sig table twice, unpushed).
    *
    * Buckets the cap drops and buckets without a probe-side row produce
    * no pairs in [[Dedup.bandProbe]] either, so restricting every stage
    * to probe-relevant buckets is result-identical. */
  private def probeIndexed(spark: SparkSession, dir: String,
      deltaSigs: Option[DataFrame], newFrom: Long): DataFrame = {
    // TORN-APPEND TRIPWIRE ([[Gavro.requireNotTorn]]'s scaladoc has the
    // why): a stale in-flight marker means an append crashed between its
    // three table commits — fail LOUDLY instead of silently missing the
    // new-vs-old pairs the absent occupancy rows would hide. One mtime
    // read per probe.
    Gavro.requireNotTorn(dir)
    // deltaSigs arrives eagerly checkpointed ([[probeBatchKeepSigs]]) —
    // the first of the probe's eager waves; each wave is fixed
    // per-trigger latency on the serve path.
    val deltaBands = deltaSigs.map(ds => Dedup.bands(ds))
    val hotPersisted = loadBuckets(spark, dir)
      .filter(col("max_doc") >= newFrom)
      .select(col("band_idx"), col("band_key"))
    // The touched-bucket set comes to the DRIVER in one job: it is
    // O(Δ·bands)-bounded (the same bound under which it was already
    // being broadcast), and holding it driver-side buys two things at
    // once — the layout slots for FILE-LEVEL PRUNING (pushed into every
    // later scan of the slot-partitioned bands/buckets tables, so the
    // scans OPEN only the touched hash slices and a small probe's I/O
    // stays flat as the corpus and its append history grow), and a
    // LocalRelation hotKeys whose broadcast costs no re-execution of
    // the occupancy hot-scan (the pre-r14 plan either re-ran that
    // subtree per broadcast reference or paid an extra checkpoint wave
    // for it — the r15 fast-path experiment re-measured exactly that
    // trade and confirmed the collect wins at every scale; see the
    // design record above).
    import spark.implicits._
    val hotCollected = deltaBands
      .map(db => hotPersisted.unionByName(db.filter(col("doc_id") >= newFrom)
        .select(col("band_idx"), col("band_key"))))
      .getOrElse(hotPersisted)
      .distinct()
      .withColumn("slot", slotExpr)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    val hotSlots = hotCollected.map(_._3).distinct.sorted.toSeq
    // A probe touching every slot pushes nothing (the filter is vacuous).
    val slots = if (hotSlots.length >= NumBands * SaltM) None
      else Some(hotSlots)
    // When the touched BUCKET set fits the reader's IN cap
    // ([[Gavro.InPushMax]] — binary-search skip proofs and hashed row
    // eval keep the big list cheap; pre-r15 the cap was 64 and every
    // mid-size probe lost this), push the keys SLOT-SCOPED (r16, riding
    // the reader's new disjunctive pushdown): `(slot = s AND band_key IN
    // keys_of_s) OR …`. The flat one-IN-for-all-keys form proved
    // block-blind for mid-size probes — every slot file spans the whole
    // md5 keyspace, so a 600-key list intersects every block range
    // (measured 981/986 blocks read at 50×); scoping each slot's keys to
    // its own branch restores block admission ≈ keysPerSlot /
    // blocksPerFile (see [[loadBands]]).
    val hotBandKeys = hotCollected.map(_._2).distinct
    val slotKeys = if (hotBandKeys.nonEmpty &&
        hotBandKeys.length <= Gavro.InPushMax)
      Some(hotCollected.groupBy(_._3).toSeq.sortBy(_._1)
        .map { case (s, ts) => s -> ts.map(_._2).distinct.sorted.toSeq })
    else None
    val hotKeys = hotCollected.map(t => (t._1, t._2)).toSeq
      .toDF("band_idx", "band_key")
    val bucketCols = Seq("band_idx", "band_key")
    val pn = loadBuckets(spark, dir, slots, slotKeys = slotKeys)
      .join(broadcast(hotKeys), bucketCols)
      .groupBy(col("band_idx"), col("band_key")).agg(sum(col("n")).as("pn"))
    val totals = deltaBands.map(_.groupBy(col("band_idx"), col("band_key"))
        .agg(count(lit(1)).as("dn"))) match {
      case Some(dn) => pn.join(dn, bucketCols, "full_outer")
        .select(col("band_idx"), col("band_key"),
          (coalesce(col("pn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("tot"))
      case None => pn.select(col("band_idx"), col("band_key"),
        col("pn").as("tot"))
    }
    val okKeys = hotKeys.join(totals, bucketCols)
      .filter(col("tot") <= Dedup.MaxBucketSize)
      .select(col("band_idx"), col("band_key"))
    // xRows checkpointed (O(Δ·cap)-sized): it feeds the candidate-sig
    // fetch and the pair join's both sides; an unmaterialized reference
    // would re-execute its upstream — another sequential SCAN of the
    // corpus-scale bands table, the probe's dominant I/O at 100 TB.
    // okKeys stays lazy: its broadcast references are plan-identical, so
    // the exchange is built once and reused (its cap sum reads the
    // slot-pruned occupancy scan behind the LocalRelation hotKeys).
    // Three eager waves total (deltaSigs, xRows, xS below) plus the one
    // hot-set driver collect; every wave is fixed per-trigger latency on
    // the serve path.
    val memberCols = Seq(col("doc_id"), col("band_idx"), col("band_key"))
    val persistedMembers = loadBands(spark, dir, slots = slots,
        slotKeys = slotKeys)
      .join(broadcast(okKeys), bucketCols).select(memberCols: _*)
    // DESIGN RECORD (r16): wave fusion — replacing this eager checkpoint
    // with a lazy persist() populated by the candSigs broadcast's first
    // xIds scan and released after xS materializes — was built, measured
    // same-run (both variants registered in one Bench invocation, the
    // r15 fast-path method), and REMOVED: across three paired sf0.1
    // invocations the fused wall was +0.05 s / +0.16 s / +4.2 s AGAINST,
    // never ahead, with shuffle bytes deterministic on both sides
    // (488,483 vs 487,712 B — no data-flow change to win on). The
    // scheduling latency the fusion hoped to save just moves into the
    // broadcast job's lazy cache population; at production delta sizes
    // the waves amortize regardless (this was a small-serve latency
    // idea, not a scale item). Answers were oracle-hash-equal while the
    // twin existed (lsh_index_probe_fused, removed with this record).
    val xRows = deltaBands
      .map(db => persistedMembers.unionByName(
        db.join(broadcast(okKeys), bucketCols).select(memberCols: _*)))
      .getOrElse(persistedMembers)
      .transform(Par.stage)
    // Signatures attached to the bucket members BEFORE pairing (fetch
    // still candidate-bounded: only xRows' doc_ids, filtered ahead of
    // the sig-rebuild groupBy), so est_jaccard computes at pair time and
    // the distinct runs once over the finished rows — no re-join of the
    // pair set. Same answer: per-pair sig values are unique, so distinct
    // over (doc_a, doc_b, est) is distinct over the pair. xS is the
    // third checkpoint: both pair-join sides read it, so the sigs table
    // is scanned ONCE per probe (unmaterialized, the y-side broadcast
    // duplicated the whole candidate-sig subtree — observed in the
    // plan).
    val xIds = xRows.select(col("doc_id")).distinct()
    val persistedCandSigs = loadSigsFor(spark, dir, xIds)
    val candSigs = deltaSigs
      .map(ds => persistedCandSigs.unionByName(
        ds.join(broadcast(xIds), "doc_id").select(col("doc_id"), col("sig"))))
      .getOrElse(persistedCandSigs)
    val xS = xRows.join(broadcast(candSigs), "doc_id").transform(Par.stage)
    val yS = xS.filter(col("doc_id") >= newFrom)
      .select(col("doc_id"), col("band_idx"), col("band_key"),
        col("sig").as("sig_b"))
    xS.as("x").join(broadcast(yS).as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        round(Dedup.sigAgreement("x.sig", "sig_b") / lit(12.0), 4).as("est_jaccard"))
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------------------- incremental append

  /** Fold an accepted batch (doc_id, text) into an EXISTING index at
    * `dir`: sketch the batch (O(|delta|)) and gavro-APPEND its sig and
    * band rows to the persisted tables — one new commit per table, so
    * the next batch's probe sees tonight's documents as standing corpus.
    * This is the dedup-on-ingest loop's write half: probe, filter,
    * append the survivors. */
  def appendBatch(spark: SparkSession, dir: String,
      delta: DataFrame): Unit =
    appendSigs(spark, dir, Dedup.minhashSignatures(delta)
      .select(col("doc_id"), col("sig")).transform(Par.stage))

  /** The sketch-free append half: fold ALREADY-COMPUTED signatures
    * (doc_id, sig — e.g. [[probeBatchKeepSigs]]'s frame filtered to the
    * batch's survivors) into the index. The ingest loop's per-batch cost
    * is then exactly ONE sketch pass: probe sketches the delta, the
    * append derives band/bucket rows from those signatures (cheap
    * per-row arithmetic, no shingle hashing). Callers pass a
    * materialized frame (the probe's is checkpointed). */
  def appendSigs(spark: SparkSession, dir: String,
      deltaSigs: DataFrame): Unit = {
    // WAL marker brackets the three table commits —
    // [[Gavro.withAppendMarker]] owns the protocol (claimed put-if-absent
    // so crash evidence is never buried, keep-alive-touched through the
    // writes so a long append never reads as crashed, one appender at a
    // time per index).
    Gavro.withAppendMarker(dir) {
      deltaSigs
        .select(col("doc_id"), posexplode(col("sig"))).toDF("doc_id", "pos", "m")
        .coalesce(1) // per-trigger deltas are small; one sig file per append
        .write.format("gavro").option("schema", "lsh_sigs")
        .mode("append").save(s"$dir/sigs")
      // One router shuffle for both tables, same as the build: delta files
      // stay one-slot like base files, and the occupancy aggregate (one row
      // per touched bucket — the next probe's cap still sums to exactly the
      // bands table's counts) is partition-local on the routed rows.
      val routed = Gavro.exactPartition(
          Dedup.bands(deltaSigs).withColumn("slot", slotExpr),
          "slot", NumBands * SaltM).persist()
      routed.sortWithinPartitions(col("band_key"))
        .select(col("doc_id"), col("band_idx"), col("band_key"), col("slot"))
        .write.format("gavro").option("schema", "lsh_bands")
        .mode("append").save(s"$dir/bands")
      occupancyRows(routed)
        .sortWithinPartitions(col("max_doc")) // floor-aware block layout
        .write.format("gavro").option("schema", "lsh_buckets")
        .mode("append").save(s"$dir/buckets")
      routed.unpersist()
    }
    ()
  }

  /** The append-maintained instance: base corpus as commit 1 of each
    * table, the planted batch folded in as commit 2 via [[appendBatch]].
    * Separate cache scope so the mutation never touches the probe
    * query's instance. */
  def ensureAppended(spark: SparkSession, sfDir: String): String =
    IndexHome.ensureBuilt(spark, srcFile(sfDir), sfPrefix(sfDir, "a")) { dir =>
      val documents = Tables.documents(spark, sfDir)
      buildAndWrite(documents.select(col("doc_id"), col("text")), dir)
      appendBatch(spark, dir,
        Dedup.nearCorpus(documents).filter(col("doc_id") >= NewFrom))
    }

  /** Probe over the FULLY-materialized index (base + appended batch both
    * read from disk — zero in-query sketching anywhere in the plan): the
    * same candidate semantics as [[probeNewBatch]], so the result is
    * hash-equal to it AND to the in-query incremental rebuild — three
    * execution paths, one answer, proving the appended artifact encodes
    * the batch exactly as a from-scratch sketch would. */
  def probeAppended(spark: SparkSession, sfDir: String): DataFrame =
    probeMaterialized(spark, ensureAppended(spark, sfDir), NewFrom)

  /** Probe an EXPLICIT index directory with no in-flight delta: pairs
    * touching docs ≥ `newFrom`, everything read from the persisted
    * tables. The serving form for "what does the standing index say about
    * the batches already folded in" — and the maintenance spec's probe
    * (same dir before and after [[maintain]], answers must match). */
  def probeMaterialized(spark: SparkSession, dir: String,
      newFrom: Long): DataFrame =
    probeIndexed(spark, dir, None, newFrom)

  // ----------------------------------------------------------- maintenance

  /** Nightly MAINTENANCE over a living index: after thousands of
    * per-trigger appends, each table's log holds one commit per trigger,
    * the occupancy table holds one row per touched bucket PER APPEND (the
    * probe's cap sum reads them all), and the band files scatter each
    * slot across commits. Collapse all three, under the same
    * maintenance-lock/vacuum-grace protection the serve stream already
    * tolerates (snapshot swaps, no in-flight read loses its files):
    *
    *   - `sigs/`: content is append-only rows — byte-merge small files
    *     ([[Gavro.optimize]]) and fold the log;
    *   - `bands/`: SEMANTIC rewrite ([[Gavro.rewriteTable]]) re-routing
    *     every row through the exact slot partitioner, restoring the
    *     one-slot-per-file layout appends eroded;
    *   - `buckets/`: semantic rewrite merging occupancy per bucket —
    *     sum(n), max(max_doc) — back to ONE row per bucket.
    *
    * The probe's torn-append tripwire rides the [[appendMarker]] WAL,
    * not log shapes, so maintenance (which collapses logs on its own
    * cadence) cannot perturb it. Probe answers are unchanged by
    * construction: the probe re-aggregates occupancy per bucket and
    * never depends on file layout — `lsh_bucket_stats_compacted`'s
    * oracle pins that. */
  def maintain(spark: SparkSession, dir: String,
      blockBytes: Long = Gavro.DefaultBlockBytes): Unit = {
    Gavro.optimize(s"$dir/sigs")
    Gavro.checkpoint(s"$dir/sigs")
    Gavro.compactLog(s"$dir/sigs")
    Gavro.rewriteTable(s"$dir/bands", pin => {
      // route RAW fields, sort, THEN encode — the rewrite must restore
      // the same band_key-sorted, band_key-stat layout the build writes,
      // or the first nightly maintenance would silently drop the
      // sub-file block-skip pruning
      val src = spark.read.format("gavro").option("schema", "lsh_bands")
        .option("asOfCommit", pin).load(s"$dir/bands")
      bandBins(Gavro.exactPartition(src.select(col("doc_id"),
          col("band_idx"), col("band_key"), col("slot")),
        "slot", NumBands * SaltM))
    }, blockBytes = blockBytes, statCols = BandStatCols)
    Gavro.rewriteTable(s"$dir/buckets", pin => {
      val merged = spark.read.format("gavro").option("schema", "lsh_buckets")
        .option("asOfCommit", pin).load(s"$dir/buckets")
        .groupBy(col("band_idx"), col("band_key"))
        .agg(sum(col("n")).as("n"), max(col("max_doc")).as("max_doc"))
        .withColumn("slot", slotExpr)
        .select(expr(
          "to_avro_graft(struct(band_idx, band_key, n, max_doc, slot), 'lsh_buckets')")
          .as("bin"), col("band_idx"), col("max_doc"), col("slot"))
      // max_doc sort restores the floor-aware block layout the build and
      // appends write ([[occupancyBins]]) — THE post-maintain payoff: the
      // merged slot files span all history, so only tight per-block
      // max_doc ranges let a recent-floor probe skip the cold majority.
      Gavro.exactPartition(merged, "slot", NumBands * SaltM)
        .sortWithinPartitions(col("max_doc"))
    }, blockBytes = blockBytes, statCols = Seq("band_idx", "max_doc", "slot"))
    ()
  }

  /** SLOT-LOCAL incremental maintenance — the between-nightlies form of
    * [[maintain]]: rewrite ONLY the slots holding at least
    * `minFilesPerSlot` SMALL files (< `smallFileBytes`, the optimize bin
    * target — appends add files solely in the slots they touch, so a
    * steady trickle concentrates small-file debt in hot slots), via
    * [[Gavro.rewritePartial]] — untouched slots' files keep their names
    * and bytes, which at 100 TB is the difference between re-encoding
    * the whole corpus nightly and re-encoding the day's churn. The byte
    * qualifier is what keeps UNEVEN slots honest: a slot of few
    * near-target files is already packed and never rewrites; a slot
    * collecting tiny per-trigger deltas compacts as soon as the count
    * trips, regardless of how big its cold files are. Slots are proven
    * from footer stats (every current-layout file — [[Version]] — is
    * single-valued on `slot`, a contract every write path keeps); a
    * foreign multi-slot file anywhere falls the table back to the FULL
    * rewrite — correct layout restored, never a partial one. */
  def maintainIncremental(spark: SparkSession, dir: String,
      minFilesPerSlot: Int = 2,
      smallFileBytes: Long = Gavro.OptimizeTargetBytes): Unit = {
    Gavro.optimize(s"$dir/sigs")
    Gavro.checkpoint(s"$dir/sigs")
    Gavro.compactLog(s"$dir/sigs")
    def slotPlan(table: String, pin: String, committed: Set[String])
        : Option[(Set[String], Seq[Int])] = {
      val files = Gavro.listDataFiles(s"$dir/$table", Some(pin))
      val slotted = files.map { f =>
        // stat TYPE varies by writer (the direct writer stamps int stats,
        // the DSv2 sink promotes to long) — compare and read numerically
        (f.getName,
          graft.sources.GavroFooter.read(f).stats.get("slot")
            .filter(s => s.min.asInstanceOf[Number].longValue ==
              s.max.asInstanceOf[Number].longValue)
            .map(_.min.asInstanceOf[Number].intValue),
          Gavro.dataStore.length(f))
      }
      if (slotted.exists(_._2.isEmpty)) None // foreign layout → full rewrite
      else {
        // BYTE-AWARE trigger: only files under the block target count as
        // compaction debt — a slot holding a few near-target files is
        // already well packed, and rewriting it would pay corpus-scale
        // I/O to save nothing (the file-COUNT trigger this replaces
        // compacted exactly those slots "too early" while being no
        // earlier on a drizzle of tiny delta files). A hot slot still
        // rewrites WHOLE (its big files too): the pinned read filters by
        // slot value, so the replaced set must be every file holding the
        // slot's rows.
        val hot = slotted.groupBy(_._2.get)
          .filter(_._2.count(_._3 < smallFileBytes) >= minFilesPerSlot)
        Some((hot.values.flatten.map(_._1).toSet, hot.keys.toSeq.sorted))
      }
    }
    def slotFiltered(table: String, schema: String, pin: String,
        slots: Seq[Int]): DataFrame =
      spark.read.format("gavro").option("schema", schema)
        .option("asOfCommit", pin).load(s"$dir/$table")
        .filter(col("slot").isin(slots.map(Int.box): _*))
    Gavro.rewritePartial(s"$dir/bands", (pin, committed) => {
      val (gone, src) = slotPlan("bands", pin, committed) match {
        case Some((g, slots)) => (g, slotFiltered("bands", "lsh_bands", pin, slots))
        case None => (committed,
          spark.read.format("gavro").option("schema", "lsh_bands")
            .option("asOfCommit", pin).load(s"$dir/bands"))
      }
      (gone, bandBins(Gavro.exactPartition(src.select(col("doc_id"),
          col("band_idx"), col("band_key"), col("slot")),
        "slot", NumBands * SaltM)))
    }, statCols = BandStatCols)
    Gavro.rewritePartial(s"$dir/buckets", (pin, committed) => {
      val (gone, src) = slotPlan("buckets", pin, committed) match {
        case Some((g, slots)) =>
          (g, slotFiltered("buckets", "lsh_buckets", pin, slots))
        case None => (committed,
          spark.read.format("gavro").option("schema", "lsh_buckets")
            .option("asOfCommit", pin).load(s"$dir/buckets"))
      }
      val merged = src.groupBy(col("band_idx"), col("band_key"))
        .agg(sum(col("n")).as("n"), max(col("max_doc")).as("max_doc"))
        .withColumn("slot", slotExpr)
        .select(expr(
          "to_avro_graft(struct(band_idx, band_key, n, max_doc, slot), 'lsh_buckets')")
          .as("bin"), col("band_idx"), col("max_doc"), col("slot"))
      (gone, Gavro.exactPartition(merged, "slot", NumBands * SaltM)
        .sortWithinPartitions(col("max_doc"))) // floor-aware block layout
    }, statCols = Seq("band_idx", "max_doc", "slot"))
    ()
  }

  /** The maintenance-proven instance: base build, the planted batch
    * appended, then [[maintain]] compacted the whole artifact — the
    * state a per-trigger-appended index lives in after its nightly
    * maintenance. Own cache scope; never touches the probe or append
    * instances. */
  def ensureCompacted(spark: SparkSession, sfDir: String): String =
    IndexHome.ensureBuilt(spark, srcFile(sfDir), sfPrefix(sfDir, "c")) { dir =>
      val documents = Tables.documents(spark, sfDir)
      buildAndWrite(documents.select(col("doc_id"), col("text")), dir)
      appendBatch(spark, dir,
        Dedup.nearCorpus(documents).filter(col("doc_id") >= NewFrom))
      maintain(spark, dir)
    }

  /** Per-band rollup of the PERSISTED occupancy table — the artifact the
    * O(Δ) probe trusts for its cap accounting, verified directly against
    * a from-scratch recount in DuckDB: bucket count, total band rows
    * (must equal the bands table exactly), and the largest bucket. Reads
    * per-commit rows and re-aggregates per bucket first, so the summary
    * is layout- and commit-count-independent. */
  def bucketStats(spark: SparkSession, sfDir: String): DataFrame =
    bucketStatsAt(spark, ensure(spark, sfDir))

  private def bucketStatsAt(spark: SparkSession, dir: String): DataFrame =
    loadBuckets(spark, dir)
      .groupBy(col("band_idx"), col("band_key"))
      .agg(sum(col("n")).as("n"))
      .groupBy(col("band_idx"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_rows"),
        max(col("n")).as("max_bucket"))
      .orderBy(col("band_idx"))

  /** [[bucketStats]] over the COMPACTED instance (base + appended batch +
    * [[maintain]]): the oracle recounts buckets from the raw combined
    * corpus, so a hash match proves the occupancy merge lost and invented
    * nothing — compaction is content-neutral. */
  def bucketStatsCompacted(spark: SparkSession, sfDir: String): DataFrame =
    bucketStatsAt(spark, ensureCompacted(spark, sfDir))

  /** The probe run ENTIRELY against the compacted artifact — hash-equal
    * to [[probeNewBatch]]/[[probeAppended]] and the in-query rebuild
    * (four execution paths, one answer): optimize + semantic rewrite +
    * log compaction changed nothing the probe can observe. */
  def probeCompacted(spark: SparkSession, sfDir: String): DataFrame =
    probeMaterialized(spark, ensureCompacted(spark, sfDir), NewFrom)

  // ---------------------------------------------------------------- registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lsh_index_build" -> ((s, d) => buildIndexSummary(s, d)),
    "lsh_index_probe" -> ((s, d) => probeNewBatch(s, d)),
    "lsh_index_append" -> ((s, d) => probeAppended(s, d)),
    "lsh_index_compact_probe" -> ((s, d) => probeCompacted(s, d)),
    "lsh_bucket_stats" -> ((s, d) => bucketStats(s, d)),
    "lsh_bucket_stats_compacted" -> ((s, d) => bucketStatsCompacted(s, d)),
  )

  /** The build oracle unrolls the sketch over the PLAIN documents table
    * and fingerprints the band rows; the probe oracle is exactly the
    * in-query incremental unroll (planted corpus, same hash family, same
    * bucket cap) — determinism is what makes the persisted artifact
    * reproducible. */
  def oracleSql: Map[String, String] = Map(
    "lsh_index_build" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |${Dedup.sigSql},
         |all_bands AS (
         |  SELECT doc_id, b AS band_idx,
         |    md5(sig[2 * b + 1]::VARCHAR || ',' || sig[2 * b + 2]::VARCHAR) AS band_key
         |  FROM sigs, range(0, 6) r(b)
         |)
         |SELECT band_idx, count(*) AS n,
         |  count(DISTINCT band_key) AS n_buckets,
         |  sum(('0x' || substr(md5(band_key), 1, 15))::BIGINT % 999999937)::BIGINT
         |    AS sum_key
         |FROM all_bands GROUP BY band_idx ORDER BY band_idx""".stripMargin,
    "lsh_index_probe" -> probeOracleSql,
    // The SAME unroll object: the appended artifact must answer exactly
    // what the union probe and the in-query rebuild answer — sharing the
    // literal removes the drift surface between the entries. The
    // compacted entry shares it too: optimize + semantic rewrite + log
    // compaction must be invisible to the probe. At sf0.01+ the planted
    // delta touches >64 buckets, so these entries also pin the raised
    // IN-cap key pushdown ([[Gavro.InPushMax]]) against DuckDB.
    "lsh_index_append" -> probeOracleSql,
    "lsh_index_compact_probe" -> probeOracleSql,
    // Occupancy after compaction, recounted from the raw COMBINED corpus
    // (base + the planted appended batch): the merge kept every bucket's
    // exact row count and nothing else.
    "lsh_bucket_stats_compacted" ->
      s"""WITH ${Dedup.nearCorpusSql},
         |${Dedup.sigSql},
         |all_bands AS (
         |  SELECT doc_id, b AS band_idx,
         |    md5(sig[2 * b + 1]::VARCHAR || ',' || sig[2 * b + 2]::VARCHAR) AS band_key
         |  FROM sigs, range(0, 6) r(b)
         |),
         |buckets AS (
         |  SELECT band_idx, band_key, count(*) AS n
         |  FROM all_bands GROUP BY band_idx, band_key
         |)
         |SELECT band_idx, count(*) AS n_buckets, sum(n)::BIGINT AS n_rows,
         |  max(n)::BIGINT AS max_bucket
         |FROM buckets GROUP BY band_idx ORDER BY band_idx""".stripMargin,
    "lsh_bucket_stats" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |${Dedup.sigSql},
         |all_bands AS (
         |  SELECT doc_id, b AS band_idx,
         |    md5(sig[2 * b + 1]::VARCHAR || ',' || sig[2 * b + 2]::VARCHAR) AS band_key
         |  FROM sigs, range(0, 6) r(b)
         |),
         |buckets AS (
         |  SELECT band_idx, band_key, count(*) AS n
         |  FROM all_bands GROUP BY band_idx, band_key
         |)
         |SELECT band_idx, count(*) AS n_buckets, sum(n)::BIGINT AS n_rows,
         |  max(n)::BIGINT AS max_bucket
         |FROM buckets GROUP BY band_idx ORDER BY band_idx""".stripMargin,
  )

  private lazy val probeOracleSql: String =
    s"""WITH ${Dedup.nearCorpusSql}, ${Dedup.sigSql}, ${Dedup.candSql}
       |SELECT doc_a, doc_b,
       |  round(len(list_filter(range(1, 13), i -> a.sig[i] = b.sig[i])) / 12.0, 4) AS est_jaccard
       |FROM cands
       |JOIN sigs a ON a.doc_id = doc_a
       |JOIN sigs b ON b.doc_id = doc_b
       |WHERE doc_b >= $NewFrom
       |ORDER BY doc_a, doc_b""".stripMargin
}
