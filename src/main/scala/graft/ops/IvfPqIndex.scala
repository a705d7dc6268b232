package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Gavro, GavroStore, Tables}

/** A MATERIALIZED IVF-PQ index — build once, search many, append daily.
  *
  * The in-query family (`ann_ivfpq_topk` / `_rerank` / `_incremental`,
  * [[Quantize]]) retrains the coarse centroids and residual codebooks
  * inside every query: correct for a self-contained oracle query, but a
  * production pipeline trains nightly and searches continuously (the
  * reference has no vector index at all — its embedding join in
  * src/streaming/enrichment.py is a straight lookup; this is the
  * capability a training-data pipeline needs on top). Here the trained
  * artifacts persist as three gavro tables and the registered search
  * query touches ONLY them plus the query vectors:
  *
  *   - `cells/`  — coarse centroid components (c_id, pos, x), K·dim rows;
  *   - `books/`  — residual PQ codebook components (sub_idx, c_id, pos, x);
  *   - `codes/`  — one row per (vec_id, sub_idx): the vector's coarse
  *     cell + PQ code — the corpus-scale table, laid out range-partitioned
  *     BY CELL with `cell` in the footer stats, so a probe list pushes an
  *     IN filter into the scan and unprobed cells' files are never opened
  *     (the posting-list read of a production ANN index, expressed as
  *     ordinary DSv2 pushdown).
  *
  * Everything in the index is exact integer arithmetic at [[Quantize]]'s
  * 1e4 scale (components stored as longs), and the build is fully
  * deterministic — so the search-only query hash-matches the same DuckDB
  * CTE unroll that verifies the in-query family, and a lost build race
  * (two processes ensuring concurrently) is benign: both builds are
  * bit-identical in content.
  *
  * == Cluster-real publication ==
  *
  * The index home is an EXPLICIT, configurable root
  * (`spark.graft.ann.indexRoot` / `SPARK_GRAFT_ANN_ROOT`; default a
  * per-user directory under the JVM tmpdir for this single-host sandbox
  * — a deployment points it at shared storage so driver and executors
  * read one copy). Publication rides the [[GavroStore]] coordination
  * primitives, not filesystem renames: a build lands in its own
  * `builds/<id>/` staging tree and becomes canonical by a put-if-absent
  * `_LIVE` pointer object naming the winning build — the pattern that
  * survives object-store semantics (conditional PUT, no atomic directory
  * rename). The loser of the pointer race deletes its (bit-identical)
  * staging tree and reads the winner's.
  *
  * The cache key is a CONTENT-derived source fingerprint with no
  * timestamps anywhere: a gavro-table source is fingerprinted by its
  * commit log (the commit ids + the file sets they made visible — the
  * table's durable identity), a parquet source by each part's name,
  * length, and a head+tail byte digest (the parquet footer lives in the
  * tail, so regenerated fixture data always re-keys). Object stores have
  * no trustworthy mtime; nothing here asks for one.
  *
  * Scale shape: the build is the oracle-proven [[Quantize.ivfPqTrainEncode]]
  * (capped-sample training, broadcast codebooks, one encode pass); search
  * reads K·dim + M·K·subdim stat rows plus only the probed cells' code
  * files, scores by broadcast LUT, and re-ranks [[Quantize.RerankCand]]
  * candidates per query against full precision — per-query cost is
  * O(corpus/K · nprobe) ADC rows and O(1) re-rank lookups, independent of
  * how many OTHER queries already amortized the build. The APPEND path
  * ([[ensureAppended]]) folds a new batch into the PERSISTED codes table
  * with frozen codebooks — encode cost O(|delta|), search cost unchanged,
  * the continuously-maintained operating mode at 100 TB.
  */
object IvfPqIndex {

  /** Bump when the build pipeline or publication protocol changes — the
    * version keys the index directory, so a stale index from older code
    * is never reused. (v2: `_LIVE` pointer publication + content
    * fingerprints replaced atomic-rename dirs keyed by mtimes. v3: codes
    * laid out one-cell-per-file so the scan reports
    * KeyGroupedPartitioning. v4: the cell layout is SALTED —
    * CoarseK·[[SaltM]] writer tasks, every file still single-valued on
    * `cell`, so the build's write parallelism is no longer capped at
    * CoarseK while the probe-list IN pushdown and KGP reporting are
    * unchanged.) */
  val Version = 4

  /** Salt slots per coarse cell ([[Gavro.exactPartitionSalted]] on
    * vec_id): the knob that decouples codes-write parallelism from
    * CoarseK. At 100 TB this is sized so one (cell, salt) file ≈ one
    * block-sized unit. */
  val SaltM = 4

  /** The search-many query count: 4× the in-query family's 5, the point
    * of a prebuilt index being that more queries cost no more training. */
  val SearchQueries = 20

  private def store: GavroStore = Gavro.store

  /** Key-directory name prefix stable per (code version, source dir):
    * scopes pruning to THIS source's superseded digests — indexes for
    * other sf dirs are live peers, never staleness. */
  private def sfPrefix(sfDir: String, scope: String): String =
    s"graft_ivfpq_v${Version}${scope}_" + IndexHome.sha256Hex(sfDir, 6) + "_"

  private def srcFile(sfDir: String) =
    new java.io.File(sfDir, "embeddings.parquet")

  /** Train on `emb` = (vec_id, embedding) and persist the index under
    * `dir` (cells/ books/ codes/). Pure function of the input: the build
    * is [[Quantize.ivfPqTrainEncode]], which is deterministic end to end. */
  def buildAndWrite(emb: DataFrame, dir: String): Unit = {
    val (coarse, books, codes, _) = Quantize.ivfPqTrainEncode(
      emb.select(col("vec_id"), col("embedding").as("v")))
    // Components are integral doubles at QScale — exact as longs.
    val cellRows = coarse
      .select(col("c_id"), posexplode(col("cv"))).toDF("c_id", "pos", "xd")
      .select(expr("to_avro_graft(struct(c_id, pos, cast(xd as long)), 'ivf_cells')")
        .as("bin"))
    Gavro.write(cellRows.coalesce(1), s"$dir/cells")
    val bookRows = books
      .select(col("sub_idx"), col("c_id"), posexplode(col("cv")))
      .toDF("sub_idx", "c_id", "pos", "xd")
      .select(expr(
        "to_avro_graft(struct(sub_idx, c_id, pos, cast(xd as long)), 'ivf_books')")
        .as("bin"))
    Gavro.write(bookRows.coalesce(1), s"$dir/books")
    // The corpus-scale table: ONE CELL PER FILE, SALTED (exact
    // partitioning, not range sampling — see
    // [[Gavro.exactPartitionSalted]]): CoarseK·SaltM writer tasks, and
    // every file's footer still proves min == max on `cell`, so the
    // probe-list IN pushdown skips whole files AND the scan reports
    // KeyGroupedPartitioning on `cell` — clustered aggs/joins over the
    // codes table plan with no Exchange.
    val codeRows = codes
      .select(expr(
        "to_avro_graft(struct(vec_id, cell, sub_idx, code), 'ivf_codes')")
        .as("bin"), col("cell"), col("vec_id"))
    Gavro.write(
      Gavro.exactPartitionSalted(codeRows, "cell", Quantize.CoarseK,
        "vec_id", SaltM),
      s"$dir/codes", statCols = Seq("cell"))
  }

  /** The codes table read with its storage partitioning REPORTED — use
    * for plans that cluster on `cell` (summaries, feeds); the ADC serve
    * scan stays unkeyed to keep block-level task fan-out. */
  private def loadCodesKeyed(spark: SparkSession, dir: String,
      sinceCommit: Option[String] = None): DataFrame = {
    val r = spark.read.format("gavro").option("schema", "ivf_codes")
      .option("partitionKey", "cell")
    sinceCommit.fold(r)(c => r.option("sinceCommit", c)).load(s"$dir/codes")
  }

  /** The canonical per-sf-dir index, built on first use and published
    * through the `_LIVE` pointer (see the object scaladoc). Returns the
    * live build's root. */
  def ensure(spark: SparkSession, sfDir: String): String =
    IndexHome.ensureBuilt(spark, srcFile(sfDir), sfPrefix(sfDir, "")) { dir =>
      buildAndWrite(Tables.embeddings(spark, sfDir), dir)
    }

  /** Coarse centroids reassembled from the cells table: (c_id, cv). */
  def loadCells(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("gavro").option("schema", "ivf_cells").load(s"$dir/cells")
      .groupBy(col("c_id"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, x))), s -> cast(s.x as double))")
        .as("cv"))

  /** Residual PQ codebooks reassembled: (sub_idx, c_id, cv). */
  def loadBooks(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("gavro").option("schema", "ivf_books").load(s"$dir/books")
      .groupBy(col("sub_idx"), col("c_id"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, x))), s -> cast(s.x as double))")
        .as("cv"))

  /** REBUILD the index end to end and return a per-(cell, subspace)
    * fingerprint of the codes table READ BACK from the written gavro
    * files — so the oracle hash verifies the persisted artifact itself
    * (write → file → scan → decode lossless), not just an in-memory
    * intermediate. Publishes the fresh build if no canonical index exists
    * yet, so a later search query starts warm. */
  def buildIndexSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val live = IndexHome.rebuildAndPublish(spark, srcFile(sfDir),
        sfPrefix(sfDir, "")) { dir =>
      buildAndWrite(Tables.embeddings(spark, sfDir), dir)
    }
    loadCodesKeyed(spark, live.getAbsolutePath)
      .groupBy(col("cell"), col("sub_idx"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("code")).as("n_codes"),
        sum(col("code").cast("long")).as("sum_code"))
      .orderBy(col("cell"), col("sub_idx"))
  }

  /** SEARCH-ONLY two-stage retrieval over the prebuilt index: encode the
    * [[SearchQueries]] query vectors, pick probes against the loaded
    * centroids, push the probe list into the codes scan as an IN filter
    * (file-skipped via footer stats), ADC-score, then re-rank the
    * [[Quantize.RerankCand]] shortlist against full precision. No
    * training anywhere in the plan. */
  def searchPrebuilt(spark: SparkSession, sfDir: String): DataFrame =
    searchIndex(spark, ensure(spark, sfDir), Tables.embeddings(spark, sfDir))

  /** The search plan against an explicit index directory and corpus
    * frame — what [[searchPrebuilt]] runs after `ensure`. */
  def searchIndex(spark: SparkSession, dir: String,
      emb: DataFrame): DataFrame = {
    val queries = emb.filter(col("vec_id") < SearchQueries)
      .select(col("vec_id").as("q_id"),
        Quantize.quantQv("embedding").as("qv"))
    searchQueries(spark, dir, queries, emb)
  }

  /** Quantize raw serve-side query vectors to [[searchQueries]]'s input
    * shape: (q_id, embedding) → (q_id, qv) at the index's integer scale. */
  def quantizeQueries(queries: DataFrame): DataFrame =
    queries.select(col("q_id"), Quantize.quantQv("embedding").as("qv"))

  /** The SERVING entry: answer an EXPLICIT batch of query vectors
    * against the prebuilt index — what a query micro-batch (or an RPC
    * batch at cluster scale) calls per trigger, leaving the index
    * untouched between calls. `queries` = (q_id, qv) with qv ALREADY at
    * [[Quantize.quantQv]]'s integer scale (use [[quantizeQueries]] on
    * raw embeddings — no type distinguishes the two shapes, and raw
    * vectors here mean silently wrong distances). `emb` must cover the
    * WHOLE indexed corpus (including any batches folded in via
    * [[appendToIndex]]): it supplies the shortlist's full-precision
    * re-rank vectors through an inner join, so an id present in the
    * index but absent from `emb` is dropped from the shortlist — on an
    * appended index, pass base ∪ delta or the true nearest appended
    * neighbors vanish from the top-k (the ADC-only [[searchAppended]]
    * path has no such dependency). Identical plan to [[searchIndex]] —
    * that is the point: batch and serve are one code path, so the batch
    * oracle verifies the serve result shape. */
  def searchQueries(spark: SparkSession, dir: String, queries: DataFrame,
      emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val coarse = loadCells(spark, dir)
    val books = loadBooks(spark, dir)
    val qemb = emb.select(col("vec_id"),
      Quantize.quantQv("embedding").as("qv"))
    val scored = adcOverIndex(spark, dir, queries, coarse, books)
    val cand = graft.plans.TopK.topKPerGroup(
      scored, Seq("q_id"), Seq("adist" -> true, "vec_id" -> true),
      Quantize.RerankCand)
    val qq = queries.select(col("q_id"), col("qv").as("qq"))
    cand.select(col("q_id"), col("vec_id"))
      .join(qemb, "vec_id") // fetch the shortlist's full-precision vectors
      .join(broadcast(qq), "q_id")
      .select(col("q_id"), col("vec_id"), Quantize.d2("qq", "qv").as("d"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("d").asc, col("vec_id").asc)).cast("long"))
      .filter(col("rnk") <= Quantize.TopK)
      .select(col("q_id"), col("rnk"), col("vec_id"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** The shared retrieval core: probe selection against `coarse`, the
    * probe list pushed into the codes scan as an IN filter (the
    * posting-list read), ADC by broadcast LUT. Returns (q_id, vec_id,
    * adist). The probe frame is NOT persisted: it's queries×CoarseK rows
    * used twice (driver collect + LUT build) — recomputing is trivial,
    * while a persist would leak one cached frame per search on the path
    * designed to be called many times. */
  private def adcOverIndex(spark: SparkSession, dir: String,
      queries: DataFrame, coarse: DataFrame, books: DataFrame): DataFrame = {
    val probes = Quantize.ivfPqProbes(queries, coarse)
    // The router step every distributed ANN serve does: the probe list
    // (≤ queries·NProbe values, bounded by CoarseK distinct) comes to
    // the driver and becomes a pushed IN filter — the codes scan opens
    // only files whose cell range intersects it.
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val codes = spark.read.format("gavro").option("schema", "ivf_codes")
      .load(s"$dir/codes")
      .filter(col("cell").isin(probedCells.map(Int.box): _*))
    Quantize.ivfPqAdc(codes, Quantize.ivfPqLut(probes, coarse, books))
  }

  // ------------------------------------------------------- incremental append

  /** The append-maintained index instance: base corpus trained + encoded
    * as commit 1 of the codes table, then [[Quantize.plantedDelta]]'s
    * batch folded in as commit 2 via the ordinary gavro APPEND — encoded
    * against the FROZEN cells/books read back from the persisted tables
    * (no retraining anywhere; [[Quantize.ivfPqEncodeFrozen]] is the same
    * per-row encode half the build ran). The whole two-commit state is
    * staged before the `_LIVE` pointer lands, so the append is atomic,
    * idempotent across processes, and never perturbs the search-prebuilt
    * instance. Returns the live build root; its codes log holds exactly
    * two commits — base then delta — which is what makes the change feed
    * below a meaningful delta read. */
  def ensureAppended(spark: SparkSession, sfDir: String): String =
    IndexHome.ensureBuilt(spark, srcFile(sfDir), sfPrefix(sfDir, "a")) { dir =>
      val embeddings = Tables.embeddings(spark, sfDir)
      Quantize.requireBelowDeltaBase(embeddings)
      // Commit 1: the nightly build over the base corpus.
      buildAndWrite(embeddings, dir)
      // Commit 2: tonight's crawl folded into the persisted table.
      appendToIndex(spark, dir, Quantize.plantedDelta(embeddings))
    }

  /** Fold a new batch `delta` = (vec_id, v) into an EXISTING index at
    * `dir`: encode against the PERSISTED frozen quantizers
    * ([[Quantize.ivfPqEncodeFrozen]] — the same per-row half the build
    * ran, zero training) and APPEND to the persisted codes table via the
    * ordinary gavro DSv2 append — new cell-clustered part files plus ONE
    * new commit record, so readers see the delta atomically and the
    * change feed reads it back exactly. Cost is O(|delta|): no shuffle
    * of the base corpus, no rebuild, search cost unchanged. This is the
    * continuously-maintained operating mode at 100 TB — nightly train,
    * per-batch fold-in. Stats land on every scalar field, so the
    * probe-list cell pushdown skips delta files like base files. */
  def appendToIndex(spark: SparkSession, dir: String, delta: DataFrame): Unit =
    Gavro.exactPartitionSalted( // delta files stay one-cell like base files
        Quantize.ivfPqEncodeFrozen(delta,
            loadCells(spark, dir), loadBooks(spark, dir))
          .select(col("vec_id"), col("cell"), col("sub_idx"), col("code")),
        "cell", Quantize.CoarseK, "vec_id", SaltM)
      .write.format("gavro").option("schema", "ivf_codes")
      .mode("append").save(s"$dir/codes")

  /** First commit record of the appended codes table — the cut the
    * change feed reads "since" (everything after it is the delta). */
  private def baseCommit(codesDir: String): String =
    store.list(new java.io.File(codesDir, Gavro.CommitsDir))
      .map(_.getName).filter(_.endsWith(".commit"))
      .sorted.head.stripSuffix(".commit")

  /** Search over the APPENDED index (base + delta codes, frozen
    * codebooks): the same retrieval core as [[searchIndex]], but ranked
    * by raw ADC exactly as the in-query incremental pipeline — so the
    * result is hash-equal to `ann_ivfpq_incremental`'s full-rebuild
    * oracle, proving append-to-persisted-index ≡ rebuild-from-scratch. */
  def searchAppended(spark: SparkSession, sfDir: String): DataFrame =
    adcSearch(spark, ensureAppended(spark, sfDir),
      Tables.embeddings(spark, sfDir))

  /** The ADC-ranked search against an explicit index dir (the
    * incremental family's ranking — no re-rank join, so the result is
    * a pure function of the persisted codes + codebooks). */
  private def adcSearch(spark: SparkSession, dir: String,
      embeddings: DataFrame): DataFrame = {
    val queries = embeddings
      .filter(col("vec_id") < Quantize.NumQueries)
      .select(col("vec_id").as("q_id"),
        Quantize.quantQv("embedding").as("qv"))
    Quantize.rankAdcTopK(adcOverIndex(spark, dir, queries,
      loadCells(spark, dir), loadBooks(spark, dir)))
  }

  // ------------------------------------------------------------ maintenance

  /** Nightly MAINTENANCE over a continuously-appended codes table: each
    * per-batch [[appendToIndex]] lands one commit and one set of
    * cell-clustered files, so after thousands of triggers the table
    * holds thousands of small files per cell and a thousands-deep log.
    * Re-route every pinned row through the salted exact partitioner in
    * ONE crash-safe snapshot swap ([[Gavro.rewriteTable]]): files
    * collapse back to ≤ CoarseK·[[SaltM]], every file again provably
    * single-valued on `cell` (probe-list IN skipping + KGP reporting
    * restored for append-eroded layouts), and the log folds to the swap
    * checkpoint. cells/ and books/ are frozen single-commit tables —
    * nothing to compact. NOTE: run on an index whose change feed has
    * been consumed — the swap retires the commit cuts `sinceCommit`
    * reads against (time travel below it errors at the horizon, never a
    * silently-partial feed). */
  def maintain(spark: SparkSession, dir: String): Unit = {
    Gavro.rewriteTable(s"$dir/codes", pin => {
      val pinned = spark.read.format("gavro").option("schema", "ivf_codes")
        .option("asOfCommit", pin).load(s"$dir/codes")
      Gavro.exactPartitionSalted(
        pinned.select(expr(
            "to_avro_graft(struct(vec_id, cell, sub_idx, code), 'ivf_codes')")
            .as("bin"), col("cell"), col("vec_id")),
        "cell", Quantize.CoarseK, "vec_id", SaltM)
    }, statCols = Seq("cell"))
    ()
  }

  /** CELL-LOCAL incremental maintenance — the between-nightlies form of
    * [[maintain]]: re-route ONLY the cells whose SMALL-file count
    * (< `smallFileBytes`, the optimize bin target) grew past
    * `maxFilesPerCell` (the salted steady state is ≤ [[SaltM]] files per
    * cell; each append adds one more in the cells it touched), via
    * [[Gavro.rewritePartial]] — cold cells' files keep their names and
    * bytes. The byte qualifier keeps UNEVEN cells honest: a cell whose
    * files are all near the block target is already packed and never
    * rewrites however many it holds, while a cell collecting tiny
    * per-trigger deltas compacts as soon as the count trips. Cells are
    * proven from footer stats (every file is single-valued on `cell`); a
    * foreign multi-cell file anywhere falls the table back to the FULL
    * rewrite. At 100 TB this re-encodes the day's churn, not the
    * corpus. */
  def maintainIncremental(spark: SparkSession, dir: String,
      maxFilesPerCell: Int = SaltM + 1,
      smallFileBytes: Long = Gavro.OptimizeTargetBytes): Unit = {
    Gavro.rewritePartial(s"$dir/codes", (pin, committed) => {
      val slotted = Gavro.listDataFiles(s"$dir/codes", Some(pin)).map { f =>
        (f.getName,
          graft.sources.GavroFooter.read(f).stats.get("cell")
            .filter(s => s.min.asInstanceOf[Number].longValue ==
              s.max.asInstanceOf[Number].longValue)
            .map(_.min.asInstanceOf[Number].intValue),
          Gavro.dataStore.length(f))
      }
      val (gone, src) =
        if (slotted.exists(_._2.isEmpty)) // foreign layout → full rewrite
          (committed, spark.read.format("gavro").option("schema", "ivf_codes")
            .option("asOfCommit", pin).load(s"$dir/codes"))
        else {
          val hot = slotted.groupBy(_._2.get)
            .filter(_._2.count(_._3 < smallFileBytes) > maxFilesPerCell)
          (hot.values.flatten.map(_._1).toSet,
            spark.read.format("gavro").option("schema", "ivf_codes")
              .option("asOfCommit", pin).load(s"$dir/codes")
              .filter(col("cell").isin(hot.keys.toSeq.sorted.map(Int.box): _*)))
        }
      (gone, Gavro.exactPartitionSalted(src.select(expr(
          "to_avro_graft(struct(vec_id, cell, sub_idx, code), 'ivf_codes')")
          .as("bin"), col("cell"), col("vec_id")),
        "cell", Quantize.CoarseK, "vec_id", SaltM))
    }, statCols = Seq("cell"))
    ()
  }

  /** The maintenance-proven instance: base build, the planted batch
    * appended, then [[maintain]] compacted the codes table — own cache
    * scope, never touches the append instance (whose two-commit log the
    * delta feed depends on). */
  def ensureMaintained(spark: SparkSession, sfDir: String): String =
    IndexHome.ensureBuilt(spark, srcFile(sfDir), sfPrefix(sfDir, "m")) { dir =>
      val embeddings = Tables.embeddings(spark, sfDir)
      Quantize.requireBelowDeltaBase(embeddings)
      buildAndWrite(embeddings, dir)
      appendToIndex(spark, dir, Quantize.plantedDelta(embeddings))
      maintain(spark, dir)
    }

  /** [[searchAppended]] over the COMPACTED instance — hash-equal to it
    * and to the in-query incremental rebuild (three execution paths, one
    * answer): the rewrite changed nothing the search can observe. */
  def searchMaintained(spark: SparkSession, sfDir: String): DataFrame =
    adcSearch(spark, ensureMaintained(spark, sfDir),
      Tables.embeddings(spark, sfDir))

  /** One SERVE TRIGGER with HOT SWAP: re-resolve the live index for
    * `sfDir` before answering, so a query stream running across a
    * nightly republish — the source regenerated under the same path, a
    * fresh build published under its new content key — picks up the new
    * index BETWEEN micro-batches with zero restarts and zero failed
    * triggers. The swap is atomic from the trigger's view: resolution
    * returns either the old build or the new one, never a partial tree
    * (`_LIVE` lands only after every table committed), and a
    * just-superseded build stays readable under the prune grace for any
    * in-flight trigger. Steady-state cost per trigger is one listing
    * walk + one pointer read (the fingerprint memo makes the re-key
    * check byte-read-free until the source actually changes); a changed
    * source re-keys, builds once, and subsequent triggers resolve the
    * new key warm. `queries` = (q_id, qv) pre-quantized
    * ([[quantizeQueries]]); the re-rank corpus is read fresh from the
    * CURRENT source, honoring [[searchQueries]]'s coverage contract
    * across the swap. */
  def serveTrigger(spark: SparkSession, sfDir: String,
      queries: DataFrame): DataFrame =
    searchQueries(spark, ensure(spark, sfDir), queries,
      Tables.embeddings(spark, sfDir))

  /** The delta batch read back through the CHANGE FEED (`sinceCommit` =
    * the base build's commit), summarized per (cell, subspace) with the
    * minimum vec_id — which the oracle pins ≥ [[Quantize.DeltaBase]], so
    * the hash proves the feed returns EXACTLY the appended codes: no
    * base rows re-read, no delta rows missed, encoded precisely as a
    * full retrain-free rebuild would have. */
  def deltaFeedSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureAppended(spark, sfDir)
    loadCodesKeyed(spark, dir, Some(baseCommit(s"$dir/codes")))
      .groupBy(col("cell"), col("sub_idx"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("code")).as("n_codes"),
        sum(col("code").cast("long")).as("sum_code"),
        min(col("vec_id")).as("min_vec"))
      .orderBy(col("cell"), col("sub_idx"))
  }

  // ---------------------------------------------------------------- registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivfpq_build_index" -> ((s, d) => buildIndexSummary(s, d)),
    "ann_ivfpq_search_prebuilt" -> ((s, d) => searchPrebuilt(s, d)),
    "ann_ivfpq_index_append" -> ((s, d) => searchAppended(s, d)),
    "ann_ivfpq_index_maintain" -> ((s, d) => searchMaintained(s, d)),
    "ann_ivfpq_index_delta_feed" -> ((s, d) => deltaFeedSummary(s, d)),
  )

  /** The build summary unrolls the same CTEs as the in-query family and
    * fingerprints the codes table; the search oracle is the rerank unroll
    * at [[SearchQueries]] queries. The append pair recomputes the
    * combined (base ∪ delta) corpus with training restricted to base ids
    * — [[Quantize.ivfPqIncrementalSql]]'s exact invariant — so their
    * hashes prove the persisted append path equals a from-scratch
    * frozen-training rebuild. All recompute the index from the raw
    * embeddings: training determinism (oracle-proven since the in-query
    * family landed) is what makes the persisted artifacts reproducible. */
  def oracleSql: Map[String, String] = Map(
    "ann_ivfpq_build_index" ->
      s"""${Quantize.ivfPqCoreSql()},
         |summary AS (
         |  SELECT e.cell, k.sub_idx, count(*) AS n,
         |    count(DISTINCT k.code) AS n_codes,
         |    sum(k.code)::BIGINT AS sum_code
         |  FROM codes k JOIN res e USING (vec_id)
         |  GROUP BY e.cell, k.sub_idx
         |)
         |SELECT cell, sub_idx, n, n_codes, sum_code FROM summary
         |ORDER BY cell, sub_idx""".stripMargin,
    "ann_ivfpq_search_prebuilt" -> Quantize.ivfPqRerankSql(SearchQueries),
    "ann_ivfpq_index_append" -> Quantize.ivfPqIncrementalSql,
    // The SAME unroll: search over the maintenance-compacted codes table
    // must answer exactly what the appended artifact and the from-scratch
    // frozen-training rebuild answer — compaction is content-neutral.
    "ann_ivfpq_index_maintain" -> Quantize.ivfPqIncrementalSql,
    "ann_ivfpq_index_delta_feed" ->
      s"""${Quantize.ivfPqCoreSql(Quantize.ivfPqIncrementalSrcSql,
             s"vec_id < ${Quantize.DeltaBase}")},
         |dsum AS (
         |  SELECT e.cell, k.sub_idx, count(*) AS n,
         |    count(DISTINCT k.code) AS n_codes,
         |    sum(k.code)::BIGINT AS sum_code,
         |    min(k.vec_id)::BIGINT AS min_vec
         |  FROM codes k JOIN res e USING (vec_id)
         |  WHERE k.vec_id >= ${Quantize.DeltaBase}
         |  GROUP BY e.cell, k.sub_idx
         |)
         |SELECT cell, sub_idx, n, n_codes, sum_code, min_vec FROM dsum
         |ORDER BY cell, sub_idx""".stripMargin,
  )
}
