package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Similarity search over the `embeddings` fixture (`Array[Float]` column):
  * brute-force cosine top-k as the correctness baseline, and a
  * sign-projection LSH-bucketed variant as the 100 TB scale path.
  *
  * Scale design: the query set is tiny and explicitly `broadcast`, so the
  * probe side streams map-side with no shuffle of the corpus; the LSH
  * variant additionally prunes the corpus to colliding buckets before any
  * dot product is computed (banded 4×8-bit sign-LSH with a bucket-size skew
  * cap). Dot products use the native codegen'd [[graft.plans.VecDot]]
  * expression — bit-identical to the DuckDB oracle's seeded left fold, and
  * reading the storage-format float arrays in place (no cast allocation,
  * half the vector bytes in shuffles/caches).
  */
object Similarity {

  private val NumQueries = 5
  private val TopK = 10

  /** Native codegen'd dot product ([[graft.plans.VecDot]]) — a tight loop
    * inside whole-stage codegen instead of an interpreted higher-order fold;
    * identical left-to-right IEEE accumulation, so oracle results are
    * bit-equal. */
  private def dot(a: String, b: String): String = s"vec_dot($a, $b)"

  private def cosExpr(a: String, b: String): String =
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"

  private def embDouble(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
      col("label"))

  /** Float vectors consumed IN PLACE — [[graft.plans.VecDot]] reads float
    * arrays directly with bit-identical results (float→double is exact),
    * so the ANN paths skip the per-row array<double> cast and keep vectors
    * at 4 bytes/element in shuffles and caches.
    */
  private def embFloat(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("embedding").as("v"), col("label"))

  /** Brute-force exact cosine top-k for each query vector. */
  def cosineTopK(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embFloat(embeddings)
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        expr(cosExpr("qv", "v")).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc))
        .cast("long"))
      .filter(col("rnk") <= TopK)
      .select(col("q_id"), col("rnk"), col("vec_id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Banded sign-projection LSH, MinHash-style: 4 bands × 8 sign bits of
    * consecutive dimensions (axis-aligned random-hyperplane sketch — valid
    * because the embedding dimensions are already random-ish; at scale, use
    * seeded random hyperplanes via the same md5 trick as Dedup). Candidates
    * share ≥1 band, so discrimination is 2^8 per band (vs the previous
    * single 2^6 bucket space) while recall survives a sign flip in any one
    * band. Band keys are plain conditional sums — whole-stage codegen, not
    * an interpreted `aggregate` lambda.
    */
  private val NumBands = 4
  private val BandBits = 8

  private def bandKey(b: Int): Column =
    (0 until BandBits).map(d =>
      when(element_at(col("v"), b * BandBits + d + 1) >= lit(0d), lit(1 << d))
        .otherwise(lit(0)))
      .reduce(_ + _).cast("long")

  /** One row per (vec_id, band_idx, band_key), mega-buckets dropped. */
  private def bandRows(emb: DataFrame): DataFrame =
    Dedup.capBuckets(
      emb.select(col("vec_id"), posexplode(array((0 until NumBands).map(bandKey): _*)))
        .toDF("vec_id", "band_idx", "band_key"),
      Dedup.MaxBucketSize, "band_idx", "band_key")

  /** Shared oracle SQL for [[bandRows]]. */
  private def bandRowsSql(src: String): String =
    s"""all_bands AS (
       |  SELECT vec_id, b AS band_idx,
       |    list_sum(list_transform(range(0, $BandBits),
       |      d -> CASE WHEN v[$BandBits * b + d + 1] >= 0 THEN (1 << d) ELSE 0 END))::BIGINT AS band_key
       |  FROM $src, range(0, $NumBands) r(b)
       |), bands AS (
       |  SELECT vec_id, band_idx, band_key FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band_idx, band_key) AS bucket_n
       |    FROM all_bands
       |  ) WHERE bucket_n <= ${Dedup.MaxBucketSize}
       |)""".stripMargin

  /** ANN: candidates = corpus vectors sharing ≥1 LSH band with the query;
    * exact-cosine rerank over candidates only.
    */
  def annLshTopK(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embFloat(embeddings).select("vec_id", "v").persist()
    val bands = bandRows(emb)
    val qBands = bands.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("band_idx"), col("band_key"))
    val cands = bands.join(broadcast(qBands), Seq("band_idx", "band_key"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    cands
      .join(emb, "vec_id")
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("vec_id"), expr(cosExpr("qv", "v")).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc))
        .cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("vec_id"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Embedding-cosine near-dup pairs: sign-LSH bucket join, then cosine ≥
    * threshold inside buckets — never all-pairs. The fixture corpus is
    * random (no true near-dups), so the corpus is first augmented with
    * deterministic perturbed copies (1-in-50, small rational offsets both
    * engines compute identically); the operator provably finds exactly the
    * planted pairs.
    */
  /** Corpus with deterministic perturbed near-duplicates planted 1-in-50
    * (small rational offsets both engines compute identically) — the fixture
    * corpus is random, so near-dup operators need these to have anything
    * true to find.
    */
  private def plantedCorpus(embeddings: DataFrame): DataFrame = {
    val emb = embDouble(embeddings).select("vec_id", "v")
    val planted = embeddings.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(cast(embedding as array<double>), (x, i) -> x + ((i % 5) - 2) / 500d)")
          .as("v"))
    emb.unionByName(planted)
  }

  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.99): DataFrame = {
    val corpus = plantedCorpus(embeddings).persist()
    val bands = bandRows(corpus)
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    pairs
      .join(corpus.select(col("vec_id").as("vec_a"), col("v").as("va")), "vec_a")
      .join(corpus.select(col("vec_id").as("vec_b"), col("v").as("vb")), "vec_b")
      .select(col("vec_a"), col("vec_b"), expr(cosExpr("va", "vb")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** IVF-style ANN: a deterministic coarse quantizer (centroids = vectors
    * 100..107), every vector assigned to its nearest centroid (the posting
    * lists), queries probe their top-2 centroids and rerank only those
    * lists. This is the inverted-file scale path: at 100 TB the assignment
    * is one broadcast-join pass and each query touches nprobe/K of the
    * corpus.
    */
  def annIvfTopK(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embFloat(embeddings).select("vec_id", "v")
    val centroids = emb.filter(col("vec_id") >= 100 && col("vec_id") < 108)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    // posting lists: nearest centroid per vector
    val assigned = emb.join(broadcast(centroids), lit(true))
      .select(col("vec_id"), col("v"), col("c_id"),
        expr(cosExpr("v", "cv")).as("c_cos"))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("c_id").asc)))
      .filter(col("crnk") === 1)
      .select(col("vec_id"), col("v"), col("c_id"))
    // queries probe their top-2 centroids
    val probes = emb.filter(col("vec_id") < NumQueries)
      .join(broadcast(centroids), lit(true))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("c_id"),
        expr(cosExpr("v", "cv")).as("c_cos"))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("c_cos").desc, col("c_id").asc)))
      .filter(col("crnk") <= 2)
      .select(col("q_id"), col("qv"), col("c_id"))
    assigned.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), expr(cosExpr("qv", "v")).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc))
        .cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("vec_id"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Embedding sanity screen — the data-QA pass an embedding pipeline
    * runs before any similarity work trusts the vectors: flag zero
    * vectors (a failed encoder returning its initialization) and NaN
    * components (overflow upstream), and quantize the squared norm of
    * clean vectors (`floor(1e4·⟨v,v⟩)` — exact on bit-identical doubles)
    * for range auditing. Anomalies are PLANTED in-plan by deterministic
    * vec_id arithmetic (the fixture itself is clean), so the oracle
    * replays them exactly.
    *
    * Map-side only: one projection per vector, no shuffle, no driver
    * traffic — scan throughput at any corpus size. NaN-flagged vectors
    * never reach the norm arithmetic (their norm column is null), so no
    * NaN comparison semantics leak into the compared output.
    */
  def embeddingQa(embeddings: DataFrame): DataFrame = {
    val emb = embDouble(embeddings).select(col("vec_id"), col("v"))
    val planted = emb.withColumn("v",
      when(pmod(col("vec_id"), lit(97)) === 0, expr("transform(v, x -> 0D)"))
        .when(pmod(col("vec_id"), lit(89)) === 0,
          expr("transform(v, (x, i) -> IF(i = 0, cast('NaN' as double), x))"))
        .otherwise(col("v")))
    planted
      .withColumn("has_nan", expr("exists(v, x -> isnan(x))"))
      .withColumn("is_zero", !col("has_nan") && expr("forall(v, x -> x = 0D)"))
      .select(col("vec_id"), col("has_nan"), col("is_zero"),
        when(!col("has_nan") && !col("is_zero"),
          floor(expr(s"10000 * ${dot("v", "v")}")).cast("long")).as("norm_q"))
      .orderBy(col("vec_id"))
  }

  /** Cluster-balanced resampling: assign every vector to its nearest
    * coarse cell (the [[annIvfTopK]] fixture quantizer, so the oracle is
    * exact), give every cell an equal share of the kept corpus, and
    * downsample over-full cells by a deterministic md5 threshold. This is
    * the "flatten the topic distribution" pass of embedding-clustered
    * data curation (cf. SemDeDup's cluster framing and DoReMi-flavored
    * mixture reweighting): web-scale corpora are grossly imbalanced
    * across semantic clusters, and training on the raw mixture
    * overweights the mega-clusters.
    *
    * Output is the per-cell audit: population, equal-share cap, keep
    * threshold (ppm), and the post-sample kept count.
    *
    * Scale shape: assignment is one broadcast pass over the corpus (K
    * centroid rows), the cell histogram is O(K), thresholds broadcast
    * back, and the sample filter is map-side — the corpus shuffles only
    * for the per-cell counts (map-side-combinable agg rows, not vectors).
    */
  def clusterBalance(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embFloat(embeddings).select("vec_id", "v")
    val centroids = emb.filter(col("vec_id") >= 100 && col("vec_id") < 108)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    val assigned = emb.join(broadcast(centroids), lit(true))
      .select(col("vec_id"), col("c_id"), expr(cosExpr("v", "cv")).as("c_cos"))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("c_id").asc)))
      .filter(col("crnk") === 1)
      .select(col("vec_id"), col("c_id"))
    val counts = assigned.groupBy(col("c_id")).agg(count(lit(1)).as("n"))
    val cap = counts.select(expr("sum(n) div count(1)").as("cap"))
    val thr = counts.crossJoin(broadcast(cap))
      .select(col("c_id"), col("n"), col("cap"),
        least(lit(1000000L), expr("(1000000 * cap) div n")).as("keep_ppm"))
    val kept = assigned
      .join(broadcast(thr.select(col("c_id"), col("keep_ppm"))), "c_id")
      .filter(expr(
        "cast(conv(substring(md5(cast(vec_id as string)), 1, 15), 16, 10) as bigint) % 1000000")
        < col("keep_ppm"))
      .groupBy(col("c_id")).agg(count(lit(1)).as("kept_n"))
    thr.join(kept, Seq("c_id"), "left")
      .select(col("c_id"), col("n"), col("cap"), col("keep_ppm"),
        coalesce(col("kept_n"), lit(0L)).cast("long").as("kept_n"))
      .orderBy(col("c_id"))
  }

  /** Quantization scale for trained-quantizer arithmetic: components enter
    * Lloyd's as `floor(1e4·x)` — exact on bit-identical doubles, and small
    * enough that every distance term stays well inside exact-integer range
    * (dist ≤ dims·(2·1e4·|x|)² ≈ 2.6e10 ≪ 2^53, so even the double-typed
    * vec_dot path is exact). */
  private val QScale = 10000

  /** `v` (any numeric array) → quantized integral-double array for exact
    * integer geometry through the codegen'd [[graft.plans.VecDot]]. */
  private def quantCol(v: String): Column =
    expr(s"cast(transform(cast($v as array<double>), x -> floor($QScale * x)) as array<double>)")

  /** Exact integer squared-L2 distance between two quantized integral
    * arrays, via the dot-product identity |q−c|² = q·q − 2·q·c + c·c —
    * three codegen'd vec_dot calls, no interpreted lambda in the corpus
    * path, and exact because every partial value is an integer < 2^53. */
  private def qDist(q: String, c: String): Column =
    (expr(dot(q, q)) - lit(2.0) * expr(dot(q, c)) + expr(dot(c, c))).cast("long")

  /** Deterministic k-means (Lloyd's) coarse quantizer — the trained
    * counterpart of [[annIvfTopK]]'s fixture centroids. All heavy work is
    * DataFrame-native and broadcast-shaped:
    *
    *   - training sample: a deterministic md5-sample capped at ~maxTrain
    *     vectors (the standard IVF recipe — train on a sample, assign
    *     everything; at 100 TB the alternative is iters × full-corpus
    *     shuffles for centroids that converge identically);
    *   - seeds: the K sample vectors with the smallest md5(vec_id) — a
    *     hash-spread, engine-reproducible pick (no RNG state);
    *   - assignment: sample × broadcast(K centroids), argmin squared-L2 —
    *     IN QUANTIZED INTEGER SPACE (`floor(1e4·x)`), so every distance
    *     and every comparison is exact integer arithmetic;
    *   - update: per-(centroid, component) INTEGER mean (`sum div n`) —
    *     order-free, reproducible on any partitioning and any engine;
    *   - only the K×dim centroid matrix is ever collected to the driver
    *     (O(K·dim) per iteration, independent of corpus size).
    *
    * Because every training step is exact integer arithmetic, the whole
    * recursion unrolls into a DuckDB oracle (sample → seeds → 3×(argmin →
    * integer mean)) — see [[kmeansSql]] — so the trained-quantizer queries
    * are hash-verified end to end, not rows-only.
    *
    * Returns (c_id, cv) with cv an INTEGRAL array<double> at [[QScale]].
    */
  def kmeansCentroids(emb: DataFrame, k: Int = 8, iters: Int = 3,
      maxTrain: Int = 512): DataFrame = {
    val spark = emb.sparkSession
    val embAll = emb.select(col("vec_id"), quantCol("v").as("qv"))
    val n = embAll.count()
    val every = math.max(1L, (n + maxTrain - 1) / maxTrain)
    val embD =
      if (every == 1L) embAll
      else embAll.filter(
        expr(s"cast(conv(substring(md5(cast(vec_id as string)), 1, 15), 16, 10) as bigint) % $every = 0"))
    // ONE bounded collect of the whole training sample: the md5-mod cap
    // guarantees ~maxTrain rows × dim integral doubles (a few hundred KB)
    // INDEPENDENT of corpus size — the distributed filter scan is the only
    // corpus-scale work. The Lloyd recursion then runs driver-side in the
    // same exact integer arithmetic the DataFrame loop computed (seeds =
    // k hash-smallest; argmin on (dist, c_id); update = sum div n, where
    // Spark's bigint `div` truncates toward zero exactly like Long `/`),
    // so the trained centroids are bit-identical — pinned by
    // SimilaritySpec/QuantizeSpec determinism and the DuckDB unroll — while
    // the per-iteration job launches (3 collect barriers of a previous
    // version, each a full Spark job over a ≤512-row frame) disappear.
    val sample: Array[Array[Long]] = embD.collect()
      .map { r =>
        (Lloyd.md5Hex(r.getLong(r.fieldIndex("vec_id")).toString),
          r.getSeq[Double](r.fieldIndex("qv")).map(_.toLong).toArray)
      }.sortBy(_._1).map(_._2)
    // Seed ids are 1-based in hash order (the previous orderBy(h).limit(k)
    // + zipWithIndex contract).
    val cents = Lloyd.run(sample, sample.take(k), iters)
      .zipWithIndex.map { case (cv, i) => (i + 1, cv.map(_.toDouble).toVector) }
    spark.createDataFrame(cents.toSeq).toDF("c_id", "cv")
  }

  /** Nearest-trained-centroid assignment in quantized integer-L2 space:
    * corpus × broadcast(K centroids), argmin (dist, c_id). One broadcast
    * pass, exact integer comparisons — the 100 TB posting-list build. */
  private def assignCells(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    corpus.withColumn("qq", quantCol("v"))
      .join(broadcast(centroids), lit(true))
      .select(col("vec_id"), col("v"), col("c_id"), qDist("qq", "cv").as("c_dist"))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("c_dist").asc, col("c_id").asc)))
      .filter(col("crnk") === 1)
      .select(col("vec_id"), col("v"), col("c_id"))
  }

  /** IVF ANN over TRAINED centroids ([[kmeansCentroids]]) — same probe shape
    * as [[annIvfTopK]] (nprobe=2 of K=8) but the quantizer is fit to the
    * corpus instead of picked from it. The integer-exact training unrolls
    * into the oracle ([[kmeansSql]]), so this query is hash-verified;
    * SimilaritySpec additionally pins determinism and recall vs the exact
    * baseline.
    */
  def annIvfTrainedTopK(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embFloat(embeddings).select("vec_id", "v").persist()
    val centroids = kmeansCentroids(emb)
    val assigned = assignCells(emb, centroids)
    val probes = emb.filter(col("vec_id") < NumQueries)
      .withColumn("qq", quantCol("v"))
      .join(broadcast(centroids), lit(true))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("c_id"),
        qDist("qq", "cv").as("c_dist"))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("c_dist").asc, col("c_id").asc)))
      .filter(col("crnk") <= 2)
      .select(col("q_id"), col("qv"), col("c_id"))
    assigned.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), expr(cosExpr("qv", "v")).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc))
        .cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("vec_id"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): cluster embeddings
    * with the trained coarse quantizer, then compare pairs ONLY within a
    * cluster and drop all but one of each semantic-duplicate set.
    *
    * This is the third candidate-generation geometry next to sign-LSH
    * banding ([[embeddingNearDup]]) and the inverted file ([[annIvfTopK]]):
    * k-means cells adapt to the data distribution, so at 100 TB the
    * within-cell pair join touches ~N²/K pairs with K grown proportionally
    * to N (the paper uses K≈10⁵ for LAION) — and the same
    * [[Dedup.MaxBucketSize]] cap guards a degenerate cell. Output is one row per
    * DROPPED vector with its kept representative (the least id among its
    * ≥threshold neighbors — the deterministic stand-in for the paper's
    * "keep the one farthest from the centroid").
    *
    * Hash-verified: the integer-exact training unrolls into the oracle
    * ([[kmeansSql]]); SimilaritySpec additionally pins that the planted
    * duplicates are exactly the dropped set.
    */
  def semanticDedup(embeddings: DataFrame, threshold: Double = 0.99): DataFrame = {
    val corpus = plantedCorpus(embeddings).persist()
    val cents = kmeansCentroids(corpus)
    val assigned = Dedup.capBuckets(assignCells(corpus, cents), Dedup.MaxBucketSize, "c_id")
    assigned.as("x").join(assigned.as("y"),
        col("x.c_id") === col("y.c_id") && col("x.vec_id") < col("y.vec_id"))
      .select(col("y.vec_id").as("vec_id"), col("x.vec_id").as("nbr"),
        col("y.c_id").as("c_id"), expr(cosExpr("x.v", "y.v")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("vec_id"))
      .agg(min(col("nbr")).as("keeper_id"), min(col("c_id")).as("c_id"),
        round(max(col("cos")), 4).as("max_cos"))
      .orderBy(col("vec_id"))
  }

  /** Multimodal array-column stats per label class: count, mean L2 norm,
    * mean leading component — the sanity profile a pipeline reports for an
    * embedding table.
    */
  def embeddingStats(embeddings: DataFrame): DataFrame =
    embDouble(embeddings)
      .select(col("label"), expr(s"sqrt(${dot("v", "v")})").as("norm"),
        expr("element_at(v, 1)").as("c0"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("norm")), 4).as("avg_norm"),
        round(avg(col("c0")), 4).as("avg_c0"))
      .orderBy(col("label"))

  // ---------------------------------------------------------------- registry

  // ------------------------------------------------- JL random projection

  /** Projected dimensionality for [[embeddingProject]]. */
  private val ProjDims = 8
  private val EmbDim = 64

  /** Rademacher sign matrix s[j][i] in {+1,-1}, derived from md5 parity of
    * the public string "j:i" — seedless, regenerable bit-for-bit by any
    * engine (the oracle recomputes the same md5 in SQL). */
  private[ops] def signRow(j: Int): IndexedSeq[Double] = (0 until EmbDim).map { i =>
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$j:$i".getBytes("UTF-8"))
    if (((h(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
  }

  /** Johnson-Lindenstrauss random projection 64 -> 8 dims with a Rademacher
    * (+/-1) matrix: the standard cheap dimensionality reduction before
    * clustering / coarse filtering, preserving pairwise distances within
    * (1 +/- eps) whp. The matrix is a PLAN LITERAL (md5-derived, so the
    * oracle regenerates it): at 100 TB it ships inside the serialized plan
    * to every executor — no broadcast join, no shuffle, pure map-side
    * whole-stage-codegen arithmetic at scan throughput.
    *
    * Each output coordinate is a left-fold sum of exact +/-v_i terms, so
    * both engines produce bit-identical doubles; the emitted value is
    * floor(1e4 * x) as BIGINT (floor of bit-identical doubles is exact on
    * the oracle hash, where decimal rounding is not).
    */
  def embeddingProject(embeddings: DataFrame): DataFrame = {
    // No fan (r18 batch-2 A/B: 0.98x — flat; the plan-literal fold is
    // cheaper warm than its cold profile suggested).
    val emb = embDouble(embeddings)
    val projCols = (0 until ProjDims).map { j =>
      val arr = signRow(j).map(s => if (s > 0) "1.0D" else "-1.0D").mkString(",")
      expr(s"cast(floor(10000 * aggregate(zip_with(v, array($arr), " +
        s"(x, s) -> x * s), cast(0 as double), (acc, x) -> acc + x)) as bigint)")
        .as(s"p$j")
    }
    emb.select(col("vec_id") +: projCols: _*).orderBy(col("vec_id"))
  }

  // ----------------------------------------------------------- k-NN graph

  /** Neighbors kept per vector in [[knnGraph]]. */
  private val KnnK = 3

  /** Candidate-pool cap per vector in [[knnGraph]]: at fixture scale band
    * collisions stay under the cap (inactive); at corpus scale it bounds
    * the cosine/rerank work to N x cap pairs (NN-descent's bounded pool).
    * Deterministic md5 order, so the oracle replays the same pool. */
  private val KnnCandCap = 64

  /** Approximate k-NN graph construction — every vector's top-k cosine
    * neighbors among its sign-LSH band collisions. This is the candidate
    * graph SemDeDup-style semantic clustering and graph-based diversity
    * sampling consume; unlike [[cosineTopK]] (a handful of query vectors),
    * EVERY corpus vector is a query here, so the all-pairs formulation is
    * off the table at any scale.
    *
    * Scale shape: the pair space is the union of per-bucket self-joins,
    * bounded by the [[Dedup.MaxBucketSize]] cap (sum over buckets of
    * min(|bucket|, cap)^2), never N^2; the per-vector rank filter plans
    * through the bounded-heap TopK operator via `WindowTopKRewrite`. The
    * oracle rebuilds the IDENTICAL bands, so equality is exact — the LSH
    * recall tradeoff is part of the contract, not a fuzz factor.
    */
  /** Forward-neighbor width for within-bucket sorted-neighborhood pairing:
    * buckets of up to W+1 members are FULLY paired (below that size the
    * lead window reaches every other member, so small-bucket results are
    * exact kNN); bigger buckets degrade to 2·W sampled neighbors per
    * member per band, with a DIFFERENT md5 order per band so the bands'
    * samples union into a diverse pool. */
  private val BucketNbrWindow = 20

  /** Candidate pairs from banded LSH with pair generation BOUNDED BY
    * CONSTRUCTION: each (band, key) bucket's members are ordered by
    * md5(vec_id) (a deterministic shuffle of the bucket) and every member
    * pairs with its next [[BucketNbrWindow]] neighbors through `lead`
    * windows — NEVER a bucket self-join. A bucket of b members emits
    * b × W pairs instead of b², so total candidate volume is
    * O(N × bands × W) no matter how dense the embedding space gets; the
    * round-7 scale smoke caught the self-join form heap-exploding at
    * 100k clustered vectors (avg bucket ~400 → 1.6×10⁸ pre-distinct
    * pairs), which is exactly the failure mode replica-dense real
    * corpora hit. Both directions of each pair are emitted so a vector
    * sees its backward neighbors too (≈ 2·W·bands candidates before the
    * [[KnnCandCap]] trim). The [[Dedup.MaxBucketSize]] drop stays as the
    * degenerate-key guard above this. */
  private def bucketCands(bands: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band_idx"), col("band_key"))
      .orderBy(md5(concat(col("band_idx").cast("string"), lit(":"),
        col("vec_id").cast("string"))), col("vec_id"))
    val leads = (1 to BucketNbrWindow).map(k =>
      lead(col("vec_id"), k).over(w).as(s"n$k"))
    val fwd = bands.select((col("vec_id") +: leads): _*)
      .select(col("vec_id"), explode(array(
        (1 to BucketNbrWindow).map(k => col(s"n$k")): _*)).as("nbr_id"))
      .filter(col("nbr_id").isNotNull)
    fwd.union(fwd.select(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id")))
      .distinct()
  }

  /** The shared pool bound: md5-selected [[KnnCandCap]] candidates per
    * vector, applied BEFORE the wide vector-fetch joins (candidate rows
    * are 16 bytes here, 512+ after; WindowGroupLimit bounds the window
    * state). */
  private def capCands(cands: DataFrame): DataFrame =
    cands
      .withColumn("cand_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
          .orderBy(md5(concat(col("vec_id").cast("string"), lit(":"),
            col("nbr_id").cast("string"))), col("nbr_id"))))
      .filter(col("cand_rn") <= KnnCandCap)
      .drop("cand_rn")

  def knnGraph(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embFloat(embeddings).select("vec_id", "v").persist()
    val cands = capCands(bucketCands(bandRows(emb)))
    cands
      .join(emb.select(col("vec_id"), col("v").as("av")), "vec_id")
      .join(emb.select(col("vec_id").as("nbr_id"), col("v").as("bv")), "nbr_id")
      .select(col("vec_id"), col("nbr_id"), expr(cosExpr("av", "bv")).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cos").desc, col("nbr_id").asc)).cast("long"))
      .filter(col("rnk") <= KnnK)
      .select(col("vec_id"), col("rnk"), col("nbr_id"))
      .orderBy(col("vec_id"), col("rnk"))
  }

  /** Hard negatives kept per anchor vector. */
  private val HardNegK = 5

  /** Hard-negative mining for contrastive training: for each anchor, the
    * [[HardNegK]] most-similar vectors with a DIFFERENT label — the pairs
    * that teach an embedding model the most (easy negatives are already
    * far; hard ones sit just across the decision boundary). Same banded
    * LSH candidate generation and [[KnnCandCap]] pool bound as
    * [[knnGraph]] (never all-pairs, candidates capped BEFORE the wide
    * vector-fetch joins); the label filter runs after the fetch and the
    * rank is computed AMONG NEGATIVES, so an anchor surrounded by its own
    * class still surfaces its nearest cross-class points from the pool.
    * Similarity is emitted as exact `floor(10000·cos)` so the oracle
    * hash-matches bit-for-bit.
    */
  def hardNegatives(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embFloat(embeddings).persist()
    val cands = capCands(bucketCands(bandRows(emb)))
    cands
      .join(emb.select(col("vec_id"), col("v").as("av"),
        col("label").as("label")), "vec_id")
      .join(emb.select(col("vec_id").as("nbr_id"), col("v").as("bv"),
        col("label").as("nbr_label")), "nbr_id")
      .filter(col("label") =!= col("nbr_label"))
      .select(col("vec_id"), col("nbr_id"), col("label"), col("nbr_label"),
        floor(expr(cosExpr("av", "bv")) * 10000).cast("long").as("cos_1e4"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cos_1e4").desc, col("nbr_id").asc)).cast("long"))
      .filter(col("rnk") <= HardNegK)
      .select(col("vec_id"), col("rnk"), col("nbr_id"), col("label"),
        col("nbr_label"), col("cos_1e4"))
      .orderBy(col("vec_id"), col("rnk"))
  }

  /** Nearest-centroid label confusion matrix — the embedding-quality
    * eval that a labeled corpus buys for free: quantize every component
    * to exact µ-units (`floor(1e4·x)`, exact on bit-identical floats),
    * average per label in INTEGER arithmetic (`sum div n` — order-free,
    * so the centroid is reproducible anywhere), assign each vector to
    * its nearest centroid by integer squared-L2, and cross-tabulate true
    * vs predicted label. A healthy embedding space is diagonal-heavy;
    * off-diagonal mass names the confusable label pairs (the same
    * signal [[clusterBalance]] uses for resampling, but supervised).
    *
    * Scale shape: the per-(label, dim) sums are one map-side-combinable
    * shuffle over dim-exploded rows; the centroid table is labels×dims
    * (tiny — broadcast by AQE), so the distance pass adds a per-vector
    * labels×dims fold aggregated map-side down to N×L rows before the
    * (vec, label) shuffle; the argmin is `min(struct(dist, label))` —
    * an aggregate, never a corpus-wide window. All arithmetic fits
    * comfortably in BIGINT: |q| ≤ 1e4·|x|, dist ≤ dims·(2·max_q)².
    */
  def centroidConfusion(embeddings: DataFrame): DataFrame = {
    val q = embeddings
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .withColumn("q", floor(lit(10000) * col("x").cast("double")).cast("long"))
      .select(col("vec_id"), col("label"), col("d"), col("q"))
    val cent = q.groupBy(col("label").as("c_label"), col("d"))
      .agg(expr("sum(q) div count(1)").as("c"))
    val pred = q.join(cent, Seq("d"))
      .groupBy(col("vec_id"), col("label"), col("c_label"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist"))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(struct(col("dist"), col("c_label"))).as("best"))
      .select(col("label"), col("best.c_label").as("pred_label"))
    pred.groupBy(col("label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("pred_label"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "centroid_confusion" -> ((s, d) => centroidConfusion(Tables.embeddings(s, d))),
    "ann_cosine_topk" -> ((s, d) => cosineTopK(Tables.embeddings(s, d))),
    "hard_negatives" -> ((s, d) => hardNegatives(Tables.embeddings(s, d))),
    "ann_lsh_topk" -> ((s, d) => annLshTopK(Tables.embeddings(s, d))),
    "ann_ivf_topk" -> ((s, d) => annIvfTopK(Tables.embeddings(s, d))),
    "ann_ivf_trained_topk" -> ((s, d) => annIvfTrainedTopK(Tables.embeddings(s, d))),
    "embedding_near_dup" -> ((s, d) => embeddingNearDup(Tables.embeddings(s, d))),
    "semantic_dedup" -> ((s, d) => semanticDedup(Tables.embeddings(s, d))),
    "embedding_stats" -> ((s, d) => embeddingStats(Tables.embeddings(s, d))),
    "embedding_project" -> ((s, d) => embeddingProject(Tables.embeddings(s, d))),
    "knn_graph" -> ((s, d) => knnGraph(Tables.embeddings(s, d))),
    "cluster_balance" -> ((s, d) => clusterBalance(Tables.embeddings(s, d))),
    "embedding_qa" -> ((s, d) => embeddingQa(Tables.embeddings(s, d))),
  )

  /** DuckDB oracle mirrors the same left-fold dot product (list_reduce with
    * an explicit 0.0 seed) so double arithmetic agrees bit-for-bit.
    */
  private def dotSql(a: String, b: String): String =
    s"list_reduce([0.0::DOUBLE] || list_transform(range(1, 65), i -> $a[i] * $b[i]), (acc, x) -> acc + x)"

  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** Shared oracle SQL for [[bucketCands]]: the within-bucket
    * sorted-neighborhood lead pairing, both directions, deduped. Expects a
    * `bands` CTE in scope; emits a `cands0` CTE. */
  private def bucketCandsSql: String = {
    val leadCols = (1 to BucketNbrWindow)
      .map(k => s"lead(vec_id, $k) OVER w AS n$k").mkString(",\n       |    ")
    val leadList = (1 to BucketNbrWindow).map(k => s"n$k").mkString(", ")
    s"""fwd0 AS (
       |  SELECT vec_id,
       |    $leadCols
       |  FROM bands WINDOW w AS (PARTITION BY band_idx, band_key
       |    ORDER BY md5(band_idx::VARCHAR || ':' || vec_id::VARCHAR), vec_id)
       |), fwd AS (
       |  SELECT vec_id, nbr_id FROM (
       |    SELECT vec_id, unnest([$leadList]) AS nbr_id FROM fwd0)
       |  WHERE nbr_id IS NOT NULL
       |), cands0 AS (
       |  SELECT DISTINCT vec_id, nbr_id FROM (
       |    SELECT vec_id, nbr_id FROM fwd
       |    UNION ALL
       |    SELECT nbr_id AS vec_id, vec_id AS nbr_id FROM fwd)
       |)""".stripMargin
  }

  /** Integer squared-L2 between two quantized BIGINT lists (oracle side). */
  private def qDistSql(q: String, c: String): String =
    s"list_sum(list_transform(range(1, 65), i -> ($q[i] - $c[i]) * ($q[i] - $c[i])))"

  /** Unrolled-CTE mirror of [[kmeansCentroids]] (k=8, iters=3,
    * maxTrain=512): md5 sample → seed pick → 3×(integer-L2 argmin →
    * integer mean, lost cells keep position). Expects a CTE named `src`
    * with (vec_id, v DOUBLE[]); emits `qt` (quantized corpus) and `c3`
    * (the trained centroid table). Every step is exact integer
    * arithmetic, so equality with the Spark recursion is bit-exact.
    */
  private[ops] def kmeansSql(src: String, trainPred: String = "TRUE"): String = {
    val rounds = (1 to 3).map { r =>
      val prev = s"c${r - 1}"
      s"""a$r AS (
         |  SELECT vec_id, qv, c_id FROM (
         |    SELECT s.vec_id, s.qv, c.c_id,
         |      row_number() OVER (PARTITION BY s.vec_id
         |        ORDER BY ${qDistSql("s.qv", "c.cv")} ASC, c.c_id ASC) AS crnk
         |    FROM samp s, $prev c) WHERE crnk = 1
         |), u$r AS (
         |  SELECT c_id, d, sum(qv[d]) // count(*) AS m
         |  FROM a$r, range(1, 65) r(d) GROUP BY c_id, d
         |), n$r AS (
         |  SELECT c_id, list(m ORDER BY d) AS cv FROM u$r GROUP BY c_id
         |), c$r AS MATERIALIZED (
         |  SELECT p.c_id, coalesce(nu.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN n$r nu ON nu.c_id = p.c_id
         |)""".stripMargin
    }.mkString(",\n")
    s"""qt AS MATERIALIZED (
       |  SELECT vec_id, list_transform(v, x -> floor($QScale * x)::BIGINT) AS qv
       |  FROM $src
       |), ev AS (
       |  SELECT greatest(1, (count(*) + 511) // 512)::BIGINT AS every
       |  FROM qt WHERE $trainPred
       |), samp AS MATERIALIZED (
       |  SELECT vec_id, qv FROM qt, ev
       |  WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT % every = 0
       |    AND ($trainPred)
       |), c0 AS (
       |  SELECT c_id, cv FROM (
       |    SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR)))::INT AS c_id,
       |      qv AS cv
       |    FROM samp) WHERE c_id <= 8
       |),
       |$rounds""".stripMargin
  }

  /** Oracle fragment: nearest-c3-centroid cell per `qt` vector. */
  private[ops] def assignCellsSql: String =
    s"""assigned AS (
       |  SELECT vec_id, c_id FROM (
       |    SELECT q.vec_id, c.c_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${qDistSql("q.qv", "c.cv")} ASC, c.c_id ASC) AS crnk
       |    FROM qt q, c3 c) WHERE crnk = 1
       |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "ann_ivf_trained_topk" ->
      s"""WITH src AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${kmeansSql("src")},
         |$assignCellsSql,
         |probes AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q.vec_id AS q_id, c.c_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${qDistSql("q.qv", "c.cv")} ASC, c.c_id ASC) AS crnk
         |    FROM qt q, c3 c WHERE q.vec_id < $NumQueries) WHERE crnk <= 2
         |),
         |scored AS (
         |  SELECT p.q_id, a.vec_id,
         |    row_number() OVER (PARTITION BY p.q_id
         |      ORDER BY ${cosSql("qe.v", "ve.v")} DESC, a.vec_id ASC) AS rnk
         |  FROM assigned a JOIN probes p USING (c_id)
         |  JOIN src qe ON qe.vec_id = p.q_id
         |  JOIN src ve ON ve.vec_id = a.vec_id
         |  WHERE a.vec_id <> p.q_id
         |)
         |SELECT q_id, rnk::BIGINT AS rnk, vec_id
         |FROM scored WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "semantic_dedup" ->
      s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |planted AS (
         |  SELECT vec_id + 100000 AS vec_id,
         |    list_transform(range(1, 65), i -> v[i] + (((i - 1) % 5) - 2) / 500.0) AS v
         |  FROM base WHERE vec_id % 50 = 0
         |),
         |src AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
         |${kmeansSql("src")},
         |$assignCellsSql,
         |cells AS (
         |  SELECT vec_id, c_id FROM (
         |    SELECT *, count(*) OVER (PARTITION BY c_id) AS cell_n
         |    FROM assigned) WHERE cell_n <= ${Dedup.MaxBucketSize}
         |),
         |scored AS (
         |  SELECT y.vec_id AS vec_id, x.vec_id AS nbr, y.c_id AS c_id,
         |    ${cosSql("xv.v", "yv.v")} AS cos
         |  FROM cells x JOIN cells y ON x.c_id = y.c_id AND x.vec_id < y.vec_id
         |  JOIN src xv ON xv.vec_id = x.vec_id
         |  JOIN src yv ON yv.vec_id = y.vec_id
         |)
         |SELECT vec_id, min(nbr) AS keeper_id, min(c_id) AS c_id,
         |  round(max(cos), 4) AS max_cos
         |FROM scored WHERE cos >= 0.99 GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // Spark's posexplode is 0-based, DuckDB's generate_series here is
    // 1-based — d is only ever a JOIN key, so the offset is immaterial.
    // The series bound derives from len(v) (not a hard-coded dim) so a
    // fixture-dimension change fails loudly instead of silently NULLing.
    "centroid_confusion" ->
      """WITH pos AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
        |    unnest(generate_series(1, len(embedding::DOUBLE[]))) AS d
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id, label, d, floor(10000 * v[d])::BIGINT AS q
        |  FROM pos
        |), cent AS (
        |  SELECT label AS c_label, d, (sum(q) // count(*))::BIGINT AS c
        |  FROM q GROUP BY 1, 2
        |), dist AS (
        |  SELECT q.vec_id, q.label, cent.c_label,
        |    sum((q.q - cent.c) * (q.q - cent.c))::BIGINT AS dist
        |  FROM q JOIN cent USING (d) GROUP BY 1, 2, 3
        |), pred AS (
        |  SELECT vec_id, label, c_label,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY dist, c_label) AS rn
        |  FROM dist
        |)
        |SELECT label, c_label AS pred_label, count(*)::BIGINT AS n
        |FROM pred WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // DuckDB lambda indexes are 1-based where Spark's are 0-based; both
    // plant NaN into the FIRST component.
    "embedding_qa" ->
      s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
         |e AS (
         |  SELECT vec_id,
         |    CASE WHEN vec_id % 97 = 0 THEN list_transform(v0, x -> 0.0::DOUBLE)
         |         WHEN vec_id % 89 = 0 THEN list_transform(v0,
         |           (x, i) -> CASE WHEN i = 1 THEN 'NaN'::DOUBLE ELSE x END)
         |         ELSE v0 END AS v
         |  FROM e0
         |), flagged AS (
         |  SELECT vec_id, v,
         |    len(list_filter(v, x -> isnan(x))) > 0 AS has_nan
         |  FROM e
         |), z AS (
         |  SELECT vec_id, v, has_nan,
         |    (NOT has_nan) AND len(list_filter(v, x -> x <> 0.0)) = 0 AS is_zero
         |  FROM flagged
         |)
         |SELECT vec_id, has_nan, is_zero,
         |  CASE WHEN NOT has_nan AND NOT is_zero
         |    THEN floor(10000 * ${dotSql("v", "v")})::BIGINT END AS norm_q
         |FROM z ORDER BY vec_id""".stripMargin,
    "cluster_balance" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id >= 100 AND vec_id < 108),
         |assigned AS (
         |  SELECT vec_id, c_id FROM (
         |    SELECT e.vec_id, c.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS crnk
         |    FROM e, c
         |  ) WHERE crnk = 1
         |), counts AS (
         |  SELECT c_id, count(*) AS n FROM assigned GROUP BY c_id
         |), cap AS (SELECT (sum(n) // count(*))::BIGINT AS cap FROM counts),
         |thr AS (
         |  SELECT c_id, n, cap,
         |    least(1000000, (1000000 * cap) // n)::BIGINT AS keep_ppm
         |  FROM counts, cap
         |), kept AS (
         |  SELECT a.c_id, count(*) AS kept_n
         |  FROM assigned a JOIN thr USING (c_id)
         |  WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT % 1000000 < keep_ppm
         |  GROUP BY a.c_id
         |)
         |SELECT c_id, n, cap, keep_ppm, coalesce(kept_n, 0)::BIGINT AS kept_n
         |FROM thr LEFT JOIN kept USING (c_id)
         |ORDER BY c_id""".stripMargin,
    "hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
         |${bandRowsSql("e")},
         |$bucketCandsSql,
         |cands AS (
         |  SELECT vec_id, nbr_id FROM (
         |    SELECT vec_id, nbr_id, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY md5(vec_id::VARCHAR || ':' || nbr_id::VARCHAR), nbr_id) AS cand_rn
         |    FROM cands0)
         |  WHERE cand_rn <= $KnnCandCap
         |),
         |scored AS (
         |  SELECT c.vec_id, c.nbr_id, ae.label AS label, be.label AS nbr_label,
         |    floor(10000 * ${cosSql("ae.v", "be.v")})::BIGINT AS cos_1e4
         |  FROM cands c
         |  JOIN e ae ON ae.vec_id = c.vec_id
         |  JOIN e be ON be.vec_id = c.nbr_id
         |  WHERE ae.label <> be.label
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos_1e4 DESC, nbr_id ASC) AS rnk
         |  FROM scored
         |)
         |SELECT vec_id, rnk::BIGINT AS rnk, nbr_id, label, nbr_label, cos_1e4
         |FROM ranked WHERE rnk <= $HardNegK ORDER BY vec_id, rnk""".stripMargin,
    "knn_graph" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${bandRowsSql("e")},
         |$bucketCandsSql,
         |cands AS (
         |  SELECT vec_id, nbr_id FROM (
         |    SELECT vec_id, nbr_id, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY md5(vec_id::VARCHAR || ':' || nbr_id::VARCHAR), nbr_id) AS cand_rn
         |    FROM cands0)
         |  WHERE cand_rn <= $KnnCandCap
         |),
         |scored AS (
         |  SELECT c.vec_id, c.nbr_id,
         |    row_number() OVER (PARTITION BY c.vec_id
         |      ORDER BY ${cosSql("ae.v", "be.v")} DESC, c.nbr_id ASC) AS rnk
         |  FROM cands c
         |  JOIN e ae ON ae.vec_id = c.vec_id
         |  JOIN e be ON be.vec_id = c.nbr_id
         |)
         |SELECT vec_id, rnk::BIGINT AS rnk, nbr_id
         |FROM scored WHERE rnk <= 3 ORDER BY vec_id, rnk""".stripMargin,
    "embedding_project" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT vec_id,
        |  floor(10000 * list_reduce([0.0::DOUBLE] || list_transform(range(1, 65), i -> v[i] * CASE WHEN ('0x' || substr(md5('0:' || (i-1)::VARCHAR), 1, 1))::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END), (acc, x) -> acc + x))::BIGINT AS p0,
        |  floor(10000 * list_reduce([0.0::DOUBLE] || list_transform(range(1, 65), i -> v[i] * CASE WHEN ('0x' || substr(md5('1:' || (i-1)::VARCHAR), 1, 1))::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END), (acc, x) -> acc + x))::BIGINT AS p1,
        |  floor(10000 * list_reduce([0.0::DOUBLE] || list_transform(range(1, 65), i -> v[i] * CASE WHEN ('0x' || substr(md5('2:' || (i-1)::VARCHAR), 1, 1))::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END), (acc, x) -> acc + x))::BIGINT AS p2,
        |  floor(10000 * list_reduce([0.0::DOUBLE] || list_transform(range(1, 65), i -> v[i] * CASE WHEN ('0x' || substr(md5('3:' || (i-1)::VARCHAR), 1, 1))::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END), (acc, x) -> acc + x))::BIGINT AS p3,
        |  floor(10000 * list_reduce([0.0::DOUBLE] || list_transform(range(1, 65), i -> v[i] * CASE WHEN ('0x' || substr(md5('4:' || (i-1)::VARCHAR), 1, 1))::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END), (acc, x) -> acc + x))::BIGINT AS p4,
        |  floor(10000 * list_reduce([0.0::DOUBLE] || list_transform(range(1, 65), i -> v[i] * CASE WHEN ('0x' || substr(md5('5:' || (i-1)::VARCHAR), 1, 1))::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END), (acc, x) -> acc + x))::BIGINT AS p5,
        |  floor(10000 * list_reduce([0.0::DOUBLE] || list_transform(range(1, 65), i -> v[i] * CASE WHEN ('0x' || substr(md5('6:' || (i-1)::VARCHAR), 1, 1))::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END), (acc, x) -> acc + x))::BIGINT AS p6,
        |  floor(10000 * list_reduce([0.0::DOUBLE] || list_transform(range(1, 65), i -> v[i] * CASE WHEN ('0x' || substr(md5('7:' || (i-1)::VARCHAR), 1, 1))::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END), (acc, x) -> acc + x))::BIGINT AS p7
        |FROM e ORDER BY vec_id""".stripMargin,
    "ann_cosine_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT q_id, vec_id, ${cosSql("qv", "v")} AS cos,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${cosSql("qv", "v")} DESC, vec_id ASC) AS rnk
         |  FROM e, q WHERE vec_id <> q_id
         |)
         |SELECT q_id, rnk, vec_id, round(cos, 4) AS cos
         |FROM scored WHERE rnk <= $TopK ORDER BY q_id, rnk""".stripMargin,
    "ann_lsh_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${bandRowsSql("e")},
         |cands AS (
         |  SELECT DISTINCT q.vec_id AS q_id, b.vec_id
         |  FROM bands b JOIN bands q
         |    ON b.band_idx = q.band_idx AND b.band_key = q.band_key
         |  WHERE q.vec_id < $NumQueries AND b.vec_id <> q.vec_id
         |),
         |scored AS (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id ASC) AS rnk
         |  FROM (
         |    SELECT c.q_id, c.vec_id, ${cosSql("qe.v", "ve.v")} AS cos
         |    FROM cands c
         |    JOIN e qe ON qe.vec_id = c.q_id
         |    JOIN e ve ON ve.vec_id = c.vec_id
         |  )
         |)
         |SELECT q_id, rnk, vec_id FROM scored WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "embedding_near_dup" ->
      s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |planted AS (
         |  SELECT vec_id + 100000 AS vec_id,
         |    list_transform(range(1, 65), i -> v[i] + (((i - 1) % 5) - 2) / 500.0) AS v
         |  FROM base WHERE vec_id % 50 = 0
         |),
         |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
         |${bandRowsSql("corpus")},
         |pairs AS (
         |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         |  FROM bands x JOIN bands y
         |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
         |   AND x.vec_id < y.vec_id
         |)
         |SELECT vec_a, vec_b, round(cos, 4) AS cos FROM (
         |  SELECT p.vec_a, p.vec_b, ${cosSql("a.v", "b.v")} AS cos
         |  FROM pairs p
         |  JOIN corpus a ON a.vec_id = p.vec_a
         |  JOIN corpus b ON b.vec_id = p.vec_b
         |) WHERE cos >= 0.99 ORDER BY vec_a, vec_b""".stripMargin,
    "ann_ivf_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id >= 100 AND vec_id < 108),
         |assigned AS (
         |  SELECT vec_id, v, c_id FROM (
         |    SELECT e.vec_id, e.v, c.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS crnk
         |    FROM e, c
         |  ) WHERE crnk = 1
         |),
         |probes AS (
         |  SELECT q_id, qv, c_id FROM (
         |    SELECT e.vec_id AS q_id, e.v AS qv, c.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id ASC) AS crnk
         |    FROM e, c WHERE e.vec_id < $NumQueries
         |  ) WHERE crnk <= 2
         |),
         |scored AS (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${cosSql("qv", "v")} DESC, vec_id ASC) AS rnk
         |  FROM assigned JOIN probes USING (c_id)
         |  WHERE vec_id <> q_id
         |)
         |SELECT q_id, rnk, vec_id FROM scored WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "embedding_stats" ->
      s"""WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT label, count(*) AS n,
         |  round(avg(sqrt(${dotSql("v", "v")})), 4) AS avg_norm,
         |  round(avg(v[1]), 4) AS avg_c0
         |FROM e GROUP BY label ORDER BY label""".stripMargin,
  )
}
