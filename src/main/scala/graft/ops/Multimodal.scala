package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal-column plumbing: media treated as opaque `binary` columns with
  * typed metadata, frame-sampling, and a REAL image-decode stage.
  *
  * [[decodeBatched]] decodes actual PNG payloads through `javax.imageio`
  * (in every JDK — no new dependency): one codec reader per PARTITION,
  * iterator-to-iterator, real pixel features (width/height/luma) out. The
  * PNGs are generated deterministically ([[pngCorpus]]) with closed-form
  * integer pixel values, so the decoded features hash-check against a SQL
  * recomputation — the oracle verifies the encode→decode round trip, not
  * a fake. [[decodeStub]] remains as the pure-byte-function form whose
  * oracle pins the opaque-binary plumbing independent of any codec.
  */
object Multimodal {

  /** `documents.text` re-cast as the opaque media `binary` column. */
  def mediaTable(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("text").cast("binary").as("media"))

  /** Typed metadata over an opaque binary column: byte length, content hash,
    * magic-bytes prefix — the schema a media lake actually carries.
    */
  def mediaMeta(media: DataFrame): DataFrame =
    media.select(
      col("doc_id"),
      length(col("media")).cast("long").as("n_bytes"),
      sha2(col("media"), 256).as("content_sha"),
      hex(substring(col("media"), 1, 8)).as("magic_hex"))
      .orderBy(col("doc_id"))

  /** Frame sampling: fixed-stride byte windows out of the payload (the
    * video-frame / audio-chunk access pattern), hex-encoded.
    */
  def frameSample(media: DataFrame): DataFrame =
    media.select(
      col("doc_id"),
      expr("concat_ws(':', transform(sequence(0, 3), i -> hex(substring(media, 1 + 16 * i, 2))))")
        .as("frames"))
      .orderBy(col("doc_id"))

  /** STUB decode: deterministic fake features from the content hash — stands
    * in for image decode / resize / feature extraction. A real codec is not
    * SQL, but the STUB's features are pure byte functions, so the plumbing
    * (binary column in, typed feature row out) is oracle-checked end to end;
    * swapping in a native decoder only changes the feature math.
    */
  def decodeStub(media: DataFrame): DataFrame =
    media.select(
      col("doc_id"),
      (expr("cast(conv(substring(md5(media), 1, 8), 16, 10) as bigint)") % 1920)
        .as("fake_width"),
      (expr("cast(conv(substring(md5(media), 9, 8), 16, 10) as bigint)") % 1080)
        .as("fake_height"),
      (expr("cast(conv(substring(md5(media), 17, 8), 16, 10) as bigint)") % 256)
        .as("fake_brightness"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------- real decode

  /** Planted PNG geometry/content: pure integer functions of doc_id, so
    * the oracle recomputes the decoded features in closed form. Dimensions
    * span 8..16 (non-square to catch width/height swaps); pixel values
    * cover the full 8-bit gray range. */
  def pngWidth(id: Long): Int = (8 + id % 9).toInt
  def pngHeight(id: Long): Int = (8 + (id * 7) % 9).toInt
  def pngPixel(id: Long, x: Int, y: Int): Int =
    ((id * 31 + x * 7 + y * 13) % 256).toInt

  /** Encode one planted PNG (8-bit grayscale, lossless) for `doc_id`. */
  private[ops] def encodePng(id: Long): Array[Byte] = {
    val w = pngWidth(id); val h = pngHeight(id)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, pngPixel(id, x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream(w * h + 128)
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** One real 8-bit grayscale PNG per document, encoded with the JDK's
    * ImageIO (lossless — decode must return exactly the planted pixels).
    * Generated distributed, one encoder context per partition. */
  def pngCorpus(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false) // no temp-file spill per image
        ids.map(id => (id, encodePng(id)))
      }
      .toDF("doc_id", "media")
  }

  /** Every Nth document's payload is deliberately corrupt in
    * [[pngCorpusWithCorrupt]] — web-scraped media at 100 TB GUARANTEES
    * truncated and mislabeled payloads, so the decode stage's corrupt
    * channel must be a first-class tested path, same as the Avro
    * PERMISSIVE contract. The flag is a pure function of doc_id so the
    * oracle covers the corrupt rows in closed form. */
  val CorruptEvery = 13

  /** The planted corpus with BOTH corrupt shapes web crawls produce:
    * a TRUNCATED PNG (valid signature, body cut mid-IHDR — decode fails
    * after the codec has already accepted the input) on ids divisible by
    * 2·[[CorruptEvery]], and non-image bytes (a mislabeled asset) on the
    * other corrupt ids. */
  def pngCorpusWithCorrupt(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val payload =
            if (id % CorruptEvery != 0) encodePng(id)
            else if (id % (2 * CorruptEvery) == 0) encodePng(id).take(24)
            else s"!not-an-image-$id".getBytes(
              java.nio.charset.StandardCharsets.US_ASCII)
          (id, payload)
        }
      }
      .toDF("doc_id", "media")
  }

  /** Output row of the batched decode stage: REAL pixel features, nulled
    * (with the flag set) on a corrupt payload. The mean is emitted in
    * exact milli-units (`sum·1000 div n`), integer on both engines. */
  final case class DecodedMedia(doc_id: Long, width: Option[Long],
      height: Option[Long], luma_sum: Option[Long],
      mean_luma_milli: Option[Long], is_corrupt: Boolean)

  /** Batched PNG decode via `mapPartitions`: ONE `ImageReader` per
    * partition (codec handles are expensive; per-row construction is the
    * anti-pattern), then an iterator-to-iterator pass decoding each binary
    * payload to real width/height/luma. This is the Scala analog of an
    * Arrow-batched `mapInPandas` decode worker, with the same batch shape
    * and no driver involvement. Features are exact integers, so the stage
    * is oracle-checked against the closed-form pixel definition — the
    * hash match proves the ImageIO encode→decode round trip, not a stub.
    *
    * PERMISSIVE corrupt channel: a payload the codec rejects (truncated,
    * not an image at all) yields a null-feature row with `is_corrupt`
    * set and bumps the `media_decode_corrupt` accumulator — it NEVER
    * fails the task. At web scale corrupt media is guaranteed input; one
    * bad image must not kill a stage after four retries. Mirrors the
    * Avro PERMISSIVE null-row + corrupt-count contract.
    *
    * The reader is disposed through a task-completion listener, not
    * iterator exhaustion — a limit/take or a downstream failure abandons
    * the iterator mid-partition, and the codec handle must not leak
    * until GC.
    */
  def decodeBatched(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val corrupt = spark.sparkContext.longAccumulator("media_decode_corrupt")
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val reader = javax.imageio.ImageIO
          .getImageReadersByFormatName("png").next()
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => reader.dispose()))
        rows.map { case (id, bytes) =>
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            reader.setInput(iis, true, true)
            val img = reader.read(0)
            val w = img.getWidth; val h = img.getHeight
            val raster = img.getRaster
            var s = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { s += raster.getSample(x, y, 0); x += 1 }
              y += 1
            }
            DecodedMedia(id, Some(w.toLong), Some(h.toLong), Some(s),
              Some(s * 1000L / (w.toLong * h)), is_corrupt = false)
          } catch {
            case scala.util.control.NonFatal(_) =>
              corrupt.add(1L)
              DecodedMedia(id, None, None, None, None, is_corrupt = true)
          } finally iis.close()
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------ perceptual-hash dedup

  /** Signature geometry: 16 blocks × 16 chars over a fixed 256-char prefix
    * (a block-mean hash, the pHash family's simplest member). Media below
    * this size are excluded — a perceptual hash needs a minimum payload. */
  val PhashBlocks = 16
  val PhashBlockLen = 16
  val PhashMinLen: Int = PhashBlocks * PhashBlockLen
  val PhashMaxHamming = 2
  val PhashMaxBucket = 1000

  /** Eligible media plus planted near-dups: every 25th doc reappears with
    * its tail rewritten beyond the signature window — the re-encoded /
    * re-wrapped asset whose content prefix is untouched (the case
    * perceptual dedup exists to catch and exact content hashing misses:
    * `mediaMeta.content_sha` differs on every plant). */
  def phashCorpus(documents: DataFrame): DataFrame =
    // Eligibility gates on the TYPED METADATA column (n_chars — equal to
    // length(text) in the fixture), not the payload: at scale the size
    // gate prunes from column stats without reading media bytes. The
    // plants are emitted from the SAME scan via a conditional explode
    // (1-or-2 structs per row) — one corpus pass, no self-union.
    documents.filter(col("n_chars") >= PhashMinLen)
      .select(explode(when(col("doc_id") % 25 === 0,
          array(
            struct(col("doc_id"), col("text")),
            struct((col("doc_id") + 10000).as("doc_id"),
              concat(substring(col("text"), 1, 280), lit(" remuxed tail")).as("text"))))
        .otherwise(array(struct(col("doc_id"), col("text"))))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))

  /** Block-mean perceptual signature: bit b is set iff block b's mean
    * exceeds the whole-prefix mean — integer cross-multiplied
    * (`blocks·Σblock > Σtotal`), so the signature is exact on both
    * engines and the oracle hashes bit-for-bit. In a real media lake the
    * decoder emits this (or DCT-based pHash) per asset as it decodes —
    * the per-char lambda here stands in for that and is confined to the
    * signature projection; everything downstream (banding, capped
    * self-join, Hamming verify) is the operator's real scale shape.
    */
  def phashSignatures(corpus: DataFrame): DataFrame =
    corpus
      // Native codegen'd kernel (graft.plans.CharBlockSums): one pass over
      // the code points. The equivalent nested-lambda formulation is
      // interpreted AND quadratic on multi-byte text (each substring(i, 1)
      // is O(i)); MultimodalSpec pins bit-equality of the two forms.
      .withColumn("bsums",
        expr(s"char_block_sums(text, $PhashBlocks, $PhashBlockLen)"))
      .withColumn("total", expr("aggregate(bsums, 0L, (a, x) -> a + x)"))
      .select(col("doc_id"), expr(
        s"""aggregate(sequence(0, ${PhashBlocks - 1}, 1), 0L, (a, b) ->
           |  a + if($PhashBlocks * element_at(bsums, b + 1) > total, shiftleft(1L, b), 0L))""".stripMargin)
        .as("phash"))

  /** Perceptual near-dup pairs: band the 16-bit signature into two 8-bit
    * halves (Hamming ≤ 2 leaves at least one band intact), self-join per
    * band with the [[PhashMaxBucket]] skew cap (same guard as the
    * MinHash/SimHash paths — a corpus of monochrome assets collapses to
    * one signature and must not go quadratic), then verify true Hamming
    * distance on the candidates. Never all-pairs.
    */
  def phashPairs(documents: DataFrame): DataFrame = {
    // The aggregate is a semantic no-op (doc_id is unique in the corpus)
    // that materializes the signature RELATION before the self-join. It
    // also works around a Spark constraint-propagation edge: a pure
    // projection over the planted-corpus union lets alias constraints
    // referencing pruned source columns reach the self-join's union
    // rewrite, which crashes (`key not found`); an Aggregate propagates
    // only grouping-column constraints, exactly like the SimHash path.
    val s = phashSignatures(phashCorpus(documents))
      .groupBy(col("doc_id")).agg(max(col("phash")).as("phash"))
    val allBands = s.select(col("doc_id"), col("phash"), posexplode(expr(
      "transform(sequence(0, 1, 1), b -> shiftright(phash, cast(8 * b as int)) % 256)")))
      .toDF("doc_id", "phash", "band_idx", "band_key")
    val bands = Dedup.capBuckets(allBands, PhashMaxBucket, "band_idx", "band_key")
    bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.phash ^ y.phash)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= PhashMaxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---------------------------------------------------------------- registry

  /** Interleaved multimodal sequence packing — the batching step of a
    * vision-language training pipeline: text items carry their word count,
    * image attachments a FIXED vision-token budget (64 tokens per sampled
    * frame, frames from payload size — the patch-embedding contract where
    * media cost is resolution-determined, not content-determined), and the
    * combined stream packs into ~2048-token context bins. Same sharded
    * running-total shape as [[graft.ops.Pipeline.tokenPacking]]: the
    * cumsum window is partitioned by an md5 shard, so no task ever sees
    * the whole corpus and parallelism tracks shard count. Output is the
    * per-(shard, bin) modality manifest a loader consumes: item and token
    * counts per modality per bin.
    */
  def interleavedPacking(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val texts = documents.select(col("doc_id"), lit("text").as("kind"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    // Every 3rd doc carries an image attachment in the fixture.
    val images = mediaTable(documents)
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id"), lit("image").as("kind"),
        expr("least(4L, 1L + (length(media) div 256)) * 64").as("n_tokens"))
    texts.unionByName(images)
      .withColumn("shard", expr(
        s"""cast(conv(substring(md5(concat(cast(doc_id as string), kind)),
           | 1, 15), 16, 10) as bigint) % ${Pipeline.PackingShards}""".stripMargin
          .replace("\n", "")))
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.partitionBy(col("shard")).orderBy(col("doc_id"), col("kind"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("bin", expr("(cum - n_tokens) div 2048"))
      .groupBy(col("shard"), col("bin"))
      .agg(
        sum(when(col("kind") === "text", 1L).otherwise(0L)).as("n_text"),
        sum(when(col("kind") === "image", 1L).otherwise(0L)).as("n_image"),
        sum(when(col("kind") === "text", col("n_tokens")).otherwise(0L))
          .as("text_tokens"),
        sum(when(col("kind") === "image", col("n_tokens")).otherwise(0L))
          .as("image_tokens"))
      .orderBy(col("shard"), col("bin"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "interleaved_packing" -> ((s, d) =>
      interleavedPacking(graft.sources.Tables.documents(s, d))),
    "media_meta" -> ((s, d) => mediaMeta(mediaTable(Tables.documents(s, d)))),
    "media_frame_sample" -> ((s, d) => frameSample(mediaTable(Tables.documents(s, d)))),
    "media_decode_stub" -> ((s, d) => decodeStub(mediaTable(Tables.documents(s, d)))),
    "media_decode_batched" -> ((s, d) => decodeBatched(pngCorpus(Tables.documents(s, d)))),
    "media_decode_permissive" -> ((s, d) =>
      decodeBatched(pngCorpusWithCorrupt(Tables.documents(s, d)))),
    "media_phash_dedup" -> ((s, d) => phashPairs(Tables.documents(s, d))),
  )

  def oracleSql: Map[String, String] = Map(
    "interleaved_packing" ->
      s"""WITH items AS (
         |  SELECT doc_id, 'text' AS kind,
         |    len(string_split(text, ' '))::BIGINT AS n_tokens
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'image',
         |    (least(4, 1 + (strlen(text) // 256)) * 64)::BIGINT
         |  FROM documents WHERE doc_id % 3 = 0
         |), s AS (
         |  SELECT *, ('0x' || substr(md5(doc_id::VARCHAR || kind), 1, 15))::BIGINT
         |    % ${Pipeline.PackingShards} AS shard
         |  FROM items
         |), c AS (
         |  SELECT *, (sum(n_tokens) OVER (PARTITION BY shard
         |    ORDER BY doc_id, kind
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
         |  FROM s
         |)
         |SELECT shard, ((cum - n_tokens) // 2048)::BIGINT AS bin,
         |  sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END)::BIGINT AS n_text,
         |  sum(CASE WHEN kind = 'image' THEN 1 ELSE 0 END)::BIGINT AS n_image,
         |  sum(CASE WHEN kind = 'text' THEN n_tokens ELSE 0 END)::BIGINT AS text_tokens,
         |  sum(CASE WHEN kind = 'image' THEN n_tokens ELSE 0 END)::BIGINT AS image_tokens
         |FROM c GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,
    // The corpus is ASCII, so byte offsets == char offsets and DuckDB's
    // string functions mirror Spark's binary ones exactly.
    "media_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text))::BIGINT AS n_bytes,
        |  sha256(text) AS content_sha,
        |  hex(encode(substr(text, 1, 8))) AS magic_hex
        |FROM documents ORDER BY doc_id""".stripMargin,
    "media_frame_sample" ->
      """SELECT doc_id,
        |  concat_ws(':',
        |    hex(encode(substr(text, 1, 2))), hex(encode(substr(text, 17, 2))),
        |    hex(encode(substr(text, 33, 2))), hex(encode(substr(text, 49, 2)))) AS frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The decode STUBS' fake features are pure byte functions (md5-derived
    // dims; byte-mean luma), so the full plumbing — binary column, per-row
    // projection, mapPartitions batch — hash-checks against a SQL
    // recomputation. A real codec would revert these to rows-only.
    "media_decode_stub" ->
      """SELECT doc_id,
        |  ('0x' || substr(md5(text), 1, 8))::BIGINT % 1920 AS fake_width,
        |  ('0x' || substr(md5(text), 9, 8))::BIGINT % 1080 AS fake_height,
        |  ('0x' || substr(md5(text), 17, 8))::BIGINT % 256 AS fake_brightness
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The Spark side REALLY decodes PNG pixels (javax.imageio); the oracle
    // recomputes the planted closed-form pixel function. A hash match
    // therefore proves the encode→decode round trip end to end.
    "media_decode_batched" ->
      """SELECT doc_id,
        |  (8 + doc_id % 9)::BIGINT AS width,
        |  (8 + (doc_id * 7) % 9)::BIGINT AS height,
        |  list_sum(flatten(list_transform(range(0, 8 + (doc_id * 7) % 9), y ->
        |    list_transform(range(0, 8 + doc_id % 9), x ->
        |      (doc_id * 31 + x * 7 + y * 13) % 256))))::BIGINT AS luma_sum,
        |  ((list_sum(flatten(list_transform(range(0, 8 + (doc_id * 7) % 9), y ->
        |    list_transform(range(0, 8 + doc_id % 9), x ->
        |      (doc_id * 31 + x * 7 + y * 13) % 256)))) * 1000)
        |    // ((8 + doc_id % 9) * (8 + (doc_id * 7) % 9)))::BIGINT AS mean_luma_milli,
        |  false AS is_corrupt
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Same closed-form pixel recomputation, with every CorruptEvery-th
    // payload planted corrupt (truncated PNG or non-image bytes) — those
    // rows must come back null-featured with the flag set, proving the
    // PERMISSIVE channel end to end: the Spark side REALLY fed the codec
    // a bad payload and REALLY survived it.
    "media_decode_permissive" ->
      s"""SELECT doc_id,
         |  CASE WHEN doc_id % $CorruptEvery = 0 THEN NULL
         |    ELSE (8 + doc_id % 9)::BIGINT END AS width,
         |  CASE WHEN doc_id % $CorruptEvery = 0 THEN NULL
         |    ELSE (8 + (doc_id * 7) % 9)::BIGINT END AS height,
         |  CASE WHEN doc_id % $CorruptEvery = 0 THEN NULL
         |    ELSE list_sum(flatten(list_transform(range(0, 8 + (doc_id * 7) % 9), y ->
         |      list_transform(range(0, 8 + doc_id % 9), x ->
         |        (doc_id * 31 + x * 7 + y * 13) % 256))))::BIGINT END AS luma_sum,
         |  CASE WHEN doc_id % $CorruptEvery = 0 THEN NULL
         |    ELSE ((list_sum(flatten(list_transform(range(0, 8 + (doc_id * 7) % 9), y ->
         |      list_transform(range(0, 8 + doc_id % 9), x ->
         |        (doc_id * 31 + x * 7 + y * 13) % 256)))) * 1000)
         |      // ((8 + doc_id % 9) * (8 + (doc_id * 7) % 9)))::BIGINT END AS mean_luma_milli,
         |  (doc_id % $CorruptEvery = 0) AS is_corrupt
         |FROM documents ORDER BY doc_id""".stripMargin,
    "media_phash_dedup" ->
      s"""WITH pcorpus AS (
         |  SELECT doc_id, text FROM documents WHERE n_chars >= $PhashMinLen
         |  UNION ALL
         |  SELECT doc_id + 10000, substr(text, 1, 280) || ' remuxed tail'
         |  FROM documents WHERE n_chars >= $PhashMinLen AND doc_id % 25 = 0
         |), sums AS (
         |  SELECT doc_id,
         |    list_transform(range(0, $PhashBlocks), b ->
         |      list_sum(list_transform(generate_series($PhashBlockLen * b + 1, $PhashBlockLen * (b + 1)),
         |        i -> ascii(substr(text, i, 1))))::BIGINT) AS bsums
         |  FROM pcorpus
         |), sigs AS (
         |  SELECT doc_id,
         |    list_sum(list_transform(range(0, $PhashBlocks), b -> CASE
         |      WHEN $PhashBlocks * bsums[b + 1] > list_sum(bsums)::BIGINT
         |      THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS phash
         |  FROM sums
         |), bands AS (
         |  SELECT doc_id, phash, b AS band_idx, (phash >> (8 * b)) % 256 AS band_key
         |  FROM sigs, (SELECT unnest(range(0, 2)) AS b)
         |), capped AS (
         |  SELECT doc_id, phash, band_idx, band_key FROM (
         |    SELECT *, count(*) OVER (PARTITION BY band_idx, band_key) AS bucket_n
         |    FROM bands)
         |  WHERE bucket_n <= $PhashMaxBucket
         |)
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  bit_count(xor(x.phash, y.phash))::BIGINT AS hamming
         |FROM capped x JOIN capped y
         |  ON x.band_idx = y.band_idx AND x.band_key = y.band_key
         |  AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.phash, y.phash)) <= $PhashMaxHamming
         |ORDER BY doc_a, doc_b""".stripMargin,
  )
}
