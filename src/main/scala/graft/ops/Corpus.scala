package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables

/** Corpus-level analysis operators for an LLM training-data pipeline
  * over the `documents` fixture: n-gram diversity, cross-source shingle
  * overlap, quality-score calibration, Markov transition entropy, and
  * asymmetric containment (quote/subset) detection.
  *
  * These extend the reference's capability set per the north-star brief
  * (the reference itself has no corpus ops). Everything is integer-exact
  * — permille ratios by integer division, entropy in floor-log2 bits via
  * `length(bin(x)) - 1` (the [[TextStats.unigramSurprisal]] trick) — so
  * every query here carries a DuckDB oracle that hash-matches
  * bit-for-bit; no transcendental whose low ulps differ across engines
  * appears anywhere.
  */
object Corpus {

  /** N for the [[ngramDiversity]] shingles. */
  val DiversityN = 3

  /** Per-source n-gram diversity (type-token ratio at the trigram
    * level) — the corpus-health metric that catches template/boilerplate
    * farms: a source whose distinct-trigram share collapses is emitting
    * near-identical documents even when exact dedup finds nothing.
    * Permille by integer division, so the oracle is exact.
    *
    * Scale shape: trigram explode is map-side; the distinct count
    * shuffles on (source, trigram-hash) with map-side partial
    * aggregation — one shuffle whose key space is the trigram
    * vocabulary, the same shape as word-count. Trigrams travel as md5
    * hashes, not strings (hash-before-shuffle, the [[Dedup]]
    * convention).
    */
  def ngramDiversity(documents: DataFrame): DataFrame =
    documents
      .select(col("source"),
        expr("filter(split(lower(text), ' '), x -> length(x) > 0)").as("w"))
      .filter(size(col("w")) >= DiversityN)
      .select(col("source"), explode(expr(
        s"""transform(sequence(0, size(w) - $DiversityN),
           |  i -> md5(concat_ws(char(31), w[i], w[i + 1], w[i + 2])))"""
          .stripMargin)).as("tri"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_trigrams"),
        countDistinct(col("tri")).as("n_distinct"))
      .withColumn("ttr_permille",
        expr("(1000 * n_distinct) div n_trigrams"))
      .orderBy(col("source"))

  /** Shingle width for [[sourceOverlap]] and [[containmentPairs]]. */
  val ShingleWords = 5

  private def shingleSet(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("source"),
        expr("filter(split(lower(text), ' '), x -> length(x) > 0)").as("w"))
      .filter(size(col("w")) >= ShingleWords)
      .select(col("doc_id"), col("source"), explode(expr(
        s"""transform(sequence(0, size(w) - $ShingleWords),
           |  i -> md5(concat_ws(char(31), w[i], w[i + 1], w[i + 2],
           |    w[i + 3], w[i + 4])))""".stripMargin)).as("sh"))
      .distinct()

  /** Cross-source contamination matrix: for every source pair, the
    * number of distinct [[ShingleWords]]-gram shingles they share and
    * the Jaccard overlap in permille — the check that a "held-out"
    * source is not quietly duplicated inside the training mix.
    *
    * Scale shape: the pair space is `sources²` (tiny — sources are a
    * catalog dimension), NOT documents². The work is one distinct over
    * (source, shingle-hash) and a self-equi-join on the shingle hash
    * whose per-key fan-out is bounded by the source count, then a
    * map-side-combinable pair count. No collect, no windows, no
    * broadcast of anything data-sized.
    */
  def sourceOverlap(documents: DataFrame): DataFrame = {
    // The shingled source set feeds three plan arms (sizes + both sides
    // of the self-join) — persist so the explode+distinct pass runs once
    // (profiled: the unpersisted form re-ran the ~2 s shingle stage per
    // arm at sf0.1). Same pattern as Curation.docShingles.
    val s = shingleSet(Par.fan(documents)).select(col("source"), col("sh")).distinct()
      .transform(Par.stage) // eager: concurrent arms race a lazy cache
    val sizes = s.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val shared = s.as("a")
      .join(s.as("b"), col("a.sh") === col("b.sh") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("source", "src_a")
        .withColumnRenamed("n", "n_a"), Seq("src_a"))
      .join(sizes.withColumnRenamed("source", "src_b")
        .withColumnRenamed("n", "n_b"), Seq("src_b"))
      .withColumn("jaccard_permille",
        expr("(1000 * shared) div (n_a + n_b - shared)"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("shared"), col("jaccard_permille"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Candidate-generation document-frequency band for
    * [[containmentPairs]]: a shingle seeds candidates only when shared
    * (df ≥ 2) and rare (df ≤ cap). */
  val ContainDfCap = 64

  /** Containment threshold (permille of the contained doc's shingles)
    * and the minimum shingle-set size that makes containment
    * meaningful. */
  val ContainThresholdPermille = 800
  val ContainMinShingles = 5

  /** Asymmetric containment (quote/subset) detection — the near-dup
    * case Jaccard misses: a short document wholly quoted inside a long
    * one has tiny Jaccard but containment ≈ 1. Emits ordered pairs
    * (a contained-in b) where ≥ [[ContainThresholdPermille]]‰ of a's
    * distinct shingles also appear in b, among pairs sharing at least
    * one RARE shingle (df in [2, [[ContainDfCap]]]). The rare-shingle
    * gate is part of the operator's definition (mirrored exactly in the
    * oracle), the standard PPJoin-family trade: a pair sharing only
    * ubiquitous shingles is boilerplate overlap, not quotation.
    *
    * Scale shape: candidates come from a self-equi-join on rare-shingle
    * hashes — per-key fan-out ≤ [[ContainDfCap]]², never documents².
    * The true intersection is then computed ONLY for candidate pairs by
    * replaying both sides' full shingle sets through an equi-join keyed
    * on (doc pair, shingle) — the band-replay shape [[Dedup]] uses. All
    * thresholds cross-multiplied integers; no floats.
    */
  def containmentPairs(documents: DataFrame): DataFrame = {
    // Five plan arms consume the shingle table (sizes, df counts, both
    // candidate sides, both replay sides) — persist so the
    // explode+distinct runs once, not per arm (profiled: two identical
    // ~2.2 s single-file shingle stages at sf0.1 before the persist).
    val sh = shingleSet(Par.fan(documents)).select(col("doc_id"), col("sh"))
      .transform(Par.stage) // eager: concurrent arms race a lazy cache
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      .filter(col("n_sh") >= ContainMinShingles)
    val rare = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= ContainDfCap)
    val rareSh = sh.join(rare.select("sh"), Seq("sh"))
    val cands = rareSh.as("x")
      .join(rareSh.as("y"), col("x.sh") === col("y.sh") &&
        col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val shared = cands
      .join(sh.as("sa"), col("a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("b") === col("sb.doc_id") &&
        col("sa.sh") === col("sb.sh"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("n_sh", "n_a"), Seq("a"))
      .filter(col("shared") * 1000 >= col("n_a") * ContainThresholdPermille)
      .withColumn("containment_permille", expr("(1000 * shared) div n_a"))
      .select(col("a"), col("b"), col("n_a"), col("shared"),
        col("containment_permille"))
      .orderBy(col("a"), col("b"))
  }

  /** Candidate cap for [[containmentTopN]]: per contained doc, only the
    * [[ContainTopN]] partners with the most shared RARE shingles go
    * through the exact-intersection replay. */
  val ContainTopN = 3

  /** Bounded containment detection — [[containmentPairs]] with a
    * per-contained-doc candidate cap for adversarial corpora. The true
    * pair count grows quadratically in the duplication factor (the 50×
    * smoke's 242 s is semantics-bound, not a plan defect), so a 100 TB
    * run needs a knob: for each doc `a`, only the top-[[ContainTopN]]
    * candidate partners by shared-rare-shingle evidence (ties → smaller
    * b) proceed to the exact intersection replay. The cap sits BEFORE
    * the replay join — the expensive stage's input is ≤ N rows per doc,
    * so output AND wall time flatten — and it runs through the bounded-
    * heap [[graft.plans.TopK]] physical operator, not a sort. The
    * candidate scoring itself stays bounded by construction (per-shingle
    * fan-out ≤ [[ContainDfCap]]²). Deterministic, so oracle-checked;
    * the unbounded form remains the reference query.
    */
  def containmentTopN(documents: DataFrame,
      topN: Int = ContainTopN): DataFrame = {
    // Same rationale as [[containmentPairs]] (eager, race-free).
    val sh = shingleSet(Par.fan(documents)).select(col("doc_id"), col("sh"))
      .transform(Par.stage)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      .filter(col("n_sh") >= ContainMinShingles)
    val rare = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= ContainDfCap)
    val rareSh = sh.join(rare.select("sh"), Seq("sh"))
    val candScored = rareSh.as("x")
      .join(rareSh.as("y"), col("x.sh") === col("y.sh") &&
        col("x.doc_id") =!= col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("rare_shared"))
    val capped = graft.plans.TopK.topKPerGroup(
      candScored, Seq("a"), Seq("rare_shared" -> false, "b" -> true), topN)
    val shared = capped
      .join(sh.as("sa"), col("a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("b") === col("sb.doc_id") &&
        col("sa.sh") === col("sb.sh"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("n_sh", "n_a"), Seq("a"))
      .filter(col("shared") * 1000 >= col("n_a") * ContainThresholdPermille)
      .withColumn("containment_permille", expr("(1000 * shared) div n_a"))
      .select(col("a"), col("b"), col("n_a"), col("shared"),
        col("containment_permille"))
      .orderBy(col("a"), col("b"))
  }

  /** Per-state Markov transition entropy over the event stream, in
    * integer milli-bits: for each event type, how predictable the NEXT
    * event is — the sessionization-adjacent metric that separates
    * scripted bot flows (entropy ≈ 0) from organic browsing. A
    * transition's surprisal is `floor(log2(n div c))` bits computed as
    * `length(bin(n div c)) - 1` — pure integer arithmetic (the
    * [[TextStats.unigramSurprisal]] convention), so the DuckDB oracle
    * (`printf('%b', …)`) hash-matches exactly.
    *
    * Scale shape: one user-partitioned window (high-cardinality key)
    * for the lag, one map-side-combinable pair count whose key space is
    * event-type² (bounded by the catalog), then a per-type rollup over
    * that tiny grain. The entropy fold happens on the type² grain —
    * never on raw events.
    */
  def transitionEntropy(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Synth.eventTime(events)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("c"))
    pairs
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("prev_type"))))
      .withColumn("bits", length(bin(expr("n div c"))) - 1)
      .groupBy(col("prev_type"))
      .agg(max(col("n")).as("n_transitions"),
        count(lit(1)).as("n_next_types"),
        expr("(1000 * sum(c * bits)) div max(n)").as("entropy_millibits"))
      .orderBy(col("prev_type"))
  }

  /** Alpha-ratio quality score (permille of latin letters among all
    * characters) and its per-source percentile calibration table — the
    * step that turns a raw quality score into a mix-weight: thresholds
    * set on PERCENTILES transfer across sources whose raw-score
    * distributions differ, raw-score thresholds do not. Output is at
    * the (source, score) histogram grain: for each observed score, how
    * many docs hold it and what fraction of the source scores strictly
    * below (permille, integer).
    *
    * Scale shape: the score is map-side; the histogram groupBy keys on
    * (source, score) — score has at most 1001 distinct values, so the
    * prefix-sum window is partitioned by source over a ≤1001-row grain,
    * never over documents. This is the value-grain-histogram pattern
    * ([[Temporal.rfmSegments]]) that replaces a corpus-wide ntile.
    */
  def qualityCalibration(documents: DataFrame): DataFrame = {
    val scored = documents
      .filter(length(col("text")) > 0)
      .withColumn("score", expr(
        """(1000 * (length(text) -
          |  length(regexp_replace(lower(text), '[a-z]', '')))) div
          |length(text)""".stripMargin).cast("long"))
    val hist = scored.groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("cnt"))
    val bySrc = Window.partitionBy(col("source"))
    val cum = Window.partitionBy(col("source")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("total", sum(col("cnt")).over(bySrc))
      .withColumn("below", sum(col("cnt")).over(cum) - col("cnt"))
      .withColumn("pct_permille",
        expr("(1000 * below) div greatest(total - 1, 1)"))
      .select(col("source"), col("score"), col("cnt"), col("below"),
        col("pct_permille"))
      .orderBy(col("source"), col("score"))
  }

  /** Burst flag: a user's busiest hour must hold at least
    * [[BurstFactor]]× their average per-active-hour rate AND at least
    * [[BurstFloor]] events (the floor keeps two-event users out). */
  val BurstFactor = 2
  val BurstFloor = 3

  /** Per-user activity-burst detection — the scripted-client screen
    * that complements [[transitionEntropy]]: humans spread activity
    * across hours, replay scripts concentrate it. Compares each user's
    * busiest hour against their own average per-active-hour rate
    * (cross-multiplied integers — no division until the reported
    * ratio), so the threshold is self-normalizing: no fixture-tuned
    * absolute rate survives into the semantics.
    *
    * Scale shape: one map-side-combinable count per (user, hour), one
    * per-user rollup — both shuffles key on the high-cardinality user
    * id; no windows, no self-joins. The hour grain bounds state per
    * user at hours-observed, not events.
    */
  def burstDetection(events: DataFrame): DataFrame =
    Synth.eventTime(events)
      .select(col("user_id"),
        expr("unix_micros(ts) div 3600000000").as("hour"))
      .groupBy(col("user_id"), col("hour"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_hours"),
        max(col("c")).as("max_per_hour"))
      .filter(col("max_per_hour") * col("n_hours") >=
        col("n_events") * BurstFactor &&
        col("max_per_hour") >= BurstFloor)
      .withColumn("burst_ratio_permille",
        expr("(1000 * max_per_hour * n_hours) div n_events"))
      .select(col("user_id"), col("n_events"), col("n_hours"),
        col("max_per_hour"), col("burst_ratio_permille"))
      .orderBy(col("user_id"))

  /** Position buckets for [[vocabGrowth]]. */
  val GrowthBuckets = 10

  /** Vocabulary-growth (Heaps-law) table: per source, how many NEW
    * distinct tokens each tenth of the corpus contributes, plus the
    * cumulative vocabulary — the curve whose flattening says "more of
    * this source adds no new language" (diminishing-returns evidence
    * for the mixing plan, the longitudinal twin of [[ngramDiversity]]).
    * Corpus position is the doc_id's decile of the GLOBAL id range — a
    * broadcast 1-row min/max, not a per-source row_number — so no
    * corpus-wide ordering exists anywhere.
    *
    * Scale shape: token first-sightings reduce via min(bucket) per
    * (source, token) — map-side combinable, the word-count shuffle
    * shape; the cumulative sum runs on the (source, ≤10 buckets)
    * grain. Tokens travel as md5 hashes.
    */
  def vocabGrowth(documents: DataFrame): DataFrame = {
    val range = documents.agg(min(col("doc_id")).as("dmin"),
      (max(col("doc_id")) - min(col("doc_id")) + 1).as("span"))
    val firstSeen = documents
      .crossJoin(broadcast(range))
      .select(col("source"),
        expr(s"((doc_id - dmin) * $GrowthBuckets) div span").as("bucket"),
        explode(expr(
          "filter(split(lower(text), ' '), x -> length(x) > 0)")).as("tok"))
      .groupBy(col("source"), md5(col("tok")).as("h"))
      .agg(min(col("bucket")).as("first_bucket"))
    val perBucket = firstSeen
      .groupBy(col("source"), col("first_bucket").as("bucket"))
      .agg(count(lit(1)).as("new_tokens"))
    perBucket
      .withColumn("cum_vocab", sum(col("new_tokens")).over(
        Window.partitionBy(col("source")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("source"), col("bucket"), col("new_tokens"),
        col("cum_vocab"))
      .orderBy(col("source"), col("bucket"))
  }

  /** Winsorization fences, in percent. */
  val WinsorLoPct = 5
  val WinsorHiPct = 95

  /** Winsorized value statistics per event type — the outlier-robust
    * mean a feature pipeline feeds a model instead of the raw mean one
    * fat-fingered amount can drag anywhere: clip at the exact
    * [[WinsorLoPct]]/[[WinsorHiPct]] percentiles and report the clipped
    * mean plus how much mass the fences cut. The percentiles are
    * `quantile_disc`-style EXACT cut-offs read off a cents-grain
    * histogram (rank `ceil(p·n/100)`), and the clipped sum is derived
    * FROM the histogram (`cnt · clamp(cents, lo, hi)`) — the raw table
    * is scanned once, for the histogram, and never again.
    *
    * Scale shape: one map-side-combinable groupBy onto the
    * (event_type, cents) value grain; the cumulative window runs on
    * that grain partitioned by event_type — the value-grain-histogram
    * pattern ([[qualityCalibration]], [[Temporal.rfmSegments]]), never
    * a corpus-wide ntile or sort.
    */
  def winsorizedStats(events: DataFrame): DataFrame = {
    val hist = events
      .filter(col("value").isNotNull)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val cum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = hist
      .withColumn("total", sum(col("cnt")).over(
        Window.partitionBy(col("event_type"))))
      .withColumn("cum", sum(col("cnt")).over(cum))
    val fences = ranked
      .groupBy(col("event_type"), col("total"))
      .agg(
        min(when(col("cum") * 100 >= col("total") * WinsorLoPct,
          col("cents"))).as("lo_cents"),
        min(when(col("cum") * 100 >= col("total") * WinsorHiPct,
          col("cents"))).as("hi_cents"))
    hist.join(fences, Seq("event_type"))
      .groupBy(col("event_type"), col("total"), col("lo_cents"),
        col("hi_cents"))
      .agg(
        sum(col("cnt") * greatest(least(col("cents"), col("hi_cents")),
          col("lo_cents"))).as("clipped_sum"),
        sum(when(col("cents") < col("lo_cents") ||
          col("cents") > col("hi_cents"), col("cnt")).otherwise(lit(0L)))
          .as("n_clipped"))
      .select(col("event_type"), col("total").as("n_values"),
        col("lo_cents"), col("hi_cents"),
        expr("clipped_sum div total").as("winsorized_mean_cents"),
        col("n_clipped"))
      .orderBy(col("event_type"))
  }

  /** Top paths reported by [[pathTrigrams]]. */
  val TrigramTop = 20

  /** Most-frequent 3-step event paths — sequential pattern mining one
    * level above [[transitionEntropy]]'s bigram matrix: which exact
    * three-step flows dominate the product (the input a funnel designer
    * or a bot-rule author reads). Steps come from per-user
    * time-ordering; the corpus-wide top-[[TrigramTop]] is a
    * `row_number() ≤ k` GLOBAL rank filter, which `WindowTopKRewrite`
    * re-plans onto the bounded-heap TopK operator — no single-task
    * window ever materializes the full trigram histogram.
    *
    * Scale shape: one user-partitioned window for the two leads, one
    * map-side-combinable count whose key space is event-type³ (catalog-
    * bounded), then the TopK plan over that tiny grain.
    */
  def pathTrigrams(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = Synth.eventTime(events)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("t1"),
        lead(col("event_type"), 1).over(w).as("t2"),
        lead(col("event_type"), 2).over(w).as("t3"))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
    val rank = Window.orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
    counts
      .withColumn("rnk", row_number().over(rank))
      .filter(col("rnk") <= TrigramTop)
      .select(col("rnk").cast("long").as("rnk"), col("t1"), col("t2"),
        col("t3"), col("n"))
      .orderBy(col("rnk"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "path_trigrams" -> ((s, d) => pathTrigrams(Tables.events(s, d))),
    "winsorized_stats" -> ((s, d) => winsorizedStats(Tables.events(s, d))),
    "burst_detection" -> ((s, d) => burstDetection(Tables.events(s, d))),
    "vocab_growth" -> ((s, d) => vocabGrowth(Tables.documents(s, d))),
    "ngram_diversity" -> ((s, d) => ngramDiversity(Tables.documents(s, d))),
    "source_overlap" -> ((s, d) => sourceOverlap(Tables.documents(s, d))),
    "containment_pairs" -> ((s, d) => containmentPairs(Tables.documents(s, d))),
    "containment_topn" -> ((s, d) => containmentTopN(Tables.documents(s, d))),
    "transition_entropy" -> ((s, d) => transitionEntropy(Tables.events(s, d))),
    "quality_calibration" -> ((s, d) => qualityCalibration(Tables.documents(s, d))))

  /** DuckDB equivalents. Notes on dialect parity: Spark `div` ↔ DuckDB
    * `//`; Spark `bin`/`char(31)` ↔ DuckDB `printf('%b', …)`/`chr(31)`;
    * DuckDB `regexp_replace` needs the explicit `'g'` flag Spark
    * implies. */
  def oracleSql: Map[String, String] = Map(
    "path_trigrams" ->
      s"""WITH steps AS (
         |  SELECT event_type AS t1,
         |    lead(event_type, 1) OVER w AS t2,
         |    lead(event_type, 2) OVER w AS t3
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |), counts AS (
         |  SELECT t1, t2, t3, count(*)::BIGINT AS n
         |  FROM steps WHERE t2 IS NOT NULL AND t3 IS NOT NULL
         |  GROUP BY 1, 2, 3
         |)
         |SELECT rnk::BIGINT AS rnk, t1, t2, t3, n FROM (
         |  SELECT t1, t2, t3, n,
         |    row_number() OVER (ORDER BY n DESC, t1, t2, t3) AS rnk
         |  FROM counts)
         |WHERE rnk <= $TrigramTop ORDER BY rnk""".stripMargin,
    "winsorized_stats" ->
      s"""WITH hist AS (
         |  SELECT event_type, floor(value * 100)::BIGINT AS cents,
         |    count(*)::BIGINT AS cnt
         |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
         |), ranked AS (
         |  SELECT event_type, cents, cnt,
         |    sum(cnt) OVER (PARTITION BY event_type)::BIGINT AS total,
         |    sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         |      AS cum
         |  FROM hist
         |), fences AS (
         |  SELECT event_type, total,
         |    min(CASE WHEN cum * 100 >= total * $WinsorLoPct
         |      THEN cents END)::BIGINT AS lo_cents,
         |    min(CASE WHEN cum * 100 >= total * $WinsorHiPct
         |      THEN cents END)::BIGINT AS hi_cents
         |  FROM ranked GROUP BY 1, 2
         |)
         |SELECT h.event_type, f.total AS n_values, f.lo_cents, f.hi_cents,
         |  (sum(h.cnt * greatest(least(h.cents, f.hi_cents), f.lo_cents))
         |    // f.total)::BIGINT AS winsorized_mean_cents,
         |  sum(CASE WHEN h.cents < f.lo_cents OR h.cents > f.hi_cents
         |    THEN h.cnt ELSE 0 END)::BIGINT AS n_clipped
         |FROM hist h JOIN fences f USING (event_type)
         |GROUP BY 1, 2, 3, 4 ORDER BY h.event_type""".stripMargin,
    "burst_detection" ->
      s"""WITH ph AS (
         |  SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
         |    count(*)::BIGINT AS c
         |  FROM events GROUP BY 1, 2
         |), pu AS (
         |  SELECT user_id, sum(c)::BIGINT AS n_events,
         |    count(*)::BIGINT AS n_hours, max(c)::BIGINT AS max_per_hour
         |  FROM ph GROUP BY user_id
         |)
         |SELECT user_id, n_events, n_hours, max_per_hour,
         |  (1000 * max_per_hour * n_hours // n_events)::BIGINT
         |    AS burst_ratio_permille
         |FROM pu
         |WHERE max_per_hour * n_hours >= n_events * $BurstFactor
         |  AND max_per_hour >= $BurstFloor
         |ORDER BY user_id""".stripMargin,
    "vocab_growth" ->
      s"""WITH rng AS (
         |  SELECT min(doc_id) AS dmin,
         |    max(doc_id) - min(doc_id) + 1 AS span
         |  FROM documents
         |), toks AS (
         |  SELECT source,
         |    ((doc_id - r.dmin) * $GrowthBuckets) // r.span AS bucket,
         |    md5(unnest(list_filter(string_split(lower(text), ' '),
         |      x -> len(x) > 0))) AS h
         |  FROM documents, rng r
         |), fs AS (
         |  SELECT source, h, min(bucket)::BIGINT AS bucket
         |  FROM toks GROUP BY 1, 2
         |), pb AS (
         |  SELECT source, bucket, count(*)::BIGINT AS new_tokens
         |  FROM fs GROUP BY 1, 2
         |)
         |SELECT source, bucket, new_tokens,
         |  sum(new_tokens) OVER (PARTITION BY source ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         |    AS cum_vocab
         |FROM pb ORDER BY source, bucket""".stripMargin,
    "ngram_diversity" ->
      s"""WITH d AS (
         |  SELECT source,
         |    list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS w
         |  FROM documents
         |), tri AS (
         |  SELECT source, unnest(list_transform(
         |    generate_series(1, len(w) - ${DiversityN - 1}),
         |    i -> md5(w[i] || chr(31) || w[i + 1] || chr(31) || w[i + 2])))
         |    AS tri
         |  FROM d WHERE len(w) >= $DiversityN
         |)
         |SELECT source, count(*)::BIGINT AS n_trigrams,
         |  count(DISTINCT tri)::BIGINT AS n_distinct,
         |  (1000 * count(DISTINCT tri) // count(*))::BIGINT AS ttr_permille
         |FROM tri GROUP BY source ORDER BY source""".stripMargin,
    "source_overlap" -> {
      val shingles =
        s"""SELECT DISTINCT source, md5(w[i] || chr(31) || w[i + 1] ||
           |    chr(31) || w[i + 2] || chr(31) || w[i + 3] || chr(31) ||
           |    w[i + 4]) AS sh
           |  FROM (SELECT source,
           |      list_filter(string_split(lower(text), ' '),
           |        x -> len(x) > 0) AS w
           |    FROM documents),
           |    unnest(generate_series(1, len(w) - ${ShingleWords - 1}))
           |      AS t(i)
           |  WHERE len(w) >= $ShingleWords""".stripMargin
      s"""WITH s AS (
         |$shingles
         |), sizes AS (
         |  SELECT source, count(*)::BIGINT AS n FROM s GROUP BY source
         |), shared AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |    count(*)::BIGINT AS shared
         |  FROM s a JOIN s b ON a.sh = b.sh AND a.source < b.source
         |  GROUP BY 1, 2
         |)
         |SELECT src_a, src_b, na.n AS n_a, nb.n AS n_b, shared,
         |  (1000 * shared // (na.n + nb.n - shared))::BIGINT
         |    AS jaccard_permille
         |FROM shared
         |JOIN sizes na ON na.source = src_a
         |JOIN sizes nb ON nb.source = src_b
         |ORDER BY src_a, src_b""".stripMargin
    },
    "containment_pairs" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, md5(w[i] || chr(31) || w[i + 1] ||
         |    chr(31) || w[i + 2] || chr(31) || w[i + 3] || chr(31) ||
         |    w[i + 4]) AS sh
         |  FROM (SELECT doc_id,
         |      list_filter(string_split(lower(text), ' '),
         |        x -> len(x) > 0) AS w
         |    FROM documents),
         |    unnest(generate_series(1, len(w) - ${ShingleWords - 1}))
         |      AS t(i)
         |  WHERE len(w) >= $ShingleWords
         |), sizes AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id
         |  HAVING count(*) >= $ContainMinShingles
         |), rare AS (
         |  SELECT sh FROM sh GROUP BY sh
         |  HAVING count(*) BETWEEN 2 AND $ContainDfCap
         |), rs AS (SELECT sh.doc_id, sh.sh FROM sh JOIN rare USING (sh)),
         |cands AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM rs x JOIN rs y ON x.sh = y.sh AND x.doc_id <> y.doc_id
         |), shared AS (
         |  SELECT c.a, c.b, count(*)::BIGINT AS shared
         |  FROM cands c
         |  JOIN sh sa ON sa.doc_id = c.a
         |  JOIN sh sb ON sb.doc_id = c.b AND sb.sh = sa.sh
         |  GROUP BY c.a, c.b
         |)
         |SELECT a, b, n_a, shared,
         |  (1000 * shared // n_a)::BIGINT AS containment_permille
         |FROM (SELECT s.a, s.b, z.n_sh AS n_a, s.shared
         |      FROM shared s JOIN sizes z ON z.doc_id = s.a)
         |WHERE shared * 1000 >= n_a * $ContainThresholdPermille
         |ORDER BY a, b""".stripMargin,
    "containment_topn" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, md5(w[i] || chr(31) || w[i + 1] ||
         |    chr(31) || w[i + 2] || chr(31) || w[i + 3] || chr(31) ||
         |    w[i + 4]) AS sh
         |  FROM (SELECT doc_id,
         |      list_filter(string_split(lower(text), ' '),
         |        x -> len(x) > 0) AS w
         |    FROM documents),
         |    unnest(generate_series(1, len(w) - ${ShingleWords - 1}))
         |      AS t(i)
         |  WHERE len(w) >= $ShingleWords
         |), sizes AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id
         |  HAVING count(*) >= $ContainMinShingles
         |), rare AS (
         |  SELECT sh FROM sh GROUP BY sh
         |  HAVING count(*) BETWEEN 2 AND $ContainDfCap
         |), rs AS (SELECT sh.doc_id, sh.sh FROM sh JOIN rare USING (sh)),
         |cand AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS rare_shared
         |  FROM rs x JOIN rs y ON x.sh = y.sh AND x.doc_id <> y.doc_id
         |  GROUP BY x.doc_id, y.doc_id
         |), capped AS (
         |  SELECT a, b FROM (
         |    SELECT a, b, row_number() OVER (PARTITION BY a
         |      ORDER BY rare_shared DESC, b ASC) AS crnk
         |    FROM cand) WHERE crnk <= $ContainTopN
         |), shared AS (
         |  SELECT c.a, c.b, count(*)::BIGINT AS shared
         |  FROM capped c
         |  JOIN sh sa ON sa.doc_id = c.a
         |  JOIN sh sb ON sb.doc_id = c.b AND sb.sh = sa.sh
         |  GROUP BY c.a, c.b
         |)
         |SELECT a, b, n_a, shared,
         |  (1000 * shared // n_a)::BIGINT AS containment_permille
         |FROM (SELECT s.a, s.b, z.n_sh AS n_a, s.shared
         |      FROM shared s JOIN sizes z ON z.doc_id = s.a)
         |WHERE shared * 1000 >= n_a * $ContainThresholdPermille
         |ORDER BY a, b""".stripMargin,
    "transition_entropy" ->
      """WITH paired AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events
        |), pairs AS (
        |  SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS c
        |  FROM paired WHERE prev_type IS NOT NULL
        |  GROUP BY 1, 2
        |), stated AS (
        |  SELECT prev_type, next_type, c,
        |    sum(c) OVER (PARTITION BY prev_type)::BIGINT AS n
        |  FROM pairs
        |)
        |SELECT prev_type, max(n)::BIGINT AS n_transitions,
        |  count(*)::BIGINT AS n_next_types,
        |  (1000 * sum(c * (len(printf('%b', n // c)) - 1)) // max(n))::BIGINT
        |    AS entropy_millibits
        |FROM stated GROUP BY prev_type ORDER BY prev_type""".stripMargin,
    "quality_calibration" ->
      """WITH scored AS (
        |  SELECT source,
        |    (1000 * (len(text) -
        |      len(regexp_replace(lower(text), '[a-z]', '', 'g')))) //
        |      len(text) AS score
        |  FROM documents WHERE len(text) > 0
        |), hist AS (
        |  SELECT source, score, count(*)::BIGINT AS cnt
        |  FROM scored GROUP BY 1, 2
        |)
        |SELECT source, score::BIGINT AS score, cnt,
        |  (sum(cnt) OVER (PARTITION BY source ORDER BY score
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   - cnt)::BIGINT AS below,
        |  (1000 * (sum(cnt) OVER (PARTITION BY source ORDER BY score
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt) //
        |   greatest(sum(cnt) OVER (PARTITION BY source) - 1, 1))::BIGINT
        |    AS pct_permille
        |FROM hist ORDER BY source, score""".stripMargin)
}
