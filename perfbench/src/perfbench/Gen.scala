package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Input generators.
  *
  * Batch tables: the star schema plus `events`, `documents` and
  * `embeddings` that `graft.sources.Tables` loads, with the shapes of the
  * program's test fixtures (row counts scale with `sf`; value ranges,
  * category mixes, 5% near-duplicate documents, unit-norm 64-d
  * embeddings). They come from a fixed seed, so golden output hashes can
  * be recorded once; the run seed only orders the queries.
  *
  * Stream events: seeded user ids, event-type mix and values, one parquet
  * file per scheduled instant, named by that instant so a micro-batch's
  * newest event time can be read off the files it admitted.
  */
object Gen {

  /** Bump when the batch generator changes: cached inputs are keyed by it. */
  val Version = 1
  private val DataSeed = 42L

  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  private val Words = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key " +
    "query a scan batch").split(" ").toSeq

  /** Writes every table under `dir` (as `<name>.parquet`) unless a finished
    * copy is there already. Writes to a sibling and renames, so an
    * interrupted generation never leaves a partial input behind. */
  def ensureTables(spark: SparkSession, dir: Path, sf: Double): Unit = {
    if (ready(dir)) return
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    Util.deleteTree(tmp)
    Files.createDirectories(tmp)
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.parquet(tmp.resolve(s"$name.parquet").toString)
    tables(spark, sf).foreach { case (n, df) => write(n, df) }
    Files.createFile(tmp.resolve("_done"))
    Util.deleteTree(dir)
    Files.move(tmp, dir)
  }

  def ready(dir: Path): Boolean = Files.exists(dir.resolve("_done"))

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val nCust = (150000 * sf).round
    val nSupp = (10000 * sf).round
    val nPart = (200000 * sf).round
    val nOrders = (1500000 * sf).round
    val nEvents = (1000000 * sf).round
    val nUsers = (15000 * sf).round
    val nDocs = math.max(500L, (50000 * sf).round).toInt
    val nVecs = math.max(500L, (20000 * sf).round).toInt

    def rows(n: Long) = spark.range(0, n, 1, 4)
    def h(salt: Int): Column = xxhash64(col("id"), lit(DataSeed * 1000 + salt))
    def ui(salt: Int, n: Long): Column = pmod(h(salt), lit(n))
    def uf(salt: Int): Column = pmod(h(salt), lit(1000000L)).cast("double") / lit(1000000.0)
    def pick(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (ui(salt, xs.size) + 1).cast("int"))
    def money(salt: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + uf(salt) * lit(hi - lo), 2)
    def day(salt: Int, from: String, days: Int): Column =
      timestamp_seconds(lit(java.time.LocalDate.parse(from).toEpochDay * 86400L) +
        ui(salt, days.toLong) * lit(86400L)).cast("timestamp_ntz")

    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
    val nation = (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = rows(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ui(1, 25).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val supplier = rows(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ui(11, 25).cast("int").as("s_nationkey"),
      money(12, -999.99, 9999.99).as("s_acctbal"))
    val part = rows(nPart).select(col("id").as("p_partkey"),
      concat(pick(21, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")), lit(" "),
        pick(22, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"))).as("p_name"),
      concat(lit("Brand#"), (ui(23, 25) + 1).cast("string")).as("p_brand"),
      pick(24, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (ui(25, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000L)).cast("double") / lit(10.0), 1).as("p_retailprice"))
    val orders = rows(nOrders).select(col("id").as("o_orderkey"),
      ui(31, nCust).as("o_custkey"),
      pick(32, Seq("F", "O", "P")).as("o_orderstatus"),
      money(33, 1000.0, 500000.0).as("o_totalprice"),
      day(34, "1995-01-01", 2404).as("o_orderdate"),
      pick(35, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val lineitem = rows(4 * nOrders).select(ui(41, nOrders).as("l_orderkey"),
      ui(42, nPart).as("l_partkey"),
      ui(43, nSupp).as("l_suppkey"),
      (ui(44, 7) + 1).cast("int").as("l_linenumber"),
      (ui(45, 50) + 1).cast("double").as("l_quantity"),
      money(46, 900.0, 105000.0).as("l_extendedprice"),
      (ui(47, 11).cast("double") / lit(100.0)).as("l_discount"),
      (ui(48, 9).cast("double") / lit(100.0)).as("l_tax"),
      pick(49, Seq("A", "N", "R")).as("l_returnflag"),
      pick(50, Seq("F", "O")).as("l_linestatus"),
      day(51, "1995-01-02", 2498).as("l_shipdate"))
    val jan2024 = java.time.LocalDate.parse("2024-01-01").toEpochDay * 86400L * 1000000L
    val events = rows(nEvents).select(col("id").as("event_id"),
      timestamp_micros(lit(jan2024) + ui(61, 30L * 86400L * 1000000L)).cast("timestamp_ntz").as("ts"),
      ui(62, nUsers).as("user_id"),
      pick(63, EventTypes).as("event_type"),
      round(lit(-50.0) * ln(lit(1.0) - uf(64)), 2).as("value"),
      concat(lit("{\"k\": "), ui(65, 100).cast("string"), lit("}")).as("props"))

    val rnd = new java.util.SplittableRandom(DataSeed)
    val langs = Seq("de", "es", "fr", "zh")
    val docTexts = new Array[String](nDocs)
    val docs = (0 until nDocs).map { i =>
      val text =
        if (i >= 20 && rnd.nextInt(20) == 0) {
          val src = docTexts(rnd.nextInt(i)).split(" ").filter(_ != "dup")
          (if (rnd.nextBoolean()) src else scala.util.Random.javaRandomToRandom(
            new java.util.Random(rnd.nextLong())).shuffle(src.toSeq).toArray).mkString(" ") + " dup"
        } else Seq.fill(10 + rnd.nextInt(91))(Words(rnd.nextInt(Words.size))).mkString(" ")
      docTexts(i) = text
      val lang = if (rnd.nextInt(100) < 41) "en" else langs(rnd.nextInt(langs.size))
      (i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val vecs = (0 until nVecs).map { i =>
      val v = Array.fill(64)(rnd.nextDouble() * 2 - 1)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), rnd.nextInt(10))
    }.toDF("vec_id", "embedding", "label")

    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> docs,
      "embeddings" -> vecs)
  }

  /** One scheduled file of stream events: `n` events whose times are spread
    * evenly over the `spanMs` before `schedMs`, so the newest is `schedMs`. */
  final case class EventFile(schedMs: Long, firstId: Long, n: Int, spanMs: Long)

  val EventFileName = """ev-(\d+)-(\d+)\.parquet""".r

  def fileName(f: EventFile): String = s"ev-${f.schedMs}-${f.firstId}.parquet"

  /** Scheduled instant of a generator file, from its name or path. */
  def schedOf(path: String): Option[Long] =
    EventFileName.findFirstMatchIn(path.substring(path.lastIndexOf('/') + 1)).map(_.group(1).toLong)

  private val eventSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message events {
      |  optional int64 event_id;
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |  optional int64 user_id;
      |  optional binary event_type (STRING);
      |  optional double value;
      |  optional binary props (STRING);
      |}""".stripMargin)

  /** Writes one event file into `dir` (hidden name first, then an atomic
    * rename, so the file source never lists a partial file). Event fields
    * come from `seed` and the event id, so a seed fixes the whole stream. */
  def writeEventFile(dir: Path, f: EventFile, seed: Long, nUsers: Int): Path = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    val tmp = dir.resolve("." + fileName(f))
    Files.deleteIfExists(tmp)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(tmp))
      .withType(eventSchema).build()
    val groups = new SimpleGroupFactory(eventSchema)
    try {
      var i = 0
      while (i < f.n) {
        val id = f.firstId + i
        val r = new java.util.SplittableRandom(seed * 1000003L + id)
        val tsMs = f.schedMs - f.spanMs + (f.spanMs * (i + 1)) / f.n
        val mix = r.nextInt(100)
        val et = if (mix < 30) "click" else if (mix < 55) "view" else if (mix < 75) "purchase"
          else if (mix < 90) "signup" else "error"
        writer.write(groups.newGroup()
          .append("event_id", id)
          .append("ts", tsMs * 1000L)
          .append("user_id", r.nextInt(nUsers).toLong)
          .append("event_type", et)
          .append("value", math.round(-5000.0 * math.log(1.0 - r.nextDouble())) / 100.0)
          .append("props", s"""{"k": ${r.nextInt(100)}}"""))
        i += 1
      }
    } finally writer.close()
    val out = dir.resolve(fileName(f))
    Files.move(tmp, out, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Files.setLastModifiedTime(out, java.nio.file.attribute.FileTime.fromMillis(f.schedMs))
    out
  }
}
