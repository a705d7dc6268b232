package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks, run outside the timed region. */
object Check {

  /** Order-insensitive digest of a query's output: its row count, and the
    * sum modulo 2^64 of a 64-bit hash of each row's JSON rendering, with
    * the output schema folded in. Equal multisets of rows give equal
    * digests whatever the row order or partitioning. */
  def digest(df: DataFrame): (Long, String) = {
    val r = df.toJSON.select(xxhash64(col("value")).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val n = r.getLong(0)
    val rows = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    (n, combine(rows, df.schema.catalogString))
  }

  private val Mod = BigInt(1) << 64

  def combine(rowHashSum: BigInt, schema: String): String = {
    val s = BigInt(scala.util.hashing.MurmurHash3.stringHash(schema)) << 32
    val v = (rowHashSum + s).mod(Mod)
    f"${v.toLong}%016x"
  }
}
