package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The one encoder of the `.gavro` data-file format: every data file the
  * DSv2 sink, [[Gavro.write]] and the rewrite staging pass produce goes
  * through this class. Each record is a 4-byte big-endian length plus its
  * Avro body. Records fill a block buffer; once the buffer holds
  * `blockBytes` of UNCOMPRESSED payload, the next record starts a new
  * block. The buffer is flushed through the block codec and the next
  * block's FILE offset recorded. So the decode work one block represents
  * is codec-independent, while the footer offsets are file (compressed)
  * positions and split planning never cares which codec wrote the file.
  * Per-file and per-block min/max and per-block blooms accumulate beside
  * the records and land in the [[GavroFooter]] at [[commit]].
  *
  * The caller supplies each record's body and a row holding the stat and
  * bloom column values at the ordinals the [[GavroFileWriter.Layout]]
  * names: the sink passes the record row it encoded, [[Gavro.write]] the
  * `bin` row with its stat columns riding alongside. */
final class GavroFileWriter(f: java.io.File, layout: GavroFileWriter.Layout) {
  import GavroFileWriter._

  private val out = Gavro.dataStore.create(f)
  private val stats = layout.stats.toArray
  private val blooms = layout.blooms.toArray
  private val blocks = scala.collection.mutable.ArrayBuffer(0L)
  private val blockStats =
    scala.collection.mutable.ArrayBuffer.empty[Seq[(String, GavroColStat)]]
  private val blockBlooms =
    scala.collection.mutable.ArrayBuffer.empty[Seq[(String, GavroBloom)]]
  private var fileOffset = 0L
  private var blockBuf = newBlockBuf()
  private val fileAcc = new StatAcc(stats)
  private var blockAcc = new StatAcc(stats)
  private var bloomAcc = newBlooms()
  private var records = 0L

  private def newBlockBuf() =
    new java.io.ByteArrayOutputStream(math.min(layout.blockBytes, 4L << 20).toInt)
  private def newBlooms() = blooms.map(c => new GavroBloom.Builder(c.tpe))

  def isEmpty: Boolean = records == 0

  def append(body: Array[Byte], row: InternalRow): Unit = {
    if (blockBuf.size() >= layout.blockBytes) {
      closeBlock()
      blocks += fileOffset
    }
    blockBuf.write(Array[Byte]((body.length >>> 24).toByte,
      (body.length >>> 16).toByte, (body.length >>> 8).toByte, body.length.toByte))
    blockBuf.write(body)
    fileAcc.absorb(row); blockAcc.absorb(row)
    var i = 0
    while (i < blooms.length) {
      val c = blooms(i)
      if (!row.isNullAt(c.ordinal)) bloomAcc(i).add(valueAt(row, c))
      i += 1
    }
    records += 1
  }

  /** Write the current block's payload and file its stats and blooms. The
    * empty-buffer guard matters: a codec applied to zero bytes still
    * emits a frame, which would leave a phantom non-empty trailing
    * block. */
  private def closeBlock(): Unit = {
    if (blockBuf.size() > 0) {
      val payload = Gavro.compress(layout.codec, blockBuf.toByteArray)
      out.write(payload)
      fileOffset += payload.length
      blockBuf = newBlockBuf()
    }
    blockStats += blockAcc.result()
    blockAcc = new StatAcc(stats)
    blockBlooms += blooms.indices.map(i => blooms(i).name -> bloomAcc(i).result())
    bloomAcc = newBlooms()
  }

  /** Flush the last block, append the footer and close the file. */
  def commit(): Unit =
    try {
      closeBlock()
      GavroFooter.write(out, blocks.toSeq, fileAcc.result(),
        if (stats.nonEmpty) blockStats.toSeq else Seq.empty, layout.codec,
        if (blooms.nonEmpty) blockBlooms.toSeq else Seq.empty)
    } finally out.close()

  /** Close and delete the partial file. */
  def abort(): Unit = { out.close(); Gavro.dataStore.delete(f); () }
}

object GavroFileWriter {
  /** One footer column: its name, its ordinal in the appended rows, and
    * its [[GavroColStat]] type code. */
  final case class Col(name: String, ordinal: Int, tpe: Byte)

  /** Everything a task needs to write a file; resolved on the driver. */
  final case class Layout(blockBytes: Long, codec: Byte, stats: Seq[Col],
      blooms: Seq[Col])

  /** The footer stat type code of a Spark column type; None for types
    * that carry no stats (timestamps, nested types). */
  private def statCode(dt: DataType): Option[Byte] = dt match {
    case LongType => Some(0)
    case DoubleType => Some(1)
    case StringType => Some(2)
    case BooleanType => Some(3)
    case IntegerType => Some(4)
    case _ => None
  }

  /** Stats on every field of `schema` that can carry them, in field order
    * — the sink's choice for record rows. */
  def allStatColumns(schema: StructType): Seq[Col] =
    schema.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
      statCode(f.dataType).map(Col(f.name, i, _))
    }

  /** Resolve named stat columns against `schema`. Unknown names and
    * unsupported types fail on the driver. */
  def statColumns(schema: StructType, names: Seq[String]): Seq[Col] =
    columns(schema, names, "stat")

  /** Resolve named bloom columns against `schema`. Doubles are rejected
    * too: float equality is not a probe shape worth footer bytes, and a
    * typo'd column must not silently write bloom-less files. */
  def bloomColumns(schema: StructType, names: Seq[String]): Seq[Col] = {
    val cols = columns(schema, names, "bloom")
    cols.find(_.tpe == 1).foreach(c => throw new IllegalArgumentException(
      s"gavro bloom column ${c.name}: double columns carry no bloom"))
    cols
  }

  private def columns(schema: StructType, names: Seq[String],
      kind: String): Seq[Col] = names.map { c =>
    val i = schema.fieldNames.indexOf(c)
    require(i >= 0, s"gavro $kind column $c: no such field in the schema")
    Col(c, i, statCode(schema(i).dataType).getOrElse(
      throw new IllegalArgumentException(
        s"gavro $kind column $c: unsupported type ${schema(i).dataType}")))
  }

  /** A stat or bloom column's value; strings stay views into the row. */
  private def valueAt(row: InternalRow, c: Col): Any = c.tpe match {
    case 0 => row.getLong(c.ordinal)
    case 1 => row.getDouble(c.ordinal)
    case 2 => row.getUTF8String(c.ordinal)
    case 3 => row.getBoolean(c.ordinal)
    case 4 => row.getInt(c.ordinal)
  }

  /** Running min/max over the stat columns (nulls skipped), compared in
    * [[GavroColStat.lt]]'s order. A string is copied only when it becomes
    * a new extreme: the row may be reused, and its strings with it. */
  private final class StatAcc(cols: Array[Col]) {
    private val mins = new Array[Any](cols.length)
    private val maxs = new Array[Any](cols.length)
    def absorb(row: InternalRow): Unit = {
      var i = 0
      while (i < cols.length) {
        val c = cols(i)
        if (!row.isNullAt(c.ordinal)) {
          val v = valueAt(row, c)
          val newMin = mins(i) == null || GavroColStat.lt(c.tpe, v, mins(i))
          val newMax = maxs(i) == null || GavroColStat.lt(c.tpe, maxs(i), v)
          if (newMin || newMax) {
            val kept = v match {
              case s: UTF8String => s.copy()
              case other => other
            }
            if (newMin) mins(i) = kept
            if (newMax) maxs(i) = kept
          }
        }
        i += 1
      }
    }
    /** Footer stats carry strings as JVM strings. */
    def result(): Seq[(String, GavroColStat)] =
      cols.indices.filter(mins(_) != null).map { i =>
        cols(i).name -> GavroColStat(cols(i).tpe, jvm(mins(i)), jvm(maxs(i)))
      }
    private def jvm(v: Any): Any = v match {
      case s: UTF8String => s.toString
      case other => other
    }
  }

  /** The task side of [[Gavro.write]] and the rewrite staging pass: one
    * partition's `bin` rows (the record body at ordinal 0) into one file. */
  private[sources] def writeBins(it: Iterator[InternalRow], f: java.io.File,
      layout: Layout): Unit = {
    val w = new GavroFileWriter(f, layout)
    try it.foreach(r => w.append(r.getBinary(0), r))
    catch { case e: Throwable => w.abort(); throw e }
    w.commit()
  }
}
