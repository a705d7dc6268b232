package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Par

/** S3 transport without the jar: a minimal Avro BINARY codec for the
  * reference's two direct-topic reader schemas — `request_log` and
  * `system_metrics` (reference: src/streaming/schemas.py:188-189) — plus
  * the Catalyst expressions `to_avro_graft`/`from_avro_graft` that run it
  * in-plan.
  *
  * Why hand-rolled: the reference's hot path decodes every topic with
  * `from_avro(..., mode=PERMISSIVE)` (reference: kafka_sources.py:66-86),
  * but the `spark-avro` artifact cannot be resolved in this offline
  * container (documented round-4 attempt). The two direct-topic schemas
  * are flat records over exactly five Avro primitives — long, int, double,
  * string, `["null", T]` unions, and the timestamp-millis logical type —
  * so the wire format (Avro 1.11 spec, "Binary encoding": zigzag varints,
  * little-endian IEEE doubles, length-prefixed UTF-8, union-index prefix)
  * is implemented directly and validated byte-for-byte against
  * hand-computed fixtures in AvroSpec. The CDC topics' Debezium envelopes
  * add string-first unions and more fields but no new primitives; the
  * registry-fetched writer schema path (KafkaStack.fetchLatestSchema)
  * would drive the same decoder once generalized.
  *
  * PERMISSIVE contract: any malformed payload (truncation, bad union
  * index, negative length) decodes to a NULL record — never an exception —
  * mirroring spark-avro's PERMISSIVE mode that the reference filters on
  * (`data IS NOT NULL`, kafka_sources.py:84-87). Trailing bytes after a
  * complete record are ignored, as Avro readers do.
  *
  * The expressions are [[CodegenFallback]] — the same evaluation class as
  * spark-avro's own `AvroDataToCatalyst` — so they compose with (without
  * breaking) surrounding whole-stage codegen.
  */
object AvroCodec {

  // ------------------------------------------------------------ schema ADT

  sealed trait AvroType
  case object ALong extends AvroType
  case object AInt extends AvroType
  case object ADouble extends AvroType
  case object ABoolean extends AvroType
  case object AString extends AvroType
  /** Avro `{"type":"long","logicalType":"timestamp-millis"}` — surfaced as
    * a Spark TimestampType (micros internally, scaled at the boundary). */
  case object ATimestampMillis extends AvroType
  case object ANull extends AvroType
  /** Branch order matters on the wire: the union index is encoded before
    * the value, and the reference documents whole-record NULL-outs from
    * union-order mismatch (schemas.py:173-179). */
  final case class AUnion(branches: Vector[AvroType]) extends AvroType

  final case class AField(name: String, tpe: AvroType)
  final case class ARecord(name: String, fields: Vector[AField])

  /** The value type under an optional wrapper: `AUnion([null, T])` → `T`.
    * Used by the gavro scan builder to decide filter-pushdown eligibility. */
  def unwrapNull(t: AvroType): AvroType = t match {
    case AUnion(bs) => bs.find(_ != ANull).getOrElse(ANull)
    case other => other
  }

  /** `RequestLog` reader schema (reference: schemas.py:188). */
  val RequestLog: ARecord = ARecord("RequestLog", Vector(
    AField("id", ALong),
    AField("endpoint", AUnion(Vector(ANull, AString))),
    AField("method", AUnion(Vector(ANull, AString))),
    AField("status_code", AInt),
    AField("latency_ms", AInt),
    AField("user_id", AUnion(Vector(ANull, ALong))),
    AField("session_id", AUnion(Vector(ANull, AString))),
    AField("region_name", AUnion(Vector(ANull, AString))),
    AField("user_display_name", AUnion(Vector(ANull, AString))),
    AField("platform", AUnion(Vector(ANull, AString))),
    AField("created_at", ATimestampMillis)))

  /** `SystemMetric` reader schema (reference: schemas.py:189). */
  val SystemMetrics: ARecord = ARecord("SystemMetric", Vector(
    AField("id", ALong),
    AField("node_name", AString),
    AField("metric_name", AString),
    AField("metric_value", ADouble),
    AField("recorded_at", ATimestampMillis)))

  /** The Debezium CDC envelope for the `orders` topic, parsed from the
    * exact schema document the reference registers
    * (src/streaming/schemas.py:182 `ORDERS_AVRO_SCHEMA`) — i.e. the same
    * registry-JSON → [[parseSchema]] → codec path a live
    * [[graft.streaming.KafkaStack.fetchLatestSchema]] fetch drives. The
    * envelope's new shapes vs the direct topics: STRING-FIRST unions
    * (`currency`, the ZonedTimestamp fields — null is branch index 1, the
    * union-order trap schemas.py:173-179 documents), Debezium's
    * `connect.*` annotations (timestamps travel as ISO-8601 STRINGS, not
    * timestamp-millis longs), and the `__op`/`__table`/`__source_ts_ms`/
    * `__deleted` metadata tail. No new primitives — the decoder is
    * unchanged; this is schema coverage, not code. */
  lazy val OrdersCdc: ARecord = parseSchema(OrdersCdcJson)

  /** The `sessions` CDC envelope (src/streaming/schemas.py:187): adds the
    * remaining union shapes the topic family uses — BOOLEAN-FIRST
    * `is_active` (the other documented union-order trap), a NON-NULLABLE
    * ZonedTimestamp (`started_at` is a bare string, no union), and
    * Debezium UUID strings. */
  lazy val SessionsCdc: ARecord = parseSchema(SessionsCdcJson)

  /** The persisted IVF-PQ index tables ([[graft.ops.IvfPqIndex]]): vector
    * payloads travel EXPLODED to scalar rows (the codec is deliberately
    * scalar-only — arrays would forfeit the footer-stats/pushdown machinery
    * that makes the codes table cell-prunable). Components are exact longs
    * at the quantizer's 1e4 scale; codes are one row per (vec_id, sub_idx),
    * already the shape the ADC join consumes. */
  lazy val IvfCells: ARecord = parseSchema(IvfCellsJson)
  lazy val IvfBooks: ARecord = parseSchema(IvfBooksJson)
  lazy val IvfCodes: ARecord = parseSchema(IvfCodesJson)
  lazy val LshSigs: ARecord = parseSchema(LshSigsJson)
  lazy val LshBands: ARecord = parseSchema(LshBandsJson)
  lazy val LshBuckets: ARecord = parseSchema(LshBucketsJson)

  def schemaByName(name: String): ARecord = name match {
    case "request_log" => RequestLog
    case "system_metrics" => SystemMetrics
    case "orders_cdc" => OrdersCdc
    case "sessions_cdc" => SessionsCdc
    case "ivf_cells" => IvfCells
    case "ivf_books" => IvfBooks
    case "ivf_codes" => IvfCodes
    case "lsh_sigs" => LshSigs
    case "lsh_bands" => LshBands
    case "lsh_buckets" => LshBuckets
    case other => throw new IllegalArgumentException(
      s"unknown avro schema '$other' " +
        "(known: request_log, system_metrics, orders_cdc, sessions_cdc, " +
        "ivf_cells, ivf_books, ivf_codes, lsh_sigs, lsh_bands, lsh_buckets)")
  }

  private def sqlTypeOf(t: AvroType): DataType = t match {
    case ALong => LongType
    case AInt => IntegerType
    case ADouble => DoubleType
    case ABoolean => BooleanType
    case AString => StringType
    case ATimestampMillis => TimestampType
    case AUnion(bs) => sqlTypeOf(bs.find(_ != ANull).get)
    case ANull => NullType
  }

  def sqlType(r: ARecord): StructType = StructType(r.fields.map { f =>
    StructField(f.name, sqlTypeOf(f.tpe), nullable = f.tpe match {
      case AUnion(bs) => bs.contains(ANull)
      case _ => false
    })
  })

  // --------------------------------------------------- binary wire format

  /** Growable little write buffer (records here are < 1 KiB). */
  private final class Writer {
    private var buf = new Array[Byte](128)
    private var len = 0
    private def ensure(n: Int): Unit =
      if (len + n > buf.length) {
        val grown = new Array[Byte](math.max(buf.length * 2, len + n))
        System.arraycopy(buf, 0, grown, 0, len); buf = grown
      }
    def writeByte(b: Byte): Unit = { ensure(1); buf(len) = b; len += 1 }
    /** Avro long: zigzag + base-128 varint, little-endian groups. */
    def writeLong(v: Long): Unit = {
      var n = (v << 1) ^ (v >> 63)
      while ((n & ~0x7FL) != 0L) { writeByte(((n & 0x7F) | 0x80).toByte); n >>>= 7 }
      writeByte(n.toByte)
    }
    def writeDouble(v: Double): Unit = {
      val bits = java.lang.Double.doubleToLongBits(v)
      ensure(8)
      var i = 0
      while (i < 8) { buf(len) = ((bits >>> (8 * i)) & 0xFF).toByte; len += 1; i += 1 }
    }
    def writeBytes(b: Array[Byte]): Unit = { ensure(b.length)
      System.arraycopy(b, 0, buf, len, b.length); len += b.length }
    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  private final class Reader(bytes: Array[Byte]) {
    private var pos = 0
    private def need(n: Int): Unit =
      if (pos + n > bytes.length) throw new IllegalArgumentException("EOF")
    def readLong(): Long = {
      var n = 0L; var shift = 0; var b = 0
      do {
        need(1); b = bytes(pos) & 0xFF; pos += 1
        n |= (b & 0x7FL) << shift; shift += 7
        if (shift > 70) throw new IllegalArgumentException("varint too long")
      } while ((b & 0x80) != 0)
      (n >>> 1) ^ -(n & 1) // un-zigzag
    }
    def readDouble(): Double = {
      need(8)
      var bits = 0L; var i = 0
      while (i < 8) { bits |= (bytes(pos + i) & 0xFFL) << (8 * i); i += 1 }
      pos += 8
      java.lang.Double.longBitsToDouble(bits)
    }
    def readString(): UTF8String = {
      val n = readLong()
      if (n < 0 || n > Int.MaxValue) throw new IllegalArgumentException("bad length")
      need(n.toInt)
      val s = UTF8String.fromBytes(bytes, pos, n.toInt)
      pos += n.toInt
      s
    }
    def readBoolean(): Boolean = { need(1); val b = bytes(pos); pos += 1
      if (b != 0 && b != 1) throw new IllegalArgumentException("bad boolean"); b == 1 }
    def skip(n: Int): Unit = { need(n); pos += n }
  }

  /** Encode one record from Spark-internal field values (UTF8String for
    * strings, micros long for timestamps). Null in a non-union field is an
    * encoding error — the writer schema has no branch for it. */
  def encode(r: ARecord, get: Int => Any, isNull: Int => Boolean): Array[Byte] = {
    val w = new Writer
    var i = 0
    while (i < r.fields.length) {
      writeValue(w, r.fields(i).tpe, get(i), isNull(i), r.fields(i).name)
      i += 1
    }
    w.result()
  }

  private def writeValue(w: Writer, t: AvroType, v: Any, isNull: Boolean,
      field: String): Unit = t match {
    case AUnion(bs) =>
      if (isNull) {
        val idx = bs.indexOf(ANull)
        require(idx >= 0, s"null in non-nullable union field $field")
        w.writeLong(idx.toLong)
      } else {
        val idx = bs.indexWhere(_ != ANull)
        w.writeLong(idx.toLong)
        writeValue(w, bs(idx), v, isNull = false, field)
      }
    case _ if isNull =>
      throw new IllegalArgumentException(s"null in non-union field $field")
    case ALong => w.writeLong(v.asInstanceOf[Long])
    case AInt => w.writeLong(v.asInstanceOf[Int].toLong)
    case ADouble => w.writeDouble(v.asInstanceOf[Double])
    case ABoolean => w.writeByte(if (v.asInstanceOf[Boolean]) 1 else 0)
    case AString => w.writeBytes(
      { val b = v.asInstanceOf[UTF8String].getBytes; w.writeLong(b.length.toLong); b })
    case ATimestampMillis => // micros (Spark internal) → millis (wire)
      w.writeLong(Math.floorDiv(v.asInstanceOf[Long], 1000L))
    case ANull => ()
  }

  /** Decode one record to Spark-internal values, or null if malformed
    * (PERMISSIVE). */
  def decode(r: ARecord, bytes: Array[Byte]): InternalRow =
    try {
      val in = new Reader(bytes)
      val out = new Array[Any](r.fields.length)
      var i = 0
      while (i < r.fields.length) {
        out(i) = readValue(in, r.fields(i).tpe)
        i += 1
      }
      new GenericInternalRow(out)
    } catch { case _: IllegalArgumentException | _: ArrayIndexOutOfBoundsException => null }

  private def skipValue(in: Reader, t: AvroType): Unit = t match {
    case AUnion(bs) =>
      val idx = in.readLong()
      if (idx < 0 || idx >= bs.length) throw new IllegalArgumentException("bad union index")
      skipValue(in, bs(idx.toInt))
    case ALong | AInt | ATimestampMillis => in.readLong(); ()
    case ADouble => in.skip(8)
    case ABoolean => in.readBoolean(); ()
    case AString =>
      val n = in.readLong()
      if (n < 0 || n > Int.MaxValue) throw new IllegalArgumentException("bad length")
      in.skip(n.toInt)
    case ANull => ()
  }

  private def readValue(in: Reader, t: AvroType): Any = t match {
    case AUnion(bs) =>
      val idx = in.readLong()
      if (idx < 0 || idx >= bs.length) throw new IllegalArgumentException("bad union index")
      bs(idx.toInt) match {
        case ANull => null
        case b => readValue(in, b)
      }
    case ALong => in.readLong()
    case AInt =>
      val v = in.readLong()
      if (v < Int.MinValue || v > Int.MaxValue) throw new IllegalArgumentException("int overflow")
      v.toInt
    case ADouble => in.readDouble()
    case ABoolean => in.readBoolean()
    case AString => in.readString()
    case ATimestampMillis => // millis (wire) → micros (Spark internal)
      Math.multiplyExact(in.readLong(), 1000L)
    case ANull => null
  }

  // ------------------------------------------- schema JSON + evolution

  /** Parse an Avro schema JSON into the codec's ADT, using the REAL Avro
    * parser from the classpath (`org.apache.avro` ships inside the Spark
    * distribution even though `spark-avro` does not) — so any JSON this
    * accepts is by construction a valid Avro schema, and the registry's
    * writer-schema strings ([[graft.streaming.KafkaStack.fetchLatestSchema]])
    * feed straight into [[decodeResolved]]. Only the subset the reference's
    * topics use is mapped: flat records of long/int/double/boolean/string,
    * nullable unions, and the timestamp-millis logical type.
    */
  def parseSchema(json: String): ARecord = {
    import scala.jdk.CollectionConverters._
    val s = new org.apache.avro.Schema.Parser().parse(json)
    require(s.getType == org.apache.avro.Schema.Type.RECORD,
      s"top-level avro schema must be a record, got ${s.getType}")
    def conv(t: org.apache.avro.Schema): AvroType = t.getType match {
      case org.apache.avro.Schema.Type.LONG =>
        if (t.getLogicalType != null &&
          t.getLogicalType.getName == "timestamp-millis") ATimestampMillis
        else ALong
      case org.apache.avro.Schema.Type.INT => AInt
      case org.apache.avro.Schema.Type.DOUBLE => ADouble
      case org.apache.avro.Schema.Type.BOOLEAN => ABoolean
      case org.apache.avro.Schema.Type.STRING => AString
      case org.apache.avro.Schema.Type.NULL => ANull
      case org.apache.avro.Schema.Type.UNION =>
        AUnion(t.getTypes.asScala.map(conv).toVector)
      case other => throw new IllegalArgumentException(
        s"unsupported avro type $other (flat primitive records only)")
    }
    ARecord(s.getName,
      s.getFields.asScala.map(f => AField(f.name, conv(f.schema()))).toVector)
  }

  /** One writer-field action in a resolved decode plan: where its value
    * lands in the reader row (-1 = reader dropped it → parse past), and
    * the promotion to apply. */
  final case class FieldPlan(writerTpe: AvroType, ordinal: Int,
      readerBase: AvroType)

  /** Avro schema-resolution (the spec's "Schema Resolution" section) for
    * the supported subset: writer fields matched to reader fields BY NAME
    * (wire order is the writer's), reader-only fields default to null
    * (they must be nullable), writer-only fields are skipped, and the
    * numeric promotions int→long, int→double, long→double apply. This is
    * what lets a consumer keep its reader schema while producers roll out
    * additive changes — the registry evolution flow `from_avro` users get
    * from Confluent's wire format.
    */
  def resolvePlan(writer: ARecord, reader: ARecord): Array[FieldPlan] = {
    def base(t: AvroType): AvroType = unwrapNull(t)
    def compatible(w: AvroType, r: AvroType): Boolean = (base(w), base(r)) match {
      case (a, b) if a == b => true
      case (AInt, ALong) | (AInt, ADouble) | (ALong, ADouble) => true
      case _ => false
    }
    val readerIdx = reader.fields.zipWithIndex.map { case (f, i) => f.name -> i }.toMap
    reader.fields.foreach { rf =>
      val inWriter = writer.fields.exists(_.name == rf.name)
      require(inWriter || (rf.tpe match {
        case AUnion(bs) => bs.contains(ANull)
        case _ => false
      }), s"reader field ${rf.name} absent from writer and not nullable")
    }
    writer.fields.map { wf =>
      readerIdx.get(wf.name) match {
        case Some(i) =>
          val rf = reader.fields(i)
          require(compatible(wf.tpe, rf.tpe),
            s"field ${wf.name}: writer ${wf.tpe} not resolvable to reader ${rf.tpe}")
          FieldPlan(wf.tpe, i, base(rf.tpe))
        case None => FieldPlan(wf.tpe, -1, ANull)
      }
    }.toArray
  }

  private def promote(v: Any, readerBase: AvroType): Any = readerBase match {
    case ALong => v match {
      case i: Int => i.toLong
      case other => other
    }
    case ADouble => v match {
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case other => other
    }
    case _ => v
  }

  /** Decode writer-wire bytes into a READER-shaped row per a resolved
    * plan; reader-only fields stay null. PERMISSIVE: malformed payloads —
    * including a wire null where the reader type has no null branch —
    * decode to a NULL record. */
  def decodeResolved(plan: Array[FieldPlan], reader: ARecord,
      bytes: Array[Byte]): InternalRow =
    try {
      val in = new Reader(bytes)
      val out = new Array[Any](reader.fields.length)
      var i = 0
      while (i < plan.length) {
        val p = plan(i)
        if (p.ordinal < 0) skipValue(in, p.writerTpe)
        else {
          val v = readValue(in, p.writerTpe)
          if (v == null && !(reader.fields(p.ordinal).tpe match {
            case AUnion(bs) => bs.contains(ANull)
            case _ => false
          })) throw new IllegalArgumentException("null into non-nullable reader field")
          out(p.ordinal) = if (v == null) null else promote(v, p.readerBase)
        }
        i += 1
      }
      new GenericInternalRow(out)
    } catch { case _: IllegalArgumentException | _: ArrayIndexOutOfBoundsException => null }

  /** [[decodeResolved]] with column pruning pushed into the parse, for the
    * gavro scan's evolved-reader path: `target(r)` is the output ordinal
    * for READER ordinal r (-1 = pruned). Writer-only fields and pruned
    * reader fields are parsed past, never materialized; promotions apply
    * on the kept values; `readerNullable(r)` enforces the
    * null-into-non-nullable rejection (→ PERMISSIVE null record), same as
    * the unprojected path. */
  def decodeResolvedProjected(plan: Array[FieldPlan], bytes: Array[Byte],
      target: Array[Int], outWidth: Int,
      readerNullable: Array[Boolean]): InternalRow =
    try {
      val in = new Reader(bytes)
      val out = new Array[Any](outWidth)
      var i = 0
      while (i < plan.length) {
        val p = plan(i)
        val tgt = if (p.ordinal < 0) -1 else target(p.ordinal)
        if (tgt >= 0) {
          val v = readValue(in, p.writerTpe)
          if (v == null && !readerNullable(p.ordinal))
            throw new IllegalArgumentException("null into non-nullable reader field")
          out(tgt) = if (v == null) null else promote(v, p.readerBase)
        } else skipValue(in, p.writerTpe)
        i += 1
      }
      new GenericInternalRow(out)
    } catch { case _: IllegalArgumentException | _: ArrayIndexOutOfBoundsException => null }

  /** Per-reader-field wire nullability, for [[decodeResolvedProjected]]. */
  def nullableFlags(reader: ARecord): Array[Boolean] =
    reader.fields.map(f => f.tpe match {
      case AUnion(bs) => bs.contains(ANull)
      case _ => false
    }).toArray

  // ------------------------------------------------- Catalyst expressions

  /** `to_avro_graft(struct, 'schema_name')`: struct → Avro binary. */
  case class AvroEncodeExpr(child: Expression, schemaName: String)
      extends UnaryExpression with CodegenFallback {
    @transient private lazy val record = schemaByName(schemaName)
    @transient private lazy val expected = sqlType(record)

    override def dataType: DataType = BinaryType
    override def prettyName: String = "to_avro_graft"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case s: StructType if s.length == expected.length &&
          s.fields.zip(expected.fields).forall { case (a, b) => a.dataType == b.dataType } =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"to_avro_graft('$schemaName') expects ${expected.simpleString}, got ${other.simpleString}")
    }

    override protected def nullSafeEval(input: Any): Any = {
      val row = input.asInstanceOf[InternalRow]
      val types = expected.fields.map(_.dataType)
      encode(record, i => row.get(i, types(i)), i => row.isNullAt(i))
    }

    override protected def withNewChildInternal(newChild: Expression): AvroEncodeExpr =
      copy(child = newChild)
  }

  /** `from_avro_graft(binary, 'schema_name')`: Avro binary → struct, NULL
    * on malformed payload (PERMISSIVE). */
  case class AvroDecodeExpr(child: Expression, schemaName: String)
      extends UnaryExpression with CodegenFallback {
    @transient private lazy val record = schemaByName(schemaName)

    override def dataType: DataType = sqlType(record)
    override def nullable: Boolean = true
    override def prettyName: String = "from_avro_graft"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"from_avro_graft expects binary, got ${other.simpleString}")
    }

    override protected def nullSafeEval(input: Any): Any =
      decode(record, input.asInstanceOf[Array[Byte]])

    override protected def withNewChildInternal(newChild: Expression): AvroDecodeExpr =
      copy(child = newChild)
  }

  /** `from_avro_evolved(binary, 'writerJson', 'readerJson')`: decode bytes
    * written under the WRITER schema into the READER's shape via Avro
    * schema resolution — name matching, null defaults, numeric promotion.
    * NULL record on malformed payload (PERMISSIVE), like the plain
    * decoder. */
  case class AvroDecodeEvolvedExpr(child: Expression, writerJson: String,
      readerJson: String) extends UnaryExpression with CodegenFallback {
    @transient private lazy val reader = parseSchema(readerJson)
    @transient private lazy val plan = resolvePlan(parseSchema(writerJson), reader)

    override def dataType: DataType = sqlType(reader)
    override def nullable: Boolean = true
    override def prettyName: String = "from_avro_evolved"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"from_avro_evolved expects binary, got ${other.simpleString}")
    }

    override protected def nullSafeEval(input: Any): Any =
      decodeResolved(plan, reader, input.asInstanceOf[Array[Byte]])

    override protected def withNewChildInternal(newChild: Expression): AvroDecodeEvolvedExpr =
      copy(child = newChild)
  }

  /** The request_log writer schema as JSON — the registry-side document
    * equivalent of [[RequestLog]] (validated equal in AvroSpec). */
  val RequestLogJson: String =
    """{"type":"record","name":"RequestLog","fields":[
      |{"name":"id","type":"long"},
      |{"name":"endpoint","type":["null","string"]},
      |{"name":"method","type":["null","string"]},
      |{"name":"status_code","type":"int"},
      |{"name":"latency_ms","type":"int"},
      |{"name":"user_id","type":["null","long"]},
      |{"name":"session_id","type":["null","string"]},
      |{"name":"region_name","type":["null","string"]},
      |{"name":"user_display_name","type":["null","string"]},
      |{"name":"platform","type":["null","string"]},
      |{"name":"created_at","type":{"type":"long","logicalType":"timestamp-millis"}}
      |]}""".stripMargin.replace("\n", "")

  /** An EVOLVED consumer schema for request_log: `status_code` promoted
    * int→long, `latency_ms` promoted int→double, `platform` dropped, new
    * nullable `trace_id` (absent from the writer → null default). */
  val RequestLogV2Json: String =
    """{"type":"record","name":"RequestLog","fields":[
      |{"name":"id","type":"long"},
      |{"name":"endpoint","type":["null","string"]},
      |{"name":"status_code","type":"long"},
      |{"name":"latency_ms","type":"double"},
      |{"name":"user_id","type":["null","long"]},
      |{"name":"trace_id","type":["null","string"],"default":null},
      |{"name":"created_at","type":{"type":"long","logicalType":"timestamp-millis"}}
      |]}""".stripMargin.replace("\n", "")

  /** Coarse-centroid components of a persisted IVF-PQ index: one row per
    * (c_id, pos), x = the integral component at the 1e4 quantizer scale. */
  val IvfCellsJson: String =
    """{"type":"record","name":"IvfCells","fields":[
      |{"name":"c_id","type":"int"},
      |{"name":"pos","type":"int"},
      |{"name":"x","type":"long"}
      |]}""".stripMargin.replace("\n", "")

  /** Residual PQ codebook components: one row per (sub_idx, c_id, pos). */
  val IvfBooksJson: String =
    """{"type":"record","name":"IvfBooks","fields":[
      |{"name":"sub_idx","type":"int"},
      |{"name":"c_id","type":"int"},
      |{"name":"pos","type":"int"},
      |{"name":"x","type":"long"}
      |]}""".stripMargin.replace("\n", "")

  /** PQ codes: one row per (vec_id, sub_idx) with the vector's coarse
    * cell riding along — the exact (cell, sub_idx, code) join shape the
    * ADC stage consumes, and `cell` is the footer-stats column the
    * probe-list IN pushdown prunes files by. */
  val IvfCodesJson: String =
    """{"type":"record","name":"IvfCodes","fields":[
      |{"name":"vec_id","type":"long"},
      |{"name":"cell","type":"int"},
      |{"name":"sub_idx","type":"int"},
      |{"name":"code","type":"int"}
      |]}""".stripMargin.replace("\n", "")

  /** MinHash signature components of the persisted LSH dedup index
    * ([[graft.ops.LshIndex]]): one row per (doc_id, pos) — the 12-element
    * signature scalar-exploded, same layout decision as the IVF tables
    * (scalars keep the footer-stats machinery). */
  val LshSigsJson: String =
    """{"type":"record","name":"LshSigs","fields":[
      |{"name":"doc_id","type":"long"},
      |{"name":"pos","type":"int"},
      |{"name":"m","type":"long"}
      |]}""".stripMargin.replace("\n", "")

  /** LSH band bucket membership: one row per (doc_id, band_idx) with the
    * md5 bucket key — the probe target of the incremental dedup join,
    * band_idx in the footer stats for band-sliced maintenance scans.
    * `slot` is the layout hash bucket (`band_idx * SaltM +
    * pmod(xxhash64(band_key), SaltM)`, [[graft.ops.LshIndex]]): files are
    * exact-partitioned on it, so a probe's `slot IN (touched…)` pushdown
    * skips every band file whose hash slice holds none of the touched
    * buckets — the string band_key itself cannot carry that proof. */
  val LshBandsJson: String =
    """{"type":"record","name":"LshBands","fields":[
      |{"name":"doc_id","type":"long"},
      |{"name":"band_idx","type":"int"},
      |{"name":"band_key","type":"string"},
      |{"name":"slot","type":"int"}
      |]}""".stripMargin.replace("\n", "")

  /** LSH bucket occupancy, maintained in the index artifact at build and
    * append time: one row per (band_idx, band_key) PER COMMIT with that
    * batch's row count and max doc_id. Readers sum `n` for the mega-bucket
    * cap and filter `max_doc` for probe-side rows — both through broadcast
    * joins, so the probe never shuffles the corpus-scale bands table
    * (`max_doc` in the footer stats lets an all-below-floor base file skip
    * wholesale). */
  val LshBucketsJson: String =
    """{"type":"record","name":"LshBuckets","fields":[
      |{"name":"band_idx","type":"int"},
      |{"name":"band_key","type":"string"},
      |{"name":"n","type":"long"},
      |{"name":"max_doc","type":"long"},
      |{"name":"slot","type":"int"}
      |]}""".stripMargin.replace("\n", "")

  /** The `orders` Debezium envelope writer schema, verbatim as the
    * reference registers it (src/streaming/schemas.py:182): string-first
    * unions with Connect annotations and defaults — the document a
    * registry GET returns for the CDC topic's value subject. */
  val OrdersCdcJson: String =
    """{"type":"record","name":"OrdersCdc","fields":[
      |{"name":"id","type":{"type":"long","connect.default":0},"default":0},
      |{"name":"user_id","type":["null","long"],"default":null},
      |{"name":"total_amount","type":"double"},
      |{"name":"currency","type":[{"type":"string","connect.default":"USD"},"null"],"default":"USD"},
      |{"name":"status","type":"string"},
      |{"name":"region_name","type":["null","string"],"default":null},
      |{"name":"user_display_name","type":["null","string"],"default":null},
      |{"name":"platform","type":["null","string"],"default":null},
      |{"name":"created_at","type":[{"type":"string","connect.version":1,"connect.default":"1970-01-01T00:00:00.000000Z","connect.name":"io.debezium.time.ZonedTimestamp"},"null"],"default":"1970-01-01T00:00:00.000000Z"},
      |{"name":"updated_at","type":[{"type":"string","connect.version":1,"connect.default":"1970-01-01T00:00:00.000000Z","connect.name":"io.debezium.time.ZonedTimestamp"},"null"],"default":"1970-01-01T00:00:00.000000Z"},
      |{"name":"__op","type":["null","string"],"default":null},
      |{"name":"__table","type":["null","string"],"default":null},
      |{"name":"__source_ts_ms","type":["null","long"],"default":null},
      |{"name":"__deleted","type":["null","string"],"default":null}
      |]}""".stripMargin.replace("\n", "")

  /** The `sessions` CDC envelope writer schema, verbatim as the reference
    * registers it (src/streaming/schemas.py:187): UUID primary key,
    * boolean-first `is_active` union, non-nullable `started_at`
    * ZonedTimestamp. */
  val SessionsCdcJson: String =
    """{"type":"record","name":"SessionsCdc","fields":[
      |{"name":"id","type":{"type":"string","connect.version":1,"connect.default":"00000000-0000-0000-0000-000000000000","connect.name":"io.debezium.data.Uuid"},"default":"00000000-0000-0000-0000-000000000000"},
      |{"name":"user_id","type":["null","long"],"default":null},
      |{"name":"started_at","type":{"type":"string","connect.version":1,"connect.name":"io.debezium.time.ZonedTimestamp"}},
      |{"name":"ended_at","type":["null",{"type":"string","connect.version":1,"connect.name":"io.debezium.time.ZonedTimestamp"}],"default":null},
      |{"name":"platform","type":["null","string"],"default":null},
      |{"name":"country_code","type":["null","string"],"default":null},
      |{"name":"city","type":["null","string"],"default":null},
      |{"name":"region_name","type":["null","string"],"default":null},
      |{"name":"is_active","type":[{"type":"boolean","connect.default":true},"null"],"default":true},
      |{"name":"created_at","type":[{"type":"string","connect.version":1,"connect.default":"1970-01-01T00:00:00.000000Z","connect.name":"io.debezium.time.ZonedTimestamp"},"null"],"default":"1970-01-01T00:00:00.000000Z"},
      |{"name":"__op","type":["null","string"],"default":null},
      |{"name":"__table","type":["null","string"],"default":null},
      |{"name":"__source_ts_ms","type":["null","long"],"default":null},
      |{"name":"__deleted","type":["null","string"],"default":null}
      |]}""".stripMargin.replace("\n", "")

  // -------------------------------------------------------------- queries

  /** Fan the wire-codec pipeline across the session's cores and compute
    * it ONCE. Two measured local[32] pathologies share this fix (profiled
    * at sf0.1, r17): the fixture parquet is a single small file, so the
    * scan plans ONE task and the per-row encode+decode (the dominant
    * cost, ~2 s per 100 k rows) serializes on one core; and the final
    * global `orderBy`'s range-partitioner SAMPLING pass re-runs the
    * whole pipeline a second time. [[Par.fan]] round-robins the narrow
    * RAW rows over `defaultParallelism` before
    * the codec runs — GUARDED on the input's scan parallelism, so a wide
    * production scan passes through with no added Exchange and only the
    * single-file fixture narrows get spread — and `once` persists the decoded
    * projection so the sort samples a materialized result instead of
    * re-decoding. Bench clears the cache between runs, so every timed
    * run still pays the full decode exactly once. */
  private def once(df: DataFrame): DataFrame = df.persist()

  /** S3 closed end-to-end in-plan: synthesize request_log records from the
    * events fixture, serialize each through the Avro wire format, plant a
    * deterministic truncation (1-in-13), decode PERMISSIVE, and surface the
    * decoded fields. The DuckDB oracle computes the same columns directly
    * from `events` — a hash match proves decode∘encode is the identity on
    * every good row (all five primitives + both union branches exercised)
    * and that corrupt payloads null out whole-record, exactly the
    * reference's PERMISSIVE contract.
    */
  /** Deterministic request_log synthesis from the events fixture — shared
    * by the in-plan round-trip query and the gavro file-source fixtures. */
  def requestLogRec: org.apache.spark.sql.Column = {
    val m5 = pmod(col("user_id"), lit(5))
    struct(
      col("event_id").as("id"),
      concat(lit("/api/"), col("event_type")).as("endpoint"),
      when(pmod(col("user_id"), lit(2)) === 0, "GET").otherwise("POST").as("method"),
      when(pmod(col("event_id"), lit(7)) === 0, 500).otherwise(200)
        .cast("int").as("status_code"),
      pmod(col("event_id"), lit(500)).cast("int").as("latency_ms"),
      when(pmod(col("user_id"), lit(11)) === 0, lit(null).cast("long"))
        .otherwise(col("user_id")).as("user_id"),
      md5(col("event_id").cast("string")).as("session_id"),
      when(m5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("r"), m5.cast("string"))).as("region_name"),
      concat(lit("User "), col("user_id").cast("string")).as("user_display_name"),
      when(pmod(col("user_id"), lit(3)) === 0, "web")
        .when(pmod(col("user_id"), lit(3)) === 1, "ios")
        .otherwise("android").as("platform"),
      col("ts").as("created_at"))
  }

  def avroRoundtrip(events: DataFrame): DataFrame = {
    once(Par.fan(events)
      .select(col("event_id"), requestLogRec.as("rec"))
      .select(col("event_id"), expr("to_avro_graft(rec, 'request_log')").as("bin"))
      .select(col("event_id"),
        when(pmod(col("event_id"), lit(13)) === 0, expr("substring(bin, 1, 3)"))
          .otherwise(col("bin")).as("bin"))
      .select(col("event_id"), expr("from_avro_graft(bin, 'request_log')").as("d"))
      .select(col("event_id"),
        col("d").isNull.as("is_corrupt"),
        col("d.endpoint").as("endpoint"),
        col("d.method").as("method"),
        col("d.status_code").cast("long").as("status_code"),
        col("d.latency_ms").cast("long").as("latency_ms"),
        col("d.user_id").as("user_id"),
        col("d.session_id").as("session_id"),
        col("d.region_name").as("region_name"),
        col("d.user_display_name").as("user_display_name"),
        col("d.platform").as("platform"),
        unix_millis(col("d.created_at")).as("created_ms")))
      .orderBy(col("event_id"))
  }

  /** The second reader schema (system_metrics) through the same wire
    * round-trip — doubles cross the wire as raw IEEE bits, so the oracle
    * compare is bit-exact on `metric_value`. */
  def avroMetricsRoundtrip(events: DataFrame): DataFrame = {
    val rec = struct(
      col("event_id").as("id"),
      concat(lit("node-"), pmod(col("user_id"), lit(8)).cast("string")).as("node_name"),
      col("event_type").as("metric_name"),
      col("value").as("metric_value"),
      col("ts").as("recorded_at"))
    // No fan/once here: this is the LIGHTEST codec (5 fields, no unions
    // beyond the record) — the batch-1 A/B measured the fan+persist
    // overhead at 1.66× AGAINST on this query while the heavy CDC codecs
    // won 0.48-0.60× with the same treatment. Overhead must stay below
    // the work it parallelizes.
    events
      .select(col("event_id"), rec.as("rec"))
      .select(col("event_id"), expr("to_avro_graft(rec, 'system_metrics')").as("bin"))
      .select(col("event_id"), expr("from_avro_graft(bin, 'system_metrics')").as("d"))
      .select(col("event_id"),
        col("d.id").as("id"),
        col("d.node_name").as("node_name"),
        col("d.metric_name").as("metric_name"),
        col("d.metric_value").as("metric_value"),
        unix_millis(col("d.recorded_at")).as("recorded_ms"))
      .orderBy(col("event_id"))
  }

  /** Schema evolution end-to-end in-plan: records encoded under the V1
    * writer schema (the byte-exact path `avro_decode` proves), then
    * decoded by a V2 consumer — promotions applied, dropped field parsed
    * past, new field defaulted — with the same 1-in-13 planted corruption
    * exercising PERMISSIVE through the resolved path. The oracle computes
    * the evolved view directly from `events`. */
  def avroEvolution(events: DataFrame): DataFrame = {
    once(Par.fan(events)
      .select(col("event_id"), requestLogRec.as("rec"))
      .select(col("event_id"), expr("to_avro_graft(rec, 'request_log')").as("bin"))
      .select(col("event_id"),
        when(pmod(col("event_id"), lit(13)) === 0, expr("substring(bin, 1, 3)"))
          .otherwise(col("bin")).as("bin"))
      .select(col("event_id"),
        expr(s"from_avro_evolved(bin, '$RequestLogJson', '$RequestLogV2Json')")
          .as("d"))
      .select(col("event_id"),
        col("d").isNull.as("is_corrupt"),
        col("d.id").as("id"),
        col("d.endpoint").as("endpoint"),
        col("d.status_code").as("status_code"),
        col("d.latency_ms").as("latency_ms"),
        col("d.user_id").as("user_id"),
        col("d.trace_id").as("trace_id"),
        unix_millis(col("d.created_at")).as("created_ms")))
      .orderBy(col("event_id"))
  }

  /** Deterministic OrdersCdc envelope synthesis from the orders fixture —
    * every union branch exercised: null/long, string-first currency with
    * its null branch, ZonedTimestamp ISO strings, the Debezium metadata
    * tail. */
  def ordersCdcRec: org.apache.spark.sql.Column = {
    // parquet carries TIMESTAMP_NTZ; cast to instant under the UTC session
    val od = col("o_orderdate").cast("timestamp")
    val iso = date_format(od, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    val op = when(pmod(col("o_orderkey"), lit(31)) === 0, "d")
      .when(pmod(col("o_orderkey"), lit(3)) === 0, "u").otherwise("c")
    val m3 = pmod(col("o_custkey"), lit(3))
    struct(
      col("o_orderkey").as("id"),
      when(pmod(col("o_custkey"), lit(11)) === 0, lit(null).cast("long"))
        .otherwise(col("o_custkey")).as("user_id"),
      col("o_totalprice").as("total_amount"),
      when(pmod(col("o_orderkey"), lit(19)) === 0, lit(null).cast("string"))
        .when(pmod(col("o_orderkey"), lit(5)) === 0, "EUR")
        .otherwise("USD").as("currency"),
      col("o_orderstatus").as("status"),
      when(pmod(col("o_custkey"), lit(7)) === 0, lit(null).cast("string"))
        .otherwise(concat(lit("r"), pmod(col("o_custkey"), lit(5)).cast("string")))
        .as("region_name"),
      concat(lit("Cust "), col("o_custkey").cast("string")).as("user_display_name"),
      when(m3 === 0, "web").when(m3 === 1, "ios").otherwise("android").as("platform"),
      iso.as("created_at"),
      iso.as("updated_at"),
      op.as("__op"),
      lit("orders").as("__table"),
      unix_millis(od).as("__source_ts_ms"),
      when(op === "d", "true").otherwise("false").as("__deleted"))
  }

  /** S5 transport parity for the CDC topics: the Debezium envelope through
    * the full wire path — registry schema JSON → [[parseSchema]] →
    * `to_avro_graft`/`from_avro_graft` — then the reference's own CDC
    * post-processing (PERMISSIVE `data IS NOT NULL` drop,
    * kafka_sources.py:84-87; `__deleted` filter, cdc_processors.py) on the
    * decoded struct. The 1-in-97 planted truncation exercises the corrupt
    * channel; the oracle recomputes every surviving column straight from
    * `orders`, so a hash match proves the string-first-union wire
    * handling, the ZonedTimestamp string round-trip, and the metadata
    * tail all decode exactly. */
  def cdcAvroDecode(orders: DataFrame): DataFrame = {
    once(Par.fan(orders)
      .select(col("o_orderkey"), ordersCdcRec.as("rec"))
      .select(col("o_orderkey"), expr("to_avro_graft(rec, 'orders_cdc')").as("bin"))
      .select(
        when(pmod(col("o_orderkey"), lit(97)) === 0, expr("substring(bin, 1, 4)"))
          .otherwise(col("bin")).as("bin"))
      .select(expr("from_avro_graft(bin, 'orders_cdc')").as("d"))
      .filter(col("d").isNotNull)
      .filter(col("d.__deleted") =!= "true")
      .select(col("d.id").as("id"), col("d.__op").as("op"),
        col("d.user_id").as("user_id"),
        col("d.total_amount").as("total_amount"),
        col("d.currency").as("currency"), col("d.status").as("status"),
        col("d.region_name").as("region_name"),
        col("d.user_display_name").as("user_display_name"),
        col("d.platform").as("platform"),
        substring(col("d.created_at"), 1, 10).as("created_day"),
        col("d.__source_ts_ms").as("src_ms")))
      .orderBy(col("id"))
  }

  /** Deterministic SessionsCdc envelope synthesis from the events fixture:
    * Debezium-shaped UUID ids, boolean-first `is_active` with its null
    * branch planted, non-nullable `started_at`, nullable `ended_at`. */
  def sessionsCdcRec: org.apache.spark.sql.Column = {
    val h = md5(col("event_id").cast("string"))
    val uuid = concat_ws("-", substring(h, 1, 8), substring(h, 9, 4),
      substring(h, 13, 4), substring(h, 17, 4), substring(h, 21, 12))
    val isoPat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
    val started = date_format(col("ts"), isoPat)
    val m5 = pmod(col("user_id"), lit(5))
    val op = when(pmod(col("event_id"), lit(29)) === 0, "d")
      .when(pmod(col("event_id"), lit(2)) === 0, "u").otherwise("c")
    struct(
      uuid.as("id"),
      when(pmod(col("user_id"), lit(11)) === 0, lit(null).cast("long"))
        .otherwise(col("user_id")).as("user_id"),
      started.as("started_at"),
      when(pmod(col("event_id"), lit(3)) === 0, lit(null).cast("string"))
        .otherwise(date_format(col("ts") + expr("INTERVAL 30 MINUTES"), isoPat))
        .as("ended_at"),
      when(pmod(col("user_id"), lit(3)) === 0, "web")
        .when(pmod(col("user_id"), lit(3)) === 1, "ios")
        .otherwise("android").as("platform"),
      when(m5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("C"), m5.cast("string"))).as("country_code"),
      concat(lit("city-"), pmod(col("user_id"), lit(17)).cast("string")).as("city"),
      when(m5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("r"), m5.cast("string"))).as("region_name"),
      when(pmod(col("event_id"), lit(23)) === 0, lit(null).cast("boolean"))
        .otherwise(pmod(col("event_id"), lit(2)) === 0).as("is_active"),
      started.as("created_at"),
      op.as("__op"),
      lit("sessions").as("__table"),
      unix_millis(col("ts")).as("__source_ts_ms"),
      when(op === "d", "true").otherwise("false").as("__deleted"))
  }

  /** The sessions CDC envelope end-to-end, completing the topic family's
    * union-shape coverage: boolean-first `is_active` (null = branch 1),
    * non-nullable ZonedTimestamp, UUID strings — wire-encoded, 1-in-89
    * truncated for the PERMISSIVE channel, decoded, deleted-filtered, and
    * every surviving column recomputed by the oracle from `events`. */
  def cdcSessionsDecode(events: DataFrame): DataFrame = {
    once(Par.fan(events)
      .select(col("event_id"), sessionsCdcRec.as("rec"))
      .select(col("event_id"), expr("to_avro_graft(rec, 'sessions_cdc')").as("bin"))
      .select(col("event_id"),
        when(pmod(col("event_id"), lit(89)) === 0, expr("substring(bin, 1, 5)"))
          .otherwise(col("bin")).as("bin"))
      .select(col("event_id"), expr("from_avro_graft(bin, 'sessions_cdc')").as("d"))
      .filter(col("d").isNotNull)
      .filter(col("d.__deleted") =!= "true")
      .select(col("event_id"), col("d.id").as("id"),
        col("d.user_id").as("user_id"),
        substring(col("d.started_at"), 1, 19).as("started_s"),
        col("d.ended_at").as("ended_at"),
        col("d.platform").as("platform"),
        col("d.country_code").as("country_code"),
        col("d.city").as("city"),
        col("d.region_name").as("region_name"),
        col("d.is_active").as("is_active"),
        col("d.__op").as("op"),
        col("d.__source_ts_ms").as("src_ms")))
      .orderBy(col("event_id"))
  }

  // ------------------------------------------------------------- registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "avro_decode" -> ((s, d) => avroRoundtrip(Tables.events(s, d))),
    "avro_metrics_decode" -> ((s, d) => avroMetricsRoundtrip(Tables.events(s, d))),
    "avro_evolution" -> ((s, d) => avroEvolution(Tables.events(s, d))),
    "cdc_avro_decode" -> ((s, d) => cdcAvroDecode(Tables.orders(s, d))),
    "cdc_sessions_decode" -> ((s, d) => cdcSessionsDecode(Tables.events(s, d))),
  )

  def oracleSql: Map[String, String] = Map(
    "avro_decode" ->
      """SELECT event_id,
        |  (event_id % 13 = 0) AS is_corrupt,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |       ELSE '/api/' || event_type END AS endpoint,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |       WHEN user_id % 2 = 0 THEN 'GET' ELSE 'POST' END AS method,
        |  (CASE WHEN event_id % 13 = 0 THEN NULL
        |        WHEN event_id % 7 = 0 THEN 500 ELSE 200 END)::BIGINT AS status_code,
        |  (CASE WHEN event_id % 13 = 0 THEN NULL
        |        ELSE event_id % 500 END)::BIGINT AS latency_ms,
        |  CASE WHEN event_id % 13 = 0 OR user_id % 11 = 0 THEN NULL
        |       ELSE user_id END AS user_id,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |       ELSE md5(event_id::VARCHAR) END AS session_id,
        |  CASE WHEN event_id % 13 = 0 OR user_id % 5 = 0 THEN NULL
        |       ELSE 'r' || (user_id % 5)::VARCHAR END AS region_name,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |       ELSE 'User ' || user_id::VARCHAR END AS user_display_name,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |       WHEN user_id % 3 = 0 THEN 'web'
        |       WHEN user_id % 3 = 1 THEN 'ios'
        |       ELSE 'android' END AS platform,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |       ELSE epoch_us(ts) // 1000 END AS created_ms
        |FROM events ORDER BY event_id""".stripMargin,
    "avro_metrics_decode" ->
      """SELECT event_id,
        |  event_id AS id,
        |  'node-' || (user_id % 8)::VARCHAR AS node_name,
        |  event_type AS metric_name,
        |  value AS metric_value,
        |  epoch_us(ts) // 1000 AS recorded_ms
        |FROM events ORDER BY event_id""".stripMargin,
    // The evolved consumer's view: promotions are plain casts, the dropped
    // writer field never appears, trace_id is always the null default.
    "avro_evolution" ->
      """SELECT event_id,
        |  (event_id % 13 = 0) AS is_corrupt,
        |  CASE WHEN event_id % 13 = 0 THEN NULL ELSE event_id END AS id,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |       ELSE '/api/' || event_type END AS endpoint,
        |  (CASE WHEN event_id % 13 = 0 THEN NULL
        |        WHEN event_id % 7 = 0 THEN 500 ELSE 200 END)::BIGINT AS status_code,
        |  (CASE WHEN event_id % 13 = 0 THEN NULL
        |        ELSE event_id % 500 END)::DOUBLE AS latency_ms,
        |  CASE WHEN event_id % 13 = 0 OR user_id % 11 = 0 THEN NULL
        |       ELSE user_id END AS user_id,
        |  NULL::VARCHAR AS trace_id,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |       ELSE epoch_us(ts) // 1000 END AS created_ms
        |FROM events ORDER BY event_id""".stripMargin,
    "cdc_avro_decode" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, o_orderdate,
        |    CASE WHEN o_orderkey % 31 = 0 THEN 'd'
        |         WHEN o_orderkey % 3 = 0 THEN 'u' ELSE 'c' END AS op
        |  FROM orders
        |  WHERE o_orderkey % 97 <> 0
        |)
        |SELECT o_orderkey AS id, op,
        |  CASE WHEN o_custkey % 11 = 0 THEN NULL ELSE o_custkey END AS user_id,
        |  o_totalprice AS total_amount,
        |  CASE WHEN o_orderkey % 19 = 0 THEN NULL
        |       WHEN o_orderkey % 5 = 0 THEN 'EUR' ELSE 'USD' END AS currency,
        |  o_orderstatus AS status,
        |  CASE WHEN o_custkey % 7 = 0 THEN NULL
        |       ELSE 'r' || (o_custkey % 5)::VARCHAR END AS region_name,
        |  'Cust ' || o_custkey::VARCHAR AS user_display_name,
        |  CASE WHEN o_custkey % 3 = 0 THEN 'web'
        |       WHEN o_custkey % 3 = 1 THEN 'ios' ELSE 'android' END AS platform,
        |  strftime(o_orderdate, '%Y-%m-%d') AS created_day,
        |  (epoch_us(o_orderdate) // 1000)::BIGINT AS src_ms
        |FROM src WHERE op <> 'd' ORDER BY id""".stripMargin,
    "cdc_sessions_decode" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN event_id % 29 = 0 THEN 'd'
        |         WHEN event_id % 2 = 0 THEN 'u' ELSE 'c' END AS op,
        |    md5(event_id::VARCHAR) AS h
        |  FROM events
        |  WHERE event_id % 89 <> 0
        |)
        |SELECT event_id,
        |  substr(h,1,8)||'-'||substr(h,9,4)||'-'||substr(h,13,4)||'-'||
        |    substr(h,17,4)||'-'||substr(h,21,12) AS id,
        |  CASE WHEN user_id % 11 = 0 THEN NULL ELSE user_id END AS user_id,
        |  strftime(ts, '%Y-%m-%dT%H:%M:%S') AS started_s,
        |  CASE WHEN event_id % 3 = 0 THEN NULL
        |       ELSE strftime(ts + INTERVAL 30 MINUTE,
        |                     '%Y-%m-%dT%H:%M:%S.%f') || 'Z' END AS ended_at,
        |  CASE WHEN user_id % 3 = 0 THEN 'web'
        |       WHEN user_id % 3 = 1 THEN 'ios' ELSE 'android' END AS platform,
        |  CASE WHEN user_id % 5 = 0 THEN NULL
        |       ELSE 'C' || (user_id % 5)::VARCHAR END AS country_code,
        |  'city-' || (user_id % 17)::VARCHAR AS city,
        |  CASE WHEN user_id % 5 = 0 THEN NULL
        |       ELSE 'r' || (user_id % 5)::VARCHAR END AS region_name,
        |  CASE WHEN event_id % 23 = 0 THEN NULL
        |       ELSE event_id % 2 = 0 END AS is_active,
        |  op, (epoch_us(ts) // 1000)::BIGINT AS src_ms
        |FROM e WHERE op <> 'd' ORDER BY event_id""".stripMargin,
  )
}
