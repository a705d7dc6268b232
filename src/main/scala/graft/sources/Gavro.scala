package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{And, DataSourceRegister, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `gavro` — a DataSource V2 connector for length-prefixed Avro-binary
  * record files, read through the hand-rolled [[AvroCodec]] (the same
  * writer schemas the reference's direct-topic readers use:
  * src/streaming/schemas.py:181-189; src/streaming/kafka_sources.py:66-86
  * is the stream-side decode this file-source complements as the batch
  * landing-zone path — raw wire payloads archived to files, re-read for
  * backfill without a Kafka broker).
  *
  * File format: each record is a 4-byte big-endian length followed by the
  * Avro binary body. Framing is trusted (the archiver wrote it); the BODY
  * is the PERMISSIVE channel — an undecodable body yields an all-null row,
  * preserving record counts exactly like the reference's `from_avro`
  * PERMISSIVE contract on corrupt payloads.
  *
  * DSv2 integration, the part Spark actually optimizes through:
  *   - one [[InputPartition]] per footer-indexed BLOCK ([[GavroFooter]]):
  *     parallelism tracks data volume, not file count — a single huge
  *     landing file fans out across the cluster; footer-less files fall
  *     back to one whole-file partition;
  *   - per-file min/max footer stats drive parquet-style FILE SKIPPING
  *     against the pushed predicates ([[GavroSkip]]): a file whose value
  *     range excludes a conjunct is never opened;
  *   - [[SupportsPushDownRequiredColumns]]: Catalyst's pruned schema is
  *     pushed INTO [[AvroCodec.decodeResolvedProjected]] — Avro has no
  *     field offsets so skipped fields are still walked on the wire, but
  *     never materialized (no string allocation, no boxing). `.explain`
  *     shows the pruned `ReadSchema` on the `BatchScan` node, same as
  *     parquet;
  *   - an optional `readerSchema` option decodes the archive through Avro
  *     SCHEMA RESOLUTION against the on-file writer schema (promotions,
  *     dropped writer fields parsed past, reader-only fields
  *     null-defaulted) — backfill with an evolved consumer schema, with
  *     pruning, pushed filters, and pushed aggregates all operating on
  *     the reader view;
  *   - [[SupportsPushDownFilters]]: eq/lt/gt/null-test conjuncts on scalar
  *     fields are accepted at the builder and evaluated INSIDE the reader
  *     loop right after decode — a non-matching record never becomes a row
  *     the engine has to carry. Accepted conjuncts are removed from the
  *     post-scan `Filter` (the reader's evaluation is exact, including the
  *     SQL null-comparison contract), so a fully-pushed predicate leaves
  *     no `FilterExec` above the scan at all; IN-lists on scalar fields
  *     (≤64 values — the IVF probe-list shape) are pushed the same way;
  *     anything unsupported (timestamps, Or-trees) is handed back to
  *     Spark untouched.
  *     Filter-only columns are added to the decode target and dropped
  *     before emit, so pruning and filtering compose.
  *
  * Local-FS listing/IO keeps the sandbox honest; at scale the listing and
  * range reads swap for the Hadoop FileSystem API with the same
  * block-grain planning, and everything above the byte source is
  * unchanged.
  *
  * Batch only: the table declares BATCH_READ, BATCH_WRITE and TRUNCATE, so
  * `readStream`/`writeStream.format("gavro")` fail at start in Spark's own
  * capability check. The streaming jobs read a parquet drop-dir
  * ([[graft.streaming.Jobs]]); `sinceCommit` is the archive's incremental
  * read.
  */
class GavroSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "gavro"

  // Every column nullable regardless of the Avro schema: the PERMISSIVE
  // corrupt channel emits all-null rows, so a non-nullable column here
  // would let downstream codegen elide null checks and NPE (spark-avro's
  // PERMISSIVE mode makes the same relaxation).
  //
  // An optional `readerSchema` (Avro JSON) evolves the scan: the table's
  // shape is the READER's, and each record is decoded through Avro schema
  // resolution against the on-file writer schema (promotions, dropped
  // writer fields parsed past, reader-only fields null-defaulted) — the
  // "backfill the archive with this quarter's consumer schema" path.
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val rec = Option(options.get("readerSchema"))
      .map(AvroCodec.parseSchema)
      .getOrElse(AvroCodec.schemaByName(options.get("schema")))
    StructType(AvroCodec.sqlType(rec).fields.map(_.copy(nullable = true)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new GavroTable(schema, opts.get("path"), opts.get("schema"),
      Option(opts.get("readerSchema")), Option(opts.get("asOfCommit")),
      Option(opts.get("sinceCommit")))
  }
}

class GavroTable(tableSchema: StructType, path: String, schemaName: String,
    readerJson: Option[String], asOfCommit: Option[String] = None,
    sinceCommit: Option[String] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  require(path != null, "gavro: 'path' option is required")
  override def name(): String = s"gavro(`$path`, $schemaName)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GavroScanBuilder(tableSchema, path, schemaName, readerJson, asOfCommit,
      sinceCommit, partitionKey = Option(options.get("partitionKey")))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GavroWriteBuilder(path, schemaName, info.schema(),
      Option(info.options.get("blockBytes")).map(_.toLong)
        .getOrElse(Gavro.DefaultBlockBytes),
      Gavro.codecByte(Option(info.options.get("blockCodec")).getOrElse("none")),
      // option("bloomCols", "a,b"): per-block bloom filters on the named
      // fields ([[GavroBloom]]) — the sink-side switch for point-probe
      // skipping on value-unclustered columns in APPENDED archives (the
      // landing-zone shape Gavro.write's truncate semantics can't serve).
      Option(info.options.get("bloomCols")).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
}

class GavroScanBuilder(full: StructType, path: String, schemaName: String,
    readerJson: Option[String] = None, asOfCommit: Option[String] = None,
    sinceCommit: Option[String] = None,
    partitionKey: Option[String] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownAggregates {
  // Pushdown eligibility is judged against the READER view: predicates
  // and aggregates reference reader columns, and the reader evaluates
  // them on post-resolution (promoted) values.
  private val record = readerJson.map(AvroCodec.parseSchema)
    .getOrElse(AvroCodec.schemaByName(schemaName))
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var agg: GavroAgg = null

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** PARTIAL aggregate pushdown (`supportCompletePushDown` stays false —
    * complete pushdown is only sound single-partition): each file-partition
    * reader aggregates in place and emits ONE ROW PER GROUP instead of one
    * per record, so what crosses the scan boundary is O(partitions×groups)
    * — at the 100 TB landing zone that turns a billions-of-rows scan into
    * thousands of partial rows under Spark's final merge aggregate. Spark
    * maps the scan output POSITIONALLY (groups, then aggregates) and
    * re-aggregates above: min→min, max→max, count/sum→sum; the reader-side
    * null/permissive semantics match what the replaced partial
    * HashAggregate would have seen (count(*) counts corrupt all-null rows,
    * count(col)/min/max/sum skip nulls, all-null sum stays NULL). Pushed
    * only when every filter was itself fully pushed (Spark's own gate), so
    * filter+aggregate compose inside the reader loop. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
      case _ => None
    }
    def sqlField(name: String): StructField = full(full.fieldIndex(name))
    val groups = aggregation.groupByExpressions.map(fieldOf)
    if (groups.exists(g => g.isEmpty || !scalarField(g.get))) return false
    val gNames = groups.map(_.get)
    // A `partitionKey` read whose grouping contains the key declines the
    // aggregate push: the reported KeyGroupedPartitioning then plans ONE
    // complete per-partition aggregate with NO exchange at all, which
    // beats shuffling O(files × groups) pushed partial rows.
    if (partitionKey.exists(gNames.contains)) return false
    val specs: Array[Option[GAggSpec]] = aggregation.aggregateExpressions.map {
      case _: CountStar => Some(GAggSpec("count_star", null))
      case c: Count if !c.isDistinct =>
        fieldOf(c.column).filter(scalarField).map(GAggSpec("count", _))
      case m: Min => fieldOf(m.column).filter(scalarField).map(GAggSpec("min", _))
      case m: Max => fieldOf(m.column).filter(scalarField).map(GAggSpec("max", _))
      case s: Sum if !s.isDistinct => fieldOf(s.column).filter(scalarField)
        .filter(n => sqlField(n).dataType == LongType ||
          sqlField(n).dataType == org.apache.spark.sql.types.IntegerType ||
          sqlField(n).dataType == DoubleType).map(GAggSpec("sum", _))
      case _ => None
    }
    if (specs.exists(_.isEmpty)) return false
    val aggFields = specs.flatten.map { s =>
      s.op match {
        case "count_star" => StructField("count(*)", LongType, nullable = true)
        case "count" => StructField(s"count(${s.field})", LongType, nullable = true)
        case "sum" =>
          val t = if (sqlField(s.field).dataType == DoubleType) DoubleType else LongType
          StructField(s"sum(${s.field})", t, nullable = true)
        case op => StructField(s"$op(${s.field})", sqlField(s.field).dataType,
          nullable = true)
      }
    }
    agg = GavroAgg(gNames, specs.flatten,
      StructType(gNames.map(sqlField) ++ aggFields))
    true
  }

  /** Limit lands AFTER the pushed filters in the reader loop, so each
    * partition decodes at most `limit` MATCHING records and stops walking
    * the wire — Spark's global limit over partitions still applies above. */
  override def pushLimit(l: Int): Boolean = { limit = l; true }

  // Scalar fields only: timestamp literals arrive from Catalyst in several
  // JVM shapes (Timestamp/Instant/Long) — not worth the ambiguity at the
  // reader, so timestamp conjuncts stay with Spark.
  private def scalarField(name: String): Boolean =
    record.fields.exists(f => f.name == name && (AvroCodec.unwrapNull(f.tpe) match {
      case AvroCodec.AInt | AvroCodec.ALong | AvroCodec.ADouble |
           AvroCodec.ABoolean | AvroCodec.AString => true
      case _ => false
    }))
  private def litOk(v: Any): Boolean = v match {
    case _: Int | _: Long | _: Double | _: Boolean | _: String => true
    case _ => false
  }
  /** Tree connectives push too (the disjunctive-filter shape): an `Or`
    * whose branches are each pushable is pushable — the skip proof is
    * "both branches impossible", the row eval is SQL three-valued OR —
    * and with it `And`-under-`Or` and `Not`. Leaf count is capped at
    * [[Gavro.TreeLeafMax]] so a pathological thousand-branch OR keeps its
    * FilterExec instead of serializing into every task. */
  private def supported(f: Filter): Boolean = f match {
    case Or(l, r) => supported(l) && supported(r)
    case And(l, r) => supported(l) && supported(r)
    case Not(c) => supported(c)
    case leaf => supportedLeaf(leaf)
  }
  private def supportedLeaf(f: Filter): Boolean = f match {
    case EqualTo(a, v) => scalarField(a) && litOk(v)
    case EqualNullSafe(a, v) => scalarField(a) && litOk(v)
    case GreaterThan(a, v) => scalarField(a) && litOk(v)
    case GreaterThanOrEqual(a, v) => scalarField(a) && litOk(v)
    case LessThan(a, v) => scalarField(a) && litOk(v)
    case LessThanOrEqual(a, v) => scalarField(a) && litOk(v)
    case IsNotNull(a) => scalarField(a)
    case IsNull(a) => scalarField(a)
    // IN on a scalar field — the probe-list shape (`cell IN (probed…)`,
    // `band_key IN (touched…)`) the index reads push; capped at
    // [[Gavro.InPushMax]] to bound the serialized pred (the skip proof is
    // a binary search and the row eval a hash lookup, so neither needs
    // the old 64-value guard).
    case In(a, vs) =>
      scalarField(a) && vs.nonEmpty && vs.length <= Gavro.InPushMax &&
        vs.forall(litOk)
    // String predicates evaluate in the reader (decode-time drop, no
    // FilterExec, and they no longer block aggregate pushdown);
    // startsWith additionally skips files/blocks via the prefix range
    // [p, incrementLast(p)) against the footer min/max — the
    // URL-prefix / path-scan shape. endsWith/contains carry no
    // min/max proof and only prune rows.
    case StringStartsWith(a, v) => stringField(a) && v != null
    case StringEndsWith(a, v) => stringField(a) && v != null
    case StringContains(a, v) => stringField(a) && v != null
    case _ => false
  }

  private def stringField(name: String): Boolean =
    record.fields.exists(f => f.name == name &&
      AvroCodec.unwrapNull(f.tpe) == AvroCodec.AString)

  /** Contract: the RETURNED filters are the ones Spark must still apply
    * post-scan; everything accepted here is fully enforced by the reader
    * and vanishes from the plan above the scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(f =>
      supported(f) && GavroPred.leafCount(f) <= Gavro.TreeLeafMax)
    pushed = ok
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan =
    new GavroScan(path, schemaName,
      if (agg != null) agg.schema else required, pushed, limit,
      Option(agg), readerJson, asOfCommit, sinceCommit, partitionKey)
}

/** DSv2 WRITE path: `df.write.format("gavro").option("schema", …)
  * .save(dir)` encodes each row to the Avro wire format INSIDE the sink
  * and emits footer-indexed `.gavro` files — the archiver becomes a
  * standard Spark write, and block offsets + min/max stats (every
  * pushdown-eligible scalar field, automatically) come for free, so what
  * this sink writes, the scan can split and skip.
  *
  * Commit protocol, the part that makes it safe on a real cluster: each
  * task writes a hidden `.tmp` file and reports it in its commit message;
  * the driver PUBLISHES by renaming temp files to the next sequential
  * `part-NNNNN.gavro` names (continuing past the highest existing index,
  * so appended batches sort AFTER prior files). A failed job leaves
  * only invisible temp files (scan listing matches `.gavro` suffix with a
  * `part-` prefix); abort deletes them. `mode("overwrite")` routes
  * through `SupportsTruncate`: existing data files are deleted at commit
  * time, after every task has succeeded — never before. */
class GavroWriteBuilder(path: String, schemaName: String, in: StructType,
    blockBytes: Long, codec: Byte = 0, bloomCols: Seq[String] = Seq.empty)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  // Fail on the driver, at build time: a frame that is not the record, or
  // an unknown or double bloom column, is a caller bug, not something to
  // discover per task.
  private val expected = AvroCodec.sqlType(AvroCodec.schemaByName(schemaName))
  require(in.length == expected.length &&
    in.fields.zip(expected.fields).forall { case (a, b) =>
      a.name == b.name && a.dataType == b.dataType },
    s"gavro write: frame schema ${in.simpleString} does not match " +
      s"'$schemaName' ${expected.simpleString}")
  GavroFileWriter.bloomColumns(expected, bloomCols)
  private var overwrite = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    overwrite = true; this
  }
  override def buildForBatch(): org.apache.spark.sql.connector.write.BatchWrite =
    new GavroBatchWrite(path, schemaName, overwrite, blockBytes, codec,
      bloomCols)
}

/** A writer that saw zero rows — the commit skips it. */
case object GavroNoFile
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

case class GavroTempFile(tmp: String)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class GavroBatchWrite(path: String, schemaName: String, overwrite: Boolean,
    blockBytes: Long, codec: Byte = 0, bloomCols: Seq[String] = Seq.empty)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    GavroWriterFactory(path, schemaName, blockBytes, codec, bloomCols)

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val d = new java.io.File(path)
    if (overwrite) Gavro.clearTable(d)
    // Data files publish put-if-absent too (the coordination seam's
    // staged-blob publish, retry on the next index): two concurrent batch
    // writers that both computed part-00005 must not clobber each other's
    // bytes — the commit record only protects visibility, not the file
    // contents.
    val published = messages.collect { case GavroTempFile(tmp) => tmp }
      .sorted.map(tmp => Gavro.landNextPart(d, new java.io.File(tmp)))
    // visibility point: one commit record for the whole batch (readers
    // with a commit log never see a torn multi-file publish); sequence
    // allocation retries on concurrent-writer collision
    Gavro.commitBatch(path, published.toSeq)
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    messages.collect { case GavroTempFile(tmp) =>
      Gavro.dataStore.delete(new java.io.File(tmp)) }
}

case class GavroWriterFactory(path: String, schemaName: String,
    blockBytes: Long, codec: Byte = 0, bloomCols: Seq[String] = Seq.empty)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GavroDataWriter(path, schemaName, partitionId, taskId, blockBytes,
      codec, bloomCols)
}

class GavroDataWriter(path: String, schemaName: String, partitionId: Int,
    taskId: Long, blockBytes: Long = Gavro.DefaultBlockBytes,
    codec: Byte = 0, bloomCols: Seq[String] = Seq.empty)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private val record = AvroCodec.schemaByName(schemaName)
  private val schema = AvroCodec.sqlType(record)
  private val types = schema.fields.map(_.dataType)
  private val dir = { val d = new java.io.File(path); d.mkdirs(); d }
  // Staged under a dot-name (hidden from data listings) with a unique
  // suffix; written through the data-plane seam, published by the
  // driver's commit via the coordination seam's put-if-absent.
  private val tmp = new java.io.File(dir,
    f".write-$partitionId%05d-$taskId-" +
      java.util.UUID.randomUUID().toString.take(8) + ".gavro.tmp")
  // Stats on every pushdown-eligible scalar field, by record ordinal.
  private val file = new GavroFileWriter(tmp, GavroFileWriter.Layout(
    blockBytes, codec, GavroFileWriter.allStatColumns(schema),
    GavroFileWriter.bloomColumns(schema, bloomCols)))

  override def write(row: InternalRow): Unit =
    file.append(AvroCodec.encode(record, i => row.get(i, types(i)), row.isNullAt),
      row)

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    // An EMPTY partition publishes nothing: a zero-record file carries no
    // stats, so it can neither prove a partition key nor be skipped by a
    // predicate — and an exact-routed append (one partition per layout
    // slot, most slots untouched by a small delta) would otherwise land
    // dozens of empty files per append. The commit ignores the no-file
    // message.
    if (file.isEmpty) {
      file.abort()
      GavroNoFile
    } else {
      file.commit()
      GavroTempFile(tmp.getAbsolutePath)
    }
  }

  override def abort(): Unit = file.abort()
  override def close(): Unit = ()
}

/** Scan-level observability (DSv2 custom metrics): decoded-record and
  * corrupt-body counters surface on the `BatchScan` node in the SQL UI —
  * the PERMISSIVE channel stops being silent. A corpus whose corrupt rate
  * jumps between runs is a producer bug; the metric is where it shows. */
object GavroMetrics {
  final class Records extends CustomSumMetric {
    override def name(): String = "gavroRecords"
    override def description(): String = "gavro records decoded"
  }
  final class Corrupt extends CustomSumMetric {
    override def name(): String = "gavroCorrupt"
    override def description(): String = "gavro corrupt record bodies"
  }
  final class BlocksRead extends CustomSumMetric {
    override def name(): String = "gavroBlocksRead"
    override def description(): String = "gavro blocks read (post stats skip)"
  }
  final class BlocksTotal extends CustomSumMetric {
    override def name(): String = "gavroBlocksTotal"
    override def description(): String = "gavro blocks in listed files"
  }
  final case class Task(metricName: String, v: Long) extends CustomTaskMetric {
    override def name(): String = metricName
    override def value(): Long = v
  }
}

/** Serializable pushed-aggregation recipe: group field names + aggregate
  * specs in Spark's positional order, plus the scan output schema. */
case class GavroAgg(groups: Array[String], specs: Array[GAggSpec],
    schema: StructType) extends Serializable

case class GAggSpec(op: String, field: String) extends Serializable

class GavroScan(path: String, schemaName: String, required: StructType,
    pushed: Array[Filter], limit: Int,
    agg: Option[GavroAgg] = None, readerJson: Option[String] = None,
    asOfCommit: Option[String] = None,
    sinceCommit: Option[String] = None,
    partitionKey: Option[String] = None)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** The key column a `partitionKey` reader option nominates, accepted
    * only when it survives column pruning (Spark must be able to resolve
    * the reported clustering against the scan output), no aggregate was
    * pushed (a pushed agg replaces the output shape), and the type is
    * DISCRETE — int/long/string/boolean. Doubles are excluded: the
    * single-value proof compares boxed stat bounds, where NaN != NaN and
    * -0.0 == 0.0 diverge from Spark's own grouping equality, and a
    * floating-point partition key is a modeling error anyway. */
  private val keyField: Option[StructField] =
    partitionKey.filter(_ => agg.isEmpty)
      .flatMap(k => required.fields.find(_.name == k))
      .filter(f => f.dataType match {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.BooleanType => true
        case _ => false
      })

  /** Partitions planned once (both the logical rule's
    * `outputPartitioning` and execution's `planInputPartitions` need
    * them). In keyed mode every file that SURVIVES stats skipping must
    * prove single-valuedness on the key (footer min == max — what
    * [[Gavro.exactPartition]]'s one-key-per-file layout produces); one
    * unprovable live file falls the whole scan back to
    * UnknownPartitioning, never to a wrong grouping. Key values convert
    * to the Catalyst representation of the column's SQL type so Spark's
    * partition grouping compares them correctly. */
  @volatile private var blocksTotalPlanned = 0L
  @volatile private var blocksReadPlanned = 0L

  /** Split-packing target via Spark's own file-split formula
    * (`FilePartition.maxSplitBytes`): honor
    * `spark.sql.files.maxPartitionBytes`, floor at the OPEN cost, and
    * never leave cores idle on a small snapshot — the admitted bytes
    * divide by `filesMinPartitionNum` (default parallelism). Scale-
    * adaptive by construction: at 100 TB the division lands far above
    * `maxPartitionBytes` so the cap rules; on a small fixture the core
    * count rules. The cap is overridable per-source via
    * `spark.graft.gavro.maxPartitionBytes` (falls back to
    * `spark.sql.files.maxPartitionBytes`): specs that need block-granular
    * tasks set the gavro-scoped key to 1, which kills the pack merge for
    * ANY on-disk block size without also shredding the parquet scans in
    * the same session into byte-sized splits (the flaw of setting the
    * global key to 1 — the r17 advice's soundness hole was real: a 4096
    * global cap let sub-2 KiB compressed blocks pack in the codec
    * tests).
    *
    * The open cost is [[GavroOpenCostBytes]], NOT Spark's 4 MB
    * `openCostInBytes` default: a gavro split open is one positioned
    * range read against a footer the PLANNER already parsed (no footer
    * re-read, no remote-store handshake), so 64 KiB amortizes it
    * hundreds of times over. Measured consequence of using the 4 MB
    * default here: small hot tables (the LSH occupancy table) packed to
    * one task per file and their decode-bound aggregations serialized —
    * lsh_bucket_stats ran 2.05× slower in the packing A/B. With the
    * 64 KiB floor a tiny table keeps near-block-granular fan-out while
    * the 1113-task pathology stays fixed (a 9 MB snapshot still packs
    * to ~core-count tasks via the bytesPerCore term). */
  private def maxSplitBytes(perFile: Seq[Seq[GavroInputPartition]]): Long = {
    val session = org.apache.spark.sql.SparkSession.active
    val conf = session.sessionState.conf
    val minParts = conf.filesMinPartitionNum
      .getOrElse(session.sparkContext.defaultParallelism)
    val totalBytes = perFile
      .map(ps => ps.map(p => p.end - p.start).sum + Gavro.GavroOpenCostBytes)
      .sum
    val bytesPerCore = totalBytes / math.max(1, minParts)
    val cap = session.conf.getOption("spark.graft.gavro.maxPartitionBytes")
      .map(_.toLong).getOrElse(conf.filesMaxPartitionBytes)
    math.min(cap, math.max(Gavro.GavroOpenCostBytes, bytesPerCore))
  }

  private lazy val planned: (Array[InputPartition], Int) = {
    val preds = pushed.map(GavroPred.from).toSeq
    val files = Gavro.listDataFiles(path, asOfCommit, sinceCommit)
    var blocksTotal = 0L
    val res: (Array[InputPartition], Int) = keyField match {
      case None =>
        val perFile = files.map { f =>
          val meta = GavroFooter.read(f)
          blocksTotal += GavroSkip.liveBlocks(meta)
          GavroSkip.planFile(f, preds, meta)
        }
        val target = maxSplitBytes(perFile)
        (perFile.flatMap(ps => GavroSkip.pack(ps, target))
          .map(p => p: InputPartition).toArray, 0)
      case Some(field) =>
        val perFile = files.map { f =>
          val meta = GavroFooter.read(f)
          blocksTotal += GavroSkip.liveBlocks(meta)
          val single = meta.stats.get(field.name)
            .filter(s => s.min == s.max)
            .map(s => GavroScan.toCatalystKey(s.min, field.dataType))
          (GavroSkip.planFile(f, preds, meta), single)
        }.filter(_._1.nonEmpty)
        val target = maxSplitBytes(perFile.map(_._1))
        if (perFile.nonEmpty && perFile.forall(_._2.isDefined)) {
          val keys = perFile.flatMap(_._2).distinct.length
          (perFile.flatMap { case (parts, single) =>
            GavroSkip.pack(parts, target)
              .map(p => GavroKeyedPartition(p, single.get): InputPartition)
          }, keys)
        } else (perFile.flatMap(t => GavroSkip.pack(t._1, target))
          .map(p => p: InputPartition), 0)
    }
    blocksTotalPlanned = blocksTotal
    blocksReadPlanned = res._1.iterator.map {
      case k: GavroKeyedPartition => k.part.inner.length + 1L
      case p: GavroInputPartition => p.inner.length + 1L
      case _ => 1L
    }.sum
    res
  }

  /** Footer blocks the planned partitions will read (≥ partition count
    * once [[GavroSkip.pack]] merges contiguous admitted blocks) — the
    * numerator specs and the driver metric share. */
  private[graft] def plannedBlocks: Long = { planned; blocksReadPlanned }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.partitioning.{
      KeyGroupedPartitioning, UnknownPartitioning}
    keyField match {
      case Some(field) if planned._2 > 0 =>
        new KeyGroupedPartitioning(
          Array(Expressions.identity(field.name)), planned._2)
      case _ => new UnknownPartitioning(planned._1.length)
    }
  }

  /** Size from the file listing (cheap, exact for the on-wire bytes).
    * Without this a DSv2 relation reports the session default
    * (`spark.sql.defaultSizeInBytes` = Long.MaxValue), so a gavro-backed
    * DIMENSION table could never plan on the broadcast side of a join no
    * matter how small the files are — at scale that silently turns every
    * dim join against the landing zone into a shuffle. Row count is left
    * empty: records are length-prefixed, not fixed-width, and a listing
    * shouldn't decode. Conservative under pushed filters/limit (both only
    * shrink the real read). */
  override def estimateStatistics(): Statistics = {
    val bytes = Gavro.listDataFiles(path, asOfCommit, sinceCommit)
      .map(f => GavroFooter.read(f).dataEnd).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }
  override def description(): String =
    s"gavro $path, schema=$schemaName, ReadSchema: ${required.catalogString}, " +
      asOfCommit.map(c => s"AsOfCommit: $c, ").getOrElse("") +
      sinceCommit.map(c => s"SinceCommit: $c, ").getOrElse("") +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}" +
      (if (limit >= 0) s", PushedLimit: $limit" else "") +
      agg.map(a => s", PushedAggregates: ${a.specs.map(s =>
        if (s.field == null) s.op.toUpperCase else s"${s.op.toUpperCase}(${s.field})")
        .mkString("[", ", ", "]")}, GroupBy: ${a.groups.mkString("[", ", ", "]")}")
        .getOrElse("")
  /** One task per footer-indexed block (footer-less file = one block), with
    * parquet-style per-file stats skipping: a file whose [min, max] range
    * excludes a pushed comparison conjunct is never opened — the listing's
    * footers (a 12-byte tail read + the index) are all the planner touches. */
  override def planInputPartitions(): Array[InputPartition] = planned._1
  override def createReaderFactory(): PartitionReaderFactory =
    GavroReaderFactory(schemaName, required.fieldNames,
      pushed.map(GavroPred.from), limit, agg, readerJson)
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new GavroMetrics.Records, new GavroMetrics.Corrupt,
      new GavroMetrics.BlocksRead, new GavroMetrics.BlocksTotal)

  /** Planning-side pruning observability (SQL-UI scan node): how many
    * footer blocks the listing HELD vs how many survived the two-level
    * stats skip and became tasks. File-level opens alone under-report
    * pruning — a pushed key list can open every file yet read a minority
    * of each file's blocks, and this ratio is where that shows. */
  override def reportDriverMetrics(): Array[CustomTaskMetric] = Array(
    GavroMetrics.Task("gavroBlocksRead", plannedBlocks),
    GavroMetrics.Task("gavroBlocksTotal", blocksTotalPlanned))
}

/** Serializable reader-side form of one pushed conjunct. For a LEAF,
  * `value` is one of Int/Long/Double/Boolean/String (the builder admitted
  * nothing else) or [[GavroSortedVals]] for an IN list. For a TREE node
  * (`op` = "or" | "and" | "not"), `name` is empty and `value` is the
  * children: a `Vector[GavroPred]` for or/and (flattened — `a OR b OR c`
  * is ONE or-node with three children, so proof and eval loop instead of
  * recurse along a chain), a single [[GavroPred]] for not. */
case class GavroPred(name: String, op: String, value: Any) extends Serializable

/** A pushed IN list SORTED ascending in the skip-proof's comparison order
  * (homogeneous by construction — [[GavroSortedVals.build]] refuses mixed
  * lists). Sortedness is what lets [[GavroSkip]] prove "no listed value in
  * [min, max]" with one binary search instead of an O(values) scan per
  * file/block — the proof cost that capped the pushable list at 64 values;
  * with the log-time proof the cap rises to [[Gavro.InPushMax]] (a probe
  * touching hundreds of buckets keeps block-level skipping). The reader's
  * per-row eval hashes the values once ([[GavroPartitionReader]]). */
case class GavroSortedVals(vals: Vector[Any]) extends Serializable

object GavroSortedVals {
  /** Sort + wrap when the list is homogeneous and sortable; otherwise
    * return the plain Seq (linear proof and eval, as before). */
  def build(vs: Seq[Any]): Any =
    if (vs.isEmpty) vs
    else vs.head match {
      case _: String if vs.forall(_.isInstanceOf[String]) =>
        GavroSortedVals(vs.asInstanceOf[Seq[String]]
          .sortWith(GavroColStat.compareStrings(_, _) < 0).toVector)
      case (_: Int | _: Long)
          if vs.forall(v => v.isInstanceOf[Int] || v.isInstanceOf[Long]) =>
        GavroSortedVals(
          vs.sortBy(_.asInstanceOf[Number].longValue).toVector)
      case _: Double if vs.forall(_.isInstanceOf[Double]) =>
        GavroSortedVals(vs.asInstanceOf[Seq[Double]]
          .sortWith(Gavro.compareSparkDoubles(_, _) < 0).map(d => d: Any)
          .toVector)
      case _: Boolean if vs.forall(_.isInstanceOf[Boolean]) =>
        GavroSortedVals(vs.asInstanceOf[Seq[Boolean]].sorted
          .map(b => b: Any).toVector)
      case _ => vs
    }
}

object GavroPred {
  /** Flatten same-op chains while translating: Catalyst hands `a OR b OR
    * c` as a left-leaning binary tree; one n-ary node keeps the reader's
    * recursion depth at the EXPRESSION nesting depth, not the branch
    * count. */
  private def kids(op: String, l: Filter, r: Filter): Vector[GavroPred] = {
    def side(f: Filter): Vector[GavroPred] = from(f) match {
      case GavroPred(_, `op`, vs: Vector[GavroPred] @unchecked) => vs
      case p => Vector(p)
    }
    side(l) ++ side(r)
  }

  def from(f: Filter): GavroPred = f match {
    case Or(l, r) => GavroPred("", "or", kids("or", l, r))
    case And(l, r) => GavroPred("", "and", kids("and", l, r))
    case Not(c) => GavroPred("", "not", from(c))
    case EqualNullSafe(a, v) => GavroPred(a, "<=>", v)
    case EqualTo(a, v) => GavroPred(a, "=", v)
    case GreaterThan(a, v) => GavroPred(a, ">", v)
    case GreaterThanOrEqual(a, v) => GavroPred(a, ">=", v)
    case LessThan(a, v) => GavroPred(a, "<", v)
    case LessThanOrEqual(a, v) => GavroPred(a, "<=", v)
    case IsNotNull(a) => GavroPred(a, "notnull", null)
    case IsNull(a) => GavroPred(a, "isnull", null)
    case In(a, vs) => GavroPred(a, "in", GavroSortedVals.build(vs.toSeq))
    case StringStartsWith(a, v) => GavroPred(a, "starts", v)
    case StringEndsWith(a, v) => GavroPred(a, "ends", v)
    case StringContains(a, v) => GavroPred(a, "contains", v)
    case other => throw new IllegalArgumentException(s"unpushable: $other")
  }

  /** Leaves under a pushable tree — the size the builder caps at
    * [[Gavro.TreeLeafMax]] (each leaf costs one stats lookup per
    * file/block proof and one slot eval per row). */
  def leafCount(f: Filter): Int = f match {
    case Or(l, r) => leafCount(l) + leafCount(r)
    case And(l, r) => leafCount(l) + leafCount(r)
    case Not(c) => leafCount(c)
    case _ => 1
  }

  /** Every column a pred tree reads — the reader appends these to its
    * decode target (evaluated, never emitted). */
  def columns(p: GavroPred): Seq[String] = p.op match {
    case "or" | "and" =>
      p.value.asInstanceOf[Vector[GavroPred]].flatMap(columns)
    case "not" => columns(p.value.asInstanceOf[GavroPred])
    case _ => Seq(p.name)
  }

  /** The smallest string strictly greater than every string with prefix
    * `p`, in code-point order (the order the footer stats compare in):
    * increment p's last code point, dropping trailing U+10FFFF first and
    * stepping over the surrogate range (U+D7FF is followed by U+E000).
    * None when p is all U+10FFFF — no finite upper bound exists. */
  private[sources] def prefixUpperBound(p: String): Option[String] = {
    var end = p.length
    while (end > 0 && p.codePointBefore(end) == Character.MAX_CODE_POINT)
      end -= 2
    if (end == 0) None
    else {
      val cp = p.codePointBefore(end)
      val next = if (cp == 0xd7ff) 0xe000 else cp + 1
      Some(p.substring(0, end - Character.charCount(cp)) +
        new String(Character.toChars(next)))
    }
  }
}

object GavroScan {
  /** Footer stat value → the Catalyst value Spark's key-grouped partition
    * comparison expects for the column's SQL type (footer longs carry both
    * int and long stats; strings become UTF8String). */
  private[sources] def toCatalystKey(statValue: Any,
      dt: org.apache.spark.sql.types.DataType): Any = (statValue, dt) match {
    case (v: Long, org.apache.spark.sql.types.IntegerType) => v.toInt
    case (v: Long, _) => v
    case (v: String, _) => org.apache.spark.unsafe.types.UTF8String.fromString(v)
    case (v, _) => v
  }
}

/** One scan task: a record-aligned byte range of one file. `start`/`end`
  * come from the footer's block index (or [0, fileLen) for footer-less
  * legacy files), so a single large landing file fans out across the
  * cluster instead of pinning one task. A task may cover SEVERAL
  * consecutive admitted blocks ([[GavroSkip.pack]]): `inner` holds the
  * interior block boundaries (offsets strictly between `start` and
  * `end`), which per-block codecs need to decompress block-by-block;
  * block count = `inner.length + 1`. */
case class GavroInputPartition(file: String, start: Long, end: Long,
    codec: Byte = 0, inner: Seq[Long] = Seq.empty)
    extends InputPartition

/** A scan task whose file is PROVEN single-valued on the reported
  * partition key (footer min == max): `HasPartitionKey` lets Spark group
  * same-key tasks and plan clustered aggregations/joins without an
  * Exchange (storage-partitioned execution over
  * [[Gavro.exactPartition]]'s one-key-per-file layout). */
case class GavroKeyedPartition(part: GavroInputPartition, keyValue: Any)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array(keyValue))
}

/** Per-column min/max for footer stats. `tpe`: 0=long 1=double 2=string
  * 3=boolean 4=int (ints travel as longs). Values compare in Spark's
  * order ([[GavroColStat.lt]]): strings by UTF-8 bytes, i.e. by code
  * point, the order of UTF8String and of the reader's row evaluation;
  * doubles with NaN greatest and -0.0 equal to 0.0. */
case class GavroColStat(tpe: Byte, min: Any, max: Any) extends Serializable

object GavroColStat {
  /** Code-point order on JVM strings, without encoding them. UTF-16
    * code-unit order agrees with it except where a surrogate (half of a
    * code point above U+FFFF) meets a unit in U+E000..U+FFFF, so those
    * two ranges trade places before the units compare. */
  def compareStrings(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a.charAt(i)
      val y = b.charAt(i)
      if (x != y) return rank(x) - rank(y)
      i += 1
    }
    a.length - b.length
  }

  private def rank(c: Char): Int =
    if (c < '\ud800') c else if (c >= '\ue000') c - 0x800 else c + 0x2000

  /** `a < b` for stat type `tpe`. Strings are both UTF8String (the
    * writer's row values) or both String (footer values). */
  def lt(tpe: Byte, a: Any, b: Any): Boolean = tpe match {
    case 0 | 4 =>
      a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue
    case 1 => Gavro.sparkDoubleLt(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case 2 => (a, b) match {
      case (x: UTF8String, y: UTF8String) => x.binaryCompare(y) < 0
      case (x: String, y: String) => compareStrings(x, y) < 0
    }
    case 3 => !a.asInstanceOf[Boolean] && b.asInstanceOf[Boolean]
  }
}

/** Footer metadata of one `.gavro` file: record-aligned block start
  * offsets, the end of the data section, optional per-file column stats,
  * and (when the writer recorded them) per-BLOCK stats aligned with
  * `blocks` — empty when absent. */
case class GavroFileMeta(blocks: Array[Long], dataEnd: Long,
    stats: Map[String, GavroColStat],
    blockStats: Array[Map[String, GavroColStat]] = Array.empty,
    codec: Byte = 0,
    blockBlooms: Array[Map[String, GavroBloom]] = Array.empty)

/** The `.gavro` footer: appended after the data so the record stream stays
  * a plain append (an archiver can crash mid-write and the footer is
  * simply absent → the reader falls back to one whole-file block — never a
  * misread). Layout, all big-endian:
  *
  * {{{
  * [blockCount: 4B][block start offsets: blockCount × 8B]
  * [statCount: 4B] per stat: [nameLen 2B][name][tpe 1B][min][max]
  * [blockStatFlag: 1B] — if 1, blockCount repetitions of
  *   [statCount: 4B][stats as above], aligned with the offsets
  * [codec: 1B] — 0 none, 1 deflate, 2 snappy (absent in legacy files)
  * [bloomFlag: 1B] — optional (absent in pre-bloom files); if 1:
  *   [colCount: 4B] per col: [nameLen 2B][name][tpe 1B], then
  *   blockCount × colCount blooms in block-major declaration order:
  *   [k: 1B][words: 4B][words × 8B bit words]  ([[GavroBloom]])
  * [footerLen: 4B  — bytes from footer start THROUGH the magic]
  * [magic: 8B "GAVROIX1"]
  * }}}
  *
  * This is the same design point as Avro's object-container sync markers /
  * parquet's footer + row-group stats: block starts are record boundaries
  * recorded at write time, so split planning never scans data bytes; the
  * per-file min/max give parquet-style FILE skipping and the per-block
  * min/max BLOCK skipping inside surviving files — on a time-clustered
  * landing file a time-range predicate prunes to the few blocks that
  * overlap it. */
object GavroFooter {
  val Magic: Array[Byte] = "GAVROIX1".getBytes("UTF-8")

  private def writeTyped(o: java.io.DataOutputStream, tpe: Byte, v: Any): Unit =
    tpe match {
      case 0 | 4 => o.writeLong(v.asInstanceOf[Number].longValue)
      case 1 => o.writeDouble(v.asInstanceOf[Double])
      case 2 =>
        val b = v.toString.getBytes("UTF-8")
        o.writeShort(b.length); o.write(b)
      case 3 => o.writeBoolean(v.asInstanceOf[Boolean])
    }

  private def readTyped(i: java.io.DataInputStream, tpe: Byte): Any = tpe match {
    case 0 | 4 => i.readLong()
    case 1 => i.readDouble()
    case 2 =>
      val b = new Array[Byte](i.readUnsignedShort()); i.readFully(b)
      new String(b, "UTF-8")
    case 3 => i.readBoolean()
  }

  private def writeStats(d: java.io.DataOutputStream,
      stats: Seq[(String, GavroColStat)]): Unit = {
    d.writeInt(stats.length)
    stats.foreach { case (name, s) =>
      val nb = name.getBytes("UTF-8")
      d.writeShort(nb.length); d.write(nb)
      d.writeByte(s.tpe)
      writeTyped(d, s.tpe, s.min); writeTyped(d, s.tpe, s.max)
    }
  }

  private def readStats(in: java.io.DataInputStream): Map[String, GavroColStat] =
    (0 until in.readInt()).map { _ =>
      val nb = new Array[Byte](in.readUnsignedShort()); in.readFully(nb)
      val tpe = in.readByte()
      val mn = readTyped(in, tpe); val mx = readTyped(in, tpe)
      new String(nb, "UTF-8") -> GavroColStat(tpe, mn, mx)
    }.toMap

  def write(out: java.io.OutputStream, blocks: Seq[Long],
      stats: Seq[(String, GavroColStat)],
      blockStats: Seq[Seq[(String, GavroColStat)]] = Seq.empty,
      codec: Byte = 0,
      blockBlooms: Seq[Seq[(String, GavroBloom)]] = Seq.empty): Unit = {
    require(blockStats.isEmpty || blockStats.length == blocks.length,
      "blockStats must align with blocks")
    require(blockBlooms.isEmpty || blockBlooms.length == blocks.length,
      "blockBlooms must align with blocks")
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(bos)
    d.writeInt(blocks.length)
    blocks.foreach(d.writeLong)
    writeStats(d, stats)
    d.writeByte(if (blockStats.nonEmpty) 1 else 0)
    blockStats.foreach(writeStats(d, _))
    d.writeByte(codec) // block codec: 0 = none, 1 = deflate
    // Bloom section — appended AFTER every pre-bloom field so the layout
    // stays backward- and forward-compatible the same way the codec byte
    // did: an old reader stops before it, a new reader finds the marker
    // or EOF. Column set is uniform across blocks (the writer's
    // bloomCols); each block then carries one bloom per column in
    // declaration order.
    if (blockBlooms.nonEmpty) {
      val cols = blockBlooms.head.map { case (n, b) => (n, b.tpe) }
      require(blockBlooms.forall(_.map(e => (e._1, e._2.tpe)) == cols),
        "bloom columns must be uniform across blocks")
      d.writeByte(1)
      d.writeInt(cols.length)
      cols.foreach { case (n, tpe) =>
        val nb = n.getBytes("UTF-8")
        d.writeShort(nb.length); d.write(nb); d.writeByte(tpe)
      }
      blockBlooms.foreach(_.foreach { case (_, b) =>
        d.writeByte(b.k)
        d.writeInt(b.bits.length)
        b.bits.foreach(d.writeLong)
      })
    }
    d.writeInt(bos.size() + 4 + Magic.length) // footerLen incl. self + magic
    d.write(Magic)
    d.flush()
    out.write(bos.toByteArray)
  }

  /** Parse a file's footer; footer-less (legacy / torn-write) files get
    * one whole-file block and no stats. */
  /** Parsed-footer memo keyed by (path, length, mtime): gavro data files
    * are immutable once published (writers stage under temp names and
    * publish monotonically numbered parts; rewrites stage NEW names), so
    * identical (length, mtime) means identical bytes — and the
    * vacuum-grace `touch` that does move mtimes only forces a harmless
    * re-read. Planning reads each scanned file's footer (two positioned
    * reads + stat/bloom parse) once per SCAN; a probe-shaped query plans
    * several scans over the same slot files and a bench/serve session
    * re-plans per run — the memo makes that one parse per file per JVM.
    * Bounded: cleared wholesale past [[FooterCacheMax]] entries (a
    * session touching that many distinct files is churning tables, where
    * stale entries would only waste memory, never correctness — the key
    * re-validates length+mtime). */
  private val FooterCacheMax = 65536
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), GavroFileMeta]()

  def read(file: java.io.File): GavroFileMeta = {
    val mt = Gavro.dataStore.mtime(file)
    val len0 = Gavro.dataStore.length(file)
    val key = (file.getAbsolutePath, len0, mt)
    val hit = footerCache.get(key)
    if (hit != null) return hit
    val meta = readUncached(file)
    if (footerCache.size >= FooterCacheMax) footerCache.clear()
    footerCache.put(key, meta)
    meta
  }

  private def readUncached(file: java.io.File): GavroFileMeta = {
    val len = Gavro.dataStore.length(file)
    val noFooter = GavroFileMeta(Array(0L), len, Map.empty)
    if (len < Magic.length + 4) noFooter
    else {
      val tail = Gavro.dataStore.readRange(file, len - 12, 12)
      val footerLen = java.nio.ByteBuffer.wrap(tail, 0, 4).getInt
      if (!java.util.Arrays.equals(
            java.util.Arrays.copyOfRange(tail, 4, 12), Magic) ||
          footerLen < 12 || footerLen > len) noFooter
      else {
        val start = len - footerLen
        val body = Gavro.dataStore.readRange(file, start, footerLen - 12)
        val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(body))
        val blocks = Array.fill(in.readInt())(in.readLong())
        val stats = readStats(in)
        val blockStats =
          if (in.available() > 0 && in.readByte() == 1)
            Array.fill(blocks.length)(readStats(in))
          else Array.empty[Map[String, GavroColStat]]
        // Codec byte rides after the block stats; files written before the
        // codec existed simply end here and read as uncompressed.
        val codec: Byte = if (in.available() > 0) in.readByte() else 0
        // Bloom section rides after the codec byte; absent in files
        // written before blooms existed (and whenever bloomCols was
        // empty) — those simply never bloom-skip.
        val blockBlooms: Array[Map[String, GavroBloom]] =
          if (in.available() > 0 && in.readByte() == 1) {
            val cols = Array.fill(in.readInt()) {
              val nb = new Array[Byte](in.readUnsignedShort()); in.readFully(nb)
              (new String(nb, "UTF-8"), in.readByte())
            }
            Array.fill(blocks.length) {
              cols.map { case (name, tpe) =>
                val k = in.readByte()
                val bits = Array.fill(in.readInt())(in.readLong())
                name -> GavroBloom(tpe, k, bits)
              }.toMap
            }
          } else Array.empty
        GavroFileMeta(if (blocks.isEmpty) Array(0L) else blocks, start, stats,
          blockStats, codec, blockBlooms)
      }
    }
  }
}

/** Parquet-style file skipping: can the pushed conjuncts be proven FALSE
  * for every record in a file from its [min, max] column stats? Only
  * comparison predicates participate — null-tests never skip, because the
  * PERMISSIVE corrupt channel can surface all-null rows the write-side
  * stats never saw. Conservative by construction: unknown columns, type
  * mismatches, or missing stats mean "cannot exclude". */
object GavroSkip {
  /** sign(bound − v): compares a stat bound against the predicate literal;
    * None on type mismatch (→ never skip). */
  private def cmp(stat: GavroColStat, bound: Any, v: Any): Option[Int] =
    (v, bound) match {
      case (a: Number, b: Number) if stat.tpe == 1 ||
          a.isInstanceOf[Double] || b.isInstanceOf[Double] =>
        // mirror the reader's Spark-equality (−0.0 = 0.0, NaN = NaN): a
        // bound of −0.0 must not exclude a file for a 0.0 predicate
        Some(Gavro.compareSparkDoubles(b.doubleValue, a.doubleValue))
      case (a: Number, b: Number) =>
        Some(java.lang.Long.compare(b.longValue, a.longValue))
      case (a: String, b: String) => Some(GavroColStat.compareStrings(b, a))
      case (a: Boolean, b: Boolean) => Some(java.lang.Boolean.compare(b, a))
      case _ => None
    }

  /** True iff `stats` prove no record in the file can satisfy ALL the
    * pushed conjuncts (they are a conjunction: one impossible conjunct
    * excludes the file). */
  def exclude(stats: Map[String, GavroColStat], preds: Seq[GavroPred],
      blooms: Map[String, GavroBloom] = Map.empty): Boolean =
    preds.exists(cannotMatch(stats, blooms, _))

  /** Recursive proof that no record under `stats` can make `p` TRUE. A
    * tree is impossible iff: OR — every branch is (a row satisfying the
    * OR satisfies some branch); AND — any conjunct is; NOT — never proved
    * (min/max can't show a predicate holds for EVERY record, and null
    * rows make NOT(p) unknowable from value stats). Sound with nulls
    * throughout: null operands make every leaf not-TRUE, so value-range
    * impossibility over the non-null population is impossibility,
    * period. */
  private def cannotMatch(stats: Map[String, GavroColStat],
      blooms: Map[String, GavroBloom], p: GavroPred): Boolean = p.op match {
    case "or" =>
      p.value.asInstanceOf[Vector[GavroPred]]
        .forall(cannotMatch(stats, blooms, _))
    case "and" =>
      p.value.asInstanceOf[Vector[GavroPred]]
        .exists(cannotMatch(stats, blooms, _))
    case "not" => false
    case _ => cannotMatchLeaf(stats, p) || bloomExcludesLeaf(blooms, p)
  }

  /** Bloom-side leaf proof, independent of the range proof: an equality
    * (or IN — every listed value) whose value is DEFINITELY ABSENT from
    * the block's bloom cannot be TRUE on any record (nulls can't satisfy
    * these leaves either — [[GavroBloom]]'s soundness note). Applies
    * exactly where min/max is blind: point probes on value-unclustered
    * columns. */
  private def bloomExcludesLeaf(blooms: Map[String, GavroBloom],
      p: GavroPred): Boolean =
    blooms.nonEmpty && (blooms.get(p.name) match {
      case Some(b) => p.op match {
        case "=" | "<=>" => b.definitelyAbsent(p.value)
        case "in" => (p.value match {
          case GavroSortedVals(vs) => vs
          case vs: Seq[_] => vs.asInstanceOf[Seq[Any]]
          case _ => Seq.empty
        }) match {
          // Bounded at [[GavroBloom.InProofMax]]: past it the all-values-
          // absent conjunction is fp-collapsed (it can essentially never
          // hold) and the walk would pay O(values × blocks) for nothing.
          case vs if vs.nonEmpty && vs.length <= GavroBloom.InProofMax =>
            vs.forall(b.definitelyAbsent)
          case _ => false
        }
        case _ => false
      }
      case None => false
    })

  private def cannotMatchLeaf(stats: Map[String, GavroColStat],
      p: GavroPred): Boolean =
      stats.get(p.name) match {
        case Some(s) => p.op match {
          // <=> with a non-null literal (the builder admits nothing else)
          // matches only non-null values — the "=" range proof applies.
          case "=" | "<=>" =>
            cmp(s, s.min, p.value).exists(_ > 0) || // min > v
              cmp(s, s.max, p.value).exists(_ < 0)  // max < v
          case ">" => cmp(s, s.max, p.value).exists(_ <= 0)  // max <= v
          case ">=" => cmp(s, s.max, p.value).exists(_ < 0)  // max < v
          case "<" => cmp(s, s.min, p.value).exists(_ >= 0)  // min >= v
          case "<=" => cmp(s, s.min, p.value).exists(_ > 0)  // min > v
          case "in" => p.value match {
            // Sorted list ([[GavroSortedVals]]): exclude iff NO value lands
            // in [min, max] — binary-search the first value ≥ min and check
            // it against max. O(log values) per file/block instead of
            // O(values), the proof cost that gates [[Gavro.InPushMax]].
            case GavroSortedVals(vs) =>
              if (vs.isEmpty) true
              else cmp(s, s.min, vs(0)) match {
                case None => false // type mismatch: cannot exclude
                case Some(_) =>
                  var lo = 0
                  var hi = vs.length // first index with value ≥ min
                  while (lo < hi) {
                    val mid = (lo + hi) >>> 1
                    if (cmp(s, s.min, vs(mid)).exists(_ <= 0)) hi = mid
                    else lo = mid + 1
                  }
                  lo == vs.length || cmp(s, s.max, vs(lo)).exists(_ < 0)
              }
            // Plain list: every listed value provably outside [min, max].
            case raw: Seq[_] => raw.forall(v =>
              cmp(s, s.min, v).exists(_ > 0) || cmp(s, s.max, v).exists(_ < 0))
            case _ => false
          }
          // Prefix scan: records with prefix p lie in [p, upper(p));
          // exclude iff the stats range misses it entirely — max < p, or
          // min ≥ upper(p). Sound in code-point order (the order cmp
          // compares strings in): p is a prefix of s ⟹ p ≤ s < upper(p).
          case "starts" => (s.min, s.max, p.value) match {
            case (mn: String, mx: String, pre: String) =>
              GavroColStat.compareStrings(mx, pre) < 0 ||
                GavroPred.prefixUpperBound(pre).exists(up =>
                  GavroColStat.compareStrings(mn, up) >= 0)
            case _ => false
          }
          case _ => false // null-tests, ends/contains: never skip
        }
        case None => false
      }

  /** Shared planning: footer-driven block split + two-level stats skip
    * (whole file first, then surviving blocks individually when the footer
    * carries per-block stats), used by the batch scan. */
  def planFile(file: java.io.File, preds: Seq[GavroPred]): Seq[GavroInputPartition] =
    planFile(file, preds, GavroFooter.read(file))

  /** Blocks that COULD become read tasks: positive-extent only, the same
    * `end > start` filter [[planFile]] applies. An empty file's single
    * zero-extent block can never be a partition, so counting it in the
    * gavroBlocksTotal denominator would make an unfiltered scan report
    * read < total. */
  def liveBlocks(meta: GavroFileMeta): Long = {
    val bounds = meta.blocks :+ meta.dataEnd
    (0 until meta.blocks.length).count(i => bounds(i + 1) > bounds(i)).toLong
  }

  /** The footer-supplied variant for callers that already read the footer
    * (the keyed scan needs the stats for the partition key too — one tail
    * read per file, not two). */
  def planFile(file: java.io.File, preds: Seq[GavroPred],
      meta: GavroFileMeta): Seq[GavroInputPartition] = {
    if (meta.stats.nonEmpty && exclude(meta.stats, preds)) Seq.empty
    else {
      val bounds = meta.blocks :+ meta.dataEnd
      (0 until meta.blocks.length)
        .filterNot { i =>
          val bs = if (meta.blockStats.nonEmpty) meta.blockStats(i)
            else Map.empty[String, GavroColStat]
          val bb = if (meta.blockBlooms.nonEmpty) meta.blockBlooms(i)
            else Map.empty[String, GavroBloom]
          (bs.nonEmpty || bb.nonEmpty) && exclude(bs, preds, bb)
        }
        .map(i => GavroInputPartition(file.getAbsolutePath, bounds(i), bounds(i + 1),
          meta.codec))
        .filter(p => p.end > p.start)
    }
  }

  /** Pack CONTIGUOUS admitted blocks of one file into multi-block read
    * tasks of up to `target` bytes — input-split sizing (the
    * `maxPartitionBytes` idea) applied to the block index: a small-block
    * table (the 8 KiB probe layouts) otherwise plans one task per block
    * and per-task scheduling overhead dwarfs the read (measured: a 9 MB
    * snapshot planned 1113 tasks × 3 passes in `clusterTable`). A pruning
    * gap ends the run — a packed task never reads a skipped block — and
    * the interior boundaries ride along so per-block codecs keep the
    * block as the decompression unit. */
  def pack(parts: Seq[GavroInputPartition], target: Long): Seq[GavroInputPartition] = {
    if (parts.length <= 1) parts
    else {
      val out = Vector.newBuilder[GavroInputPartition]
      var cur = parts.head
      parts.tail.foreach { p =>
        if (cur.end == p.start && p.end - cur.start <= target)
          cur = cur.copy(end = p.end, inner = cur.inner :+ p.start)
        else { out += cur; cur = p }
      }
      out += cur
      out.result()
    }
  }
}

/** Serializable recipe shipped to executors: record shape, required
  * columns, and pushed conjuncts travel as names/values; the schema ADT is
  * rebuilt per reader. */
case class GavroReaderFactory(schemaName: String, requiredNames: Array[String],
    preds: Array[GavroPred], limit: Int,
    agg: Option[GavroAgg] = None,
    readerJson: Option[String] = None) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition match {
      case k: GavroKeyedPartition => k.part
      case other => other.asInstanceOf[GavroInputPartition]
    }
    agg match {
      case Some(a) => new GavroAggPartitionReader(p, schemaName, a, preds, readerJson = readerJson)
      case None =>
        new GavroPartitionReader(p, schemaName, requiredNames, preds, limit, readerJson)
    }
  }
}

/** Aggregating reader for pushed partial aggregation: drains the row
  * reader (decode + pushed filters) into an insertion-ordered group map,
  * then emits one row per group. Per-partition state is O(groups), the
  * whole point — a file of millions of records leaves the scan as its
  * distinct group keys. Null semantics match the partial HashAggregate
  * this replaces: count(*) counts every surviving row (including
  * PERMISSIVE all-null corrupt rows), count(col)/min/max/sum skip nulls,
  * and a group with no non-null input keeps a NULL sum/min/max. A global
  * aggregate (no group-by) always emits its single row, so count(*) on an
  * empty or fully-filtered file is 0, not absent.
  *
  * Degenerate group-by guard: a near-unique group key would otherwise
  * grow the map to the file's row count, so past [[GavroAggReader.MaxGroups]]
  * live groups the map is FLUSHED downstream and restarted — emitting the
  * same group in several partial rows is sound because Spark's final
  * merge aggregate re-combines them (sum of counts/sums, min of mins),
  * exactly as it combines partials from different files. Memory stays
  * bounded at the cap; the flushed case degrades toward plain-scan
  * volume, never above it. */
class GavroAggPartitionReader(part: GavroInputPartition, schemaName: String,
    agg: GavroAgg, preds: Array[GavroPred],
    maxGroups: Int = GavroAggReader.MaxGroups,
    readerJson: Option[String] = None)
    extends PartitionReader[InternalRow] {
  // Aggregation semantics follow the READER view (promoted types).
  private val record = readerJson.map(AvroCodec.parseSchema)
    .getOrElse(AvroCodec.schemaByName(schemaName))
  private val inputNames: Array[String] =
    agg.groups ++ agg.specs.flatMap(s => Option(s.field))
      .distinct.filterNot(agg.groups.contains)
  private val rows =
    new GavroPartitionReader(part, schemaName, inputNames, preds, -1, readerJson)
  private val slotOf: Map[String, Int] = inputNames.zipWithIndex.toMap
  private def doubleSum(name: String): Boolean =
    record.fields.exists(f => f.name == name &&
      AvroCodec.unwrapNull(f.tpe) == AvroCodec.ADouble)

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => Gavro.compareSparkDoubles(x, y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x: UTF8String, y: UTF8String) => x.compareTo(y)
    case _ => 0 // same decoded type by construction; unreachable
  }

  private val acc = new java.util.LinkedHashMap[List[Any], Array[Any]]()
  private def accFor(key: List[Any]): Array[Any] = {
    var a = acc.get(key)
    if (a == null) {
      a = agg.specs.map(s =>
        if (s.op == "count_star" || s.op == "count") 0L.asInstanceOf[Any]
        else null)
      acc.put(key, a)
    }
    a
  }

  private def absorb(r: InternalRow): Unit = {
    val key = agg.groups.indices.map(i =>
      if (r.isNullAt(i)) null else r.get(i, null)).toList
    val a = accFor(key)
    var i = 0
    while (i < agg.specs.length) {
      val s = agg.specs(i)
      val v = if (s.field == null) null else {
        val slot = slotOf(s.field)
        if (r.isNullAt(slot)) null else r.get(slot, null)
      }
      s.op match {
        case "count_star" => a(i) = a(i).asInstanceOf[Long] + 1L
        case "count" => if (v != null) a(i) = a(i).asInstanceOf[Long] + 1L
        case "min" => if (v != null && (a(i) == null || cmp(v, a(i)) < 0)) a(i) = v
        case "max" => if (v != null && (a(i) == null || cmp(v, a(i)) > 0)) a(i) = v
        case "sum" => if (v != null) {
          if (doubleSum(s.field)) {
            val add = v.asInstanceOf[Double]
            a(i) = (if (a(i) == null) 0.0 else a(i).asInstanceOf[Double]) + add
          } else {
            val add = v match { case x: Int => x.toLong; case x: Long => x }
            a(i) = (if (a(i) == null) 0L else a(i).asInstanceOf[Long]) + add
          }
        }
      }
      i += 1
    }
  }

  private def drain(): Iterator[InternalRow] = {
    import scala.jdk.CollectionConverters._
    val flushed = acc.entrySet().iterator().asScala.map(e =>
      new GenericInternalRow((e.getKey ++ e.getValue).toArray): InternalRow).toArray
    acc.clear()
    flushed.iterator
  }

  if (agg.groups.isEmpty) accFor(Nil) // global agg: row exists even if empty

  private var pending: Iterator[InternalRow] = Iterator.empty
  private var exhausted = false
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (!pending.hasNext && !exhausted) {
      if (rows.next()) {
        absorb(rows.get())
        if (acc.size > maxGroups) pending = drain()
      } else {
        exhausted = true
        rows.close()
        pending = drain()
      }
    }
    if (pending.hasNext) { row = pending.next(); true } else false
  }
  override def get(): InternalRow = row
  override def close(): Unit = ()
  // Decode-side counters come from the wrapped row reader.
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    rows.currentMetricsValues()
}

object GavroAggReader {
  /** Live-group cap per aggregating reader before a partial flush. */
  val MaxGroups: Int = 1 << 16
}

object GavroPartitionReader {
  /** Compiled per-row IN evaluators: values hashed once at reader
    * construction so the decode loop pays O(1) per row regardless of the
    * pushed list's length (see [[Gavro.InPushMax]]). `linear` keeps the
    * exact mixed-type compare semantics for values the hash can't cover
    * (e.g. a double column against an integral list). */
  final case class InHashStr(set: java.util.HashSet[UTF8String])
  final case class InHashLong(set: java.util.HashSet[java.lang.Long],
      linear: Seq[Any])

  /** Compiled predicate: leaves carry a resolved decode slot + prepared
    * comparison value; `CTree` is "or" | "and" | "not" over compiled
    * children. Evaluation is SQL THREE-VALUED ([[GavroPartitionReader
    * .pass]]): TRUE/FALSE/UNKNOWN as 1/0/-1 — the distinction a plain
    * boolean collapse gets wrong under OR and NOT (`a = 5 OR b = 3` with
    * a NULL must still be TRUE when b = 3; `NOT(a = 5)` with a NULL must
    * NOT become TRUE). */
  sealed trait CPred
  final case class CLeaf(slot: Int, op: String, w: Any) extends CPred
  final case class CTree(op: String, kids: Array[CPred]) extends CPred

  /** TOP-LEVEL-ONLY compiled form of the slot-scoped probe disjunction
    * `(part = s1 AND key IN K1) OR (part = s2 AND key IN K2) OR …`
    * (the shape [[graft.ops.LshIndex]] pushes): ONE hash probe on the
    * partition column's value dispatches to that branch's hashed key
    * set — O(1) per row instead of the generic Or-walk's O(branches)
    * leaf evals. Duplicate partition values merge their key sets
    * (`(s=v AND k∈A) OR (s=v AND k∈B)` ≡ `s=v AND k∈(A∪B)`).
    *
    * Soundness is TOP-LEVEL-ONLY: the dispatch returns FALSE where the
    * generic tree returns UNKNOWN (null part/key, absent slot, type
    * drift). At the top of the pushed conjunction FALSE and UNKNOWN both
    * drop the row — identical outcomes — but under a NOT they differ,
    * so [[GavroPartitionReader]] applies this rewrite only to preds that
    * ARE a whole pushed conjunct, never to subtrees. */
  final case class CSlotMap(partIdx: Int, keyIdx: Int,
      map: java.util.HashMap[java.lang.Long, java.util.HashSet[UTF8String]])
    extends CPred

  // Evaluation lives on the companion: it is a pure function of
  // (compiled pred, row), and the spec-side eval microbenchmark drives
  // it directly to compare compiled forms on identical rows.
  // Linear IN fallback: any listed value equal under the same compare
  // rules the comparison ops use (exact double semantics preserved).
  private def inLinear(v: Any, els: Seq[Any]): Boolean = els.exists { el =>
    (v, el) match {
      case (a: Int, b: Number) => a.toLong == b.longValue
      case (a: Long, b: Number) => a == b.longValue
      case (a: Double, b: Number) =>
        Gavro.compareSparkDoubles(a, b.doubleValue) == 0
      case (a: Boolean, b: Boolean) => a == b
      case (a: UTF8String, b: UTF8String) => a == b
      case _ => false
    }
  }

  // SQL THREE-VALUED evaluation: 1 = TRUE, 0 = FALSE, -1 = UNKNOWN. At
  // the TOP level (a conjunction) FALSE and UNKNOWN both drop the row —
  // exactly what the FilterExec this pushdown replaced would have done;
  // PERMISSIVE all-null rows survive only null-tests, same as with
  // spark-avro + a WHERE clause. INSIDE a tree the distinction is
  // load-bearing: OR treats UNKNOWN as "maybe" (TRUE wins over it), NOT
  // maps UNKNOWN to UNKNOWN (never to TRUE).
  private def b(x: Boolean): Byte = if (x) 1 else 0
  private[graft] def evalLeaf(slot: Int, op: String, w: Any, r: InternalRow): Byte = {
    val v = if (r.isNullAt(slot)) null
      else r.get(slot, null) // GenericInternalRow ignores the type arg
    op match {
      case "isnull" => b(v == null)
      case "notnull" => b(v != null)
      // <=> is SQL's one null-definite comparison: NULL operand = FALSE,
      // never UNKNOWN (the literal is non-null by the builder's gate).
      case "<=>" =>
        if (v == null) 0
        else cmpVals(v, w) match {
          // Type drift: UNKNOWN, same as every other comparison — a FALSE
          // here would flip to TRUE under NOT and admit the row.
          // Unreachable for well-typed plans (the builder gates
          // column/literal types), kept consistent anyway.
          case CmpDrift => -1
          case c => b(c == 0)
        }
      case _ if v == null => -1
      case "in" => w match {
        case InHashStr(set) => v match {
          case a: UTF8String => b(set.contains(a))
          case _ => 0 // non-string value vs string list: no match
        }
        case InHashLong(set, linear) => v match {
          case a: Int => b(set.contains(a.toLong))
          case a: Long => b(set.contains(a))
          case _ => b(inLinear(v, linear)) // e.g. double column, int list
        }
        case linear: Seq[_] => b(inLinear(v, linear.asInstanceOf[Seq[Any]]))
        case _ => 0
      }
      // String predicates: UTF8String's binary ops match Spark's exact
      // semantics (a UTF-8 byte prefix IS a string prefix).
      case "starts" => (v, w) match {
        case (a: UTF8String, p: UTF8String) => b(a.startsWith(p))
        case _ => -1
      }
      case "ends" => (v, w) match {
        case (a: UTF8String, p: UTF8String) => b(a.endsWith(p))
        case _ => -1
      }
      case "contains" => (v, w) match {
        case (a: UTF8String, p: UTF8String) => b(a.contains(p))
        case _ => -1
      }
      case _ =>
        cmpVals(v, w) match {
          // Type drift (impossible for a well-typed plan): UNKNOWN — the
          // most conservative verdict at top level AND under NOT.
          case CmpDrift => -1
          case c => op match {
            case "=" => b(c == 0)
            case ">" => b(c > 0)
            case ">=" => b(c >= 0)
            case "<" => b(c < 0)
            case "<=" => b(c <= 0)
          }
        }
    }
  }
  private final val CmpDrift = Int.MinValue
  private def cmpVals(v: Any, w: Any): Int = (v, w) match {
    case (a: Int, b: Number) => java.lang.Long.compare(a.toLong, b.longValue)
    case (a: Long, b: Number) => java.lang.Long.compare(a, b.longValue)
    case (a: Double, b: Number) =>
      Gavro.compareSparkDoubles(a, b.doubleValue)
    case (a: Boolean, b: Boolean) => java.lang.Boolean.compare(a, b)
    case (a: UTF8String, b: UTF8String) =>
      Integer.signum(a.compareTo(b)) // signum: keep CmpDrift unreachable
    case _ => CmpDrift
  }
  private[graft] def evalPred(c: CPred, r: InternalRow): Byte =
    c match {
      case CLeaf(slot, op, w) => evalLeaf(slot, op, w, r)
      // Slot-map dispatch: two hash probes replace the O(branches)
      // Or-walk. FALSE stands in for UNKNOWN — sound because this form
      // is only compiled for a WHOLE top-level conjunct (see CSlotMap).
      case CSlotMap(pi, ki, m) =>
        if (r.isNullAt(pi) || r.isNullAt(ki)) 0
        else {
          val set = r.get(pi, null) match {
            case i: java.lang.Integer => m.get(java.lang.Long.valueOf(i.longValue))
            case l: java.lang.Long => m.get(l)
            case _ => null // type drift: no branch can be TRUE
          }
          val kv = r.get(ki, null)
          if (set != null && kv.isInstanceOf[UTF8String] &&
              set.contains(kv.asInstanceOf[UTF8String])) 1 else 0
        }
      case CTree("or", kids) =>
        var unknown = false
        var i = 0
        while (i < kids.length) {
          evalPred(kids(i), r) match {
            case 1 => return 1
            case -1 => unknown = true
            case _ => ()
          }
          i += 1
        }
        if (unknown) -1 else 0
      case CTree("and", kids) =>
        var unknown = false
        var i = 0
        while (i < kids.length) {
          evalPred(kids(i), r) match {
            case 0 => return 0
            case -1 => unknown = true
            case _ => ()
          }
          i += 1
        }
        if (unknown) -1 else 1
      case CTree(_, kids) => // "not"
        evalPred(kids(0), r) match {
          case 1 => 0
          case 0 => 1
          case _ => -1
        }
    }
}

class GavroPartitionReader(part: GavroInputPartition, schemaName: String,
    requiredNames: Array[String], preds: Array[GavroPred], limit: Int,
    readerJson: Option[String] = None)
    extends PartitionReader[InternalRow] {
  private var emitted = 0
  // Wire walking follows the WRITER schema; row shape and required
  // columns follow the READER. Without a readerSchema option the two
  // coincide and the resolve plan is the identity.
  private val writer = AvroCodec.schemaByName(schemaName)
  private val reader = readerJson.map(AvroCodec.parseSchema).getOrElse(writer)
  private val plan = AvroCodec.resolvePlan(writer, reader)
  private val readerNullable = AvroCodec.nullableFlags(reader)
  // Decode target = required columns, then any filter-only columns appended
  // after them — evaluated, never emitted.
  private val extNames: Array[String] =
    requiredNames ++ preds.flatMap(GavroPred.columns)
      .distinct.filterNot(requiredNames.contains)
  private val target: Array[Int] =
    reader.fields.map(f => extNames.indexOf(f.name)).toArray
  // Pre-resolve each leaf to (slot, op, comparison value); string
  // literals become UTF8String ONCE so the per-row compare is binary
  // UTF-8 order (Spark's string ordering) with zero allocation. IN lists
  // of strings / integral types hash into a set ONCE — with the pushdown
  // cap at [[Gavro.InPushMax]] a linear per-row scan would multiply the
  // decode loop by the list length. Tree nodes keep their children as
  // arrays so the per-row eval loops (no per-row allocation).
  private def conv(x: Any): Any = x match {
    case s: String => UTF8String.fromString(s)
    case other => other
  }
  private def prep(vs: Seq[Any]): Any = vs.headOption match {
    case Some(_: String) if vs.forall(_.isInstanceOf[String]) =>
      val set = new java.util.HashSet[UTF8String](vs.length * 2)
      vs.foreach(s => set.add(UTF8String.fromString(s.asInstanceOf[String])))
      GavroPartitionReader.InHashStr(set)
    case Some(_: Int | _: Long)
        if vs.forall(v => v.isInstanceOf[Int] || v.isInstanceOf[Long]) =>
      val set = new java.util.HashSet[java.lang.Long](vs.length * 2)
      vs.foreach(v => set.add(v.asInstanceOf[Number].longValue))
      GavroPartitionReader.InHashLong(set, vs.map(conv))
    case _ => vs.map(conv) // doubles/booleans/mixed: linear, exact semantics
  }
  private def compile(p: GavroPred): GavroPartitionReader.CPred = p.op match {
    case "or" | "and" => GavroPartitionReader.CTree(p.op,
      p.value.asInstanceOf[Vector[GavroPred]].map(compile).toArray)
    case "not" => GavroPartitionReader.CTree("not",
      Array(compile(p.value.asInstanceOf[GavroPred])))
    case _ =>
      val v = p.value match {
        case GavroSortedVals(vs) => prep(vs)
        case vs: Seq[_] => prep(vs.asInstanceOf[Seq[Any]])
        case other => conv(other)
      }
      GavroPartitionReader.CLeaf(extNames.indexOf(p.name), p.op, v)
  }
  /** Detect the slot-scoped probe shape on a WHOLE pushed conjunct and
    * compile it to [[GavroPartitionReader.CSlotMap]] (see its scaladoc
    * for the shape and the top-level-only soundness argument). Every
    * branch must be `intCol = lit AND strCol IN (strings)` over the SAME
    * two distinct columns; anything else falls back to the generic tree
    * compile, bit-for-bit unchanged. */
  private def toSlotMap(p: GavroPred): Option[GavroPartitionReader.CSlotMap] =
    p match {
      case GavroPred(_, "or", branches: Vector[GavroPred] @unchecked)
          if branches.length >= 2 =>
        val m = new java.util.HashMap[java.lang.Long,
          java.util.HashSet[UTF8String]](branches.length * 2)
        var eqCol: String = null
        var inCol: String = null
        val ok = branches.forall {
          case GavroPred(_, "and", kids: Vector[GavroPred] @unchecked)
              if kids.length == 2 =>
            (kids.find(_.op == "="), kids.find(_.op == "in")) match {
              case (Some(eq), Some(in)) =>
                val part: Option[Long] = eq.value match {
                  case i: Int => Some(i.toLong)
                  case l: Long => Some(l)
                  case _ => None
                }
                val keys: Option[Seq[String]] = (in.value match {
                  case GavroSortedVals(vs) => vs
                  case vs: Seq[_] => vs
                  case _ => Seq(new Object)
                }) match {
                  case vs if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
                    Some(vs.asInstanceOf[Seq[String]])
                  case _ => None
                }
                val colsOk = eq.name != in.name &&
                  (eqCol == null || eqCol == eq.name) &&
                  (inCol == null || inCol == in.name)
                (part, keys) match {
                  case (Some(s), Some(ks)) if colsOk =>
                    eqCol = eq.name; inCol = in.name
                    val set = m.computeIfAbsent(s,
                      _ => new java.util.HashSet[UTF8String](ks.length * 2))
                    ks.foreach(k => set.add(UTF8String.fromString(k)))
                    true
                  case _ => false
                }
              case _ => false
            }
          case _ => false
        }
        if (ok) {
          Gavro.noteSlotMapCompile()
          Some(GavroPartitionReader.CSlotMap(
            extNames.indexOf(eqCol), extNames.indexOf(inCol), m))
        } else None
      case _ => None
    }
  private val compiled: Array[GavroPartitionReader.CPred] =
    preds.map(p => toSlotMap(p).getOrElse(compile(p)))
  // Only this task's block range is read — a range read against local FS
  // here, a positioned Hadoop FS read at scale. Block bounds are
  // record-aligned by the footer contract, so the slice starts at a length
  // prefix and ends exactly at one; a compressed block inflates to exactly
  // the record stream (per-block compression keeps the block the unit of
  // both splitting AND decompression, the parquet row-group design point).
  // Packed multi-block range: uncompressed blocks are contiguous record
  // streams, so ONE positioned read covers them all (a single segment); a
  // per-block codec keeps the block as the decompression unit, so packed
  // compressed tasks decode SEGMENT BY SEGMENT on demand — per-task peak
  // memory stays ~one decoded block instead of the whole pack target ×
  // compression ratio, and no total decoded length is ever materialized
  // (the previous concatenation summed segment lengths into an Int, which
  // could overflow past 2 GB on highly compressible packed data).
  private val file = new java.io.File(part.file)
  private val fileLen: Long = {
    Gavro.noteFileOpen(part.file, part.inner.length + 1L)
    Gavro.dataStore.length(file)
  }
  private val segStarts: Array[Long] =
    if (part.inner.isEmpty || part.codec == 0) Array(part.start)
    else (part.start +: part.inner).toArray
  private val segEnds: Array[Long] =
    if (part.inner.isEmpty || part.codec == 0) Array(part.end)
    else (part.inner :+ part.end).toArray
  private def readSegment(i: Int): Array[Byte] = {
    val s = segStarts(i)
    val e = math.min(segEnds(i), fileLen)
    if (e <= s) Array.emptyByteArray
    else Gavro.decompress(part.codec,
      Gavro.dataStore.readRange(file, s, (e - s).toInt))
  }
  private var segIdx = 0
  private var bytes: Array[Byte] = readSegment(0)
  private var pos = 0
  private var row: InternalRow = _

  private def pass(r: InternalRow): Boolean = {
    var i = 0
    while (i < compiled.length) {
      if (GavroPartitionReader.evalPred(compiled(i), r) != 1) return false
      i += 1
    }
    true
  }

  /** Project the extended decode row down to the required prefix. */
  private def emit(r: InternalRow): InternalRow =
    if (extNames.length == requiredNames.length) r
    else {
      val out = new Array[Any](requiredNames.length)
      var i = 0
      while (i < out.length) { out(i) = r.get(i, null); i += 1 }
      new GenericInternalRow(out)
    }

  private var nRecords = 0L
  private var nCorrupt = 0L

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (true) {
      while (pos + 4 <= bytes.length) {
        val n = ((bytes(pos) & 0xFF) << 24) | ((bytes(pos + 1) & 0xFF) << 16) |
          ((bytes(pos + 2) & 0xFF) << 8) | (bytes(pos + 3) & 0xFF)
        pos += 4
        if (n < 0 || pos + n > bytes.length) return false // truncated tail: stop
        val body = java.util.Arrays.copyOfRange(bytes, pos, pos + n)
        pos += n
        val decoded = AvroCodec.decodeResolvedProjected(plan, body, target,
          extNames.length, readerNullable)
        nRecords += 1
        if (decoded == null) nCorrupt += 1
        // PERMISSIVE: undecodable body → all-null row, count preserved
        // (modulo pushed filters, which see the nulls like any WHERE would).
        val ext = if (decoded != null) decoded
          else new GenericInternalRow(extNames.length)
        if (pass(ext)) { row = emit(ext); emitted += 1; return true }
      }
      // Segment drained. Blocks are record-aligned, so a well-formed
      // segment ends exactly at a record boundary; trailing garbage
      // stops the task like the truncated-tail case above.
      if (pos != bytes.length) return false
      segIdx += 1
      if (segIdx >= segStarts.length) return false
      bytes = readSegment(segIdx)
      pos = 0
    }
    false
  }
  override def get(): InternalRow = row
  override def close(): Unit = ()
  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    GavroMetrics.Task("gavroRecords", nRecords),
    GavroMetrics.Task("gavroCorrupt", nCorrupt))
}

/** Write path + registered query for the `gavro` source. */
object Gavro {

  /** Default split-block size for the archiver: small enough that even a
    * single landing file fans out, large enough that a task amortizes its
    * open. With a block codec this is the UNCOMPRESSED payload per block —
    * the split/skip granularity contract is about decoded work per task,
    * not disk bytes. */
  val DefaultBlockBytes: Long = 1L << 20

  /** Effective cost of opening one more gavro read task, in bytes of
    * equivalent scan work — the open-cost term of the split-packing
    * formula ([[GavroScan]]): one positioned range read, footer already
    * parsed at planning. 64 KiB ≈ hundreds of times the real open
    * latency on the local data store; deliberately far below Spark's
    * 4 MB remote-open default so small hot tables keep their fan-out
    * (see the formula's scaladoc for the measured 2× consequence of the
    * 4 MB value). */
  val GavroOpenCostBytes: Long = 64L << 10

  /** Pushable IN-list cap. The historical 64 guarded two linear costs:
    * the per-file/per-block skip proof and the per-row eval. Both are now
    * sublinear for homogeneous lists — [[GavroSortedVals]] makes the proof
    * a binary search, the reader hashes the values once — so the cap only
    * bounds the serialized predicate riding to every task (~32 KB of
    * md5-key strings at 1024). A probe whose key list exceeds this falls
    * back to whatever coarser pushdown the caller keeps (slot lists, range
    * floors); it never errors. */
  val InPushMax: Int = 1024

  /** Max LEAVES in one pushed predicate TREE (Or/And/Not). Each leaf is
    * one stats lookup per file/block proof and one slot eval per row —
    * linear, cheap — but an IN inside a tree multiplies by its own list,
    * so the caps compose multiplicatively in the worst case. 128 covers
    * every hand-written disjunction AND the LSH probe's slot-scoped key
    * push (`(slot = s AND band_key IN …) OR …` — 2 leaves × 48 slots =
    * 96, the shape that restores block skipping for mid-size probes)
    * while keeping the serialized pred and the per-row worst case
    * bounded. Past the cap the filter simply stays with Spark as a
    * FilterExec (correct, just unpushed). */
  val TreeLeafMax: Int = 128

  /** Commit-manifest directory name inside a gavro table path. */
  val CommitsDir = "_graft_commits"

  /** Spark SQL's double ordering (SQLOrderingUtil.compareDoubles):
    * primitive == first so -0.0 = 0.0, then Double.compare so NaN = NaN
    * and NaN sorts GREATEST. Every comparison this source makes on
    * double values — reader filters, footer-stat folds, file skipping,
    * pushed min/max — must route through here so pushed and unpushed
    * plans can never diverge on ±0.0 or NaN. */
  def compareSparkDoubles(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Strict less-than under [[compareSparkDoubles]]. */
  def sparkDoubleLt(a: Double, b: Double): Boolean =
    compareSparkDoubles(a, b) < 0

  /** The coordination-plane storage primitives (put-if-absent, atomic
    * replace, staleness/grace clock, listing) behind the [[GavroStore]]
    * contract — every maintenance path below routes through this, so an
    * object-store port is a new implementation passing the contract
    * spec, not a protocol rewrite. */
  def store: GavroStore = _store

  /** The DATA plane — task-side part-file writes, footer parses,
    * block-range scan reads, the optimize section copy — behind the
    * companion [[GavroDataStore]] contract. Together the two seams cover
    * the WHOLE format: a deployment swaps coordination (conditional-PUT
    * client) and data (Hadoop FileSystem / ranged GETs) independently. */
  def dataStore: GavroDataStore = _dataStore

  // Resolved through defs (never captured in task closures), so the
  // JVM-local current implementation is looked up at call time — in
  // local mode a test's swap is visible task-side; on a cluster each
  // executor resolves its own configured implementation.
  @volatile private var _store: GavroStore = LocalFsStore
  @volatile private var _dataStore: GavroDataStore = LocalFsDataStore

  /** LOCAL-MODE test seam: while installed by [[trackFileOpens]], every
    * data-file open by a [[GavroPartitionReader]] records its path here.
    * Readers run task-side, so this observes opens only when tasks share
    * the driver JVM (local[n]) — exactly the spec harness that asserts
    * file-level pruning ("a probe opens ≪ the table's files"); on a real
    * cluster the same information is the scan's task count in the UI. */
  private val openTap =
    new java.util.concurrent.atomic.AtomicReference[java.util.Set[String]](null)

  private[sources] def noteFileOpen(path: String, blocks: Long = 1L): Unit = {
    val s = openTap.get()
    if (s != null) { s.add(path); () }
    val b = blockTap.get()
    if (b != null) {
      b.computeIfAbsent(path, _ => new java.util.concurrent.atomic.LongAdder)
        .add(blocks)
    }
  }

  private val blockTap = new java.util.concurrent.atomic.AtomicReference[
    java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.LongAdder]](null)

  /** Like [[trackFileOpens]] but counting BLOCK reads per file (each
    * reader instantiation adds its partition's block count, so packed
    * multi-block tasks report the same totals as block-per-task plans):
    * the in-file pruning the file-level set is blind to — a scan that
    * opens every file can still be skipping most of each file's blocks,
    * and at 100 TB that block ratio IS the I/O story. Not reentrant;
    * test/smoke-only. */
  private[graft] def trackBlockReads[A](body: => A): (A, Map[String, Long]) = {
    val m = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.LongAdder]()
    blockTap.set(m)
    try {
      val a = body
      (a, scala.jdk.CollectionConverters.MapHasAsScala(m).asScala
        .map { case (k, v) => k -> v.sum() }.toMap)
    } finally blockTap.set(null)
  }

  /** Total footer-indexed blocks across a table's current data files —
    * the denominator for [[trackBlockReads]] ratios. Positive-extent
    * blocks only ([[GavroSkip.liveBlocks]]), matching the scan's
    * gavroBlocksTotal driver metric. */
  private[graft] def totalBlocks(dir: String): Long =
    listDataFiles(dir).map(f => GavroSkip.liveBlocks(GavroFooter.read(f))).sum

  /** LOCAL-MODE test seam: while installed by [[trackSlotMapCompiles]],
    * every reader that compiles a pushed disjunction into the
    * [[GavroPartitionReader.CSlotMap]] hash-dispatch form counts here —
    * the spec-side proof that the probe's fast path actually engaged
    * (result equality alone can't distinguish it from the generic walk). */
  private val slotMapTap = new java.util.concurrent.atomic.AtomicReference[
    java.util.concurrent.atomic.LongAdder](null)

  private[sources] def noteSlotMapCompile(): Unit = {
    val t = slotMapTap.get()
    if (t != null) t.increment()
  }

  private[graft] def trackSlotMapCompiles[A](body: => A): (A, Long) = {
    val t = new java.util.concurrent.atomic.LongAdder
    slotMapTap.set(t)
    try { val a = body; (a, t.sum()) } finally slotMapTap.set(null)
  }

  /** Run `body` and return it with the set of distinct data-file paths
    * opened by gavro readers during it. Not reentrant; test-only. */
  private[graft] def trackFileOpens[A](body: => A): (A, Set[String]) = {
    val s = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    openTap.set(s)
    try {
      val a = body
      (a, scala.jdk.CollectionConverters.SetHasAsScala(s).asScala.toSet)
    } finally openTap.set(null)
  }

  /** Swap BOTH storage planes for the duration of `body` (test seam —
    * the InMemory round-trip proving the whole format is portable runs
    * under this). Not thread-safe against concurrent swaps; test suites
    * in this repo run sequentially in the forked JVM. */
  private[graft] def withStores[A](coord: GavroStore,
      data: GavroDataStore)(body: => A): A = {
    val (s0, d0) = (_store, _dataStore)
    _store = coord; _dataStore = data
    try body finally { _store = s0; _dataStore = d0 }
  }

  /** Auto-checkpoint cadence: after this many commit records accumulate
    * past the latest checkpoint, the committer folds them into one
    * checkpoint file so readers list O(1) checkpoints + a bounded tail
    * instead of O(commits) records — the Delta-log compaction story at
    * landing-zone scale (an archiver appending every 10 s lands ~8.6k
    * records/day; without compaction every reader lists and reads them
    * all). */
  val CheckpointInterval = 10

  private def logEntries(commits: java.io.File, suffix: String): Array[java.io.File] =
    store.list(commits)
      .filter(_.getName.endsWith(suffix)).sortBy(_.getName).toArray

  private def readNames(f: java.io.File): Seq[String] = store.read(f)

  /** Resolve the committed file-name set as of commit `cut` (None =
    * latest): base = newest checkpoint at-or-before the cut, plus the
    * tail of commit records after it. Log entry names are a single
    * zero-padded monotone sequence shared by every writer and maintenance
    * swap (`<seq>-b` records, `<seq>-o`/`<seq>-r` checkpoints), so
    * lexicographic order IS commit order. Time travel below the compaction
    * horizon (records
    * folded into a checkpoint and then vacuumed by [[compactLog]]) is an
    * explicit error, never a silently-wrong snapshot. */
  private[sources] def committedNames(path: String,
      asOfCommit: Option[String]): Set[String] = {
    val commits = new java.io.File(path, CommitsDir)
    val cps = logEntries(commits, ".checkpoint")
    val base = cps.filter(f => asOfCommit.forall(
      cut => f.getName.stripSuffix(".checkpoint") <= cut)).lastOption
    val baseName = base.map(_.getName.stripSuffix(".checkpoint"))
    val tail = logEntries(commits, ".commit")
      .filter { f =>
        val n = f.getName.stripSuffix(".commit")
        baseName.forall(n > _) && asOfCommit.forall(n <= _)
      }
    if (asOfCommit.isDefined && base.isEmpty && cps.nonEmpty && tail.isEmpty)
      throw new IllegalArgumentException(
        s"gavro: asOfCommit ${asOfCommit.get} predates the compaction " +
          s"horizon ${cps.head.getName.stripSuffix(".checkpoint")} at $path")
    // Coverage check BETWEEN checkpoints: compactLog deletes every record
    // <= the latest checkpoint, so a cut strictly below it is trustworthy
    // only when the log still holds an entry named exactly at the cut (a
    // checkpoint base, or a surviving record — records below the latest
    // checkpoint survive iff compaction hasn't run since). Otherwise the
    // records in (base, cut] may have been folded away and the snapshot
    // would silently collapse to the older checkpoint — the documented
    // contract is an explicit error, never a silently-wrong snapshot.
    asOfCommit.foreach { cut =>
      val latestCp = cps.lastOption.map(_.getName.stripSuffix(".checkpoint"))
      val exactEntry = baseName.contains(cut) ||
        tail.exists(_.getName.stripSuffix(".commit") == cut)
      if (latestCp.exists(cut < _) && !exactEntry)
        throw new IllegalArgumentException(
          s"gavro: asOfCommit $cut is below the latest checkpoint " +
            s"${latestCp.get} at $path and no log entry is named exactly " +
            "at the cut — the records covering it may have been compacted " +
            "away (run time travel only to surviving commit names)")
    }
    (base.toSeq ++ tail).flatMap(readNames).toSet
  }

  /** Commit records not yet folded into a checkpoint — the cheap
    * "how many appends since the last compaction" observable (two file
    * listings, no data reads). 0 for a directory without a log. Multi-
    * table artifacts whose writers append to each table in a fixed order
    * (the LSH index) use this as a torn-append tripwire: a table AHEAD of
    * a later one in the order means a crash landed between the two
    * commits. */
  def commitRecordsSinceCheckpoint(path: String): Int = {
    val commits = new java.io.File(path, CommitsDir)
    if (!store.exists(commits)) return 0
    val lastCp = logEntries(commits, ".checkpoint").lastOption
      .map(_.getName.stripSuffix(".checkpoint"))
    logEntries(commits, ".commit")
      .count(f => lastCp.forall(f.getName.stripSuffix(".commit") > _))
  }

  /** Snapshot-isolated data-file listing: when a `_graft_commits` log
    * exists, a data file is visible ONLY once some commit record names it
    * — so a reader never observes a torn multi-file publish (the batch
    * committer renames N temp files, then lands ONE commit record; record
    * creation is the atomic visibility point). Without the log (legacy
    * dirs, hand-placed files) the directory listing is the truth, as
    * before. This is the object-store reality at 100 TB: there is no
    * atomic multi-file rename, so visibility must ride a single-object
    * write — the same design point as Delta/Iceberg commit logs, scaled
    * to the landing-zone need.
    */
  def listDataFiles(path: String,
      asOfCommit: Option[String] = None,
      sinceCommit: Option[String] = None): Array[java.io.File] = {
    val d = new java.io.File(path)
    val all = dataStore.list(d)
      .filter(_.getName.endsWith(".gavro")).toArray
    val commits = new java.io.File(d, CommitsDir)
    val visible =
      if (!commits.isDirectory) {
        require(asOfCommit.isEmpty && sinceCommit.isEmpty,
          s"gavro: asOfCommit/sinceCommit require a $CommitsDir log at $path")
        all
      } else {
        // CHANGE FEED: `sinceCommit` excludes everything already visible
        // at that commit, so (sinceCommit, asOfCommit] reads exactly the
        // delta an incremental batch pipeline needs — "process only what
        // landed since my last run" without a streaming checkpoint. The
        // log is append-only (truncate clears it entirely), so the
        // exclusion is a strict subset and both cuts ride the same
        // compaction-horizon guards as time travel.
        val committed = committedNames(path, asOfCommit)
        val excluded = sinceCommit
          .map(c => committedNames(path, Some(c))).getOrElse(Set.empty[String])
        all.filter(f => committed.contains(f.getName) && !excluded(f.getName))
      }
    visible.sortBy(_.getName)
  }

  /** Land one commit record making `files` visible; `name` must be unique
    * per commit (monotone: [[commitBatch]] allocates it). Public: an
    * external archiver that places files by other means uses this as its
    * visibility point.
    *
    * Upgrade safety: when this is the FIRST log entry in a directory that
    * already holds data files (a legacy listing-truth dir being appended
    * to), those pre-existing files are adopted into the record — the log
    * becoming the source of truth must not shrink the visible set, and a
    * later vacuum must not reap them as orphans. */
  def writeCommit(path: String, name: String, files: Seq[String]): Unit = {
    val dir = new java.io.File(path, CommitsDir)
    dir.mkdirs()
    val firstEntry = logEntries(dir, ".commit").isEmpty &&
      logEntries(dir, ".checkpoint").isEmpty
    val adopted =
      if (!firstEntry) Seq.empty
      else {
        val fresh = files.toSet
        store.list(new java.io.File(path))
          .map(_.getName).filter(n => n.endsWith(".gavro") && !fresh(n))
          .sorted
      }
    // File names land verbatim in the newline-separated commit records and
    // checkpoints — a newline (or any other control byte) would corrupt
    // that encoding. Reject at the visibility point (adopted legacy names
    // included) rather than escape. A nonconforming ADOPTED name is an
    // upgrade problem, not a writer bug, so it gets its own migration
    // message: the pre-log archive worked under listing-truth and
    // hard-fails only on its first commit — tell the operator what to
    // rename rather than implying their new writer is broken.
    files.foreach(f => require(f.matches("[A-Za-z0-9._-]+"),
      s"gavro: illegal data-file name '$f' (allowed: [A-Za-z0-9._-])"))
    adopted.foreach(f => require(f.matches("[A-Za-z0-9._-]+"),
      s"gavro: pre-existing data file '$f' cannot be adopted into the " +
        "commit log — its name falls outside [A-Za-z0-9._-], which the " +
        "log's record encoding requires. Rename the " +
        "legacy file (content is untouched by renaming; it predates the " +
        "log) before the first logged commit to this directory."))
    val dst = new java.io.File(dir, s"$name.commit")
    // Optimistic concurrency: a commit record lands PUT-IF-ABSENT, so two
    // writers that raced to the same sequence number cannot silently
    // replace each other's record (the loser's files would become
    // invisible and a later vacuum() would reap them). The loser sees
    // FileAlreadyExistsException and the allocate-retry loop
    // ([[commitBatch]]) re-reads the log and takes the next sequence. (How
    // these primitives are realized — POSIX hard link here, conditional
    // PUT on an object store — is the [[GavroStore]] contract's business,
    // not this protocol's.)
    store.putIfAbsent(dst, (adopted ++ files).mkString("\n"))
    // Post-land validation: if a checkpoint NEWER than this record's name
    // landed while we were writing (an optimize swap, or another writer's
    // fold that didn't see us), the record sits below the base and is
    // invisible — retract it and signal the caller's allocate-retry loop
    // to take a fresh sequence above the checkpoint. Without this, a
    // writer that allocated its sequence just before a swap could land a
    // successfully-written-but-forever-invisible commit. (A checkpoint
    // named exactly at this record is fine: it summarizes it.)
    if (logEntries(dir, ".checkpoint")
          .exists(_.getName.stripSuffix(".checkpoint") > name)) {
      store.delete(dst)
      throw new java.nio.file.FileAlreadyExistsException(dst.toString, null,
        "a newer checkpoint landed during the write; retry above it")
    }
    maybeCheckpoint(path)
  }

  /** Allocate-and-land a batch commit record under optimistic concurrency:
    * read the next shared sequence, attempt the put-if-absent record, and
    * on collision (another writer landed that sequence first) re-read the
    * log and retry with the next one. Returns the landed record name. */
  def commitBatch(path: String, files: Seq[String]): String = {
    var attempt = 0
    while (true) {
      val name = f"${nextCommitSeq(path)}%010d-b"
      try { writeCommit(path, name, files); return name }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          attempt += 1
          if (attempt > 1000) throw new java.io.IOException(
            s"gavro: commit contention at $path — $attempt collisions")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Fold every commit record at-or-before the latest one into a single
    * checkpoint file once `CheckpointInterval` records accumulate past
    * the previous checkpoint. Readers then resolve snapshots from the
    * checkpoint + the record tail; superseded records stay on disk for
    * time travel until [[compactLog]] reclaims them. */
  private def maybeCheckpoint(path: String): Unit = {
    val dir = new java.io.File(path, CommitsDir)
    val lastCp = logEntries(dir, ".checkpoint").lastOption
      .map(_.getName.stripSuffix(".checkpoint"))
    val tail = logEntries(dir, ".commit")
      .map(_.getName.stripSuffix(".commit"))
      .filter(n => lastCp.forall(n > _))
    if (tail.length >= CheckpointInterval) checkpoint(path)
  }

  /** Write a checkpoint summarizing the live set as of the newest commit
    * record (no-op on an empty log). Returns the checkpoint name. */
  def checkpoint(path: String): Option[String] = {
    val dir = new java.io.File(path, CommitsDir)
    // Never advance the base while a LIVE maintenance run is retiring:
    // its fold loop and this one would race each other's read-replace.
    // Records simply accumulate; the next checkpoint catches up.
    val lock = optimizeLock(path)
    if (store.exists(lock) &&
        System.currentTimeMillis() - store.mtime(lock) <
        OptimizeLockStaleMs) return None
    logEntries(dir, ".commit").lastOption.map { last =>
      val asOf = last.getName.stripSuffix(".commit")
      val live = committedNames(path, Some(asOf)).toSeq.sorted
      val dst = new java.io.File(dir, s"$asOf.checkpoint")
      // Two writers checkpointing the same asOf write identical content,
      // so atomic replace (no delete+rename missing-record window) is the
      // safe idempotent landing.
      store.atomicReplace(dst, live.mkString("\n"))
      // Fold-verify: a record that landed between the content snapshot
      // and the move sits at-or-below the new base — fold it in so it
      // can never be hidden (the base-advancing twin of writeCommit's
      // post-land retract; the two together close the window from both
      // sides regardless of interleaving).
      foldBelow(path, asOf)
      asOf
    }
  }

  /** Fold any record at-or-below `upTo` whose names (minus `exclude`)
    * are missing from the LATEST checkpoint into it, looping to a fixed
    * point. The precondition for every step that hides or deletes
    * records: nothing is retired or shadowed unfolded. Folds into the
    * latest checkpoint — not a caller-remembered one — because readers
    * resolve from the latest base; folding anywhere else is invisible. */
  private def foldBelow(path: String, upTo: String,
      exclude0: Set[String] = Set.empty): Unit = {
    val dir = new java.io.File(path, CommitsDir)
    var attempts = 0
    var stable = false
    while (!stable) {
      // Names absorbed by any in-flight/crashed optimize (its `.retire`
      // sidecar) must NEVER be folded back — their bytes live in the
      // merged output, and resurrecting them double-counts every record.
      // Re-read EVERY iteration: a sidecar can land mid-loop.
      val exclude = exclude0 ++
        logEntries(dir, ".retire").flatMap(readNames)
      attempts += 1
      if (attempts > 1000) throw new java.io.IOException(
        s"gavro: checkpoint fold cannot reach a fixed point at $path")
      val latest = logEntries(dir, ".checkpoint").lastOption.getOrElse(
        throw new IllegalStateException(
          s"gavro: fold requires a checkpoint at $path"))
      val content = readNames(latest).toSet
      val missing = logEntries(dir, ".commit")
        .filter(_.getName.stripSuffix(".commit") <= upTo)
        .flatMap(readNames).toSet -- exclude -- content
      if (missing.isEmpty) stable = true
      else store.atomicReplace(latest,
        (content ++ missing).toSeq.sorted.mkString("\n"))
    }
  }

  /** Retire (fold-then-delete, verified) every record at-or-below
    * `upTo`: each pass folds uncovered names into the latest checkpoint,
    * re-reads it, and deletes only records whose content it verified
    * covered — never a blind list-then-delete, so a record landing at
    * any point is either folded first or survives to the next pass.
    * Returns the deleted record file names. */
  private def retireRecords(path: String, upTo: String,
      exclude: Set[String] = Set.empty): Seq[String] = {
    val dir = new java.io.File(path, CommitsDir)
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      if (attempts > 1000) throw new java.io.IOException(
        s"gavro: retire cannot make progress at $path " +
          "(undeletable commit records?)")
      foldBelow(path, upTo, exclude)
      val content = readNames(logEntries(dir, ".checkpoint").last).toSet
      val below = logEntries(dir, ".commit")
        .filter(_.getName.stripSuffix(".commit") <= upTo)
      val covered = below.filter(f =>
        (readNames(f).toSet -- exclude).subsetOf(content))
      covered.foreach { f =>
        if (!store.delete(f) && store.exists(f)) throw new java.io.IOException(
          s"gavro: cannot retire commit record $f")
        deleted += f.getName
      }
      done = logEntries(dir, ".commit")
        .forall(_.getName.stripSuffix(".commit") > upTo)
    }
    deleted.sorted.toSeq
  }

  /** Delete commit records superseded by the latest checkpoint (they are
    * folded into it first — verified, never blind, so a record that
    * landed concurrently is folded rather than destroyed). After this,
    * time travel to those records errors explicitly at the compaction
    * horizon. Returns deleted names. */
  def compactLog(path: String): Seq[String] = {
    val dir = new java.io.File(path, CommitsDir)
    // ACQUIRE the maintenance lock (not merely observe it): a concurrent
    // optimize starting an instant after an observation would race the
    // retire's fold loop (two concurrent fold-replace loops can drop
    // each other's folds).
    withMaintenanceLock(path) {
      // a crashed optimize leaves records whose absorbed names must NOT
      // be folded back (double-count) — heal with the sidecar's
      // exclusions before the exclusion-free retire
      healLog(path)
      val lastCp = logEntries(dir, ".checkpoint").lastOption
        .map(_.getName.stripSuffix(".checkpoint"))
        .getOrElse(throw new IllegalArgumentException(
          s"gavro: compactLog requires a checkpoint at $path (run checkpoint())"))
      retireRecords(path, lastCp)
    }
  }

  /** ATOMIC CONTENT REWRITE: replace a table's rows with `bins`' output in
    * one snapshot swap — the maintenance primitive for tables whose
    * compaction is SEMANTIC, not byte concatenation (an occupancy table
    * merging per-append rows into one row per key; a keyed layout being
    * re-exact-partitioned after appends scattered it). [[optimize]] cannot
    * do this: it copies sections raw.
    *
    * Protocol (the same crash-safe swap as optimize, under the same
    * maintenance lock): pin the current snapshot, hand its commit name to
    * `bins` (the caller MUST read the table `asOfCommit` that pin — the
    * rewrite replaces exactly what it read), stage the new rows as
    * uncommitted part files (invisible: the log is the visibility truth),
    * then land a write-ahead `.retire` sidecar naming the replaced files
    * and a checkpoint whose content is (current committed set − replaced)
    * ∪ staged — commits that LANDED DURING the rewrite survive untouched,
    * counted once (their rows were not in the pinned read, and the
    * fold-then-retire loop folds their records into the new base). Readers
    * see the old snapshot until the checkpoint lands, the new one after;
    * replaced files are retired through the vacuum grace window, never
    * yanked from an in-flight scan. A crash at any step heals via
    * [[healLog]] exactly like a crashed optimize. Returns the staged file
    * names. */
  def rewriteTable(path: String,
      bins: String => DataFrame,
      blockBytes: Long = DefaultBlockBytes,
      statCols: Seq[String] = Seq.empty,
      blockCodec: String = "none",
      bloomCols: Seq[String] = Seq.empty): Seq[String] =
    rewritePartial(path,
      (pin, committedAtPin) => (committedAtPin, bins(pin)),
      blockBytes, statCols, blockCodec, bloomCols)

  /** CLUSTERED rewrite: re-encode the table's pinned snapshot laid out
    * by `cols`, so that RANGE predicates on those columns map to a small
    * block set the footer's min/max stats can exclude. This is the
    * fourth leg of the skip stack and the quadrant the other three are
    * structurally blind to:
    *
    *   - clustered + range/point probe → file & block min/max (free);
    *   - unclustered + point probe     → per-block blooms (round 17);
    *   - unclustered + RANGE probe     → nothing until the LAYOUT
    *     changes — a block whose values span the keyspace has a
    *     [min, max] no range leaf can beat, and a bloom answers only
    *     equality. Clustering is the fix, not more metadata.
    *
    * Two strategies, chosen by `zorder`:
    *
    *   - linear (default): `repartitionByRange` on `cols` then a
    *     within-partition sort — optimal for the LEADING column (files
    *     become disjoint ranges, so file-level pruning works too),
    *     prefix-only for the rest, any stat-able type;
    *   - Z-ORDER: one codegen'd Morton key ([[graft.functions.ZOrder]])
    *     interleaves the top bits of up to 4 integral/timestamp/date
    *     columns, buying range skipping on EVERY clustered dimension
    *     independently at ~`n`-th-root resolution each — the layout for
    *     "probe by time OR by id" tables where no single sort order
    *     serves both.
    *
    * Built on [[rewriteTable]]'s swap: snapshot-pinned read, staged
    * invisible, one atomic checkpoint, crash-healed, concurrent commits
    * survive. Statistics are re-derived for the NEW layout: `cols` become
    * block-stat columns (that is the point), `statCols`/`bloomCols` add
    * further stat and bloom columns, e.g. to re-bloom a hashed key the
    * clustering displaced from write order.
    *
    * Sizing: output files target `targetFileBytes` of payload each, from
    * the pinned snapshot's real data bytes — at 100 TB the rewrite is
    * `bytes / target` range-partitioned tasks writing once, no driver
    * materialization anywhere (the sort is Spark's shuffle, the stage is
    * a `mapPartitions` write, and the swap moves names, not bytes). */
  def clusterTable(spark: SparkSession, path: String, schemaName: String,
      cols: Seq[String], zorder: Boolean = false,
      blockBytes: Long = DefaultBlockBytes,
      targetFileBytes: Long = OptimizeTargetBytes,
      blockCodec: String = "none",
      statCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Seq[String] = {
    require(cols.nonEmpty, "gavro clusterTable: at least one cluster column")
    rewriteTable(path, pin => {
      val df = spark.read.format("gavro").option("schema", schemaName)
        .option("asOfCommit", pin).load(path)
      val bytes = listDataFiles(path, Some(pin))
        .map(f => GavroFooter.read(f).dataEnd).sum
      clusterPlan(df, schemaName, cols, zorder, bytes, targetFileBytes,
        statCols, bloomCols)
    }, blockBytes, statCols = (cols ++ statCols).distinct, blockCodec,
      bloomCols = bloomCols)
  }

  /** [[clusterTable]]'s INCREMENTAL form — the 100 TB cadence: cluster
    * only what landed since the last clustered GENERATION, not the
    * corpus. The previous cluster (or semantic rewrite) swap checkpoint
    * (`…-r`) marks the generation boundary; the files committed after it
    * are exactly the unclustered debt, read through the change feed
    * (`sinceCommit` = that checkpoint) and re-laid-out into a NEW
    * generation of clustered files. Untouched generations keep their
    * names and bytes; probes then see range-tight blocks in EVERY
    * generation, so block admission stays a minority while the rewrite
    * cost scales with the day's appends. No debt = no-op.
    *
    * Falls back to a FULL [[clusterTable]] pass when the boundary is
    * unusable: no `-r` checkpoint yet (never clustered), or a LATER
    * checkpoint exists above it (an OPTIMIZE or log compaction merged /
    * obscured the generations — their byte-copied outputs interleave
    * clustered and unclustered rows, so re-baselining is the correct
    * response, the same full-rewrite fallback `maintainIncremental`
    * takes on a foreign layout). On clustered tables run THIS instead
    * of optimize: the generation rewrite already packs small files, and
    * optimize's raw merge would destroy the boundary it needs. */
  def clusterIncremental(spark: SparkSession, path: String,
      schemaName: String, cols: Seq[String], zorder: Boolean = false,
      blockBytes: Long = DefaultBlockBytes,
      targetFileBytes: Long = OptimizeTargetBytes,
      blockCodec: String = "none",
      statCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Seq[String] = {
    require(cols.nonEmpty,
      "gavro clusterIncremental: at least one cluster column")
    rewritePartial(path, (pin, committedAtPin) => {
      val commits = new java.io.File(path, CommitsDir)
      val cps = logEntries(commits, ".checkpoint")
        .map(_.getName.stripSuffix(".checkpoint"))
      val lastRw = cps.filter(_.endsWith("-r")).maxOption
      lastRw match {
        case Some(cut) if cps.forall(_ <= cut) =>
          val debt = listDataFiles(path, Some(pin), Some(cut))
          if (debt.isEmpty) (Set.empty[String], spark.emptyDataFrame)
          else {
            val df = spark.read.format("gavro").option("schema", schemaName)
              .option("asOfCommit", pin).option("sinceCommit", cut).load(path)
            val bytes = debt.map(f => GavroFooter.read(f).dataEnd).sum
            (debt.map(_.getName).toSet,
              clusterPlan(df, schemaName, cols, zorder, bytes,
                targetFileBytes, statCols, bloomCols))
          }
        case _ =>
          val df = spark.read.format("gavro").option("schema", schemaName)
            .option("asOfCommit", pin).load(path)
          val bytes = listDataFiles(path, Some(pin))
            .map(f => GavroFooter.read(f).dataEnd).sum
          (committedAtPin,
            clusterPlan(df, schemaName, cols, zorder, bytes,
              targetFileBytes, statCols, bloomCols))
      }
    }, blockBytes, statCols = (cols ++ statCols).distinct, blockCodec,
      bloomCols = bloomCols)
  }

  /** Working-set frames [[clusterPlan]] persisted for the THIS THREAD's
    * in-flight rewrite — [[rewritePartial]] unpersists them right after
    * staging materializes the re-encoded files (thread-local: plan
    * construction and staging run on the rewrite caller's thread, and
    * concurrent rewrites of different tables must not drain each
    * other). */
  private val stageCaches =
    new ThreadLocal[java.util.ArrayDeque[DataFrame]] {
      override def initialValue() = new java.util.ArrayDeque[DataFrame]()
    }

  /** The shared clustered-layout plan: re-encode `df`'s rows with the
    * layout columns riding alongside, range-partition into
    * `bytes / targetFileBytes` output files, sort within partitions —
    * lexicographic on `cols`, or by the normalized Morton key
    * ([[graft.functions.ZOrder]]) when `zorder`. */
  private def clusterPlan(df: DataFrame, schemaName: String,
      cols: Seq[String], zorder: Boolean, bytes: Long,
      targetFileBytes: Long, statCols: Seq[String],
      bloomCols: Seq[String]): DataFrame = {
    cols.foreach(c => require(df.columns.contains(c),
      s"gavro cluster: no column $c in schema $schemaName"))
    val keep = (cols ++ statCols ++ bloomCols).distinct
    val quoted = df.columns.map(c => s"`$c`").mkString(", ")
    // `bin` MUST stay ordinal 0 — the staging writer's row contract.
    // Persisted: `repartitionByRange`'s boundary-sampling pass otherwise
    // re-runs the whole decode+re-encode pipeline before the real
    // shuffle does it again (two full codec passes, measured at sf0.1).
    // The persisted unit is the rewrite's own working set — at 100 TB
    // this is the stage you would checkpoint between read and re-layout
    // anyway (and MEMORY_AND_DISK spills rather than OOMs). Registered
    // for unpersist once rewritePartial's staging materializes the files
    // — without it every clusterTable/clusterIncremental run leaked one
    // table-sized cache entry for the session lifetime.
    val encoded = df.select(
      expr(s"to_avro_graft(struct($quoted), '$schemaName')").as("bin")
        +: keep.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    stageCaches.get().add(encoded)
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    if (zorder) {
      // The grid bounds: one min/max agg over the SAME rows being
      // re-laid-out, on the RAW columns, so the reader's aggregate
      // pushdown answers it from per-file footer accumulation —
      // O(groups) rows cross the scan, the collect is exactly one row.
      // Bounds must come from the data (not type ranges): interleaving
      // raw bit patterns leaves low-range columns constant in their top
      // bits and the key collapses (see [[graft.functions.ZOrder]]).
      // Each generation normalizes against its own bounds — sound, the
      // key orders layout within the generation only.
      val dts = cols.map(c => df.schema(c).dataType)
      val aggs = cols.flatMap(c => Seq(min(col(c)), max(col(c))))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      val bounds = cols.zip(dts).zipWithIndex.map { case ((_, dt), i) =>
        (graft.functions.ZOrder.boundOf(row.get(2 * i), dt).getOrElse(0.0),
          graft.functions.ZOrder.boundOf(row.get(2 * i + 1), dt).getOrElse(0.0))
      }
      val z = graft.functions.ZOrder.zvalue(
        cols.zip(dts).map { case (c, dt) => (col(c), dt) }, bounds)
      encoded.withColumn("__graft_z", z)
        .repartitionByRange(n, col("__graft_z"))
        .sortWithinPartitions("__graft_z")
        .drop("__graft_z")
    } else {
      encoded.repartitionByRange(n, cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*)
    }
  }

  /** [[rewriteTable]]'s INCREMENTAL form: `plan` receives the pinned
    * commit name and the file set committed at that pin, and returns the
    * SUBSET to replace plus the re-encoded rows that replace it — the
    * caller must read exactly the replaced subset's rows (asOfCommit the
    * pin, filtered to the subset's content, e.g. by the layout-slot
    * column whose files are being compacted). Files outside the subset
    * keep their names and bytes untouched; commits landing during the
    * rewrite survive as in the full form. An empty subset is a no-op
    * (nothing staged, nothing landed). This is the slot-local
    * compaction shape at 100 TB: rewrite only the slots whose file
    * count grew past threshold since the last maintenance, not the
    * whole table. */
  def rewritePartial(path: String,
      plan: (String, Set[String]) => (Set[String], DataFrame),
      blockBytes: Long = DefaultBlockBytes,
      statCols: Seq[String] = Seq.empty,
      blockCodec: String = "none",
      bloomCols: Seq[String] = Seq.empty): Seq[String] = {
    val d = new java.io.File(path)
    val commits = new java.io.File(d, CommitsDir)
    // Bootstrap a legacy listing-truth dir: the adopting first record
    // makes the log the source of truth before the swap relies on it.
    if (!commits.isDirectory) commitBatch(path, Seq.empty)
    withMaintenanceLock(path) {
      healLog(path)
      val entries =
        logEntries(commits, ".checkpoint")
          .map(_.getName.stripSuffix(".checkpoint")) ++
        logEntries(commits, ".commit")
          .map(_.getName.stripSuffix(".commit"))
      require(entries.nonEmpty,
        s"gavro: rewriteTable needs at least one log entry at $path")
      val pin = entries.max
      val committedAtPin = committedNames(path, Some(pin))
      val (gone, binsDf) = plan(pin, committedAtPin)
      require(gone.subsetOf(committedAtPin),
        s"gavro: rewrite plan names files outside the pinned snapshot at $path")
      if (gone.isEmpty) return Seq.empty
      // KEEP-ALIVE through the staging job: a corpus-scale re-encode can
      // far outlast OptimizeLockStaleMs, and a lock that goes stale
      // mid-stage invites another maintenance actor to steal it — two
      // concurrent fold/retire loops can drop each other's folds. The
      // toucher makes the holder continuously visibly live (the same
      // guarantee optimize gets from its per-bin touch).
      val staged =
        try withKeepAlive(optimizeLock(path)) {
          stageFiles(binsDf, path, blockBytes, statCols, blockCodec, bloomCols)
        } finally {
          // Release clusterPlan's persisted working set: the staged files
          // now hold the re-encoded rows, so the cache would only leak.
          val q = stageCaches.get()
          while (!q.isEmpty) q.poll().unpersist()
        }
      store.touch(optimizeLock(path))
      val cpName = f"${nextCommitSeq(path)}%010d-r"
      store.putIfAbsent(new java.io.File(commits, s"$cpName.retire"),
        gone.toSeq.sorted.mkString("\n"))
      // restart the replaced files' vacuum grace BEFORE they become
      // orphans — their write time may be hours old (same reasoning as
      // optimize's pre-swap touch)
      gone.foreach(n => dataStore.touch(new java.io.File(path, n)))
      val content =
        ((committedNames(path, None) -- gone) ++ staged).toSeq.sorted
      store.putIfAbsent(new java.io.File(commits, s"$cpName.checkpoint"),
        content.mkString("\n"))
      retireBelow(path, cpName, gone)
      staged.sorted
    }
  }

  /** Touch `f` every `periodMs` for the duration of `body` — the
    * liveness heartbeat long-running lock/marker holders need against
    * staleness-based takeover or torn-state diagnosis. A failing touch
    * (transient IO on a remote store) is swallowed and retried next
    * period: a silently-dead toucher would reinstate exactly the stale
    * window it exists to close. */
  private[graft] def withKeepAlive[A](f: java.io.File,
      periodMs: Long = 60 * 1000)(body: => A): A = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val toucher = new Thread(() => {
      while (!stop.get()) {
        try store.touch(f) catch { case _: Exception => () }
        val deadline = System.currentTimeMillis() + periodMs
        while (!stop.get() && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
      }
    }, s"gavro-keepalive-${f.getName}")
    toucher.setDaemon(true)
    toucher.start()
    try body finally { stop.set(true); toucher.join() }
  }

  /** The append WAL marker's file name — landed by [[withAppendMarker]]
    * before a multi-table append's first commit and removed after its
    * last, so a crash anywhere between the commits leaves durable
    * evidence a reader can trip on instead of silently serving the torn
    * state. */
  val AppendMarkerName = "_graft_append_inflight"

  /** A marker older than this is a CRASHED append (a live appender
    * keep-alive-touches its marker through the writes); younger means an
    * append is in flight — readers proceed (snapshot isolation keeps each
    * table's scan consistent), a second APPEND refuses. */
  val AppendStallMs: Long = 15L * 60 * 1000

  /** Bracket a MULTI-TABLE append with the WAL marker: claimed
    * put-if-absent (a crashed append's marker is torn-state EVIDENCE — a
    * later appender must refuse over it, never bury it),
    * keep-alive-touched through `body` (a long append never reads as
    * crashed), deleted only after the last commit. One appender at a time
    * per `dir` — the marker doubles as the mutual exclusion the
    * commit-per-table protocol needs anyway. Single-table appends don't
    * need this: one commit record is already atomic. */
  def withAppendMarker[A](dir: String, stallMs: Long = AppendStallMs)
      (body: => A): A = {
    val marker = new java.io.File(dir, AppendMarkerName)
    try store.putIfAbsent(marker, System.currentTimeMillis().toString)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val age = System.currentTimeMillis() - store.mtime(marker)
        throw new IllegalStateException(
          if (age >= stallMs)
            s"index at $dir is torn: a prior append crashed between " +
              s"table commits (marker $age ms old) — rebuild the index " +
              "before appending"
          else
            s"another append is in flight at $dir (marker $age ms old) — " +
              "one appender at a time per index")
    }
    val out = withKeepAlive(marker)(body)
    store.delete(marker)
    out
  }

  /** Reader-side torn-append tripwire: fail LOUDLY when `dir` carries a
    * STALE in-flight marker (the appender crashed between table commits —
    * the tables are mutually inconsistent in ways per-table snapshot
    * isolation cannot see). A young marker passes: that's an append
    * legitimately in flight elsewhere. One mtime read, not
    * exists-then-mtime — the appender can delete the marker between the
    * two calls, and `lastModified` on a missing file is 0, which would
    * read as an ancient marker and a spurious torn error. */
  def requireNotTorn(dir: String, stallMs: Long = AppendStallMs): Unit = {
    val markerMtime = store.mtime(new java.io.File(dir, AppendMarkerName))
    if (markerMtime > 0L) {
      val age = System.currentTimeMillis() - markerMtime
      require(age < stallMs,
        s"index at $dir is torn: an append's in-flight marker is " +
          s"$age ms old (> $stallMs) — the appender crashed between " +
          "table commits; rebuild the index (or restore it from the " +
          "pre-append snapshot) before reading or appending")
    }
  }

  /** [[rewriteTable]]'s staging pass: write `bins`' partitions as hidden
    * temp files task-side, then publish each under the next sequential
    * part index — named like ordinary data files but UNCOMMITTED, so they
    * stay invisible until the caller's swap names them. */
  private def stageFiles(bins: DataFrame, dir: String, blockBytes: Long,
      statCols: Seq[String], blockCodec: String,
      bloomCols: Seq[String] = Seq.empty): Seq[String] = {
    val layout = binsLayout(bins, blockBytes, statCols, blockCodec, bloomCols)
    val d = new java.io.File(dir)
    val tmps = bins.queryExecution.toRdd.mapPartitions { it =>
      if (it.hasNext) {
        val name = ".rewrite-" +
          java.util.UUID.randomUUID().toString.take(12) + ".gavro.tmp"
        GavroFileWriter.writeBins(it, new java.io.File(dir, name), layout)
        Iterator.single(name)
      } else Iterator.empty
    }.collect().toSeq
    tmps.sorted.map(t => landNextPart(d, new java.io.File(d, t)))
  }

  /** Default OPTIMIZE bin target. 64 MB merges a landing zone's drizzle
    * of per-append files into scan-efficient units while staying well
    * under a single task's comfortable input. */
  val OptimizeTargetBytes: Long = 64L << 20

  /** OPTIMIZE — bin-pack small committed data files into larger ones (the
    * landing-zone small-files problem: an archiver appending one file
    * every 10 s writes ~8.6k files/day, and at 100 TB every reader
    * pays the per-file open/footer cost). The merge is a RAW
    * byte-section copy — records are never decoded; the merged footer's
    * block index is the concatenation of the inputs' with shifted
    * offsets, per-block stats carried over, and per-file min/max folded —
    * so block splitting and two-level skipping work on the merged file
    * exactly as before (same design as parquet row-group concatenation).
    *
    * Atomicity rides the commit log's checkpoint mechanism: the merged
    * files publish invisibly, then ONE checkpoint lands (atomic move) at
    * a fresh sequence whose content is the post-optimize live set —
    * readers resolve either the old snapshot or the new one, never both
    * (a commit RECORD could not express this: records are additive
    * deltas, and naming the merged files in one would double-count until
    * the old files vanished). CONCURRENT WRITERS are reconciled before
    * anything is retired: any commit record at-or-below the checkpoint's
    * sequence that landed while the merge was copying (the merge can take
    * minutes on a big backlog) has its files folded into the checkpoint
    * — atomic replace, looped to a fixed point — and a writer that lands
    * a record below an already-landed newer checkpoint retracts and
    * retries above it ([[writeCommit]]'s post-land validation), so no
    * writer's commit is ever silently orphaned. The retire step then
    * deletes ONLY verified-folded records, and superseded CHECKPOINTS go
    * with them: a pre-optimize cut (record OR checkpoint name) is the
    * explicit compaction-horizon error, never a silently-partial
    * snapshot (the absorbed files' bytes live only in the merged files
    * now).
    *
    * The absorbed files are NOT deleted inline: a long-running reader may
    * have planned its scan from the pre-optimize snapshot, and yanking
    * its inputs mid-scan fails the query — the same in-flight reasoning
    * as [[VacuumGraceMs]]. Post-swap they are uncommitted orphans whose
    * mtime is touched to the swap instant, so the next [[vacuum]]
    * reclaims them only after a FULL grace window from the swap (their
    * write time may be hours old). Crash safety is write-ahead: a
    * `.retire` sidecar listing the absorbed set lands before the
    * checkpoint, and [[healLog]] (run by optimize and vacuum before
    * anything destructive) resumes an incomplete retire — a crash at any
    * step leaves the old snapshot intact, or the new snapshot fully
    * live, or a resumable in-between that heals before any destruction.
    *
    * Only files WITH a valid footer participate: a footer-less file has
    * no trusted record boundary, and concatenating a torn tail would
    * desync the following frames. Files of different block codecs merge
    * into separate bins (offsets are codec-specific file positions).
    * Returns the merged file names (empty = nothing worth merging).
    *
    * OPERATIONAL SCOPE: maintenance operations (optimize, compactLog,
    * the heals they run) are serialized by the `_optimize.lock` and
    * written for the standard single-maintenance-actor deployment (one
    * scheduled OPTIMIZE job per table — the same assumption real table
    * formats enforce with transactional catalogs a bare filesystem
    * cannot provide). Regular WRITERS are fully concurrent-safe against
    * a live maintenance run (put-if-absent records, post-land retract,
    * lock-gated checkpointing); two maintenance actors fighting over a
    * STALE lock is detected and the loser errors loudly. */
  def optimize(path: String,
      targetBytes: Long = OptimizeTargetBytes): Seq[String] = {
    val d = new java.io.File(path)
    val commits = new java.io.File(d, CommitsDir)
    require(commits.isDirectory,
      s"gavro: optimize requires a $CommitsDir log at $path")
    withMaintenanceLock(path)(optimizeLocked(path, targetBytes))
  }

  /** A held lock younger than this is a LIVE maintenance run (the holder
    * touches it as it works); older means the holder crashed and the
    * next maintenance op may heal and take over. */
  val OptimizeLockStaleMs: Long = 15L * 60 * 1000

  private def optimizeLock(path: String) =
    new java.io.File(new java.io.File(path, CommitsDir), "_optimize.lock")

  /** ONE maintenance op at a time per table: concurrent optimizes would
    * merge the same inputs into different outputs and race each other's
    * swap; a concurrent compactLog would race the retire's fold loop.
    * Put-if-absent lock; a stale lock (crashed holder) is healed and
    * taken over put-if-absent too — a racing taker loses LOUDLY, never
    * silently runs concurrently. */
  private def withMaintenanceLock[A](path: String)(body: => A): A = {
    val lock = optimizeLock(path)
    def acquire(): Unit =
      try store.createMarkerIfAbsent(lock)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          if (System.currentTimeMillis() - store.mtime(lock) <
              OptimizeLockStaleMs)
            throw new IllegalStateException(
              s"gavro: another maintenance op is in flight at $path")
          healLog(path)
          store.delete(lock)
          try store.createMarkerIfAbsent(lock)
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new IllegalStateException(
                s"gavro: another maintenance op took over the stale lock at $path")
          }
      }
    acquire()
    try body
    finally store.delete(lock)
  }

  private def optimizeLocked(path: String, targetBytes: Long): Seq[String] = {
    val d = new java.io.File(path)
    val commits = new java.io.File(d, CommitsDir)
    healLog(path) // resume any crashed prior swap before reading state
    val live = listDataFiles(path)
    val metas = live.map(f => f -> GavroFooter.read(f))
    val candidates = metas.filter { case (f, m) =>
      val len = dataStore.length(f)
      m.dataEnd < len && len < targetBytes }
    // Pack first, merge after: bins are independent merge units.
    var bins = Vector.empty[(Byte, Vector[(java.io.File, GavroFileMeta)])]
    candidates.groupBy(_._2.codec).toSeq.sortBy(_._1).foreach {
      case (codec, group) =>
        var bin = Vector.empty[(java.io.File, GavroFileMeta)]
        var binBytes = 0L
        def flush(): Unit = {
          if (bin.length >= 2) bins :+= ((codec, bin))
          bin = Vector.empty; binBytes = 0L
        }
        group.sortBy(_._1.getName).foreach { case (f, m) =>
          if (bin.nonEmpty && binBytes + m.dataEnd > targetBytes) flush()
          bin :+= ((f, m)); binBytes += m.dataEnd
        }
        flush()
    }
    val merged = scala.collection.mutable.ArrayBuffer.empty[String]
    val absorbed = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
    bins.foreach { case (codec, bin) =>
      merged += mergeBin(d, bin, codec)
      absorbed ++= bin.map(_._1)
      // keep-alive: a big backlog's byte copy can outlast the lock's
      // staleness bound; touching per bin keeps the holder visibly live
      store.touch(optimizeLock(path))
    }
    if (merged.isEmpty) return Seq.empty
    val gone = absorbed.map(_.getName).toSet
    // Mark the absorbed files' retirement TIME before anything becomes
    // visible: vacuum's grace window keys off lastModified, and an
    // absorbed file's write time may be hours old — without the touch, a
    // vacuum racing the swap would reap them immediately, yanking inputs
    // from an in-flight pre-swap reader.
    absorbed.foreach(dataStore.touch)
    // The atomic swap: one checkpoint at a fresh sequence = the new live
    // set, computed from the CURRENT committed state (commits may have
    // landed during the byte copy), minus the absorbed names, plus the
    // merged files. Before the swap, a WRITE-AHEAD `.retire` sidecar
    // records the absorbed set so a crash at any later step is resumable
    // by [[healLog]] (without it, a resumer cannot distinguish an
    // absorbed file from a genuinely-concurrent commit's file).
    val cpName = f"${nextCommitSeq(path)}%010d-o"
    val sidecar = new java.io.File(commits, s"$cpName.retire")
    // put-if-absent: a sidecar clobber would hand a resumer the WRONG
    // absorbed set — the loser of any (theoretically impossible under
    // the lock) race errors loudly instead
    store.putIfAbsent(sidecar, gone.toSeq.sorted.mkString("\n"))
    val content =
      ((committedNames(path, None) -- gone) ++ merged).toSeq.sorted
    // put-if-absent landing (the lock makes a collision near-impossible;
    // this keeps it impossible)
    store.putIfAbsent(new java.io.File(commits, s"$cpName.checkpoint"),
      content.mkString("\n"))
    retireBelow(path, cpName, gone)
    merged.sorted.toSeq
  }

  /** The retire half of an optimize swap, shared with [[healLog]]'s
    * crash recovery: re-touch the absorbed files (a resumed heal must
    * restart their vacuum grace too), retire every record at-or-below
    * the swap checkpoint through the verified fold-then-delete loop
    * (folding into the LATEST checkpoint — later regular checkpoints may
    * have landed after a crash, and readers resolve from the latest
    * base), retire the superseded checkpoints (their named files may
    * exist only inside the merged output; a silently-partial time-travel
    * snapshot is worse than the explicit horizon error), and remove the
    * sidecar LAST: its presence means "this retire may be incomplete,
    * resume me". */
  private def retireBelow(path: String, cpName: String,
      gone: Set[String]): Unit = {
    val commits = new java.io.File(path, CommitsDir)
    gone.foreach(n => dataStore.touch(new java.io.File(path, n)))
    retireRecords(path, cpName, gone)
    logEntries(commits, ".checkpoint")
      .filter(_.getName.stripSuffix(".checkpoint") < cpName)
      .foreach { f =>
        if (!store.delete(f) && store.exists(f)) throw new java.io.IOException(
          s"gavro: cannot retire superseded checkpoint $f")
      }
    store.delete(new java.io.File(commits, s"$cpName.retire"))
  }

  /** Resume any crashed optimize swap: a `.retire` sidecar WITH its
    * checkpoint means the swap became visible but its retire may be
    * incomplete (a record landed below the base could still be unfolded
    * — invisible, and one [[vacuum]] away from data loss); a sidecar
    * WITHOUT its checkpoint means the swap never became visible and the
    * merged files are plain orphans. Callers gate on the optimize lock:
    * a FRESH lock means a live optimize owns its own retire. */
  private def healLog(path: String): Unit = {
    val commits = new java.io.File(path, CommitsDir)
    if (!commits.isDirectory) return
    logEntries(commits, ".retire").foreach { sidecar =>
      val name = sidecar.getName.stripSuffix(".retire")
      if (new java.io.File(commits, s"$name.checkpoint").exists())
        retireBelow(path, name, readNames(sidecar).toSet)
      // never visible: the merged files are plain orphans
      else store.delete(sidecar)
    }
  }

  /** Merge one bin: copy each input's data section raw, emit a footer
    * with shifted block offsets, carried block stats, and folded file
    * stats; publish put-if-absent on the next part index. Returns the
    * merged name. */
  private def mergeBin(d: java.io.File,
      bin: Seq[(java.io.File, GavroFileMeta)], codec: Byte): String = {
    val tmp = new java.io.File(d, ".optimize-" +
      java.util.UUID.randomUUID().toString.take(12) + ".gavro.tmp")
    val out = dataStore.create(tmp)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[Long]
    var shift = 0L
    try {
      bin.foreach { case (f, m) =>
        val in = dataStore.openAt(f, 0L)
        try {
          var remaining = m.dataEnd
          val buf = new Array[Byte](1 << 16)
          while (remaining > 0) {
            val n = in.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
            require(n > 0, s"gavro optimize: truncated read of $f")
            out.write(buf, 0, n); remaining -= n
          }
        } finally in.close()
        blocks ++= m.blocks.map(_ + shift)
        shift += m.dataEnd
      }
      // per-file stats: fold min/max over columns present in EVERY input
      // (a column absent somewhere — e.g. all-null in that file — drops
      // out; skipping just gets conservative for it)
      val shared = bin.map(_._2.stats.keySet).reduce(_ intersect _)
      val stats = shared.toSeq.sorted.map { c =>
        val ss = bin.map(_._2.stats(c))
        val tpe = ss.head.tpe
        c -> GavroColStat(tpe,
          ss.map(_.min).reduce((a, b) => if (GavroColStat.lt(tpe, a, b)) a else b),
          ss.map(_.max).reduce((a, b) => if (GavroColStat.lt(tpe, a, b)) b else a))
      }
      val blockStats: Seq[Seq[(String, GavroColStat)]] =
        if (bin.forall(b => b._2.blockStats.length == b._2.blocks.length))
          bin.flatMap(_._2.blockStats.map(_.toSeq.sortBy(_._1)))
        else Seq.empty
      // Blooms carry through the raw merge like block stats do — blocks
      // are copied verbatim, so each block's bloom stays exactly right.
      // Column set must be uniform across every merged block (the footer
      // section is one column list); inputs written with different
      // bloomCols drop to the shared intersection, empty intersection
      // drops the section (sound: absent bloom never skips).
      val bloomShared: Seq[(String, Byte)] =
        if (bin.forall(b => b._2.blockBlooms.length == b._2.blocks.length) &&
            bin.nonEmpty && bin.head._2.blockBlooms.nonEmpty)
          bin.flatMap(_._2.blockBlooms)
            .map(_.map { case (n, b) => (n, b.tpe) }.toSet)
            .reduce(_ intersect _).toSeq.sortBy(_._1)
        else Seq.empty
      val blockBlooms: Seq[Seq[(String, GavroBloom)]] =
        if (bloomShared.nonEmpty)
          bin.flatMap(_._2.blockBlooms.map(m =>
            bloomShared.map { case (n, _) => n -> m(n) }))
        else Seq.empty
      GavroFooter.write(out, blocks.toSeq, stats, blockStats, codec,
        blockBlooms)
    } finally out.close()
    landNextPart(d, tmp)
  }

  /** Publish a fully-written temp file under the next sequential part
    * index: put-if-absent on the name, retrying past concurrent landings
    * (staged bytes live on the data plane; the publish itself is
    * coordination). Shared by [[mergeBin]], [[rewriteTable]]'s staging
    * pass and the DSv2 sink's batch commit. Returns the landed name. */
  private[sources] def landNextPart(d: java.io.File, tmp: java.io.File): String = {
    var landed: Option[String] = None
    while (landed.isEmpty) {
      val idx = dataStore.list(d)
        .map(_.getName).filter(n => n.startsWith("part-") && n.endsWith(".gavro"))
        .flatMap(n => n.stripPrefix("part-").stripSuffix(".gavro").toIntOption)
        .foldLeft(-1)(math.max) + 1
      val dst = new java.io.File(d, f"part-$idx%05d.gavro")
      if (store.publishIfAbsent(tmp, dst)) {
        dataStore.delete(tmp)
        landed = Some(dst.getName)
      }
    }
    landed.get
  }

  /** Retention grace for [[vacuum]]: an IN-FLIGHT job's files look
    * exactly like a crashed job's (task temps; published-but-not-yet-
    * committed data files in the rename→commit-record window), so vacuum
    * only reaps files older than this — the same reason Delta's VACUUM
    * has a retention window. 15 min dwarfs any publish→commit gap. */
  val VacuumGraceMs: Long = 15L * 60 * 1000

  /** Garbage-collect the landing zone: delete data files no commit
    * record references (a crashed job's published-but-never-committed
    * leftovers) plus stale writer temp files — but ONLY those older than
    * `graceMs` ([[VacuumGraceMs]]): a concurrent writer's temp files and
    * its published-awaiting-commit data files are younger than any sane
    * grace and must survive. Readers only ever see committed files, so
    * vacuum never changes a query result — it reclaims the space the
    * snapshot-isolation design makes invisible. Returns the deleted
    * names. Requires a commit log: on a listing-truth directory every
    * file is live. */
  def vacuum(path: String, graceMs: Long = VacuumGraceMs): Seq[String] = {
    val d = new java.io.File(path)
    val commits = new java.io.File(d, CommitsDir)
    require(commits.isDirectory,
      s"gavro: vacuum requires a $CommitsDir log at $path")
    // A crashed optimize may have left an unfolded commit: heal before
    // anything destructive. A FRESH optimize lock means a live run owns
    // its own retire — don't race it (its absorbed files were touched
    // pre-swap, so the grace window protects them from this pass).
    val lock = optimizeLock(path)
    if (!store.exists(lock) ||
        System.currentTimeMillis() - store.mtime(lock) >= OptimizeLockStaleMs)
      healLog(path)
    val committed = committedNames(path, None)
    val horizon = System.currentTimeMillis() - graceMs
    // Orphan reclamation is a DATA-plane sweep: the objects being listed,
    // aged, and deleted are .gavro bytes, so it rides the data seam (the
    // coordination store above supplies only the lock's clock).
    val dead = dataStore.list(d)
      .filter(f => dataStore.mtime(f) <= horizon &&
        ((f.getName.endsWith(".gavro") && !committed(f.getName)) ||
          f.getName.endsWith(".gavro.tmp")))
    dead.foreach(dataStore.delete)
    dead.map(_.getName).sorted.toSeq
  }

  /** Next shared commit sequence number: one zero-padded counter across
    * every writer's records so lexicographic name order is commit order
    * (checkpoint names participate too — a checkpoint summarizes
    * the record it is named after). */
  private[sources] def nextCommitSeq(path: String): Int = {
    val dir = new java.io.File(path, CommitsDir)
    store.list(dir)
      .map(_.getName.stripSuffix(".commit").stripSuffix(".checkpoint"))
      .map(_.takeWhile(_.isDigit))
      .filter(d => d.nonEmpty && d.length == 10)
      .flatMap(_.toIntOption)
      .foldLeft(-1)(math.max) + 1
  }

  /** Block codec registry: deflate ships in the JDK, snappy rides the
    * snappy-java already on Spark's classpath (the landing-zone trade:
    * deflate for cold archive ratio, snappy for hot-tail decode speed);
    * the footer byte leaves room for more. */
  def codecByte(name: String): Byte = name.toLowerCase match {
    case "none" | "" => 0
    case "deflate" => 1
    case "snappy" => 2
    case other =>
      throw new IllegalArgumentException(s"gavro: unknown blockCodec '$other'")
  }

  private[sources] def compress(codec: Byte, b: Array[Byte]): Array[Byte] =
    codec match {
      case 0 => b
      case 1 => deflate(b)
      case 2 => org.xerial.snappy.Snappy.compress(b)
    }

  private[sources] def decompress(codec: Byte, b: Array[Byte]): Array[Byte] =
    codec match {
      case 0 => b
      case 1 => inflate(b)
      case 2 => org.xerial.snappy.Snappy.uncompress(b)
    }

  private[sources] def deflate(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, b.length / 4))
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
    val s = new java.util.zip.DeflaterOutputStream(out, d, 64 * 1024)
    try { s.write(b); s.finish() } finally { s.close(); d.end() }
    out.toByteArray
  }

  private[sources] def inflate(b: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    val s = new java.util.zip.InflaterInputStream(
      new java.io.ByteArrayInputStream(b), inf, 64 * 1024)
    try s.readAllBytes() finally { s.close(); inf.end() }
  }

  /** Route `df` so partition i holds EXACTLY the rows with
    * `floorMod(key, k) == i` — for dense integer keys (0..k-1) that is
    * one key value per partition, which the writer turns into provably
    * single-valued files (footer min == max), the layout
    * [[GavroScan]]'s reported KeyGroupedPartitioning needs.
    * `repartitionByRange` CANNOT promise this: its sampled boundaries
    * legally merge adjacent key values into one partition (observed: a
    * 4-value column landing as 3 files, one spanning two values), which
    * silently falls the keyed scan back to UnknownPartitioning. The one
    * RDD hop is a deterministic router — Spark's DataFrame API exposes
    * no exact partitioner — and the result is immediately consumed by a
    * write. Key must be a non-null integral column. */
  def exactPartition(df: DataFrame, key: String, k: Int): DataFrame = {
    val idx = df.schema.fieldIndex(key)
    routeExact(df, k,
      r => java.lang.Math.floorMod(
        r.get(idx).asInstanceOf[Number].longValue, k.toLong).toInt)
  }

  /** [[exactPartition]] with a SALT axis that breaks the writer-task cap:
    * partition `floorMod(key, k) * m + floorMod(salt, m)` — k·m writer
    * tasks instead of k, and every output partition is STILL provably
    * single-valued on `key` (the salt only splits within a key), so the
    * footer min==max proof, the key-IN file skipping, and the reported
    * KeyGroupedPartitioning all survive unchanged. Spark's partition
    * grouping merges the m salt files per key back into one task group
    * when a plan clusters on the key. Use when one key's volume exceeds
    * what a single writer task should serialize (the index-build shape:
    * 6 bands or K coarse cells of a 100 TB corpus). Both columns must be
    * non-null integral. */
  def exactPartitionSalted(df: DataFrame, key: String, k: Int,
      salt: String, m: Int): DataFrame = {
    val ki = df.schema.fieldIndex(key)
    val si = df.schema.fieldIndex(salt)
    routeExact(df, k * m, { r =>
      val kv = java.lang.Math.floorMod(
        r.get(ki).asInstanceOf[Number].longValue, k.toLong).toInt
      val sv = java.lang.Math.floorMod(
        r.get(si).asInstanceOf[Number].longValue, m.toLong).toInt
      kv * m + sv
    })
  }

  /** The one RDD hop shared by the exact routers: a deterministic
    * partitioner over a precomputed partition index — Spark's DataFrame
    * API exposes no exact partitioner, and the result is immediately
    * consumed by a write. */
  private def routeExact(df: DataFrame,
      parts: Int, partOf: org.apache.spark.sql.Row => Int): DataFrame = {
    val rdd = df.rdd
      .keyBy(partOf)
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = parts
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      }).values
    df.sparkSession.createDataFrame(rdd, df.schema)
  }

  /** Write one `.gavro` file per partition of a binary-column frame into
    * `dir` — the archiver side of the landing zone. Column 0 is the record
    * body; any `statCols` are the already-decoded field values riding
    * alongside, folded into the footer's per-file min/max (the archiver
    * KNOWS the values it just encoded — stats cost nothing extra). Every
    * `blockBytes` of body, the current offset is recorded as a
    * record-aligned block start, so the scan can split the file. Local FS
    * here; the Hadoop FS API is a drop-in at scale (one stream per task,
    * no driver involvement). */
  def write(bins: DataFrame, dir: String,
      blockBytes: Long = DefaultBlockBytes,
      statCols: Seq[String] = Seq.empty,
      blockCodec: String = "none",
      bloomCols: Seq[String] = Seq.empty): Unit = {
    val d = new java.io.File(dir)
    d.mkdirs()
    clearTable(d)
    val layout = binsLayout(bins, blockBytes, statCols, blockCodec, bloomCols)
    bins.queryExecution.toRdd.foreachPartition { it =>
      if (it.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        GavroFileWriter.writeBins(it,
          new java.io.File(dir, f"part-$pid%05d.gavro"), layout)
      }
    }
    // Driver-side visibility point after every task finished: one commit
    // record naming the archive's files (same contract as the DSv2 sink).
    val written = dataStore.list(d)
      .map(_.getName).filter(_.endsWith(".gavro")).sorted
    commitBatch(dir, written.toSeq)
  }

  /** Truncate a table: every data file and every commit record go (a
    * truncate invalidates every prior commit record too). Shared by
    * [[write]] and the DSv2 sink's overwrite commit. */
  private[sources] def clearTable(d: java.io.File): Unit = {
    dataStore.list(d).filter(_.getName.endsWith(".gavro"))
      .foreach(dataStore.delete)
    store.list(new java.io.File(d, CommitsDir)).foreach(store.delete)
  }

  /** [[write]]'s and the rewrite staging pass's file layout over a `bin`
    * frame, resolved at the driver: the named stat and bloom columns by
    * ordinal in `bins`. */
  private def binsLayout(bins: DataFrame, blockBytes: Long,
      statCols: Seq[String], blockCodec: String,
      bloomCols: Seq[String]): GavroFileWriter.Layout =
    GavroFileWriter.Layout(blockBytes, codecByte(blockCodec),
      GavroFileWriter.statColumns(bins.schema, statCols),
      GavroFileWriter.bloomColumns(bins.schema, bloomCols))

  /** Archive the request_log synthesis to `.gavro` files, then read them
    * back through the connector and aggregate TWO of the record's eleven
    * fields — the pruned `ReadSchema` (pinned in GavroSourceSpec) reaches
    * the decoder, which walks but never materializes the other nine. The
    * oracle recomputes the aggregate straight from `events`, so a hash
    * match proves encode → file → scan → decode is lossless end-to-end. */
  def gavroScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = archive(spark, sfDir)
    spark.read.format("gavro").option("schema", "request_log").load(dir)
      .select(col("endpoint"), col("status_code"))
      .groupBy(col("endpoint"))
      .agg(count(lit(1)).as("n"),
        sum(col("status_code").cast("long")).as("sum_status"))
      .orderBy(col("endpoint"))
  }

  /** Archive the request_log synthesis once per sf-dir (idempotent: the
    * writer clears prior `.gavro` files first). The two pushdown-eligible
    * fields the registered queries filter on ride along as footer stats. */
  private def archive(spark: SparkSession, sfDir: String): String = {
    val events = Tables.events(spark, sfDir)
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_gavro_" + Integer.toHexString(sfDir.hashCode)).getAbsolutePath
    write(events.select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.endpoint").as("endpoint"),
        col("rec.status_code").as("status_code")), dir,
      statCols = Seq("endpoint", "status_code"))
    dir
  }

  /** Same archive, scanned through PUSHED filters: the error-status and
    * endpoint-range conjuncts are enforced inside the wire-decode loop
    * (GavroSourceSpec pins that no `FilterExec` survives above the scan),
    * so non-matching records never become rows. The oracle recomputes the
    * same predicate from the `events` synthesis — a hash match proves the
    * reader-side evaluation is exactly the WHERE it replaced. */
  def gavroScanPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = archive(spark, sfDir)
    spark.read.format("gavro").option("schema", "request_log").load(dir)
      .filter(col("status_code") === 500 && col("endpoint") >= "/api/p")
      .groupBy(col("endpoint"))
      .agg(count(lit(1)).as("n"), sum(col("latency_ms")).as("sum_latency"))
      .orderBy(col("endpoint"))
  }

  /** Filter AND aggregate both pushed into the reader: the scan emits one
    * partial row per (file, endpoint) — O(partitions × groups) crossing
    * the scan boundary instead of one row per record — and Spark's final
    * merge aggregate (min of mins, sum of counts/sums) sits directly on
    * top. GavroSourceSpec pins `PushedAggregates` in the scan description
    * and the collapsed scan output schema; the oracle recomputes the same
    * aggregate from the raw `events` synthesis, so a hash match proves the
    * reader-side accumulation (incl. count(col) skipping the planted null
    * user_ids) is exactly the aggregation it displaced. */
  def gavroAggPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = archive(spark, sfDir)
    spark.read.format("gavro").option("schema", "request_log").load(dir)
      .filter(col("status_code") === 200)
      .groupBy(col("endpoint"))
      .agg(count(lit(1)).as("n"),
        sum(col("latency_ms")).as("sum_latency"),
        min(col("latency_ms")).as("min_latency"),
        max(col("latency_ms")).as("max_latency"),
        count(col("user_id")).as("n_user_known"))
      .orderBy(col("endpoint"))
  }

  /** The archive re-read through an EVOLVED consumer schema
    * (`AvroCodec.RequestLogV2Json`: status_code int→long, latency_ms
    * int→double, platform dropped, nullable trace_id added): schema
    * resolution runs inside the scan's decode loop, composed with a
    * pushed filter on a PROMOTED column and column pruning. The oracle
    * recomputes the evolved view straight from `events`, so a hash match
    * proves the resolution is exactly the reference consumer's. */
  def gavroEvolvedScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = archive(spark, sfDir)
    spark.read.format("gavro").option("schema", "request_log")
      .option("readerSchema", AvroCodec.RequestLogV2Json).load(dir)
      .filter(col("status_code") === 200L)
      .groupBy(col("endpoint"))
      .agg(count(lit(1)).as("n"),
        sum(col("latency_ms")).as("sum_latency"),
        count(col("trace_id")).as("n_trace"),
        count(col("user_id")).as("n_user_known"))
      .orderBy(col("endpoint"))
  }

  /** Two-commit archive + time-traveled scan: the synthesis lands as two
    * DSv2 batches (even ids, then odd ids appended), and the registered
    * query reads `asOfCommit` = the FIRST record — so the oracle (the
    * even-id half recomputed from `events`) hash-verifies that time
    * travel reproduces exactly the first batch's snapshot, no more, no
    * less. Overwrite-then-append makes the build idempotent and the first
    * record's name deterministic. */
  /** Build (idempotently, per sf-dir) the two-commit archive both
    * time-travel queries read: batch 1 = even ids (overwrite), batch 2 =
    * odd ids (append). Returns (dir, firstCommitName). */
  private[graft] def twoCommitArchive(spark: SparkSession,
      sfDir: String): (String, String) = {
    val events = Tables.events(spark, sfDir)
    val frame = events.select(AvroCodec.requestLogRec.as("rec"))
      .select(col("rec.*"))
      .withColumn("created_at",
        expr("timestamp_micros(unix_millis(created_at) * 1000)"))
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_gavro_asof_" + Integer.toHexString(sfDir.hashCode)).getAbsolutePath
    frame.filter(pmod(col("id"), lit(2)) === 0).write.format("gavro")
      .option("schema", "request_log").mode("overwrite").save(dir)
    frame.filter(pmod(col("id"), lit(2)) === 1).write.format("gavro")
      .option("schema", "request_log").mode("append").save(dir)
    val firstCommit = logEntries(new java.io.File(dir, CommitsDir), ".commit")
      .head.getName.stripSuffix(".commit")
    (dir, firstCommit)
  }

  def gavroAsofScan(spark: SparkSession, sfDir: String): DataFrame = {
    val (dir, firstCommit) = twoCommitArchive(spark, sfDir)
    spark.read.format("gavro").option("schema", "request_log")
      .option("asOfCommit", firstCommit).load(dir)
      .select(col("endpoint"), col("status_code"))
      .groupBy(col("endpoint"))
      .agg(count(lit(1)).as("n"),
        sum(col("status_code").cast("long")).as("sum_status"))
      .orderBy(col("endpoint"))
  }

  /** The CHANGE FEED over the same two-commit archive as
    * [[gavroAsofScan]]: `sinceCommit` = the first record, so the scan
    * reads exactly the files the SECOND batch made visible (the odd-id
    * half) — the incremental-pipeline primitive ("process only what
    * landed since my last run") as a plain batch read, no streaming
    * checkpoint. The oracle recomputes the odd-id half from `events`, so
    * a hash match proves the delta is exactly batch 2: no re-reads of
    * batch 1, no misses. */
  def gavroChangeFeed(spark: SparkSession, sfDir: String): DataFrame = {
    val (dir, firstCommit) = twoCommitArchive(spark, sfDir)
    spark.read.format("gavro").option("schema", "request_log")
      .option("sinceCommit", firstCommit).load(dir)
      .select(col("endpoint"), col("status_code"))
      .groupBy(col("endpoint"))
      .agg(count(lit(1)).as("n"),
        sum(col("status_code").cast("long")).as("sum_status"))
      .orderBy(col("endpoint"))
  }

  /** The archive landed as EIGHT small files, bin-packed by [[optimize]]
    * into one, then scanned: the oracle recomputes the same aggregate
    * from `events`, so a hash match proves the raw byte-section merge +
    * footer rebuild is lossless — every record survives exactly once
    * through the rewrite, and the post-optimize snapshot is the whole
    * dataset. */
  def gavroOptimizeScan(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_gavro_opt_" + Integer.toHexString(sfDir.hashCode)).getAbsolutePath
    write(events.repartition(8)
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.endpoint").as("endpoint"),
        col("rec.status_code").as("status_code")), dir,
      statCols = Seq("endpoint", "status_code"))
    optimize(dir)
    spark.read.format("gavro").option("schema", "request_log").load(dir)
      .select(col("endpoint"), col("status_code"))
      .groupBy(col("endpoint"))
      .agg(count(lit(1)).as("n"),
        sum(col("status_code").cast("long")).as("sum_status"))
      .orderBy(col("endpoint"))
  }

  /** A DISJUNCTIVE filter (Or with an And branch) composed with the
    * pushed aggregate: before tree pushdown any OR in the WHERE survived
    * as a FilterExec above the scan and silently blocked aggregate
    * pushdown (Spark's gate requires every filter fully pushed). The
    * oracle recomputes the same disjunction from the raw synthesis, so a
    * hash match proves the reader's tree proof + three-valued row eval
    * is exactly the WHERE it displaced. */
  def gavroOrPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = archive(spark, sfDir)
    spark.read.format("gavro").option("schema", "request_log").load(dir)
      .filter(col("status_code") === 500 ||
        (col("endpoint") >= "/api/p" && col("latency_ms") < 250))
      .groupBy(col("endpoint"))
      .agg(count(lit(1)).as("n"), sum(col("latency_ms")).as("sum_latency"))
      .orderBy(col("endpoint"))
  }

  /** SQL three-valued semantics through the reader: `NOT(user_id <=> 4)`
    * KEEPS the planted null user_ids (<=> is null-definite, so its
    * negation is TRUE there), while `NOT(user_id = 4) OR status = 500`
    * drops null-user rows unless the OR's other branch rescues them
    * (UNKNOWN OR TRUE = TRUE). A boolean-collapsed eval gets both wrong;
    * the DuckDB oracle computes the same predicates independently. */
  def gavroNotSemantics(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = archive(spark, sfDir)
    spark.read.format("gavro").option("schema", "request_log").load(dir)
      .filter(!(col("user_id") <=> 4L) &&
        (!(col("user_id") === 4L) || col("status_code") === 500))
      .groupBy(col("endpoint"))
      .agg(count(lit(1)).as("n"),
        count(col("user_id")).as("n_user_known"),
        sum(col("latency_ms")).as("sum_latency"))
      .orderBy(col("endpoint"))
  }

  /** Point lookup through the PER-BLOCK BLOOM skip: session_id is
    * md5(event_id) — value-unclustered by construction, so every block's
    * [min, max] spans ~the whole keyspace and the range proof admits
    * everything; the bloom is the only structure that can skip. The
    * oracle recomputes the same IN from `events` in DuckDB (md5 agrees
    * lowercase-hex on both engines), so a hash match proves bloom
    * exclusion never drops a matching block — the spec side separately
    * proves it actually skips (blocks read ≪ total). */
  def gavroBloomScan(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_gavro_bloom_" + Integer.toHexString(sfDir.hashCode)).getAbsolutePath
    write(events
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin"),
        col("rec.session_id").as("session_id")), dir,
      blockBytes = 8192L, bloomCols = Seq("session_id"))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val keys = Seq("8", "21", "42").map(md5hex) :+ "not-a-session-key"
    spark.read.format("gavro").option("schema", "request_log").load(dir)
      .filter(col("session_id").isin(keys: _*))
      .select(col("session_id"), col("endpoint"), col("latency_ms"))
      .orderBy(col("session_id"))
  }

  /** Range probe through a Z-ORDERED layout: the archive is written in
    * arrival order (latency and user id both value-unclustered — every
    * block's [min, max] spans ~the full range, so a range leaf can skip
    * nothing), then [[clusterTable]] rewrites it Morton-ordered on
    * (user_id, latency_ms) and the probe ranges BOTH dimensions. The
    * DuckDB oracle recomputes the same predicate from the raw `events`
    * synthesis, so a hash match proves the clustered rewrite is
    * row-preserving and the reader-side range eval exact over the new
    * layout; the spec side separately proves the layout actually skips
    * (blocks read ≪ total on each dimension independently). */
  def gavroClusterScan(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_gavro_cluster_" + Integer.toHexString(sfDir.hashCode)).getAbsolutePath
    write(events
      .select(AvroCodec.requestLogRec.as("rec"))
      .select(expr("to_avro_graft(rec, 'request_log')").as("bin")), dir,
      blockBytes = 8192L)
    clusterTable(spark, dir, "request_log", Seq("user_id", "latency_ms"),
      zorder = true, blockBytes = 8192L, targetFileBytes = 128L << 10)
    spark.read.format("gavro").option("schema", "request_log").load(dir)
      .filter(col("latency_ms") >= 100 && col("latency_ms") < 140 &&
        col("user_id") >= 3L && col("user_id") < 10L)
      .groupBy(col("endpoint"))
      .agg(count(lit(1)).as("n"), sum(col("latency_ms")).as("sum_latency"),
        sum(col("user_id")).as("sum_user"))
      .orderBy(col("endpoint"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gavro_scan" -> ((s, d) => gavroScan(s, d)),
    "gavro_bloom_scan" -> ((s, d) => gavroBloomScan(s, d)),
    "gavro_cluster_scan" -> ((s, d) => gavroClusterScan(s, d)),
    "gavro_or_pushdown" -> ((s, d) => gavroOrPushdown(s, d)),
    "gavro_not_semantics" -> ((s, d) => gavroNotSemantics(s, d)),
    "gavro_optimize_scan" -> ((s, d) => gavroOptimizeScan(s, d)),
    "gavro_change_feed" -> ((s, d) => gavroChangeFeed(s, d)),
    "gavro_scan_pushdown" -> ((s, d) => gavroScanPushdown(s, d)),
    "gavro_agg_pushdown" -> ((s, d) => gavroAggPushdown(s, d)),
    "gavro_evolved_scan" -> ((s, d) => gavroEvolvedScan(s, d)),
    "gavro_asof_scan" -> ((s, d) => gavroAsofScan(s, d)),
  )

  def oracleSql: Map[String, String] = Map(
    "gavro_cluster_scan" ->
      """SELECT '/api/' || event_type AS endpoint, count(*) AS n,
        |  sum(event_id % 500)::BIGINT AS sum_latency,
        |  sum(CASE WHEN user_id % 11 = 0 THEN NULL ELSE user_id END)::BIGINT
        |    AS sum_user
        |FROM events
        |WHERE event_id % 500 >= 100 AND event_id % 500 < 140
        |  AND (CASE WHEN user_id % 11 = 0 THEN NULL ELSE user_id END) >= 3
        |  AND (CASE WHEN user_id % 11 = 0 THEN NULL ELSE user_id END) < 10
        |GROUP BY 1 ORDER BY endpoint""".stripMargin,
    "gavro_bloom_scan" ->
      """SELECT md5(event_id::VARCHAR) AS session_id,
        |  '/api/' || event_type AS endpoint,
        |  (event_id % 500)::INT AS latency_ms
        |FROM events
        |WHERE md5(event_id::VARCHAR)
        |  IN (md5('8'), md5('21'), md5('42'), 'not-a-session-key')
        |ORDER BY session_id""".stripMargin,
    "gavro_scan" ->
      """SELECT '/api/' || event_type AS endpoint,
        |  count(*) AS n,
        |  sum(CASE WHEN event_id % 7 = 0 THEN 500 ELSE 200 END)::BIGINT AS sum_status
        |FROM events GROUP BY 1 ORDER BY endpoint""".stripMargin,
    "gavro_or_pushdown" ->
      """SELECT '/api/' || event_type AS endpoint, count(*) AS n,
        |  sum(event_id % 500)::BIGINT AS sum_latency
        |FROM events
        |WHERE event_id % 7 = 0
        |   OR ('/api/' || event_type >= '/api/p' AND event_id % 500 < 250)
        |GROUP BY 1 ORDER BY endpoint""".stripMargin,
    "gavro_not_semantics" ->
      """SELECT '/api/' || event_type AS endpoint, count(*) AS n,
        |  count(CASE WHEN user_id % 11 = 0 THEN NULL ELSE user_id END)
        |    AS n_user_known,
        |  sum(event_id % 500)::BIGINT AS sum_latency
        |FROM events
        |WHERE (CASE WHEN user_id % 11 = 0 THEN NULL ELSE user_id END)
        |        IS DISTINCT FROM 4
        |  AND (NOT ((CASE WHEN user_id % 11 = 0 THEN NULL ELSE user_id END) = 4)
        |       OR (CASE WHEN event_id % 7 = 0 THEN 500 ELSE 200 END) = 500)
        |GROUP BY 1 ORDER BY endpoint""".stripMargin,
    "gavro_scan_pushdown" ->
      """SELECT '/api/' || event_type AS endpoint, count(*) AS n,
        |  sum(event_id % 500)::BIGINT AS sum_latency
        |FROM events
        |WHERE event_id % 7 = 0 AND '/api/' || event_type >= '/api/p'
        |GROUP BY 1 ORDER BY endpoint""".stripMargin,
    "gavro_agg_pushdown" ->
      """SELECT '/api/' || event_type AS endpoint,
        |  count(*) AS n,
        |  sum(event_id % 500)::BIGINT AS sum_latency,
        |  min(event_id % 500)::INT AS min_latency,
        |  max(event_id % 500)::INT AS max_latency,
        |  count(CASE WHEN user_id % 11 = 0 THEN NULL ELSE user_id END) AS n_user_known
        |FROM events WHERE event_id % 7 <> 0
        |GROUP BY 1 ORDER BY endpoint""".stripMargin,
    "gavro_evolved_scan" ->
      """SELECT '/api/' || event_type AS endpoint,
        |  count(*) AS n,
        |  sum(event_id % 500)::DOUBLE AS sum_latency,
        |  0::BIGINT AS n_trace,
        |  count(CASE WHEN user_id % 11 = 0 THEN NULL ELSE user_id END) AS n_user_known
        |FROM events WHERE event_id % 7 <> 0
        |GROUP BY 1 ORDER BY endpoint""".stripMargin,
    // Post-optimize snapshot = the whole dataset, exactly once.
    "gavro_optimize_scan" ->
      """SELECT '/api/' || event_type AS endpoint,
        |  count(*) AS n,
        |  sum(CASE WHEN event_id % 7 = 0 THEN 500 ELSE 200 END)::BIGINT AS sum_status
        |FROM events GROUP BY 1 ORDER BY endpoint""".stripMargin,
    // Change feed since the first commit = the odd-id batch, exactly.
    "gavro_change_feed" ->
      """SELECT '/api/' || event_type AS endpoint,
        |  count(*) AS n,
        |  sum(CASE WHEN event_id % 7 = 0 THEN 500 ELSE 200 END)::BIGINT AS sum_status
        |FROM events WHERE event_id % 2 = 1
        |GROUP BY 1 ORDER BY endpoint""".stripMargin,
    // Time travel to the first commit = the even-id batch, exactly.
    "gavro_asof_scan" ->
      """SELECT '/api/' || event_type AS endpoint,
        |  count(*) AS n,
        |  sum(CASE WHEN event_id % 7 = 0 THEN 500 ELSE 200 END)::BIGINT AS sum_status
        |FROM events WHERE event_id % 2 = 0
        |GROUP BY 1 ORDER BY endpoint""".stripMargin,
  )
}
