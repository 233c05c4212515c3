package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.GraftConnectorShim
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.table.{GraftTable, Meta}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** DataSource V2 connector: GraftTables as first-class Spark sources —
  *
  *   spark.read.format("graft").load(root)
  *   spark.read.format("graft").option("snapshot", "3").load(root)
  *   spark.read.format("graft").option("branch", "dev").load(root)
  *
  * The ScanBuilder pushes filters and required columns: comparison
  * predicates prune data files against the manifest min/max stats
  * BEFORE planning (reference: pruning_statistics.rs — the same
  * metadata-first skip), then ride into Spark's vectorized parquet
  * reader for row-group pruning. File tasks are bin-packed toward
  * maxPartitionBytes so task count tracks data size, not file count.
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with CreatableRelationProvider {
  override def shortName(): String = "graft"

  private def root(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft source requires a path")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    // a write to a not-yet-created table resolves the provider before
    // createRelation runs — report an empty schema instead of failing
    TableFormat.resolve(root(options)).fold(StructType(Nil))(_.schemaAt(None))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    GraftSparkTable.at(properties.get("path"))

  /** Write path for a root whose table cannot take a V2 batch write:
    * `df.write` goes through the one V2 write (TableWriteBuilder)
    * whenever the table supports BATCH_WRITE — appends and overwrites
    * onto an existing graft or Iceberg table — so Spark calls this
    * only for a path with no table yet, which the first write creates
    * from the incoming schema. */
  override def createRelation(
      ctx: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft sink requires a path"))
    val spark = data.sparkSession
    val t = TableFormat.resolve(path) match {
      case Some(_: TableFormat.GraftFormat) => GraftTable.load(spark, path)
      case Some(_) =>
        throw new IllegalStateException(
          s"$path holds a real-format Iceberg table; the graft writer " +
            "cannot commit to it — use IcebergWrite for foreign tables")
      case None => GraftTable.create(spark, path, data.schema)
    }
    mode match {
      case org.apache.spark.sql.SaveMode.Append => t.append(data)
      case org.apache.spark.sql.SaveMode.Overwrite => t.overwrite(data)
      case org.apache.spark.sql.SaveMode.ErrorIfExists =>
        if (t.meta.currentSnapshotId.isDefined)
          throw new IllegalStateException(s"graft table $path is not empty")
        t.append(data)
      case org.apache.spark.sql.SaveMode.Ignore =>
        if (t.meta.currentSnapshotId.isEmpty) t.append(data)
    }
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = t.meta.schema
    }
  }
}

/** The one DSv2 table for both formats, over the `format` a resolver
  * found at `root` (None: no table yet, which only a first write
  * creates). Reads, writes, SQL DELETE / UPDATE / MERGE and streaming
  * go through the shared scan, write and row-level layers; the format
  * supplies only what differs. A `pinnedSnapshot` is a time-travel pin
  * (`VERSION AS OF` / `TIMESTAMP AS OF`). */
class GraftSparkTable(root: String, format: Option[TableFormat],
    pinnedSnapshot: Option[Long] = None) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  private def tableFormat: TableFormat =
    format.getOrElse(throw new IllegalStateException(s"no table at $root"))

  override def name(): String = s"${format.fold("graft")(_.kind)}.`$root`"
  override def schema(): StructType =
    format.fold(StructType(Nil))(_.schemaAt(pinnedSnapshot))

  /** BATCH_WRITE only once the table exists — creation-on-first-write
    * goes through the V1 provider, which knows the incoming schema. */
  override def capabilities(): java.util.Set[TableCapability] =
    format.fold[java.util.Set[TableCapability]](
      java.util.EnumSet.of(TableCapability.BATCH_READ))(_.capabilities)

  /** The default spec's transforms in V2 terms (analyzer metadata:
    * what makes `INSERT OVERWRITE ... PARTITION (col=...)` resolve and
    * DESCRIBE show the layout; the scan's KeyGroupedPartitioning is
    * what drives SPJ). */
  override def partitioning(): Array[Transform] =
    format.fold(Array.empty[Transform])(_.spec.flatMap(RowTransform.toV2).toArray)

  /** Row-address metadata columns, the delta row id (Iceberg's own
    * Spark integration exposes the same pair). Emitted by the scan on
    * request: bins are read one file at a time, counting raw stream
    * indexes (RowIdAppendFactory). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftSparkTable.FileMetaCol, GraftSparkTable.PosMetaCol)

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    tableFormat.canDeleteWhere(filters)
  override def deleteWhere(filters: Array[Filter]): Unit = tableFormat.deleteWhere(filters)

  /** SQL UPDATE / MERGE INTO (and DELETEs SupportsDelete can't take):
    * each format's default mode, overridden by `write.<op>.mode`. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    RowLevelOperations.builder(info, () => tableFormat.writeTarget)

  /** `end-snapshot-id` alone pins that snapshot; with
    * `start-snapshot-id` only rows appended in (start, end ?? current]
    * are read — IO scales with the delta, not the table. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    def opt(k: String) = Option(options.get(k))
    new TableScanBuilder(tableFormat.scanSource(
      pinnedSnapshot.orElse(opt("snapshot").map(_.toLong))
        .orElse(opt("end-snapshot-id").map(_.toLong)),
      opt("branch"), opt("start-snapshot-id").map(_.toLong)),
      options = options.asCaseSensitiveMap().asScala.toMap)
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new TableWriteBuilder(tableFormat.writeTarget, info)
}

object GraftSparkTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}

  /** The table at `root`, whichever format it is in. */
  def at(root: String): GraftSparkTable = new GraftSparkTable(root, TableFormat.resolve(root))

  val FileColName = "_file"
  val PosColName = "_pos"

  // literals rendered through the SAME canonical form the manifest
  // stats use — naive toString on temporal values would make the
  // rewrite-candidate pruning unsound (matching rows silently kept)
  private[spark] def statFilterOf(f: Filter): Option[(String, String, String)] =
    f match {
      case EqualTo(a, v) => canonicalLiteral(v).map((a, "=", _))
      // <=> with a non-null literal selects exactly = v (the shape a
      // static `PARTITION (col='x')` overwrite arrives in)
      case org.apache.spark.sql.sources.EqualNullSafe(a, v) if v != null =>
        canonicalLiteral(v).map((a, "=", _))
      case GreaterThan(a, v) => canonicalLiteral(v).map((a, ">", _))
      case GreaterThanOrEqual(a, v) => canonicalLiteral(v).map((a, ">=", _))
      case LessThan(a, v) => canonicalLiteral(v).map((a, "<", _))
      case LessThanOrEqual(a, v) => canonicalLiteral(v).map((a, "<=", _))
      case _ => None
    }

  /** Render a filter literal in the SAME canonical string form
    * FooterStats writes into the manifest — naive toString is unsound
    * for temporal values (java.sql.Timestamp appends '.0', Instant
    * uses 'T...Z'), and a lexicographic mismatch silently drops files
    * whose stat boundary equals the literal. Types with no canonical
    * form return None: the filter still runs, it just can't prune. */
  private def canonicalLiteral(v: Any): Option[String] = {
    def micros(i: java.time.Instant): Long =
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
    v match {
      case null => None
      case _: java.math.BigDecimal | _: BigDecimal => None // stats skip decimals
      case n: Number => Some(n.toString)
      case s: String => Some(s)
      case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
      case d: java.sql.Date => Some(d.toLocalDate.toString)
      case d: java.time.LocalDate => Some(d.toString)
      case t: java.sql.Timestamp =>
        Some(graft.table.FooterStats.canonicalTimestampMicros(micros(t.toInstant)))
      case i: java.time.Instant =>
        Some(graft.table.FooterStats.canonicalTimestampMicros(micros(i)))
      case _ => None
    }
  }

  val FileMetaCol: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = FileColName
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "qualified URI of the row's data file"
    }

  val PosMetaCol: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = PosColName
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String = "row position within the data file"
    }

  /** sources.Filter -> Column, for the V2 SupportsDelete path. Only
    * filters with exact Column equivalents translate; anything else
    * returns None and the DELETE is rejected up front. */
  private[spark] def filterColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) =>
      for { x <- filterColumn(l); y <- filterColumn(r) } yield x && y
    case Or(l, r) =>
      for { x <- filterColumn(l); y <- filterColumn(r) } yield x || y
    case Not(c) => filterColumn(c).map(!_)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  /** A DELETE or overwrite whose condition does not translate fails
    * the statement fast — never a silent wrong delete or a whole-table
    * truncate. */
  private[spark] def translatable(filters: Array[Filter]): Boolean =
    filters.forall(f => filterColumn(f).isDefined)

  /** An overwrite with no filter, or only AlwaysTrue, IS a truncate. */
  private[spark] def selectsAll(filters: Array[Filter]): Boolean =
    filters.forall(_.isInstanceOf[AlwaysTrue])

  /** Both formats' delete/overwrite-by-filter translation: the row
    * condition, the manifest stat triples that prune rewrite
    * candidates, and the (column, value) equalities that prove
    * whole-file drops. Those proofs exist only when EVERY conjunct is a
    * stat-expressible equality — else stats can't cover the residual
    * and every candidate rewrites. */
  private[spark] def overwriteByFilter(filters: Seq[Filter])
      : (Column, Seq[(String, String, String)], Seq[(String, String)]) = {
    val cond = filters.flatMap(filterColumn).reduceOption(_ && _).getOrElse(lit(true))
    val triples = filters.flatMap(statFilterOf)
    val eqProofs =
      if (triples.size == filters.size && filters.forall {
            case _: EqualTo | _: EqualNullSafe => true
            case _ => false
          })
        triples.map(f => (f._1, f._3))
      else Seq.empty
    (cond, triples, eqProofs)
  }
}

object GraftDeltaWriterFactory {
  /** Iceberg's position-delete file schema, with the spec's RESERVED
    * field ids in the metadata so the footers carry them
    * (2147483546 / 2147483545 — id-based readers resolve delete
    * files without a name mapping). */
  val DeleteSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("file_path",
      org.apache.spark.sql.types.StringType, nullable = false,
      metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", 2147483546L).build()),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = false,
      metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", 2147483545L).build())))
}

/** Executor side of every delta write: changed rows go through the
  * format's data-writer factory, deleted slots into position-delete
  * files under `delStaging`. */
case class GraftDeltaWriterFactory(data: GraftWriterFactory,
    delStaging: String,
    delConf: org.apache.spark.util.SerializableConfiguration)
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new org.apache.spark.sql.connector.write.DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] {
      // both writers open lazily: a delete-only task writes no data
      // parquet, an insert-only task writes no delete parquet
      private var insertWriter
          : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] = _
      private var delWriter
          : org.apache.spark.sql.execution.datasources.OutputWriter = _
      private val delRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)

      override def insert(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        if (insertWriter == null)
          insertWriter = data.createWriter(partitionId, taskId)
        insertWriter.write(row)
      }

      override def delete(meta: org.apache.spark.sql.catalyst.InternalRow,
          id: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        if (delWriter == null)
          delWriter = GraftConnectorShim.newParquetTaskWriter(
            s"$delStaging/del-$partitionId-$taskId.parquet",
            delConf.value, partitionId, taskId)
        // id fields follow rowId() order: (_file, _pos)
        delRow.update(0, id.getUTF8String(0))
        delRow.update(1, id.getLong(1))
        delWriter.write(delRow)
      }

      override def update(meta: org.apache.spark.sql.catalyst.InternalRow,
          id: org.apache.spark.sql.catalyst.InternalRow,
          row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        delete(meta, id)
        insert(row)
      }

      override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
        if (delWriter != null) delWriter.close()
        if (insertWriter != null) insertWriter.commit()
        else GraftCommitMessage("delta: deletes only", 0L)
      }

      override def abort(): Unit = {
        if (delWriter != null) delWriter.close()
        if (insertWriter != null) insertWriter.abort()
      }

      override def close(): Unit = ()
    }
}

/** ReplaceData feeds writers `__row_operation +: dataColumns` when the
  * operation declares no metadata attributes (Spark applies a
  * projection only on the metadata path) — this adapter strips the
  * leading operation column so the parquet writers see exactly the
  * table schema. */
case class ReplaceRowAdapterFactory(
    inner: org.apache.spark.sql.connector.write.DataWriterFactory,
    dataSchema: StructType)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private val w = inner.createWriter(partitionId, taskId)
      private lazy val proj = new org.apache.spark.sql.catalyst.ProjectingInternalRow(
        dataSchema, (1 to dataSchema.length).toIndexedSeq)
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        if (row.numFields == dataSchema.length) w.write(row)
        else { proj.project(row); w.write(proj) }
      override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage =
        w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
}

/** Stable binding key: a file's normalized URI path. Partition
  * INDEXES are not stable — Spark may plan a scan once for
  * supportsColumnar/outputPartitioning and AGAIN after runtime
  * filtering re-packs the surviving subset, while the reader factory
  * keeps the first planning's bindings — so delete specs, name-mapping
  * routes and row-id files bind by FILE identity, each keyed by every
  * file of its bin. `of` answers a partition's first file: any file of
  * a bin finds the bin's binding, and a single-file partition its
  * own. */
object PartitionBindKey {
  def ofPath(path: String): String =
    new org.apache.hadoop.fs.Path(path).toUri.getPath
  def of(p: InputPartition): String = p match {
    case f: org.apache.spark.sql.execution.datasources.FilePartition
        if f.files.nonEmpty =>
      f.files.head.filePath.toPath.toUri.getPath
    case k: KeyedFilePartition => of(k.inner)
    case _ => ""
  }
}

/** Reads a bin one file at a time: `open` gets a single-file partition
  * per file, and each inner reader is closed before the next opens.
  * An inner reader that pushes no filter then counts every raw row of
  * its file, so its stream index is the row's position in that file —
  * what position deletes and row ids need, inside multi-file bins. */
object PerFileReader {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.execution.datasources.FilePartition

  def apply(p: InputPartition)(open: FilePartition => PartitionReader[InternalRow])
      : PartitionReader[InternalRow] = files(p) match {
    case Seq(one) => open(one)
    case parts => new PartitionReader[InternalRow] {
      private val rest = parts.iterator
      private var cur: PartitionReader[InternalRow] = null
      override def next(): Boolean = {
        while (cur != null || rest.hasNext) {
          if (cur == null) cur = open(rest.next())
          if (cur.next()) return true
          cur.close(); cur = null
        }
        false
      }
      override def get(): InternalRow = cur.get()
      override def close(): Unit = if (cur != null) { cur.close(); cur = null }
    }
  }

  private def files(p: InputPartition): Seq[FilePartition] = p match {
    case f: FilePartition => f.files.toSeq.map(pf => FilePartition(f.index, Array(pf)))
    case k: KeyedFilePartition => files(k.inner)
    case other => throw new IllegalArgumentException(s"not a file partition: $other")
  }
}

/** Appends the row-address metadata columns (_file, _pos) to each row,
  * reading the bin one file at a time (PerFileReader): `_pos` is the
  * row's position within its file, `_file` that file's URI. Wraps
  * BELOW any MoR filtering so hidden rows still advance the position
  * counter. */
case class RowIdAppendFactory(
    delegate: PartitionReaderFactory,
    fileByPath: Map[String, String],
    colOrder: Seq[String])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    PerFileReader(partition) { part =>
      val file = fileByPath.getOrElse(PartitionBindKey.of(part),
        throw new IllegalStateException(
          s"row-id scan file ${PartitionBindKey.of(part)} has no binding"))
      val inner = delegate.createReader(part)
      new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
        private val fileUtf8 =
          org.apache.spark.unsafe.types.UTF8String.fromString(file)
        private val meta =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            colOrder.length)
        private val joined =
          new org.apache.spark.sql.catalyst.expressions.JoinedRow()
        private var pos = -1L
        override def next(): Boolean = {
          val has = inner.next()
          if (has) pos += 1
          has
        }
        override def get(): org.apache.spark.sql.catalyst.InternalRow = {
          // column order follows the REQUESTED schema tail
          colOrder.zipWithIndex.foreach { case (name, i) =>
            meta.update(i,
              if (name == GraftSparkTable.FileColName) fileUtf8 else pos)
          }
          joined(inner.get(), meta)
        }
        override def close(): Unit = inner.close()
      }
    }

  override def supportColumnarReads(p: InputPartition): Boolean = false
}

/** Key-grouped input partition for storage-partitioned joins: wraps a
  * FilePartition with its partition-value key. */
case class KeyedFilePartition(
    key: org.apache.spark.sql.catalyst.InternalRow,
    inner: org.apache.spark.sql.execution.datasources.FilePartition)
  extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Unwraps KeyedFilePartition before the parquet factory (which casts
  * its input to FilePartition). */
case class UnwrapKeyedFactory(delegate: PartitionReaderFactory)
  extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition = p match {
    case k: KeyedFilePartition => k.inner
    case other => other
  }
  override def createReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    delegate.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    delegate.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    delegate.supportColumnarReads(unwrap(p))
}

/** DSv2 custom metrics the scan reports at planning time — pruning
  * effectiveness and MoR overhead, surfaced in the Spark UI per scan
  * node. All are driver metrics (planning facts), aggregated as sums. */
object GraftScanMetrics {
  import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}

  val all: Array[CustomMetric] = Array(
    new LiveDataFilesMetric, new PlannedDataFilesMetric,
    new PrunedDataFilesMetric, new PlannedBytesMetric,
    new DeleteFilesAppliedMetric)

  def task(metricName: String, v: Long): CustomTaskMetric =
    new CustomTaskMetric {
      override def name(): String = metricName
      override def value(): Long = v
    }

  /** Write-side counterparts, reported per task by the V2 writers. */
  val writeMetrics: Array[CustomMetric] = Array(
    new RowsWrittenMetric, new FilesWrittenMetric)
}

// Spark re-instantiates CustomMetric classes REFLECTIVELY on the
// driver when aggregating task metrics, so each must be a top-level
// class with a zero-arg constructor — a parameterized shared class
// throws SparkException at aggregation time and the UI metric is lost.
private[spark] class LiveDataFilesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "liveDataFiles"
  override def description(): String = "live data files in the scanned snapshot"
}
private[spark] class PlannedDataFilesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "plannedDataFiles"
  override def description(): String = "data files planned after pruning"
}
private[spark] class PrunedDataFilesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "prunedDataFiles"
  override def description(): String = "data files skipped by stats/partition pruning"
}
private[spark] class PlannedBytesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "plannedBytes"
  override def description(): String = "bytes planned for read"
}
private[spark] class DeleteFilesAppliedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "deleteFilesApplied"
  override def description(): String = "merge-on-read delete files applied"
}
private[spark] class RowsWrittenMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "rowsWritten"
  override def description(): String = "rows written by this write"
}
private[spark] class FilesWrittenMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "filesWritten"
  override def description(): String = "data files written by this write"
}

/** One bin of add_files-imported files: the pinned name mapping plus
  * the (bin-uniform) spec id and partition values its identity
  * constants derive from. */
case class ImportedGroup(mapping: Map[String, String], specId: Int,
    partitionValues: Map[String, String])

object ImportedGroup {
  /** ordinal (in readSchema) → catalyst constant, for identity
    * sources the imported files' pages don't carry (hive layout
    * strips them into the directory names). */
  def overrides(table: Meta.TableMetadata, readSchema: StructType,
      g: ImportedGroup): Seq[(Int, Any)] =
    readSchema.fields.zipWithIndex.toSeq.flatMap { case (f, i) =>
      if (!Meta.fieldId(f).exists(id => !g.mapping.contains(id.toString)))
        None
      else table.specs.getOrElse(g.specId, Seq.empty)
        .find(pf => pf.transform == "identity" && pf.sourceColumn == f.name)
        .flatMap(pf => g.partitionValues.get(pf.name))
        .map(v => i -> castValue(v, f.dataType))
    }

  def castValue(v: String, dt: org.apache.spark.sql.types.DataType): Any =
    org.apache.spark.sql.catalyst.expressions.Cast(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(v),
        org.apache.spark.sql.types.StringType), dt, Some("UTC")).eval(null)
}

/** Routes partitions of add_files-imported (name-mapped) files to the
  * reader factory built over their pinned import-time schema, with
  * per-bin identity-constant fill; everything else takes the default.
  * The mapped output layout (positions, types) is identical to the
  * default's, so consumers above can't tell the difference. Forces
  * row-based reads for the WHOLE scan: Spark requires partition
  * uniformity, and the fill projection is row-based. */
case class NameMapRoutingFactory(default: PartitionReaderFactory,
    byPartition: Map[String, (PartitionReaderFactory, Seq[(Int, Any)])],
    readSchema: StructType)
  extends PartitionReaderFactory {
  private def pick(p: InputPartition)
      : Option[(PartitionReaderFactory, Seq[(Int, Any)])] =
    byPartition.get(PartitionBindKey.of(p))
  override def createReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    pick(p) match {
      case None => default.createReader(p)
      case Some((f, Seq())) => f.createReader(p)
      case Some((f, ovs)) =>
        val inner = f.createReader(p)
        val exprs = readSchema.fields.zipWithIndex.map { case (fd, i) =>
          ovs.find(_._1 == i)
            .map(o => org.apache.spark.sql.catalyst.expressions.Literal(
              o._2, fd.dataType): org.apache.spark.sql.catalyst.expressions.Expression)
            .getOrElse(org.apache.spark.sql.catalyst.expressions.BoundReference(
              i, fd.dataType, nullable = true))
        }.toIndexedSeq
        val proj = org.apache.spark.sql.catalyst.expressions
          .UnsafeProjection.create(exprs)
        new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
          override def next(): Boolean = inner.next()
          override def get(): org.apache.spark.sql.catalyst.InternalRow =
            proj(inner.get())
          override def close(): Unit = inner.close()
        }
    }
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    pick(p).map(_._1).getOrElse(default).createColumnarReader(p)
  override def supportColumnarReads(p: InputPartition): Boolean = false
}

/** Appends one per-partition string constant as a trailing column —
  * the position_deletes metadata table uses it to stamp each row with
  * the delete file it came from. Row-based by construction. */
case class AppendConstStringFactory(delegate: PartitionReaderFactory,
    byPartition: Map[Int, String], innerSchema: StructType)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions._
    val idx = p match {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.index
      case _ => -1
    }
    val const = byPartition.getOrElse(idx, "")
    val inner = delegate.createReader(p)
    val exprs = innerSchema.fields.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, nullable = true): Expression
    }.toIndexedSeq :+ (Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(const),
      org.apache.spark.sql.types.StringType): Expression)
    val proj = UnsafeProjection.create(exprs)
    new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): org.apache.spark.sql.catalyst.InternalRow =
        proj(inner.get())
      override def close(): Unit = inner.close()
    }
  }
  override def supportColumnarReads(p: InputPartition): Boolean = false
}

/** One equality-delete group, executor-readable: where the key columns
  * sit in the read schema, plus the parquet reader factory + file
  * partition an executor uses to load the delete keys ITSELF. Keys
  * never pass through the driver or task closures (at 100 TB a delete
  * set can be millions of keys — driver collection would OOM and
  * bloat every closure; this mirrors how Iceberg readers handle v2
  * delete files). */
case class DeleteFilesSpec(
    keyIndexes: Array[Int],
    keyTypes: Array[org.apache.spark.sql.types.DataType],
    factory: PartitionReaderFactory,
    part: org.apache.spark.sql.execution.datasources.FilePartition,
    cacheKey: String)

/** One position-delete group, executor-readable: the parquet reader
  * factory + file partition over (file_path, pos) delete rows. */
case class PosDeleteSpec(
    factory: PartitionReaderFactory,
    part: org.apache.spark.sql.execution.datasources.FilePartition,
    cacheKey: String)

/** Per-JVM cache of delete-key sets: each executor reads a delete file
  * group once, no matter how many tasks apply it. */
object DeleteKeyCache {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Set[Vector[Any]]]()
  private val posCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Set[Long]]]()

  def get(spec: DeleteFilesSpec): Set[Vector[Any]] =
    cache.computeIfAbsent(spec.cacheKey, _ => load(spec))

  /** Deleted row positions grouped by data-file URI path. */
  def getPositions(spec: PosDeleteSpec): Map[String, Set[Long]] =
    posCache.computeIfAbsent(spec.cacheKey, _ => loadPositions(spec))

  private def loadPositions(spec: PosDeleteSpec): Map[String, Set[Long]] = {
    val reader = spec.factory.createReader(spec.part)
    val b = scala.collection.mutable.Map[String, scala.collection.mutable.Set[Long]]()
    try {
      while (reader.next()) {
        val r = reader.get()
        // normalize URI forms (file:/ vs file:///) to the path part
        val key = new org.apache.hadoop.fs.Path(
          r.getUTF8String(0).toString).toUri.getPath
        b.getOrElseUpdate(key, scala.collection.mutable.Set[Long]()) += r.getLong(1)
      }
    } finally reader.close()
    b.map { case (k, v) => k -> v.toSet }.toMap
  }

  // reader rows reuse buffers; key values must be defensively copied
  private def copyVal(v: Any): Any = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.copy()
    case a: org.apache.spark.sql.catalyst.util.ArrayData => a.copy()
    case r: org.apache.spark.sql.catalyst.InternalRow => r.copy()
    case other => other
  }

  private def load(spec: DeleteFilesSpec): Set[Vector[Any]] = {
    val reader = spec.factory.createReader(spec.part)
    val b = Set.newBuilder[Vector[Any]]
    try {
      while (reader.next()) {
        val r = reader.get()
        b += spec.keyTypes.indices
          .map(i => copyVal(r.get(i, spec.keyTypes(i)))).toVector
      }
    } finally reader.close()
    b.result()
  }
}

/** Wraps the parquet reader factory to drop deleted rows, reading the
  * bin one file at a time (PerFileReader). Files were bound to their
  * applicable delete groups at planning time (sequence-scoped: files
  * appended AFTER a delete are not filtered by it): equality groups
  * drop rows by key, a position group by the row's position in its
  * own file. */
case class MorReaderFactory(
    delegate: PartitionReaderFactory,
    specsByFile: Map[String, Seq[DeleteFilesSpec]],
    posByFile: Map[String, PosDeleteSpec] = Map.empty,
    rawDelegate: Option[PartitionReaderFactory] = None)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    PerFileReader(partition) { part =>
      val file = PartitionBindKey.of(part)
      val specs = specsByFile.getOrElse(file, Seq.empty)
      val pos = posByFile.get(file)
      // position-bound files must count every raw row — use the
      // unpushed reader for them when one was built
      val inner = (if (pos.isDefined) rawDelegate.getOrElse(delegate)
        else delegate).createReader(part)
      if (specs.isEmpty && pos.isEmpty) inner
      else new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
        private val groups = specs.map(s => (s, DeleteKeyCache.get(s)))
        // the inner reader reads this one file whole, so its stream
        // index IS the row index within the file
        private val deadPositions: Set[Long] = pos.fold(Set.empty[Long])(
          DeleteKeyCache.getPositions(_).getOrElse(file, Set.empty))
        private var rowIdx = -1L
        private var current: org.apache.spark.sql.catalyst.InternalRow = _
        private def deleted(row: org.apache.spark.sql.catalyst.InternalRow): Boolean =
          deadPositions.contains(rowIdx) ||
            groups.exists { case (s, keys) =>
              val key = (0 until s.keyIndexes.length).map(i =>
                row.get(s.keyIndexes(i), s.keyTypes(i))).toVector
              keys.contains(key)
            }
        override def next(): Boolean = {
          while (inner.next()) {
            rowIdx += 1
            val r = inner.get()
            if (!deleted(r)) { current = r; return true }
          }
          false
        }
        override def get(): org.apache.spark.sql.catalyst.InternalRow = current
        override def close(): Unit = inner.close()
      }
    }

  // all partitions must agree on columnar vs row (Spark checks the
  // whole scan), so a scan with any live deletes reads row-based
  override def supportColumnarReads(p: InputPartition): Boolean = false
}

case class GraftCommitMessage(path: String, rows: Long)
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

object GraftWriterFactory {
  /** Per-file random tag baked into every staged file name.
    * `part-<partitionId>-<taskId>` alone is NOT collision-proof:
    * task ids restart from 0 in a new JVM, so a streaming recovery
    * replay (zombie run vs winner racing the same epoch) stages
    * files whose names collide with ones the winner already
    * ingested — and the loser's ingest rename would silently
    * overwrite the winner's committed data file before the skipIf
    * reclaim deleted it. A random tag makes every staged file's
    * ingest destination unique, so no commit can ever rename over
    * (or reclaim) another commit's file. */
  def fileTag(): String =
    java.util.UUID.randomUUID().toString.take(8)

  /** Writes into the graft table `m` describes: footers carry its
    * field ids and bloom filters, rows route through its partition
    * spec. A row-less schema (a delete-only write) routes nothing. */
  def forTable(m: Meta.TableMetadata, schema: StructType,
      staging: String): GraftWriterFactory =
    GraftWriterFactory(staging,
      GraftConnectorShim.prepareParquetWriteConf(SparkSession.active,
        withTableFieldIds(m.schema, schema), GraftTable.bloomWriteOptions(m)),
      if (schema.isEmpty) Seq.empty else RowTransform.forSpec(m.spec, schema))

  /** The query's output schema usually arrives WITHOUT the table's
    * field-id metadata — graft parquet footers must carry the ids or
    * id-matched reads break, so re-attach them by name before the
    * write conf is prepared. */
  private def withTableFieldIds(table: StructType, schema: StructType): StructType =
    if (!Meta.hasFieldIds(table)) schema
    else StructType(schema.fields.map(f =>
      table.fields.find(_.name == f.name)
        .map(tf => f.copy(metadata = tf.metadata)).getOrElse(f)))

  /** Writes into a real-format Iceberg table: footers carry its field
    * ids, rows route through its default spec. A row-less schema (a
    * delete-only write) routes nothing. */
  def forIceberg(m: graft.table.iceberg.IcebergMetadata.IceMetadata,
      schema: StructType, staging: String): GraftWriterFactory =
    GraftWriterFactory(staging,
      GraftConnectorShim.prepareParquetWriteConf(SparkSession.active,
        m.schema.withFieldIds(schema)),
      if (schema.isEmpty) Seq.empty
      else RowTransform.forSpec(m.defaultPartitionFields, schema))
}

/** Executor side of every staged write, batch and streaming: partition-
  * spec'd tables row-route into `<field>=<value>` dirs. Streaming
  * writers stage under the epoch's `epoch-<id>` dir. */
case class GraftWriterFactory(staging: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    transforms: Seq[RowTransform] = Seq.empty)
  extends org.apache.spark.sql.connector.write.DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    writerIn(staging, partitionId, taskId)

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val dir = new org.apache.hadoop.fs.Path(s"$staging/epoch-$epochId")
    dir.getFileSystem(conf.value).mkdirs(dir)
    writerIn(dir.toString, partitionId, taskId)
  }

  private def writerIn(dir: String, partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    if (transforms.isEmpty)
      new GraftDataWriter(
        s"$dir/part-$partitionId-$taskId-${GraftWriterFactory.fileTag()}.parquet",
        conf.value, partitionId, taskId)
    else
      new PartitionedGraftDataWriter(dir, conf.value, partitionId, taskId, transforms)
}

/** Partition-routing writer: evaluates the spec transforms per row
  * (executor-side, same values as the Catalyst transform columns) and
  * streams rows into one open parquet file per partition value. The
  * requested clustered distribution keeps the set of open files per
  * task small. */
class PartitionedGraftDataWriter(staging: String,
    conf: org.apache.hadoop.conf.Configuration, partitionId: Int, taskId: Long,
    transforms: Seq[RowTransform])
  extends org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {

  private val writers = scala.collection.mutable.Map[
    String, (org.apache.spark.sql.execution.datasources.OutputWriter, String)]()
  private var rows = 0L

  override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    val dir = transforms.map(t => s"${t.name}=${t.eval(row)}").mkString("/")
    val w = writers.getOrElseUpdate(dir, {
      val path =
        s"$staging/$dir/part-$partitionId-$taskId-${GraftWriterFactory.fileTag()}.parquet"
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(conf).mkdirs(hp.getParent)
      (GraftConnectorShim.newParquetTaskWriter(path, conf, partitionId, taskId),
        path)
    })._1
    w.write(row); rows += 1
  }

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(GraftScanMetrics.task("rowsWritten", rows),
      GraftScanMetrics.task("filesWritten", writers.size.toLong))

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    writers.values.foreach(_._1.close())
    GraftCommitMessage(s"$staging ${writers.size} files", rows)
  }

  override def abort(): Unit = writers.values.foreach { case (w, path) =>
    w.close()
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(conf).delete(p, false)
  }

  override def close(): Unit = ()
}

class GraftDataWriter(path: String,
    conf: org.apache.hadoop.conf.Configuration, partitionId: Int, taskId: Long)
  extends org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
  private val writer =
    GraftConnectorShim.newParquetTaskWriter(path, conf, partitionId, taskId)
  private var rows = 0L

  override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    writer.write(row); rows += 1
  }
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(GraftScanMetrics.task("rowsWritten", rows),
      GraftScanMetrics.task("filesWritten", if (rows > 0) 1L else 0L))
  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    writer.close(); GraftCommitMessage(path, rows)
  }
  override def abort(): Unit = {
    writer.close()
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(conf).delete(p, false)
  }
  override def close(): Unit = ()
}

// ---- metadata-only aggregate pushdown --------------------------------

case class MetadataAgg(kind: String, column: String)
case class MetadataAggSpec(aggs: Seq[MetadataAgg], snapshotId: Option[Long])

/** LocalScan answering ungrouped COUNT/MIN/MAX from manifest stats —
  * the query never touches a data file. */
object MetadataAggScan {
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  def build(table: Meta.TableMetadata, spec: MetadataAggSpec)
      : org.apache.spark.sql.connector.read.LocalScan = {
    val files = table.liveFiles(spec.snapshotId)

    def typed(c: String): DataType =
      table.schema.fields.find(_.name == c).get.dataType

    def toCatalyst(v: String, t: DataType): Any = t match {
      case IntegerType => v.toInt
      case LongType => v.toLong
      case ShortType => v.toShort
      case DoubleType => v.toDouble
      case FloatType => v.toFloat
      case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(v)
      case other => throw new IllegalStateException(s"unexpected agg type $other")
    }

    def ordering(t: DataType): Ordering[Any] = (t match {
      case IntegerType => Ordering.Int.on[Any](_.asInstanceOf[Int])
      case LongType => Ordering.Long.on[Any](_.asInstanceOf[Long])
      case ShortType => Ordering.Short.on[Any](_.asInstanceOf[Short])
      case DoubleType => Ordering.Double.TotalOrdering.on[Any](_.asInstanceOf[Double])
      case FloatType => Ordering.Float.TotalOrdering.on[Any](_.asInstanceOf[Float])
      case StringType => Ordering.by[Any, String](_.toString)
      case other => throw new IllegalStateException(s"unexpected agg type $other")
    })

    val (values, fields) = spec.aggs.zipWithIndex.map { case (a, i) =>
      a.kind match {
        case "count" =>
          (files.map(_.recordCount).sum: Any,
            StructField(s"f$i", LongType, nullable = false))
        case "min" =>
          val t = typed(a.column)
          val v = files.map(f => toCatalyst(f.stats(a.column).min, t)).min(ordering(t))
          (v, StructField(s"f$i", t))
        case "max" =>
          val t = typed(a.column)
          val v = files.map(f => toCatalyst(f.stats(a.column).max, t)).max(ordering(t))
          (v, StructField(s"f$i", t))
      }
    }.unzip

    val schema = StructType(fields)
    val row = new GenericInternalRow(values.toArray)
    new org.apache.spark.sql.connector.read.LocalScan {
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = Array(row)
      override def readSchema(): StructType = schema
      override def description(): String =
        s"GraftMetadataAggScan(${spec.aggs.mkString(",")})"
    }
  }
}
