package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsDelta, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.GraftConnectorShim
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.table.{GraftTable, Meta, TableIO}
import graft.table.iceberg.{IcebergMetadata, IcebergWrite}

/** One table format's side of a SQL row-level operation (DELETE /
  * UPDATE / MERGE INTO), as of one metadata load: all the shared
  * copy-on-write and merge-on-read operations need from a format. */
trait RowLevelTarget {
  /** the table's root; staging dirs live under it */
  def location: String
  def properties: Map[String, String]
  /** the mode a command runs in when its `write.<op>.mode` is unset */
  def defaultMode: String
  /** `capture` records the candidate files a copy-on-write scan plans */
  def scanBuilder(capture: Option[CopyOnWriteOperation]): ScanBuilder
  def writerFactory(schema: StructType, staging: String): GraftWriterFactory
  /** the copy-on-write replacement's layout */
  def distribution: Distribution = Distributions.unspecified()
  def ordering: Array[SortOrder] = Array.empty
  /** staged files replace the scanned group, in one snapshot */
  def commitReplace(staging: Path, replaced: Set[String]): Unit
  /** staged data files and position deletes land in one snapshot */
  def commitDelta(dataStaging: Path, delStaging: Path): Unit
}

object RowLevelOperations {
  val CopyOnWrite = "copy-on-write"
  val MergeOnRead = "merge-on-read"

  /** Routes a command by Iceberg's table property for it
    * (`write.delete.mode` / `write.update.mode` / `write.merge.mode`),
    * falling back to the format's default. `target` loads the table:
    * once here, and once more when the operation's write is built. */
  def builder(info: RowLevelOperationInfo,
      target: () => RowLevelTarget): RowLevelOperationBuilder = () => {
    val key = info.command() match {
      case Command.DELETE => "write.delete.mode"
      case Command.UPDATE => "write.update.mode"
      case _ => "write.merge.mode"
    }
    val t = target()
    val mode = t.properties.get(key)
      .filter(m => m == CopyOnWrite || m == MergeOnRead)
      .getOrElse(t.defaultMode)
    if (mode == MergeOnRead) new MergeOnReadOperation(info.command(), target)
    else new CopyOnWriteOperation(info.command(), target)
  }
}

/** Group-based copy-on-write: the operation's scans record the
  * candidate files they planned; the replacement write commits new
  * files and removes exactly those, in one snapshot. Rows are never
  * filtered inside the scan (the condition lives in the replacement
  * projection), so non-matching rows of candidate files are copied
  * forward intact. */
class CopyOnWriteOperation(cmd: Command, target: () => RowLevelTarget)
  extends RowLevelOperation {

  /** Union across (re)plannings, in the metadata's own path form: the
    * op's scans DECLINE runtime filtering (filterAttributes), so every
    * planning — supportsColumnar, AQE, the group-filter subquery's own
    * scan — sees the same statically-pruned candidate set, and the
    * union equals exactly the files whose rows feed the replacement
    * write. */
  private[spark] val scanned =
    new java.util.concurrent.atomic.AtomicReference[Set[String]](Set.empty)

  override def command(): Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    target().scanBuilder(Some(this))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new ReplaceWrite(target(), info.schema(), () => scanned.get())
    }
}

/** The replacement write: executors stage the rows in the format's
  * layout; the commit swaps the scanned group for them. */
class ReplaceWrite(t: RowLevelTarget, schema: StructType,
    replaced: () => Set[String])
  extends Write with RequiresDistributionAndOrdering with BatchWrite {
  private val staging = TableIO.path(t.location,
    s"stage-rlo-${java.util.UUID.randomUUID().toString.take(8)}")
  override def requiredDistribution(): Distribution = t.distribution
  override def requiredOrdering(): Array[SortOrder] = t.ordering
  override def toBatch: BatchWrite = this
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    TableIO.mkdirs(staging)
    ReplaceRowAdapterFactory(t.writerFactory(schema, staging.toString), schema)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    t.commitReplace(staging, replaced())
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    TableIO.delete(staging, recursive = true)
}

/** Merge-on-read (SupportsDelta): the scan emits the row address
  * (_file, _pos) per candidate row; the write position-deletes matched
  * slots and appends only the changed rows — one snapshot, write cost
  * O(changed rows), no candidate-file rewrite (reference: operation.rs
  * delete-file commits; Iceberg's Spark delta writes use the same
  * row-id pair). */
class MergeOnReadOperation(cmd: Command, target: () => RowLevelTarget)
  extends RowLevelOperation with SupportsDelta {

  override def command(): Command = cmd

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftSparkTable.FileColName),
    Expressions.column(GraftSparkTable.PosColName))

  // the writer implements update() natively (delete old slot + write
  // the new row in the same task)
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  // no capture: nothing is replaced wholesale, so runtime filtering
  // may freely narrow the candidate FILES (positions are file-local)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    target().scanBuilder(None)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new StagedDeltaWrite(target(), info.schema())
    }
}

/** Executors stage new data files (partition-routed like every write
  * of the format) and position-delete files; the driver commit lands
  * both in one snapshot. */
class StagedDeltaWrite(t: RowLevelTarget, rowSchema: StructType)
  extends DeltaWrite with DeltaBatchWrite {
  override def toBatch(): DeltaBatchWrite = this
  private val suffix = java.util.UUID.randomUUID().toString.take(8)
  private val stagingData = TableIO.path(t.location, s"stage-delta-$suffix")
  private val stagingDel = TableIO.path(t.location, s"stage-deltadel-$suffix")
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    TableIO.mkdirs(stagingData)
    TableIO.mkdirs(stagingDel)
    GraftDeltaWriterFactory(t.writerFactory(rowSchema, stagingData.toString),
      stagingDel.toString, GraftConnectorShim.prepareParquetWriteConf(
        SparkSession.active, GraftDeltaWriterFactory.DeleteSchema))
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    t.commitDelta(stagingData, stagingDel)
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    TableIO.delete(stagingData, recursive = true)
    TableIO.delete(stagingDel, recursive = true)
  }
}

/** A graft table: copy-on-write by default (`write.<op>.mode` =
  * merge-on-read opts a table into delta writes); the replacement is
  * clustered and sorted by the table's spec and sort order. */
final class GraftRowLevelTarget(val location: String) extends RowLevelTarget {
  private lazy val meta = Meta.load(location)
  private def table = GraftTable.load(SparkSession.active, location)
  def properties: Map[String, String] = meta.properties
  def defaultMode: String = RowLevelOperations.CopyOnWrite
  def scanBuilder(capture: Option[CopyOnWriteOperation]): ScanBuilder =
    new TableScanBuilder(new GraftScanSource(location), capture)
  def writerFactory(schema: StructType, staging: String): GraftWriterFactory =
    GraftWriterFactory.forTable(meta, schema, staging)
  override def distribution: Distribution = GraftWriteLayout.distribution(meta)
  override def ordering: Array[SortOrder] = GraftWriteLayout.ordering(meta)
  def commitReplace(staging: Path, replaced: Set[String]): Unit =
    table.commitStagedReplace(staging, replaced.toSeq,
      presorted = GraftWriteLayout.presorted(meta))
  def commitDelta(dataStaging: Path, delStaging: Path): Unit =
    table.commitStagedDelta(dataStaging, delStaging)
}

/** A real-format Iceberg table: merge-on-read by default — matched
  * rows position-delete their old slots in a v2 delete manifest any
  * Iceberg reader folds, and CALL rewrite_data_files re-folds them —
  * with `write.<op>.mode` = copy-on-write opting a table into one
  * 'overwrite' snapshot that swaps the candidate files (reference: v2
  * delete commits of iceberg-rust/src/table/transaction +
  * datafusion_iceberg's delete semantics). Writes take no layout. */
final class IcebergRowLevelTarget(val location: String) extends RowLevelTarget {
  private lazy val meta = IcebergMetadata.load(location)
  def properties: Map[String, String] = meta.properties
  def defaultMode: String = RowLevelOperations.MergeOnRead
  def scanBuilder(capture: Option[CopyOnWriteOperation]): ScanBuilder =
    new TableScanBuilder(new IcebergScanSource(location), capture)
  def writerFactory(schema: StructType, staging: String): GraftWriterFactory =
    GraftWriterFactory.forIceberg(meta, schema, staging)
  def commitReplace(staging: Path, replaced: Set[String]): Unit =
    IcebergWrite.commitReplaceFiles(SparkSession.active, location, staging, replaced)
  def commitDelta(dataStaging: Path, delStaging: Path): Unit =
    IcebergWrite.commitDelta(SparkSession.active, location, dataStaging, delStaging)
}
