package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.distributions.Distribution
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsDelta, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.GraftConnectorShim
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.table.TableIO

object RowLevelOperations {
  val CopyOnWrite = "copy-on-write"
  val MergeOnRead = "merge-on-read"

  /** Routes a command by Iceberg's table property for it
    * (`write.delete.mode` / `write.update.mode` / `write.merge.mode`),
    * falling back to the format's default. `target` loads the table:
    * once here, and once more when the operation's write is built. */
  def builder(info: RowLevelOperationInfo,
      target: () => WriteTarget): RowLevelOperationBuilder = () => {
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
class CopyOnWriteOperation(cmd: Command, target: () => WriteTarget)
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
class ReplaceWrite(t: WriteTarget, schema: StructType,
    replaced: () => Set[String])
  extends Write with RequiresDistributionAndOrdering {
  override def requiredDistribution(): Distribution = t.layout.distribution
  override def requiredOrdering(): Array[SortOrder] = t.layout.ordering
  override def toBatch: BatchWrite =
    new StagedBatchWrite(TableIO.path(t.location,
        s"stage-rlo-${java.util.UUID.randomUUID().toString.take(8)}"),
      dir => ReplaceRowAdapterFactory(t.writerFactory(schema, dir), schema),
      t.commitReplace(_, replaced()))
}

/** Merge-on-read (SupportsDelta): the scan emits the row address
  * (_file, _pos) per candidate row; the write position-deletes matched
  * slots and appends only the changed rows — one snapshot, write cost
  * O(changed rows), no candidate-file rewrite (reference: operation.rs
  * delete-file commits; Iceberg's Spark delta writes use the same
  * row-id pair). */
class MergeOnReadOperation(cmd: Command, target: () => WriteTarget)
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
class StagedDeltaWrite(t: WriteTarget, rowSchema: StructType)
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
