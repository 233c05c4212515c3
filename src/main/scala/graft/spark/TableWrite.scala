package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.metric.CustomMetric
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsDynamicOverwrite, SupportsOverwrite, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingWrite
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import graft.table.{GraftTable, Meta, StreamEpoch, TableIO}
import graft.table.iceberg.{IcebergMetadata, IcebergWrite}

/** One table format's side of every V2 write, as of one metadata
  * load: all the shared batch, streaming and row-level writes need
  * from a format. Each commit ingests a directory the executors
  * staged under `location`. */
trait WriteTarget {
  /** the table's root; staging dirs live under it */
  def location: String
  def properties: Map[String, String]
  /** the mode a row-level command runs in when its `write.<op>.mode`
    * is unset */
  def defaultMode: String
  /** `capture` records the candidate files a copy-on-write scan plans */
  def scanBuilder(capture: Option[CopyOnWriteOperation]): ScanBuilder
  def writerFactory(schema: StructType, staging: String): GraftWriterFactory
  /** how the executors cluster and sort every staged write */
  def layout: GraftWriteLayout
  /** staged files append to `branch`, or replace its live content
    * (`truncate`), in one snapshot. An `epoch` stamps a streaming
    * micro-batch, and a replayed epoch commits nothing. Returns
    * whether a snapshot was committed. */
  def commitWrite(staging: Path, truncate: Boolean, branch: String,
      epoch: Option[StreamEpoch]): Boolean
  /** staged files replace the rows `predicate` selects on main, in one
    * snapshot; `touched` prunes the candidates by manifest stats and
    * `eqProofs` prove whole-file drops */
  def commitOverwrite(staging: Path, predicate: Column,
      touched: Seq[(String, String, String)], eqProofs: Seq[(String, String)]): Unit
  /** staged files replace the partitions of main they touch */
  def commitDynamicOverwrite(staging: Path): Unit
  /** staged files replace the scanned group, in one snapshot */
  def commitReplace(staging: Path, replaced: Set[String]): Unit
  /** staged data files and position deletes land in one snapshot */
  def commitDelta(dataStaging: Path, delStaging: Path): Unit
}

/** The one V2 write builder for both formats: append, truncate,
  * overwrite by filter and dynamic partition overwrite, batch and
  * streaming (reference: datafusion_iceberg/src/table.rs:216
  * insert_into — one planned write, one transaction commit). The
  * `branch` write option targets a branch; only appends and truncates
  * can, since the overwrites rewrite main's files. */
class TableWriteBuilder(target: WriteTarget, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {
  private val branch = Option(info.options.get("branch")).getOrElse("main")
  private var mode: TableWrite.Mode = TableWrite.Append
  override def truncate(): WriteBuilder = { mode = TableWrite.Truncate; this }
  /** Untranslatable conditions fail the statement fast (Spark falls
    * back to an error, never to a silent whole-table truncate) —
    * same contract as canDeleteWhere. */
  override def canOverwrite(filters: Array[Filter]): Boolean =
    GraftSparkTable.translatable(filters)
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    mode =
      if (GraftSparkTable.selectsAll(filters)) TableWrite.Truncate
      else TableWrite.ByFilter(filters.toSeq)
    this
  }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = TableWrite.DynamicPartitions; this
  }
  override def build(): Write = {
    mode match {
      case TableWrite.ByFilter(_) | TableWrite.DynamicPartitions if branch != "main" =>
        throw new UnsupportedOperationException(
          s"cannot overwrite by filter or by partition on branch '$branch' " +
            s"of ${target.location}: only appends and full overwrites " +
            "write to a branch")
      case _ => new TableWrite(target, info, mode, branch)
    }
  }
}

object TableWrite {
  /** How a batch write lands: plain append, whole-table truncate,
    * OverwriteByExpression (static `INSERT OVERWRITE ... PARTITION` /
    * `REPLACE WHERE`), or dynamic partition overwrite. */
  sealed trait Mode
  case object Append extends Mode
  case object Truncate extends Mode
  final case class ByFilter(filters: Seq[Filter]) extends Mode
  case object DynamicPartitions extends Mode
}

/** Executors stream rows into per-task parquet files under a staging
  * dir, clustered and sorted by the table's layout; the driver commit
  * ingests them in one snapshot. Streaming epochs stage the same way
  * and commit stamped with (query id, epoch id). */
class TableWrite(t: WriteTarget, info: LogicalWriteInfo, mode: TableWrite.Mode,
    branch: String) extends Write with RequiresDistributionAndOrdering {
  override def requiredDistribution(): Distribution = t.layout.distribution
  override def requiredOrdering(): Array[SortOrder] = t.layout.ordering
  override def supportedCustomMetrics(): Array[CustomMetric] =
    GraftScanMetrics.writeMetrics

  private def factory(staging: String) = t.writerFactory(info.schema(), staging)

  override def toBatch: BatchWrite =
    new StagedBatchWrite(TableIO.path(t.location,
      s"stage-v2-${java.util.UUID.randomUUID().toString.take(8)}"), factory,
      staging => mode match {
        case TableWrite.Append => t.commitWrite(staging, truncate = false, branch, None)
        case TableWrite.Truncate => t.commitWrite(staging, truncate = true, branch, None)
        case TableWrite.ByFilter(filters) =>
          val (cond, triples, eqProofs) = GraftSparkTable.overwriteByFilter(filters)
          t.commitOverwrite(staging, cond, triples, eqProofs)
        case TableWrite.DynamicPartitions => t.commitDynamicOverwrite(staging)
      })

  /** Complete mode (truncate) overwrites the target branch per epoch. */
  override def toStreaming: StreamingWrite = {
    val truncate = mode == TableWrite.Truncate
    new StagedStreamingWrite(t.location, truncate, factory,
      (dir, epochId) => t.commitWrite(dir, truncate, branch,
        Some(StreamEpoch(info.queryId(), epochId))))
  }
}

/** Executors stage rows under `staging`; the driver commit hands the
  * dir to `onCommit`, an abort deletes it. A job fails as soon as one
  * task fails, while its other tasks may still be writing, and a late
  * writer would re-create the deleted dir; so the abort first waits,
  * for at most `AbortDrainMs`, until no task is running. */
class StagedBatchWrite(staging: Path, factory: String => DataWriterFactory,
    onCommit: Path => Unit) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    TableIO.mkdirs(staging)
    factory(staging.toString)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = onCommit(staging)
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val tracker = SparkSession.active.sparkContext.statusTracker
    val deadline = System.currentTimeMillis() + StagedBatchWrite.AbortDrainMs
    while (tracker.getExecutorInfos.exists(_.numRunningTasks > 0) &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    TableIO.delete(staging, recursive = true)
  }
}

object StagedBatchWrite {
  val AbortDrainMs = 5000L
}

/** One table's write layout: its partition spec and sort order as a
  * V2 distribution + ordering, so every V2 write (append/overwrite,
  * copy-on-write replacement, streaming epoch, staged replace)
  * clusters rows on the executors and the commit ingests the staged
  * files in place — no driver-side re-read/re-write of the batch. */
final case class GraftWriteLayout(spec: Seq[Meta.PartitionField],
    sortOrder: Seq[SortOrder], properties: Map[String, String]) {
  import GraftWriteLayout.partExpr

  /** Partitioned: cluster on the transforms so each task writes few
    * files per partition value. Sorted, unpartitioned: RANGE exchange
    * on the sort key gives each task a disjoint slice. The
    * `write.distribution-mode` table property overrides (Iceberg's
    * none | hash | range): `none` skips the exchange entirely — tasks
    * still sort locally, for pre-clustered ingest where a shuffle
    * would only move already-placed rows. */
  def distribution: Distribution =
    properties.getOrElse("write.distribution-mode", "") match {
      case "none" => Distributions.unspecified()
      case "hash" if spec.nonEmpty => Distributions.clustered(spec.map(partExpr).toArray)
      case "range" if sortOrder.nonEmpty => Distributions.ordered(sortOrder.toArray)
      case _ =>
        if (spec.nonEmpty) Distributions.clustered(spec.map(partExpr).toArray)
        else if (sortOrder.nonEmpty) Distributions.ordered(sortOrder.toArray)
        else Distributions.unspecified()
    }

  /** In-task ordering: partition transforms first (keeps one file
    * open per partition value in a routed writer), then the sort
    * order for tight per-file bounds. */
  def ordering: Array[SortOrder] =
    if (sortOrder.isEmpty) Array.empty
    else (spec.map(pf => Expressions.sort(partExpr(pf), SortDirection.ASCENDING)) ++
      sortOrder).toArray

  /** The executors applied the table's whole sort order, so the
    * commit may ingest staged files as-is. */
  def presorted: Boolean = sortOrder.nonEmpty
}

object GraftWriteLayout {
  type V2Expr = org.apache.spark.sql.connector.expressions.Expression

  /** A graft table: its plain-column sort-order entries. A zorder
    * entry the V2 ordering can't express leaves the layout unsorted,
    * and the commit re-clusters on the driver. */
  def apply(m: Meta.TableMetadata): GraftWriteLayout = {
    val plain = m.sortOrder.forall(e => !e.contains("(") && !e.contains(" "))
    GraftWriteLayout(m.spec,
      if (plain) m.sortOrder.map(c => Expressions.sort(
        Expressions.identity(c): V2Expr, SortDirection.ASCENDING))
      else Seq.empty,
      m.properties)
  }

  /** A real-format Iceberg table: its default spec and default sort
    * order (spec/sort.rs: the write-time order), with each field's
    * transform, direction and null placement. */
  def apply(m: IcebergMetadata.IceMetadata): GraftWriteLayout =
    GraftWriteLayout(m.defaultPartitionFields,
      m.defaultSortFields.flatMap { f =>
        m.schema.fields.find(_.id == f.sourceId).map(c => Expressions.sort(
          partExpr(Meta.PartitionField(c.name, f.transform, c.name)),
          if (f.direction == "desc") SortDirection.DESCENDING else SortDirection.ASCENDING,
          if (f.nullOrder == "nulls-last") NullOrdering.NULLS_LAST
          else NullOrdering.NULLS_FIRST))
      },
      m.properties)

  // truncate has no catalog function to resolve against; cluster by
  // the (finer) source column instead — still a valid routing, as it is
  // for a transform V2 cannot express
  private def partExpr(pf: Meta.PartitionField): V2Expr =
    if (pf.transform.startsWith("truncate[")) Expressions.identity(pf.sourceColumn)
    else RowTransform.toV2(pf).getOrElse(Expressions.identity(pf.sourceColumn))
}

/** A graft table: copy-on-write by default (`write.<op>.mode` =
  * merge-on-read opts a table into delta writes); every write is
  * clustered and sorted by the table's spec and sort order. */
final class GraftWriteTarget(val location: String) extends WriteTarget {
  private lazy val meta = Meta.load(location)
  private def table = GraftTable.load(SparkSession.active, location)
  def properties: Map[String, String] = meta.properties
  def defaultMode: String = RowLevelOperations.CopyOnWrite
  def scanBuilder(capture: Option[CopyOnWriteOperation]): ScanBuilder =
    new TableScanBuilder(new GraftScanSource(location), capture)
  def writerFactory(schema: StructType, staging: String): GraftWriterFactory =
    GraftWriterFactory.forTable(meta, schema, staging)
  lazy val layout: GraftWriteLayout = GraftWriteLayout(meta)

  /** The epoch's dedup predicate is re-evaluated inside the commit's
    * conflict-retry loop (skipIf): a zombie run that loses the CAS race
    * to a concurrent run of the same query must observe the winner's
    * epoch and back off, not double-commit and regress the high-water
    * on retry. */
  def commitWrite(staging: Path, truncate: Boolean, branch: String,
      epoch: Option[StreamEpoch]): Boolean = {
    val t = table
    def replayed(m: Meta.TableMetadata): Boolean =
      epoch.exists(_.replayedIn(m.properties, m.snapshots.iterator.map(_.summary)))
    !replayed(t.meta) && TableIO.exists(staging) && {
      t.commitStagedWrite(staging, truncate,
        summaryExtra = epoch.fold(Map.empty[String, String])(_.summary),
        presorted = layout.presorted, branch = branch,
        propsExtra = epoch.map(_.highWater).toMap, skipIf = replayed)
      true
    }
  }
  def commitOverwrite(staging: Path, predicate: Column,
      touched: Seq[(String, String, String)], eqProofs: Seq[(String, String)]): Unit = {
    val t = table
    t.commitStagedOverwrite(staging, predicate,
      touched.map(f => t.StatFilter(f._1, f._2, f._3)), eqProofs, layout.presorted)
  }
  def commitDynamicOverwrite(staging: Path): Unit =
    table.commitStagedDynamicOverwrite(staging, layout.presorted)
  def commitReplace(staging: Path, replaced: Set[String]): Unit =
    table.commitStagedReplace(staging, replaced.toSeq, layout.presorted)
  def commitDelta(dataStaging: Path, delStaging: Path): Unit =
    table.commitStagedDelta(dataStaging, delStaging)
}

/** A real-format Iceberg table: merge-on-read by default — matched
  * rows position-delete their old slots in a v2 delete manifest any
  * Iceberg reader folds, and CALL rewrite_data_files re-folds them —
  * with `write.<op>.mode` = copy-on-write opting a table into one
  * 'overwrite' snapshot that swaps the candidate files (reference: v2
  * delete commits of iceberg-rust/src/table/transaction +
  * datafusion_iceberg's delete semantics). Over a REST catalog every
  * commit rides the update-table protocol. Dynamic partition
  * overwrite is not offered (the table lacks OVERWRITE_DYNAMIC). */
final class IcebergWriteTarget(val location: String) extends WriteTarget {
  private lazy val meta = IcebergMetadata.load(location)
  private def spark = SparkSession.active
  def properties: Map[String, String] = meta.properties
  def defaultMode: String = RowLevelOperations.MergeOnRead
  def scanBuilder(capture: Option[CopyOnWriteOperation]): ScanBuilder =
    new TableScanBuilder(new IcebergScanSource(location), capture)
  def writerFactory(schema: StructType, staging: String): GraftWriterFactory =
    GraftWriterFactory.forIceberg(meta, schema, staging)
  lazy val layout: GraftWriteLayout = GraftWriteLayout(meta)
  def commitWrite(staging: Path, truncate: Boolean, branch: String,
      epoch: Option[StreamEpoch]): Boolean =
    IcebergWrite.commitStagedWrite(spark, location, staging, truncate, branch, epoch,
      builtOn = Some(meta))
  def commitOverwrite(staging: Path, predicate: Column,
      touched: Seq[(String, String, String)], eqProofs: Seq[(String, String)]): Unit =
    IcebergWrite.overwriteWhere(spark, location, staging, predicate, touched, eqProofs)
  def commitDynamicOverwrite(staging: Path): Unit =
    throw new UnsupportedOperationException(
      s"dynamic partition overwrite of real-format table $location")
  def commitReplace(staging: Path, replaced: Set[String]): Unit =
    IcebergWrite.commitReplaceFiles(spark, location, Seq(staging), replaced)
  def commitDelta(dataStaging: Path, delStaging: Path): Unit =
    IcebergWrite.commitDelta(spark, location, dataStaging, delStaging)
}
