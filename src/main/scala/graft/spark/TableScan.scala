package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.execution.datasources.{FilePartition, GraftConnectorShim}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import graft.table.{GraftTable, Meta, TableIO}
import graft.table.iceberg.{IcebergMetadata, IcebergTable}
import scala.collection.mutable

/** One data file a scan plans. `uri` is what readers open, `path` the
  * metadata's own form (what a copy-on-write commit replaces), `key`
  * the default spec's partition values as catalyst values (the
  * storage-partitioned-join key, null where a file has none), and
  * `group` the add_files import group a bin must not mix. */
final case class ScanFile(uri: String, path: String, sizeBytes: Long,
    records: Long, dataSequence: Long, specId: Int, key: Seq[Any],
    stats: Map[String, Meta.ColStats], group: Option[ImportedGroup] = None)

/** One live delete file: content 1 deletes row positions, content 2
  * deletes rows whose `eqColumns` match a key it holds. */
final case class ScanDelete(uri: String, sizeBytes: Long, sequence: Long,
    content: Int, eqColumns: Seq[String], stats: Map[String, Meta.ColStats])

/** One table format's side of a batch scan, over the snapshot it
  * loaded when the scan builder was created: all the shared
  * TableScanBuilder and TableScan need from a format. */
trait ScanSource {
  /** names the scan in query plans */
  def label: String
  def location: String
  /** the scanned snapshot's schema */
  def schema: StructType
  def properties: Map[String, String]
  /** the default partition spec, as (source column, transform) pairs */
  def spec: Seq[(String, String)]
  def defaultSpecId: Int
  def deletes: Seq[ScanDelete]
  /** the data files `statFilters` may match, and the snapshot's live
    * data-file count */
  def plan(statFilters: Seq[(String, String, String)]): (Seq[ScanFile], Long)
  /** reads the table's files into `required`, pushing `filters` to the
    * parquet reader; `groups` binds each file of an import-group bin
    * (by PartitionBindKey) to the group it reads */
  def readerFactory(required: StructType, filters: Array[Filter],
      groups: Map[String, ImportedGroup]): PartitionReaderFactory
  def microBatchStream(required: StructType,
      options: Map[String, String]): MicroBatchStream
  /** a scan answering an aggregate from metadata alone, when sound */
  def metadataAggregate(agg: Aggregation): Option[Scan]
}

/** Scan builder for both table formats. Filters that translate to
  * manifest stat filters, or that the parquet reader can push, are
  * reported as pushed; every filter also stays residual, because
  * pruning is a skip optimization, never an exactness guarantee. */
class TableScanBuilder(source: ScanSource,
    capture: Option[CopyOnWriteOperation] = None,
    options: Map[String, String] = Map.empty)
  extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  // connector reads resolve columns by field id. The vectorized path
  // takes the flag from GraftConnectorShim's per-relation hadoop conf,
  // but the non-vectorized binding (nested types) consults SQLConf.get
  // — the session conf — so the READ flag must be on session-wide (see
  // the GraftTable constructor note; the WRITE flag stays scoped).
  SparkSession.active.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  private var pushed: Array[Filter] = Array.empty
  private var requiredSchema: StructType = source.schema
  private var rowIdCols: Seq[StructField] = Seq.empty
  private var aggScan: Option[Scan] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f =>
      GraftSparkTable.statFilterOf(f).isDefined || parquetPushable(f))
    filters
  }

  private def parquetPushable(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual | _: LessThan |
        _: LessThanOrEqual | _: In | _: IsNull | _: IsNotNull => true
    case And(l, r) => parquetPushable(l) && parquetPushable(r)
    case _ => false
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggScan = if (pushed.nonEmpty) None else source.metadataAggregate(agg)
    aggScan.isDefined
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    pushAggregation(agg)

  override def pruneColumns(required: StructType): Unit = {
    // retain field order and types of the SNAPSHOT schema, not the
    // current one — a time-travel/branch scan may select a column the
    // live schema has since dropped
    val names = required.fieldNames.toSet
    requiredSchema = StructType(source.schema.fields.filter(f => names.contains(f.name)))
    // _file/_pos metadata columns (the delta row id) are not data
    // columns: the reader APPENDS them per row, so track them apart
    rowIdCols = required.fields.filter(f =>
      f.name == GraftSparkTable.FileColName ||
        f.name == GraftSparkTable.PosColName).toSeq
  }

  override def build(): Scan = aggScan.getOrElse {
    // merge-on-read: if equality-delete files are live, their key
    // columns must be read even when pruned away (Spark projects the
    // extra columns back out above the scan)
    val eqCols = source.deletes.filter(_.content == 2).flatMap(_.eqColumns).distinct
    val withKeys =
      if (eqCols.forall(requiredSchema.fieldNames.contains)) requiredSchema
      else StructType(source.schema.fields.filter(f =>
        requiredSchema.fieldNames.contains(f.name) || eqCols.contains(f.name)))
    new TableScan(source, withKeys, rowIdCols, pushed,
      pushed.toSeq.flatMap(GraftSparkTable.statFilterOf), capture, options)
  }
}

/** A batch scan of either table format: manifest-pruned files,
  * bin-packed toward maxPartitionBytes so task count tracks data size,
  * with merge-on-read deletes bound to the bins they apply to. Every
  * planning reads the snapshot the source loaded. */
class TableScan(source: ScanSource, requiredSchema: StructType,
    rowIdCols: Seq[StructField], pushedFilters: Array[Filter],
    statFilters: Seq[(String, String, String)],
    capture: Option[CopyOnWriteOperation], options: Map[String, String])
  extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportPartitioning with SupportsReportStatistics {

  private def deletes: Seq[ScanDelete] = source.deletes

  override def readSchema(): StructType =
    StructType(requiredSchema.fields ++ rowIdCols)
  override def toBatch: Batch = this
  override def description(): String =
    s"${source.label}(root=${source.location}, prunedBy=${statFilters.length} stat filters)"

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    source.microBatchStream(requiredSchema, options)

  // ---- planning ------------------------------------------------------

  private lazy val staticPlan: (Seq[ScanFile], Long) = source.plan(statFilters)
  @volatile private var runtimeStatFilters: Seq[(String, String, String)] = Seq.empty
  @volatile private var runtimePlan: Option[(Seq[ScanFile], Long)] = None

  private def planned: (Seq[ScanFile], Long) =
    if (runtimeStatFilters.isEmpty) staticPlan
    else runtimePlan.getOrElse {
      val p = source.plan(statFilters ++ runtimeStatFilters)
      runtimePlan = Some(p)
      p
    }

  // ---- scan planning metrics (Spark UI SQL tab) ----------------------
  // At 100 TB the question "did pruning work" must be answerable from
  // the UI, not a debugger: how many live files the snapshot had, how
  // many survived stat/partition pruning, the bytes actually planned,
  // and how many delete files the scan applies.

  override def supportedCustomMetrics(): Array[CustomMetric] = GraftScanMetrics.all

  @volatile private var planningMetrics: Array[CustomTaskMetric] = Array.empty

  override def reportDriverMetrics(): Array[CustomTaskMetric] = planningMetrics

  /** Manifest-derived statistics (reference:
    * datafusion_iceberg/src/statistics.rs reports the same totals to
    * its planner): sizeInBytes/rowCount from the PRUNED file list, so
    * Spark sizes joins from what will actually be read — a relation
    * under the broadcast threshold gets broadcast instead of shuffled.
    * analyze()-persisted NDV (plus per-file null counts when every
    * planned file carries the column's stats) become V2 column stats,
    * the CBO's join-reorder inputs. NDV is table-level: after pruning
    * it's an upper bound, which is the safe direction. */
  override def estimateStatistics(): Statistics = {
    val files = planned._1
    val bytes = files.map(_.sizeBytes).sum
    val rows = files.map(_.records).filter(_ >= 0).sum
    val colStats = new java.util.HashMap[NamedReference, ColumnStatistics]()
    def opt(v: Option[Long]) =
      v.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
    requiredSchema.fieldNames.foreach { c =>
      val ndv = source.properties.get(s"${GraftTable.NdvProp}$c").map(_.toLong)
      val nulls =
        if (files.nonEmpty && files.forall(_.stats.contains(c)))
          Some(files.map(_.stats(c).nullCount).sum)
        else None
      if (ndv.isDefined || nulls.isDefined)
        colStats.put(Expressions.column(c), new ColumnStatistics {
          override def distinctCount(): java.util.OptionalLong = opt(ndv)
          override def nullCount(): java.util.OptionalLong = opt(nulls)
        })
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[NamedReference, ColumnStatistics] = colStats
    }
  }

  // ---- storage-partitioned join --------------------------------------

  /** Key-grouped partitioning over the default spec — identity fields,
    * or one bucket field, whose source columns the scan outputs — so
    * two tables partitioned the same way join WITHOUT a shuffle (needs
    * spark.sql.sources.v2.bucketing.enabled; bucket resolves through
    * the catalog's FunctionCatalog). Declined for row-id scans (they
    * feed a write, not a join) and while deletes are live (one
    * partition per key cannot also keep delete signatures apart). Every
    * planned file must be written under the default spec — after spec
    * evolution older files carry no value for its fields — and carry
    * no name mapping, which needs its own reader. Decided on the static
    * plan, which runtime filtering only narrows. */
  private lazy val keyedBy: Option[Array[Expression]] = {
    val spec = source.spec
    val eligible = rowIdCols.isEmpty && deletes.isEmpty && spec.nonEmpty &&
      spec.forall { case (c, _) => requiredSchema.fieldNames.contains(c) } &&
      staticPlan._1.forall(f => f.specId == source.defaultSpecId && f.group.isEmpty)
    if (!eligible) None
    else if (spec.forall(_._2 == "identity"))
      Some(spec.map { case (c, _) => Expressions.identity(c): Expression }.toArray)
    else spec match {
      case Seq((c, t)) if t.startsWith("bucket[") =>
        Some(Array(Expressions.bucket(t.stripPrefix("bucket[").stripSuffix("]").toInt, c)))
      case _ => None
    }
  }

  override def outputPartitioning(): Partitioning = keyedBy match {
    case Some(exprs) => new KeyGroupedPartitioning(exprs, planInputPartitions().length)
    case None => new UnknownPartitioning(0)
  }

  // ---- runtime filtering (dynamic file pruning from join keys) -------

  /** Columns a runtime filter (e.g. the build side of a join) may
    * arrive on. A row-level operation's replaced group must equal
    * EXACTLY the files every one of its scans planned; Spark also
    * routes the runtime group-filter subquery through the operation's
    * builder, so runtime narrowing of just the main scan would
    * desynchronize the sets (files removed whose rows were never
    * rewritten). Copy-on-write scans therefore decline runtime
    * filtering. Row-id scans decline it too, so a delta write reads
    * exactly the statically planned files. */
  override def filterAttributes(): Array[NamedReference] =
    if (capture.isDefined || rowIdCols.nonEmpty) Array.empty
    else requiredSchema.fieldNames.map(Expressions.column)

  /** Runtime IN-filters become min/max envelopes over the manifest:
    * files outside [min(values), max(values)] are dropped before any
    * task launches. Only numeric and string keys translate: other
    * types (e.g. timestamps) render differently from the canonical
    * stat strings, and pruning must stay sound, so they are ignored
    * rather than risked. */
  override def filter(filters: Array[Filter]): Unit = {
    if (capture.isDefined || rowIdCols.nonEmpty) return // see filterAttributes
    def safe(v: Any): Boolean = v.isInstanceOf[Number] || v.isInstanceOf[String]
    runtimeStatFilters = filters.toSeq.flatMap {
      case In(c, values) if values.nonEmpty &&
          values.forall(v => v != null && safe(v)) =>
        val strs = values.map(_.toString)
        val cmp: (String, String) => Int =
          if (values.head.isInstanceOf[Number])
            (a, b) => java.lang.Double.compare(a.toDouble, b.toDouble)
          else (a, b) => a.compareTo(b)
        Seq((c, ">=", strs.min(Ordering.fromLessThan[String](cmp(_, _) < 0))),
          (c, "<=", strs.max(Ordering.fromLessThan[String](cmp(_, _) < 0))))
      case EqualTo(c, v) if v != null && safe(v) =>
        Seq((c, "=", v.toString))
      case _ => Seq.empty
    }
    runtimePlan = None
  }

  // ---- input partitions and delete binding ---------------------------
  // Every binding is keyed by each file of its bin (PartitionBindKey),
  // so a bin is found by any of its files and a reader that splits a
  // bin per file finds each file's own binding.

  /** file → the equality-delete groups of its bin */
  @volatile private var deleteSpecsByFile: Map[String, Seq[DeleteFilesSpec]] = Map.empty
  /** file → the position-delete group that may name its rows */
  @volatile private var posSpecsByFile: Map[String, PosDeleteSpec] = Map.empty
  /** file → its URI, for row-id scans (the reader appends _file/_pos) */
  @volatile private var rowIdFileByFile: Map[String, String] = Map.empty
  /** file → the import group its add_files bin reads */
  @volatile private var groupByFile: Map[String, ImportedGroup] = Map.empty

  override def planInputPartitions(): Array[InputPartition] = {
    val (files, live) = planned
    planningMetrics = Array(
      GraftScanMetrics.task("liveDataFiles", live),
      GraftScanMetrics.task("plannedDataFiles", files.size),
      GraftScanMetrics.task("prunedDataFiles", math.max(0, live - files.size)),
      GraftScanMetrics.task("plannedBytes", files.map(_.sizeBytes).sum),
      GraftScanMetrics.task("deleteFilesApplied", deletes.size))
    // group-based row-level ops replace exactly the files this scan
    // planned (runtime filtering is declined under capture, so every
    // planning sees the same statically-pruned set)
    capture.foreach(_.scanned.updateAndGet(_ ++ files.map(_.path)))
    if (keyedBy.isDefined)
      // one partition per partition-key tuple
      files.groupBy(_.key).toSeq.sortBy(_._1.map(String.valueOf).mkString("/"))
        .zipWithIndex.map { case ((key, bin), i) =>
          KeyedFilePartition(new GenericInternalRow(key.toArray[Any]),
            filePartition(i, bin)): InputPartition
        }.toArray
    else binned(files)
  }

  /** Bins never mix delete signatures or import groups: one task, one
    * delete set, one schema shape. Each group packs by Spark's rule
    * (GraftConnectorShim.packFiles), toward one target over the whole
    * scan. Position deletes and row ids stay exact in multi-file bins
    * because their readers open one inner reader per file
    * (PerFileReader). */
  private def binned(files: Seq[ScanFile]): Array[InputPartition] = {
    val spark = SparkSession.active
    val target = GraftConnectorShim.maxSplitBytes(spark, files.map(_.sizeBytes))
    val out = mutable.ArrayBuffer[InputPartition]()
    val specsOut = mutable.Map[String, Seq[DeleteFilesSpec]]()
    val posOut = mutable.Map[String, PosDeleteSpec]()
    val fileOut = mutable.Map[String, String]()
    val groupOut = mutable.Map[String, ImportedGroup]()
    files.groupBy(f => (deleteSig(f), f.group)).toSeq.sortBy { case (k, _) => sigKey(k) }
      .foreach { case (((eqSig, posSig), group), fs) =>
        val specs = if (eqSig.isEmpty) Seq.empty else eqDeleteSpecs(eqSig)
        val posSpec = if (posSig.isEmpty) None else Some(posDeleteSpec(posSig))
        GraftConnectorShim.packFiles(spark, fs, target)(_.uri, _.sizeBytes).foreach { bin =>
          out += filePartition(out.length, bin)
          bin.foreach { f =>
            val bind = PartitionBindKey.ofPath(f.uri)
            if (specs.nonEmpty) specsOut(bind) = specs
            posSpec.foreach(posOut(bind) = _)
            if (rowIdCols.nonEmpty) fileOut(bind) = f.uri
            group.foreach(groupOut(bind) = _)
          }
        }
      }
    deleteSpecsByFile = specsOut.toMap
    posSpecsByFile = posOut.toMap
    rowIdFileByFile = fileOut.toMap
    groupByFile = groupOut.toMap
    out.toArray
  }

  /** deterministic ordering for bin signatures (Map.toString isn't) */
  private def sigKey(k: ((Seq[String], Seq[String]), Option[ImportedGroup])): String =
    (k._1._1 ++ k._1._2).mkString(";") + "|" + k._2.fold("") { g =>
      g.mapping.toSeq.sorted.mkString(",") + "|" + g.specId + "|" +
        g.partitionValues.toSeq.sorted.mkString(",")
    }

  private def filePartition(idx: Int, bin: Seq[ScanFile]): FilePartition =
    GraftConnectorShim.filePartition(idx,
      bin.map(f => GraftConnectorShim.partitionedFile(f.uri, f.sizeBytes, 0L)))

  /** The deletes that apply to a data file, as (equality, position)
    * URIs: an equality delete applies to files of a SMALLER data
    * sequence, a position delete to files of a smaller or equal one
    * (Iceberg v2). */
  private def deleteSig(f: ScanFile): (Seq[String], Seq[String]) =
    (deletes.filter(d => d.content == 2 && d.sequence > f.dataSequence &&
      eqDeleteMayApply(d, f)).map(_.uri).sorted,
      deletes.filter(d => d.content == 1 && d.sequence >= f.dataSequence)
        .map(_.uri).sorted)

  /** Delete-manifest pruning (Iceberg's delete-file bounds check): an
    * equality delete whose recorded key range is DISJOINT from the
    * data file's range on any equality column cannot delete a row in
    * that file — the file's task never ships or reads that delete. A
    * delete carrying null keys always applies (nulls live outside the
    * min/max); missing stats on either side apply conservatively. */
  private def eqDeleteMayApply(d: ScanDelete, f: ScanFile): Boolean =
    d.eqColumns.forall { c =>
      (d.stats.get(c), f.stats.get(c), requiredSchema.fields.find(_.name == c)) match {
        case (Some(ds), Some(fs), Some(field)) if ds.nullCount == 0 &&
            ds.min.nonEmpty && ds.max.nonEmpty &&
            fs.min.nonEmpty && fs.max.nonEmpty =>
          val cmp = Meta.comparator(field.dataType)
          cmp(ds.min, fs.max) <= 0 && cmp(fs.min, ds.max) <= 0
        case _ => true
      }
    }

  private lazy val deleteByUri: Map[String, ScanDelete] =
    deletes.map(d => d.uri -> d).toMap

  private def deletePartition(uris: Seq[String]): FilePartition =
    GraftConnectorShim.filePartition(0, uris.map(deleteByUri).map(d =>
      GraftConnectorShim.partitionedFile(d.uri, d.sizeBytes, 0L)))

  /** Executor-readable equality-delete groups for one signature: the
    * delete keys are NEVER collected on the driver — each executor
    * reads the (small) delete parquets itself and caches the key set
    * per JVM, so task closures stay O(file list), not O(deleted keys).
    * Keys read through the format's reader: delete files written
    * before a rename carry the old key name but the right field id. */
  private def eqDeleteSpecs(sig: Seq[String]): Seq[DeleteFilesSpec] =
    sig.groupBy(deleteByUri(_).eqColumns).toSeq.map { case (eqCols, uris) =>
      val keySchema = StructType(requiredSchema.fields.filter(f => eqCols.contains(f.name)))
      DeleteFilesSpec(
        keyIndexes = keySchema.fields.map(f => requiredSchema.fieldIndex(f.name)),
        keyTypes = keySchema.fields.map(_.dataType),
        factory = source.readerFactory(keySchema, Array.empty, Map.empty),
        part = deletePartition(uris),
        cacheKey = "eq:" + keySchema.fieldNames.mkString(",") + ":" + uris.mkString(";"))
    }

  /** Position-delete files become an executor-readable spec like the
    * equality ones: schema (file_path string, pos long). */
  private def posDeleteSpec(sig: Seq[String]): PosDeleteSpec = {
    val schema = StructType(Seq(StructField("file_path", StringType),
      StructField("pos", LongType)))
    PosDeleteSpec(
      factory = GraftConnectorShim.parquetReaderFactory(
        SparkSession.active, schema, schema, Array.empty),
      part = deletePartition(sig),
      cacheKey = "pos:" + sig.mkString(";"))
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // a row-level operation's scan must read candidate files WHOLE: the
    // pushed group-filter condition may only prune files, never rows —
    // non-matching rows are copied forward by the replacement
    // projection, so dropping them here would lose data. A row-id scan
    // counts RAW stream indexes as positions, so the parquet reader
    // must not skip row groups either. Filters still run above the
    // scan: pushFilters keeps them all as residual.
    val pushForDelegate =
      if (capture.isDefined || rowIdCols.nonEmpty) Array.empty[Filter]
      else pushedFilters
    val factory = source.readerFactory(requiredSchema, pushForDelegate, groupByFile)
    // ONLY the files bound to a position delete read raw (their stream
    // index must equal the file row index, so the reader may skip
    // nothing); eq-only and delete-free files keep the pushed filters —
    // equality filtering matches row CONTENT, so row-group skipping
    // stays sound for them
    val rawFactory =
      if (pushForDelegate.nonEmpty && posSpecsByFile.nonEmpty)
        source.readerFactory(requiredSchema, Array.empty, groupByFile)
      else factory
    // _file/_pos append BELOW the MoR filter: positions must count
    // every raw row of the file, including rows a live delete hides
    val delegate =
      if (rowIdCols.isEmpty) factory
      else RowIdAppendFactory(factory, rowIdFileByFile, rowIdCols.map(_.name))
    if (deletes.isEmpty) delegate
    else MorReaderFactory(delegate, deleteSpecsByFile, posSpecsByFile,
      rawDelegate = if (rowIdCols.isEmpty) Some(rawFactory) else None)
  }
}

/** A graft table at `snapshotId`, or at `branch`'s head, or current;
  * with `startSnapshot`, only the files appended after it (the
  * incremental read — IO scales with the delta, not the table). */
final class GraftScanSource(root: String, snapshotId: Option[Long] = None,
    branch: Option[String] = None, startSnapshot: Option[Long] = None)
  extends ScanSource {
  private val m = Meta.load(root)
  private val snapId = branch.flatMap(m.refs.get).orElse(snapshotId)
  private lazy val table = GraftTable.load(SparkSession.active, root)
  private val dataDir = TableIO.path(root, "data")
  private def uri(path: String): String = TableIO.qualified(new Path(dataDir, path))

  def label: String = "GraftScan"
  def location: String = root
  // a time-travel or branch scan reads with its SNAPSHOT's schema:
  // after DROP COLUMN an old snapshot must still show the column
  val schema: StructType = snapId.flatMap(m.snapshot)
    .flatMap(sn => m.schemas.get(sn.schemaId)).getOrElse(m.schema)
  def properties: Map[String, String] = m.properties
  def spec: Seq[(String, String)] = m.spec.map(pf => (pf.sourceColumn, pf.transform))
  def defaultSpecId: Int = m.defaultSpecId

  lazy val deletes: Seq[ScanDelete] = m.liveDeleteFilesWithSeq(snapId).map {
    case (d, seq) => ScanDelete(uri(d.path), d.fileSizeBytes, seq, d.content,
      d.equalityColumns, d.stats)
  }

  // an incremental file rewritten away later in range is not in the
  // live map; its carried data sequence keeps delete scoping sound
  private lazy val seqByPath: Map[String, Long] =
    m.liveFilesWithSeq(snapId).map { case (f, q) => f.path -> q }.toMap
  private lazy val liveCount: Long = m.liveFiles(snapId).size.toLong

  def plan(statFilters: Seq[(String, String, String)]): (Seq[ScanFile], Long) = {
    val filters = statFilters.map { case (c, op, v) => table.StatFilter(c, op, v) }
    val files = startSnapshot match {
      case Some(s) => table.plannedAppendedFiles(filters, Some(s), snapId, m)
      case None => table.plannedFiles(filters, snapId, m = m)
    }
    (files.map(scanFile), liveCount)
  }

  private def scanFile(f: Meta.DataFile): ScanFile = ScanFile(uri(f.path), f.path,
    f.fileSizeBytes, f.recordCount,
    dataSequence =
      if (deletes.isEmpty) 0L
      else seqByPath.getOrElse(f.path, f.dataSequence.getOrElse(Long.MinValue)),
    specId = f.specId,
    key = m.spec.map(pf => f.partitionValues.get(pf.name).map(keyValue(pf, _)).orNull),
    stats = f.stats,
    group = f.nameMapping.map(ImportedGroup(_, f.specId, f.partitionValues)))

  /** A partition value as its key's catalyst value: the bucket number,
    * or an integral identity source parsed (null if it doesn't parse,
    * like a null partition), or the string itself. */
  private def keyValue(pf: Meta.PartitionField, v: String): Any =
    if (pf.transform.startsWith("bucket[")) v.toIntOption.getOrElse(null)
    else schema.fields.find(_.name == pf.sourceColumn).map(_.dataType) match {
      case Some(IntegerType) => v.toIntOption.getOrElse(null)
      case Some(LongType) => v.toLongOption.getOrElse(null)
      case Some(ShortType) => v.toShortOption.getOrElse(null)
      case _ => org.apache.spark.unsafe.types.UTF8String.fromString(v)
    }

  def readerFactory(required: StructType, filters: Array[Filter],
      groups: Map[String, ImportedGroup]): PartitionReaderFactory =
    GraftScanSource.readerFactory(m, required, filters, groups)

  def microBatchStream(required: StructType,
      options: Map[String, String]): MicroBatchStream =
    TableMicroBatchStream.graft(root, required, options)

  /** Ungrouped, unfiltered COUNT(*)/MIN/MAX answer straight from the
    * manifest — zero data IO (the metadata-only query path the
    * reference gets from manifest stats). Declined for incremental
    * ranges (the manifest totals cover the live set, not the delta),
    * grouping, merge-on-read deletes, or missing stats. */
  def metadataAggregate(agg: Aggregation): Option[Scan] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (startSnapshot.isDefined || agg.groupByExpressions().nonEmpty ||
        deletes.nonEmpty) return None
    val files = m.liveFiles(snapId)
    if (files.isEmpty) return None
    def colOf(e: Expression): Option[String] = e match {
      case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
      case _ => None
    }
    def statsComplete(c: String): Boolean =
      !m.statsUnprunable.contains(c) &&
        m.schema.fields.find(_.name == c).exists(_.dataType match {
          case IntegerType | LongType | ShortType | DoubleType | FloatType |
              StringType => true
          case _ => false
        }) &&
        files.forall(f => f.stats.get(c).exists(s =>
          s.min.nonEmpty && s.max.nonEmpty && s.nullCount == 0))
    val resolved = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(MetadataAgg("count", ""))
      case a: Min => colOf(a.column()).filter(statsComplete).map(MetadataAgg("min", _))
      case a: Max => colOf(a.column()).filter(statsComplete).map(MetadataAgg("max", _))
      case _ => None
    }
    if (resolved.exists(_.isEmpty)) None
    else Some(MetadataAggScan.build(m, MetadataAggSpec(resolved.flatten, snapId)))
  }
}

object GraftScanSource {
  /** Parquet reads of graft table `m`'s files into `required`. Bins
    * that `groups` binds hold add_files-imported files and read through
    * a factory built over their pinned import-time schema — same
    * positions and types, different names, no filter pushdown (filters
    * name live columns and stay residual above the scan, so dropping
    * the pushdown is only a perf choice). Identity sources the hive
    * layout stripped from the pages fill back in as per-bin constants. */
  def readerFactory(m: Meta.TableMetadata, required: StructType,
      filters: Array[Filter], groups: Map[String, ImportedGroup]): PartitionReaderFactory = {
    val spark = SparkSession.active
    val default = UnwrapKeyedFactory(GraftConnectorShim.parquetReaderFactory(
      spark, m.schema, required, filters))
    if (groups.isEmpty) default
    else {
      val mapped = groups.values.map(_.mapping).toSet.map {
        (mp: Map[String, String]) =>
          mp -> (UnwrapKeyedFactory(GraftConnectorShim.parquetReaderFactory(
            spark, Meta.importReadSchema(m.schema, mp),
            Meta.importReadSchema(required, mp),
            Array.empty)): PartitionReaderFactory)
      }.toMap
      NameMapRoutingFactory(default, groups.map { case (i, g) =>
        i -> (mapped(g.mapping), ImportedGroup.overrides(m, required, g))
      }, required)
    }
  }
}

/** A real-format Iceberg table at `snapshot`, or at `branch`'s
  * head, or current. Metadata aggregates are declined: foreign writers
  * truncate string bounds, so manifest min/max is not the column's
  * min/max. */
final class IcebergScanSource(val location: String,
    snapshot: Option[Long] = None, branch: Option[String] = None)
  extends ScanSource {
  private val m = IcebergMetadata.load(location)
  // a write to a missing branch starts it empty, so reading one must
  // not fall back to main's head
  private val snapshotId = branch.flatMap(b => m.refs.get(b).orElse {
    if (b == "main") None
    else throw new IllegalArgumentException(s"no branch '$b' in table at $location")
  }).orElse(snapshot)
  private val t = IcebergTable.fromMetadataAt(SparkSession.active, location, m)
  // a time-travel scan plans against the PINNED snapshot's schema:
  // era labels, era types, since-dropped columns included
  private val schemaAt = snapshotId.flatMap(m.snapshot)
    .flatMap(sn => m.schemas.find(_.schemaId == sn.schemaId))
    .getOrElse(m.schema)
  // remaps absolute paths across catalog renames
  private def uri(path: String): String = TableIO.qualified(t.resolvePath(path))
  private def nameOf(id: Int): Option[String] = schemaAt.fields.find(_.id == id).map(_.name)

  def label: String = "IcebergScan"
  val schema: StructType = schemaAt.toSpark
  def properties: Map[String, String] = m.properties
  def spec: Seq[(String, String)] =
    m.defaultSpecFields.map(pf => (nameOf(pf.sourceId).getOrElse(""), pf.transform))
  def defaultSpecId: Int = m.defaultSpecId

  lazy val deletes: Seq[ScanDelete] = t.deleteEntries(snapshotId).map {
    case (e, seq) => ScanDelete(uri(e.filePath), e.fileSizeBytes, seq, e.content,
      e.equalityIds.flatMap(nameOf), Map.empty)
  }

  def plan(statFilters: Seq[(String, String, String)]): (Seq[ScanFile], Long) = {
    val (files, live) = t.planScan(snapshotId, statFilters)
    (files.map { case (e, stats, seq, specId) =>
      ScanFile(uri(e.filePath), e.filePath, e.fileSizeBytes, e.recordCount, seq,
        specId, m.defaultSpecFields.map(pf => catalystKey(e.partition.get(pf.name).orNull)),
        stats)
    }, live)
  }

  /** Avro partition value → catalyst value for the SPJ key row. */
  private def catalystKey(v: Any): Any = v match {
    case u: org.apache.avro.util.Utf8 =>
      org.apache.spark.unsafe.types.UTF8String.fromString(u.toString)
    case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case other => other // null, Integer (int/date), Long (long/timestamp)
  }

  def readerFactory(required: StructType, filters: Array[Filter],
      groups: Map[String, ImportedGroup]): PartitionReaderFactory =
    IcebergScanSource.readerFactory(t, schemaAt, required, filters)

  def microBatchStream(required: StructType,
      options: Map[String, String]): MicroBatchStream =
    TableMicroBatchStream.iceberg(location, required, options)

  def metadataAggregate(agg: Aggregation): Option[Scan] = None
}

object IcebergScanSource {
  /** Parquet reads of `t`'s files into `required`, resolving columns by
    * the field ids of `schema` (rename-safe — files written under an
    * old name keep reading; widened types up-cast). Skipped for tables
    * exported from legacy sources whose footers carry no ids. */
  def readerFactory(t: IcebergTable, schema: IcebergMetadata.IceSchema,
      required: StructType, filters: Array[Filter]): PartitionReaderFactory = {
    def ids(s: StructType) = if (t.fileIdResolution) schema.withFieldIds(s) else s
    UnwrapKeyedFactory(GraftConnectorShim.parquetReaderFactory(
      SparkSession.active, ids(schema.toSpark), ids(required), filters))
  }
}
