package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{TableCapability, TableChange}
import org.apache.spark.sql.connector.expressions.{Literal, Transform}
import org.apache.spark.sql.execution.datasources.GraftConnectorShim
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{StructField, StructType}
import graft.table.{GraftTable, Meta, TableIO}
import graft.table.iceberg.{IcebergMaintenance, IcebergMetadata, IcebergTable, IcebergWrite}

/** One table format's side of the one DSv2 table (GraftSparkTable),
  * over one metadata load: only what differs by format. Scans and
  * writes load fresh metadata when their builders are created, so a
  * reused DataFrame sees later commits. */
sealed trait TableFormat {
  def root: String
  /** names the table in query plans */
  def kind: String
  def currentSnapshotId: Option[Long]
  /** the schema `snapshot` was written with, or the current schema: a
    * time-travel pin still shows a since-dropped column */
  def schemaAt(snapshot: Option[Long]): StructType
  /** the default partition spec */
  def spec: Seq[Meta.PartitionField]
  def capabilities: java.util.Set[TableCapability]
  /** a scan of `snapshot`, or of `branch`'s head, or current; with
    * `start`, only the files appended after it */
  def scanSource(snapshot: Option[Long], branch: Option[String],
      start: Option[Long]): ScanSource
  def writeTarget: WriteTarget
  /** SQL `DELETE FROM ... WHERE` without a row-level rewrite */
  def canDeleteWhere(filters: Array[Filter]): Boolean
  def deleteWhere(filters: Array[Filter]): Unit
  /** a REPLACE TABLE of this table by `newSchema`, staged but unpublished */
  def stageReplace(newSchema: StructType, partitions: Seq[Transform],
      props: Map[String, String]): StagedReplacement

  // ---- maintenance: one operation per CALL procedure, each returning
  // what its CALL reports (GraftProcedures)

  /** (snapshots before, snapshots after) */
  def expireSnapshots(keepLast: Int, maxAgeMs: Option[Long]): (Int, Int)
  /** the number of unreferenced files deleted */
  def vacuum(olderThanMs: Long): Int
  /** the orphan paths, relative to the root */
  def removeOrphanFiles(olderThanMs: Long, dryRun: Boolean,
      pruneStreamProps: Boolean): Seq[String]
  /** (files, rows) imported in place from `sourceDir` */
  def addFiles(sourceDir: String): (Long, Long)
  /** (data files rewritten, data files added) */
  def rewriteDataFiles(strategy: String, sortColumns: Seq[String],
      targetFileBytes: Long): (Int, Int)
  /** the number of manifests replaced; 0 when none needed it */
  def rewriteManifests(): Int
  /** folds outstanding deletes into the data files; the number of
    * delete files removed */
  def foldDeletes(): Int
  /** equality deletes materialized as position slots; the number of
    * equality delete files converted */
  def convertEqualityDeletes(): Int
  /** the number of rows updated */
  def updateByKey(keys: DataFrame, keyColumns: Seq[String],
      sets: Seq[(String, Column)]): Long
  /** (position-delete files before, after) */
  def rewritePositionDeletes(): (Int, Int)
  def rollbackTo(snapshotId: Long): Unit
  /** points the branch or tag `name` (by `retention.refType`) at `snapshotId` */
  def setRef(name: String, snapshotId: Long, retention: Meta.RefRetention): Unit
  /** approximate NDV per column; every simple column when `columns` is empty */
  def analyze(columns: Seq[String]): Seq[(String, Long)]
  def changesBetween(start: Option[Long], end: Option[Long]): DataFrame
  /** the new current snapshot */
  def cherrypick(snapshotId: Long): Long
  /** (previous tip or -1, new tip) */
  def fastForward(branch: String, to: String): (Long, Long)
  def setSortOrder(entries: Seq[String]): Unit

  protected def refs: Map[String, Long]
  protected def hasSnapshot(id: Long): Boolean
  /** the snapshot current at `tsMs`, by the format's rule */
  protected def snapshotAt(tsMs: Long): Option[Long]
  protected def addColumns(adds: Seq[TableChange.AddColumn]): Unit
  protected def alterColumn(change: TableChange): Unit
  protected def updateProperties(sets: Map[String, String], removes: Set[String]): Unit

  /** `VERSION AS OF`: a snapshot id, or a branch or tag name, which
    * pins that ref's current snapshot. */
  final def versionSnapshot(version: String, ident: String): Long = {
    val id = version.toLongOption.getOrElse(refs.getOrElse(version,
      throw new IllegalArgumentException(
        s"'$version' is neither a snapshot id nor a ref of $ident")))
    require(hasSnapshot(id), s"no snapshot $id of $ident (expired?)")
    id
  }

  /** `TIMESTAMP AS OF` (micros since epoch, per the V2 contract). */
  final def timestampSnapshot(timestampMicros: Long, ident: String): Long = {
    val tsMs = timestampMicros / 1000L
    snapshotAt(tsMs).getOrElse(throw new IllegalArgumentException(
      s"no snapshot of $ident at or before timestamp $tsMs"))
  }

  /** One ALTER TABLE statement: consecutive top-level ADD COLUMNs land
    * as one schema change, and every property set and removal as one
    * commit, so a conflict never leaves half a statement applied. */
  final def alter(changes: Seq[TableChange]): Unit = {
    val (props, columns) = changes.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    val adds = Seq.newBuilder[TableChange.AddColumn]
    def flush(): Unit = {
      val pending = adds.result()
      if (pending.nonEmpty) addColumns(pending)
      adds.clear()
    }
    columns.foreach {
      case a: TableChange.AddColumn if a.fieldNames().length == 1 => adds += a
      case other => flush(); alterColumn(other)
    }
    flush()
    if (props.nonEmpty) {
      val (sets, removes) = props.foldLeft((Map.empty[String, String], Set.empty[String])) {
        case ((s, r), p: TableChange.SetProperty) =>
          (s + (p.property() -> p.value()), r - p.property())
        case ((s, r), p: TableChange.RemoveProperty) => (s - p.property(), r + p.property())
        case (acc, _) => acc
      }
      updateProperties(sets, removes)
    }
  }

  protected def addedColumns(adds: Seq[TableChange.AddColumn]): StructType =
    StructType(adds.map(a => StructField(a.fieldNames()(0), a.dataType())))
}

object TableFormat {
  /** The format of the table at `root`, reading its current metadata
    * file at most once: graft, Iceberg, or None when no metadata
    * version exists. The two formats share the metadata/vN.metadata.json
    * + version-hint convention; the metadata dialect tells them apart. */
  def resolve(root: String): Option[TableFormat] =
    Meta.currentMetadata(root).map {
      case Left(m) => new GraftFormat(root, m)
      case Right(m) => new IcebergFormat(root, m)
    }

  private val baseCapabilities: Seq[TableCapability] = Seq(
    TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
    TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
    TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  private def capabilitySet(cs: Seq[TableCapability]): java.util.Set[TableCapability] =
    java.util.EnumSet.copyOf(java.util.Arrays.asList(cs: _*))

  /** A Spark V2 transform as a graft partition field. */
  private[spark] def toPartitionField(t: Transform): Meta.PartitionField = {
    val c = t.references()(0).fieldNames().mkString(".")
    t.name() match {
      case "identity" => Meta.PartitionField(c, "identity", s"_p_$c")
      case "bucket" => Meta.PartitionField(c, s"bucket[${intArg(t)}]", s"_p_${c}_bucket")
      case "years" => Meta.PartitionField(c, "year", s"_p_${c}_year")
      case "months" => Meta.PartitionField(c, "month", s"_p_${c}_month")
      case "days" => Meta.PartitionField(c, "day", s"_p_${c}_day")
      case "hours" => Meta.PartitionField(c, "hour", s"_p_${c}_hour")
      case other =>
        throw new UnsupportedOperationException(s"unsupported transform $other")
    }
  }

  /** A Spark V2 transform as the Iceberg transform string the REST
    * create request carries (spec/partition.rs transform names). */
  private[spark] def toIceTransform(t: Transform): (String, String) = {
    val c = t.references()(0).fieldNames().mkString(".")
    t.name() match {
      case "identity" => (c, "identity")
      case "bucket" => (c, s"bucket[${intArg(t)}]")
      case "truncate" => (c, s"truncate[${intArg(t)}]")
      case "years" => (c, "year")
      case "months" => (c, "month")
      case "days" => (c, "day")
      case "hours" => (c, "hour")
      case other =>
        throw new UnsupportedOperationException(s"unsupported transform $other")
    }
  }

  private def intArg(t: Transform): Int = t.arguments().collectFirst {
    case l: Literal[_] => l.value().toString.toInt
  }.getOrElse(throw new IllegalArgumentException(
    s"${t.name()} needs an integer argument"))

  /** A graft table: copy-on-write deletes by default; OVERWRITE_DYNAMIC;
    * `TIMESTAMP AS OF` by commit time. */
  final class GraftFormat(val root: String, meta: Meta.TableMetadata) extends TableFormat {
    def kind: String = "graft"
    def currentSnapshotId: Option[Long] = meta.currentSnapshotId
    def schemaAt(snapshot: Option[Long]): StructType =
      snapshot.flatMap(meta.snapshot).flatMap(sn => meta.schemas.get(sn.schemaId))
        .getOrElse(meta.schema)
    def spec: Seq[Meta.PartitionField] = meta.spec
    def capabilities: java.util.Set[TableCapability] =
      capabilitySet(baseCapabilities :+ TableCapability.OVERWRITE_DYNAMIC)
    def scanSource(snapshot: Option[Long], branch: Option[String],
        start: Option[Long]): ScanSource = new GraftScanSource(root, snapshot, branch, start)
    def writeTarget: WriteTarget = new GraftWriteTarget(root)
    private def table = GraftTable.loaded(SparkSession.active, root)

    /** Every translatable filter routes to GraftTable's copy-on-write
      * delete (which keeps NULL-predicate rows per three-valued SQL
      * semantics and prunes rewrite candidates by manifest stats), or,
      * under write.delete.mode=merge-on-read, to a position-delete file.
      * Untranslatable conditions fail the statement fast — better than
      * a silent wrong delete. */
    def canDeleteWhere(filters: Array[Filter]): Boolean =
      GraftSparkTable.translatable(filters)

    def deleteWhere(filters: Array[Filter]): Unit = {
      val (cond, touched, _) = GraftSparkTable.overwriteByFilter(filters.toSeq)
      val t = table
      if (t.meta.properties.get("write.delete.mode").contains("merge-on-read"))
        t.deleteWhereMoRPositional(cond)
      else t.delete(cond, touched.map(f => t.StatFilter(f._1, f._2, f._3)))
    }

    /** Ids for the replacement schema allocate above every id any schema
      * version ever used — the staged parquet carries them, and the
      * commit refuses if a concurrent DDL moved the watermark. The
      * executors stage under the live root; the swap ingests there. */
    def stageReplace(newSchema: StructType, partitions: Seq[Transform],
        props: Map[String, String]): StagedReplacement = {
      val base = Meta.maxFieldId(meta.schemas.values)
      val withIds = Meta.withFieldIds(Meta.stripFieldIds(newSchema), base + 1)
      val newSpec = partitions.map(toPartitionField)
      new StagedReplacement {
        val schema: StructType = withIds
        val layout: GraftWriteLayout = GraftWriteLayout(newSpec, Seq.empty, props)
        def writerFactory(rows: StructType, staging: String): GraftWriterFactory =
          GraftWriterFactory(staging, GraftConnectorShim.prepareParquetWriteConf(
            SparkSession.active, withIds), RowTransform.forSpec(newSpec, withIds))
        def stage(staging: Path): Unit = ()
        def publish(staging: Path): Unit =
          table.replaceTable(staging, withIds, newSpec, props, base)
        def abort(staging: Path): Unit = TableIO.delete(staging, recursive = true)
      }
    }

    protected def refs: Map[String, Long] = meta.refs
    protected def hasSnapshot(id: Long): Boolean = meta.snapshot(id).isDefined
    protected def snapshotAt(tsMs: Long): Option[Long] =
      meta.snapshots.filter(_.timestampMs <= tsMs).sortBy(_.timestampMs)
        .lastOption.map(_.snapshotId)
    protected def addColumns(adds: Seq[TableChange.AddColumn]): Unit =
      table.addColumns(addedColumns(adds))
    protected def alterColumn(change: TableChange): Unit = change match {
      case d: TableChange.DeleteColumn if d.fieldNames().length == 1 =>
        table.dropColumn(d.fieldNames()(0))
      case r: TableChange.RenameColumn if r.fieldNames().length == 1 =>
        table.renameColumn(r.fieldNames()(0), r.newName())
      case u: TableChange.UpdateColumnType if u.fieldNames().length == 1 =>
        table.updateColumnType(u.fieldNames()(0), u.newDataType())
      case other =>
        throw new UnsupportedOperationException(s"unsupported change $other")
    }
    protected def updateProperties(sets: Map[String, String], removes: Set[String]): Unit =
      table.updateProperties(sets, removes.toSeq)

    def expireSnapshots(keepLast: Int, maxAgeMs: Option[Long]): (Int, Int) =
      (meta.snapshots.size,
        table.expireSnapshots(keepLast, maxAgeMs = maxAgeMs, current = meta).snapshots.size)
    def vacuum(olderThanMs: Long): Int = table.vacuum(olderThanMs).size
    def removeOrphanFiles(olderThanMs: Long, dryRun: Boolean,
        pruneStreamProps: Boolean): Seq[String] =
      table.removeOrphanFiles(olderThanMs, dryRun, pruneStreamProps)
    def addFiles(sourceDir: String): (Long, Long) = {
      val added = table.addFiles(sourceDir)
      (added.size.toLong, added.map(_.recordCount).sum)
    }
    def rewriteDataFiles(strategy: String, sortColumns: Seq[String],
        targetFileBytes: Long): (Int, Int) = strategy match {
      case "binpack" => table.compact(targetFileBytes)
      case "sort" => table.rewriteSort(targetFileBytes)
      case "zorder" => table.rewriteZOrder(sortColumns, targetFileBytes)
      case other => throw new IllegalArgumentException(
        s"unknown rewrite strategy '$other' (binpack | sort | zorder)")
    }
    def rewriteManifests(): Int = table.rewriteManifests()
    // the fold drops every delete file live when it starts
    def foldDeletes(): Int = {
      val live = meta.liveDeleteFiles(None).size
      table.applyDeletes()
      live
    }
    def convertEqualityDeletes(): Int = table.convertEqualityDeletes()._1
    def updateByKey(keys: DataFrame, keyColumns: Seq[String],
        sets: Seq[(String, Column)]): Long = table.updateByKey(keys, keyColumns, sets)
    def rewritePositionDeletes(): (Int, Int) = table.rewritePositionDeletes()
    def rollbackTo(snapshotId: Long): Unit = table.rollbackTo(snapshotId)
    def setRef(name: String, snapshotId: Long, retention: Meta.RefRetention): Unit =
      table.setRef(name, snapshotId, Some(retention))
    /** also persists the NDVs as table stats for the cost-based optimizer */
    def analyze(columns: Seq[String]): Seq[(String, Long)] = table.analyze(columns).toSeq
    def changesBetween(start: Option[Long], end: Option[Long]): DataFrame =
      table.changesBetween(start, end)
    def cherrypick(snapshotId: Long): Long =
      table.cherrypick(snapshotId, meta).currentSnapshotId.getOrElse(-1L)
    def fastForward(branch: String, to: String): (Long, Long) = table.fastForward(branch, to)
    def setSortOrder(entries: Seq[String]): Unit = table.setSortOrder(entries)
  }

  /** A real-format Iceberg table (adopted warehouse tables and every
    * REST-catalog table): merge-on-read by default, metadata-only
    * equality deletes, no dynamic partition overwrite, `TIMESTAMP AS
    * OF` through the snapshot-log. Over a REST catalog every commit
    * rides the update-table protocol. */
  final class IcebergFormat(val root: String, meta: IcebergMetadata.IceMetadata)
      extends TableFormat {
    def kind: String = "iceberg"
    def currentSnapshotId: Option[Long] = meta.currentSnapshotId
    def schemaAt(snapshot: Option[Long]): StructType =
      snapshot.flatMap(meta.snapshot)
        .flatMap(sn => meta.schemas.find(_.schemaId == sn.schemaId))
        .getOrElse(meta.schema).toSpark
    // a source column the schema lost leaves its field out
    def spec: Seq[Meta.PartitionField] = meta.defaultSpecFields.flatMap(pf =>
      meta.schema.fields.find(_.id == pf.sourceId)
        .map(c => Meta.PartitionField(c.name, pf.transform, pf.name)))
    def capabilities: java.util.Set[TableCapability] = capabilitySet(baseCapabilities)
    def scanSource(snapshot: Option[Long], branch: Option[String],
        start: Option[Long]): ScanSource = {
      if (start.isDefined)
        throw new UnsupportedOperationException(
          s"start-snapshot-id: incremental batch reads of Iceberg table $root " +
            "are not supported; pin one snapshot with snapshot or end-snapshot-id")
      new IcebergScanSource(root, snapshot, branch)
    }
    def writeTarget: WriteTarget = new IcebergWriteTarget(root)

    /** Pure-equality DELETE conditions commit METADATA-ONLY: the key
      * tuples become a v2 EQUALITY delete file (sequence-scoped to all
      * earlier data) — no table scan, no data write, O(keys) commit
      * cost. Spark routes here through OptimizeMetadataOnlyDeleteFromTable
      * when canDeleteWhere accepts; everything else falls back to the
      * row-level operation (delta MoR by default, CoW by table property).
      *
      * Supported shapes — exactly those whose SQL semantics equal an
      * equality-delete tuple set: col = lit, col IN (lits...), AND of
      * equalities on DISTINCT columns (one multi-column tuple), OR of
      * supported shapes over the SAME column set (tuple union). NULL
      * literals are rejected: col = NULL matches no rows in SQL while a
      * null tuple value would alter delete-file semantics. */
    private def eqTuples(filters: Array[Filter]): Option[(Seq[String], Seq[Seq[Any]])] = {
      def one(f: Filter): Option[(Seq[String], Seq[Seq[Any]])] = f match {
        case EqualTo(c, v) if v != null => Some((Seq(c), Seq(Seq(v))))
        case In(c, vs) if vs.nonEmpty && vs.forall(_ != null) =>
          Some((Seq(c), vs.toSeq.map(v => Seq(v))))
        case And(l, r) =>
          for {
            (lc, lt) <- one(l); (rc, rt) <- one(r)
            // conjunction = cross product of the tuple sets; distinct
            // column sets only (a=1 AND a=2 is empty, not expressible).
            // The product is capped BEFORE materializing — IN(10k) AND
            // IN(10k) must reject, not build 100M tuples on the driver
            if lc.intersect(rc).isEmpty && lt.size.toLong * rt.size <= MaxTuples
          } yield (lc ++ rc, for (a <- lt; b <- rt) yield a ++ b)
        case Or(l, r) =>
          for {
            (lc, lt) <- one(l); (rc, rt) <- one(r)
            if lc == rc
          } yield (lc, (lt ++ rt).distinct)
        case _ => None
      }
      // top-level filters AND together like And()
      if (filters.isEmpty) None
      else filters.toSeq.map(one)
        .foldLeft(Option((Seq.empty[String], Seq(Seq.empty[Any])))) {
          case (Some((ac, at)), Some((bc, bt)))
              if ac.intersect(bc).isEmpty && at.size.toLong * bt.size <= MaxTuples =>
            Some((ac ++ bc, for (x <- at; y <- bt) yield x ++ y))
          case _ => None
        }
    }

    /** Tuple-set bound for the metadata delete path: the set becomes
      * one driver-written delete file, so it must stay small. */
    private val MaxTuples = 100000L

    /** Filter literal -> the external value createDataFrame expects for
      * the column's Spark type; None rejects the metadata path. */
    private def coerce(t: org.apache.spark.sql.types.DataType, v: Any): Option[Any] = {
      import org.apache.spark.sql.types._
      (t, v) match {
        case (LongType, x: java.lang.Long) => Some(x)
        case (LongType, x: java.lang.Integer) => Some(Long.box(x.longValue()))
        case (IntegerType, x: java.lang.Integer) => Some(x)
        case (ShortType, x: java.lang.Short) => Some(x)
        case (DoubleType, x: java.lang.Double) => Some(x)
        case (FloatType, x: java.lang.Float) => Some(x)
        case (BooleanType, x: java.lang.Boolean) => Some(x)
        case (StringType, x: String) => Some(x)
        case (StringType, x: org.apache.spark.unsafe.types.UTF8String) => Some(x.toString)
        case (DateType, x: java.sql.Date) => Some(x)
        case (DateType, x: java.time.LocalDate) => Some(java.sql.Date.valueOf(x))
        case (TimestampType, x: java.sql.Timestamp) => Some(x)
        case (TimestampType, x: java.time.Instant) => Some(java.sql.Timestamp.from(x))
        case _ => None
      }
    }

    private def field(c: String): StructField = meta.schema.toSpark.fields.find(_.name == c).get

    def canDeleteWhere(filters: Array[Filter]): Boolean =
      eqTuples(filters).exists { case (cols, tuples) =>
        cols.forall(c => meta.schema.fieldId(c).isDefined) &&
          tuples.forall(t => t.zip(cols).forall { case (v, c) =>
            coerce(field(c).dataType, v).isDefined
          }) &&
          // bounded: the tuple set becomes one driver-written file
          tuples.size <= MaxTuples
      }

    def deleteWhere(filters: Array[Filter]): Unit = {
      val (cols, tuples) = eqTuples(filters).getOrElse(
        throw new IllegalStateException("deleteWhere on untranslatable filters"))
      val spark = SparkSession.active
      val fields = cols.map(field)
      val rows = tuples.map(t => org.apache.spark.sql.Row(
        t.zip(fields).map { case (v, f) => coerce(f.dataType, v).get }: _*))
      import scala.jdk.CollectionConverters._
      val keys = spark.createDataFrame(rows.asJava, StructType(fields.toArray))
      IcebergWrite.deleteEquality(spark, root, keys, cols)
    }

    /** The executors stage under the root; the inner batch commit moves
      * the staged files into data/ unreferenced, and the publish is one
      * CAS or protocol commit. */
    def stageReplace(newSchema: StructType, partitions: Seq[Transform],
        props: Map[String, String]): StagedReplacement = {
      val staged = IcebergWrite.stageReplaceTable(root, newSchema,
        partitions.map(toIceTransform), props)
      val m = staged.metadata
      new StagedReplacement {
        val schema: StructType = newSchema
        val layout: GraftWriteLayout =
          GraftWriteLayout(m.defaultPartitionFields, Seq.empty, m.properties)
        def writerFactory(rows: StructType, staging: String): GraftWriterFactory =
          GraftWriterFactory.forIceberg(m, rows, staging)
        def stage(staging: Path): Unit = staged.ingest(SparkSession.active, staging)
        def publish(staging: Path): Unit = staged.commit()
        def abort(staging: Path): Unit = {
          staged.abort()
          TableIO.delete(staging, recursive = true)
        }
      }
    }

    protected def refs: Map[String, Long] = meta.refs
    protected def hasSnapshot(id: Long): Boolean = meta.snapshot(id).isDefined
    // spec semantics: resolve through the snapshot-log — the snapshot
    // that was CURRENT at that instant (after a rollback the
    // latest-committed and the then-current snapshot differ); log-less
    // adopted tables fall back to commit timestamps
    protected def snapshotAt(tsMs: Long): Option[Long] =
      if (meta.snapshotLog.nonEmpty)
        meta.snapshotLog.filter(_.timestampMs <= tsMs).lastOption.map(_.snapshotId)
      else meta.snapshots.filter(_.timestampMs <= tsMs).sortBy(_.timestampMs)
        .lastOption.map(_.snapshotId)

    /** A REQUIRED new column is unsatisfiable for existing rows (older
      * files null-fill it) — refused rather than silently registered as
      * optional, like Iceberg's add-column rule. New columns get new
      * ids; old snapshots keep their shape. */
    protected def addColumns(adds: Seq[TableChange.AddColumn]): Unit = {
      adds.find(!_.isNullable).foreach(a => throw new UnsupportedOperationException(
        s"cannot add NOT NULL column ${a.fieldNames()(0)}: " +
          "existing rows have no value for it; add it nullable"))
      IcebergWrite.addColumns(root, addedColumns(adds))
    }
    protected def alterColumn(change: TableChange): Unit = change match {
      case d: TableChange.DeleteColumn if d.fieldNames().length == 1 =>
        IcebergWrite.dropColumn(root, d.fieldNames()(0))
      case r: TableChange.RenameColumn if r.fieldNames().length == 1 =>
        IcebergWrite.renameColumn(root, r.fieldNames()(0), r.newName())
      case u: TableChange.UpdateColumnType if u.fieldNames().length == 1 =>
        IcebergWrite.updateColumnType(root, u.fieldNames()(0), u.newDataType())
      case other => throw new UnsupportedOperationException(
        s"unsupported change on a real-format Iceberg table: $other")
    }
    /** also how a user opts an adopted table into copy-on-write
      * row-level mode */
    protected def updateProperties(sets: Map[String, String], removes: Set[String]): Unit = {
      IcebergMetadata.commitRetry(root)(m =>
        m.copy(properties = m.properties ++ sets -- removes))
      ()
    }

    /** reads over the metadata this handle loaded */
    private def table = IcebergTable.fromMetadataAt(SparkSession.active, root, meta)

    def expireSnapshots(keepLast: Int, maxAgeMs: Option[Long]): (Int, Int) =
      IcebergMaintenance.expireSnapshots(root, keepLast, maxAgeMs = maxAgeMs)
    def vacuum(olderThanMs: Long): Int =
      IcebergMaintenance.vacuum(SparkSession.active, root, olderThanMs).size
    def removeOrphanFiles(olderThanMs: Long, dryRun: Boolean,
        pruneStreamProps: Boolean): Seq[String] =
      IcebergMaintenance.removeOrphanFiles(SparkSession.active, root, olderThanMs,
        dryRun, pruneStreamProps = pruneStreamProps)
    def addFiles(sourceDir: String): (Long, Long) = {
      val (files, rows) = IcebergWrite.addFiles(root, sourceDir)
      (files.toLong, rows)
    }
    /** One full rewrite with deletes folded in; a default table sort
      * order range-clusters it, so 'sort' and 'binpack' share it. */
    def rewriteDataFiles(strategy: String, sortColumns: Seq[String],
        targetFileBytes: Long): (Int, Int) = strategy match {
      case "binpack" | "sort" =>
        IcebergWrite.rewrite(SparkSession.active, root, targetFileBytes)
      case other => throw new IllegalArgumentException(
        s"rewrite strategy '$other' is not supported on " +
          "real-format Iceberg tables (binpack | sort)")
    }
    /** a metadata-only 'replace' commit consolidating the current
      * snapshot's data manifests; delete manifests carried */
    def rewriteManifests(): Int = {
      val (before, after) = IcebergWrite.rewriteManifests(root)
      if (after < before) before else 0
    }
    // the rewrite's manifest list carries no delete manifest
    def foldDeletes(): Int = {
      val live = table.deleteEntries().size
      if (live > 0) IcebergWrite.rewrite(SparkSession.active, root)
      live
    }
    def convertEqualityDeletes(): Int =
      IcebergWrite.convertEqualityDeletes(SparkSession.active, root)._1
    def updateByKey(keys: DataFrame, keyColumns: Seq[String],
        sets: Seq[(String, Column)]): Long =
      IcebergWrite.updateByKey(SparkSession.active, root, keys, keyColumns, sets)
    def rewritePositionDeletes(): (Int, Int) =
      IcebergWrite.rewritePositionDeletes(SparkSession.active, root)
    def rollbackTo(snapshotId: Long): Unit = IcebergMaintenance.rollbackTo(root, snapshotId)
    def setRef(name: String, snapshotId: Long, retention: Meta.RefRetention): Unit =
      IcebergMaintenance.setRef(root, name, snapshotId, refType = retention.refType,
        retention = Some(IcebergMetadata.IceRefRetention(retention.minSnapshotsToKeep,
          retention.maxSnapshotAgeMs, retention.maxRefAgeMs)))
    /** The NDVs are returned, not persisted: the real format has no
      * graft stats slot (Puffin is out of scope). */
    def analyze(columns: Seq[String]): Seq[(String, Long)] = {
      import org.apache.spark.sql.functions.{approx_count_distinct, col}
      import org.apache.spark.sql.types.{ArrayType, MapType}
      val cols =
        if (columns.nonEmpty) columns
        else schemaAt(None).fields.filter(_.dataType match {
          case _: ArrayType | _: MapType | _: StructType => false
          case _ => true
        }).map(_.name).toSeq
      val ndv = table.scan()
        .select(cols.map(c => approx_count_distinct(col(c)).as(c)): _*)
        .collect()(0)
      cols.map(c => c -> ndv.getAs[Long](c))
    }
    def changesBetween(start: Option[Long], end: Option[Long]): DataFrame =
      table.changesBetween(start, end)
    def cherrypick(snapshotId: Long): Long = IcebergMaintenance.cherrypick(root, snapshotId)
    def fastForward(branch: String, to: String): (Long, Long) =
      IcebergMaintenance.fastForward(root, branch, to)
    /** the same sort-order evolution the REST client commits, as a
      * metadata edit; the append and rewrite paths cluster by it */
    def setSortOrder(entries: Seq[String]): Unit = {
      require(!entries.exists(_.toLowerCase(java.util.Locale.ROOT).startsWith("zorder")),
        "zorder sort orders have no real-format Iceberg spec form")
      IcebergMetadata.commitRetry(root) { m =>
        val fields = entries.map { c =>
          val f = m.schema.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(s"no column $c"))
          IcebergMetadata.IceSortField(f.id, "identity", "asc", "nulls-first")
        }
        val orderId = m.sortOrders.map(_.orderId).maxOption.getOrElse(0) + 1
        m.copy(sortOrders = m.sortOrders :+ IcebergMetadata.IceSortOrder(orderId, fields),
          defaultSortOrderId = orderId)
      }
      ()
    }
  }
}

/** A REPLACE TABLE staged but not published: the new schema (with the
  * field ids the staged files carry), the new spec's write layout, and
  * the steps of the staged table's life — the inner batch commit
  * (`stage`), the one metadata commit that swaps the table (`publish`),
  * and `abort`, which leaves the table as it was. */
trait StagedReplacement {
  def schema: StructType
  def layout: GraftWriteLayout
  def writerFactory(rows: StructType, staging: String): GraftWriterFactory
  def stage(staging: Path): Unit
  def publish(staging: Path): Unit
  def abort(staging: Path): Unit
}
