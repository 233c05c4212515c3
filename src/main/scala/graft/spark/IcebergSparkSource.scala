package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.GraftConnectorShim
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.table.TableIO
import graft.table.iceberg.{IcebergAvro, IcebergMetadata, IcebergTable}

/** Standard Spark SQL over REAL (foreign-written) Iceberg v2 tables:
  * the TableCatalog serves this V2 table for any directory holding
  * Iceberg metadata instead of graft metadata, so
  *
  *   SELECT ... FROM graft_wh.db.some_iceberg_table
  *
  * plans manifest-pruned vectorized parquet scans over a table ANY
  * engine wrote — with v2 delete manifests (equality + positional)
  * applied executor-side through the same merge-on-read reader
  * machinery as graft's own connector.
  */
class IcebergSparkTable(location: String,
    pinnedSnapshot: Option[Long] = None) extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  private lazy val ice = IcebergMetadata.load(location)

  /** Pure-equality DELETE conditions commit METADATA-ONLY: the key
    * tuples become a v2 EQUALITY delete file (sequence-scoped to all
    * earlier data) — no table scan, no data write, O(keys) commit
    * cost. At 100 TB this is the difference between deleting a user's
    * rows in milliseconds and scanning the corpus. Spark routes here
    * through OptimizeMetadataOnlyDeleteFromTable when canDeleteWhere
    * accepts; everything else falls back to the row-level operation
    * (delta MoR by default, CoW by table property).
    *
    * Supported shapes — exactly those whose SQL semantics equal an
    * equality-delete tuple set: col = lit, col IN (lits...), AND of
    * equalities on DISTINCT columns (one multi-column tuple), OR of
    * supported shapes over the SAME column set (tuple union). NULL
    * literals are rejected: col = NULL matches no rows in SQL while a
    * null tuple value would alter delete-file semantics. */
  private def eqTuples(filters: Array[Filter])
      : Option[(Seq[String], Seq[Seq[Any]])] = {
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
    // top-level filters AND together like And(): cross-product the
    // tuple sets, distinct column sets only
    if (filters.isEmpty) None
    else filters.toSeq.map(one)
      .foldLeft(Option((Seq.empty[String], Seq(Seq.empty[Any])))) {
        case (Some((ac, at)), Some((bc, bt)))
            if ac.intersect(bc).isEmpty &&
              at.size.toLong * bt.size <= MaxTuples =>
          Some((ac ++ bc, for (x <- at; y <- bt) yield x ++ y))
        case _ => None
      }
  }

  /** Tuple-set bound for the metadata delete path: the set becomes
    * one driver-written delete file, so it must stay small. */
  private val MaxTuples = 100000L

  /** Filter literal -> the external value createDataFrame expects for
    * the column's Spark type; None rejects the metadata path. */
  private def coerce(t: org.apache.spark.sql.types.DataType,
      v: Any): Option[Any] = {
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
      case (StringType, x: org.apache.spark.unsafe.types.UTF8String) =>
        Some(x.toString)
      case (DateType, x: java.sql.Date) => Some(x)
      case (DateType, x: java.time.LocalDate) => Some(java.sql.Date.valueOf(x))
      case (TimestampType, x: java.sql.Timestamp) => Some(x)
      case (TimestampType, x: java.time.Instant) =>
        Some(java.sql.Timestamp.from(x))
      case _ => None
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    eqTuples(filters).exists { case (cols, tuples) =>
      cols.forall(c => ice.schema.fieldId(c).isDefined) &&
        tuples.forall(t => t.zip(cols).forall { case (v, c) =>
          val ft = ice.schema.toSpark.fields.find(_.name == c).get.dataType
          coerce(ft, v).isDefined
        }) &&
        // bounded: the tuple set becomes one driver-written file
        tuples.size <= MaxTuples
    }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val (cols, tuples) = eqTuples(filters).getOrElse(
      throw new IllegalStateException("deleteWhere on untranslatable filters"))
    val spark = SparkSession.active
    val fields = cols.map(c =>
      ice.schema.toSpark.fields.find(_.name == c).get)
    val rows = tuples.map(t => org.apache.spark.sql.Row(
      t.zip(fields).map { case (v, f) => coerce(f.dataType, v).get }: _*))
    import scala.jdk.CollectionConverters._
    val keys = spark.createDataFrame(rows.asJava, StructType(fields.toArray))
    graft.table.iceberg.IcebergWrite.deleteEquality(spark, location, keys, cols)
  }

  override def name(): String = s"iceberg.`$location`"
  /** A time-travel pin serves the SNAPSHOT's schema (names AND types
    * of its era; a since-dropped column still shows) — same rule as
    * the graft dialect and the binary interop reader. */
  override def schema(): StructType =
    pinnedSnapshot.flatMap(ice.snapshot)
      .flatMap(sn => ice.schemas.find(_.schemaId == sn.schemaId))
      .getOrElse(ice.schema).toSpark
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  /** The default spec's transforms in V2 terms — analyzer metadata:
    * what makes `INSERT OVERWRITE ... PARTITION (col=...)` resolve
    * and DESCRIBE show the layout. Unknown transform strings are
    * omitted (sound: the clause on them is refused, nothing lies). */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val m = ice
    m.defaultSpecFields.flatMap { pf =>
      m.schema.fields.find(_.id == pf.sourceId).map(_.name).flatMap { c =>
        pf.transform match {
          case "identity" => Some(Expressions.identity(c))
          case t if t.startsWith("bucket[") =>
            Some(Expressions.bucket(
              t.stripPrefix("bucket[").stripSuffix("]").toInt, c))
          case "year" => Some(Expressions.years(c))
          case "month" => Some(Expressions.months(c))
          case "day" => Some(Expressions.days(c))
          case "hour" => Some(Expressions.hours(c))
          case _ => None
        }
      }
    }.toArray
  }

  /** Row-address metadata columns (_file, _pos) — the delta row id,
    * same pair Iceberg's own Spark integration exposes. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftSparkTable.FileMetaCol, GraftSparkTable.PosMetaCol)

  /** SQL DELETE / UPDATE / MERGE on an adopted real-format table:
    * merge-on-read by default, copy-on-write by table property — see
    * IcebergRowLevelTarget. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    RowLevelOperations.builder(info, () => new IcebergRowLevelTarget(location))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    import scala.jdk.CollectionConverters._
    new IcebergScanBuilder(location,
      Option(options.get("snapshot")).map(_.toLong).orElse(pinnedSnapshot),
      streamOptions = options.asCaseSensitiveMap().asScala.toMap)
  }

  /** INSERT INTO a table some other engine created (reference:
    * datafusion_iceberg/src/table.rs:216 insert_into). The V1 write
    * bridge hands the planned DataFrame to the interop writer, which
    * runs the distributed parquet write, computes transform partition
    * values, and commits a real Iceberg snapshot (avro manifest +
    * manifest list + next metadata.json). */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwriteAll = false
      private var byFilter: Option[Seq[org.apache.spark.sql.sources.Filter]] = None
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwriteAll = true; this
      }
      override def canOverwrite(
          filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
        GraftSparkTable.translatable(filters)
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        if (GraftSparkTable.selectsAll(filters)) overwriteAll = true
        else byFilter = Some(filters.toSeq)
        this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          // writeStream.toTable on an adopted/REST table: per-epoch
          // executor-staged files, one stamped snapshot per epoch.
          // Epochs skip the sort-order range-clustering batch writes
          // apply (micro-batches are small by construction); CALL
          // rewrite_data_files restores clustering.
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
            new StagedStreamingWrite(location, overwriteAll,
              GraftWriterFactory.forIceberg(
                IcebergMetadata.load(location), info.schema(), _),
              // over a REST catalog each epoch commit rides the
              // update-table protocol
              graft.table.iceberg.IcebergWrite.commitStreamEpoch(
                SparkSession.active, location, _, info.queryId(), _,
                overwriteAll))
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
              byFilter match {
                case Some(filters) =>
                  val (cond, triples, eqProofs) =
                    GraftSparkTable.overwriteByFilter(filters)
                  graft.table.iceberg.IcebergWrite.overwriteWhere(
                    data.sparkSession, location, data, cond, triples, eqProofs)
                case None if overwriteAll =>
                  graft.table.iceberg.IcebergWrite.overwrite(
                    data.sparkSession, location, data)
                case None =>
                  graft.table.iceberg.IcebergWrite.append(
                    data.sparkSession, location, data)
              }
            }
        }
    }
}

class IcebergScanBuilder(location: String, snapshotId: Option[Long],
    streamOptions: Map[String, String] = Map.empty,
    capture: Option[CopyOnWriteOperation] = None)
  extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private val ice = IcebergMetadata.load(location)
  // a time-travel scan plans against the PINNED snapshot's schema:
  // era labels, era types, since-dropped columns included
  private val schemaAt = snapshotId.flatMap(ice.snapshot)
    .flatMap(sn => ice.schemas.find(_.schemaId == sn.schemaId))
    .getOrElse(ice.schema)
  private var pushed: Array[Filter] = Array.empty
  private var requiredSchema: StructType = schemaAt.toSpark

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // everything stays residual; pruning is a skip optimization
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = {
    val names = required.fieldNames.toSet
    requiredSchema = StructType(
      schemaAt.toSpark.fields.filter(f => names.contains(f.name)))
    // _file/_pos metadata columns (the delta row id) are not data
    // columns: the reader APPENDS them per row, so track them apart
    rowIdCols = required.fields.filter(f =>
      f.name == GraftSparkTable.FileColName ||
        f.name == GraftSparkTable.PosColName).toSeq
  }

  private var rowIdCols: Seq[org.apache.spark.sql.types.StructField] = Seq.empty

  /** The manifest-prunable subset of the pushed filters, rendered in
    * canonical stat-string form (same translation as GraftScan). */
  private def statFilters: Seq[(String, String, String)] = {
    def lit(v: Any): Option[String] = v match {
      case null => None
      case n: Number => Some(n.toString)
      case s: String => Some(s)
      case d: java.sql.Date => Some(d.toLocalDate.toString)
      case t: java.sql.Timestamp =>
        val i = t.toInstant
        Some(graft.table.FooterStats.canonicalTimestampMicros(
          Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
            i.getNano / 1000L)))
      case i: java.time.Instant =>
        Some(graft.table.FooterStats.canonicalTimestampMicros(
          Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
            i.getNano / 1000L)))
      case _ => None
    }
    pushed.toSeq.flatMap {
      case EqualTo(c, v) => lit(v).map((c, "=", _))
      case GreaterThan(c, v) => lit(v).map((c, ">", _))
      case GreaterThanOrEqual(c, v) => lit(v).map((c, ">=", _))
      case LessThan(c, v) => lit(v).map((c, "<", _))
      case LessThanOrEqual(c, v) => lit(v).map((c, "<=", _))
      case _ => None
    }
  }

  override def build(): Scan = {
    // merge-on-read: equality-delete key columns must be read even
    // when pruned away. Load the table + delete manifests ONCE and
    // hand them to the scan — metadata walks are driver round-trips
    // on object storage. The builder's own metadata load is reused
    // (one read serves planning end to end, not one per phase).
    val t = IcebergTable.fromMetadataAt(SparkSession.active, location, ice)
    val deletes = t.deleteEntries(snapshotId)
    val eqIds = deletes.map(_._1)
      .filter(_.content == 2).flatMap(_.equalityIds).distinct
    val eqCols = eqIds.flatMap(id => schemaAt.fields.find(_.id == id).map(_.name))
    val withKeys =
      if (eqCols.forall(requiredSchema.fieldNames.contains)) requiredSchema
      else StructType(schemaAt.toSpark.fields.filter(f =>
        requiredSchema.fieldNames.contains(f.name) || eqCols.contains(f.name)))
    new IcebergScan(location, snapshotId, withKeys, pushed, statFilters,
      t, deletes, streamOptions, rowIdCols, capture)
  }
}

class IcebergScan(location: String, snapshotId: Option[Long],
    requiredSchema: StructType, pushedFilters: Array[Filter],
    statFilters: Seq[(String, String, String)],
    table: IcebergTable,
    deletes: Seq[(IcebergAvro.DataFileEntry, Long)],
    streamOptions: Map[String, String] = Map.empty,
    rowIdCols: Seq[org.apache.spark.sql.types.StructField] = Seq.empty,
    capture: Option[CopyOnWriteOperation] = None)
  extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  private def sparkSession = SparkSession.active
  private lazy val ice = table.meta
  // era schema of the pinned snapshot (current schema otherwise):
  // name<->id resolution must use the SAME labels the builder planned
  private lazy val schemaAt = snapshotId.flatMap(ice.snapshot)
    .flatMap(sn => ice.schemas.find(_.schemaId == sn.schemaId))
    .getOrElse(ice.schema)

  /** Manifest-derived sizes from the PRUNED file list — foreign tables
    * get the same statistics-driven broadcast decisions as graft's own
    * (reference: datafusion_iceberg/src/statistics.rs). */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val files = table.plannedFiles(snapshotId, statFilters)
    val bytes = files.map(_._1.fileSizeBytes).sum
    val rows = files.map(_._1.recordCount).filter(_ >= 0).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  // ---- runtime filtering (dynamic file pruning from join keys) -------

  /** A row-level operation's replaced group must equal EXACTLY the
    * files every one of its scans planned: runtime narrowing of just
    * the main scan would desynchronize the captured set from the
    * rows the replacement write actually read (files removed whose
    * surviving rows were never rewritten — data loss), so CoW scans
    * decline runtime filtering, like the graft dialect. Row-id scans
    * (the delta path) decline too: their single-file partition maps
    * and position counting must not be re-planned out from under the
    * already-created reader factory. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (capture.isDefined || rowIdCols.nonEmpty) Array.empty
    else requiredSchema.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)

  @volatile private var runtimeStatFilters: Seq[(String, String, String)] = Seq.empty

  /** Runtime IN-filters from the build side of a join become min/max
    * envelopes over the manifest bounds; equality literals also map
    * through partition transforms (bucket pruning on foreign tables).
    * Numeric/string keys only — other literal types render differently
    * from the canonical stat strings and pruning must stay sound. */
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
  }

  private def allStatFilters: Seq[(String, String, String)] =
    statFilters ++ runtimeStatFilters

  // ---- storage-partitioned join over foreign identity/bucket specs --

  private lazy val spec = ice.defaultSpecFields

  private def srcName(pf: graft.table.iceberg.IcebergMetadata.IcePartitionField): String =
    schemaAt.fields.find(_.id == pf.sourceId).map(_.name).getOrElse("")

  private def spjEligible: Boolean =
    rowIdCols.isEmpty &&
      spec.nonEmpty && spec.forall(_.transform == "identity") &&
      spec.forall(pf => requiredSchema.fieldNames.contains(srcName(pf))) &&
      deletes.isEmpty

  private def bucketSpec
      : Option[(graft.table.iceberg.IcebergMetadata.IcePartitionField, Int)] =
    spec match {
      case Seq(pf) if rowIdCols.isEmpty && pf.transform.startsWith("bucket[") &&
          requiredSchema.fieldNames.contains(srcName(pf)) && deletes.isEmpty =>
        Some((pf, pf.transform.stripPrefix("bucket[").stripSuffix("]").toInt))
      case _ => None
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    if (spjEligible) {
      val parts = planInputPartitions()
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        spec.map(pf =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(srcName(pf))
            .asInstanceOf[org.apache.spark.sql.connector.expressions.Expression]).toArray,
        parts.length)
    } else bucketSpec match {
      case Some((pf, n)) =>
        val parts = planInputPartitions()
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions
            .bucket(n, srcName(pf))
            .asInstanceOf[org.apache.spark.sql.connector.expressions.Expression]),
          parts.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }
  }

  override def readSchema(): StructType =
    StructType(requiredSchema.fields ++ rowIdCols)
  override def toBatch: Batch = this
  override def description(): String = s"IcebergScan($location)"

  /** Incremental append stream over the foreign table's snapshot tail
    * (readStream on a catalog Iceberg table or format("graft") path). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    TableMicroBatchStream.iceberg(location, requiredSchema, streamOptions)

  private def resolve(p: String): org.apache.hadoop.fs.Path =
    table.resolvePath(p) // remaps absolute paths across catalog renames

  @volatile private var deleteSpecsByPartition: Map[String, Seq[DeleteFilesSpec]] = Map.empty
  @volatile private var posSpecsByPartition: Map[String, (PosDeleteSpec, String)] = Map.empty

  /** Avro partition value → catalyst value for the SPJ key row. */
  private def catalystKey(v: Any): Any = v match {
    case null => null
    case u: org.apache.avro.util.Utf8 =>
      org.apache.spark.unsafe.types.UTF8String.fromString(u.toString)
    case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case other => other // Integer (int/date), Long (long/timestamp)
  }

  /** partition index → qualified data-file URI, for row-id scans
    * (single-file partitions; the reader appends _file/_pos). */
  @volatile private var rowIdFileByPartition: Map[String, String] = Map.empty

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = sparkSession
    val files = table.plannedFiles(snapshotId, allStatFilters)
    // group-based row-level ops replace exactly the files this scan
    // planned (runtime group filtering has already narrowed the set);
    // paths recorded in MANIFEST form so the commit matches entries
    capture.foreach(_.scanned.updateAndGet(_ ++ files.map(_._1.filePath)))
    def toPartition(idx: Int, bin: Seq[IcebergAvro.DataFileEntry])
        : org.apache.spark.sql.execution.datasources.FilePartition =
      GraftConnectorShim.filePartition(idx, bin.map { e =>
        GraftConnectorShim.partitionedFile(
          TableIO.qualified(resolve(e.filePath)), e.fileSizeBytes, 0L)
      })
    if (rowIdCols.nonEmpty) {
      // row-id scans (delta row-level ops): one file per partition so
      // the reader's raw stream index IS the row position — the same
      // trick the position-delete read path uses. Keyed (SPJ/bucket)
      // partitioning is skipped: a delta op's scan feeds a write, not
      // a join. Live MoR deletes still apply (below the row-id append,
      // so positions count every raw row of the file).
      val specsOut = scala.collection.mutable.Map[String, Seq[DeleteFilesSpec]]()
      val posOut = scala.collection.mutable.Map[String, (PosDeleteSpec, String)]()
      val fileOut = scala.collection.mutable.Map[String, String]()
      val out = scala.collection.mutable.ArrayBuffer[InputPartition]()
      def sig2(seq: Long): (Seq[String], Seq[String]) =
        (deletes.filter { case (d, ds) => d.content == 2 && ds > seq }
          .map(_._1.filePath).sorted,
          deletes.filter { case (d, ds) => d.content == 1 && ds >= seq }
            .map(_._1.filePath).sorted)
      files.groupBy { case (_, _, seq) => sig2(seq) }.toSeq
        .sortBy { case ((eq, pos), _) => (eq ++ pos).mkString(";") }
        .foreach { case ((eqSig, posSig), group) =>
          val specs =
            if (eqSig.isEmpty) Seq.empty else buildEqSpecs(spark, eqSig)
          val posSpec =
            if (posSig.isEmpty) None else Some(buildPosSpec(spark, posSig))
          group.foreach { case (e, _, _) =>
            out += toPartition(out.length, Seq(e))
            val uri = TableIO.qualified(resolve(e.filePath))
            val bind = PartitionBindKey.ofPath(uri)
            if (specs.nonEmpty) specsOut(bind) = specs
            fileOut(bind) = uri
            posSpec.foreach(spec => posOut(bind) = (spec, bind))
          }
        }
      deleteSpecsByPartition = specsOut.toMap
      posSpecsByPartition = posOut.toMap
      rowIdFileByPartition = fileOut.toMap
      return out.toArray
    }
    if (spjEligible || bucketSpec.isDefined) {
      // one keyed partition per partition-value tuple (SPJ layout)
      val names = if (spjEligible) spec.map(_.name) else Seq(bucketSpec.get._1.name)
      return files.groupBy(f => names.map(n => f._1.partition.get(n).orNull))
        .toSeq.sortBy(_._1.map(String.valueOf).mkString("/"))
        .zipWithIndex.map { case ((key, bin), i) =>
          KeyedFilePartition(
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              key.map(catalystKey).toArray[Any]),
            toPartition(i, bin.map(_._1))): InputPartition
        }.toArray
    }
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    def sig(seq: Long): (Seq[String], Seq[String]) =
      (deletes.filter { case (d, ds) => d.content == 2 && ds > seq }
        .map(_._1.filePath).sorted,
        deletes.filter { case (d, ds) => d.content == 1 && ds >= seq }
          .map(_._1.filePath).sorted)
    val out = scala.collection.mutable.ArrayBuffer[InputPartition]()
    val specsOut = scala.collection.mutable.Map[String, Seq[DeleteFilesSpec]]()
    val posOut = scala.collection.mutable.Map[String, (PosDeleteSpec, String)]()
    def bindOf(e: IcebergAvro.DataFileEntry): String =
      PartitionBindKey.ofPath(TableIO.qualified(resolve(e.filePath)))

    files.groupBy { case (_, _, seq) => sig(seq) }.toSeq
      .sortBy { case ((eq, pos), _) => (eq ++ pos).mkString(";") }
      .foreach { case ((eqSig, posSig), group) =>
        val specs =
          if (eqSig.isEmpty) Seq.empty
          else buildEqSpecs(spark, eqSig)
        val posSpec =
          if (posSig.isEmpty) None else Some(buildPosSpec(spark, posSig))
        if (posSig.nonEmpty) {
          group.foreach { case (e, _, _) =>
            out += toPartition(out.length, Seq(e))
            val bind = bindOf(e)
            if (specs.nonEmpty) specsOut(bind) = specs
            posOut(bind) = (posSpec.get, bind)
          }
        } else {
          val bins = scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[IcebergAvro.DataFileEntry]]()
          var cur = scala.collection.mutable.ArrayBuffer[IcebergAvro.DataFileEntry]()
          var curBytes = 0L
          group.map(_._1).sortBy(-_.fileSizeBytes).foreach { e =>
            if (curBytes + e.fileSizeBytes > maxBytes && cur.nonEmpty) {
              bins += cur; cur = scala.collection.mutable.ArrayBuffer(); curBytes = 0L
            }
            cur += e; curBytes += e.fileSizeBytes
          }
          if (cur.nonEmpty) bins += cur
          bins.foreach { bin =>
            out += toPartition(out.length, bin.toSeq)
            if (specs.nonEmpty) specsOut(bindOf(bin.head)) = specs
          }
        }
      }
    deleteSpecsByPartition = specsOut.toMap
    posSpecsByPartition = posOut.toMap
    out.toArray
  }

  private def buildEqSpecs(spark: SparkSession,
      sig: Seq[String]): Seq[DeleteFilesSpec] = {
    val byPath = deletes.map(_._1).map(e => e.filePath -> e).toMap
    sig.map(byPath).groupBy(_.equalityIds).toSeq.map { case (eqIds, dfiles) =>
      val eqCols = eqIds.flatMap(id =>
        schemaAt.fields.find(_.id == id).map(_.name))
      val keySchema = StructType(requiredSchema.fields
        .filter(f => eqCols.contains(f.name)))
      val part = GraftConnectorShim.filePartition(0, dfiles.map { e =>
        GraftConnectorShim.partitionedFile(
          TableIO.qualified(resolve(e.filePath)), e.fileSizeBytes, 0L)
      })
      DeleteFilesSpec(
        keyIndexes = keySchema.fields.map(f => requiredSchema.fieldIndex(f.name)),
        keyTypes = keySchema.fields.map(_.dataType),
        // delete files written before a rename carry the old key name
        // (right id) — id-carrying schema keeps the key resolving
        factory = GraftConnectorShim.parquetReaderFactory(
          spark, withFieldIds(keySchema), withFieldIds(keySchema), Array.empty),
        part = part,
        cacheKey = "ice-eq:" + dfiles.map(_.filePath).sorted.mkString(";"))
    }
  }

  private def buildPosSpec(spark: SparkSession, sig: Seq[String]): PosDeleteSpec = {
    val byPath = deletes.map(_._1).map(e => e.filePath -> e).toMap
    val schema = StructType(Seq(
      org.apache.spark.sql.types.StructField("file_path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType)))
    val part = GraftConnectorShim.filePartition(0, sig.map(byPath).map { e =>
      GraftConnectorShim.partitionedFile(
        TableIO.qualified(resolve(e.filePath)), e.fileSizeBytes, 0L)
    })
    PosDeleteSpec(
      factory = GraftConnectorShim.parquetReaderFactory(
        spark, schema, schema, Array.empty),
      part = part,
      cacheKey = "ice-pos:" + sig.sorted.mkString(";"))
  }

  /** Attach each column's Iceberg field id to the delegate's requested
    * schema: the shim's parquet reader resolves id-carrying columns by
    * ID (rename-safe — files written under an old name keep reading;
    * widened types up-cast). Skipped for exported-from-legacy tables
    * whose footers carry no ids. */
  private def withFieldIds(s: StructType): StructType =
    if (!table.fileIdResolution) s else schemaAt.withFieldIds(s)

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = sparkSession
    // a row-id scan counts RAW stream indexes as positions, so the
    // parquet reader must skip nothing (filters stay residual above);
    // same rule when position deletes are live — and a row-level
    // operation's scan must read candidate files WHOLE: non-matching
    // rows are copied forward by the replacement projection, so
    // dropping them here would lose data
    val pushForDelegate =
      if (rowIdCols.nonEmpty || capture.isDefined ||
          deletes.exists(_._1.content == 1))
        Array.empty[Filter]
      else pushedFilters
    val parquetFactory: PartitionReaderFactory = UnwrapKeyedFactory(
      GraftConnectorShim.parquetReaderFactory(
        spark, withFieldIds(schemaAt.toSpark), withFieldIds(requiredSchema),
        pushForDelegate))
    // _file/_pos append BELOW the MoR filter: positions must count
    // every raw row of the file, including rows a live delete hides
    val delegate =
      if (rowIdCols.isEmpty) parquetFactory
      else RowIdAppendFactory(parquetFactory, rowIdFileByPartition,
        rowIdCols.map(_.name))
    if (deletes.isEmpty) delegate
    else MorReaderFactory(delegate, deleteSpecsByPartition, posSpecsByPartition)
  }
}
