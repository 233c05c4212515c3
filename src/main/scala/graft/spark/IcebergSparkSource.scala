package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.table.iceberg.IcebergMetadata

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
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
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
    * IcebergWriteTarget. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    RowLevelOperations.builder(info, () => new IcebergWriteTarget(location))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    import scala.jdk.CollectionConverters._
    new TableScanBuilder(new IcebergScanSource(location,
      Option(options.get("snapshot")).map(_.toLong).orElse(pinnedSnapshot),
      Option(options.get("branch"))),
      options = options.asCaseSensitiveMap().asScala.toMap)
  }

  /** INSERT INTO / OVERWRITE and streaming writes on a table some other
    * engine created (reference: datafusion_iceberg/src/table.rs:216
    * insert_into): executors stage parquet laid out by the table's
    * spec and sort order, and the commit lands a real Iceberg snapshot
    * (avro manifest + manifest list + next metadata.json) — over a
    * REST catalog through the update-table protocol. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new TableWriteBuilder(new IcebergWriteTarget(location), info)
}
