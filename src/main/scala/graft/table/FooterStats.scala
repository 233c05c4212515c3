package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.SparkSession
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._

/** Per-file column statistics from parquet footers — metadata-only IO,
  * run as a distributed job over the file list (at 100 TB a write
  * produces thousands of files; footer reads parallelize and no data
  * page is touched).
  *
  * Min/max are canonicalized to the same string forms
  * `Column.cast("string")` produces, so manifest pruning compares
  * filter literals consistently regardless of how stats were
  * collected.
  */
object FooterStats {

  case class FileStats(path: String, records: Long,
      stats: Map[String, Meta.ColStats],
      /** the file's TOP-LEVEL parquet field names — lets an importer
        * validate every file's schema in the same footer pass. */
      columns: Seq[String] = Seq.empty)

  private val tsFormat = DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** The canonical stat string for a timestamp in epoch micros — the
    * ONE formatter both stats collection and filter-literal rendering
    * must share, or lexicographic pruning comparisons are unsound. */
  def canonicalTimestampMicros(micros: Long): String = {
    val base = tsFormat.format(Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), 0))
    val frac = Math.floorMod(micros, 1000000L)
    if (frac == 0) base
    else base + "." + f"$frac%06d".reverse.dropWhile(_ == '0').reverse
  }

  /** Whether `n` footers read on a driver pool: footer reads are
    * metadata-only (~1 ms each locally), so up to
    * spark.graft.stats.driverFooterThreshold (default 64) files
    * job-scheduling latency exceeds the IO. Above it, distribute — at
    * 100 TB a write produces thousands of files and the driver must
    * not serialize on them. The one rule for both table formats. */
  def onDriver(spark: SparkSession, n: Int): Boolean =
    n <= spark.conf.getOption("spark.graft.stats.driverFooterThreshold")
      .flatMap(_.toIntOption).getOrElse(64)

  def collect(spark: SparkSession, paths: Seq[String],
      prunable: Set[String]): Seq[FileStats] = {
    if (paths.isEmpty) return Seq.empty
    // the session Hadoop conf, not `new Configuration()`: it carries
    // spark.hadoop.* (filesystem impls, object-store credentials) —
    // a bare Configuration read footers through the settings-less
    // default FS (stock RawLocalFileSystem forks a process per stat).
    // TableIO.conf caches the clone per session (newHadoopConf() per
    // ingest was a measurable driver tax).
    val hconf = TableIO.conf
    if (onDriver(spark, paths.size))
      TableIO.parallelOnDriver(paths)(readFooter(_, hconf, prunable))
    else {
      val prunableB = spark.sparkContext.broadcast(prunable)
      // session-cached broadcast: one conf serialization per session,
      // not one per ingest
      val confB = TableIO.confBroadcast(spark)
      // parallelize, not createDataset + repartition: even slices with
      // no shuffle stage (the old shape paid a 2-stage round-robin
      // exchange per ingest just to spread a path list)
      spark.sparkContext
        .parallelize(paths, math.min(paths.size,
          spark.sparkContext.defaultParallelism))
        .mapPartitions { it =>
          val conf = confB.value.value
          it.map(p => readFooter(p, conf, prunableB.value))
        }
        .collect().toSeq
    }
  }

  /** Read one footer: merge row-group statistics per column. */
  def readFooter(path: String, conf: Configuration,
      prunable: Set[String]): FileStats = {
    // scheme-less paths are local (executor-side default FS may differ)
    val hp = new Path(path)
    val qualified =
      if (hp.toUri.getScheme == null) new Path("file://" + path) else hp
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(qualified, conf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala
      val records = blocks.map(_.getRowCount).sum
      val schema = footer.getFileMetaData.getSchema
      val byCol = scala.collection.mutable.Map[String, (String, String, Long)]()
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          if (prunable.contains(name)) {
            val st = c.getStatistics
            val prim = schema.getType(Seq(name): _*).asPrimitiveType()
            // INT96 timestamps (Spark's parquet default) have no sane
            // stats ordering and their Binary min/max is not text —
            // no stats for them means no pruning, which stays sound
            val int96 = prim.getPrimitiveTypeName ==
              org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96
            if (st != null && st.hasNonNullValue && !int96) {
              val tpe = prim
              val mn = canonical(st.genericGetMin, tpe.getLogicalTypeAnnotation)
              val mx = canonical(st.genericGetMax, tpe.getLogicalTypeAnnotation)
              val nulls = if (st.isNumNullsSet) st.getNumNulls else 0L
              byCol.get(name) match {
                case None => byCol(name) = (mn, mx, nulls)
                case Some((omn, omx, on)) =>
                  // string canonical forms of numerics don't compare
                  // lexicographically; merge via typed comparison
                  val cmp = comparatorFor(tpe.getLogicalTypeAnnotation,
                    tpe.getPrimitiveTypeName.name())
                  byCol(name) = (
                    if (cmp(mn, omn) < 0) mn else omn,
                    if (cmp(mx, omx) > 0) mx else omx,
                    on + nulls)
              }
            }
          }
        }
      }
      FileStats(path, records,
        byCol.map { case (k, (mn, mx, n)) => k -> Meta.ColStats(mn, mx, n) }.toMap,
        columns = schema.getFields.asScala.map(_.getName).toSeq)
    } finally reader.close()
  }

  private def comparatorFor(logical: LogicalTypeAnnotation,
      primitive: String): (String, String) => Int =
    (logical, primitive) match {
      case (_: TimestampLogicalTypeAnnotation, _) |
          (_: DateLogicalTypeAnnotation, _) => (a, b) => a.compareTo(b)
      case (_, "INT32") | (_, "INT64") =>
        (a, b) => java.lang.Long.compare(a.toLong, b.toLong)
      case (_, "FLOAT") | (_, "DOUBLE") =>
        (a, b) => java.lang.Double.compare(a.toDouble, b.toDouble)
      case _ => (a, b) => a.compareTo(b)
    }

  /** Parquet statistics value → the string form Spark's cast-to-string
    * would produce for the column value. */
  private def canonical(v: Any, logical: LogicalTypeAnnotation): String = v match {
    case b: Binary => b.toStringUsingUTF8
    case i: java.lang.Integer =>
      logical match {
        case _: DateLogicalTypeAnnotation =>
          LocalDate.ofEpochDay(i.longValue()).toString
        case _ => i.toString
      }
    case l: java.lang.Long =>
      logical match {
        case ts: TimestampLogicalTypeAnnotation =>
          val micros = ts.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MILLIS => l * 1000L
            case LogicalTypeAnnotation.TimeUnit.MICROS => l.longValue()
            case LogicalTypeAnnotation.TimeUnit.NANOS => l / 1000L
          }
          canonicalTimestampMicros(micros)
        case _ => l.toString
      }
    case d: java.lang.Double => d.toString
    case f: java.lang.Float => f.toString
    case other => String.valueOf(other)
  }
}
