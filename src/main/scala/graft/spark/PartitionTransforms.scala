package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
import org.apache.spark.sql.types._
import graft.table.Meta

/** Executor-side partition-transform evaluation for V2 writes.
  *
  * Computes the SAME partition values GraftTable's Catalyst
  * `transformCol` produces (year/month/day/hour per Iceberg's
  * units-since-epoch semantics at UTC, bucket via murmur3, truncate),
  * but directly from InternalRows — so a write task routes each row
  * into its partition directory as it streams through, and the commit
  * ingests files in place. Without this, spec'd V2 writes needed a
  * second full read+shuffle+rewrite pass at commit time (double IO on
  * every INSERT — the thing that does not survive 100 TB).
  */
case class RowTransform(name: String, kind: String, param: Int,
    srcIndex: Int, srcType: DataType, timeZone: String) extends Serializable {

  private def utc(micros: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), 0, java.time.ZoneOffset.UTC)

  /** Dir-name-safe rendering of an identity string value. */
  private def sanitize(s: String): String = graft.table.PathCodec.escape(s)

  /** Spark's own cast to string: the dir value a DataFrame
    * `partitionBy` writes (timestamps in the session time zone). */
  @transient private lazy val display =
    Cast(BoundReference(srcIndex, srcType, nullable = true), StringType, Some(timeZone))

  def eval(row: InternalRow): String = {
    if (row.isNullAt(srcIndex)) return "__HIVE_DEFAULT_PARTITION__"
    kind match {
      case "identity" => srcType match {
        case IntegerType => row.getInt(srcIndex).toString
        case LongType => row.getLong(srcIndex).toString
        case ShortType => row.getShort(srcIndex).toString
        case StringType => sanitize(row.getUTF8String(srcIndex).toString)
        case DateType =>
          java.time.LocalDate.ofEpochDay(row.getInt(srcIndex).toLong).toString
        case _ => sanitize(display.eval(row).toString)
      }
      case "bucket" => (srcType match {
        case LongType | TimestampType =>
          graft.functions.IcebergHash.bucketLong(row.getLong(srcIndex), param)
        case IntegerType | DateType =>
          graft.functions.IcebergHash.bucketLong(row.getInt(srcIndex).toLong, param)
        case StringType =>
          graft.functions.IcebergHash.bucketUtf8(row.getUTF8String(srcIndex), param)
        case BinaryType =>
          graft.functions.IcebergHash.bucketBytes(row.getBinary(srcIndex), param)
        case other =>
          throw new UnsupportedOperationException(s"bucket over $other")
      }).toString
      case "truncate" => srcType match {
        case ShortType =>
          val v = row.getShort(srcIndex).toInt; (v - (((v % param) + param) % param)).toString
        case IntegerType =>
          val v = row.getInt(srcIndex); (v - (((v % param) + param) % param)).toString
        case LongType =>
          val v = row.getLong(srcIndex); (v - (((v % param) + param) % param)).toString
        case StringType =>
          sanitize(row.getUTF8String(srcIndex).toString.take(param))
        case other =>
          throw new UnsupportedOperationException(s"truncate over $other")
      }
      case "year" | "month" | "day" | "hour" =>
        val (y, m, d, h) = srcType match {
          case DateType =>
            val ld = java.time.LocalDate.ofEpochDay(row.getInt(srcIndex).toLong)
            (ld.getYear, ld.getMonthValue, ld.toEpochDay,
              ld.toEpochDay * 24) // hour-of-date matches floor(unix/3600)
          case TimestampType | TimestampNTZType =>
            val micros = row.getLong(srcIndex)
            val dt = utc(micros)
            (dt.getYear, dt.getMonthValue,
              Math.floorDiv(micros, 86400000000L),
              Math.floorDiv(micros, 3600000000L))
          case other =>
            throw new UnsupportedOperationException(s"$kind over $other")
        }
        kind match {
          case "year" => (y - 1970).toString
          case "month" => ((y - 1970) * 12 + m - 1).toString
          case "day" => d.toString
          case "hour" => h.toString
        }
      case "void" => "__HIVE_DEFAULT_PARTITION__"
      case other => throw new UnsupportedOperationException(s"transform $other")
    }
  }
}

object RowTransform {

  /** One Meta transform string -> V2 Transform expression mapping,
    * shared by Table.partitioning() and the write distribution. An
    * unknown or void transform has none. */
  def toV2(pf: Meta.PartitionField)
      : Option[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    pf.transform match {
      case "identity" => Some(Expressions.identity(pf.sourceColumn))
      case t if t.startsWith("bucket[") => Some(Expressions.bucket(
        t.stripPrefix("bucket[").stripSuffix("]").toInt, pf.sourceColumn))
      case t if t.startsWith("truncate[") => Some(Expressions.apply("truncate",
        Expressions.literal(t.stripPrefix("truncate[").stripSuffix("]").toInt),
        Expressions.column(pf.sourceColumn)))
      case "year" => Some(Expressions.years(pf.sourceColumn))
      case "month" => Some(Expressions.months(pf.sourceColumn))
      case "day" => Some(Expressions.days(pf.sourceColumn))
      case "hour" => Some(Expressions.hours(pf.sourceColumn))
      case _ => None
    }
  }

  /** Compile a partition spec against a write schema, rendering
    * timestamps in the session time zone. */
  def forSpec(spec: Seq[Meta.PartitionField], schema: StructType): Seq[RowTransform] = {
    val timeZone = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
    spec.map { pf =>
      val idx = schema.fieldIndex(pf.sourceColumn)
      val (kind, param) = pf.transform match {
        case "identity" => ("identity", 0)
        case t if t.startsWith("bucket[") =>
          ("bucket", t.stripPrefix("bucket[").stripSuffix("]").toInt)
        case t if t.startsWith("truncate[") =>
          ("truncate", t.stripPrefix("truncate[").stripSuffix("]").toInt)
        case other => (other, 0)
      }
      RowTransform(pf.name, kind, param, idx, schema.fields(idx).dataType, timeZone)
    }
  }
}
