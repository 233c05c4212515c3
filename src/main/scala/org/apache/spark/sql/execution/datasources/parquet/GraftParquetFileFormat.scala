package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

/** ParquetFileFormat that survives nested-schema pruning on
  * field-id-resolved reads.
  *
  * Spark 4.1's SchemaPruning rebuilds the file read schema for a
  * pruned nested access WITHOUT the `parquet.field.id` metadata, so an
  * id-resolved read of a file whose struct column was since renamed
  * null-fills the pruned leaf (`select(s)` is correct, `select(s.leaf)`
  * is not). The V2 catalog scan is immune because it re-stamps ids on
  * the pruned schema it hands the reader factory; this format gives
  * the DRIVER-PATH readers (`spark.read.format(...).schema(ids)`) the
  * same re-stamp: the original id-carrying schema rides along as the
  * `graft.id.schema` option (options survive pruning — the relation's
  * schemas do not), and ids are re-attached to the pruned
  * required/data schemas by NAME PATH (pruning only narrows, never
  * renames) before delegating to the stock parquet reader. Nested
  * columns therefore stay PRUNED — a wide-struct table reads only the
  * requested leaves — while resolving by id.
  *
  * Everything else (vectorized reader, filter pushdown, splitability,
  * batch support) is inherited untouched. */
class GraftParquetFileFormat extends ParquetFileFormat {
  override def shortName(): String = "graft-parquet"
  override def toString: String = "GraftParquet"

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val (req, data) =
      options.get(GraftParquetFileFormat.IdSchemaOption) match {
        case Some(json) =>
          val original =
            DataType.fromJson(json).asInstanceOf[StructType]
          (GraftParquetFileFormat.restamp(requiredSchema, original),
            GraftParquetFileFormat.restamp(dataSchema, original))
        case None => (requiredSchema, dataSchema)
      }
    super.buildReaderWithPartitionValues(sparkSession, data,
      partitionSchema, req, filters, options, hadoopConf)
  }
}

object GraftParquetFileFormat {
  /** Option key carrying the original id-stamped schema as JSON. */
  val IdSchemaOption = "graft.id.schema"
  val Format: String = classOf[GraftParquetFileFormat].getName
  private val FieldIdKey = "parquet.field.id"

  /** Re-attach `parquet.field.id` metadata to a pruned schema by name
    * path against the original. Fields the original does not know
    * (e.g. synthetic `_metadata` columns) pass through untouched. */
  private[parquet] def restamp(pruned: StructType,
      original: StructType): StructType =
    StructType(pruned.fields.map { f =>
      original.fields.find(_.name == f.name) match {
        case Some(o) =>
          val dt = restampType(f.dataType, o.dataType)
          val md =
            if (o.metadata.contains(FieldIdKey) &&
                !f.metadata.contains(FieldIdKey))
              new MetadataBuilder().withMetadata(f.metadata)
                .putLong(FieldIdKey, o.metadata.getLong(FieldIdKey)).build()
            else f.metadata
          f.copy(dataType = dt, metadata = md)
        case None => f
      }
    })

  private def restampType(pruned: DataType, original: DataType): DataType =
    (pruned, original) match {
      case (p: StructType, o: StructType) => restamp(p, o)
      case (p: ArrayType, o: ArrayType) =>
        p.copy(elementType = restampType(p.elementType, o.elementType))
      case (p: MapType, o: MapType) =>
        p.copy(keyType = restampType(p.keyType, o.keyType),
          valueType = restampType(p.valueType, o.valueType))
      case _ => pruned
    }
}

/** Footer schema reads for `GraftConnectorShim.inferParquetSchema`:
  * Spark keeps these helpers private to this package. */
object GraftParquetFooters {
  /** The Spark schema of one parquet file's footer, converted with the
    * session's parquet settings as Spark's schema inference does. */
  def schemaOf(spark: org.apache.spark.sql.classic.SparkSession, conf: Configuration,
      file: org.apache.hadoop.fs.FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
      conf, Seq(file), spark.sessionState.conf.ignoreCorruptFiles), spark)
}
