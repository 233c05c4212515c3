package org.apache.spark.sql.execution.datasources

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Bridge into Spark's file-source machinery for the graft DataSource
  * V2 connector: PartitionedFile/FilePartition construction and the
  * vectorized parquet PartitionReaderFactory are private[sql] or take
  * private[sql] arguments, so the glue lives in this package — the
  * connector itself (graft.spark) uses only the public V2 API plus
  * these four factory methods.
  */
object GraftConnectorShim {

  def partitionedFile(path: String, fileSize: Long, modTime: Long): PartitionedFile =
    PartitionedFile(
      partitionValues = InternalRow.empty,
      filePath = SparkPath.fromPathString(path),
      start = 0L,
      length = fileSize,
      locations = Array.empty,
      modificationTime = modTime,
      fileSize = fileSize)

  def filePartition(index: Int, files: Seq[PartitionedFile]): FilePartition =
    FilePartition(index, files.toArray)

  /** Spark's own split target for files of `sizes` bytes
    * (FilePartition.maxSplitBytes): min(maxPartitionBytes,
    * max(openCostInBytes, total / parallelism)), where each file weighs
    * its size plus openCostInBytes and parallelism is
    * spark.sql.files.minPartitionNum or the default parallelism. */
  def maxSplitBytes(spark: org.apache.spark.sql.SparkSession, sizes: Seq[Long]): Long = {
    val classic = spark.asInstanceOf[SparkSession]
    val openCost = classic.sessionState.conf.filesOpenCostInBytes
    FilePartition.maxSplitBytes(classic, sizes.map(_ + openCost).sum)
  }

  /** Spark's own packing of whole files into bins
    * (FilePartition.getFilePartitions): largest file first, each
    * weighing its size plus openCostInBytes, a bin closing before a
    * file would take it past `maxSplitBytes`. Each bin lists its files
    * by path, so a task that writes rows in read order (a merge-on-read
    * DELETE's position deletes) writes them sorted by file path. */
  def packFiles[A](spark: org.apache.spark.sql.SparkSession, files: Seq[A],
      maxSplitBytes: Long)(path: A => String, size: A => Long): Seq[Seq[A]] = {
    val byPath = files.map(f => SparkPath.fromPathString(path(f)) -> f).toMap
    val largestFirst = files.sortBy(f => -size(f)).map(f => partitionedFile(path(f), size(f), 0L))
    FilePartition.getFilePartitions(spark.asInstanceOf[SparkSession], largestFirst, maxSplitBytes)
      .map(_.files.toSeq.map(pf => byPath(pf.filePath)).sortBy(path))
  }

  /** The schema `spark.read.parquet(path)` infers, read on the driver.
    * With schema merging off and no summary file, Spark's inference
    * reads the footer of the first data file by path under `path`, but
    * in a one-task Spark job; this reads the same footer here and
    * converts it with the same session settings. None where that rule
    * does not apply (schema merging on, summary files, subdirectories
    * that may carry partition columns) or no file qualifies: the caller
    * then asks Spark. */
  def inferParquetSchema(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[StructType] = {
    val classic = spark.asInstanceOf[SparkSession]
    if (classic.sessionState.conf.isParquetSchemaMergingEnabled) return None
    val conf = classic.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    val children = if (status.isDirectory) fs.listStatus(p).toSeq else Seq(status)
    def name(f: org.apache.hadoop.fs.FileStatus) = f.getPath.getName
    if (children.exists(f => f.isDirectory ||
        name(f).startsWith("_metadata") || name(f).startsWith("_common_metadata"))) return None
    // Spark's listing skips hidden names inside a directory
    children.filterNot(f => status.isDirectory && (name(f).startsWith("_") ||
        name(f).startsWith(".") || name(f).endsWith("._COPYING_")))
      .sortBy(_.getPath.toString).headOption
      .flatMap(parquet.GraftParquetFooters.schemaOf(classic, conf, _))
      .map(_.asNullable)
  }

  /** Driver-side: hadoop conf prepared the way ParquetFileFormat.
    * prepareWrite does, serialized for shipping to write tasks. */
  def prepareParquetWriteConf(
      spark: org.apache.spark.sql.SparkSession,
      schema: StructType,
      extra: Map[String, String] = Map.empty): SerializableConfiguration = {
    val classic = spark.asInstanceOf[SparkSession]
    val conf = classic.sessionState.newHadoopConfWithOptions(extra)
    val sqlConf = classic.sessionState.conf
    conf.set(org.apache.parquet.hadoop.ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[parquet.ParquetWriteSupport].getName)
    parquet.ParquetWriteSupport.setSchema(schema, conf)
    conf.set(org.apache.parquet.hadoop.ParquetOutputFormat.COMPRESSION,
      sqlConf.parquetCompressionCodec)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    // graft tables always write INT64 micros, never INT96: INT96 has
    // no usable column statistics, which would disable timestamp
    // pruning on every file this table writes
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    // graft writes always carry field ids in the footers (schema
    // evolution binds by id). Scoped to this write's conf — the
    // session-level flag is deliberately NOT touched, so unrelated
    // parquet writes in the same session keep their own behavior.
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "true")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    new SerializableConfiguration(conf)
  }

  /** Executor-side: a parquet OutputWriter for one task file. */
  def newParquetTaskWriter(path: String,
      conf: org.apache.hadoop.conf.Configuration,
      partitionId: Int, taskId: Long): OutputWriter = {
    val attempt = new org.apache.hadoop.mapreduce.TaskAttemptID(
      new org.apache.hadoop.mapreduce.TaskID(
        new org.apache.hadoop.mapreduce.JobID("graft", 0),
        org.apache.hadoop.mapreduce.TaskType.MAP, partitionId),
      taskId.toInt)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf, attempt)
    new parquet.ParquetOutputWriter(path, ctx)
  }

  def parquetReaderFactory(
      spark: org.apache.spark.sql.SparkSession,
      dataSchema: StructType,
      readDataSchema: StructType,
      pushedFilters: Array[Filter]): PartitionReaderFactory = {
    val classic = spark.asInstanceOf[SparkSession]
    val hadoopConf = classic.sessionState
      .newHadoopConfWithOptions(Map.empty)
    val sqlConf = classic.sessionState.conf
    // mirror ParquetScan.createReaderFactory's conf preparation: the
    // read-support class + requested schema + type-mapping flags the
    // reader resolves from the task-side configuration
    hadoopConf.set(
      org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[parquet.ParquetReadSupport].getName)
    hadoopConf.set(
      parquet.ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readDataSchema.json)
    hadoopConf.set(
      parquet.ParquetWriteSupport.SPARK_ROW_SCHEMA, readDataSchema.json)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    hadoopConf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlConf.isParquetBinaryAsString)
    hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    // field-id-based column resolution for graft's own scans, scoped
    // to this reader's broadcast conf (ParquetReadSupport and the
    // schema converter resolve the flag from the task-side
    // Configuration) — the session-level flag stays untouched. The
    // flag only changes reads whose REQUESTED schema carries id
    // metadata; ignoreMissingIds stays false so an id-carrying schema
    // over id-less foreign files fails loudly rather than null-fills.
    hadoopConf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, true)
    val broadcastConf: Broadcast[SerializableConfiguration] =
      classic.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    ParquetPartitionReaderFactory(
      sqlConf,
      broadcastConf,
      dataSchema,
      readDataSchema,
      StructType(Nil), // no directory-derived partition columns
      pushedFilters,
      None,
      new ParquetOptions(Map.empty[String, String], sqlConf))
  }

  /** A FileIndex over files whose (path, size) the TABLE LAYER already
    * knows from manifests: no directory listing, no per-file
    * getFileStatus, no bulkListLeafFiles Spark job — the reason table
    * formats carry file metadata at all (a partitioned fixture's
    * 600-file scan spent a third of its wall time re-statting files
    * the manifest had just described). Flat (no directory-derived
    * partition columns), like every graft scan. */
  private class KnownFileIndex(
      statuses: Seq[org.apache.hadoop.fs.FileStatus]) extends FileIndex {
    override def rootPaths: Seq[org.apache.hadoop.fs.Path] =
      statuses.map(_.getPath)
    override def listFiles(
        partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        : Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
    override def inputFiles: Array[String] =
      statuses.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = statuses.map(_.getLen).sum
    override def partitionSchema: StructType = StructType(Nil)
  }

  /** Parquet scan over manifest-known files: equivalent to
    * `spark.read.schema(schema).[format].load(paths)` — same relation
    * type, same pushdown/pruning/`_metadata` behavior — minus the
    * file re-listing (sizes come from the manifest entries). `format`
    * defaults to the stock parquet source; pass a
    * GraftParquetFileFormat + its id-schema option for id-resolved
    * nested reads. */
  def parquetFromKnownFiles(
      spark: org.apache.spark.sql.SparkSession,
      schema: StructType,
      files: Seq[(String, Long)],
      fileFormat: FileFormat = new parquet.ParquetFileFormat,
      options: Map[String, String] = Map.empty,
      mtimeMillis: Long = 0L)
      : org.apache.spark.sql.DataFrame = {
    val classic = spark.asInstanceOf[SparkSession]
    // Fabricated FileStatus trade-offs, deliberate: blockSize 0 means
    // no block locations, so an HDFS-like deployment gets no locality
    // preference from these scans (split planning itself is unaffected
    // — Spark sizes splits from maxPartitionBytes; object stores have
    // no locality either way). The modification time is the COMMIT
    // timestamp the caller's manifest carries (0 when unknown), which
    // is what `_metadata.file_modification_time` and any
    // staleness-by-mtime consumer observe — per-file wall-clock mtime
    // would require the re-stat this index exists to avoid.
    val statuses = files.map { case (p, len) =>
      new org.apache.hadoop.fs.FileStatus(len, false, 1, 0L, mtimeMillis,
        new org.apache.hadoop.fs.Path(p))
    }
    val rel = HadoopFsRelation(
      location = new KnownFileIndex(statuses),
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = fileFormat,
      options = options)(classic)
    classic.baseRelationToDataFrame(rel)
  }
}
