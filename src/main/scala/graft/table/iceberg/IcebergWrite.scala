package graft.table.iceberg

import org.apache.avro.generic.GenericData
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.table.{FooterStats, TableIO}
import java.nio.ByteBuffer
import java.util.UUID
import scala.jdk.CollectionConverters._

/** Write REAL Iceberg v2 tables: parquet data + avro manifests +
  * manifest lists + versioned metadata.json — output any Iceberg
  * reader can open (reference write path:
  * iceberg-rust/src/table/transaction/operation.rs builds the same
  * three layers). Unpartitioned tables; bounds from parquet footers.
  */
object IcebergWrite {

  /** The SESSION Hadoop conf for footer reads, not a bare
    * `new Configuration()`: a bare conf drops every `spark.hadoop.*`
    * setting — filesystem impls (FastLocalFileSystem locally,
    * object-store connectors + credentials at cluster scale) — so
    * footer reads fell to the checksummed default LocalFileSystem
    * (extra .crc stat per open; measured 20% of tf_iceberg_partitioned
    * driver samples). Same fix FooterStats.collect got in round 18;
    * TableIO.conf caches the conf per session, so per-call cost is nil.
    * Driver-side sites only — the distributed stats branch broadcasts
    * a SerializableConfiguration (executors have no session). */
  private def footerConf: Configuration = TableIO.conf

  /** (record count, lower bounds, upper bounds, null counts) keyed by
    * Iceberg field id, values in single-value binary encoding. */
  private[graft] type FileStats =
    (Long, Map[Int, Array[Byte]], Map[Int, Array[Byte]], Map[Int, Long])

  /** Footer stats for many files by FooterStats' one rule: on a
    * driver pool up to its threshold (job latency would exceed the
    * work), a Spark job above it — at commit time only the small
    * encoded stat maps cross back to the driver, never file contents.
    * Shared by every commit path that ingests staged files (append,
    * delta, replace). */
  private[graft] def collectFooterStats(spark: SparkSession, paths: Seq[HPath],
      sparkSchema: StructType,
      ice: IcebergMetadata.IceSchema): Map[String, FileStats] =
    if (FooterStats.onDriver(spark, paths.size))
      TableIO.parallelOnDriver(paths)(p =>
        p.toString -> footerBounds(p, sparkSchema, ice)).toMap
    else {
      val ps = paths.map(_.toString)
      val slices = math.min(ps.size, spark.sparkContext.defaultParallelism)
      // executors have no SparkSession: carry the session Hadoop conf
      // (filesystem impls, object-store credentials) via the
      // session-cached broadcast — serializing a fresh conf per
      // ingest measurably taxed partitioned commits
      val confB = TableIO.confBroadcast(spark)
      spark.sparkContext.parallelize(ps, slices)
        .map(x => x -> footerBounds(new HPath(x), sparkSchema, ice,
          confB.value.value))
        .collect().toMap
    }

  /** Create an Iceberg table at `location` with `df` as snapshot 1.
    * `partitionCols` become identity partition fields: data files land
    * in partition dirs and manifests carry typed partition structs
    * (spec field-ids from 1000, per convention). */
  def create(spark: SparkSession, location: String, df: DataFrame,
      partitionCols: Seq[String] = Seq.empty): IcebergTable =
    createWithSpec(spark, location, df, partitionCols.map(_ -> "identity"))

  /** Create with a full partition spec: (sourceColumn, transform)
    * pairs where transform is any of identity / bucket[N] /
    * truncate[W] / year / month / day / hour — the reference computes
    * the same transform values on write
    * (iceberg-rust/src/arrow/transform.rs, spec/partition.rs:27).
    * Field names follow the Iceberg convention (`col_bucket`,
    * `col_day`, ...), so they never collide with data columns. */
  def createWithSpec(spark: SparkSession, location: String, df: DataFrame,
      partitions: Seq[(String, String)]): IcebergTable = {
    require(!IcebergTable.exists(location), s"Iceberg table exists at $location")
    val schema = IcebergMetadata.schemaFromSpark(df.schema)
    val specFields = partitions.zipWithIndex.map { case ((c, transform), i) =>
      val srcId = schema.fieldId(c).getOrElse(
        throw new IllegalArgumentException(s"no column $c to partition by"))
      IcebergMetadata.IcePartitionField(
        srcId, 1000 + i, Transforms.fieldName(c, transform), transform)
    }
    val m0 = IcebergMetadata.IceMetadata(
      formatVersion = 2,
      tableUuid = UUID.randomUUID().toString,
      location = location,
      lastSequenceNumber = 0L,
      lastColumnId = schema.maxId,
      currentSchemaId = 0,
      schemas = Seq(schema),
      defaultSpecId = 0,
      specs = Seq(IcebergMetadata.IceSpec(0, specFields)),
      lastPartitionId = 999 + specFields.size,
      properties = Map(
        "write.format.default" -> "parquet",
        "schema.name-mapping.default" -> IcebergMetadata.nameMapping(schema)),
      currentSnapshotId = None,
      snapshots = Seq.empty,
      refs = Map.empty)
    IcebergMetadata.write(location, 1, m0)
    append(spark, location, df)
    IcebergTable.load(spark, location)
  }

  /** Append `df` as a new snapshot (new manifest + new manifest list
    * carrying the previous manifests forward). `summary` entries land
    * in the snapshot summary (streaming sinks stamp batch ids). */
  def append(spark: SparkSession, location: String, df: DataFrame,
      summary: Map[String, String] = Map.empty): Unit = {
    // data staging is base-independent (files land under data/ once);
    // only the cheap manifest assembly REBASES on a lost commit race,
    // so concurrent local appends serialize without lost snapshots
    val base = IcebergMetadata.load(location)
    val (moved, stats) = stageData(spark, base, df, None)
    IcebergMetadata.commitRetry(location) { m =>
      val snap0 = appendManifest(m, moved, stats)
      val snap = snap0.copy(summary = snap0.summary ++ summary)
      m.withSnapshot(snap)
    }
    ()
  }

  /** Write the data files + manifest + manifest list for an append
    * over metadata `m` and return the snapshot — WITHOUT committing
    * metadata. Local commits CAS through commitRetry (rebasing the
    * manifest assembly on lost races); REST commits POST this
    * snapshot through the commit protocol instead. */
  /** Run `body` with parquet writes forced to TIMESTAMP_MICROS (INT96
    * has no usable stats and foreign readers reject it), restoring the
    * session conf after — the single copy of a guard four write paths
    * share. */
  /** Hard cap on updateByKey's driver-collected key set (both
    * dialects): the point-update contract, enforceable via
    * `graft.update.maxKeys`. */
  private[table] def updateMaxKeys(spark: SparkSession): Int =
    spark.conf.getOption("graft.update.maxKeys").map(_.toInt)
      .getOrElse(100000)

  private def withMicrosTimestamps[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  def prepareAppend(spark: SparkSession,
      m: IcebergMetadata.IceMetadata, df: DataFrame,
      numPartitions: Option[Int] = None): IcebergMetadata.IceSnapshot = {
    val (moved, stats) = stageData(spark, m, df, numPartitions)
    appendManifest(m, moved, stats)
  }

  /** Step 1 of an append: write `df` into staging, move the files into
    * data/, and collect their footer stats. Base-independent — commit
    * retries reuse the staged files and only re-run the manifest
    * assembly. */
  /** The distributed staged WRITE of an append-shaped DataFrame
    * (footer ids re-attached, sort-order clustering, partition-dir
    * routing) — shared by stageData (which then ingests into data/)
    * and overwriteWhere (whose ingest is commitReplaceFiles). Returns
    * the staging dir, laid out as `_p_<field>=<value>` partition dirs
    * when the table has a spec. */
  private def writeStagedDir(spark: SparkSession,
      m: IcebergMetadata.IceMetadata, df: DataFrame,
      numPartitions: Option[Int]): HPath = {
    val location = m.location
    val schema = m.schema
    val sparkSchema = schema.toSpark
    val spec = m.defaultSpecFields
    val specSrcCols = spec.map(pf =>
      schema.fields.find(_.id == pf.sourceId).get.name)
    val specHelpers = spec.map(pf => s"_p_${pf.name}")

    // 1. data files — partitioned tables route through helper columns
    // carrying the TRANSFORM value (data files KEEP all columns; only
    // the `_p_` helper is stripped by partitionBy).
    // Every column is re-aliased with its Iceberg FIELD ID in the
    // schema metadata, so footers carry the ids (the spec's data-file
    // requirement; id-based readers resolve without the name mapping).
    // This also keeps ONE table's footers uniform with the delta
    // write path, whose task writers already stamp ids — a mixed
    // table made schema-inferring readers fail nondeterministically
    // depending on which file they sampled.
    val dfWithIds = df.select(schema.withFieldIds(df.schema).fields.map(f =>
      org.apache.spark.sql.functions.col(f.name).as(f.name, f.metadata))
      .toIndexedSeq: _*)
    val staging = TableIO.path(location, s"stage-${UUID.randomUUID().toString.take(8)}")
    // the default sort order clusters every write (spec/sort.rs: the
    // write-time order): range-repartition on the sort key so files
    // hold DISJOINT key ranges — a reader's key predicate then prunes
    // files by bounds — and sort within partitions for row-group skips
    val sortCols = {
      import org.apache.spark.sql.functions.col
      m.defaultSortFields.flatMap { f =>
        schema.fields.find(_.id == f.sourceId).map { fld =>
          val c = Transforms.column(f.transform, col(fld.name),
            sparkSchema.fields.find(_.name == fld.name).get.dataType)
          if (f.direction == "desc") c.desc else c.asc
        }
      }
    }
    // an explicit target count (compaction) must survive the sort-order
    // range shuffle — repartitionByRange without it would reset to
    // spark.sql.shuffle.partitions and re-fragment the table
    def clustered(d: DataFrame): DataFrame =
      if (sortCols.isEmpty) d
      else if (spec.isEmpty)
        numPartitions.fold(d.repartitionByRange(sortCols: _*))(n =>
            d.repartitionByRange(n, sortCols: _*))
          .sortWithinPartitions(sortCols: _*)
      else d.sortWithinPartitions(sortCols: _*)
    withMicrosTimestamps(spark) {
      if (spec.isEmpty) clustered(dfWithIds).write.parquet(staging.toString)
      else {
        import org.apache.spark.sql.functions.col
        val withHelpers = spec.zip(specSrcCols).foldLeft(dfWithIds) {
          case (acc, (pf, src)) => acc.withColumn(s"_p_${pf.name}",
            Transforms.column(pf.transform, col(src),
              sparkSchema.fields.find(_.name == src).get.dataType))
        }
        // The staging dir is private to this commit and the table
        // becomes visible only at the metadata CAS, so the v2 commit
        // algorithm's task-side renames (parallel, executor-side) are
        // safe here — v1's sequential driver-side merge dominates a
        // fine-grained spec's many partition dirs.
        clustered(withHelpers.repartition(specHelpers.map(col): _*))
          .write.partitionBy(specHelpers: _*)
          .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
          .parquet(staging.toString)
      }
    }
    staging
  }

  private def stageData(spark: SparkSession,
      m: IcebergMetadata.IceMetadata, df: DataFrame,
      numPartitions: Option[Int])
      : (Seq[(HPath, Long, Seq[String])], Map[String, FileStats]) = {
    val staging = writeStagedDir(spark, m, df, numPartitions)
    ingestStagedFiles(spark, m, staging)
  }

  /** Ingest an already-written staging dir of parquet files (laid out
    * as `[_p_]<field>=<value>` partition dirs when the table has a
    * spec): move them into data/, parse their partition values, and
    * collect footer stats. The tail half of `stageData`, shared with
    * writers that staged on the EXECUTORS (the streaming sink's
    * per-epoch files) rather than through a DataFrame write. */
  private[iceberg] def ingestStagedFiles(spark: SparkSession,
      m: IcebergMetadata.IceMetadata, staging: HPath)
      : (Seq[(HPath, Long, Seq[String])], Map[String, FileStats]) = {
    val location = m.location
    val schema = m.schema
    val sparkSchema = schema.toSpark
    val spec = m.defaultSpecFields
    val dataDir = TableIO.path(location, "data")
    TableIO.mkdirs(dataDir)
    // files FLATTEN into data/ — Iceberg carries partition values in
    // the manifest, not the directory layout, and flat names keep the
    // stored file paths free of escaped partition-value characters.
    // Renames run on a driver thread pool: a fine-grained partition
    // spec (month × bucket) yields hundreds of files and sequential
    // per-file metadata RPCs would dominate the commit.
    val staged = TableIO.listFilesRecursive(staging)
      .filter(_._1.getName.endsWith(".parquet"))
    val moved = TableIO.parallelOnDriver(staged) { case (src, sz, _) =>
        val rel = TableIO.relativize(staging, src)
        val dest = new HPath(dataDir,
          s"${UUID.randomUUID().toString.take(8)}-${src.getName}")
        TableIO.rename(src, dest)
        // partition values per spec field, parsed from `_p_<name>=v` dirs
        val dirVals = rel.split("/").dropRight(1)
          .map(_.split("=", 2)).map(a => a(0).stripPrefix("_p_") -> a(1)).toMap
        (dest, sz, spec.map(pf => dirVals.getOrElse(pf.name, null)))
      }
    TableIO.delete(staging, recursive = true)

    // Per-file stats, on the driver pool or a Spark job by
    // FooterStats' threshold
    val statsByPath: Map[String, FileStats] =
      collectFooterStats(spark, moved.map(_._1), sparkSchema, schema)
    (moved, statsByPath)
  }

  /** Steps 2+3 of an append commit: write the manifest + manifest
    * list for `moved` files (with their footer stats and partition
    * values) over metadata `m`, returning the uncommitted snapshot.
    * Shared by the dataframe append path and the in-place add_files
    * import (which brings EXISTING files, no staging write). */
  private[iceberg] def appendManifest(m: IcebergMetadata.IceMetadata,
      moved: Seq[(HPath, Long, Seq[String])],
      statsByPath: Map[String, FileStats],
      ref: String = "main"): IcebergMetadata.IceSnapshot = {
    val location = m.location
    val schema = m.schema
    val spec = m.defaultSpecFields
    // branch-targeted appends (reference: TableTransaction::new's
    // target branch, transaction/mod.rs:33) chain from the BRANCH
    // head; a ref that doesn't exist yet starts empty, matching the
    // reference's current_snapshot(Some(branch)) -> None
    // (table_metadata.rs:217-237)
    val baseSnap =
      if (ref == "main") m.currentSnapshot
      else m.refs.get(ref).flatMap(id => m.snapshots.find(_.snapshotId == id))
    val snapshotId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val seq = m.lastSequenceNumber + 1

    // 2. manifest with typed footer bounds + typed partition struct
    val schemaJson = icebergSchemaJson(schema)
    val partRecordJson = partitionRecordJson(spec, schema)
    val specJson = partitionSpecJson(spec, m.defaultSpecId)
    val entryAndRows = moved.map { case (p, sz, partVals) =>
      val (records, lower, upper, nulls) = statsByPath(p.toString)
      val e = IcebergAvro.record(IcebergAvro.manifestSchema(partRecordJson))
      e.put("status", 1) // added
      e.put("snapshot_id", snapshotId)
      e.put("sequence_number", null) // inherited from the manifest list
      e.put("file_sequence_number", null)
      val dfSchema = e.getSchema.getField("data_file").schema()
      val d = new GenericData.Record(dfSchema)
      d.put("content", 0)
      d.put("file_path", TableIO.qualified(p))
      d.put("file_format", "PARQUET")
      val partRec = new GenericData.Record(dfSchema.getField("partition").schema())
      spec.zip(partVals).foreach { case (pf, v) =>
        val srcT = IcebergTypes.toSpark(
          schema.fields.find(_.id == pf.sourceId).get.tpe)
        partRec.put(pf.name,
          typedPartitionValue(Transforms.resultType(pf.transform, srcT), v))
      }
      d.put("partition", partRec)
      d.put("record_count", records)
      d.put("file_size_in_bytes", sz)
      d.put("null_value_counts", keyedLongs(dfSchema, "null_value_counts", nulls))
      d.put("lower_bounds", keyedBytes(dfSchema, "lower_bounds", lower))
      d.put("upper_bounds", keyedBytes(dfSchema, "upper_bounds", upper))
      d.put("equality_ids", null)
      e.put("data_file", d)
      (e: org.apache.avro.generic.GenericRecord, records)
    }
    val manifestEntries = entryAndRows.map(_._1)
    val metaDir = TableIO.path(location, "metadata")
    TableIO.mkdirs(metaDir)
    val manifestPath = new HPath(metaDir, s"manifest-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
    val manifestLen = IcebergAvro.writeManifest(
      manifestPath, partRecordJson, manifestEntries, schemaJson, specJson)

    // 3. manifest list: the ref head's manifests + the new one
    val prevManifests = baseSnap.map(s =>
      IcebergAvro.readManifestList(new HPath(s.manifestList))).getOrElse(Seq.empty)
    val mlSchema = IcebergAvro.manifestListSchema
    def mfRecord(path: String, len: Long, content: Int, sq: Long,
        snapId: Long, added: Int, rows: Long,
        sums: Option[Seq[IcebergAvro.FieldSummary]],
        specId: Int = m.defaultSpecId, existing: Int = 0)
        : org.apache.avro.generic.GenericRecord = {
      val r = IcebergAvro.record(mlSchema)
      r.put("manifest_path", path)
      r.put("manifest_length", len)
      // the list entry's spec id must match the manifest FILE's
      // embedded partition-spec-id: carried pre-spec-change manifests
      // keep their own spec, only the new manifest gets the default —
      // a strict reader resolves each manifest's partition struct
      // from the LIST entry's spec id
      r.put("partition_spec_id", specId)
      r.put("content", content)
      r.put("sequence_number", sq)
      r.put("min_sequence_number", sq)
      r.put("added_snapshot_id", snapId)
      r.put("added_files_count", added)
      r.put("existing_files_count", existing)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", rows)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      IcebergAvro.putFieldSummaries(r, sums)
      r
    }
    val totalRows = entryAndRows.map(_._2).sum
    val newEntry = mfRecord(TableIO.qualified(manifestPath), manifestLen, 0,
      seq, snapshotId, moved.size, totalRows,
      fieldSummariesFor(spec, schema, moved.map(_._3)))
    // carried entries keep their file counts: planning sums them into
    // the snapshot's live-file count
    val carried = prevManifests.map(mf => mfRecord(
      mf.path, mf.length, mf.content, mf.sequenceNumber,
      mf.addedSnapshotId, mf.addedFilesCount.getOrElse(0), 0L, mf.partitions,
      specId = mf.specId, existing = mf.existingFilesCount.getOrElse(0)))
    val mlPath = new HPath(metaDir, s"snap-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
    IcebergAvro.writeManifestList(mlPath, newEntry +: carried, snapshotId, seq)

    IcebergMetadata.IceSnapshot(
      snapshotId = snapshotId,
      parentId = baseSnap.map(_.snapshotId),
      sequenceNumber = seq,
      timestampMs = System.currentTimeMillis(),
      manifestList = TableIO.qualified(mlPath),
      operation = "append",
      schemaId = m.currentSchemaId,
      // the spec's standard summary metrics (snapshot.rs Summary) —
      // monitoring and UIs read these without opening manifests
      summary = Map(
        "added-data-files" -> moved.size.toString,
        "added-files" -> moved.size.toString,
        "added-records" -> totalRows.toString,
        "added-files-size" -> moved.map(_._2).sum.toString))
  }

  /** In-place import of foreign id-less parquet under `sourceDir`
    * into a REAL-format table (Iceberg add_files): no copy, no
    * rewrite — manifest entries carry footer stats (resolved by NAME;
    * imported footers have no field ids), and the commit records the
    * spec's `schema.name-mapping.default` property so id-based
    * foreign readers resolve the id-less footers by name.
    * Unpartitioned tables only. Returns (files, rows) imported. */
  def addFiles(location: String, sourceDir: String): (Int, Long) = {
    val m = IcebergMetadata.load(location)
    require(m.defaultSpecFields.isEmpty,
      "add_files into a PARTITIONED real-format table is not supported")
    // importing id-less files flips the WHOLE table to name-based
    // reads (NameBasedFilesProp below); if a column was ever RENAMED,
    // files written before the rename carry the old name and would
    // silently null-fill under the current one — refuse instead
    val everRenamed = m.schemas.flatMap(_.fields.map(f => f.id -> f.name))
      .groupBy(_._1).exists(_._2.map(_._2).distinct.size > 1)
    require(!everRenamed,
      "add_files into a table with renamed columns is not supported: " +
        "imported id-less footers force name-based reads, which would " +
        "mis-resolve files written before the rename")
    val files = TableIO.listFilesRecursive(TableIO.path(sourceDir))
      .filter(_._1.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"no parquet files under $sourceDir")
    val sparkSchema = m.schema.toSpark
    val statsByPath = files.map { case (p, _, _) =>
      p.toString -> footerBounds(p, sparkSchema, m.schema)
    }.toMap
    val mapping = m.schema.fields
      .map(f => s"""{"field-id":${f.id},"names":["${f.name}"]}""")
      .mkString("[", ",", "]")
    IcebergMetadata.commitRetry(location) { cur =>
      val snap0 = appendManifest(cur,
        files.map { case (p, sz, _) => (p, sz, Seq.empty[String]) }, statsByPath)
      val snap = snap0.copy(summary = snap0.summary +
        ("added-files-imported" -> files.size.toString))
      cur.withSnapshot(snap).copy(
        properties = cur.properties +
          ("schema.name-mapping.default" -> mapping) +
          // imported footers carry no field ids: every read of this
          // table must resolve columns by NAME from here on (and
          // RENAME COLUMN is refused) — id resolution would fail
          // loudly on the imported files
          (IcebergMetadata.NameBasedFilesProp -> "true"))
    }
    (files.size, files.map(f => statsByPath(f._1.toString)._1).sum)
  }

  /** Compaction on a REAL-format table (reference: the `rewrite`
    * transaction, iceberg-rust table/transaction/mod.rs): fold the
    * current content — merge-on-read delete files applied — into
    * ~targetFileSizeBytes data files and commit a row-preserving
    * 'replace' snapshot. The new manifest list carries ONLY the
    * rewritten manifests, so outstanding delete files are absorbed;
    * older snapshots still time-travel through their own manifest
    * lists. Plans the table once; returns (data files rewritten,
    * data files committed), the latter derived from the new snapshot's
    * manifests, not the pre-computed target. */
  def rewrite(spark: SparkSession, location: String,
      targetFileSizeBytes: Long = 128L << 20): (Int, Int) = {
    val base = IcebergMetadata.load(location)
    val t = IcebergTable.fromMetadataAt(spark, location, base)
    val files = t.plannedFiles()
    val totalBytes = files.map(_._1.fileSizeBytes).sum
    val n = math.max(1,
      math.ceil(totalBytes.toDouble / targetFileSizeBytes).toInt)
    // the read materializes into the commit's private staging dir
    // before any metadata moves, so read-own-table is safe;
    // numPartitions carries n through the sort-order range shuffle
    // (see clustered)
    val visible = t.readVisible(base.schema,
      files.map { case (e, _, seq) => (e, seq) }, t.deleteEntries())
    val (moved, stats) = stageData(spark, base, visible.repartition(n), Some(n))
    var committedFiles = 0
    IcebergMetadata.commitRetry(location) { m =>
      // the replacement content was derived from `base`: committing it
      // over a table that has since moved would DROP the interleaved
      // commit — refuse, like the reference's rewrite validation
      if (m.currentSnapshotId != base.currentSnapshotId)
        throw new java.util.ConcurrentModificationException(
          s"table at $location changed (snapshot " +
            s"${base.currentSnapshotId.getOrElse(-1L)} -> " +
            s"${m.currentSnapshotId.getOrElse(-1L)}) while a " +
            "replace was computing its content; retry the operation")
      val snap0 = appendManifest(m, moved, stats)
      val (snap, nFiles) = soloManifestList(m, snap0, "replace")
      committedFiles = nFiles
      m.withSnapshot(snap)
    }
    (files.size, committedFiles)
  }

  /** Iceberg's rewrite_manifests on a REAL-format table, metadata-only:
    * consolidate the current snapshot's data manifests into one
    * manifest per (spec, writer-schema) group and commit a
    * row-preserving 'replace' snapshot whose manifest list carries the
    * consolidated manifests plus the untouched delete manifests. At
    * 100 TB a table that grew by thousands of small appends pays a
    * per-manifest open on every plan; consolidation makes planning IO
    * proportional to content, not commit history. Entries round-trip as
    * RAW avro records (readManifestRaw), so other engines' optional
    * stats columns survive; inherited snapshot_id / sequence_number
    * are materialized from the source manifest before the entries move
    * into a manifest with a different sequence number, exactly as the
    * spec's inheritance rules require. Returns (source data manifests,
    * consolidated data manifests). */
  def rewriteManifests(location: String): (Int, Int) = {
    // cheap pre-check outside the commit loop: nothing to consolidate
    // -> no new metadata version at all
    val pre = IcebergMetadata.load(location)
    val preCount = pre.currentSnapshot.map(s =>
      IcebergAvro.readManifestList(new HPath(s.manifestList))
        .count(_.content == 0)).getOrElse(0)
    if (preCount <= 1) return (preCount, preCount)
    var result = (0, 0)
    IcebergMetadata.commitRetry(location) { m =>
      val snap = m.currentSnapshot.getOrElse(
        throw new IllegalArgumentException(
          s"table at $location has no current snapshot"))
      val mfs = IcebergAvro.readManifestList(new HPath(snap.manifestList))
      val dataMfs = mfs.filter(_.content == 0)
      val deleteMfs = mfs.filterNot(_.content == 0)
      if (dataMfs.size <= 1) { result = (dataMfs.size, dataMfs.size); m }
      else {
        val snapshotId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
        val seq = m.lastSequenceNumber + 1
        // group by identical writer schema AND embedded file metadata
        // (same spec, same engine entry shape, same table-schema JSON)
        // so records concatenate losslessly and the stamped metadata is
        // correct for every member; the full string key also makes the
        // group order — and therefore group.head — deterministic
        val loaded = dataMfs.map(mf =>
          (mf, IcebergAvro.readManifestRaw(new HPath(mf.path))))
        val groups = loaded.groupBy { case (mf, (schema, fileMeta, _)) =>
          (mf.specId, schema.toString + "\u0000" +
            fileMeta.toSeq.sorted.mkString("\u0000"))
        }.toSeq.sortBy(_._1)
        if (groups.size == dataMfs.size) {
          // every group is a singleton: nothing can merge, so commit
          // nothing (the commitRetry identity short-circuit) instead
          // of stacking replace snapshots that change no layout
          result = (dataMfs.size, dataMfs.size)
          m
        } else {
        val metaDir = TableIO.path(location, "metadata")
        TableIO.mkdirs(metaDir)
        val mlSchema = IcebergAvro.manifestListSchema
        val newRecs = groups.map { case ((specId, _), group) =>
          val (schema, fileMeta, _) = group.head._2
          var minSeq = Long.MaxValue
          var rows = 0L
          val entries = group.flatMap { case (mf, (_, _, records)) =>
            records.flatMap { r =>
              val status = r.get("status").asInstanceOf[Int]
              if (status == 2) None // deleted entries fall out of history
              else {
                // v1 manifests carry no sequence-number fields; only
                // materialize inheritance where the writer schema can
                def hasField(n: String) = r.getSchema.getField(n) != null
                val entrySeq = Option(r.get("sequence_number"))
                  .map(_.asInstanceOf[Long]).getOrElse(mf.sequenceNumber)
                r.put("status", 0) // existing
                if (hasField("snapshot_id") && r.get("snapshot_id") == null)
                  r.put("snapshot_id", mf.addedSnapshotId)
                if (hasField("sequence_number"))
                  r.put("sequence_number", entrySeq)
                if (hasField("file_sequence_number") &&
                    r.get("file_sequence_number") == null)
                  r.put("file_sequence_number", mf.sequenceNumber)
                minSeq = math.min(minSeq, entrySeq)
                rows += r.get("data_file").asInstanceOf[
                  org.apache.avro.generic.GenericRecord]
                  .get("record_count").asInstanceOf[Long]
                Some(r: org.apache.avro.generic.GenericRecord)
              }
            }
          }
          val p = new HPath(metaDir,
            s"manifest-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
          val len = IcebergAvro.writeManifestRaw(p, schema, fileMeta, entries)
          val r = IcebergAvro.record(mlSchema)
          r.put("manifest_path", TableIO.qualified(p))
          r.put("manifest_length", len)
          r.put("partition_spec_id", specId)
          r.put("content", 0)
          r.put("sequence_number", seq)
          r.put("min_sequence_number",
            if (minSeq == Long.MaxValue) seq else minSeq)
          r.put("added_snapshot_id", snapshotId)
          r.put("added_files_count", 0)
          r.put("existing_files_count", entries.size)
          r.put("deleted_files_count", 0)
          r.put("added_rows_count", 0L)
          r.put("existing_rows_count", rows)
          r.put("deleted_rows_count", 0L)
          // summaries merge type-aware or not at all: a single source
          // manifest carries its summaries through; merged groups emit
          // none, and planning falls back to per-entry bounds
          IcebergAvro.putFieldSummaries(r,
            if (group.size == 1) group.head._1.partitions else None)
          r: org.apache.avro.generic.GenericRecord
        }
        // carry delete manifests with their SOURCE list-entry fields
        // (counts, row totals, min sequence) copied verbatim — a real
        // Iceberg reader treats added=0/existing=0 manifests as empty
        // and would stop applying the deletes if we zeroed them
        val rawByPath = IcebergAvro
          .readManifestListRaw(new HPath(snap.manifestList))
          .map(r => String.valueOf(r.get("manifest_path")) -> r).toMap
        val carried = deleteMfs.map { mf =>
          val src = rawByPath.get(mf.path)
          def field(n: String): Option[Any] = src.flatMap(s =>
            if (s.getSchema.getField(n) == null) None
            else Option(s.get(n)))
          def asLong(v: Any): Long = v match {
            case l: java.lang.Long => l.longValue()
            case i: java.lang.Integer => i.longValue()
            case _ => 0L
          }
          def asInt(v: Any): Int = v match {
            case i: java.lang.Integer => i.intValue()
            case l: java.lang.Long => l.intValue()
            case _ => 0
          }
          val r = IcebergAvro.record(mlSchema)
          r.put("manifest_path", mf.path)
          r.put("manifest_length", mf.length)
          r.put("partition_spec_id", mf.specId)
          r.put("content", mf.content)
          r.put("sequence_number", mf.sequenceNumber)
          r.put("min_sequence_number", field("min_sequence_number")
            .map(asLong).getOrElse(mf.sequenceNumber))
          r.put("added_snapshot_id", mf.addedSnapshotId)
          r.put("added_files_count", field("added_files_count")
            .map(asInt).getOrElse(mf.addedFilesCount.getOrElse(0)))
          r.put("existing_files_count",
            field("existing_files_count").map(asInt).getOrElse(0))
          r.put("deleted_files_count",
            field("deleted_files_count").map(asInt).getOrElse(0))
          r.put("added_rows_count",
            field("added_rows_count").map(asLong).getOrElse(0L))
          r.put("existing_rows_count",
            field("existing_rows_count").map(asLong).getOrElse(0L))
          r.put("deleted_rows_count",
            field("deleted_rows_count").map(asLong).getOrElse(0L))
          IcebergAvro.putFieldSummaries(r, mf.partitions)
          r: org.apache.avro.generic.GenericRecord
        }
        val mlPath = new HPath(metaDir,
          s"snap-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
        IcebergAvro.writeManifestList(mlPath, newRecs ++ carried,
          snapshotId, seq)
        val newSnap = IcebergMetadata.IceSnapshot(
          snapshotId = snapshotId,
          parentId = m.currentSnapshotId,
          sequenceNumber = seq,
          timestampMs = System.currentTimeMillis(),
          manifestList = TableIO.qualified(mlPath),
          operation = "replace",
          schemaId = m.currentSchemaId,
          summary = Map(
            "manifests-replaced" -> dataMfs.size.toString,
            "manifests-created" -> newRecs.size.toString))
        result = (dataMfs.size, newRecs.size)
        m.withSnapshot(newSnap)
        }
      }
    }
    result
  }

  /** A manifest list holding ONLY `snap0`'s own manifests — the
    * publish step every whole-content replacement shares (overwrite,
    * compaction, REPLACE TABLE): readers of the new snapshot see just
    * the new content, older snapshots still time-travel through their
    * own manifest lists. Returns the snapshot rewritten to point at
    * the solo list plus its data-file count. */
  private def soloManifestList(m: IcebergMetadata.IceMetadata,
      snap0: IcebergMetadata.IceSnapshot, operation: String)
      : (IcebergMetadata.IceSnapshot, Int) = {
    val location = m.location
    var committedFiles = 0
    val own = IcebergAvro.readManifestList(new HPath(snap0.manifestList))
      .filter(_.addedSnapshotId == snap0.snapshotId)
    val recs = own.map { mf =>
      val entries = IcebergAvro.readManifest(new HPath(mf.path))
      committedFiles += entries.size
      val r = IcebergAvro.record(IcebergAvro.manifestListSchema)
      r.put("manifest_path", mf.path); r.put("manifest_length", mf.length)
      r.put("partition_spec_id", mf.specId); r.put("content", mf.content)
      r.put("sequence_number", mf.sequenceNumber)
      r.put("min_sequence_number", mf.sequenceNumber)
      r.put("added_snapshot_id", mf.addedSnapshotId)
      r.put("added_files_count", entries.size)
      r.put("existing_files_count", 0); r.put("deleted_files_count", 0)
      r.put("added_rows_count", entries.map(_.recordCount).sum)
      r.put("existing_rows_count", 0L); r.put("deleted_rows_count", 0L)
      IcebergAvro.putFieldSummaries(r, mf.partitions)
      r: org.apache.avro.generic.GenericRecord
    }
    val mlPath = new HPath(TableIO.path(location, "metadata"),
      s"snap-ow-${snap0.snapshotId}-${UUID.randomUUID().toString.take(8)}.avro")
    IcebergAvro.writeManifestList(mlPath, recs, snap0.snapshotId,
      snap0.sequenceNumber)
    (snap0.copy(operation = operation,
      manifestList = TableIO.qualified(mlPath)), committedFiles)
  }

  /** An append staged but not committed: data files sit in data/
    * unreferenced. `applyTo` assembles the snapshot over a given base
    * (re-runnable — commit retries rebase the cheap manifest assembly
    * over a fresh base, the staged files never rewrite), `cleanup`
    * deletes the staged files when the commit is abandoned. The
    * building block of multi-table transactions: each table's append
    * stages here, and ONE commitTransaction publishes them all. */
  /** Per-attempt metadata tracking shared by the staged transaction
    * ops: commit retries rebase by re-running applyTo over fresh
    * state, so earlier attempts' manifest avro is superseded — tracked
    * here so it never lingers as orphans under metadata/. The attempt
    * read-back of the just-written list is metadata-scale (one small
    * avro per attempt). */
  private[iceberg] trait AttemptMetaTracking {
    private val attemptMeta =
      scala.collection.mutable.ArrayBuffer[Seq[HPath]]()
    private val alwaysStale =
      scala.collection.mutable.ArrayBuffer[HPath]()
    /** Record one attempt's written metadata: the new manifest list
      * plus the manifests the snapshot itself added. */
    protected def recordAttempt(snap: IcebergMetadata.IceSnapshot): Unit = {
      val ml = new HPath(snap.manifestList)
      attemptMeta += (IcebergAvro.readManifestList(ml)
        .filter(_.addedSnapshotId == snap.snapshotId)
        .map(mf => new HPath(mf.path)) :+ ml)
      ()
    }
    /** Record a file superseded within its OWN attempt (an overwrite's
      * interim append-shaped list) — stale even on commit. */
    protected def recordStale(p: HPath): Unit = { alwaysStale += p; () }
    /** Delete superseded attempt metadata: everything but the final
      * attempt's (committed — the published snapshot references it),
      * or everything (abandoned). */
    private[iceberg] def dropAttemptMeta(keepCommitted: Boolean): Unit = {
      alwaysStale.foreach(p => TableIO.delete(p)); alwaysStale.clear()
      val stale =
        if (keepCommitted) attemptMeta.toSeq.dropRight(1)
        else attemptMeta.toSeq
      stale.flatten.foreach(p => TableIO.delete(p))
      val kept = if (keepCommitted) attemptMeta.toSeq.takeRight(1) else Nil
      attemptMeta.clear(); attemptMeta ++= kept
    }
  }

  /** Data files were partition-routed under the spec that was default
    * at STAGING time; folding them under a DIFFERENT default spec
    * would stamp wrong partition records (the zip against the new
    * spec's fields silently truncates). Every staged op that carries
    * data files guards on this: stage data-bearing ops BEFORE a spec
    * change of the same table in one transaction, and a rival spec
    * evolution fails the transaction loudly instead of mis-routing. */
  private def requireSpecUnmoved(m: IcebergMetadata.IceMetadata,
      stagedSpecId: Int, what: String): Unit =
    if (m.defaultSpecId != stagedSpecId)
      throw new java.util.ConcurrentModificationException(
        s"staged $what for ${m.location} cannot commit: the default " +
          s"partition spec moved ($stagedSpecId -> ${m.defaultSpecId}) " +
          "after the data files were partition-routed; stage data ops " +
          "before a spec change of the same table, or re-run on the " +
          "new base (nothing was published)")

  final class StagedAppend private[iceberg] (
      val location: String,
      moved: Seq[(HPath, Long, Seq[String])],
      stats: Map[String, FileStats],
      ref: String = "main",
      stagedSpecId: Int = 0) extends AttemptMetaTracking {
    private[iceberg] def applyTo(m: IcebergMetadata.IceMetadata)
        : IcebergMetadata.IceMetadata = {
      if (moved.nonEmpty) requireSpecUnmoved(m, stagedSpecId, "append")
      val snap = appendManifest(m, moved, stats, ref)
      recordAttempt(snap)
      m.withSnapshot(snap, ref)
    }
    private[iceberg] def cleanup(): Unit = {
      dropAttemptMeta(keepCommitted = false)
      moved.foreach(f => TableIO.delete(f._1))
    }
  }

  /** Stage an append's data files (distributed write, footer stats)
    * WITHOUT any metadata commit. `ref` targets a branch (reference:
    * TableTransaction's branch, transaction/mod.rs:33): the snapshot
    * chains from that ref's head and only that ref moves — main and
    * every other branch are untouched (the write half of
    * write-audit-publish). */
  def stageAppend(spark: SparkSession, m: IcebergMetadata.IceMetadata,
      df: DataFrame, ref: String = "main"): StagedAppend = {
    val (moved, stats) = stageData(spark, m, df, None)
    new StagedAppend(m.location, moved, stats, ref, m.defaultSpecId)
  }

  /** A whole-content OVERWRITE staged but not committed: like
    * StagedAppend, but `applyTo` publishes a snapshot whose manifest
    * list carries ONLY the staged files (the solo-list shape every
    * overwrite commit here uses), truncating the prior live set.
    * NOT rebase-safe: the replacement content may have been computed
    * FROM the table, so replaying it over a moved base would drop the
    * interleaved commit — the transaction refuses instead (same
    * validation as the single-table compaction path). */
  final class StagedOverwrite private[iceberg] (
      val location: String,
      moved: Seq[(HPath, Long, Seq[String])],
      stats: Map[String, FileStats],
      stagedSpecId: Int = 0) extends AttemptMetaTracking {
    private[iceberg] def applyTo(m: IcebergMetadata.IceMetadata)
        : IcebergMetadata.IceMetadata = {
      if (moved.nonEmpty) requireSpecUnmoved(m, stagedSpecId, "overwrite")
      val snap0 = appendManifest(m, moved, stats)
      val (snap, _) = soloManifestList(m, snap0, "overwrite")
      // snap0's interim append-shaped manifest list is superseded by
      // the solo list within the SAME attempt (its manifests live on,
      // referenced by the solo list)
      recordStale(new HPath(snap0.manifestList))
      recordAttempt(snap)
      m.withSnapshot(snap)
    }
    private[iceberg] def cleanup(): Unit = {
      dropAttemptMeta(keepCommitted = false)
      moved.foreach(f => TableIO.delete(f._1))
    }
  }

  /** Stage an overwrite's replacement content without committing. */
  def stageOverwrite(spark: SparkSession, m: IcebergMetadata.IceMetadata,
      df: DataFrame): StagedOverwrite = {
    val (moved, stats) = stageData(spark, m, df, None)
    new StagedOverwrite(m.location, moved, stats, m.defaultSpecId)
  }

  /** A row-level DELTA staged but not committed: an (optional) set of
    * new data files plus delete files (equality content 2, or
    * positional content 1) that land in ONE snapshot when the
    * transaction commits — the multi-table form of the GDPR shape
    * ("delete this user from facts AND summary atomically").
    * Equality deltas are rebase-safe: the delete applies by key to
    * all strictly-earlier sequences, so replaying over a moved base
    * is exactly the semantics the caller asked for. Positional deltas
    * re-validate on every attempt that the data files their deletes
    * reference are still live (deltaSnapshot's validateDataFilesExist
    * guard) — a concurrent rewrite fails the transaction rather than
    * resurrecting deleted rows. */
  final class StagedDelta private[iceberg] (
      spark: SparkSession,
      val location: String,
      moved: Seq[(HPath, Long, Seq[String])],
      stats: Map[String, FileStats],
      movedDel: Seq[(HPath, Long, Long)],
      delContent: Int,
      eqCols: Seq[String],
      spec: Seq[IcebergMetadata.IcePartitionField],
      referenced: Set[String],
      stagedSpecId: Int = 0) extends AttemptMetaTracking {
    private[iceberg] def applyTo(m: IcebergMetadata.IceMetadata)
        : IcebergMetadata.IceMetadata = {
      if (moved.nonEmpty) requireSpecUnmoved(m, stagedSpecId, "delta")
      val next = deltaSnapshot(spark, location, moved, stats, movedDel,
        referenced, delContent, eqCols, spec)(m)
      recordAttempt(next.snapshots.last)
      next
    }
    private[iceberg] def cleanup(): Unit = {
      dropAttemptMeta(keepCommitted = false)
      moved.foreach(f => TableIO.delete(f._1))
      movedDel.foreach(f => TableIO.delete(f._1))
    }
  }

  /** Write `rows` as one delete parquet in data/ (field ids in the
    * footer: the spec's reserved ids for positional file_path/pos,
    * the table's ids for equality keys), returning
    * (path, size, rowCount) tuples — the movedDel shape every delta
    * commit consumes. */
  private def stageDeleteFile(spark: SparkSession,
      m: IcebergMetadata.IceMetadata, rows: DataFrame, content: Int)
      : Seq[(HPath, Long, Long)] = {
    import org.apache.spark.sql.functions.col
    val withIds = rows.select(rows.schema.fields.map { f =>
      val id: Option[Long] = f.name match {
        case "file_path" if content == 1 => Some(2147483546L)
        case "pos" if content == 1 => Some(2147483545L)
        case n => m.schema.fieldId(n).map(_.toLong)
      }
      id match {
        case Some(i) => col(f.name).as(f.name,
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putLong("parquet.field.id", i).build())
        case None => col(f.name)
      }
    }.toIndexedSeq: _*)
    val staging = TableIO.path(m.location,
      s"stage-txdel-${UUID.randomUUID().toString.take(8)}")
    withMicrosTimestamps(spark)(
      withIds.coalesce(1).write.parquet(staging.toString))
    val dataDir = TableIO.path(m.location, "data")
    TableIO.mkdirs(dataDir)
    val kind = if (content == 1) "pos" else "eq"
    val movedDel = TableIO.listFilesRecursive(staging)
      .filter(_._1.getName.endsWith(".parquet"))
      .map { case (src, sz, _) =>
        val dest = new HPath(dataDir,
          s"$kind-delete-${UUID.randomUUID().toString.take(8)}.parquet")
        TableIO.rename(src, dest)
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(dest, footerConf))
        val rows = try reader.getFooter.getBlocks.asScala
          .map(_.getRowCount).sum finally reader.close()
        (dest, sz, rows)
      }
    TableIO.delete(staging, recursive = true)
    movedDel
  }

  /** Stage an equality DELETE (the distinct key tuples) without
    * committing. Rebase-safe by construction. */
  def stageDeleteByKey(spark: SparkSession, m: IcebergMetadata.IceMetadata,
      keys: DataFrame, eqCols: Seq[String]): StagedDelta = {
    import org.apache.spark.sql.functions.col
    require(eqCols.nonEmpty, "equality delete needs key columns")
    eqCols.foreach(c => require(m.schema.fieldId(c).isDefined,
      s"no column $c"))
    val keyDf = keys.select(eqCols.map(col): _*).distinct()
    val movedDel = stageDeleteFile(spark, m, keyDf, 2)
    new StagedDelta(spark, m.location, Seq.empty, Map.empty, movedDel, 2,
      eqCols, m.defaultSpecFields, Set.empty)
  }

  /** Stage a keyed UPSERT: one snapshot holding an equality delete of
    * `df`'s key tuples (hides old row versions — strictly-earlier
    * sequences only, so the new rows survive) plus data files holding
    * `df`, partition-routed like any append. Null keys are refused:
    * an equality-delete tuple would hide null-keyed rows with no
    * replacement written (same contract as updateByKey). */
  def stageUpsertByKey(spark: SparkSession, m: IcebergMetadata.IceMetadata,
      df: DataFrame, eqCols: Seq[String]): StagedDelta = {
    import org.apache.spark.sql.functions.col
    require(eqCols.nonEmpty, "upsert needs key columns")
    eqCols.foreach(c => require(m.schema.fieldId(c).isDefined,
      s"no column $c"))
    val keyDf = df.select(eqCols.map(col): _*).distinct()
    require(keyDf.filter(keyDf.columns.map(col(_).isNull)
        .reduce(_ || _)).isEmpty,
      "upsertByKey: null key values are not supported (an equality " +
        "delete would hide null-keyed rows without rewriting them)")
    val (moved, stats) = stageData(spark, m, df, None)
    val movedDel = stageDeleteFile(spark, m, keyDf, 2)
    new StagedDelta(spark, m.location, moved, stats, movedDel, 2, eqCols,
      m.defaultSpecFields, Set.empty, m.defaultSpecId)
  }

  /** Stage a positional DELETE of (file_path, pos) rows. Rebase-AWARE:
    * each commit attempt re-validates the referenced data files are
    * still live. */
  def stageDeletePositions(spark: SparkSession,
      m: IcebergMetadata.IceMetadata, positions: DataFrame): StagedDelta = {
    val posDf = positions.select("file_path", "pos")
    val movedDel = stageDeleteFile(spark, m, posDf, 1)
    val referenced: Set[String] =
      if (movedDel.isEmpty) Set.empty
      else spark.read
        .schema(StructType(Seq(StructField("file_path",
          org.apache.spark.sql.types.StringType))))
        .parquet(movedDel.map(_._1.toString): _*)
        .distinct().collect()
        .map(r => new HPath(r.getString(0)).toUri.getPath).toSet
    new StagedDelta(spark, m.location, Seq.empty, Map.empty, movedDel, 1,
      Seq.empty, m.defaultSpecFields, referenced)
  }

  /** A transaction-staged REWRITE (reference: the transaction's
    * rewrite / rewrite_with_lineage, transaction/mod.rs:76,97):
    * compaction as a transaction op. The observed base's live
    * content — MoR deletes folded — re-binned into
    * ~targetFileSizeBytes files, replacing exactly the source files
    * it compacted when the transaction commits; `lineage` is the
    * reference's additional_summary, stamped on the rewrite snapshot.
    * Row-preserving, and rebase-AWARE rather than rebase-safe: every
    * commit attempt re-validates against the fresh base that
    * (a) every compacted source file is still live — a rival
    * rewrite/DELETE that touched them fails the transaction instead
    * of resurrecting rows, (b) no delete file landed at a later
    * sequence — the rewritten rows' new sequence would escape it,
    * and (c) the default spec hasn't moved — the staged files were
    * partition-routed under the observed spec. Data files rivals
    * appended since staging are CARRIED: compaction composes with
    * concurrent ingest. */
  final class StagedRewrite private[iceberg] (
      spark: SparkSession,
      val location: String,
      moved: Seq[(HPath, Long, Seq[String])],
      stats: Map[String, FileStats],
      sourcePaths: Set[String],
      observedSeq: Long,
      observedSpecId: Int,
      lineage: Map[String, String]) extends AttemptMetaTracking {
    private def norm(p: String) = new HPath(p).toUri.getPath
    private val normSources = sourcePaths.map(norm)
    private[iceberg] def applyTo(m: IcebergMetadata.IceMetadata)
        : IcebergMetadata.IceMetadata = {
      def refuse(why: String) =
        throw new java.util.ConcurrentModificationException(
          s"staged rewrite of $location cannot commit: $why; nothing " +
            "was published — recompute the rewrite on the new base")
      if (moved.isEmpty && sourcePaths.isEmpty) return m // empty table
      if (m.defaultSpecId != observedSpecId)
        refuse("the default partition spec changed since the rewrite " +
          "was staged")
      val t = IcebergTable.fromMetadata(spark, m)
      val gone = normSources --
        t.plannedFiles().map(p => norm(p._1.filePath)).toSet
      if (gone.nonEmpty)
        refuse(s"${gone.size} compacted source file(s) were rewritten " +
          s"or removed by a concurrent commit (e.g. ${gone.head})")
      val lateDeletes = t.deleteEntries().count(_._2 > observedSeq)
      if (lateDeletes > 0)
        refuse(s"$lateDeletes delete file(s) landed at a later sequence " +
          "than the staged rewrite; its rewritten rows would escape them")
      val next = replaceFilesMutation(location, moved, stats, sourcePaths,
        m.defaultSpecFields, "replace", lineage)(m)
      recordAttempt(next.snapshots.last)
      next
    }
    private[iceberg] def cleanup(): Unit = {
      dropAttemptMeta(keepCommitted = false)
      moved.foreach(f => TableIO.delete(f._1))
    }
  }

  /** Stage a compaction of the observed base's live content without
    * committing (see StagedRewrite). */
  def stageRewrite(spark: SparkSession, m: IcebergMetadata.IceMetadata,
      lineage: Map[String, String] = Map.empty,
      targetFileSizeBytes: Long = 128L << 20): StagedRewrite = {
    val t = IcebergTable.fromMetadata(spark, m)
    val planned = t.plannedFiles()
    val sourcePaths = planned.map(_._1.filePath).toSet
    val totalBytes = planned.map(_._1.fileSizeBytes).sum
    val n = math.max(1,
      math.ceil(totalBytes.toDouble / targetFileSizeBytes).toInt)
    val (moved, stats) =
      if (planned.isEmpty) (Seq.empty[(HPath, Long, Seq[String])],
        Map.empty[String, FileStats])
      else stageData(spark, m, t.scan().repartition(n), Some(n))
    new StagedRewrite(spark, m.location, moved, stats, sourcePaths,
      m.lastSequenceNumber, m.defaultSpecId, lineage)
  }

  /** Executor-staged files under `staging` land in ONE snapshot of
    * branch `ref`: appended, or (`truncate`) replacing the branch's
    * live content through a solo manifest list — INSERT OVERWRITE, or a
    * streaming epoch in Complete output mode. A branch that does not
    * exist yet starts empty (table_metadata.rs:217-237). With an
    * `epoch` (one streaming micro-batch) the snapshot is stamped with
    * (query-id, epoch-id); exactly-once across query restarts comes
    * from the stamp: a replayed epoch whose id is already in the
    * snapshot history commits nothing (the same dedup the
    * graft-dialect streaming sink and Iceberg's own streaming writer
    * use). Over a REST-registered root the commit rides the
    * update-table protocol like every other write. Returns whether a
    * snapshot was committed. The dedup anchors are
    * graft.table.StreamEpoch's. A batch truncate refuses when `ref`
    * moved past its head in `builtOn`, the metadata the write was
    * planned against: its content may derive from that head
    * (`INSERT OVERWRITE t SELECT ... FROM t`), and committing over a
    * newer one would drop the interleaved commit. A Complete-mode epoch
    * rewrites its whole result each time, so it lands on the newest
    * head. */
  def commitStagedWrite(spark: SparkSession, location: String,
      staging: HPath, truncate: Boolean, ref: String = "main",
      epoch: Option[graft.table.StreamEpoch] = None,
      builtOn: Option[IcebergMetadata.IceMetadata] = None): Boolean = {
    def head(m: IcebergMetadata.IceMetadata): Option[Long] =
      if (ref == "main") m.currentSnapshotId else m.refs.get(ref)
    val builtHead = builtOn.map(head)
    def replayed(m: IcebergMetadata.IceMetadata): Boolean = epoch.exists(
      _.replayedIn(m.properties, m.snapshots.iterator.map(_.summary)))
    val base = IcebergMetadata.load(location)
    if (replayed(base)) {
      TableIO.delete(staging, recursive = true)
      return false
    }
    val (moved, stats) =
      if (TableIO.exists(staging)) ingestStagedFiles(spark, base, staging)
      else (Seq.empty[(HPath, Long, Seq[String])], Map.empty[String, FileStats])
    // an append that staged no file (a watermark-only tick) commits
    // nothing; an empty Complete-mode result must still truncate
    if (moved.isEmpty && !truncate) return false
    var replayedInside = false
    IcebergMetadata.commitRetry(location) { m =>
      if (replayed(m)) { replayedInside = true; m }
      else {
        if (truncate && epoch.isEmpty && builtHead.exists(_ != head(m)))
          throw new java.util.ConcurrentModificationException(
            s"branch '$ref' of $location moved (snapshot " +
              s"${builtHead.flatten.getOrElse(-1L)} -> ${head(m).getOrElse(-1L)}) " +
              "while an overwrite was computing its content; retry the operation")
        val snap0 = appendManifest(m, moved, stats, ref)
        val snap1 =
          if (truncate) soloManifestList(m, snap0, "overwrite")._1
          else snap0
        val snap = snap1.copy(
          summary = snap1.summary ++ epoch.map(_.summary).getOrElse(Map.empty))
        m.withSnapshot(snap, ref)
          .copy(properties = m.properties ++ epoch.map(_.highWater))
      }
    }
    // a concurrent run of the SAME query won the epoch between our
    // load and commit: our ingested files are unreferenced — drop them
    if (replayedInside) moved.foreach(f => TableIO.delete(f._1))
    !replayedInside
  }

  /** Atomic REPLACE TABLE [AS SELECT] on a REAL-format table (the
    * staged-catalog path; reference: create.rs:59 stage_create — the
    * protocol's two-phase create exists for exactly this shape),
    * staged but not yet published. `metadata` is the table as the
    * replace leaves it: a new schema with ids allocated above
    * `lastColumnId` (a retired id is never reused), a new default spec
    * and the REPLACED properties; the executors write the new rows
    * under it. `ingest` moves their staged files into data/
    * unreferenced (invisible to every reader), and `commit()` runs ONE
    * metadata commit that installs the schema, spec, properties and a
    * 'replace' snapshot whose manifest list carries only the new
    * content — readers see the old table or the new one, never a mix,
    * and pre-replace snapshots stay time-travelable until
    * expire_snapshots. Over a REST catalog the commit rides the
    * update-table protocol (commitRetry routes it), so the swap is
    * CAS'd server-side too. `abort()` deletes the ingested files and
    * publishes nothing — this is what lets Spark's StagingTableCatalog
    * contract hold for adopted/REST tables. A REPLACE TABLE without
    * AS SELECT ingests nothing and commits empty content. */
  final class StagedReplace private[iceberg] (
      val location: String,
      base: IcebergMetadata.IceMetadata,
      install: IcebergMetadata.IceMetadata => IcebergMetadata.IceMetadata) {
    val metadata: IcebergMetadata.IceMetadata = install(base)
    private var moved = Seq.empty[(HPath, Long, Seq[String])]
    private var stats = Map.empty[String, FileStats]

    def ingest(spark: SparkSession, staging: HPath): Unit =
      if (TableIO.exists(staging)) {
        val (m, s) = ingestStagedFiles(spark, metadata, staging)
        moved = m; stats = s
      }

    def commit(): Unit = {
      IcebergMetadata.commitRetry(location) { m =>
        if (m.currentSnapshotId != base.currentSnapshotId ||
            m.lastColumnId != base.lastColumnId ||
            m.schemas.size != base.schemas.size)
          throw new java.util.ConcurrentModificationException(
            s"table at $location changed while REPLACE TABLE was " +
              "writing its content; re-run the statement")
        val mNew = install(m)
        val snap0 = appendManifest(mNew, moved, stats)
        val (snap, _) = soloManifestList(mNew, snap0, "replace")
        mNew.withSnapshot(snap)
      }
      ()
    }

    def abort(): Unit = moved.foreach(f => TableIO.delete(f._1))
  }

  /** Stage a REPLACE TABLE of `location` by a table of `newSchema`,
    * partitioned by `partitions` ((column, transform) pairs), with
    * properties `props`. */
  def stageReplaceTable(location: String, newSchema: StructType,
      partitions: Seq[(String, String)],
      props: Map[String, String]): StagedReplace = {
    val base = IcebergMetadata.load(location)
    val newSchemaId = base.schemas.map(_.schemaId).max + 1
    // fresh ids: strip anything the query's output schema inherited
    // from a table read, then allocate above the watermark
    val stamped = graft.table.Meta.withFieldIds(
      graft.table.Meta.stripFieldIds(newSchema), base.lastColumnId + 1)
    val schema = IcebergMetadata.schemaFromSpark(stamped, newSchemaId,
      nestedIdsFrom = Some(base.lastColumnId + newSchema.size + 1))
    val specFields = partitions.zipWithIndex.map { case ((c, t), i) =>
      val srcId = schema.fieldId(c).getOrElse(
        throw new IllegalArgumentException(s"no column $c to partition by"))
      IcebergMetadata.IcePartitionField(srcId,
        math.max(base.lastPartitionId, 999) + 1 + i,
        Transforms.fieldName(c, t), t)
    }
    val newSpecId = base.specs.map(_.specId).max + 1
    def install(m: IcebergMetadata.IceMetadata): IcebergMetadata.IceMetadata =
      m.copy(
        lastColumnId = schema.maxId,
        currentSchemaId = newSchemaId,
        schemas = m.schemas :+ schema,
        defaultSpecId = newSpecId,
        specs = m.specs :+ IcebergMetadata.IceSpec(newSpecId, specFields),
        lastPartitionId = math.max(m.lastPartitionId, 999) + specFields.size,
        properties = props +
          ("write.format.default" -> "parquet") +
          ("schema.name-mapping.default" -> IcebergMetadata.nameMapping(schema)),
        // the replacement defines no sort order; orderId 0 (unsorted)
        // is re-added by the metadata writer
        sortOrders = Seq.empty,
        defaultSortOrderId = 0)
    new StagedReplace(location, base, install)
  }

  /** OverwriteByExpression on a REAL-format table (`INSERT OVERWRITE
    * ... PARTITION` / `REPLACE WHERE`): the executor-staged new rows
    * under `staging` land in ONE commit — candidates manifest-pruned by
    * the filter; files whose stats prove every row matches the
    * all-equality filter (min = max = v, zero nulls) drop METADATA-ONLY
    * with no read; partially-matching files rewrite keeping
    * NULL-predicate rows (3VL, same as DELETE). Over a REST catalog the
    * commit rides the update-table protocol. */
  def overwriteWhere(spark: SparkSession, location: String, staging: HPath,
      predicate: org.apache.spark.sql.Column,
      touched: Seq[(String, String, String)],
      eqProofs: Seq[(String, String)]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val t = IcebergTable.load(spark, location)
    val base = t.meta
    val cands = t.plannedFiles(None, touched)
    def fullyMatches(stats: Map[String, graft.table.Meta.ColStats]): Boolean =
      eqProofs.nonEmpty && eqProofs.forall { case (c, v) =>
        stats.get(c).exists(s =>
          s.min != null && s.max != null &&
            s.min == v && s.max == v && s.nullCount == 0)
      }
    val (dropped, partial) = cands.partition(c => fullyMatches(c._2))
    // a metadata-only drop is sound under outstanding MoR deletes:
    // every visible row of a fully-matching file matches, and its
    // already-deleted rows are invisible either way
    val kept =
      if (partial.isEmpty) Seq.empty
      else Seq(writeStagedDir(spark, base,
        t.readVisible(base.schema, partial.map(c => (c._1, c._3)),
          t.deleteEntries(None))
          .filter(!coalesce(predicate, lit(false))), None))
    commitReplaceFiles(spark, location, staging +: kept,
      (dropped ++ partial).map(_._1.filePath).toSet)
  }

  /** Schema evolution (reference: transaction add_schema): register a
    * new schema with the added nullable columns and make it current.
    * Existing snapshots keep their schema-id; readers of old snapshots
    * see the old shape, new appends carry the new columns, and scans
    * of the current schema null-fill older files. */
  def addColumns(location: String,
      newCols: org.apache.spark.sql.types.StructType): Unit = {
    IcebergMetadata.commitRetry(location)(addColumnsTo(newCols))
    ()
  }

  /** The add-columns evolution as a pure base→next function: id
    * allocation re-derives from whatever base the attempt sees, so
    * commit retries and multi-table transaction rebases both replay
    * it soundly. */
  private[iceberg] def addColumnsTo(
      newCols: org.apache.spark.sql.types.StructType)(
      m: IcebergMetadata.IceMetadata): IcebergMetadata.IceMetadata = {
    val old = m.schema
    newCols.fields.foreach(f => require(!old.fields.exists(_.name == f.name),
      s"column ${f.name} already exists"))
    // nested columns allocate their inner ids from the same counter,
    // always above last-column-id (ids are never reused)
    var nextId = m.lastColumnId
    val alloc = () => { nextId += 1; nextId }
    val added = newCols.fields.map { f =>
      val id = alloc()
      IcebergMetadata.IceField(id, f.name, required = false,
        IcebergTypes.toIcebergNested(f.dataType, alloc))
    }
    val newSchema = IcebergMetadata.IceSchema(
      m.schemas.map(_.schemaId).max + 1, old.fields ++ added)
    m.copy(
      schemas = m.schemas :+ newSchema,
      currentSchemaId = newSchema.schemaId,
      lastColumnId = math.max(m.lastColumnId, newSchema.maxId))
  }

  /** Schema evolution: RENAME a column on a real-format table
    * (iceberg-rust-spec schema.rs — identity is the field id, the
    * name is a label). The field keeps its id; every data, delete,
    * and delta file ever written keeps resolving by id, so no file is
    * touched. Refused on exported-from-legacy tables whose footers
    * carry no ids (readers there resolve by name). */
  def renameColumn(location: String, name: String, newName: String): Unit = {
    IcebergMetadata.commitRetry(location) { m =>
      require(m.idResolution &&
          scala.util.Try(IcebergTable.load(
            SparkSession.active, location).dataFilesCarryIds)
            .getOrElse(true),
        "rename needs field-id column identity; this table's data " +
          "files predate footer ids (recreate it, or add-then-backfill)")
      val old = m.schema
      require(old.fields.exists(_.name == name), s"no column $name")
      require(!old.fields.exists(_.name == newName),
        s"column $newName already exists")
      val newSchema = IcebergMetadata.IceSchema(
        m.schemas.map(_.schemaId).max + 1,
        old.fields.map(f => if (f.name == name) f.copy(name = newName) else f))
      m.copy(schemas = m.schemas :+ newSchema,
        currentSchemaId = newSchema.schemaId)
    }
    ()
  }

  /** Schema evolution: DROP a column on a real-format table. The id
    * is retired, never reused (lastColumnId is monotone); old files
    * keep its bytes, current-schema reads simply stop requesting the
    * id. Refused while the column is load-bearing: a partition source
    * of the DEFAULT spec (future writes must compute its transform;
    * historic specs are fine — pruning keeps files it can't map), a
    * default-sort-order key (write clustering), or an equality-delete
    * key of a LIVE delete file (the MoR fold must read it — the
    * metadata-scale manifest walk below is the same check the
    * reference's schema update runs). */
  def dropColumn(location: String, name: String): Unit = {
    IcebergMetadata.commitRetry(location) { m =>
      val old = m.schema
      val field = old.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name"))
      require(!m.defaultSpecFields.exists(_.sourceId == field.id),
        s"cannot drop $name: it is a partition source of the default " +
          "spec; evolve the spec first")
      require(!m.defaultSortFields.exists(_.sourceId == field.id),
        s"cannot drop $name: it is a default sort-order key; set a " +
          "different sort order first")
      val liveEqIds: Set[Int] = m.currentSnapshot.toSeq.flatMap { snap =>
        IcebergAvro.readManifestList(new HPath(snap.manifestList))
          .filter(_.content == 1).flatMap(mf =>
            IcebergAvro.readManifest(new HPath(mf.path))
              .filter(e => e.status != 2 && e.content == 2)
              .flatMap(_.equalityIds))
      }.toSet
      require(!liveEqIds.contains(field.id),
        s"cannot drop $name: a live equality delete file keys on it; " +
          "rewrite the deletes first (CALL rewrite_delete_files)")
      val newSchema = IcebergMetadata.IceSchema(
        m.schemas.map(_.schemaId).max + 1,
        old.fields.filterNot(_.id == field.id))
      m.copy(schemas = m.schemas :+ newSchema,
        currentSchemaId = newSchema.schemaId)
    }
    ()
  }

  /** Schema evolution: WIDEN a column's type — exactly the safe
    * promotions the spec allows (iceberg-rust-spec schema.rs:
    * int->long, float->double, decimal precision growth at fixed
    * scale). Files are untouched: the parquet reader up-casts the old
    * physical type into the widened slot at read, and manifest bounds
    * written under the narrow type decode by buffer length
    * (IcebergTypes.decodeToCanonical), which widens the raw bits
    * EXACTLY — so stats pruning stays sound. float->double is refused
    * when the column is a partition source: identity/truncate
    * partition values compare by rendered string, and a float-era
    * rendering re-parsed as double could wrongly prune (integral and
    * decimal promotions compare in value space and are safe; bucket
    * hashes int and long identically by spec design). */
  def updateColumnType(location: String, name: String,
      newType: org.apache.spark.sql.types.DataType): Unit = {
    import org.apache.spark.sql.types._
    IcebergMetadata.commitRetry(location) { m =>
      val old = m.schema
      val field = old.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name"))
      val from = IcebergTypes.toSpark(field.tpe)
      def promotable(a: DataType, b: DataType): Boolean = (a, b) match {
        case (x, y) if x == y => true
        case (IntegerType, LongType) => true
        case (FloatType, DoubleType) => true
        case (d1: DecimalType, d2: DecimalType) =>
          d1.scale == d2.scale && d2.precision >= d1.precision
        case _ => false
      }
      require(promotable(from, newType),
        s"cannot change $name: ${from.simpleString} -> " +
          s"${newType.simpleString} is not a safe promotion " +
          "(int->long, float->double, decimal precision growth)")
      if (from == newType) m // identity: commitRetry writes nothing
      else {
        require(!(from == FloatType &&
            m.specs.exists(_.fields.exists(_.sourceId == field.id))),
          s"cannot widen float partition source $name: float-era " +
            "partition values don't compare exactly under double")
        val newSchema = IcebergMetadata.IceSchema(
          m.schemas.map(_.schemaId).max + 1,
          old.fields.map(f =>
            if (f.id == field.id)
              f.copy(tpe = IcebergTypes.toIceberg(newType))
            else f))
        m.copy(schemas = m.schemas :+ newSchema,
          currentSchemaId = newSchema.schemaId)
      }
    }
    ()
  }

  /** Commit a DELETE snapshot in the real format: a delete parquet
    * (equality keys, or file_path/pos rows for positional), a delete
    * manifest (entry content 1|2), and a manifest list carrying the
    * previous manifests forward (reference:
    * iceberg-rust/src/table/transaction writes the same layering). */
  private def commitDelete(spark: SparkSession, location: String,
      deleteDf: DataFrame, content: Int, eqCols: Seq[String]): Unit = {
    val deleteRows = deleteDf.count() // spec: record_count is required
    val staging = TableIO.path(location, s"stage-${UUID.randomUUID().toString.take(8)}")
    // footers carry field ids: the spec's RESERVED ids for positional
    // delete columns (file_path 2147483546, pos 2147483545), the
    // table's ids for equality key columns
    val tableSchema = IcebergMetadata.load(location).schema
    val withIds = {
      import org.apache.spark.sql.functions.col
      deleteDf.select(deleteDf.schema.fields.map { f =>
        val id: Option[Long] = f.name match {
          case "file_path" if content == 1 => Some(2147483546L)
          case "pos" if content == 1 => Some(2147483545L)
          case n => tableSchema.fieldId(n).map(_.toLong)
        }
        id match {
          case Some(i) => col(f.name).as(f.name,
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata).putLong("parquet.field.id", i)
              .build())
          case None => col(f.name)
        }
      }.toIndexedSeq: _*)
    }
    // TIMESTAMP_MICROS like every other delete-file writer: a
    // timestamp-typed equality key written as INT96 has no usable
    // stats and foreign readers reject it
    withMicrosTimestamps(spark)(
      withIds.coalesce(1).write.parquet(staging.toString))
    val dataDir = TableIO.path(location, "data")
    TableIO.mkdirs(dataDir)
    val kind = if (content == 1) "pos" else "eq"
    val moved = TableIO.listFilesRecursive(staging)
      .filter(_._1.getName.endsWith(".parquet"))
      .map { case (src, sz, _) =>
        val dest = new HPath(dataDir,
          s"$kind-delete-${UUID.randomUUID().toString.take(8)}.parquet")
        TableIO.rename(src, dest)
        (dest, sz)
      }
    TableIO.delete(staging, recursive = true)

    // the delete file is additive, so the manifest assembly below
    // REBASES cleanly on a lost commit race (commitRetry re-runs it
    // against the fresh metadata)
    IcebergMetadata.commitRetry(location) { m0 =>
    val (m, delSpecId) = unpartitionedSpecId(m0)
    val schema = m.schema
    val snapshotId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val seq = m.lastSequenceNumber + 1
    val eqIds = eqCols.flatMap(schema.fieldId)
    val entries = moved.map { case (p, sz) =>
      val e = IcebergAvro.record(IcebergAvro.manifestSchema(emptyPartition))
      e.put("status", 1)
      e.put("snapshot_id", snapshotId)
      e.put("sequence_number", null)
      e.put("file_sequence_number", null)
      val dfSchema = e.getSchema.getField("data_file").schema()
      val d = new GenericData.Record(dfSchema)
      d.put("content", content)
      d.put("file_path", TableIO.qualified(p))
      d.put("file_format", "PARQUET")
      d.put("partition",
        new GenericData.Record(dfSchema.getField("partition").schema()))
      d.put("record_count", deleteRows)
      d.put("file_size_in_bytes", sz)
      d.put("null_value_counts", null)
      d.put("lower_bounds", null)
      d.put("upper_bounds", null)
      if (eqIds.nonEmpty) {
        val arrSchema = dfSchema.getField("equality_ids").schema().getTypes.get(1)
        val arr = new GenericData.Array[Any](eqIds.size, arrSchema)
        eqIds.foreach(id => arr.add(id))
        d.put("equality_ids", arr)
      } else d.put("equality_ids", null)
      e.put("data_file", d)
      e: org.apache.avro.generic.GenericRecord
    }
    val metaDir = TableIO.path(location, "metadata")
    val manifestPath = new HPath(metaDir,
      s"manifest-del-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
    val manifestLen = IcebergAvro.writeManifest(manifestPath, emptyPartition,
      entries, icebergSchemaJson(schema),
      s"""{"spec-id":$delSpecId,"fields":[]}""",
      content = "deletes")

    val prevManifests = m.currentSnapshot.map(s =>
      IcebergAvro.readManifestList(new HPath(s.manifestList))).getOrElse(Seq.empty)
    val mlSchema = IcebergAvro.manifestListSchema
    def mfRecord(path: String, len: Long, ct: Int, sq: Long,
        snapId: Long, specId: Int,
        sums: Option[Seq[IcebergAvro.FieldSummary]],
        added: Int, existing: Int, addedRows: Long = 0L)
        : org.apache.avro.generic.GenericRecord = {
      val r = IcebergAvro.record(mlSchema)
      r.put("manifest_path", path); r.put("manifest_length", len)
      r.put("partition_spec_id", specId); r.put("content", ct)
      r.put("sequence_number", sq); r.put("min_sequence_number", sq)
      r.put("added_snapshot_id", snapId)
      r.put("added_files_count", added); r.put("existing_files_count", existing)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", addedRows); r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      IcebergAvro.putFieldSummaries(r, sums)
      r
    }
    val newEntry = mfRecord(TableIO.qualified(manifestPath), manifestLen, 1,
      seq, snapshotId, delSpecId, None, moved.size, 0, deleteRows)
    // carried entries keep their OWN spec ids (a mix of data and
    // delete manifests across spec eras) and file counts
    val carried = prevManifests.map(mf => mfRecord(
      mf.path, mf.length, mf.content, mf.sequenceNumber, mf.addedSnapshotId,
      mf.specId, mf.partitions, mf.addedFilesCount.getOrElse(0),
      mf.existingFilesCount.getOrElse(0)))
    val mlPath = new HPath(metaDir,
      s"snap-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
    IcebergAvro.writeManifestList(mlPath, newEntry +: carried, snapshotId, seq)

    val snap = IcebergMetadata.IceSnapshot(
      snapshotId = snapshotId, parentId = m.currentSnapshotId,
      sequenceNumber = seq, timestampMs = System.currentTimeMillis(),
      manifestList = TableIO.qualified(mlPath),
      operation = "delete", schemaId = m.currentSchemaId,
      summary = Map(
        "added-delete-files" -> moved.size.toString,
        (if (content == 1) "added-position-deletes"
         else "added-equality-deletes") -> deleteRows.toString))
    m.withSnapshot(snap)
    }
    ()
  }

  /** Commit a DELTA write on a REAL-format table (the V2 SupportsDelta
    * path: SQL UPDATE / MERGE / DELETE on an adopted Iceberg table):
    * executor-staged new data files plus executor-staged position-
    * delete files land in ONE snapshot — a data manifest, a delete
    * manifest (content 1), and a manifest list carrying the previous
    * manifests forward. Write cost O(changed rows), no candidate-file
    * rewrite — the right default at 100 TB (reference: the v2 delete
    * semantics of iceberg-rust/src/table/transaction; position deletes
    * at sequence N apply to data files with sequence <= N, so the
    * deletes reach every pre-existing file but the rows appended here
    * are never self-deleted — their paths aren't referenced).
    *
    * Data staging layout matches the executor writers: partitioned
    * specs write `<field-name>=<value>` dirs (RowTransform.eval), and
    * the manifest entries carry the typed partition structs parsed
    * from them. Both staged sets are base-independent, so the commit
    * rebases cleanly through commitRetry on a lost CAS race. */
  def commitDelta(spark: SparkSession, location: String,
      dataStaging: HPath, delStaging: HPath,
      delContent: Int = 1, eqCols: Seq[String] = Seq.empty): Unit = {
    require(delContent == 1 || delContent == 2)
    require((delContent == 2) == eqCols.nonEmpty,
      "equality delete staging needs its key columns (and only then)")
    val base = IcebergMetadata.load(location)
    val spec = base.defaultSpecFields
    val sparkSchema = base.schema.toSpark
    val dataDir = TableIO.path(location, "data")
    TableIO.mkdirs(dataDir)

    val stagedData = TableIO.listFilesRecursive(dataStaging)
      .filter(_._1.getName.endsWith(".parquet"))
    val moved = TableIO.parallelOnDriver(stagedData) { case (src, sz, _) =>
      val rel = TableIO.relativize(dataStaging, src)
      val dest = new HPath(dataDir,
        s"${UUID.randomUUID().toString.take(8)}-${src.getName}")
      TableIO.rename(src, dest)
      val dirVals = rel.split("/").dropRight(1)
        .map(_.split("=", 2)).map(a => a(0).stripPrefix("_p_") -> a(1)).toMap
      (dest, sz, spec.map(pf => dirVals.getOrElse(pf.name, null)))
    }
    TableIO.delete(dataStaging, recursive = true)
    val statsByPath: Map[String, FileStats] =
      collectFooterStats(spark, moved.map(_._1), sparkSchema, base.schema)

    // delete files: record_count is required by the spec — read it
    // from each footer (driver-side, delete files are small)
    val movedDel = TableIO.listFilesRecursive(delStaging)
      .filter(_._1.getName.endsWith(".parquet"))
      .map { case (src, sz, _) =>
        val kind = if (delContent == 1) "pos" else "eq"
        val dest = new HPath(dataDir,
          s"$kind-delete-${UUID.randomUUID().toString.take(8)}.parquet")
        TableIO.rename(src, dest)
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(dest, footerConf))
        val rows = try reader.getFooter.getBlocks.asScala
          .map(_.getRowCount).sum finally reader.close()
        (dest, sz, rows)
      }
    TableIO.delete(delStaging, recursive = true)
    if (moved.isEmpty && movedDel.isEmpty) return

    // the data files the position deletes reference, for the
    // validateDataFilesExist guard below (read once, outside the
    // retry loop; distinct FILE paths only — never the delete rows)
    val referenced: Set[String] =
      if (delContent == 2) Set.empty
      else graft.table.GraftTable.positionDeleteTargets(spark, movedDel.map(_._1))

    commitDeltaSnapshot(spark, location, moved, statsByPath, movedDel,
      referenced, delContent, eqCols, spec)
  }

  /** The delta commit proper: land already-moved data files + delete
    * files in ONE snapshot (data manifest + v2 delete manifest +
    * manifest list carrying everything forward), CAS'd. Shared by the
    * SupportsDelta write path (position deletes) and the key-routed
    * UPDATE (equality deletes, `delContent` 2). */
  private def commitDeltaSnapshot(spark: SparkSession, location: String,
      moved: Seq[(HPath, Long, Seq[String])],
      statsByPath: Map[String, FileStats],
      movedDel: Seq[(HPath, Long, Long)],
      referenced: Set[String], delContent: Int,
      eqCols: Seq[String],
      spec: Seq[IcebergMetadata.IcePartitionField],
      expectedBase: Option[Option[Long]] = None): Unit = {
    IcebergMetadata.commitRetry(location)(deltaSnapshot(spark, location,
      moved, statsByPath, movedDel, referenced, delContent, eqCols, spec,
      expectedBase))
    ()
  }

  /** The delta snapshot assembly as a PURE base→next function: writes
    * the attempt's manifests/list as a side effect, but the metadata
    * transition itself re-runs cleanly over any base — commitRetry
    * wraps it for single-table commits, and multi-table transactions
    * call it per rebase attempt (the server CASes instead). */
  private[iceberg] def deltaSnapshot(spark: SparkSession, location: String,
      moved: Seq[(HPath, Long, Seq[String])],
      statsByPath: Map[String, FileStats],
      movedDel: Seq[(HPath, Long, Long)],
      referenced: Set[String], delContent: Int,
      eqCols: Seq[String],
      spec: Seq[IcebergMetadata.IcePartitionField],
      expectedBase: Option[Option[Long]] = None)(
      m0: IcebergMetadata.IceMetadata): IcebergMetadata.IceMetadata = {
      expectedBase.foreach { want =>
        if (m0.currentSnapshotId != want)
          throw new java.util.ConcurrentModificationException(
            s"table at $location changed while the keyed update was " +
              "being computed; retry the operation")
      }
      val (m, delSpecId) = unpartitionedSpecId(m0)
      // write-skew guard (the reference's validateDataFilesExist): a
      // concurrent rewrite/CoW commit may have replaced the files
      // these position deletes reference — committing over it would
      // leave the deletes pointing at dead paths and every "deleted"
      // row visible again. Refuse instead; the caller retries the
      // whole operation against the new content.
      if (referenced.nonEmpty) {
        val t = IcebergTable.fromMetadataAt(spark, location, m)
        val live = t.plannedFiles()
          .map(f => t.resolvePath(f._1.filePath).toUri.getPath).toSet
        val missing = referenced -- live
        if (missing.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"delta commit aborted: ${missing.size} data file(s) its " +
              "position deletes reference were rewritten or removed by " +
              "a concurrent commit; retry the operation")
      }
      val schema = m.schema
      val snapshotId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
      val seq = m.lastSequenceNumber + 1
      val metaDir = TableIO.path(location, "metadata")
      TableIO.mkdirs(metaDir)
      val mlSchema = IcebergAvro.manifestListSchema
      def mfRecord(path: String, len: Long, content: Int, sq: Long,
          minSq: Long, snapId: Long, added: Int, rows: Long,
          sums: Option[Seq[IcebergAvro.FieldSummary]])
          : org.apache.avro.generic.GenericRecord = {
        val r = IcebergAvro.record(mlSchema)
        r.put("manifest_path", path)
        r.put("manifest_length", len)
        r.put("partition_spec_id", m.defaultSpecId)
        r.put("content", content)
        r.put("sequence_number", sq)
        r.put("min_sequence_number", minSq)
        r.put("added_snapshot_id", snapId)
        r.put("added_files_count", added)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", rows)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        IcebergAvro.putFieldSummaries(r, sums)
        r
      }

      // 1. data manifest (same entry shape as appendManifest). The
      // partition values in `moved` are positional per the CALLER's
      // spec (the one that parsed the staging dirs), so that spec —
      // not a retry-fresh one — types the manifest's partition struct.
      val schemaJson = icebergSchemaJson(schema)
      val partRecordJson = partitionRecordJson(spec, schema)
      val specJson = partitionSpecJson(spec, m.defaultSpecId)
      val dataEntry: Option[org.apache.avro.generic.GenericRecord] =
        if (moved.isEmpty) None
        else {
          var rows = 0L
          val entries = moved.map { case (p, sz, partVals) =>
            val (records, lower, upper, nulls) = statsByPath(p.toString)
            rows += records
            val e = IcebergAvro.record(IcebergAvro.manifestSchema(partRecordJson))
            e.put("status", 1)
            e.put("snapshot_id", snapshotId)
            e.put("sequence_number", null)
            e.put("file_sequence_number", null)
            val dfSchema = e.getSchema.getField("data_file").schema()
            val d = new GenericData.Record(dfSchema)
            d.put("content", 0)
            d.put("file_path", TableIO.qualified(p))
            d.put("file_format", "PARQUET")
            val partRec =
              new GenericData.Record(dfSchema.getField("partition").schema())
            spec.zip(partVals).foreach { case (pf, v) =>
              val srcT = IcebergTypes.toSpark(
                schema.fields.find(_.id == pf.sourceId).get.tpe)
              partRec.put(pf.name,
                typedPartitionValue(Transforms.resultType(pf.transform, srcT), v))
            }
            d.put("partition", partRec)
            d.put("record_count", records)
            d.put("file_size_in_bytes", sz)
            d.put("null_value_counts",
              keyedLongs(dfSchema, "null_value_counts", nulls))
            d.put("lower_bounds", keyedBytes(dfSchema, "lower_bounds", lower))
            d.put("upper_bounds", keyedBytes(dfSchema, "upper_bounds", upper))
            d.put("equality_ids", null)
            e.put("data_file", d)
            e: org.apache.avro.generic.GenericRecord
          }
          val mp = new HPath(metaDir,
            s"manifest-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
          val len = IcebergAvro.writeManifest(
            mp, partRecordJson, entries, schemaJson, specJson)
          Some(mfRecord(TableIO.qualified(mp), len, 0, seq, seq, snapshotId,
            moved.size, rows,
            fieldSummariesFor(spec, schema, moved.map(_._3))))
        }

      // 2. delete manifest (content "deletes"; entry content 1 for
      // position deletes, 2 for equality — the keyed-UPDATE path)
      val eqIds = eqCols.flatMap(schema.fieldId)
      val delEntry: Option[org.apache.avro.generic.GenericRecord] =
        if (movedDel.isEmpty) None
        else {
          val entries = movedDel.map { case (p, sz, rows) =>
            val e = IcebergAvro.record(IcebergAvro.manifestSchema(emptyPartition))
            e.put("status", 1)
            e.put("snapshot_id", snapshotId)
            e.put("sequence_number", null)
            e.put("file_sequence_number", null)
            val dfSchema = e.getSchema.getField("data_file").schema()
            val d = new GenericData.Record(dfSchema)
            d.put("content", delContent)
            d.put("file_path", TableIO.qualified(p))
            d.put("file_format", "PARQUET")
            d.put("partition",
              new GenericData.Record(dfSchema.getField("partition").schema()))
            d.put("record_count", rows)
            d.put("file_size_in_bytes", sz)
            d.put("null_value_counts", null)
            d.put("lower_bounds", null)
            d.put("upper_bounds", null)
            if (eqIds.nonEmpty) {
              val arrSchema =
                dfSchema.getField("equality_ids").schema().getTypes.get(1)
              val arr = new GenericData.Array[Any](eqIds.size, arrSchema)
              eqIds.foreach(id => arr.add(id))
              d.put("equality_ids", arr)
            } else d.put("equality_ids", null)
            e.put("data_file", d)
            e: org.apache.avro.generic.GenericRecord
          }
          val mp = new HPath(metaDir,
            s"manifest-del-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
          val len = IcebergAvro.writeManifest(mp, emptyPartition, entries,
            schemaJson, s"""{"spec-id":$delSpecId,"fields":[]}""",
            content = "deletes")
          val r = mfRecord(TableIO.qualified(mp), len, 1, seq, seq, snapshotId,
            0, 0L, None)
          r.put("partition_spec_id", delSpecId)
          Some(r)
        }

      // 3. one manifest list: both new manifests + everything carried.
      // Carried entries keep their SOURCE list-entry counts verbatim
      // (a real Iceberg reader skips added=0/existing=0 manifests as
      // empty — same rule rewriteManifests honors for delete manifests)
      val rawByPath = m.currentSnapshot.map(s =>
        IcebergAvro.readManifestListRaw(new HPath(s.manifestList))
          .map(r => String.valueOf(r.get("manifest_path")) -> r).toMap)
        .getOrElse(Map.empty)
      val prevManifests = m.currentSnapshot.map(s =>
        IcebergAvro.readManifestList(new HPath(s.manifestList)))
        .getOrElse(Seq.empty)
      val carried = prevManifests.map(mf =>
        copiedListEntry(mf, rawByPath.get(mf.path)))
      val mlPath = new HPath(metaDir,
        s"snap-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
      IcebergAvro.writeManifestList(mlPath,
        (dataEntry.toSeq ++ delEntry.toSeq) ++ carried, snapshotId, seq)
      val snap = IcebergMetadata.IceSnapshot(
        snapshotId = snapshotId,
        parentId = m.currentSnapshotId,
        sequenceNumber = seq,
        timestampMs = System.currentTimeMillis(),
        manifestList = TableIO.qualified(mlPath),
        operation = if (moved.isEmpty) "delete" else "overwrite",
        schemaId = m.currentSchemaId,
        summary = Map(
          "added-data-files" -> moved.size.toString,
          "added-files" -> moved.size.toString,
          "added-records" ->
            moved.map(x => statsByPath(x._1.toString)._1).sum.toString,
          "added-files-size" -> moved.map(_._2).sum.toString,
          "added-delete-files" -> movedDel.size.toString,
          (if (delContent == 1) "added-position-deletes"
           else "added-equality-deletes") ->
            movedDel.map(_._3).sum.toString))
      m.withSnapshot(snap)
  }

  /** Commit a copy-on-write ROW-LEVEL operation on a REAL-format
    * table (SQL UPDATE / MERGE / DELETE under
    * write.<op>.mode=copy-on-write) or a filter overwrite: the files
    * staged under the `staging` dirs swap exactly the candidate files
    * the operation planned, in ONE snapshot. Existing data manifests
    * containing removed paths are rewritten with those entries dropped (raw
    * round-trip preserves foreign stats columns; inherited
    * snapshot_id/sequence_number materialized before entries move to
    * a manifest with a different sequence, per the spec's
    * inheritance rules); untouched manifests and delete manifests
    * carry forward verbatim. Like `rewrite`, the commit
    * refuses if the table moved under it — the replacement content
    * was computed against `base` and committing it over a newer
    * snapshot would drop the interleaved commit. */
  def commitReplaceFiles(spark: SparkSession, location: String,
      staging: Seq[HPath], removedPaths: Set[String]): Unit = {
    val base = IcebergMetadata.load(location)
    val ingested = staging.map(ingestStagedFiles(spark, base, _))
    val moved = ingested.flatMap(_._1)
    if (moved.isEmpty && removedPaths.isEmpty) return

    IcebergMetadata.commitRetry(location) { m =>
      if (m.currentSnapshotId != base.currentSnapshotId)
        throw new java.util.ConcurrentModificationException(
          s"table at $location changed (snapshot " +
            s"${base.currentSnapshotId.getOrElse(-1L)} -> " +
            s"${m.currentSnapshotId.getOrElse(-1L)}) while a row-level " +
            "operation was computing its replacement; retry the operation")
      replaceFilesMutation(location, moved, ingested.flatMap(_._2).toMap,
        removedPaths, base.defaultSpecFields)(m)
    }
    ()
  }

  /** One replace-files snapshot as a pure base→next mutation: `moved`
    * replaces `removedPaths` in the live set; manifests not holding a
    * removed path are CARRIED verbatim (a concurrent append's files
    * survive), touched ones are rewritten without the removed entries.
    * Shared by commitReplaceFiles (row-level CoW, pinned to its base
    * by the caller) and the transaction-staged rewrite (rebase-aware:
    * its own validation runs before each attempt). `extraSummary` is
    * the reference's rewrite_with_lineage additional_summary
    * (transaction/mod.rs:97) — stamped into the snapshot summary. */
  private[iceberg] def replaceFilesMutation(location: String,
      moved: Seq[(HPath, Long, Seq[String])],
      statsByPath: Map[String, FileStats],
      removedPaths: Set[String],
      spec: Seq[IcebergMetadata.IcePartitionField],
      operation: String = "overwrite",
      extraSummary: Map[String, String] = Map.empty)(
      m: IcebergMetadata.IceMetadata): IcebergMetadata.IceMetadata = {
      val schema = m.schema
      val snapshotId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
      val seq = m.lastSequenceNumber + 1
      val metaDir = TableIO.path(location, "metadata")
      TableIO.mkdirs(metaDir)
      val mlSchema = IcebergAvro.manifestListSchema

      // 1. the replacement data manifest (same entry shape as append)
      val schemaJson = icebergSchemaJson(schema)
      val partRecordJson = partitionRecordJson(spec, schema)
      val specJson = partitionSpecJson(spec, m.defaultSpecId)
      val dataEntry: Option[org.apache.avro.generic.GenericRecord] =
        if (moved.isEmpty) None
        else {
          var rows = 0L
          val entries = moved.map { case (p, sz, partVals) =>
            val (records, lower, upper, nulls) = statsByPath(p.toString)
            rows += records
            val e = IcebergAvro.record(IcebergAvro.manifestSchema(partRecordJson))
            e.put("status", 1)
            e.put("snapshot_id", snapshotId)
            e.put("sequence_number", null)
            e.put("file_sequence_number", null)
            val dfSchema = e.getSchema.getField("data_file").schema()
            val dd = new GenericData.Record(dfSchema)
            dd.put("content", 0)
            dd.put("file_path", TableIO.qualified(p))
            dd.put("file_format", "PARQUET")
            val partRec =
              new GenericData.Record(dfSchema.getField("partition").schema())
            spec.zip(partVals).foreach { case (pf, v) =>
              val srcT = IcebergTypes.toSpark(
                schema.fields.find(_.id == pf.sourceId).get.tpe)
              partRec.put(pf.name,
                typedPartitionValue(Transforms.resultType(pf.transform, srcT), v))
            }
            dd.put("partition", partRec)
            dd.put("record_count", records)
            dd.put("file_size_in_bytes", sz)
            dd.put("null_value_counts",
              keyedLongs(dfSchema, "null_value_counts", nulls))
            dd.put("lower_bounds", keyedBytes(dfSchema, "lower_bounds", lower))
            dd.put("upper_bounds", keyedBytes(dfSchema, "upper_bounds", upper))
            dd.put("equality_ids", null)
            e.put("data_file", dd)
            e: org.apache.avro.generic.GenericRecord
          }
          val mp = new HPath(metaDir,
            s"manifest-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
          val len = IcebergAvro.writeManifest(
            mp, partRecordJson, entries, schemaJson, specJson)
          val r = IcebergAvro.record(mlSchema)
          r.put("manifest_path", TableIO.qualified(mp))
          r.put("manifest_length", len)
          r.put("partition_spec_id", m.defaultSpecId)
          r.put("content", 0)
          r.put("sequence_number", seq)
          r.put("min_sequence_number", seq)
          r.put("added_snapshot_id", snapshotId)
          r.put("added_files_count", moved.size)
          r.put("existing_files_count", 0)
          r.put("deleted_files_count", 0)
          r.put("added_rows_count", rows)
          r.put("existing_rows_count", 0L)
          r.put("deleted_rows_count", 0L)
          IcebergAvro.putFieldSummaries(r,
            fieldSummariesFor(spec, schema, moved.map(_._3)))
          Some(r)
        }

      // 2. previous manifests: rewrite the ones holding removed paths
      val prevManifests = m.currentSnapshot.map(s =>
        IcebergAvro.readManifestList(new HPath(s.manifestList)))
        .getOrElse(Seq.empty)
      val rawByPath = m.currentSnapshot.map(s =>
        IcebergAvro.readManifestListRaw(new HPath(s.manifestList))
          .map(r => String.valueOf(r.get("manifest_path")) -> r).toMap)
        .getOrElse(Map.empty)
      val carriedOrRewritten = prevManifests.map { mf =>
        if (mf.content != 0) copiedListEntry(mf, rawByPath.get(mf.path))
        else {
          val entries = IcebergAvro.readManifest(new HPath(mf.path))
          if (!entries.exists(e => removedPaths.contains(e.filePath)))
            copiedListEntry(mf, rawByPath.get(mf.path))
          else {
            val (wSchema, fileMeta, raw) =
              IcebergAvro.readManifestRaw(new HPath(mf.path))
            var minSeq = Long.MaxValue
            var rows = 0L
            var kept = 0
            val keptRecs = raw.flatMap { r =>
              val status = r.get("status").asInstanceOf[Int]
              val df = r.get("data_file").asInstanceOf[
                org.apache.avro.generic.GenericRecord]
              val path = String.valueOf(df.get("file_path"))
              if (status == 2 || removedPaths.contains(path)) None
              else {
                def hasField(n: String) = r.getSchema.getField(n) != null
                val entrySeq = Option(r.get("sequence_number"))
                  .map(_.asInstanceOf[Long]).getOrElse(mf.sequenceNumber)
                r.put("status", 0) // existing
                if (hasField("snapshot_id") && r.get("snapshot_id") == null)
                  r.put("snapshot_id", mf.addedSnapshotId)
                if (hasField("sequence_number"))
                  r.put("sequence_number", entrySeq)
                if (hasField("file_sequence_number") &&
                    r.get("file_sequence_number") == null)
                  r.put("file_sequence_number", mf.sequenceNumber)
                minSeq = math.min(minSeq, entrySeq)
                rows += df.get("record_count").asInstanceOf[Long]
                kept += 1
                Some(r: org.apache.avro.generic.GenericRecord)
              }
            }
            if (keptRecs.isEmpty) null // whole manifest replaced: drop it
            else {
              val p = new HPath(metaDir,
                s"manifest-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
              val len = IcebergAvro.writeManifestRaw(p, wSchema, fileMeta, keptRecs)
              val r = IcebergAvro.record(mlSchema)
              r.put("manifest_path", TableIO.qualified(p))
              r.put("manifest_length", len)
              r.put("partition_spec_id", mf.specId)
              r.put("content", 0)
              r.put("sequence_number", seq)
              r.put("min_sequence_number",
                if (minSeq == Long.MaxValue) seq else minSeq)
              r.put("added_snapshot_id", snapshotId)
              r.put("added_files_count", 0)
              r.put("existing_files_count", kept)
              r.put("deleted_files_count", 0)
              r.put("added_rows_count", 0L)
              r.put("existing_rows_count", rows)
              r.put("deleted_rows_count", 0L)
              // summaries of the SOURCE manifest stay sound for a
              // subset of its entries (bounds only widen)
              IcebergAvro.putFieldSummaries(r, mf.partitions)
              r
            }
          }
        }
      }.filter(_ != null)

      val mlPath = new HPath(metaDir,
        s"snap-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
      IcebergAvro.writeManifestList(mlPath,
        dataEntry.toSeq ++ carriedOrRewritten, snapshotId, seq)
      val snap = IcebergMetadata.IceSnapshot(
        snapshotId = snapshotId,
        parentId = m.currentSnapshotId,
        sequenceNumber = seq,
        timestampMs = System.currentTimeMillis(),
        manifestList = TableIO.qualified(mlPath),
        operation = operation,
        schemaId = m.currentSchemaId,
        summary = Map(
          "added-data-files" -> moved.size.toString,
          "added-files" -> moved.size.toString,
          "added-records" ->
            moved.map(x => statsByPath(x._1.toString)._1).sum.toString,
          "added-files-size" -> moved.map(_._2).sum.toString,
          "deleted-data-files" -> removedPaths.size.toString,
          "removed-files" -> removedPaths.size.toString) ++ extraSummary)
      m.withSnapshot(snap)
  }

  /** Copy one manifest-list entry onto OUR list schema, preserving
    * the SOURCE entry's counts/sequences verbatim (a real Iceberg
    * reader skips added=0/existing=0 manifests as empty; foreign
    * records may carry a different writer schema, so they are copied
    * field-by-field rather than round-tripped raw). */
  private def copiedListEntry(mf: IcebergAvro.ManifestFile,
      src: Option[org.apache.avro.generic.GenericRecord])
      : org.apache.avro.generic.GenericRecord = {
    def fieldOf(n: String): Option[Any] = src.flatMap(s =>
      if (s.getSchema.getField(n) == null) None else Option(s.get(n)))
    def asLong(v: Any): Long = v match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
      case _ => 0L
    }
    def asInt(v: Any): Int = v match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long => l.intValue()
      case _ => 0
    }
    val r = IcebergAvro.record(IcebergAvro.manifestListSchema)
    r.put("manifest_path", mf.path)
    r.put("manifest_length", mf.length)
    r.put("partition_spec_id", mf.specId)
    r.put("content", mf.content)
    r.put("sequence_number", mf.sequenceNumber)
    r.put("min_sequence_number", fieldOf("min_sequence_number")
      .map(asLong).getOrElse(mf.sequenceNumber))
    r.put("added_snapshot_id", mf.addedSnapshotId)
    r.put("added_files_count", fieldOf("added_files_count")
      .map(asInt).getOrElse(mf.addedFilesCount.getOrElse(0)))
    r.put("existing_files_count",
      fieldOf("existing_files_count").map(asInt).getOrElse(0))
    r.put("deleted_files_count",
      fieldOf("deleted_files_count").map(asInt).getOrElse(0))
    r.put("added_rows_count",
      fieldOf("added_rows_count").map(asLong).getOrElse(0L))
    r.put("existing_rows_count",
      fieldOf("existing_rows_count").map(asLong).getOrElse(0L))
    r.put("deleted_rows_count",
      fieldOf("deleted_rows_count").map(asLong).getOrElse(0L))
    IcebergAvro.putFieldSummaries(r, mf.partitions)
    r
  }

  /** Consolidate a REAL-format table's POSITION delete files into one
    * (Iceberg's rewrite_position_deletes): merge-on-read row-level SQL
    * accumulates one small delete file per statement, and every scan
    * pays one open per file. The live position-delete rows union
    * DISTINCT (a slot deleted twice collapses), rows referencing data
    * files no longer live drop (dangling deletes), and the result
    * commits as a row-preserving 'replace' snapshot whose manifest
    * list carries the data + equality-delete manifests forward and
    * replaces every position-delete entry with the consolidated file.
    * Re-sequencing at the tip is SOUND for position deletes — they
    * name explicit (path, pos) slots, and paths are never reused — it
    * would be unsound for equality deletes, which therefore stay
    * untouched (entry sequence numbers materialized when a mixed
    * manifest is rewritten without its position entries). Returns
    * (source position-delete files, consolidated files). */
  def rewritePositionDeletes(spark: SparkSession,
      location: String): (Int, Int) = {
    val base = IcebergMetadata.load(location)
    val t = IcebergTable.fromMetadataAt(spark, location, base)
    val posEntries = t.deleteEntries().map(_._1).filter(_.content == 1)
    if (posEntries.size <= 1) return (posEntries.size, posEntries.size)
    val livePaths = t.plannedFiles()
      .map(f => t.resolvePath(f._1.filePath).toUri.getPath).toSet

    // distributed distinct + dangling-row drop; the consolidated
    // file(s) land in staging first, commit moves them in
    val posSchema = StructType(Seq(
      StructField("file_path", org.apache.spark.sql.types.StringType,
        nullable = false),
      StructField("pos", LongType, nullable = false)))
    val liveB = spark.sparkContext.broadcast(livePaths)
    import spark.implicits._
    val rows = spark.read.schema(posSchema)
      .parquet(posEntries.map(e => t.resolvePath(e.filePath).toString): _*)
      .distinct()
      .as[(String, Long)]
      .filter(r => liveB.value.contains(new HPath(r._1).toUri.getPath))
      .toDF("file_path", "pos")
    val withIds = {
      import org.apache.spark.sql.functions.col
      rows.select(
        col("file_path").as("file_path",
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", 2147483546L).build()),
        col("pos").as("pos",
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", 2147483545L).build()))
    }
    val staging = TableIO.path(location,
      s"stage-posrw-${UUID.randomUUID().toString.take(8)}")
    withMicrosTimestamps(spark)(
      withIds.coalesce(1).write.parquet(staging.toString))
    val dataDir = TableIO.path(location, "data")
    val moved = TableIO.listFilesRecursive(staging)
      .filter(_._1.getName.endsWith(".parquet"))
      .map { case (src, sz, _) =>
        val dest = new HPath(dataDir,
          s"pos-delete-rw-${UUID.randomUUID().toString.take(8)}.parquet")
        TableIO.rename(src, dest)
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(dest, footerConf))
        val n = try reader.getFooter.getBlocks.asScala
          .map(_.getRowCount).sum finally reader.close()
        (dest, sz, n)
      }
    TableIO.delete(staging, recursive = true)

    IcebergMetadata.commitRetry(location) { m0 =>
      val (m, delSpecId) = unpartitionedSpecId(m0)
      // the consolidated rows were derived from `base`: committing
      // them over a moved table would resurrect rows a newer delete
      // hid — refuse, like the compaction path
      if (m.currentSnapshotId != base.currentSnapshotId)
        throw new java.util.ConcurrentModificationException(
          s"table at $location changed while position deletes were " +
            "being consolidated; retry the operation")
      val snap0 = m.currentSnapshot.getOrElse(
        throw new IllegalStateException("no current snapshot"))
      val snapshotId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
      val seq = m.lastSequenceNumber + 1
      val metaDir = TableIO.path(location, "metadata")
      val mlSchema = IcebergAvro.manifestListSchema
      val schemaJson = icebergSchemaJson(m.schema)

      // 1. the consolidated position-delete manifest
      val entries = moved.map { case (p, sz, n) =>
        val e = IcebergAvro.record(IcebergAvro.manifestSchema(emptyPartition))
        e.put("status", 1)
        e.put("snapshot_id", snapshotId)
        e.put("sequence_number", null)
        e.put("file_sequence_number", null)
        val dfSchema = e.getSchema.getField("data_file").schema()
        val d = new GenericData.Record(dfSchema)
        d.put("content", 1)
        d.put("file_path", TableIO.qualified(p))
        d.put("file_format", "PARQUET")
        d.put("partition",
          new GenericData.Record(dfSchema.getField("partition").schema()))
        d.put("record_count", n)
        d.put("file_size_in_bytes", sz)
        d.put("null_value_counts", null)
        d.put("lower_bounds", null)
        d.put("upper_bounds", null)
        d.put("equality_ids", null)
        e.put("data_file", d)
        e: org.apache.avro.generic.GenericRecord
      }
      val mp = new HPath(metaDir,
        s"manifest-del-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
      val len = IcebergAvro.writeManifest(mp, emptyPartition, entries,
        schemaJson, s"""{"spec-id":$delSpecId,"fields":[]}""",
        content = "deletes")
      val newDelEntry = {
        val r = IcebergAvro.record(mlSchema)
        r.put("manifest_path", TableIO.qualified(mp))
        r.put("manifest_length", len)
        r.put("partition_spec_id", delSpecId)
        r.put("content", 1)
        r.put("sequence_number", seq)
        r.put("min_sequence_number", seq)
        r.put("added_snapshot_id", snapshotId)
        r.put("added_files_count", moved.size)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", moved.map(_._3).sum)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        IcebergAvro.putFieldSummaries(r, None)
        r: org.apache.avro.generic.GenericRecord
      }

      // 2. carried manifests: data + pure-equality delete manifests go
      // verbatim (raw list-entry fields preserved); mixed delete
      // manifests rewrite WITHOUT their position entries (inherited
      // sequence fields materialized); position-only manifests drop
      val carried = carriedWithoutDeleteContent(
        snap0, 1, snapshotId, seq, metaDir, mlSchema)
      val mlPath = new HPath(metaDir,
        s"snap-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
      IcebergAvro.writeManifestList(mlPath, newDelEntry +: carried,
        snapshotId, seq)
      val snap = IcebergMetadata.IceSnapshot(
        snapshotId = snapshotId,
        parentId = m.currentSnapshotId,
        sequenceNumber = seq,
        timestampMs = System.currentTimeMillis(),
        manifestList = TableIO.qualified(mlPath),
        operation = "replace",
        schemaId = m.currentSchemaId,
        summary = Map(
          "position-delete-files-replaced" -> posEntries.size.toString,
          "position-delete-files-created" -> moved.size.toString))
      m.withSnapshot(snap)
    }
    (posEntries.size, moved.size)
  }

  /** Manifest-list entries carrying `snap0`'s manifests forward with
    * delete entries of content `dropContent` removed: data manifests
    * verbatim (raw list-entry fields preserved), delete manifests
    * holding none of the dropped content verbatim, mixed ones
    * rewritten without the dropped entries (inherited sequence fields
    * materialized), entirely-dropped manifests omitted. Shared by
    * rewritePositionDeletes (drops content 1, the consolidated file
    * replaces it) and convertEqualityDeletes (drops content 2, the
    * materialized position slots replace it). */
  private def carriedWithoutDeleteContent(
      snap0: IcebergMetadata.IceSnapshot, dropContent: Int,
      snapshotId: Long, seq: Long, metaDir: HPath,
      mlSchema: org.apache.avro.Schema)
      : Seq[org.apache.avro.generic.GenericRecord] = {
    val prev = IcebergAvro.readManifestList(new HPath(snap0.manifestList))
    val rawByPath = IcebergAvro
      .readManifestListRaw(new HPath(snap0.manifestList))
      .map(r => String.valueOf(r.get("manifest_path")) -> r).toMap
    prev.flatMap { mf =>
      if (mf.content == 0)
        Seq(copiedListEntry(mf, rawByPath.get(mf.path)))
      else {
        val hasDropped = IcebergAvro.readManifest(new HPath(mf.path))
          .exists(_.content == dropContent)
        if (!hasDropped) Seq(copiedListEntry(mf, rawByPath.get(mf.path)))
        else {
          val (wSchema, fileMeta, raw) =
            IcebergAvro.readManifestRaw(new HPath(mf.path))
          var minSeq = Long.MaxValue
          var rows = 0L
          val kept = raw.flatMap { r =>
            val df = r.get("data_file").asInstanceOf[
              org.apache.avro.generic.GenericRecord]
            val content = df.get("content").asInstanceOf[Int]
            val status = r.get("status").asInstanceOf[Int]
            if (content == dropContent || status == 2) None
            else {
              def hasField(n: String) = r.getSchema.getField(n) != null
              val entrySeq = Option(r.get("sequence_number"))
                .map(_.asInstanceOf[Long]).getOrElse(mf.sequenceNumber)
              r.put("status", 0)
              if (hasField("snapshot_id") && r.get("snapshot_id") == null)
                r.put("snapshot_id", mf.addedSnapshotId)
              if (hasField("sequence_number"))
                r.put("sequence_number", entrySeq)
              if (hasField("file_sequence_number") &&
                  r.get("file_sequence_number") == null)
                r.put("file_sequence_number", mf.sequenceNumber)
              minSeq = math.min(minSeq, entrySeq)
              rows += df.get("record_count").asInstanceOf[Long]
              Some(r: org.apache.avro.generic.GenericRecord)
            }
          }
          if (kept.isEmpty) Seq.empty
          else {
            val p2 = new HPath(metaDir,
              s"manifest-del-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
            val l2 = IcebergAvro.writeManifestRaw(p2, wSchema, fileMeta, kept)
            val r = IcebergAvro.record(mlSchema)
            r.put("manifest_path", TableIO.qualified(p2))
            r.put("manifest_length", l2)
            r.put("partition_spec_id", mf.specId)
            r.put("content", 1)
            r.put("sequence_number", seq)
            r.put("min_sequence_number",
              if (minSeq == Long.MaxValue) seq else minSeq)
            r.put("added_snapshot_id", snapshotId)
            r.put("added_files_count", 0)
            r.put("existing_files_count", kept.size)
            r.put("deleted_files_count", 0)
            r.put("added_rows_count", 0L)
            r.put("existing_rows_count", rows)
            r.put("deleted_rows_count", 0L)
            IcebergAvro.putFieldSummaries(r, mf.partitions)
            Seq(r: org.apache.avro.generic.GenericRecord)
          }
        }
      }
    }
  }

  /** Convert outstanding EQUALITY delete files on a REAL-format table
    * into POSITION deletes (the sound form of the reference's rewrite
    * over the delete tier — iceberg-rust table/transaction/mod.rs):
    * every row an equality delete hides is a key match in a data file
    * with a STRICTLY SMALLER sequence, so one join per key-id group
    * materializes exactly those (file, pos) slots. The slots commit
    * at the tip sequence — sound for position deletes (explicit
    * slots, paths never reused) — and the equality entries drop from
    * the manifest tree, so long-lived equality deletes stop taxing
    * every scan with a key-set probe. Visible rows UNCHANGED; the
    * 'replace' snapshot is changelog-silent; data files untouched.
    * Returns (equality files converted, position files created). */
  def convertEqualityDeletes(spark: SparkSession,
      location: String): (Int, Int) = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, regexp_replace}
    val base = IcebergMetadata.load(location)
    val t = IcebergTable.fromMetadataAt(spark, location, base)
    val eqEntries = t.deleteEntries().filter(_._1.content == 2)
    if (eqEntries.isEmpty) return (0, 0)
    val dataWithSeq = t.plannedFiles().map { case (e, _, seq) => (e, seq) }
    val idRes = base.idResolution
    // keys resolve against the CURRENT schema by id, falling back to
    // the historical eras (readVisible's missingEq rule): on adopted
    // tables a foreign writer may have dropped a column a live
    // equality delete keys on. Silently dropping an unresolvable id
    // would widen the slot join to fewer key columns and materialize
    // position deletes for rows the equality delete never hid —
    // refuse loudly instead.
    def keySchema(eqIds: Seq[Int]): StructType = {
      val eqFields = eqIds.flatMap(id =>
        base.schema.fields.find(_.id == id).orElse(
          base.schemas.flatMap(_.fields).find(_.id == id)))
      require(eqFields.size == eqIds.size,
        s"equality ids ${eqIds.filterNot(id =>
          eqFields.exists(_.id == id))} resolve in no schema era; " +
          "converting would over-delete — aborting")
      StructType(eqFields.map(f =>
        StructField(f.name, IcebergTypes.toSpark(f.tpe), nullable = true,
          if (idRes) new org.apache.spark.sql.types.MetadataBuilder()
            .putLong(graft.table.Meta.FieldIdKey, f.id.toLong).build()
          else org.apache.spark.sql.types.Metadata.empty)))
    }
    val slotsOpt = graft.table.EqualitySlots.derive(spark,
      eqEntries.groupBy(_._1.equalityIds).toSeq.map { case (eqIds, files) =>
        graft.table.EqualitySlots.Group(
          // delete files written before a rename carry the old key
          // name (right id): the id-carrying schema keeps resolving
          keySchema(eqIds),
          files.map { case (e, seqE) =>
            (TableIO.qualified(t.resolvePath(e.filePath)), seqE) },
          dataWithSeq.map { case (e, seq) =>
            (TableIO.qualified(t.resolvePath(e.filePath)), seq) })
      })
    val moved = slotsOpt match {
      case None => Seq.empty
      case Some(slots) =>
        val withIds = slots.select(
          col("file_path").as("file_path",
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id", 2147483546L).build()),
          col("pos").as("pos",
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id", 2147483545L).build()))
        val staging = TableIO.path(location,
          s"stage-eqrw-${UUID.randomUUID().toString.take(8)}")
        withMicrosTimestamps(spark)(
          withIds.coalesce(1).write.parquet(staging.toString))
        val dataDir = TableIO.path(location, "data")
        val out = TableIO.listFilesRecursive(staging)
          .filter(_._1.getName.endsWith(".parquet"))
          .map { case (src, sz, _) =>
            val dest = new HPath(dataDir,
              s"pos-delete-eqrw-${UUID.randomUUID().toString.take(8)}.parquet")
            TableIO.rename(src, dest)
            val reader = ParquetFileReader.open(
              HadoopInputFile.fromPath(dest, footerConf))
            val n = try reader.getFooter.getBlocks.asScala
              .map(_.getRowCount).sum finally reader.close()
            (dest, sz, n)
          }
        TableIO.delete(staging, recursive = true)
        out
      }

    IcebergMetadata.commitRetry(location) { m0 =>
      val (m, delSpecId) = unpartitionedSpecId(m0)
      // the slots were derived from `base`: committing over a moved
      // table could miss a newer equality delete — refuse, like the
      // position consolidation and compaction paths
      if (m.currentSnapshotId != base.currentSnapshotId)
        throw new java.util.ConcurrentModificationException(
          s"table at $location changed while equality deletes were " +
            "being converted; retry the operation")
      val snap0 = m.currentSnapshot.getOrElse(
        throw new IllegalStateException("no current snapshot"))
      val snapshotId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
      val seq = m.lastSequenceNumber + 1
      val metaDir = TableIO.path(location, "metadata")
      val mlSchema = IcebergAvro.manifestListSchema
      val schemaJson = icebergSchemaJson(m.schema)

      // 1. the materialized position-delete manifest (may be empty
      // when the equality deletes hid nothing — the entries still
      // drop below)
      val newEntries = moved.map { case (p, sz, n) =>
        val e = IcebergAvro.record(IcebergAvro.manifestSchema(emptyPartition))
        e.put("status", 1)
        e.put("snapshot_id", snapshotId)
        e.put("sequence_number", null)
        e.put("file_sequence_number", null)
        val dfSchema = e.getSchema.getField("data_file").schema()
        val d = new GenericData.Record(dfSchema)
        d.put("content", 1)
        d.put("file_path", TableIO.qualified(p))
        d.put("file_format", "PARQUET")
        d.put("partition",
          new GenericData.Record(dfSchema.getField("partition").schema()))
        d.put("record_count", n)
        d.put("file_size_in_bytes", sz)
        d.put("null_value_counts", null)
        d.put("lower_bounds", null)
        d.put("upper_bounds", null)
        d.put("equality_ids", null)
        e.put("data_file", d)
        e: org.apache.avro.generic.GenericRecord
      }
      val newDelEntry =
        if (newEntries.isEmpty) Seq.empty
        else {
          val mp = new HPath(metaDir,
            s"manifest-del-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
          val len = IcebergAvro.writeManifest(mp, emptyPartition, newEntries,
            schemaJson, s"""{"spec-id":$delSpecId,"fields":[]}""",
            content = "deletes")
          val r = IcebergAvro.record(mlSchema)
          r.put("manifest_path", TableIO.qualified(mp))
          r.put("manifest_length", len)
          r.put("partition_spec_id", delSpecId)
          r.put("content", 1)
          r.put("sequence_number", seq)
          r.put("min_sequence_number", seq)
          r.put("added_snapshot_id", snapshotId)
          r.put("added_files_count", moved.size)
          r.put("existing_files_count", 0)
          r.put("deleted_files_count", 0)
          r.put("added_rows_count", moved.map(_._3).sum)
          r.put("existing_rows_count", 0L)
          r.put("deleted_rows_count", 0L)
          IcebergAvro.putFieldSummaries(r, None)
          Seq(r: org.apache.avro.generic.GenericRecord)
        }

      // 2. carried manifests: data + pure-position delete manifests
      // verbatim; mixed delete manifests rewrite WITHOUT their
      // equality entries; equality-only manifests drop
      val carried = carriedWithoutDeleteContent(
        snap0, 2, snapshotId, seq, metaDir, mlSchema)
      val mlPath = new HPath(metaDir,
        s"snap-$snapshotId-${UUID.randomUUID().toString.take(8)}.avro")
      IcebergAvro.writeManifestList(mlPath, newDelEntry ++ carried,
        snapshotId, seq)
      val snap = IcebergMetadata.IceSnapshot(
        snapshotId = snapshotId,
        parentId = m.currentSnapshotId,
        sequenceNumber = seq,
        timestampMs = System.currentTimeMillis(),
        manifestList = TableIO.qualified(mlPath),
        operation = "replace",
        schemaId = m.currentSchemaId,
        summary = Map(
          "equality-delete-files-converted" -> eqEntries.size.toString,
          "position-delete-files-created" -> moved.size.toString))
      m.withSnapshot(snap)
    }
    (eqEntries.size, moved.size)
  }

  /** Key-routed point UPDATE (the GDPR/user-record rewrite; the
    * metadata-only-equality-DELETE analog for updates): commit IO is
    * O(matched rows) end to end. The fetch scan prunes manifests by
    * the key bounds and pushes the key filter into parquet; the
    * commit lands ONE snapshot holding an EQUALITY delete file of
    * just the key tuples (hides old row versions — strictly-earlier
    * sequences only, so the new rows survive) plus data files holding
    * only the fetched-then-modified rows, partition-routed through
    * the table's transforms like any append. Candidate data files are
    * never rewritten and never position-scanned. Returns the matched
    * row count (0 = nothing committed). */
  def updateByKey(spark: SparkSession, location: String,
      keys: DataFrame, eqCols: Seq[String],
      sets: Seq[(String, org.apache.spark.sql.Column)]): Long = {
    import org.apache.spark.sql.functions.{broadcast, col}
    require(eqCols.nonEmpty, "updateByKey needs at least one key column")
    val base = IcebergMetadata.load(location)
    val sparkSchema = base.schema.toSpark
    eqCols.foreach(c => require(base.schema.fieldId(c).isDefined,
      s"no column $c"))
    sets.foreach { case (c, _) =>
      require(sparkSchema.fieldNames.contains(c), s"no column $c") }
    val t = IcebergTable.fromMetadataAt(spark, location, base)
    val keyDf = keys.select(eqCols.map(col): _*).distinct()
    // point keys are bounded by contract (an IN-list, a user-id set):
    // their min/max per column become manifest stat filters, so the
    // fetch plans only files whose bounds can hold a key. The contract
    // is ENFORCED: limit(cap+1) keeps an oversized key set from ever
    // reaching the driver, and the clear error beats a silent OOM
    // (route bulk updates through MERGE INTO instead).
    val cap = updateMaxKeys(spark)
    val keyRows = keyDf.limit(cap + 1).collect()
    require(keyRows.length <= cap,
      s"updateByKey: key set exceeds graft.update.maxKeys=$cap; " +
        "point updates are for bounded key sets — use MERGE INTO for " +
        "bulk updates, or raise the cap")
    if (keyRows.isEmpty) return 0L
    // a null key is undefined for a point update: SQL equality never
    // matches it, but an equality-delete tuple WOULD hide null-keyed
    // rows (null-safe probe semantics) with no replacement written —
    // refuse loudly instead of silently deleting
    require(keyRows.forall(r => !r.anyNull),
      "updateByKey: null key values are not supported (an equality " +
        "delete would hide null-keyed rows without rewriting them)")
    val filters: Seq[(String, String, String)] =
      eqCols.zipWithIndex.flatMap { case (c, i) =>
        val dt = sparkSchema.fields.find(_.name == c).get.dataType
        val vals = keyRows.map(_.get(i)).filter(_ != null)
        if (vals.length < keyRows.length || vals.isEmpty) Seq.empty
        else dt match {
          case org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType =>
            val ls = vals.map(_.toString.toLong)
            Seq((c, ">=", ls.min.toString), (c, "<=", ls.max.toString))
          case org.apache.spark.sql.types.StringType =>
            val ss = vals.map(_.toString)
            Seq((c, ">=", ss.min), (c, "<=", ss.max))
          case _ => Seq.empty // other types keep pruning conservative
        }
      }
    // single-column bounded key sets ALSO push an isin predicate into
    // the parquet scan (row-group stats + bloom skipping) — the semi
    // join alone is applied above the scan, after row groups decode
    val scanned = t.scan(filters = filters)
    val matched = (if (eqCols.size == 1 && keyRows.length <= 1000)
        scanned.filter(col(eqCols.head)
          .isin(keyRows.map(_.get(0)).toIndexedSeq: _*))
      else scanned)
      .join(broadcast(keyDf), eqCols.toSeq, "left_semi")
    // SQL UPDATE semantics: every RHS evaluates against the OLD row,
    // so all assignments go through ONE projection (sequential
    // withColumn would let "a = b, b = a" see a's new value)
    require(sets.map(_._1).distinct.size == sets.size,
      "updateByKey: duplicate assignment targets")
    val setMap = sets.toMap
    val modified = matched.select(sparkSchema.fields.map { f =>
      setMap.get(f.name) match {
        case Some(e) => e.cast(f.dataType).as(f.name)
        case None => col(f.name)
      }
    }.toIndexedSeq: _*)
    // stage the replacement rows exactly like an append (transform
    // partition routing, footer ids, sort clustering, footer stats)
    val (moved, stats) = stageData(spark, base, modified, None)
    val matchedRows = moved.map(f => stats(f._1.toString)._1).sum
    if (matchedRows == 0L) { // no-op update: leave no trace
      moved.foreach(f => TableIO.delete(f._1))
      return 0L
    }
    // the equality delete file: just the key tuples, table field ids
    // in the footer
    val withIds = keyDf.select(eqCols.map { c =>
      col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id",
          base.schema.fieldId(c).get.toLong).build())
    }: _*)
    val delStaging = TableIO.path(location,
      s"stage-upddel-${UUID.randomUUID().toString.take(8)}")
    withMicrosTimestamps(spark)(
      withIds.coalesce(1).write.parquet(delStaging.toString))
    val dataDir = TableIO.path(location, "data")
    TableIO.mkdirs(dataDir)
    val movedDel = TableIO.listFilesRecursive(delStaging)
      .filter(_._1.getName.endsWith(".parquet"))
      .map { case (src, sz, _) =>
        val dest = new HPath(dataDir,
          s"eq-delete-${UUID.randomUUID().toString.take(8)}.parquet")
        TableIO.rename(src, dest)
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(dest, footerConf))
        val rows = try reader.getFooter.getBlocks.asScala
          .map(_.getRowCount).sum finally reader.close()
        (dest, sz, rows)
      }
    TableIO.delete(delStaging, recursive = true)
    commitDeltaSnapshot(spark, location, moved, stats, movedDel,
      Set.empty, 2, eqCols,
      base.defaultSpecFields,
      // the fetched rows were derived from `base`: a concurrent
      // commit (a DELETE of one of these keys, another keyed update)
      // would be silently overwritten by re-inserting stale rows at a
      // higher sequence — refuse and let the caller retry instead
      expectedBase = Some(base.currentSnapshotId))
    matchedRows
  }

  /** Equality DELETE: the distinct key tuples become an equality
    * delete file scoped (by sequence) to all earlier data. */
  def deleteEquality(spark: SparkSession, location: String,
      keys: DataFrame, eqCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    commitDelete(spark, location,
      keys.select(eqCols.map(col): _*).distinct(), 2, eqCols)
  }

  /** Positional DELETE: rows of (file_path, pos). */
  def deletePositional(spark: SparkSession, location: String,
      positions: DataFrame): Unit =
    commitDelete(spark, location,
      positions.select("file_path", "pos"), 1, Seq.empty)

  private[iceberg] val emptyPartition =
    """{"type":"record","name":"r102","fields":[]}"""

  /** The id of an UNPARTITIONED spec, registering one when the table
    * has none: delete files written with EMPTY partition structs must
    * reference a spec whose fields are empty — stamping the default
    * (possibly partitioned) spec id would make foreign readers decode
    * the delete manifest against the wrong partition type. */
  private def unpartitionedSpecId(
      m: IcebergMetadata.IceMetadata): (IcebergMetadata.IceMetadata, Int) =
    m.specs.find(_.fields.isEmpty) match {
      case Some(sp) => (m, sp.specId)
      case None =>
        val id = m.specs.map(_.specId).maxOption.getOrElse(-1) + 1
        (m.copy(specs = m.specs :+ IcebergMetadata.IceSpec(id, Seq.empty)), id)
    }

  /** Avro record schema for the partition struct of a spec (nullable
    * fields with the spec's field-ids). */
  private[iceberg] def partitionRecordJson(spec: Seq[IcebergMetadata.IcePartitionField],
      schema: IcebergMetadata.IceSchema): String = {
    if (spec.isEmpty) return emptyPartition
    val fields = spec.map { pf =>
      val avroType = Transforms.resultType(pf.transform, IcebergTypes.toSpark(
        schema.fields.find(_.id == pf.sourceId).get.tpe)) match {
        case LongType | TimestampType => "\"long\""
        case IntegerType | ShortType | DateType => "\"int\""
        case StringType => "\"string\""
        case other =>
          throw new UnsupportedOperationException(s"partition over $other")
      }
      s"""{"name":"${pf.name}","type":["null",$avroType],"default":null,"field-id":${pf.fieldId}}"""
    }
    s"""{"type":"record","name":"r102","fields":[${fields.mkString(",")}]}"""
  }

  private[iceberg] def partitionSpecJson(spec: Seq[IcebergMetadata.IcePartitionField],
      specId: Int): String = {
    val fields = spec.map(pf =>
      s"""{"name":"${pf.name}","transform":"${pf.transform}","source-id":${pf.sourceId},"field-id":${pf.fieldId}}""")
    s"""{"spec-id":$specId,"fields":[${fields.mkString(",")}]}"""
  }

  /** Partition-dir string -> the avro value for the partition struct
    * (Spark renders dir values as escaped display strings — dates as
    * yyyy-MM-dd, timestamps as 'yyyy-MM-dd HH:mm:ss[.S]'). */
  /** Partition-value ordering for manifest field summaries. None =
    * incomparable here -> the caller must not claim bounds. Strings
    * order by UNSIGNED UTF-8 bytes (Iceberg sort order, so foreign
    * planners prune consistently). */
  private def pvCompare(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: java.lang.Integer, y: java.lang.Integer) => Some(x.compareTo(y))
    case (x: java.lang.Long, y: java.lang.Long) => Some(x.compareTo(y))
    case (x: String, y: String) => Some(java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
      Some(x.compareTo(y))
    case _ => None
  }

  /** Field summaries (manifest-list `partitions`, field-id 507) for
    * one manifest's partition values: contains_null + single-value
    * encoded lower/upper per spec field. Fields whose values this
    * writer can't soundly order (float/double/ntz identity arrive as
    * strings) get a null-bounds summary — never a wrong claim. */
  private[iceberg] def fieldSummariesFor(
      spec: Seq[IcebergMetadata.IcePartitionField],
      schema: IcebergMetadata.IceSchema,
      partVals: Seq[Seq[String]]): Option[Seq[IcebergAvro.FieldSummary]] = {
    if (spec.isEmpty || partVals.isEmpty) return None
    Some(spec.zipWithIndex.map { case (pf, i) =>
      val srcT = IcebergTypes.toSpark(
        schema.fields.find(_.id == pf.sourceId).get.tpe)
      val resT = Transforms.resultType(pf.transform, srcT)
      val typed = partVals.map { vs =>
        val tv = typedPartitionValue(resT, vs(i))
        (tv, resT) match { // decimals travel as strings; order by value
          case (s: String, d: DecimalType) =>
            scala.util.Try(new java.math.BigDecimal(s)).getOrElse(null)
          case _ => tv
        }
      }
      val nonNull = typed.filter(_ != null)
      val hasNull = typed.size != nonNull.size
      val bounds = nonNull.headOption.flatMap { h =>
        nonNull.foldLeft(Option((h, h))) { case (acc, v) =>
          acc.flatMap { case (mn, mx) =>
            for (cl <- pvCompare(v, mn); ch <- pvCompare(v, mx))
              yield (if (cl < 0) v else mn, if (ch > 0) v else mx)
          }
        }
      }.flatMap { case (mn, mx) =>
        (scala.util.Try(IcebergTypes.encode(resT, mn)).toOption,
          scala.util.Try(IcebergTypes.encode(resT, mx)).toOption) match {
          case (Some(lo), Some(hi)) => Some((lo, hi))
          case _ => None
        }
      }
      IcebergAvro.FieldSummary(hasNull, bounds.map(_._1), bounds.map(_._2))
    })
  }

  private[iceberg] def typedPartitionValue(t: DataType, v: String): Any = {
    if (v == null || v == "__HIVE_DEFAULT_PARTITION__") return null
    val s = graft.table.PathCodec.unescape(v)
    t match {
      case LongType => java.lang.Long.valueOf(s)
      case IntegerType | ShortType => Integer.valueOf(s)
      case DateType =>
        Integer.valueOf(java.time.LocalDate.parse(s).toEpochDay.toInt)
      case TimestampType =>
        val i = java.sql.Timestamp.valueOf(s).toInstant
        java.lang.Long.valueOf(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case _ => s
    }
  }

  /** Manifest 'schema' metadata — delegates to the one serializer
    * that renders nested types as real JSON objects (a duplicate here
    * once emitted them as quoted strings, which foreign manifest
    * parsers reject). */
  private[iceberg] def icebergSchemaJson(s: IcebergMetadata.IceSchema): String =
    IcebergMetadata.schemaToNode(s).toString

  private[iceberg] def keyedBytes(dfSchema: org.apache.avro.Schema, field: String,
      m: Map[Int, Array[Byte]]): Any = {
    if (m.isEmpty) return null
    val arrSchema = dfSchema.getField(field).schema().getTypes.get(1)
    val itemSchema = arrSchema.getElementType
    val arr = new GenericData.Array[Any](m.size, arrSchema)
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val r = new GenericData.Record(itemSchema)
      r.put("key", k); r.put("value", ByteBuffer.wrap(v))
      arr.add(r)
    }
    arr
  }

  private[iceberg] def keyedLongs(dfSchema: org.apache.avro.Schema, field: String,
      m: Map[Int, Long]): Any = {
    if (m.isEmpty) return null
    val arrSchema = dfSchema.getField(field).schema().getTypes.get(1)
    val itemSchema = arrSchema.getElementType
    val arr = new GenericData.Array[Any](m.size, arrSchema)
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val r = new GenericData.Record(itemSchema)
      r.put("key", k); r.put("value", v)
      arr.add(r)
    }
    arr
  }

  /** Typed min/max/null-count per column from a parquet footer,
    * encoded as Iceberg single-value binaries keyed by field id. */
  private def footerBounds(p: HPath, sparkSchema: StructType,
      ice: IcebergMetadata.IceSchema,
      conf: Configuration = null)
      : (Long, Map[Int, Array[Byte]], Map[Int, Array[Byte]], Map[Int, Long]) = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(p, if (conf != null) conf else footerConf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala
      val records = blocks.map(_.getRowCount).sum
      val mins = scala.collection.mutable.Map[Int, Any]()
      val maxs = scala.collection.mutable.Map[Int, Any]()
      val nulls = scala.collection.mutable.Map[Int, Long]()
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          val fieldId = ice.fieldId(name)
          val sparkType = sparkSchema.fields.find(_.name == name).map(_.dataType)
          (fieldId, sparkType) match {
            case (Some(id), Some(t)) =>
              val st = c.getStatistics
              val prim = footer.getFileMetaData.getSchema
                .getType(Seq(name): _*).asPrimitiveType()
              val int96 = prim.getPrimitiveTypeName ==
                org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96
              if (st != null && st.hasNonNullValue && !int96) {
                val mn = typed(st.genericGetMin, prim.getLogicalTypeAnnotation)
                val mx = typed(st.genericGetMax, prim.getLogicalTypeAnnotation)
                val ord = ordering(t)
                mins(id) = mins.get(id).filter(v => ord.lteq(v, mn)).getOrElse(mn)
                maxs(id) = maxs.get(id).filter(v => ord.gteq(v, mx)).getOrElse(mx)
              }
              if (st != null && st.isNumNullsSet)
                nulls(id) = nulls.getOrElse(id, 0L) + st.getNumNulls
            case _ =>
          }
        }
      }
      def encodeAll(m: scala.collection.Map[Int, Any]): Map[Int, Array[Byte]] =
        m.flatMap { case (id, v) =>
          val t = ice.fields.find(_.id == id).map(f => IcebergTypes.toSpark(f.tpe))
          t.flatMap(tt => scala.util.Try(IcebergTypes.encode(tt, v)).toOption)
            .map(id -> _)
        }.toMap
      (records, encodeAll(mins), encodeAll(maxs), nulls.toMap)
    } finally reader.close()
  }

  /** Parquet stat value -> the JVM value IcebergTypes.encode expects. */
  private def typed(v: Any, logical: LogicalTypeAnnotation): Any = v match {
    case b: Binary if logical.isInstanceOf[StringLogicalTypeAnnotation] =>
      b.toStringUsingUTF8
    case b: Binary => b.getBytes
    case i: java.lang.Integer => i.intValue() // covers date (days)
    case l: java.lang.Long =>
      logical match {
        case ts: TimestampLogicalTypeAnnotation => ts.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => l * 1000L
          case LogicalTypeAnnotation.TimeUnit.MICROS => l.longValue()
          case LogicalTypeAnnotation.TimeUnit.NANOS => l / 1000L
        }
        case _ => l.longValue()
      }
    case f: java.lang.Float => f.floatValue()
    case d: java.lang.Double => d.doubleValue()
    case other => other
  }

  private def ordering(t: DataType): Ordering[Any] = (t match {
    case IntegerType | DateType => Ordering.Int
    case LongType | TimestampType | TimestampNTZType => Ordering.Long
    case FloatType => Ordering.Float.TotalOrdering
    case DoubleType => Ordering.Double.TotalOrdering
    case _ => Ordering.String
  }).asInstanceOf[Ordering[Any]]
}
