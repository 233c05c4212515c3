package graft.table.iceberg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.table.{Meta, TableIO}
import org.apache.hadoop.fs.{Path => HPath}
import scala.jdk.CollectionConverters._

/** Read path over REAL Iceberg v2 tables: metadata.json + avro
  * manifest lists + avro manifests, any engine's output (reference
  * flow: iceberg-rust/src/table/manifest.rs:368
  * avro_value_to_manifest_entry; datafusion_iceberg's scans do the
  * same walk).
  *
  * Scan = metadata walk (driver, metadata-size IO) -> pruned parquet
  * file list -> Spark's vectorized parquet reader. Manifest bounds
  * decode into the engine's canonical stat strings, so the SAME
  * pruning semantics apply to foreign tables as to graft's own.
  */
class IcebergTable private (val location: String, val spark: SparkSession,
    pinned: Option[IcebergMetadata.IceMetadata] = None) {

  def meta: IcebergMetadata.IceMetadata =
    pinned.getOrElse(IcebergMetadata.load(location))

  // files written before a RENAME COLUMN resolve by FIELD ID in the
  // parquet reads below (same session flag GraftTable sets): the flag
  // only binds when a read's REQUESTED schema carries id metadata,
  // which readVisible attaches iff the table is id-resolvable
  spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  def schema: StructType = meta.schema.toSpark

  /** Whether the table's data-file footers actually carry field ids —
    * sniffed from ONE live file's parquet footer and cached per
    * location (metadata-scale IO, once per JVM). Tables exported from
    * id-less legacy sources BEFORE the NameBasedFilesProp marker
    * existed have no property; reading them with an id-carrying
    * requested schema would fail loudly, so the read path asks the
    * bytes. An empty table answers true (future writes stamp ids). */
  private[iceberg] def dataFilesCarryIds: Boolean =
    IcebergTable.footerIdCache.computeIfAbsent(location, _ => {
      val first = scala.util.Try(plannedFiles()).toOption
        .flatMap(_.headOption)
      first.forall { case (e, _, _) =>
        scala.util.Try {
          // session conf (cached by TableIO), not a bare Configuration:
          // carries fs impls / credentials and skips the ~ms XML parse
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              resolve(e.filePath), graft.table.TableIO.conf))
          try rd.getFooter.getFileMetaData.getSchema.getFields.asScala
            .exists(_.getId != null)
          finally rd.close()
        }.getOrElse(true) // unreadable footer: fail later, loudly
      }
    })

  /** Resolve columns by FIELD ID on this table's reads? The metadata
    * marker (add_files imports, legacy exports) wins; otherwise the
    * footer sniff decides. */
  private[graft] def fileIdResolution: Boolean =
    meta.idResolution && dataFilesCarryIds

  private def norm(s: String): String = s.replaceFirst("^[a-z]+:/+", "/")

  /** When the table was RENAMED through a catalog, the directory moved
    * but metadata still holds absolute paths under the old location.
    * If the recorded location differs from where the table actually
    * lives AND nothing exists at the recorded location anymore, remap
    * old-prefix paths to the actual root. (A REGISTERED table also has
    * location != root, but its recorded location still exists and owns
    * the data — no remap.) */
  private lazy val remapFrom: Option[String] = {
    val recorded = pinned.map(_.location)
      .getOrElse(scala.util.Try(meta.location).getOrElse(location))
    if (recorded.nonEmpty && norm(recorded) != norm(location) &&
        !TableIO.isDirectory(TableIO.path(recorded))) Some(norm(recorded))
    else None
  }

  /** Resolve a path stored in metadata (absolute URI or
    * location-relative), remapping across catalog renames. */
  def resolvePath(p: String): HPath = {
    val q = remapFrom match {
      case Some(old) if norm(p).startsWith(old) =>
        location + norm(p).stripPrefix(old)
      case _ => p
    }
    val u = new java.net.URI(q)
    if (u.getScheme != null || q.startsWith("/")) new HPath(q)
    else new HPath(location, q)
  }

  private def resolve(p: String): HPath = resolvePath(p)

  /** Live data-file entries at a snapshot, with decoded stats and the
    * data sequence number (per-entry, else inherited from the
    * manifest-list entry — Iceberg v2 sequence inheritance). */
  def plannedFiles(snapshotId: Option[Long] = None,
      filters: Seq[(String, String, String)] = Seq.empty)
      : Seq[(IcebergAvro.DataFileEntry, Map[String, Meta.ColStats], Long)] =
    planScan(snapshotId, filters)._1.map { case (e, stats, seq, _) => (e, stats, seq) }

  /** plannedFiles with each entry's partition spec id, plus the
    * snapshot's live data-file count: the added and existing files of
    * its data manifests, summed from the manifest list the planning
    * reads anyway (pruned manifests are counted, never opened). */
  def planScan(snapshotId: Option[Long],
      filters: Seq[(String, String, String)])
      : (Seq[(IcebergAvro.DataFileEntry, Map[String, Meta.ColStats], Long, Int)], Long) = {
    val m = meta
    val snap = snapshotId.flatMap(m.snapshot).orElse(m.currentSnapshot)
      .getOrElse(return (Seq.empty, 0L))
    val schemaById = m.schemas.find(_.schemaId == snap.schemaId)
      .getOrElse(m.schema)
    val manifests = IcebergAvro.readManifestList(resolve(snap.manifestList))
    val liveCount = manifests.filter(_.content == 0).map(mf =>
      mf.addedFilesCount.getOrElse(0).toLong + mf.existingFilesCount.getOrElse(0)).sum
    def manifestSpec(id: Int): Seq[IcebergMetadata.IcePartitionField] =
      m.specs.find(_.specId == id).map(_.fields).getOrElse(Seq.empty)
    // MANIFEST-level pruning first: a manifest whose field summaries
    // (manifest-list `partitions`, written by us and by foreign
    // engines) exclude every filter is skipped without reading its
    // entries — at scale, planning a one-partition query reads one
    // manifest, not all of them. No summaries -> read (sound).
    // partition pruning then resolves each entry through the spec its
    // MANIFEST was written under (partition_spec_id), so tables with
    // evolved specs prune every era of files correctly
    val entries = manifests.filter(_.content == 0)
      .filter(mf => mf.partitions.forall(sums =>
        filters.forall { case (c, op, v) =>
          manifestKeep(sums, manifestSpec(mf.specId), schemaById, c, op, v)
        }))
      .flatMap(mf =>
        IcebergAvro.readManifest(resolve(mf.path))
          .filter(e => e.status != 2 && e.content == 0)
          .map(e => (e, e.sequenceNumber.getOrElse(mf.sequenceNumber), mf.specId)))
    val withStats = entries.map { case (e, seq, specId) =>
      val stats = schemaById.fields.flatMap { f =>
        val lower = e.lowerBounds.get(f.id)
          .flatMap(b => IcebergTypes.decodeToCanonical(
            IcebergTypes.toSpark(f.tpe), b))
        val upper = e.upperBounds.get(f.id)
          .flatMap(b => IcebergTypes.decodeToCanonical(
            IcebergTypes.toSpark(f.tpe), b))
        (lower, upper) match {
          case (Some(lo), Some(hi)) =>
            Some(f.name -> Meta.ColStats(lo, hi,
              e.nullCounts.getOrElse(f.id, 0L)))
          case _ => None
        }
      }.toMap
      (e, stats, seq, specId)
    }
    def specById(id: Int): Seq[IcebergMetadata.IcePartitionField] =
      m.specs.find(_.specId == id).map(_.fields).getOrElse(Seq.empty)
    val planned = withStats.filter { case (e, stats, _, specId) =>
      filters.forall { case (c, op, value) =>
        val statsKeep = (stats.get(c), schemaById.fields.find(_.name == c)) match {
          case (Some(st), Some(f)) =>
            val cmp = comparator(IcebergTypes.toSpark(f.tpe))
            op match {
              case "=" => cmp(st.min, value) <= 0 && cmp(st.max, value) >= 0
              case ">" => cmp(st.max, value) > 0
              case ">=" => cmp(st.max, value) >= 0
              case "<" => cmp(st.min, value) < 0
              case "<=" => cmp(st.min, value) <= 0
              case _ => true
            }
          case _ => true // no stats -> keep (pruning must stay sound)
        }
        statsKeep && partitionKeep(e, specById(specId), schemaById, c, op, value)
      }
    }
    (planned, liveCount)
  }

  /** Transform-aware partition pruning: map the literal through each
    * spec field's transform and compare against the manifest's typed
    * partition value — equality prunes on any transform (bucket
    * included); range ops only on order-preserving ones. A file with
    * no partition value for the field is kept (soundness). */
  private def partitionKeep(e: IcebergAvro.DataFileEntry,
      spec: Seq[IcebergMetadata.IcePartitionField],
      schema: IcebergMetadata.IceSchema,
      c: String, op: String, value: String): Boolean = {
    spec.filter(pf => schema.fields.find(_.id == pf.sourceId).exists(_.name == c))
      .forall { pf =>
        val srcType = IcebergTypes.toSpark(
          schema.fields.find(_.id == pf.sourceId).get.tpe)
        (e.partition.get(pf.name), Transforms.applyLiteral(pf.transform, srcType, value)) match {
          case (Some(pv), Some(tv)) if pv != null =>
            def asLong(a: Any): Option[Long] = a match {
              case i: java.lang.Integer => Some(i.longValue())
              case l: java.lang.Long => Some(l.longValue())
              case s: String => s.toLongOption
              case _ => None
            }
            (asLong(pv), asLong(tv)) match {
              case (Some(p), Some(t)) => op match {
                case "=" => p == t
                case ">" if Transforms.monotonic(pf.transform) => p >= t
                case ">=" if Transforms.monotonic(pf.transform) => p >= t
                case "<" if Transforms.monotonic(pf.transform) => p <= t
                case "<=" if Transforms.monotonic(pf.transform) => p <= t
                case _ => true
              }
              case _ => op match {
                // non-numeric (string identity / truncate prefix):
                // applyLiteral computed the exact partition value, so
                // equality compares directly; ranges stay unpruned.
                // Decimals compare by VALUE ("1.50" == "1.5"), keeping
                // the file on any parse failure (pruning stays sound)
                case "=" if srcType.isInstanceOf[DecimalType] =>
                  scala.util.Try(new java.math.BigDecimal(pv.toString)
                    .compareTo(new java.math.BigDecimal(tv.toString)) == 0)
                    .getOrElse(true)
                case "=" => pv.toString == tv.toString
                case _ => true
              }
            }
          case _ => true
        }
      }
  }

  /** Decode a field-summary bound into the same JVM space the manifest
    * partition values (and Transforms.applyLiteral results) live in.
    * None = no sound comparison -> caller keeps the manifest. */
  private def decodePartBound(resT: DataType, bytes: Array[Byte]): Option[Any] = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    resT match {
      case IntegerType | DateType if bytes.length >= 4 => Some(b.getInt)
      case LongType | TimestampType | TimestampNTZType if bytes.length >= 8 =>
        Some(b.getLong)
      case StringType =>
        Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      case d: DecimalType => scala.util.Try(new java.math.BigDecimal(
        new java.math.BigInteger(bytes), d.scale)).toOption
      case _ => None
    }
  }

  /** Manifest-level twin of partitionKeep: compare the filter literal
    * (mapped through the spec field's transform) against the
    * manifest's [lower, upper] summary for that field. Equality prunes
    * on any transform (bucket included: the bucket value either falls
    * in the summary range or the manifest can't hold it); range ops
    * only on order-preserving transforms. Missing summaries, bounds,
    * or unmapped literals keep the manifest — pruning stays sound. */
  private def manifestKeep(sums: Seq[IcebergAvro.FieldSummary],
      spec: Seq[IcebergMetadata.IcePartitionField],
      schema: IcebergMetadata.IceSchema,
      c: String, op: String, value: String): Boolean = {
    spec.zipWithIndex
      .filter { case (pf, _) =>
        schema.fields.find(_.id == pf.sourceId).exists(_.name == c) }
      .forall { case (pf, i) =>
        val srcType = IcebergTypes.toSpark(
          schema.fields.find(_.id == pf.sourceId).get.tpe)
        val resT = Transforms.resultType(pf.transform, srcType)
        (sums.lift(i), Transforms.applyLiteral(pf.transform, srcType, value)) match {
          case (Some(fs), Some(tv)) =>
            (fs.lower.flatMap(decodePartBound(resT, _)),
              fs.upper.flatMap(decodePartBound(resT, _))) match {
              case (Some(lo), Some(hi)) =>
                def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
                  case (x: java.lang.Integer, y: java.lang.Integer) =>
                    Some(x.compareTo(y))
                  case (x: java.lang.Long, y: java.lang.Long) =>
                    Some(x.compareTo(y))
                  case (x: java.lang.Integer, y: java.lang.Long) =>
                    Some(java.lang.Long.compare(x.longValue(), y))
                  case (x: java.lang.Long, y: java.lang.Integer) =>
                    Some(java.lang.Long.compare(x, y.longValue()))
                  // strings: unsigned UTF-8 byte order (the order the
                  // writer used to take min/max)
                  case (x: String, y: String) =>
                    Some(java.util.Arrays.compareUnsigned(
                      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
                      y.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
                  case (x: java.math.BigDecimal, y: Any) => scala.util.Try(
                    x.compareTo(new java.math.BigDecimal(y.toString))).toOption
                  case _ => None
                }
                (cmp(lo, tv), cmp(hi, tv)) match {
                  case (Some(cl), Some(ch)) => op match {
                    case "=" => cl <= 0 && ch >= 0
                    case ">" | ">=" if Transforms.monotonic(pf.transform) =>
                      ch >= 0
                    case "<" | "<=" if Transforms.monotonic(pf.transform) =>
                      cl <= 0
                    case _ => true
                  }
                  case _ => true
                }
              case _ => true
            }
          case _ => true
        }
      }
  }

  private def comparator(t: DataType): (String, String) => Int = t match {
    case _: IntegerType | _: LongType | _: ShortType =>
      (a, b) => java.lang.Long.compare(a.toLong, b.toLong)
    case _: DoubleType | _: FloatType =>
      (a, b) => java.lang.Double.compare(a.toDouble, b.toDouble)
    // decimal stat strings compare by VALUE — lexicographic order
    // would make "9.5" > "10.2" and prune matching files
    case _: DecimalType =>
      (a, b) => new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case _ => (a, b) => a.compareTo(b)
  }

  /** Live delete-file entries (content 1 = positional, 2 = equality)
    * with their sequence numbers, from delete manifests. */
  def deleteEntries(snapshotId: Option[Long] = None)
      : Seq[(IcebergAvro.DataFileEntry, Long)] = {
    val m = meta
    val snap = snapshotId.flatMap(m.snapshot).orElse(m.currentSnapshot)
      .getOrElse(return Seq.empty)
    IcebergAvro.readManifestList(resolve(snap.manifestList))
      .filter(_.content == 1).flatMap { mf =>
        IcebergAvro.readManifest(resolve(mf.path))
          .filter(e => e.status != 2 && e.content != 0)
          .map(e => (e, e.sequenceNumber.getOrElse(mf.sequenceNumber)))
      }
  }

  /** Normalize URI forms (file:/ vs file:///) so position-delete
    * `file_path` values compare against `_metadata.file_path`. */
  private def normPath(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.regexp_replace(c, "^[a-z]+:/+", "/")

  def scan(snapshotId: Option[Long] = None,
      filters: Seq[(String, String, String)] = Seq.empty): DataFrame = {
    val m = meta
    val snap = snapshotId.flatMap(m.snapshot).orElse(m.currentSnapshot)
    // a CURRENT read uses the CURRENT schema (schema evolution commits
    // no snapshot, so the latest snapshot's pinned schema-id may
    // predate a rename/drop/promotion); TIME TRAVEL keeps the
    // snapshot's own schema — the shape the table had then
    val iceSchema =
      if (snapshotId.isEmpty) m.schema
      else snap.map(s => m.schemas.find(_.schemaId == s.schemaId)
        .getOrElse(m.schema)).getOrElse(m.schema)
    val files = plannedFiles(snapshotId, filters)
    readVisible(iceSchema, files.map { case (e, _, seq) => (e, seq) },
      deleteEntries(snapshotId))
  }

  /** The VISIBLE rows of `dataWithSeq` under `deletes` — the v2 read
    * path factored so scans AND the changelog share one
    * sequence-scoping implementation. With `keepPos` the output keeps
    * `__file`/`__pos` provenance columns (for position-delete joins).
    *
    * Sequence scoping (Iceberg v2): equality deletes apply to data
    * files with seq < theirs, positional with seq <= theirs. Files
    * sharing an applicable-delete set read together. */
  private[iceberg] def readVisible(iceSchema: IcebergMetadata.IceSchema,
      dataWithSeq: Seq[(IcebergAvro.DataFileEntry, Long)],
      deletes: Seq[(IcebergAvro.DataFileEntry, Long)],
      keepPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    // id-carrying requested schema -> parquet columns resolve by field
    // id (rename-safe, promotion-widening); name-based only for
    // exported-from-legacy tables whose footers predate ids
    val idRes = fileIdResolution
    // an equality delete may key on a column DROPPED from iceSchema's
    // era (legal once the delete is folded; history replays still see
    // the delete live at its own snapshots). Losing the key would
    // degenerate the anti-join and over-delete, so the READ schema
    // widens by the missing key fields (recovered by id from the
    // historical schemas) and the extra columns drop from the output.
    val m0 = meta // one load: missingEq + commitTs below share it
    val missingEq: Seq[IcebergMetadata.IceField] =
      deletes.filter(_._1.content == 2).flatMap(_._1.equalityIds).distinct
        .filterNot(id => iceSchema.fields.exists(_.id == id))
        .flatMap(id => m0.schemas.flatMap(_.fields).find(_.id == id))
    val readIce =
      if (missingEq.isEmpty) iceSchema
      else iceSchema.copy(fields = iceSchema.fields ++ missingEq)
    val schemaOf =
      if (idRes) readIce.toSparkWithIds else readIce.toSpark
    val outSchema = {
      val base = if (idRes) iceSchema.toSparkWithIds else iceSchema.toSpark
      if (!keepPos) base
      else org.apache.spark.sql.types.StructType(base.fields ++ Seq(
        StructField("__file", StringType), StructField("__pos", LongType)))
    }
    if (dataWithSeq.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    // id-resolved reads with nested columns route through the
    // id-preserving parquet format: SchemaPruning's rebuilt read
    // schema drops parquet.field.id, and the format re-stamps it, so
    // a pruned leaf under a renamed struct column resolves by id AND
    // the scan still reads only the pruned leaves
    // manifest-known (path, size) pairs: the scan plans directly from
    // manifest metadata — no re-listing (guide §6: manifest-carrying
    // formats avoid directory listing; re-statting files the manifest
    // just described cost a third of a 600-file partitioned scan)
    // fabricated statuses carry the latest commit's timestamp as the
    // modification time (an upper bound on when any live file became
    // visible) — per-file wall-clock mtime would need the re-stat this
    // path exists to avoid
    val commitTs = m0.currentSnapshot.map(_.timestampMs).getOrElse(0L)
    def readData(entries: Seq[IcebergAvro.DataFileEntry]): DataFrame =
      graft.table.IdRead.parquetKnown(spark, schemaOf,
        entries.map(e => (resolve(e.filePath).toString, e.fileSizeBytes)),
        mtimeMillis = commitTs)
    def unwiden(df: DataFrame): DataFrame =
      if (missingEq.isEmpty) df
      else df.select((iceSchema.fields.map(_.name) ++
        (if (keepPos) Seq("__file", "__pos") else Nil)).map(col).toIndexedSeq: _*)
    if (deletes.isEmpty && !keepPos)
      return readData(dataWithSeq.map(_._1))

    val classes = dataWithSeq.groupBy { case (_, seq) =>
      (deletes.filter { case (d, ds) => d.content == 2 && ds > seq }
        .map(_._1.filePath).sorted,
        deletes.filter { case (d, ds) => d.content == 1 && ds >= seq }
          .map(_._1.filePath).sorted)
    }
    classes.toSeq.map { case ((eqPaths, posPaths), group) =>
      val needPos = posPaths.nonEmpty || keepPos
      val raw = readData(group.map(_._1))
      val base =
        if (!needPos) raw
        else raw.withColumn("__file", col("_metadata.file_path"))
          .withColumn("__pos", col("_metadata.row_index"))
      val eqFiles = deletes.map(_._1).filter(d => eqPaths.contains(d.filePath))
      val afterEq = eqFiles.groupBy(_.equalityIds).foldLeft(base) {
        case (df, (eqIds, dfiles)) =>
          val eqFields = eqIds.flatMap(id => readIce.fields.find(_.id == id))
          require(eqFields.size == eqIds.size,
            s"equality ids ${eqIds.filterNot(id =>
              readIce.fields.exists(_.id == id))} resolve in no schema era")
          val eqCols = eqFields.map(_.name)
          // delete files written before a rename carry the OLD column
          // name (right id): an id-carrying explicit schema keeps the
          // key resolving, and widens pre-promotion key types exactly
          // manifest-known (path, size): no re-stat, no schema
          // inference job for the id-resolved read (the legacy
          // name-based branch keeps inference deliberately — it must
          // read the file's own pre-promotion types)
          val delDf =
            if (idRes) graft.table.IdRead.parquetKnown(spark,
                org.apache.spark.sql.types.StructType(eqFields.map(f =>
                  StructField(f.name, IcebergTypes.toSpark(f.tpe),
                    nullable = true,
                    new org.apache.spark.sql.types.MetadataBuilder()
                      .putLong(graft.table.Meta.FieldIdKey, f.id.toLong)
                      .build()))),
                dfiles.map(d => (resolve(d.filePath).toString, d.fileSizeBytes)),
                mtimeMillis = commitTs)
            else spark.read
              .parquet(dfiles.map(d => resolve(d.filePath).toString): _*)
              .select(eqCols.map(col): _*)
          // NULL-SAFE key equality: an equality-delete tuple with a
          // null key hides null-keyed rows (the executor key-set
          // probe's semantics, Vector equality) — a USING anti-join
          // would leave them visible and the two readers would
          // disagree
          df.join(delDf,
            eqCols.map(c => df(c) <=> delDf(c)).reduce(_ && _),
            "left_anti")
      }
      val result =
        if (posPaths.isEmpty) afterEq
        else {
          val posFiles = deletes.map(_._1).filter(d => posPaths.contains(d.filePath))
          // position-delete schema is fixed by the spec; manifest-known
          // sizes skip the re-stat and the inference job
          val delDf = graft.table.IdRead.parquetKnown(spark,
            org.apache.spark.sql.types.StructType(Seq(
              StructField("file_path", StringType),
              StructField("pos", LongType))),
            posFiles.map(d => (resolve(d.filePath).toString, d.fileSizeBytes)),
            mtimeMillis = commitTs)
          afterEq.join(delDf,
            normPath(afterEq("__file")) === normPath(delDf("file_path")) &&
              afterEq("__pos") === delDf("pos"),
            "left_anti")
        }
      if (needPos && !keepPos) result.drop("__file", "__pos") else result
    }.map(df => unwiden(df)).reduce(_ unionByName _)
  }

  /** Changelog over the real format — GraftTable.changesBetween parity
    * for ADOPTED tables: one row per changed row in (start, end] on
    * the main ancestry, tagged `_change_type` ('insert' | 'delete')
    * and `_commit_snapshot_id`. Because every real-format snapshot's
    * manifest list is self-contained, the per-commit delta is derived
    * STRUCTURALLY (live-set diff against the parent, new delete files
    * by path diff) rather than from operation strings — any writer's
    * commits changelog correctly. 'replace' snapshots (compaction /
    * delete-fold rewrites) are row-preserving for visible rows and
    * emit nothing. CoW commits emit net changes with the removed side
    * read PARENT-VISIBLE (rows earlier MoR deltas hid don't re-emit);
    * new delete files emit the rows they hide in files that stay
    * live, and trim the added side of a mixed commit. */
  def changesBetween(start: Option[Long],
      end: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val m = meta
    val endId = end.orElse(m.currentSnapshotId).getOrElse(
      throw new IllegalArgumentException("table has no snapshot"))
    var chain = List.empty[IcebergMetadata.IceSnapshot]
    var cur = m.snapshot(endId)
    while (cur.isDefined && !start.contains(cur.get.snapshotId)) {
      chain = cur.get :: chain
      cur = cur.get.parentId.flatMap(m.snapshot)
    }
    require(start.isEmpty || cur.exists(s => start.contains(s.snapshotId)),
      s"start snapshot ${start.getOrElse(-1L)} is not an ancestor of $endId")

    def liveAt(id: Option[Long]) = id match {
      case None => Seq.empty[(IcebergAvro.DataFileEntry, Long)]
      case some => plannedFiles(some).map { case (e, _, seq) => (e, seq) }
    }
    def tag(df: DataFrame, change: String, snap: Long): DataFrame =
      df.withColumn("_change_type", lit(change))
        .withColumn("_commit_snapshot_id", lit(snap))

    // the same rule as scan(): an open-ended changelog (end = None =
    // "up to now") binds the CURRENT schema — evolution since the
    // last snapshot is part of "now" (the graft dialect already did
    // this); an explicit end pins that snapshot's era schema
    val endSchema =
      if (end.isEmpty) m.schema
      else m.schemas.find(_.schemaId ==
        m.snapshot(endId).get.schemaId).getOrElse(m.schema)
    val parts = chain.flatMap { s =>
      if (s.operation == "replace") Seq.empty
      else {
        // an EXPIRED parent must refuse: plannedFiles falls back to
        // the current snapshot for unknown ids, which would silently
        // corrupt this commit's delta
        s.parentId.foreach(p => if (m.snapshot(p).isEmpty)
          throw new IllegalStateException(
            s"snapshot ${s.snapshotId}'s parent $p has been expired; " +
              "changelog range invalid"))
        val parentLive = liveAt(s.parentId)
        val sLive = liveAt(Some(s.snapshotId))
        val pPaths = parentLive.map(_._1.filePath).toSet
        val sPaths = sLive.map(_._1.filePath).toSet
        val added = sLive.filterNot { case (e, _) => pPaths.contains(e.filePath) }
        val removed = parentLive.filterNot { case (e, _) => sPaths.contains(e.filePath) }
        val parentDeletes = s.parentId.map(p => deleteEntries(Some(p)))
          .getOrElse(Seq.empty)
        val pDelPaths = parentDeletes.map(_._1.filePath).toSet
        val newDeletes = deleteEntries(Some(s.snapshotId))
          .filterNot { case (e, _) => pDelPaths.contains(e.filePath) }

        val addedVisible = readVisible(endSchema, added, newDeletes)
        val removedVisible = readVisible(endSchema, removed, parentDeletes)
        val cow =
          if (removed.isEmpty)
            Seq(tag(addedVisible, "insert", s.snapshotId))
              .filter(_ => added.nonEmpty)
          else Seq(
            tag(removedVisible.exceptAll(addedVisible), "delete", s.snapshotId),
            tag(addedVisible.exceptAll(removedVisible), "insert", s.snapshotId))
        val stayLive = parentLive.filter { case (e, _) => sPaths.contains(e.filePath) }
        val hidden = hiddenBy(endSchema, stayLive, parentDeletes, newDeletes)
        cow ++ hidden.map(tag(_, "delete", s.snapshotId))
      }
    }
    val empty = tag(readVisible(endSchema, Seq.empty, Seq.empty),
      "none", -1L).limit(0)
    // by NAME, not position: slices re-select under the end schema
    // but readers may order columns differently, so a positional
    // union could bind (and cast) columns into the wrong slots
    parts.foldLeft(empty)(_ unionByName _)
  }

  /** True iff the main lineage from the current snapshot back to
    * `since` is pure appends AND `since` is actually on it — the
    * incremental-refresh validity check, mirroring the graft dialect's
    * GraftTable.appendsOnlySince so materialized views fold adopted /
    * REST-served real-format sources incrementally too (reference:
    * datafusion_iceberg/src/materialized_view.rs refresh over source
    * snapshot lineage). An expired or off-lineage `since` returns
    * false — the caller must full-refresh rather than treat the whole
    * table as its own delta. */
  def appendsOnlySince(since: Option[Long]): Boolean = {
    val m = meta
    var cur = m.currentSnapshotId.flatMap(m.snapshot)
    var ok = true
    while (cur.isDefined && since != cur.map(_.snapshotId)) {
      if (cur.get.operation != "append") ok = false
      cur = cur.get.parentId.flatMap(m.snapshot)
    }
    ok && (since.isEmpty || cur.map(_.snapshotId) == since)
  }

  /** Scan only the files added after snapshot `since` (append delta) —
    * incremental-refresh IO proportional to new data, not table size
    * and not history depth: one manifest-LIST read at the head, then
    * only manifests whose sequence number postdates the anchor are
    * opened (carried list entries keep their original sequence, so an
    * N-snapshot history with a 1-append delta opens 1 manifest, not
    * N). Entry-level sequence filtering handles foreign writers that
    * merge old entries into new manifests (status=existing rows keep
    * their own sequence). No delete manifest is opened at all: under
    * appendsOnlySince no delete file landed since the anchor, and a
    * pre-anchor delete (seq <= anchor) cannot apply to the delta's
    * strictly-newer-sequence files. Sound ONLY under
    * appendsOnlySince. */
  def scanAppendedSince(since: Option[Long]): DataFrame = {
    val m = meta
    since match {
      case None =>
        // no anchor: the whole table is the delta (first refresh)
        readVisible(m.schema,
          plannedFiles(None).map { case (e, _, seq) => (e, seq) },
          deleteEntries(None))
      case Some(id) =>
        val anchorSeq = m.snapshot(id).map(_.sequenceNumber).getOrElse(
          throw new IllegalStateException(
            s"delta anchor $id is not in history (expired or " +
              "off-lineage); callers must gate on appendsOnlySince " +
              "and full-refresh instead"))
        val head = m.currentSnapshot.getOrElse(
          return readVisible(m.schema, Seq.empty, Seq.empty))
        val delta = IcebergAvro.readManifestList(resolve(head.manifestList))
          .filter(mf => mf.content == 0 && mf.sequenceNumber > anchorSeq)
          .flatMap(mf => IcebergAvro.readManifest(resolve(mf.path))
            .filter(e => e.status != 2 && e.content == 0)
            .map(e => (e, e.sequenceNumber.getOrElse(mf.sequenceNumber))))
          .filter { case (_, seq) => seq > anchorSeq }
        readVisible(m.schema, delta, Seq.empty)
    }
  }

  /** Rows of `stayLive` (parent-visible under `parentDeletes`) that a
    * commit's NEW delete files hide — the MoR delta's delete side.
    * Sequence rules bound applicability per delete file. */
  private def hiddenBy(iceSchema: IcebergMetadata.IceSchema,
      stayLive: Seq[(IcebergAvro.DataFileEntry, Long)],
      parentDeletes: Seq[(IcebergAvro.DataFileEntry, Long)],
      newDeletes: Seq[(IcebergAvro.DataFileEntry, Long)]): Seq[DataFrame] = {
    import org.apache.spark.sql.functions._
    if (newDeletes.isEmpty || stayLive.isEmpty) return Seq.empty
    val out = Seq.newBuilder[DataFrame]
    newDeletes.filter(_._1.content == 2)
      .groupBy { case (d, ds) => (d.equalityIds, ds) }
      .foreach { case ((eqIds, ds), dfiles) =>
        val applicable = stayLive.filter { case (_, seq) => ds > seq }
        if (applicable.nonEmpty) {
          // keys resolve against iceSchema by id; a key whose column
          // was DROPPED since (legal once the delete folded) recovers
          // its era field from the historical schemas — losing it
          // would degenerate the semi-join below into match-all
          val eqFields = eqIds.flatMap(id =>
            iceSchema.fields.find(_.id == id).orElse(
              meta.schemas.flatMap(_.fields).find(_.id == id)))
          require(eqFields.size == eqIds.size,
            s"equality ids ${eqIds.filterNot(id =>
              eqFields.exists(_.id == id))} resolve in no schema era")
          val missing = eqFields.filterNot(f =>
            iceSchema.fields.exists(_.id == f.id))
          val readIceW =
            if (missing.isEmpty) iceSchema
            else iceSchema.copy(fields = iceSchema.fields ++ missing)
          val eqCols = eqFields.map(_.name)
          // delete files committed before a rename carry the old key
          // label (right id): an id-carrying explicit schema keeps the
          // keys resolving under the changelog's labels — the same
          // rule as readVisible's delete application
          val keys = (if (fileIdResolution)
              graft.table.IdRead.parquetKnown(spark,
                org.apache.spark.sql.types.StructType(
                  eqFields.map(f => org.apache.spark.sql.types.StructField(
                    f.name, IcebergTypes.toSpark(f.tpe), nullable = true,
                    new org.apache.spark.sql.types.MetadataBuilder()
                      .putLong(graft.table.Meta.FieldIdKey, f.id.toLong)
                      .build()))),
                dfiles.map(d => (resolve(d._1.filePath).toString,
                  d._1.fileSizeBytes)))
            else spark.read
              .parquet(dfiles.map(d => resolve(d._1.filePath).toString): _*)
              .select(eqCols.map(col): _*)).distinct()
          // NULL-SAFE key match (<=>), the same rule readVisible's
          // delete application uses: a null-keyed delete tuple hides
          // null-keyed rows, so the changelog must report them as
          // deletes or it stops reconciling with the snapshot diff
          val live = readVisible(readIceW, applicable, parentDeletes)
          out += live.join(broadcast(keys),
              eqCols.map(c => live(c) <=> keys(c)).reduce(_ && _),
              "left_semi")
            .select(iceSchema.fields.map(f => col(f.name)).toIndexedSeq: _*)
        }
      }
    newDeletes.filter(_._1.content == 1)
      .groupBy(_._2)
      .foreach { case (ds, dfiles) =>
        val applicable = stayLive.filter { case (_, seq) => ds >= seq }
        if (applicable.nonEmpty) {
          val posDf = graft.table.IdRead.parquetKnown(spark,
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("file_path",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("pos",
                org.apache.spark.sql.types.LongType))),
            dfiles.map(d => (resolve(d._1.filePath).toString,
              d._1.fileSizeBytes)))
          val base = readVisible(iceSchema, applicable, parentDeletes,
            keepPos = true)
          out += base.join(broadcast(posDf),
            normPath(base("__file")) === normPath(posDf("file_path")) &&
              base("__pos") === posDf("pos"), "left_semi")
            .drop("__file", "__pos")
        }
      }
    out.result()
  }

  def timeTravel(snapshotId: Long): DataFrame = {
    // strict: an unknown/expired id must refuse — scan's internal
    // fallback would otherwise silently serve the CURRENT snapshot
    require(meta.snapshot(snapshotId).isDefined,
      s"no snapshot $snapshotId in table at $location (expired?)")
    scan(Some(snapshotId))
  }
}

object IcebergTable {
  /** Per-location cache for the footer-id sniff (dataFilesCarryIds):
    * once a table's files carry ids they keep carrying them (every
    * writer stamps them), and the add_files import path marks itself
    * with NameBasedFilesProp, which is checked FIRST and overrides
    * this cache. */
  private[iceberg] val footerIdCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  def load(spark: SparkSession, location: String): IcebergTable =
    new IcebergTable(location, spark)

  /** A table handle over metadata obtained elsewhere (e.g. from a
    * REST catalog response) — scans resolve data/manifest paths from
    * the metadata itself, no direct metadata-dir access needed. */
  def fromMetadata(spark: SparkSession,
      m: IcebergMetadata.IceMetadata): IcebergTable =
    new IcebergTable(m.location, spark, Some(m))

  /** Like fromMetadata, but anchored at the directory the table
    * ACTUALLY lives in (a catalog rename moves the directory without
    * rewriting recorded absolute paths — resolution remaps them). */
  def fromMetadataAt(spark: SparkSession, root: String,
      m: IcebergMetadata.IceMetadata): IcebergTable =
    new IcebergTable(root, spark, Some(m))

  def exists(location: String): Boolean =
    TableIO.exists(TableIO.path(location, "metadata"))
}
