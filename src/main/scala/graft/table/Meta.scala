package graft.table

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Table-metadata model for GraftTable (SURVEY.md §2.C) — the Iceberg
  * metadata tree re-expressed minimally: versioned metadata JSON files
  * holding schemas, a partition spec, snapshots with inline manifests
  * (per-file column stats), and named refs.
  *
  * Shapes follow the reference's spec crate (iceberg-rust-spec/src/
  * spec/table_metadata.rs, snapshot.rs, manifest.rs, partition.rs) but
  * the representation is deliberately simpler: manifests are inlined
  * in the snapshot (at 100 TB you would spill manifest groups to
  * separate avro/parquet files and prune manifest-first exactly like
  * the reference's manifest_list.rs; the pruning interface below is
  * already file-granular so that change is internal).
  */
object Meta {
  val mapper = new ObjectMapper()

  /** See TableMetadata.statsUnprunable. */
  val StatsUnprunableProp = "graft.stats-unprunable"

  /** Stable column identity (iceberg-rust-spec/src/spec/schema.rs
    * tracks columns by field id): ids ride in each StructField's
    * metadata under Spark's own `parquet.field.id` key, are written
    * into parquet footers (fieldId.write.enabled) and matched on read
    * (fieldId.read.enabled) — which is what makes RENAME COLUMN and
    * drop-then-re-add sound without any name tombstoning. */
  val FieldIdKey = "parquet.field.id"

  def fieldId(f: org.apache.spark.sql.types.StructField): Option[Int] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey).toInt)
    else None

  def hasFieldIds(schema: StructType): Boolean =
    schema.fields.nonEmpty && schema.fields.forall(fieldId(_).isDefined)

  /** Highest assigned field id across every schema version — new
    * columns allocate ABOVE it, so a retired id is never reused. */
  def maxFieldId(schemas: Iterable[StructType]): Int =
    schemas.flatMap(_.fields).flatMap(fieldId).maxOption.getOrElse(0)

  /** The schema to READ an imported (id-less) file with: each field
    * renamed to its import-time name from the file's name mapping
    * (fields added after import keep their live name and null-fill),
    * all field-id metadata stripped so resolution is by NAME — the
    * session-level fieldId.read flag only binds ids when the
    * requested schema carries them. Positions and types are
    * UNCHANGED, so rows read with this schema are layout-compatible
    * with the live schema. */
  def importReadSchema(schema: StructType,
      mapping: Map[String, String]): StructType = {
    def strip(t: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = strip(f.dataType),
          metadata = org.apache.spark.sql.types.Metadata.empty)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = strip(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = strip(m.keyType), valueType = strip(m.valueType))
      case other => other
    }
    StructType(schema.fields.map { f =>
      val name = fieldId(f).flatMap(id => mapping.get(id.toString))
        .getOrElse(f.name)
      f.copy(name = name, dataType = strip(f.dataType),
        metadata = org.apache.spark.sql.types.Metadata.empty)
    })
  }

  /** Drop every field-id annotation, at any nesting depth — the
    * REPLACE TABLE path must assign FRESH ids even when the query's
    * output schema carries ids inherited from a table read (a
    * projection propagates column metadata), or a replaced table's
    * new columns could silently reuse ids its history already
    * retired. */
  def stripFieldIds(schema: StructType): StructType = {
    def stripType(t: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = t match {
      case s: StructType => StructType(s.fields.map(stripField))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = stripType(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = stripType(m.keyType),
          valueType = stripType(m.valueType))
      case other => other
    }
    def stripField(f: org.apache.spark.sql.types.StructField)
        : org.apache.spark.sql.types.StructField = {
      val md =
        if (!f.metadata.contains(FieldIdKey)) f.metadata
        else {
          val b = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          b.remove(FieldIdKey)
          b.build()
        }
      f.copy(dataType = stripType(f.dataType), metadata = md)
    }
    StructType(schema.fields.map(stripField))
  }

  /** Assign fresh sequential ids to any field lacking one. */
  def withFieldIds(schema: StructType, firstId: Int): StructType = {
    var next = firstId
    StructType(schema.fields.map { f =>
      if (fieldId(f).isDefined) f
      else {
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(FieldIdKey, next.toLong).build()
        next += 1
        f.copy(metadata = md)
      }
    })
  }

  /** Column stats for one data file — the pruning unit
    * (reference: datafusion_iceberg/src/pruning_statistics.rs). Values
    * are stored as JSON strings and compared through the column type. */
  case class ColStats(min: String, max: String, nullCount: Long)

  case class DataFile(
      path: String,
      partitionValues: Map[String, String],
      recordCount: Long,
      fileSizeBytes: Long,
      stats: Map[String, ColStats],
      /** set only on equality-delete files: the key columns whose
        * values this file deletes (Iceberg v2 equality deletes) */
      equalityColumns: Seq[String] = Seq.empty,
      /** the key columns' FIELD IDS (Iceberg's equality_ids): the
        * durable identity of the keys — equalityColumns records the
        * labels at DELETE time, which a later rename (legal once the
        * delete is folded) leaves stale. Empty on metadata written
        * before the field existed (readers fall back to the names). */
      equalityIds: Seq[Int] = Seq.empty,
      /** data sequence number carried across rewrites (Iceberg v2:
        * equality deletes apply only to data files with a SMALLER
        * data sequence number — spec/snapshot.rs sequence ordering).
        * None = inherit the sequence of the committing snapshot. */
      dataSequence: Option[Long] = None,
      /** Iceberg v2 file content: 0 = data, 1 = position deletes
        * (rows of data-file path + row index), 2 = equality deletes.
        * Derived from equalityColumns for metadata written before the
        * field existed. */
      content: Int = 0,
      /** id of the partition spec this file was written under — after
        * spec evolution, files from different eras resolve their
        * partitionValues through their OWN spec (iceberg-rust-spec:
        * per-manifest partition-spec-id). */
      specId: Int = 0,
      /** set on files imported in place by add_files: field id (as a
        * string key) → the column NAME in the foreign parquet file.
        * The file has no field ids in its footer, so reads resolve it
        * by these import-time names (Iceberg's
        * schema.name-mapping.default, pinned per file) — later column
        * renames keep working because the mapping, not the live
        * schema, names the bytes. None = graft-written file with
        * footer ids. */
      nameMapping: Option[Map[String, String]] = None)

  /** Process-wide count of spilled-manifest file reads — the metadata
    * IO scan-metrics surface. Tests assert planning reads only the
    * manifests a scan's range/predicate actually touches. */
  val manifestReads = new java.util.concurrent.atomic.AtomicLong(0L)

  case class Snapshot(
      snapshotId: Long,
      parentId: Option[Long],
      sequenceNumber: Long,
      timestampMs: Long,
      operation: String, // append | rewrite | replace | overwrite | delete
      addedFiles: Seq[DataFile],
      removedPaths: Seq[String],
      schemaId: Int,
      /** lineage: source table → snapshot id at MV refresh time
        * (reference: rewrite_with_lineage, table/transaction/mod.rs:97) */
      lineage: Map[String, Long],
      summary: Map[String, String],
      /** large manifests spill out of the metadata JSON (see
        * spillManifests); when set, addedFiles lives in this file */
      manifestPath: Option[String] = None,
      /** aggregate column bounds over a SPILLED manifest group,
        * computed at spill time: min-of-mins / max-of-maxs / summed
        * nulls per column, only for columns where EVERY file in the
        * group carries usable stats. Lets planning skip the group —
        * and the IO to load its entries — when a predicate cannot
        * match (reference: manifest_list.rs partition summaries serve
        * the same manifest-first prune). */
      manifestStats: Map[String, ColStats] = Map.empty,
      /** merge-on-read: equality-delete files added/removed by this
        * snapshot (applied at scan via anti-join until a rewrite
        * folds them in) */
      addedDeleteFiles: Seq[DataFile] = Seq.empty,
      removedDeletePaths: Seq[String] = Seq.empty,
      /** multi-group spill (the Iceberg manifest-LIST tier): a huge
        * snapshot (expire-squashed base, big batch append) splits into
        * MANY manifest files, each with its own aggregate bounds —
        * planning prunes and loads group by group, so metadata IO
        * follows the matching slice, not the snapshot's full file
        * count. Mutually exclusive with manifestPath. */
      manifestGroups: Seq[ManifestGroup] = Seq.empty) {

    /** Added files, resolving spilled manifests lazily. */
    lazy val files: Seq[DataFile] =
      if (manifestGroups.nonEmpty) manifestGroups.flatMap(readGroup)
      else manifestPath match {
        case None => addedFiles
        case Some(p) =>
          manifestReads.incrementAndGet()
          mapper.readTree(TableIO.readString(TableIO.path(p)))
            .elements().asScala.map(readFile).toSeq
      }

    /** Load ONE spilled group's entries (manifest-granular planning
      * reads only the groups whose bounds admit the predicate). */
    def readGroup(g: ManifestGroup): Seq[DataFile] =  {
      manifestReads.incrementAndGet()
      mapper.readTree(TableIO.readString(TableIO.path(g.path)))
        .elements().asScala.map(readFile).toSeq
    }

    /** Live files as of this snapshot, given the parent chain's state. */
    def apply(parentLive: Seq[DataFile]): Seq[DataFile] = {
      val removed = removedPaths.toSet
      parentLive.filterNot(f => removed.contains(f.path)) ++ files
    }
  }

  /** One spilled manifest file + its aggregate column bounds. */
  case class ManifestGroup(path: String, stats: Map[String, ColStats])

  case class PartitionField(sourceColumn: String, transform: String, name: String)

  /** Per-ref retention policy (iceberg-rust-spec snapshot.rs
    * SnapshotRetention): `maxRefAgeMs` expires the REF itself (never
    * main); for branches, `minSnapshotsToKeep` / `maxSnapshotAgeMs`
    * govern how much ancestry expireSnapshots preserves. A "tag" pins
    * a single snapshot (ancestry squashes into it). */
  case class RefRetention(
      refType: String = "branch", // branch | tag
      maxRefAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None)

  case class TableMetadata(
      location: String,
      formatVersion: Int,
      schemas: Map[Int, StructType],
      currentSchemaId: Int,
      /** partition-spec list, id -> fields (iceberg-rust-spec
        * table_metadata.rs `partition_specs` + `default_spec_id`):
        * a live table can re-partition (setDefaultSpec) without
        * rewriting data — new files route through the new default,
        * old files keep resolving through their own spec id. */
      specs: Map[Int, Seq[PartitionField]],
      defaultSpecId: Int,
      properties: Map[String, String],
      snapshots: Seq[Snapshot],
      currentSnapshotId: Option[Long],
      refs: Map[String, Long],
      lastVersion: Int,
      /** write clustering: range-partition + sort columns
        * (reference: iceberg-rust-spec/src/spec/sort.rs) */
      sortOrder: Seq[String] = Seq.empty,
      /** retention policies for refs that declared one */
      refRetention: Map[String, RefRetention] = Map.empty) {

    def schema: StructType = schemas(currentSchemaId)

    /** Columns whose manifest stats must NOT drive pruning or
      * metadata-only aggregates — a float->double promotion makes the
      * float-era stat strings imprecise under the double comparator. */
    def statsUnprunable: Set[String] =
      properties.get(Meta.StatsUnprunableProp)
        .map(_.split(",").toSet).getOrElse(Set.empty)

    /** The DEFAULT spec — what new writes partition by. */
    def spec: Seq[PartitionField] = specs.getOrElse(defaultSpecId, Seq.empty)

    /** The spec a given file was written under. */
    def specOf(f: DataFile): Seq[PartitionField] =
      specs.getOrElse(f.specId, Seq.empty)

    def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.snapshotId == id)

    private def chainTo(snapshotId: Option[Long]): Seq[Snapshot] =
      snapshotId.orElse(currentSnapshotId) match {
        case None => Seq.empty
        case Some(id) =>
          val chain = scala.collection.mutable.ArrayBuffer[Snapshot]()
          var cur = snapshot(id)
          while (cur.isDefined) {
            chain += cur.get
            cur = cur.get.parentId.flatMap(snapshot)
          }
          chain.reverse.toSeq
      }

    /** Snapshots on the lineage ending at `snapshotId` (or current),
      * oldest first — branch commits and rolled-back orphans share the
      * snapshots list but are NOT on this chain. */
    def chainSnapshots(snapshotId: Option[Long]): Seq[Snapshot] =
      chainTo(snapshotId)

    /** Snapshots in (start, end] on end's lineage, oldest first — the
      * incremental-consumer range. `start` must be an ancestor of
      * `end`: if it was expired away (or sits on another branch), an
      * incremental consumer would re-emit or lose rows, so this throws
      * rather than guessing. */
    def rangeSnapshots(start: Option[Long], end: Option[Long]): Seq[Snapshot] = {
      val chain = chainTo(end)
      start match {
        case None => chain
        case Some(s) =>
          val idx = chain.indexWhere(_.snapshotId == s)
          require(idx >= 0,
            s"snapshot $s is not an ancestor of " +
              s"${end.orElse(currentSnapshotId).getOrElse(-1L)} " +
              "(expired, or on another branch)")
          chain.drop(idx + 1)
      }
    }

    /** Data files appended in (start, end]: the batch-incremental read
      * set, IO proportional to the delta. Appends contribute their
      * added data files (original files, even if a later in-range
      * compaction rewrote them — their rows are consumed exactly
      * once); row-preserving rewrites contribute nothing; any
      * row-changing operation in range throws, because an
      * appends-only consumer would silently lose or duplicate rows.
      * Each file carries its commit's sequence number so pre-range
      * merge-on-read deletes still scope correctly. */
    def appendedFilesBetween(start: Option[Long],
        end: Option[Long]): Seq[DataFile] =
      rangeSnapshots(start, end).flatMap { s =>
        if (s.summary.get("squashed").contains("true"))
          throw new IllegalStateException(
            s"snapshot ${s.snapshotId} is an expire-squashed base " +
              "carrying the full live set; incremental range invalid")
        s.operation match {
          case "append" => s.files.filter(_.content == 0)
            .map(f => f.copy(dataSequence =
              f.dataSequence.orElse(Some(s.sequenceNumber))))
          case "rewrite" => Seq.empty
          case other => throw new IllegalStateException(
            s"incremental read requires append-only history; " +
              s"snapshot ${s.snapshotId} is '$other'")
        }
      }

    /** Live file set at a snapshot, replaying the append/remove chain. */
    def liveFiles(snapshotId: Option[Long]): Seq[DataFile] =
      chainTo(snapshotId).foldLeft(Seq.empty[DataFile])((live, s) => s(live))

    /** Like liveFiles, but a snapshot whose spilled manifest group is
      * rejected by `keepGroup` contributes no files — and its manifest
      * file is never read (manifest-first pruning). Later snapshots'
      * removals still apply to files already accumulated. Only sound
      * when `keepGroup` is a proof that no file in the group can
      * match the scan's predicate. */
    def liveFilesPruned(snapshotId: Option[Long],
        keepGroup: Map[String, ColStats] => Boolean): Seq[DataFile] =
      chainTo(snapshotId).foldLeft(Seq.empty[DataFile]) { (live, s) =>
        val removed = s.removedPaths.toSet
        val kept = live.filterNot(f => removed.contains(f.path))
        if (s.manifestGroups.nonEmpty)
          // group-granular: only matching groups are even READ
          kept ++ s.manifestGroups.filter(g => keepGroup(g.stats))
            .flatMap(s.readGroup)
        else if (s.manifestPath.isEmpty || keepGroup(s.manifestStats))
          kept ++ s.files
        else kept
      }

    /** Live equality-delete files at a snapshot (merge-on-read). */
    def liveDeleteFiles(snapshotId: Option[Long]): Seq[DataFile] =
      chainTo(snapshotId).foldLeft(Seq.empty[DataFile]) { (live, s) =>
        val removed = s.removedDeletePaths.toSet
        live.filterNot(f => removed.contains(f.path)) ++ s.addedDeleteFiles
      }

    /** Live data files with their data sequence numbers (the snapshot
      * that added each file, unless a rewrite preserved an explicit
      * dataSequence — Iceberg v2 sequence inheritance). */
    def liveFilesWithSeq(snapshotId: Option[Long]): Seq[(DataFile, Long)] =
      chainTo(snapshotId).foldLeft(Seq.empty[(DataFile, Long)]) { (live, s) =>
        val removed = s.removedPaths.toSet
        live.filterNot { case (f, _) => removed.contains(f.path) } ++
          s.files.map(f => (f, f.dataSequence.getOrElse(s.sequenceNumber)))
      }

    /** Live equality-delete files with their sequence numbers. A delete
      * applies only to data files with a strictly smaller sequence. */
    def liveDeleteFilesWithSeq(snapshotId: Option[Long]): Seq[(DataFile, Long)] =
      chainTo(snapshotId).foldLeft(Seq.empty[(DataFile, Long)]) { (live, s) =>
        val removed = s.removedDeletePaths.toSet
        live.filterNot { case (f, _) => removed.contains(f.path) } ++
          s.addedDeleteFiles.map(f => (f, f.dataSequence.getOrElse(s.sequenceNumber)))
      }
  }

  // ---- JSON writing ---------------------------------------------------

  private def statsNode(stats: Map[String, ColStats]): ObjectNode = {
    val n = mapper.createObjectNode()
    stats.foreach { case (c, st) =>
      val sn = n.putObject(c)
      sn.put("min", st.min); sn.put("max", st.max); sn.put("nulls", st.nullCount)
    }
    n
  }

  private def fileNode(f: DataFile): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("path", f.path)
    val pv = n.putObject("partition")
    f.partitionValues.foreach { case (k, v) => pv.put(k, v) }
    n.put("records", f.recordCount)
    n.put("bytes", f.fileSizeBytes)
    n.set("stats", statsNode(f.stats))
    if (f.equalityColumns.nonEmpty) {
      val eq = n.putArray("equality_columns")
      f.equalityColumns.foreach(eq.add)
    }
    if (f.equalityIds.nonEmpty) {
      val eqi = n.putArray("equality_ids")
      f.equalityIds.foreach(eqi.add)
    }
    f.dataSequence.foreach(n.put("sequence", _))
    if (f.content != 0) n.put("content", f.content)
    if (f.specId != 0) n.put("spec_id", f.specId)
    f.nameMapping.foreach { mp =>
      val nm = n.putObject("name_mapping")
      mp.toSeq.sortBy(_._1).foreach { case (k, v) => nm.put(k, v) }
    }
    n
  }

  def toJson(m: TableMetadata): String = {
    val root = mapper.createObjectNode()
    root.put("location", m.location)
    root.put("format_version", m.formatVersion)
    val schemas = root.putObject("schemas")
    m.schemas.foreach { case (id, st) => schemas.put(id.toString, st.json) }
    root.put("current_schema_id", m.currentSchemaId)
    val specsNode = root.putObject("partition_specs")
    m.specs.foreach { case (id, fields) =>
      val arr = specsNode.putArray(id.toString)
      fields.foreach { pf =>
        val n = arr.addObject()
        n.put("source", pf.sourceColumn); n.put("transform", pf.transform)
        n.put("name", pf.name)
      }
    }
    root.put("default_spec_id", m.defaultSpecId)
    val props = root.putObject("properties")
    m.properties.foreach { case (k, v) => props.put(k, v) }
    val snaps = root.putArray("snapshots")
    m.snapshots.foreach { s =>
      val n = snaps.addObject()
      n.put("snapshot_id", s.snapshotId)
      s.parentId.foreach(p => n.put("parent_id", p))
      n.put("sequence_number", s.sequenceNumber)
      n.put("timestamp_ms", s.timestampMs)
      n.put("operation", s.operation)
      val af = n.putArray("added_files")
      s.addedFiles.foreach(f => af.add(fileNode(f)))
      val rp = n.putArray("removed_paths")
      s.removedPaths.foreach(rp.add)
      n.put("schema_id", s.schemaId)
      s.manifestPath.foreach(p => n.put("manifest_path", p))
      if (s.manifestStats.nonEmpty)
        n.set[ObjectNode]("manifest_stats", statsNode(s.manifestStats))
      if (s.manifestGroups.nonEmpty) {
        val mg = n.putArray("manifest_groups")
        s.manifestGroups.foreach { g =>
          val gn = mg.addObject()
          gn.put("path", g.path)
          gn.set[ObjectNode]("stats", statsNode(g.stats))
        }
      }
      if (s.addedDeleteFiles.nonEmpty) {
        val adf = n.putArray("added_delete_files")
        s.addedDeleteFiles.foreach(f => adf.add(fileNode(f)))
      }
      if (s.removedDeletePaths.nonEmpty) {
        val rdp = n.putArray("removed_delete_paths")
        s.removedDeletePaths.foreach(rdp.add)
      }
      val ln = n.putObject("lineage")
      s.lineage.foreach { case (k, v) => ln.put(k, v) }
      val sm = n.putObject("summary")
      s.summary.foreach { case (k, v) => sm.put(k, v) }
    }
    m.currentSnapshotId.foreach(id => root.put("current_snapshot_id", id))
    val so = root.putArray("sort_order")
    m.sortOrder.foreach(so.add)
    val refs = root.putObject("refs")
    m.refs.foreach { case (k, v) => refs.put(k, v) }
    if (m.refRetention.nonEmpty) {
      val rr = root.putObject("ref_retention")
      m.refRetention.foreach { case (name, r) =>
        val n = rr.putObject(name)
        n.put("type", r.refType)
        r.maxRefAgeMs.foreach(n.put("max_ref_age_ms", _))
        r.minSnapshotsToKeep.foreach(n.put("min_snapshots_to_keep", _))
        r.maxSnapshotAgeMs.foreach(n.put("max_snapshot_age_ms", _))
      }
    }
    root.put("last_version", m.lastVersion)
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  // ---- JSON reading ---------------------------------------------------

  private def readStats(n: JsonNode): Map[String, ColStats] =
    n.properties().asScala.map { e =>
      e.getKey -> ColStats(e.getValue.get("min").asText(),
        e.getValue.get("max").asText(), e.getValue.get("nulls").asLong())
    }.toMap

  private def readFile(n: JsonNode): DataFile = DataFile(
    path = n.get("path").asText(),
    partitionValues = n.get("partition").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap,
    recordCount = n.get("records").asLong(),
    fileSizeBytes = n.get("bytes").asLong(),
    stats = readStats(n.get("stats")),
    equalityColumns = Option(n.get("equality_columns")).map(
      _.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty),
    equalityIds = Option(n.get("equality_ids")).map(
      _.elements().asScala.map(_.asInt()).toSeq).getOrElse(Seq.empty),
    dataSequence = Option(n.get("sequence")).map(_.asLong()),
    content = Option(n.get("content")).map(_.asInt()).getOrElse {
      if (Option(n.get("equality_columns")).exists(_.size() > 0)) 2 else 0
    },
    specId = Option(n.get("spec_id")).map(_.asInt()).getOrElse(0),
    nameMapping = Option(n.get("name_mapping")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap))

  def fromJson(json: String): TableMetadata = fromTree(mapper.readTree(json))

  def fromTree(root: JsonNode): TableMetadata = {
    val schemas = root.get("schemas").properties().asScala.map { e =>
      e.getKey.toInt -> org.apache.spark.sql.types.DataType
        .fromJson(e.getValue.asText()).asInstanceOf[StructType]
    }.toMap
    def readSpecFields(n: JsonNode): Seq[PartitionField] =
      n.elements().asScala.map { f =>
        PartitionField(f.get("source").asText(), f.get("transform").asText(),
          f.get("name").asText())
      }.toSeq
    // new form: partition_specs map + default_spec_id; legacy form
    // (pre-evolution metadata): a single partition_spec array = spec 0
    val specs = Option(root.get("partition_specs")) match {
      case Some(node) => node.properties().asScala
        .map(e => e.getKey.toInt -> readSpecFields(e.getValue)).toMap
      case None => Map(0 -> Option(root.get("partition_spec"))
        .map(readSpecFields).getOrElse(Seq.empty))
    }
    val defaultSpecId =
      Option(root.get("default_spec_id")).map(_.asInt()).getOrElse(0)
    val snapshots = root.get("snapshots").elements().asScala.map { n =>
      Snapshot(
        snapshotId = n.get("snapshot_id").asLong(),
        parentId = Option(n.get("parent_id")).map(_.asLong()),
        sequenceNumber = n.get("sequence_number").asLong(),
        timestampMs = n.get("timestamp_ms").asLong(),
        operation = n.get("operation").asText(),
        addedFiles = n.get("added_files").elements().asScala.map(readFile).toSeq,
        removedPaths = n.get("removed_paths").elements().asScala.map(_.asText()).toSeq,
        schemaId = n.get("schema_id").asInt(),
        lineage = n.get("lineage").properties().asScala
          .map(e => e.getKey -> e.getValue.asLong()).toMap,
        summary = n.get("summary").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap,
        manifestPath = Option(n.get("manifest_path")).map(_.asText()),
        manifestStats = Option(n.get("manifest_stats")).map(readStats)
          .getOrElse(Map.empty),
        addedDeleteFiles = Option(n.get("added_delete_files")).map(
          _.elements().asScala.map(readFile).toSeq).getOrElse(Seq.empty),
        removedDeletePaths = Option(n.get("removed_delete_paths")).map(
          _.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty),
        manifestGroups = Option(n.get("manifest_groups")).map(
          _.elements().asScala.map(gn => ManifestGroup(
            gn.get("path").asText(), readStats(gn.get("stats")))).toSeq)
          .getOrElse(Seq.empty))
    }.toSeq
    TableMetadata(
      location = root.get("location").asText(),
      formatVersion = root.get("format_version").asInt(),
      schemas = schemas,
      currentSchemaId = root.get("current_schema_id").asInt(),
      specs = specs,
      defaultSpecId = defaultSpecId,
      properties = root.get("properties").properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap,
      snapshots = snapshots,
      currentSnapshotId = Option(root.get("current_snapshot_id")).map(_.asLong()),
      refs = root.get("refs").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap,
      lastVersion = root.get("last_version").asInt(),
      sortOrder = Option(root.get("sort_order")).map(
        _.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty),
      refRetention = Option(root.get("ref_retention")).map(
        _.properties().asScala.map { e =>
          val n = e.getValue
          e.getKey -> RefRetention(
            refType = Option(n.get("type")).map(_.asText()).getOrElse("branch"),
            maxRefAgeMs = Option(n.get("max_ref_age_ms")).map(_.asLong()),
            minSnapshotsToKeep =
              Option(n.get("min_snapshots_to_keep")).map(_.asInt()),
            maxSnapshotAgeMs = Option(n.get("max_snapshot_age_ms")).map(_.asLong()))
        }.toMap).getOrElse(Map.empty))
  }

  // ---- versioned store (file "catalog", reference: iceberg-file-catalog) --

  def metadataDir(root: String): org.apache.hadoop.fs.Path =
    TableIO.path(root, "metadata")

  /** Thrown when another writer committed the same version first —
    * callers (GraftTable.commit) reload and retry (optimistic
    * concurrency, like the reference catalogs' CAS update). */
  class CommitConflict(v: Int)
    extends RuntimeException(s"metadata version $v already committed")

  /** Manifests above this size spill to a side file so the metadata
    * JSON stays small no matter how many data files accumulate
    * (reference: manifest_list.rs keeps manifests out of
    * table_metadata for the same reason). */
  private val InlineManifestLimit = 64

  /** Type-aware comparison over the string-encoded stat values (dates
    * and timestamps serialize to ISO strings, where lexicographic
    * order is value order). */
  def comparator(t: org.apache.spark.sql.types.DataType): (String, String) => Int = t match {
    case _: org.apache.spark.sql.types.IntegerType |
         _: org.apache.spark.sql.types.LongType |
         _: org.apache.spark.sql.types.ShortType =>
      (a, b) => java.lang.Long.compare(a.toLong, b.toLong)
    case _: org.apache.spark.sql.types.DoubleType |
         _: org.apache.spark.sql.types.FloatType =>
      (a, b) => java.lang.Double.compare(a.toDouble, b.toDouble)
    // decimal stat strings compare by VALUE — lexicographic order
    // would make "9.5" > "10.2" and prune files containing matches
    // (mirrors IcebergTable.comparator)
    case _: org.apache.spark.sql.types.DecimalType =>
      (a, b) => new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case _ => (a, b) => a.compareTo(b)
  }

  /** Aggregate bounds over a group's files: a column participates only
    * if every file has usable stats for it — a single stat-less file
    * would make the group bound unsound. */
  private def groupStats(files: Seq[DataFile],
      schema: StructType): Map[String, ColStats] =
    schema.fields.flatMap { field =>
      val per = files.map(_.stats.get(field.name))
      if (per.exists(st => st.isEmpty || st.get.min.isEmpty || st.get.max.isEmpty)) None
      else {
        val cmp = comparator(field.dataType)
        val sts = per.map(_.get)
        Some(field.name -> ColStats(
          sts.map(_.min).reduce((a, b) => if (cmp(a, b) <= 0) a else b),
          sts.map(_.max).reduce((a, b) => if (cmp(a, b) >= 0) a else b),
          sts.map(_.nullCount).sum))
      }
    }.toMap

  /** Order files so consecutive chunks get TIGHT aggregate bounds:
    * by partition value string, then by the min stat of the leading
    * sort-order column (falling back to the first stats-bearing
    * schema column), compared through the column's type. */
  private def spillSortKey(m: TableMetadata, schemaId: Int)
      : (DataFile => (String, String), Ordering[(String, String)]) = {
    val schema = m.schemas.getOrElse(schemaId, m.schema)
    val candidate = (m.sortOrder.filter(e =>
        !e.contains("(") && !e.contains(" ")) ++ schema.fields.map(_.name))
      .find(c => schema.fields.exists(_.name == c))
    val cmp = candidate.flatMap(c => schema.fields.find(_.name == c))
      .map(f => comparator(f.dataType))
      .getOrElse((a: String, b: String) => a.compareTo(b))
    val key = (f: DataFile) => (
      f.partitionValues.toSeq.sorted.map(kv => s"${kv._1}=${kv._2}")
        .mkString("/"),
      candidate.flatMap(c => f.stats.get(c)).map(_.min).getOrElse(""))
    val ord: Ordering[(String, String)] = new Ordering[(String, String)] {
      def compare(a: (String, String), b: (String, String)): Int = {
        val p = a._1.compareTo(b._1)
        if (p != 0) p
        else scala.util.Try(cmp(a._2, b._2)).getOrElse(a._2.compareTo(b._2))
      }
    }
    (key, ord)
  }

  private def spillManifests(root: String, m: TableMetadata): TableMetadata = {
    val dir = new org.apache.hadoop.fs.Path(metadataDir(root), "manifests")
    val limit = m.properties.get("manifest.inline-limit").map(_.toInt)
      .getOrElse(InlineManifestLimit)
    val snaps = m.snapshots.map { s =>
      if (s.addedFiles.size <= limit || s.manifestPath.isDefined ||
          s.manifestGroups.nonEmpty) s
      else {
        TableIO.mkdirs(dir)
        val schema = m.schemas.getOrElse(s.schemaId, m.schema)
        val (key, ord) = spillSortKey(m, s.schemaId)
        val sorted = s.addedFiles.sortBy(key)(ord)
        // limit 0 means "always spill" — group size still needs ≥1
        val groups = sorted.grouped(math.max(limit, 1)).zipWithIndex.map {
          case (chunk, i) =>
            val p = new org.apache.hadoop.fs.Path(dir,
              s"snap-${s.snapshotId}-g$i.json")
            val arr = mapper.createArrayNode()
            chunk.foreach(f => arr.add(fileNode(f)))
            TableIO.writeString(p, mapper.writeValueAsString(arr))
            ManifestGroup(p.toString, groupStats(chunk, schema))
        }.toSeq
        s.copy(addedFiles = Seq.empty, manifestGroups = groups)
      }
    }
    m.copy(snapshots = snaps)
  }

  def write(root: String, m: TableMetadata): TableMetadata = {
    val next = spillManifests(root, m).copy(lastVersion = m.lastVersion + 1)
    val dir = metadataDir(root)
    TableIO.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".v${next.lastVersion}-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    TableIO.writeString(tmp, toJson(next))
    // rename-without-replace is the commit point: exactly one writer
    // can create vN, the loser gets CommitConflict and retries
    if (!TableIO.renameNoReplace(tmp,
        new org.apache.hadoop.fs.Path(dir, s"v${next.lastVersion}.metadata.json")))
      throw new CommitConflict(next.lastVersion)
    // the hint is advisory (readers fall back to a dir listing), but
    // write it via temp+rename so a concurrent reader never sees a
    // truncated half-write. A RACING commit's hint rename may collide
    // with ours — ignore it: the version file above already committed,
    // and readers take max(hint, listing), so a lost hint update must
    // not fail an otherwise-landed commit
    val hintTmp = new org.apache.hadoop.fs.Path(dir,
      s".hint-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    try {
      TableIO.writeString(hintTmp, next.lastVersion.toString)
      TableIO.renameOverwrite(hintTmp,
        new org.apache.hadoop.fs.Path(dir, "version-hint.text"))
    } catch {
      case _: java.io.IOException => TableIO.delete(hintTmp)
    }
    next
  }

  def load(root: String): TableMetadata = {
    val dir = metadataDir(root)
    val v = currentVersion(dir).getOrElse(
      throw new IllegalStateException(s"no metadata versions under $dir"))
    fromJson(TableIO.readString(
      new org.apache.hadoop.fs.Path(dir, s"v$v.metadata.json")))
  }

  private val VersionFile = """v(\d+)\.metadata\.json""".r

  /** Current metadata version. The hint file is advisory and can lag
    * (two racing committers write it out of order), so take the max of
    * the hint and the versions actually present — Iceberg's Hadoop
    * tables recover exactly this way. */
  private def currentVersion(dir: org.apache.hadoop.fs.Path): Option[Int] = {
    val hinted = scala.util.Try(TableIO.readString(
      new org.apache.hadoop.fs.Path(dir, "version-hint.text")).trim.toInt).toOption
    val listed = scala.util.Try {
      TableIO.listFilesRecursive(dir).flatMap {
        case (p, _, _) => p.getName match {
          case VersionFile(n) => Some(n.toInt)
          case _ => None
        }
      }.maxOption
    }.toOption.flatten
    (hinted.toSeq ++ listed.toSeq).maxOption
  }

  def exists(root: String): Boolean = {
    val dir = metadataDir(root)
    TableIO.exists(new org.apache.hadoop.fs.Path(dir, "version-hint.text")) ||
      (TableIO.exists(dir) && currentVersion(dir).isDefined)
  }

  /** The current metadata file under `root`, parsed to a JSON tree;
    * None when no metadata version exists. Both dialects share the
    * metadata/vN.metadata.json + version-hint convention, so this one
    * read serves either parser. */
  def currentTree(root: String): Option[JsonNode] = {
    val dir = metadataDir(root)
    currentVersion(dir).map(v => mapper.readTree(TableIO.readString(
      new org.apache.hadoop.fs.Path(dir, s"v$v.metadata.json"))))
  }

  /** True for graft's snake_case metadata, false for the spec's
    * kebab-case real format. Existence cannot tell them apart, and a
    * full parse attempt must not either: corrupt GRAFT metadata has to
    * surface its own parse error, not silently reroute the table to the
    * real-format reader. Structurally unrecognizable metadata therefore
    * THROWS instead of answering. */
  def isGraftDialect(n: JsonNode, root: String): Boolean =
    if (n.has("format_version")) true
    else if (n.has("format-version")) false
    else throw new IllegalStateException(
      s"metadata under $root matches neither the graft nor the " +
        "Iceberg dialect (corrupt table?)")

  /** True when `root` holds graft-dialect metadata. */
  def isGraftDialect(root: String): Boolean =
    currentTree(root).exists(isGraftDialect(_, root))

  /** The current metadata under `root` from ONE read of its current
    * file, parsed by dialect: Left for graft metadata, Right for
    * real-format Iceberg; None when no metadata version exists. */
  def currentMetadata(root: String)
      : Option[Either[TableMetadata, graft.table.iceberg.IcebergMetadata.IceMetadata]] =
    currentTree(root).map { n =>
      if (isGraftDialect(n, root)) Left(fromTree(n))
      else Right(graft.table.iceberg.IcebergMetadata.fromTree(n))
    }
}
