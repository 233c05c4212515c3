package graft.table.iceberg

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.types.{StructField, StructType}
import graft.table.TableIO
import scala.jdk.CollectionConverters._

/** The real Iceberg v2 `metadata.json` tree, read and written in the
  * format any engine understands (reference model:
  * iceberg-rust-spec/src/spec/table_metadata.rs, snapshot.rs).
  *
  * This is the interop boundary: graft's own tables keep their compact
  * metadata (graft.table.Meta), while this module speaks the standard
  * — read a table Spark/Trino/the reference wrote, or write one they
  * can read.
  */
object IcebergMetadata {
  private val mapper = new ObjectMapper()

  case class IceField(id: Int, name: String, required: Boolean, tpe: String)
  case class IceSchema(schemaId: Int, fields: Seq[IceField]) {
    def toSpark: StructType = StructType(fields.map(f =>
      StructField(f.name, IcebergTypes.toSpark(f.tpe), nullable = !f.required)))
    /** Like toSpark, but each TOP-LEVEL field carries its Iceberg field
      * id as `parquet.field.id` metadata — handing this schema to a
      * parquet read (with fieldId.read enabled) resolves columns by ID,
      * which is what keeps files written before a RENAME COLUMN
      * readable under the current names (identity is the field id,
      * the name is a label — iceberg-rust-spec schema.rs). Kept
      * separate from toSpark because StructField equality includes
      * metadata and callers compare schemas. */
    def toSparkWithIds: StructType = StructType(fields.map(f =>
      StructField(f.name, IcebergTypes.toSpark(f.tpe), nullable = !f.required,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong(graft.table.Meta.FieldIdKey, f.id.toLong).build())))
    def fieldId(name: String): Option[Int] = fields.find(_.name == name).map(_.id)

    /** `s` with each top-level column this schema names stamped with
      * its field id as `parquet.field.id`: written footers carry the
      * ids (the spec's data-file requirement), and reads resolve by ID
      * (rename-safe; widened types up-cast). Unknown columns pass. */
    def withFieldIds(s: StructType): StructType =
      StructType(s.fields.map(f => fieldId(f.name).fold(f)(id =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong(graft.table.Meta.FieldIdKey, id.toLong).build()))))

    /** Highest field id anywhere in the schema, nested ids included
      * (the spec's last-column-id must cover struct fields,
      * element-ids, and key/value-ids). */
    def maxId: Int = {
      def nestedMax(n: JsonNode): Int = {
        import scala.jdk.CollectionConverters._
        val own = Seq("id", "element-id", "key-id", "value-id")
          .flatMap(k => Option(n.get(k)).filter(_.isInt).map(_.asInt()))
        // elements() already covers object values AND array entries —
        // recursing into properties() too would double every level
        (own ++ n.elements().asScala.map(nestedMax).toSeq)
          .maxOption.getOrElse(0)
      }
      fields.map(f => math.max(f.id,
        if (f.tpe.startsWith("{")) nestedMax(mapper.readTree(f.tpe)) else 0))
        .maxOption.getOrElse(0)
    }
  }

  case class IcePartitionField(sourceId: Int, fieldId: Int, name: String,
      transform: String)
  case class IceSpec(specId: Int, fields: Seq[IcePartitionField])

  case class IceSnapshot(snapshotId: Long, parentId: Option[Long],
      sequenceNumber: Long, timestampMs: Long, manifestList: String,
      operation: String, schemaId: Int,
      summary: Map[String, String] = Map.empty)

  /** One field of a sort order (spec/sort.rs SortField): column by
    * source id, a transform (identity for plain column sorts), and
    * direction/null placement. */
  case class IceSortField(sourceId: Int, transform: String,
      direction: String, nullOrder: String)

  /** A sort order (spec/sort.rs SortOrder). Order id 0 is reserved
    * for "unsorted". */
  case class IceSortOrder(orderId: Int, fields: Seq[IceSortField])

  /** snapshot-log entry (spec table_metadata.rs:104-111): when the
    * CURRENT snapshot changed, which id became current and when —
    * the record timestamp-based time travel resolves against. */
  case class IceSnapshotLogEntry(snapshotId: Long, timestampMs: Long)

  /** metadata-log entry (spec table_metadata.rs:113-119): the
    * previous metadata file each new version replaced — foreign
    * readers walk table history through these without a catalog. */
  case class IceMetadataLogEntry(metadataFile: String, timestampMs: Long)

  /** Per-ref retention policy (spec: SnapshotReference /
    * SnapshotRetention, snapshot.rs:256-280): branch refs may bound
    * how much ancestry expire keeps (min-snapshots-to-keep,
    * max-snapshot-age-ms) and how long the ref itself lives
    * (max-ref-age-ms); a tag carries only max-ref-age-ms. The interop
    * twin of the native dialect's Meta.RefRetention — preserved
    * through every graft commit so an adopted table's policies
    * survive, and honored by IcebergMaintenance.expireSnapshots. */
  case class IceRefRetention(
      minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None) {
    def isEmpty: Boolean =
      minSnapshotsToKeep.isEmpty && maxSnapshotAgeMs.isEmpty &&
        maxRefAgeMs.isEmpty
  }

  case class IceMetadata(
      formatVersion: Int,
      tableUuid: String,
      location: String,
      lastSequenceNumber: Long,
      lastColumnId: Int,
      currentSchemaId: Int,
      schemas: Seq[IceSchema],
      defaultSpecId: Int,
      specs: Seq[IceSpec],
      lastPartitionId: Int,
      properties: Map[String, String],
      currentSnapshotId: Option[Long],
      snapshots: Seq[IceSnapshot],
      refs: Map[String, Long],
      sortOrders: Seq[IceSortOrder] = Seq.empty,
      defaultSortOrderId: Int = 0,
      /** ref name → "branch" | "tag" (spec: SnapshotReference.type);
        * absent = branch. Kept beside `refs` so the 50+ branch-moving
        * call sites stay untyped — only tag creation and the
        * serialization boundary touch it. */
      refTypes: Map[String, String] = Map.empty,
      /** ref name → retention policy; absent = engine defaults. Kept
        * beside `refs` for the same reason as refTypes — only the
        * serialization boundary, ref creation, and expire touch it. */
      refRetention: Map[String, IceRefRetention] = Map.empty,
      /** Maintained by commitAt, not by callers: appended when the
        * current snapshot moves, trimmed to ids still in history. */
      snapshotLog: Seq[IceSnapshotLogEntry] = Seq.empty,
      /** Maintained by commitAt: the replaced metadata file per
        * commit, bounded by write.metadata.previous-versions-max. */
      metadataLog: Seq[IceMetadataLogEntry] = Seq.empty) {
    def schema: IceSchema = schemas.find(_.schemaId == currentSchemaId).get
    def snapshot(id: Long): Option[IceSnapshot] =
      snapshots.find(_.snapshotId == id)
    def currentSnapshot: Option[IceSnapshot] =
      currentSnapshotId.flatMap(snapshot)
    /** This metadata with `snap` committed as the head of branch `ref`
      * (a main commit also moves the current snapshot). */
    def withSnapshot(snap: IceSnapshot, ref: String = "main"): IceMetadata =
      copy(lastSequenceNumber = snap.sequenceNumber,
        currentSnapshotId =
          if (ref == "main") Some(snap.snapshotId) else currentSnapshotId,
        snapshots = snapshots :+ snap,
        refs = refs + (ref -> snap.snapshotId))
    def defaultSpecFields: Seq[IcePartitionField] =
      specs.find(_.specId == defaultSpecId).map(_.fields).getOrElse(Seq.empty)
    /** The default spec as graft partition fields (source by name):
      * the executor-side row transforms writes route rows through. */
    def defaultPartitionFields: Seq[graft.table.Meta.PartitionField] =
      defaultSpecFields.map { pf =>
        val src = schema.fields.find(_.id == pf.sourceId).getOrElse(
          throw new IllegalStateException(
            s"partition source id ${pf.sourceId} not in schema"))
        graft.table.Meta.PartitionField(src.name, pf.transform, pf.name)
      }
    /** The fields of the default sort order; empty = unsorted. */
    def defaultSortFields: Seq[IceSortField] =
      sortOrders.find(_.orderId == defaultSortOrderId)
        .map(_.fields).getOrElse(Seq.empty)
    /** Whether this table's data files can be resolved by FIELD ID
      * (footers carry ids — true for every graft interop write and
      * every mainstream Iceberg writer). False only when the table was
      * exported from a legacy id-less graft table whose parquet
      * footers predate id stamping: those files resolve by NAME, so
      * id-based reads would fail loudly and RENAME COLUMN is
      * unsupported (same rule as the graft dialect's hasFieldIds
      * gate). */
    def idResolution: Boolean =
      !properties.contains(IcebergMetadata.NameBasedFilesProp)
  }

  /** Set by IcebergExport when the SOURCE graft table's data files
    * carry no parquet footer field ids — readers of the exported
    * table must resolve columns by name. */
  val NameBasedFilesProp = "graft.name-based-files"

  /** The empty base a staged-create commit applies its updates onto —
    * shared by the REST server's assert-create publish and the client
    * that diffs its staged metadata against it, so the update list is
    * complete exactly when the two skeletons agree. Every populated
    * field arrives as an update (assign-uuid, add-schema,
    * set-current-schema, add-spec, set-default-spec, set-location,
    * set-properties, add-snapshot, set-snapshot-ref). */
  def emptySkeleton(location: String): IceMetadata = IceMetadata(
    formatVersion = 2,
    tableUuid = "",
    location = location,
    lastSequenceNumber = 0L,
    lastColumnId = 0,
    currentSchemaId = -1,
    schemas = Seq.empty,
    defaultSpecId = -1,
    specs = Seq.empty,
    lastPartitionId = 999,
    properties = Map.empty,
    currentSnapshotId = None,
    snapshots = Seq.empty,
    refs = Map.empty,
    // the unsorted order 0 is implicit in every written metadata file
    // (the writer re-adds it), so the skeleton carries it too — a
    // staged diff must not re-add the reserved order
    sortOrders = Seq(IceSortOrder(0, Seq.empty)),
    defaultSortOrderId = 0)

  /** Spark schema -> Iceberg schema with sequential field ids. */
  /** Field ids carried in the Spark schema's metadata (graft stamps
    * them at create, and they're what the parquet FOOTERS record) are
    * reused verbatim — exported metadata must agree with the footers
    * or foreign id-based readers mis-resolve. Id-less schemas get
    * sequential ids. Nested types (struct/list/map) allocate their
    * inner field ids above every top-level id, or above
    * `nestedIdsFrom - 1` when the caller knows ids retired by DROPPED
    * columns (whose bytes old footers still carry — an inner id must
    * never collide with them). Nested inner ids are NOT stamped into
    * parquet footers (Spark's writer only carries StructField-level
    * metadata), so foreign readers resolve nested fields by the spec's
    * name-mapping fallback — names, not positions. */
  def schemaFromSpark(schema: StructType, schemaId: Int = 0,
      nestedIdsFrom: Option[Int] = None): IceSchema = {
    // id-less fields in a MIXED schema (e.g. a computed column next to
    // connector-read columns that carry ids) allocate above every
    // explicit id — a positional i+1 could duplicate one
    val explicit = schema.fields.flatMap(graft.table.Meta.fieldId)
    var nextTop = explicit.maxOption.getOrElse(0)
    val topIds = schema.fields.map(f =>
      graft.table.Meta.fieldId(f).getOrElse { nextTop += 1; nextTop })
    var nextNested = math.max(topIds.maxOption.getOrElse(0),
      nestedIdsFrom.map(_ - 1).getOrElse(0))
    val alloc = () => { nextNested += 1; nextNested }
    IceSchema(schemaId, schema.fields.zip(topIds).map { case (f, id) =>
      IceField(id, f.name, required = !f.nullable,
        IcebergTypes.toIcebergNested(f.dataType, alloc))
    }.toSeq)
  }

  /** `schema.name-mapping.default` JSON for a schema (Iceberg spec's
    * name-mapping serialization). Nested inner field ids are NOT
    * stamped into parquet footers (Spark's writer only carries
    * StructField-level metadata), so strict foreign readers need this
    * fallback to resolve inner struct/list/map fields by name instead
    * of failing or null-filling (reference:
    * iceberg-rust-spec name mapping / table_metadata properties). */
  def nameMapping(schema: IceSchema): String = {
    def addNested(t: JsonNode, entry: ObjectNode): Unit = {
      if (t == null || !t.isObject) return
      t.get("type").asText() match {
        case "struct" =>
          val fs = entry.putArray("fields")
          t.get("fields").elements().asScala.foreach { f =>
            val e = fs.addObject()
            e.put("field-id", f.get("id").asInt())
            e.putArray("names").add(f.get("name").asText())
            addNested(f.get("type"), e)
          }
        case "list" =>
          val fs = entry.putArray("fields")
          val e = fs.addObject()
          e.put("field-id", t.get("element-id").asInt())
          e.putArray("names").add("element")
          addNested(t.get("element"), e)
        case "map" =>
          val fs = entry.putArray("fields")
          val k = fs.addObject()
          k.put("field-id", t.get("key-id").asInt())
          k.putArray("names").add("key")
          addNested(t.get("key"), k)
          val v = fs.addObject()
          v.put("field-id", t.get("value-id").asInt())
          v.putArray("names").add("value")
          addNested(t.get("value"), v)
        case _ =>
      }
    }
    val arr = mapper.createArrayNode()
    schema.fields.foreach { f =>
      val e = arr.addObject()
      e.put("field-id", f.id)
      e.putArray("names").add(f.name)
      if (f.tpe.startsWith("{")) addNested(mapper.readTree(f.tpe), e)
    }
    mapper.writeValueAsString(arr)
  }

  // ---- JSON write ----------------------------------------------------

  def toJson(m: IceMetadata): String = {
    val r = mapper.createObjectNode()
    r.put("format-version", m.formatVersion)
    r.put("table-uuid", m.tableUuid)
    r.put("location", m.location)
    r.put("last-sequence-number", m.lastSequenceNumber)
    r.put("last-updated-ms", System.currentTimeMillis())
    r.put("last-column-id", m.lastColumnId)
    r.put("current-schema-id", m.currentSchemaId)
    val schemas = r.putArray("schemas")
    m.schemas.foreach(s => schemas.add(schemaToNode(s)))
    r.put("default-spec-id", m.defaultSpecId)
    val specs = r.putArray("partition-specs")
    m.specs.foreach { s =>
      val n = specs.addObject()
      n.put("spec-id", s.specId)
      val fs = n.putArray("fields")
      s.fields.foreach { f =>
        val fn = fs.addObject()
        fn.put("name", f.name); fn.put("transform", f.transform)
        fn.put("source-id", f.sourceId); fn.put("field-id", f.fieldId)
      }
    }
    r.put("last-partition-id", m.lastPartitionId)
    r.put("default-sort-order-id", m.defaultSortOrderId)
    val so = r.putArray("sort-orders")
    // order 0 (unsorted) is always present per spec
    if (!m.sortOrders.exists(_.orderId == 0)) {
      val son = so.addObject()
      son.put("order-id", 0); son.putArray("fields")
    }
    m.sortOrders.foreach { o =>
      val on = so.addObject()
      on.put("order-id", o.orderId)
      val fs = on.putArray("fields")
      o.fields.foreach { f =>
        val fn = fs.addObject()
        fn.put("source-id", f.sourceId); fn.put("transform", f.transform)
        fn.put("direction", f.direction); fn.put("null-order", f.nullOrder)
      }
    }
    val props = r.putObject("properties")
    m.properties.foreach { case (k, v) => props.put(k, v) }
    m.currentSnapshotId.foreach(r.put("current-snapshot-id", _))
    val snaps = r.putArray("snapshots")
    m.snapshots.foreach(s => snaps.add(snapshotToNode(s)))
    val refs = r.putObject("refs")
    m.refs.foreach { case (name, id) =>
      val n = refs.putObject(name)
      n.put("snapshot-id", id)
      n.put("type", m.refTypes.getOrElse(name, "branch"))
      // SnapshotRetention fields ride the ref entry (kebab-case, spec
      // snapshot.rs) — an adopted table's policy must survive commits
      m.refRetention.get(name).foreach { ret =>
        ret.minSnapshotsToKeep.foreach(n.put("min-snapshots-to-keep", _))
        ret.maxSnapshotAgeMs.foreach(n.put("max-snapshot-age-ms", _))
        ret.maxRefAgeMs.foreach(n.put("max-ref-age-ms", _))
      }
    }
    val slog = r.putArray("snapshot-log")
    m.snapshotLog.foreach { e =>
      val n = slog.addObject()
      n.put("snapshot-id", e.snapshotId)
      n.put("timestamp-ms", e.timestampMs)
    }
    val mlog = r.putArray("metadata-log")
    m.metadataLog.foreach { e =>
      val n = mlog.addObject()
      n.put("metadata-file", e.metadataFile)
      n.put("timestamp-ms", e.timestampMs)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(r)
  }

  // ---- JSON read -----------------------------------------------------

  def fromJson(json: String): IceMetadata = fromTree(mapper.readTree(json))

  def fromTree(r: JsonNode): IceMetadata = {
    def arr(n: JsonNode): Seq[JsonNode] =
      Option(n).map(_.elements().asScala.toSeq).getOrElse(Seq.empty)

    val formatVersion = r.get("format-version").asInt()
    val schemas =
      if (r.has("schemas")) arr(r.get("schemas")).map(readSchema)
      else Seq(readSchema(r.get("schema"))) // v1 single-schema form
    val currentSchemaId =
      if (r.has("current-schema-id")) r.get("current-schema-id").asInt()
      else schemas.head.schemaId
    val specs =
      if (r.has("partition-specs")) arr(r.get("partition-specs")).map(readSpec)
      else Seq(IceSpec(0, arr(r.get("partition-spec")).map(readSpecField)))
    val snapshots = arr(r.get("snapshots"))
      .map(n => snapshotFromNode(n, currentSchemaId))
    IceMetadata(
      formatVersion = formatVersion,
      tableUuid = Option(r.get("table-uuid")).map(_.asText()).getOrElse(""),
      location = r.get("location").asText(),
      lastSequenceNumber =
        Option(r.get("last-sequence-number")).map(_.asLong()).getOrElse(0L),
      lastColumnId = Option(r.get("last-column-id")).map(_.asInt()).getOrElse(0),
      currentSchemaId = currentSchemaId,
      schemas = schemas,
      defaultSpecId =
        Option(r.get("default-spec-id")).map(_.asInt()).getOrElse(0),
      specs = specs,
      lastPartitionId =
        Option(r.get("last-partition-id")).map(_.asInt()).getOrElse(999),
      properties = Option(r.get("properties")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty),
      currentSnapshotId =
        Option(r.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L),
      snapshots = snapshots,
      refs = Option(r.get("refs")).map(_.properties().asScala.map(e =>
        e.getKey -> e.getValue.get("snapshot-id").asLong()).toMap)
        .getOrElse(Map.empty),
      refTypes = Option(r.get("refs")).map(_.properties().asScala.flatMap(e =>
        Option(e.getValue.get("type")).map(t => e.getKey -> t.asText()))
        .toMap).getOrElse(Map.empty),
      refRetention = Option(r.get("refs"))
        .map(_.properties().asScala.flatMap { e =>
          val ret = refRetentionFromNode(e.getValue)
          if (ret.isEmpty) None else Some(e.getKey -> ret)
        }.toMap).getOrElse(Map.empty),
      sortOrders = arr(r.get("sort-orders")).map(sortOrderFromNode)
        .filter(_.fields.nonEmpty),
      defaultSortOrderId =
        Option(r.get("default-sort-order-id")).map(_.asInt()).getOrElse(0),
      snapshotLog = arr(r.get("snapshot-log")).map(n =>
        IceSnapshotLogEntry(n.get("snapshot-id").asLong(),
          n.get("timestamp-ms").asLong())),
      metadataLog = arr(r.get("metadata-log")).map(n =>
        IceMetadataLogEntry(n.get("metadata-file").asText(),
          n.get("timestamp-ms").asLong())))
  }

  /** SnapshotRetention fields from a SnapshotReference-shaped node
    * (a metadata.json refs entry, or the flattened set-snapshot-ref
    * protocol update — commit.rs TableUpdate::SetSnapshotRef
    * #[serde(flatten)]s the reference into the update object). */
  def refRetentionFromNode(n: JsonNode): IceRefRetention = IceRefRetention(
    minSnapshotsToKeep =
      Option(n.get("min-snapshots-to-keep")).map(_.asInt()),
    maxSnapshotAgeMs = Option(n.get("max-snapshot-age-ms")).map(_.asLong()),
    maxRefAgeMs = Option(n.get("max-ref-age-ms")).map(_.asLong()))

  /** Parse one sort order (the shape the commit protocol's
    * add-sort-order update carries — commit.rs TableUpdate::AddSortOrder). */
  def sortOrderFromNode(n: JsonNode): IceSortOrder = {
    def arr(x: JsonNode): Seq[JsonNode] =
      Option(x).map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    IceSortOrder(
      n.get("order-id").asInt(),
      arr(n.get("fields")).map(f => IceSortField(
        f.get("source-id").asInt(),
        Option(f.get("transform")).map(_.asText()).getOrElse("identity"),
        Option(f.get("direction")).map(_.asText()).getOrElse("asc"),
        Option(f.get("null-order")).map(_.asText()).getOrElse("nulls-first"))))
  }

  /** One snapshot <-> its metadata.json object (also the shape the
    * REST commit protocol's add-snapshot update carries). */
  def snapshotToNode(s: IceSnapshot): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("snapshot-id", s.snapshotId)
    s.parentId.foreach(n.put("parent-snapshot-id", _))
    n.put("sequence-number", s.sequenceNumber)
    n.put("timestamp-ms", s.timestampMs)
    n.put("manifest-list", s.manifestList)
    n.put("schema-id", s.schemaId)
    val sm = n.putObject("summary")
    sm.put("operation", s.operation)
    s.summary.foreach { case (k, v) => sm.put(k, v) }
    n
  }

  def snapshotFromNode(n: JsonNode, defaultSchemaId: Int): IceSnapshot =
    IceSnapshot(
      snapshotId = n.get("snapshot-id").asLong(),
      parentId = Option(n.get("parent-snapshot-id")).map(_.asLong()),
      sequenceNumber =
        Option(n.get("sequence-number")).map(_.asLong()).getOrElse(0L),
      timestampMs = n.get("timestamp-ms").asLong(),
      manifestList = n.get("manifest-list").asText(),
      operation = Option(n.get("summary"))
        .flatMap(s => Option(s.get("operation"))).map(_.asText())
        .getOrElse("append"),
      schemaId = Option(n.get("schema-id")).map(_.asInt())
        .getOrElse(defaultSchemaId),
      summary = Option(n.get("summary")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap - "operation")
        .getOrElse(Map.empty))

  def schemaFromNode(n: JsonNode): IceSchema = readSchema(n)

  def schemaToNode(s: IceSchema): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("type", "struct"); n.put("schema-id", s.schemaId)
    val fs = n.putArray("fields")
    s.fields.foreach { f =>
      val fn = fs.addObject()
      fn.put("id", f.id); fn.put("name", f.name)
      fn.put("required", f.required)
      // nested types are held as their JSON object form
      if (f.tpe.startsWith("{")) fn.set[ObjectNode]("type", mapper.readTree(f.tpe))
      else fn.put("type", f.tpe)
    }
    n
  }

  private def readSchema(n: JsonNode): IceSchema =
    IceSchema(
      Option(n.get("schema-id")).map(_.asInt()).getOrElse(0),
      n.get("fields").elements().asScala.map { f =>
        IceField(f.get("id").asInt(), f.get("name").asText(),
          f.get("required").asBoolean(),
          // nested types arrive as objects; primitives as text
          if (f.get("type").isTextual) f.get("type").asText()
          else f.get("type").toString)
      }.toSeq)

  private def readSpec(n: JsonNode): IceSpec =
    IceSpec(n.get("spec-id").asInt(),
      n.get("fields").elements().asScala.map(readSpecField).toSeq)

  /** Public spec parser (REST commit protocol's add-spec update). */
  def specFromNode(n: JsonNode): IceSpec = readSpec(n)

  private def readSpecField(f: JsonNode): IcePartitionField =
    IcePartitionField(
      sourceId = f.get("source-id").asInt(),
      fieldId = Option(f.get("field-id")).map(_.asInt()).getOrElse(1000),
      name = f.get("name").asText(),
      transform = f.get("transform").asText())

  // ---- versioned store -----------------------------------------------

  /** Latest metadata file under `location/metadata`. The hint file is
    * advisory and can lag under concurrent commits, so this takes the
    * MAX of the hint and the versions actually present (same recovery
    * as HadoopTables; foreign writers need not leave a hint at all). */
  def currentMetadataFile(location: String): org.apache.hadoop.fs.Path = {
    val dir = TableIO.path(location, "metadata")
    val hint = new org.apache.hadoop.fs.Path(dir, "version-hint.text")
    val hinted = scala.util.Try(TableIO.readString(hint).trim.toInt).toOption
    val v = (hinted.toSeq :+ lastVersion(location)).max
    if (v <= 0)
      throw new IllegalStateException(s"no Iceberg metadata under $dir")
    new org.apache.hadoop.fs.Path(dir, s"v$v.metadata.json")
  }

  def load(location: String): IceMetadata =
    fromJson(TableIO.readString(currentMetadataFile(location)))

  def write(location: String, version: Int, m: IceMetadata): Unit = {
    val dir = TableIO.path(location, "metadata")
    TableIO.mkdirs(dir)
    TableIO.writeString(
      new org.apache.hadoop.fs.Path(dir, s"v$version.metadata.json"),
      toJson(withCommitLogs(location, m, version - 1)))
    TableIO.writeString(
      new org.apache.hadoop.fs.Path(dir, "version-hint.text"), version.toString)
  }

  private val VersionRe = """v(\d+)\.metadata\.json""".r

  private def lastVersion(location: String): Int =
    TableIO.listDir(TableIO.path(location, "metadata"))
      .map(_.getPath.getName).collect {
        case VersionRe(n) => n.toInt
      }.maxOption.getOrElse(0)

  /** Commit `m` as the next metadata version (listing-derived bump). */
  def writeNext(location: String, m: IceMetadata): Unit =
    write(location, lastVersion(location) + 1, m)

  /** Load-mutate-CAS with bounded retries: `mutate` re-runs against a
    * FRESH load after every lost race, so concurrent metadata commits
    * serialize without lost updates (the reference's optimistic
    * concurrency, applied to the LOCAL commit path — REST commits pin
    * their base the same way server-side). Returns the committed
    * metadata. */
  def commitRetry(location: String)(mutate: IceMetadata => IceMetadata)
      : IceMetadata = {
    // a location a REST-mode catalog loaded is CATALOG-MANAGED: its
    // metadata commits ride the update-table protocol (the server
    // writes metadata.json; this engine only writes data/manifest
    // files) — the reference's RestCatalog commit shape. Because every
    // write/evolution/maintenance path funnels through commitRetry,
    // this one hook routes ALL of them.
    IcebergRestCommit.lookup(location) match {
      case Some(route) => return IcebergRestCommit.commitRetry(route)(mutate)
      case None =>
    }
    var attempts = 0
    while (true) {
      val (m, v) = loadVersioned(location)
      val next = mutate(m)
      // identity result = the mutation decided there is nothing to do
      // (e.g. a consolidation that cannot merge anything): don't write
      // an identical new metadata version
      if (next eq m) return m
      if (commitAt(location, next, v)) return next
      attempts += 1
      require(attempts < 50,
        s"lost $attempts metadata commit races at $location")
    }
    throw new IllegalStateException("unreachable")
  }

  /** The current metadata plus the version it came from — the base a
    * CAS commit must pin so the WHOLE load-validate-commit span is
    * protected, not just the final rename. */
  def loadVersioned(location: String): (IceMetadata, Int) = {
    val v = lastVersion(location)
    require(v > 0, s"no Iceberg metadata under $location")
    (fromJson(TableIO.readString(TableIO.path(
      s"$location/metadata", s"v$v.metadata.json"))), v)
  }

  /** CAS commit against the base version the caller validated on:
    * v(base+1) lands via rename-without-replace, so a writer that read
    * base and lost the race gets false (REST turns that into 409) —
    * it can never silently overwrite a snapshot committed in between. */
  /** snapshot-log / metadata-log bookkeeping (table_metadata.rs:
    * 104-119), stamped at the ONE version-writing choke point so
    * every commit path — local CAS, REST server folds, transaction
    * rollbacks — maintains them without callers knowing: trim
    * snapshot-log to ids still in history (expire / remove-snapshots
    * drop their entries), append when the current snapshot moved
    * (a rollback re-appends an older id — the change record the spec
    * wants); append the replaced metadata file, bounded by
    * write.metadata.previous-versions-max (spec default 100). */
  private def withCommitLogs(location: String, m: IceMetadata,
      baseVersion: Int): IceMetadata = {
    val now = System.currentTimeMillis()
    val trimmed = m.snapshotLog.filter(e =>
      m.snapshots.exists(_.snapshotId == e.snapshotId))
    val snapLog = m.currentSnapshotId match {
      case Some(id) if !trimmed.lastOption.exists(_.snapshotId == id) =>
        // the entry carries the SNAPSHOT's commit timestamp, not the
        // metadata-write wall clock (spec: snapshot-log records when
        // each snapshot became current = its timestamp-ms; stamping
        // `now` here ran 1-2 ms late, so TIMESTAMP AS OF at exactly a
        // snapshot's timestamp flakily resolved to its predecessor)
        trimmed :+ IceSnapshotLogEntry(id,
          m.snapshots.find(_.snapshotId == id).map(_.timestampMs)
            .getOrElse(now))
      case _ => trimmed
    }
    val maxPrev = m.properties.get("write.metadata.previous-versions-max")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ > 0).getOrElse(100)
    val mdLog =
      if (baseVersion < 1) m.metadataLog
      else (m.metadataLog :+ IceMetadataLogEntry(
        TableIO.qualified(TableIO.path(s"$location/metadata",
          s"v$baseVersion.metadata.json")), now)).takeRight(maxPrev)
    m.copy(snapshotLog = snapLog, metadataLog = mdLog)
  }

  def commitAt(location: String, m: IceMetadata, baseVersion: Int): Boolean = {
    val dir = TableIO.path(location, "metadata")
    TableIO.mkdirs(dir)
    val v = baseVersion + 1
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".v$v-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    TableIO.writeString(tmp, toJson(withCommitLogs(location, m, baseVersion)))
    val ok = TableIO.renameNoReplace(tmp,
      new org.apache.hadoop.fs.Path(dir, s"v$v.metadata.json"))
    if (ok) {
      // hint is advisory and may lag; write via tmp+rename so readers
      // never see a truncated half-write. A CONCURRENT committer's
      // hint update may collide on the overwrite-rename — ignore it:
      // readers take max(hint, listed versions), so whichever racer's
      // hint lands is good enough
      val hintTmp = new org.apache.hadoop.fs.Path(dir,
        s".hint-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      try {
        TableIO.writeString(hintTmp, v.toString)
        TableIO.renameOverwrite(hintTmp,
          new org.apache.hadoop.fs.Path(dir, "version-hint.text"))
      } catch {
        case _: java.io.IOException => TableIO.delete(hintTmp)
      }
    }
    ok
  }
}
