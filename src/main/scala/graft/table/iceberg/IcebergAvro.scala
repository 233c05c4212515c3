package graft.table.iceberg

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import graft.table.TableIO
import org.apache.hadoop.fs.{Path => HPath}
import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import scala.jdk.CollectionConverters._

/** Avro manifests and manifest lists in the REAL Iceberg v2 binary
  * layout (reference: iceberg-rust/src/table/manifest.rs apache_avro
  * codec, manifest_list.rs; field ids from the public spec).
  *
  * Reading uses each file's embedded writer schema (GenericDatumReader
  * with no expected schema), so manifests written by any engine parse
  * — fields are accessed by name, extra fields ignored, absent
  * optional fields default to null.
  */
object IcebergAvro {

  // ---- models --------------------------------------------------------

  /** Per-partition-field value summary of one manifest (spec field-ids
    * 507-511/518): lets a planner exclude a whole manifest from the
    * metadata walk without reading its entries — at 100 TB, planning
    * a one-partition query reads ONE manifest instead of all of them.
    * Bounds use the same single-value binary form as file stats.
    * Reference: iceberg-rust-spec/src/spec/manifest_list.rs:74. */
  case class FieldSummary(containsNull: Boolean,
      lower: Option[Array[Byte]], upper: Option[Array[Byte]])

  case class ManifestFile(path: String, length: Long, specId: Int,
      content: Int, sequenceNumber: Long, addedSnapshotId: Long,
      partitions: Option[Seq[FieldSummary]] = None,
      addedFilesCount: Option[Int] = None,
      existingFilesCount: Option[Int] = None)

  case class DataFileEntry(
      status: Int, // 0 existing, 1 added, 2 deleted
      content: Int, // 0 data, 1 position deletes, 2 equality deletes
      filePath: String,
      fileFormat: String,
      partition: Map[String, Any],
      recordCount: Long,
      fileSizeBytes: Long,
      lowerBounds: Map[Int, Array[Byte]],
      upperBounds: Map[Int, Array[Byte]],
      nullCounts: Map[Int, Long],
      equalityIds: Seq[Int],
      sequenceNumber: Option[Long])

  // ---- read ----------------------------------------------------------

  private def openReader(p: HPath): DataFileReader[GenericRecord] = {
    // avro needs a SeekableInput; small metadata files read fully
    val in = TableIO.fs(p).open(p)
    val bytes = try in.readAllBytes() finally in.close()
    new DataFileReader[GenericRecord](
      new org.apache.avro.file.SeekableByteArrayInput(bytes),
      new GenericDatumReader[GenericRecord]())
  }

  private def str(v: Any): String = String.valueOf(v) // Utf8 -> String

  private def optLong(r: GenericRecord, name: String): Option[Long] =
    if (r.getSchema.getField(name) == null) None
    else Option(r.get(name)).map(_.asInstanceOf[Long])

  private def optInt(r: GenericRecord, name: String): Option[Int] =
    if (r.getSchema.getField(name) == null) None
    else Option(r.get(name)).map(_.asInstanceOf[Int])

  private def optBytes(v: Any): Option[Array[Byte]] = v match {
    case null => None
    case bb: java.nio.ByteBuffer =>
      val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); Some(a)
    case a: Array[Byte] => Some(a)
    case _ => None
  }

  /** Parse the `partitions` field-summary list when the writer emitted
    * one (other engines' manifest lists carry it; ours does too now).
    * Absent or null -> None -> callers must not prune. */
  private def readFieldSummaries(r: GenericRecord)
      : Option[Seq[FieldSummary]] =
    if (r.getSchema.getField("partitions") == null) None
    else Option(r.get("partitions")).map { arr =>
      arr.asInstanceOf[java.util.Collection[_]].asScala.toSeq.map { e =>
        val s = e.asInstanceOf[GenericRecord]
        FieldSummary(
          containsNull = s.get("contains_null").asInstanceOf[Boolean],
          lower = optBytes(s.get("lower_bound")),
          upper = optBytes(s.get("upper_bound")))
      }
    }

  /** Diagnostic counters (scale probes / specs): avro metadata opens —
    * the interop twin of Meta.manifestReads, letting tests assert
    * delta-proportional planning IO (incremental MV refresh must read
    * manifests in proportion to the DELTA, not history depth). */
  val manifestListReads = new java.util.concurrent.atomic.AtomicLong()
  val manifestReads = new java.util.concurrent.atomic.AtomicLong()

  def readManifestList(p: HPath): Seq[ManifestFile] = {
    manifestListReads.incrementAndGet()
    val reader = openReader(p)
    try reader.iterator().asScala.map { r =>
      ManifestFile(
        path = str(r.get("manifest_path")),
        length = r.get("manifest_length").asInstanceOf[Long],
        specId = r.get("partition_spec_id").asInstanceOf[Int],
        content =
          if (r.getSchema.getField("content") == null) 0
          else r.get("content").asInstanceOf[Int],
        sequenceNumber = optLong(r, "sequence_number").getOrElse(0L),
        addedSnapshotId = optLong(r, "added_snapshot_id").getOrElse(0L),
        partitions = readFieldSummaries(r),
        addedFilesCount = optInt(r, "added_files_count"),
        existingFilesCount = optInt(r, "existing_files_count"))
    }.toSeq
    finally reader.close()
  }

  /** Iceberg's avro "maps" with int keys are arrays of {key, value}
    * records (logicalType map). */
  private def keyedMap(v: Any): Map[Int, Any] = v match {
    case null => Map.empty
    case arr: java.util.Collection[_] =>
      arr.asScala.map { e =>
        val r = e.asInstanceOf[GenericRecord]
        r.get("key").asInstanceOf[Int] -> r.get("value")
      }.toMap
    case m: java.util.Map[_, _] => // plain avro map (string keys)
      m.asScala.map { case (k, v) => str(k).toInt -> v }.toMap
    case _ => Map.empty
  }

  private def toBytes(v: Any): Array[Byte] = v match {
    case b: ByteBuffer =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
    case b: Array[Byte] => b
    case other => String.valueOf(other).getBytes("UTF-8")
  }

  def readManifest(p: HPath): Seq[DataFileEntry] = {
    manifestReads.incrementAndGet()
    val reader = openReader(p)
    try reader.iterator().asScala.map { r =>
      val df = r.get("data_file").asInstanceOf[GenericRecord]
      val partition = df.get("partition") match {
        case null => Map.empty[String, Any]
        case pr: GenericRecord =>
          pr.getSchema.getFields.asScala.map(f =>
            f.name() -> pr.get(f.name())).toMap
        case _ => Map.empty[String, Any]
      }
      def dfField(name: String): Any =
        if (df.getSchema.getField(name) == null) null else df.get(name)
      DataFileEntry(
        status = r.get("status").asInstanceOf[Int],
        content = dfField("content") match {
          case null => 0
          case i: java.lang.Integer => i.intValue()
          case _ => 0
        },
        filePath = str(df.get("file_path")),
        fileFormat = str(df.get("file_format")),
        partition = partition,
        recordCount = df.get("record_count").asInstanceOf[Long],
        fileSizeBytes = df.get("file_size_in_bytes").asInstanceOf[Long],
        lowerBounds = keyedMap(dfField("lower_bounds"))
          .map { case (k, v) => k -> toBytes(v) },
        upperBounds = keyedMap(dfField("upper_bounds"))
          .map { case (k, v) => k -> toBytes(v) },
        nullCounts = keyedMap(dfField("null_value_counts")).collect {
          case (k, v: java.lang.Long) => k -> v.longValue() },
        equalityIds = dfField("equality_ids") match {
          case null => Seq.empty
          case c: java.util.Collection[_] =>
            c.asScala.map(_.asInstanceOf[Int]).toSeq
          case _ => Seq.empty
        },
        sequenceNumber = optLong(r, "sequence_number"))
    }.toSeq
    finally reader.close()
  }

  // ---- write ---------------------------------------------------------

  private def parse(json: String): Schema = new Schema.Parser().parse(json)

  private val boundsMap =
    """{"type":"array","logicalType":"map","items":{"type":"record","name":"k126_v127","fields":[
      {"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]}}"""
  private val boundsMap2 = boundsMap
    .replace("k126_v127", "k129_v130").replace("126", "129").replace("127", "130")
  private val nullsMap = boundsMap
    .replace("k126_v127", "k110_v111").replace("126", "110")
    .replace(""""value","type":"bytes"""", """"value","type":"long"""")
    .replace("127", "111")

  private[iceberg] val manifestListSchema: Schema = parse(
    s"""{"type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string","field-id":500},
      {"name":"manifest_length","type":"long","field-id":501},
      {"name":"partition_spec_id","type":"int","field-id":502},
      {"name":"content","type":"int","field-id":517},
      {"name":"sequence_number","type":"long","field-id":515},
      {"name":"min_sequence_number","type":"long","field-id":516},
      {"name":"added_snapshot_id","type":"long","field-id":503},
      {"name":"added_files_count","type":"int","field-id":504},
      {"name":"existing_files_count","type":"int","field-id":505},
      {"name":"deleted_files_count","type":"int","field-id":506},
      {"name":"added_rows_count","type":"long","field-id":512},
      {"name":"existing_rows_count","type":"long","field-id":513},
      {"name":"deleted_rows_count","type":"long","field-id":514},
      {"name":"partitions","field-id":507,"default":null,"type":["null",
        {"type":"array","items":{"type":"record","name":"r508","fields":[
          {"name":"contains_null","type":"boolean","field-id":509},
          {"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
          {"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
          {"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
        ]}}]}
    ]}""")

  /** Attach a field-summary list to a manifest-list record (null when
    * the writer has nothing sound to claim). */
  def putFieldSummaries(r: GenericData.Record,
      sums: Option[Seq[FieldSummary]]): Unit = sums.foreach { ss =>
    val arrSchema = {
      val f = manifestListSchema.getField("partitions").schema()
      f.getTypes.asScala.find(_.getType == Schema.Type.ARRAY).get
    }
    val itemSchema = arrSchema.getElementType
    val arr = new GenericData.Array[GenericRecord](ss.size, arrSchema)
    ss.foreach { s =>
      val e = new GenericData.Record(itemSchema)
      e.put("contains_null", s.containsNull)
      e.put("contains_nan", null)
      e.put("lower_bound", s.lower.map(java.nio.ByteBuffer.wrap).orNull)
      e.put("upper_bound", s.upper.map(java.nio.ByteBuffer.wrap).orNull)
      arr.add(e)
    }
    r.put("partitions", arr)
  }

  /** Manifest avro schema for a given partition-struct avro snippet. */
  private[iceberg] def manifestSchema(partitionRecord: String): Schema = parse(
    s"""{"type":"record","name":"manifest_entry","fields":[
      {"name":"status","type":"int","field-id":0},
      {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
        {"name":"content","type":"int","field-id":134},
        {"name":"file_path","type":"string","field-id":100},
        {"name":"file_format","type":"string","field-id":101},
        {"name":"partition","field-id":102,"type":$partitionRecord},
        {"name":"record_count","type":"long","field-id":103},
        {"name":"file_size_in_bytes","type":"long","field-id":104},
        {"name":"null_value_counts","type":["null",$nullsMap],"default":null,"field-id":110},
        {"name":"lower_bounds","type":["null",$boundsMap],"default":null,"field-id":125},
        {"name":"upper_bounds","type":["null",$boundsMap2],"default":null,"field-id":128},
        {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null,"field-id":135}
      ]}}]}""")

  private def writeAvro(p: HPath, schema: Schema,
      records: Seq[GenericRecord], meta: Map[String, String]): Long = {
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => writer.setMeta(k, v) }
    val bos = new ByteArrayOutputStream()
    writer.create(schema, bos)
    records.foreach(writer.append)
    writer.close()
    val bytes = bos.toByteArray
    val out = TableIO.fs(p).create(p, true)
    try out.write(bytes) finally out.close()
    bytes.length.toLong
  }

  /** Read a manifest LIST as raw avro records (keyed by callers on
    * manifest_path): consolidation carries foreign manifests' file
    * counts / row counts / sequence bounds through verbatim instead of
    * zeroing them. */
  def readManifestListRaw(p: HPath): Seq[GenericRecord] = {
    val reader = openReader(p)
    try reader.iterator().asScala.toSeq finally reader.close()
  }

  /** Read a manifest as raw avro: embedded writer schema, file
    * metadata (schema / partition-spec / content keys), and untouched
    * records. Used by manifest consolidation, which must round-trip
    * OTHER engines' entries losslessly — fields our DataFileEntry
    * model doesn't carry (value_counts, split_offsets, ...) survive
    * because the records are never re-projected. */
  def readManifestRaw(p: HPath)
      : (Schema, Map[String, String], Seq[GenericRecord]) = {
    val reader = openReader(p)
    try {
      val schema = reader.getSchema
      val meta = reader.getMetaKeys.asScala
        .filterNot(_.startsWith("avro."))
        .map(k => k -> reader.getMetaString(k)).toMap
      (schema, meta, reader.iterator().asScala.toSeq)
    } finally reader.close()
  }

  /** Write a manifest from raw records under a caller-supplied writer
    * schema + file metadata (the readManifestRaw counterpart). */
  def writeManifestRaw(p: HPath, schema: Schema,
      meta: Map[String, String], records: Seq[GenericRecord]): Long =
    writeAvro(p, schema, records, meta)

  def writeManifest(p: HPath, partitionRecord: String,
      entries: Seq[GenericRecord], schemaJson: String, specJson: String,
      content: String = "data"): Long = {
    // the spec REQUIRES partition-spec-id in the manifest's key-value
    // metadata (and schema-id when known) — strict readers resolve
    // the partition type from it; derived from the JSON the caller
    // already carries so every write path conforms
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val specId = Option(om.readTree(specJson).get("spec-id"))
      .map(_.asInt().toString)
    val schemaId = Option(om.readTree(schemaJson).get("schema-id"))
      .map(_.asInt().toString)
    writeAvro(p, manifestSchema(partitionRecord), entries,
      Map("schema" -> schemaJson, "partition-spec" -> specJson,
        "format-version" -> "2", "content" -> content) ++
        specId.map("partition-spec-id" -> _) ++
        schemaId.map("schema-id" -> _))
  }

  def writeManifestList(p: HPath, manifests: Seq[GenericRecord],
      snapshotId: Long, seq: Long): Long =
    writeAvro(p, manifestListSchema, manifests,
      Map("snapshot-id" -> snapshotId.toString,
        "sequence-number" -> seq.toString, "format-version" -> "2"))

  def record(schema: Schema): GenericData.Record = new GenericData.Record(schema)
}
