package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.table.{GraftTable, Meta, TableIO}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** Spark TableCatalog plugin backed by a GraftTable warehouse — the
  * reference's catalog front-ends (iceberg-file-catalog /
  * iceberg-sql-catalog + datafusion planner DDL) on Spark's native
  * catalog API. Register with:
  *
  *   spark.sql.catalog.graft_wh = graft.spark.GraftTableCatalog
  *   spark.sql.catalog.graft_wh.warehouse = /path/to/warehouse
  *
  * and standard SQL works end to end:
  *
  *   CREATE TABLE graft_wh.db.t (...) PARTITIONED BY (months(ts))
  *   INSERT INTO graft_wh.db.t SELECT ...        -- V2 batch write
  *   SELECT ... FROM graft_wh.db.t               -- pruned V2 scan
  *   DROP TABLE graft_wh.db.t
  *
  * PARTITIONED BY transforms map onto the Iceberg transform set
  * (identity, bucket, years/months/days/hours).
  */
/** The Iceberg transform set as V2 catalog functions. Two uses: both
  * sides of a join resolve the SAME function (canonicalName) for their
  * reported bucket partitioning, letting Spark drop the shuffle
  * (storage-partitioned join); and V2 writes that request a clustered
  * distribution over these transforms resolve them here so rows
  * shuffle to the right write task. */
object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.types._
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, col): Iceberg murmur3_x86_32 bucket transform"

  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.fields.length == 2, "bucket(numBuckets, col)")
    val keyType = inputType.fields(1).dataType
    new org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(
          input: org.apache.spark.sql.catalyst.InternalRow): Integer = {
        val n = input.getInt(0)
        keyType match {
          case LongType | TimestampType =>
            graft.functions.IcebergHash.bucketLong(input.getLong(1), n)
          case IntegerType | DateType =>
            graft.functions.IcebergHash.bucketLong(input.getInt(1).toLong, n)
          case StringType =>
            graft.functions.IcebergHash.bucketUtf8(input.getUTF8String(1), n)
          case other => throw new UnsupportedOperationException(
            s"bucket over $other")
        }
      }
    }
  }
}

/** years/months/days/hours over date or timestamp columns —
  * units-since-epoch at UTC, matching IcebergTransforms exactly. */
case class GraftDatetimeFunction(fname: String)
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.types._
  override def name(): String = fname
  override def description(): String = s"$fname(col): Iceberg datetime transform"

  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.fields.length == 1, s"$fname(col)")
    val keyType = inputType.fields.head.dataType
    new org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = Array(keyType)
      override def resultType(): DataType = IntegerType
      override def name(): String = fname
      override def canonicalName(): String = s"graft.$fname"
      override def produceResult(
          input: org.apache.spark.sql.catalyst.InternalRow): Integer = {
        val (y, m, d, h) = keyType match {
          case DateType =>
            val ld = java.time.LocalDate.ofEpochDay(input.getInt(0).toLong)
            (ld.getYear, ld.getMonthValue, ld.toEpochDay, ld.toEpochDay * 24)
          case TimestampType | TimestampNTZType =>
            val micros = input.getLong(0)
            val dt = java.time.LocalDateTime.ofEpochSecond(
              Math.floorDiv(micros, 1000000L), 0, java.time.ZoneOffset.UTC)
            (dt.getYear, dt.getMonthValue,
              Math.floorDiv(micros, 86400000000L),
              Math.floorDiv(micros, 3600000000L))
          case other =>
            throw new UnsupportedOperationException(s"$fname over $other")
        }
        fname match {
          case "years" => y - 1970
          case "months" => (y - 1970) * 12 + m - 1
          case "days" => d.toInt
          case "hours" => h.toInt
        }
      }
    }
  }
}

class GraftTableCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with GraftViewSupport {
  import graft.table.iceberg.{IcebergRestClient, IcebergRestCommit}

  private var catalogName: String = _
  private[spark] var warehouse: String = _
  private[spark] var restBase: Option[String] = None

  /** REST namespaces on the wire: multi-level namespaces join with the
    * spec's unit separator (%1F in URLs) — the reference's Namespace is
    * a Vec<String> (iceberg-rust-spec/src/spec/namespace.rs:14). */
  private[spark] def restNs(namespace: Array[String]): String = {
    require(namespace.nonEmpty, "empty namespace")
    namespace.mkString("\u001F")
  }

  /** Resolve a REST table to its storage root AND register the commit
    * route: from here on, every metadata commit under that root rides
    * the update-table protocol. Namespaces may be multi-level (levels
    * join with the spec separator on the wire).
    *
    * The (ns, name) -> root mapping is cached per catalog instance:
    * Spark's analyzer re-resolves every table reference per statement
    * (24 loadTable GETs for 3 tables in the WAP key), but the root is
    * stable metadata — only drop/rename change it, and both invalidate
    * below. Data freshness is untouched: scans read the CURRENT
    * metadata under the root per query; the GET's inline metadata body
    * was never used by this path. Same trade as Iceberg's Spark
    * CachingCatalog (cache-enabled defaults to true there); a FOREIGN
    * drop/rename through another process is the accepted staleness. */
  private val restRootCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  private def restRootOf(ident: Identifier): Option[String] =
    restBase.filter(_ => ident.namespace().nonEmpty).flatMap { base =>
      val ns = restNs(ident.namespace())
      val key = (ns, ident.name())
      Option(restRootCache.get(key)).orElse {
        IcebergRestClient.tableRootOf(base, ns, ident.name()).map { root =>
          IcebergRestCommit.register(root,
            IcebergRestCommit.Route(base, ns, ident.name()))
          restRootCache.put(key, root)
          root
        }
      }
    }

  // ---- ProcedureCatalog: CALL cat.system.expire_snapshots('db.t', 1)
  // etc. — the reference's maintenance transactions as SQL procedures.
  // Their tables resolve through loadFormat, like every other statement:
  // over REST that registers the commit route, so maintenance commits
  // ride the update-table protocol too
  private lazy val procedures: Map[String,
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure] =
    GraftProcedures.all(this)

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val ok = ident.namespace().sameElements(Array("system"))
    procedures.get(ident.name().toLowerCase(java.util.Locale.ROOT))
      .filter(_ => ok)
      .getOrElse(throw new RuntimeException(
        s"no such procedure: ${ident.namespace().mkString(".")}.${ident.name()}"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (!namespace.sameElements(Array("system"))) Array.empty
    else procedures.keys.toArray.sorted
      .map(n => Identifier.of(Array("system"), n))

  // ---- FunctionCatalog: expose the bucket transform so Spark can
  // align KeyGroupedPartitioning across tables (storage-partitioned
  // joins over bucket-partitioned tables; identity SPJ needs no
  // function resolution, bucket SPJ does)
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    ("bucket" +: GraftTableCatalog.DatetimeFunctions)
      .map(n => Identifier.of(Array.empty[String], n)).toArray

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    ident.name().toLowerCase match {
      case "bucket" => GraftBucketFunction
      case n if GraftTableCatalog.DatetimeFunctions.contains(n) =>
        GraftDatetimeFunction(n)
      case _ => throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchFunctionException(ident)
    }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    // REST mode (the reference's standard multi-engine deployment:
    // RestCatalog as the SQL layer's Catalog —
    // iceberg-rest-catalog/src/catalog.rs:61 via
    // datafusion_iceberg/src/catalog/catalog.rs:34): point `uri` at an
    // Iceberg REST catalog server; namespaces/tables resolve over
    // HTTP and every metadata commit rides the update-table protocol
    // (the engine still writes data/manifest files to shared storage
    // directly). `warehouse` is not needed — locations come from the
    // server's metadata-location.
    restBase = Option(options.get("uri")).map(_.stripSuffix("/"))
    require(warehouse != null || restBase.isDefined,
      s"spark.sql.catalog.$name.warehouse or .uri must be set")
    // REST auth, the reference client's configuration shape
    // (configuration.rs bearer_access_token / oauth client
    // credentials): `token` installs a static bearer for THIS server;
    // `credential` ("id:secret") exchanges via /v1/oauth/tokens.
    // Tokens are scoped per server base — two catalogs with two
    // servers and two tokens coexist in one session.
    restBase.foreach { base =>
      Option(options.get("token"))
        .foreach(t => IcebergRestClient.setTokenFor(base, t))
      Option(options.get("credential")).foreach { cred =>
        val (id, secret) = cred.split(":", 2) match {
          case Array(i, s) => (i, s)
          case _ => throw new IllegalArgumentException(
            s"spark.sql.catalog.$name.credential must be 'clientId:secret'")
        }
        IcebergRestClient.authenticateFor(base, id, secret)
      }
    }
  }

  override def name(): String = catalogName

  /** A table REGISTERED from an external location (register_table)
    * holds only a pointer file at its conventional warehouse path;
    * reads and maintenance follow the pointer, DROP deletes only the
    * registration (reference: catalog/mod.rs:95 register_table). */
  private def resolveRoot(conventional: String): String = {
    val ptr = TableIO.path(conventional + "/" +
      GraftTableCatalog.LocationPointer)
    if (TableIO.exists(ptr)) TableIO.readString(ptr).trim else conventional
  }

  private def conventionalPath(ident: Identifier): String =
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  private def tableRoot(ident: Identifier): String =
    if (restBase.isDefined)
      restRootOf(ident).getOrElse(throw new org.apache.spark.sql.catalyst
        .analysis.NoSuchTableException(ident))
    else resolveRoot(conventionalPath(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] =
    restBase match {
      case Some(base) =>
        IcebergRestClient.listTables(base, restNs(namespace))
          .map(t => Identifier.of(namespace, t)).toArray
      case None =>
        val dir = TableIO.path((warehouse +: namespace.toSeq).mkString("/"))
        if (!TableIO.isDirectory(dir)) Array.empty
        else TableIO.listDir(dir).map(_.getPath).iterator
          // dot-names are staged CTAS dirs and props files — never tables
          .filter(p => !p.getName.startsWith(".") &&
            (Meta.exists(resolveRoot(p.toString)) ||
              graft.table.iceberg.IcebergTable.exists(p.toString)))
          .map(p => Identifier.of(namespace, p.getName))
          .toArray
    }

  override def loadTable(ident: Identifier): Table = {
    if (restBase.isDefined) {
      val base = restBase.get
      restRootOf(ident) match {
        case Some(r) => return GraftSparkTable.at(r)
        case None =>
          // a MATERIALIZED view's identifier serves its storage table
          // (reads cost O(materialization)); plain views resolve via
          // the GraftViewRead rule instead, never through loadTable
          if (ident.namespace().length >= 1) {
            IcebergRestClient.loadViewDef(base, restNs(ident.namespace()),
                ident.name()) match {
              case Some((_, _, true)) =>
                val (_, storage, _, _, _) = IcebergRestClient
                  .loadMaterializedView(base, restNs(ident.namespace()),
                    ident.name())
                return GraftSparkTable.at(storage)
              case _ =>
            }
          }
          // metadata tables over REST: cat.ns.t.files etc. — resolve
          // the PARENT through the protocol (namespace may itself be
          // multi-level: cat.a.b.t.files)
          val kind = ident.name().toLowerCase(java.util.Locale.ROOT)
          if (ident.namespace().length >= 2 &&
              (GraftMetadataSparkTable.Kinds.contains(kind) ||
                kind == "position_deletes" || kind == "refresh_state")) {
            val parent = Identifier.of(
              ident.namespace().init, ident.namespace().last)
            if (kind == "refresh_state") {
              val ns = restNs(parent.namespace())
              if (IcebergRestClient.viewExists(base, ns, parent.name())) {
                val (_, _, ver, recorded, current) = IcebergRestClient
                  .loadMaterializedView(base, ns, parent.name())
                return GraftMvRefreshState.table(recorded, current, ver)
              }
            } else restRootOf(parent).foreach(r => return metadataTable(r, kind))
          }
          throw new org.apache.spark.sql.catalyst.analysis
            .NoSuchTableException(ident)
      }
    }
    val root = tableRoot(ident)
    // a graft table, or a directory holding REAL Iceberg metadata,
    // which serves as a full interop table: standard SQL over any
    // engine's Iceberg output — reads, INSERT INTO / OVERWRITE and
    // row-level DELETE / UPDATE / MERGE
    val format = TableFormat.resolve(root)
    if (format.isDefined) new GraftSparkTable(root, format)
    // a MATERIALIZED view's identifier serves its storage table;
    // plain views resolve via the GraftViewRead rule instead
    else if (graft.table.Views.mvExists(root))
      GraftSparkTable.at(graft.table.Views.mvStorageRoot(root))
    else {
      // metadata tables (Spark-Iceberg UX): `SELECT * FROM cat.ns.t.files
      // / .snapshots / .history` — the trailing name selects the
      // metadata view over the table at cat.ns.t. A REAL table of the
      // same name takes precedence (checked above).
      val kind = ident.name().toLowerCase(java.util.Locale.ROOT)
      if (ident.namespace().nonEmpty && kind == "refresh_state") {
        // MV staleness as a metadata table (the .refs-style UX):
        // cat.ns.mv.refresh_state — one row per source with the
        // lineage recorded at last refresh vs the source's current
        // snapshot (reference: materialized_view_metadata.rs
        // refresh-state / source-table-states)
        val mvRoot =
          resolveRoot((warehouse +: ident.namespace().toSeq).mkString("/"))
        if (graft.table.Views.mvExists(mvRoot)) {
          val (recorded, current, ver) = graft.table.Views.mvState(mvRoot)
          return GraftMvRefreshState.table(recorded, current, ver)
        }
      }
      if (ident.namespace().nonEmpty &&
          (GraftMetadataSparkTable.Kinds.contains(kind) ||
            kind == "position_deletes")) {
        val parentRoot =
          resolveRoot((warehouse +: ident.namespace().toSeq).mkString("/"))
        if (Meta.exists(parentRoot)) return metadataTable(parentRoot, kind)
      }
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    }
  }

  /** `cat.ns.t.<kind>` over the table at `parentRoot`, either format:
    * the metadata tables and the data-scale position_deletes content
    * table render from the format handle their scan resolves. */
  private def metadataTable(parentRoot: String, kind: String): Table =
    if (kind == "position_deletes") new GraftPositionDeletesTable(parentRoot)
    else new GraftMetadataSparkTable(parentRoot, kind)

  private[spark] def loadFormat(ident: Identifier): TableFormat =
    TableFormat.resolve(tableRoot(ident)).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))

  /** SQL time travel: `SELECT ... FROM cat.ns.t VERSION AS OF <id>` —
    * or a branch/tag NAME, which pins that ref's current snapshot
    * (Iceberg's VERSION AS OF 'branch'). Both formats. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val format = loadFormat(ident)
    new GraftSparkTable(format.root, Some(format),
      Some(format.versionSnapshot(version, ident.toString)))
  }

  /** SQL time travel by time: `... TIMESTAMP AS OF '2024-01-01 ...'`,
    * resolved by the format's rule (see TableFormat.snapshotAt). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val format = loadFormat(ident)
    new GraftSparkTable(format.root, Some(format),
      Some(format.timestampSnapshot(timestampMicros, ident.toString)))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    restBase match {
      case Some(base) =>
        // CREATE TABLE over the protocol: the SERVER owns the metadata
        // file and chooses the location; loading back registers the
        // commit route for the writes that follow
        val ns = restNs(ident.namespace())
        if (IcebergRestClient.tableExists(base, ns, ident.name()))
          throw new org.apache.spark.sql.catalyst.analysis
            .TableAlreadyExistsException(ident)
        IcebergRestClient.createTable(base, ns, ident.name(), schema,
          partitions.toSeq.map(TableFormat.toIceTransform),
          properties.asScala.toMap - "owner" - "provider")
        return loadTable(ident)
      case None =>
    }
    val root = tableRoot(ident)
    if (Meta.exists(root) || graft.table.Views.viewExists(root))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    GraftTable.create(SparkSession.active, root, schema,
      spec = partitions.toSeq.map(TableFormat.toPartitionField),
      properties = properties.asScala.toMap - "owner" - "provider")
    GraftSparkTable.at(root)
  }

  // ---- staged CTAS / RTAS (StagingTableCatalog) ------------------------
  // Spark routes CREATE/REPLACE TABLE [AS SELECT] through these when the
  // catalog stages — the atomic execs, instead of the drop-then-create
  // non-atomic fallbacks. Semantics per mode live on the staged classes.

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = restBase match {
    case Some(base) =>
      // the protocol's two-phase create (stage-create flag,
      // create.rs:59): the table does not exist until the
      // assert-create commit publishes it
      val ns = restNs(ident.namespace())
      if (IcebergRestClient.tableExists(base, ns, ident.name()))
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(ident)
      new IcebergStagedCreateTable(
        IcebergRestClient.createTableStaged(base, ns, ident.name(), schema,
          partitions.toSeq.map(TableFormat.toIceTransform),
          properties.asScala.toMap - "owner" - "provider"),
        ident, base, ns)
    case None =>
      val root = tableRoot(ident)
      if (Meta.exists(root) || graft.table.iceberg.IcebergTable.exists(root) ||
          graft.table.Views.viewExists(root))
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(ident)
      stagedCreate(ident, schema, partitions, properties, orReplace = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    // over REST the replace commit rides the update-table protocol
    // through the registered route (restRootOf), so the server CAS
    // arbitrates it
    stagedReplace(ident, loadFormat(ident), schema, partitions, properties)

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val root =
      if (restBase.isDefined) restRootOf(ident)
      else Some(resolveRoot(conventionalPath(ident)))
    root.flatMap(TableFormat.resolve) match {
      case Some(format) => stagedReplace(ident, format, schema, partitions, properties)
      case None => restBase match {
        case Some(base) =>
          val ns = restNs(ident.namespace())
          new IcebergStagedCreateTable(
            IcebergRestClient.createTableStaged(base, ns, ident.name(),
              schema, partitions.toSeq.map(TableFormat.toIceTransform),
              properties.asScala.toMap - "owner" - "provider"),
            ident, base, ns)
        case None =>
          stagedCreate(ident, schema, partitions, properties, orReplace = true)
      }
    }
  }

  private def stagedCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String],
      orReplace: Boolean)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    // dot-hidden sibling inside the namespace dir: same filesystem and
    // parent as the final path (one rename publishes), excluded from
    // every listing by the dot-name convention
    val stagingRoot = ((warehouse +: ident.namespace().toSeq) :+
      s".stage-${ident.name()}-${java.util.UUID.randomUUID().toString.take(8)}")
      .mkString("/")
    GraftTable.create(SparkSession.active, stagingRoot, schema,
      spec = partitions.toSeq.map(TableFormat.toPartitionField),
      properties = properties.asScala.toMap - "owner" - "provider")
    new GraftStagedCreateTable(stagingRoot, conventionalPath(ident), ident,
      orReplace)
  }

  private def stagedReplace(ident: Identifier, format: TableFormat,
      schema: StructType, partitions: Array[Transform],
      properties: JMap[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    new StagedReplaceTable(format.root, ident, format.stageReplace(schema,
      partitions.toSeq, properties.asScala.toMap - "owner" - "provider"))

  /** ALTER TABLE on either format: ADD / DROP / RENAME COLUMN, ALTER
    * COLUMN TYPE and SET / UNSET TBLPROPERTIES (how a user opts a table
    * into another row-level mode). New columns get new ids; old
    * snapshots keep their shape and scans null-fill older files. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val format = loadFormat(ident)
    format.alter(changes)
    GraftSparkTable.at(format.root)
  }

  override def dropTable(ident: Identifier): Boolean = {
    restBase.foreach { base =>
      val ns = restNs(ident.namespace())
      restRootCache.remove((ns, ident.name()))
      return IcebergRestClient.tableRootOf(base, ns, ident.name()) match {
        case Some(root) =>
          IcebergRestClient.dropTable(base, ns, ident.name())
          IcebergRestCommit.deregister(root)
          true
        case None => false
      }
    }
    val conv = TableIO.path(conventionalPath(ident))
    // registered table: DROP removes only the registration pointer;
    // the external table's data and metadata stay untouched
    if (TableIO.exists(new org.apache.hadoop.fs.Path(conv,
        GraftTableCatalog.LocationPointer)))
      return TableIO.delete(conv, recursive = true)
    if (!Meta.exists(conv.toString)) false
    else TableIO.delete(conv, recursive = true)
  }

  // conventional paths, NOT resolved roots: renaming a registered
  // table moves its pointer, never the external data it names
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    restBase match {
      case Some(base) =>
        val ns = restNs(oldIdent.namespace())
        restRootCache.remove((ns, oldIdent.name()))
        restRootCache.remove((restNs(newIdent.namespace()), newIdent.name()))
        IcebergRestClient.tableRootOf(base, ns, oldIdent.name())
          .foreach(IcebergRestCommit.deregister)
        IcebergRestClient.renameTable(base, ns, oldIdent.name(),
          newIdent.name(), toNs = restNs(newIdent.namespace()))
      case None =>
        TableIO.rename(TableIO.path(conventionalPath(oldIdent)),
          TableIO.path(conventionalPath(newIdent)))
    }

  // ---- namespaces ----------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = restBase match {
    case Some(base) =>
      IcebergRestClient.listNamespaces(base)
        .map(_.split('\u001F').toArray[String]).toArray
    case None =>
      val dir = TableIO.path(warehouse)
      if (!TableIO.isDirectory(dir)) Array.empty
      else TableIO.listDir(dir).iterator.map(_.getPath)
        .filter(p => TableIO.isDirectory(p) && !Meta.exists(p.toString) &&
          !p.getName.startsWith("."))
        .map(p => Array(p.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else restBase match {
      // multi-level children under a parent (spec list_namespaces
      // with `parent`; reference Namespace is Vec<String> —
      // namespace.rs:14)
      case Some(base) =>
        IcebergRestClient.listNamespacesUnder(base,
            Some(restNs(namespace)))
          .map(_.split('\u001F').toArray[String]).toArray
      case None =>
        // warehouse mode nests namespaces as directories too: a child
        // is any subdirectory that is not a table or a view
        val dir = TableIO.path((warehouse +: namespace.toSeq).mkString("/"))
        if (!TableIO.isDirectory(dir)) Array.empty
        else TableIO.listDir(dir).iterator.map(_.getPath)
          .filter(p => TableIO.isDirectory(p) &&
            !p.getName.startsWith(".") &&
            !Meta.exists(resolveRoot(p.toString)) &&
            !graft.table.iceberg.IcebergTable.exists(p.toString) &&
            !graft.table.Views.viewExists(p.toString))
          .map(p => namespace :+ p.getName).toArray
    }

  /** Namespace properties per catalog instance: Spark's analyzer
    * calls loadNamespaceMetadata for every statement that references
    * the namespace (22 GETs in the WAP key), but it only wants
    * existence; the props it returns change only through namespace
    * DDL, which invalidates below. Same foreign-writer trade as
    * restRootCache. */
  private val nsPropsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Map[String, String])]()

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    restBase.foreach { base =>
      val ns = restNs(namespace)
      // entries are stamped with the credential that earned them: a
      // token change must re-consult the server (and surface its auth
      // error), never serve a body the old token fetched
      val stamp = IcebergRestClient.credentialStamp(base)
      Option(nsPropsCache.get(ns)).filter(_._1 == stamp)
        .foreach(p => return p._2.asJava)
      // only a server-confirmed 404 reads as "namespace missing" —
      // an auth failure or unreachable server surfaces as itself
      val props = IcebergRestClient.namespacePropertiesOpt(base, ns)
        .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchNamespaceException(namespace.toSeq))
      nsPropsCache.put(ns, (stamp, props))
      return props.asJava
    }
    val dir = TableIO.path((warehouse +: namespace.toSeq).mkString("/"))
    if (!TableIO.isDirectory(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        namespace.toSeq)
    graft.table.NsProps.read(dir.toString).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = {
    // Spark stamps reserved entries (owner) the stores don't persist
    val props = metadata.asScala.toMap - "owner"
    restBase match {
      case Some(base) =>
        nsPropsCache.remove(restNs(namespace))
        IcebergRestClient.createNamespace(base, restNs(namespace), props)
      case None =>
        val dir = (warehouse +: namespace.toSeq).mkString("/")
        TableIO.mkdirs(TableIO.path(dir))
        if (props.nonEmpty) graft.table.NsProps.lock.synchronized {
          graft.table.NsProps.write(dir, props)
        }
    }
  }

  /** ALTER NAMESPACE ... SET/UNSET PROPERTIES — REST mode rides the
    * protocol's update_properties (updated/removed/missing response);
    * warehouse mode edits the shared .nsprops.json convention. */
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = {
    val (sets, removes) = changes.foldLeft(
        (Map.empty[String, String], Seq.empty[String])) {
      case ((s, r), c: NamespaceChange.SetProperty) =>
        (s + (c.property() -> c.value()), r)
      case ((s, r), c: NamespaceChange.RemoveProperty) =>
        (s, r :+ c.property())
      case (_, other) =>
        throw new UnsupportedOperationException(s"namespace change $other")
    }
    restBase match {
      case Some(base) =>
        nsPropsCache.remove(restNs(namespace))
        IcebergRestClient.updateNamespaceProperties(base, restNs(namespace),
          sets, removes)
        ()
      case None =>
        val dir = (warehouse +: namespace.toSeq).mkString("/")
        if (!TableIO.isDirectory(TableIO.path(dir)))
          throw new org.apache.spark.sql.catalyst.analysis
            .NoSuchNamespaceException(namespace.toSeq)
        graft.table.NsProps.update(dir, sets, removes)
        ()
    }
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    restBase match {
      case Some(base) =>
        val ns = restNs(namespace)
        restRootCache.keySet.removeIf(_._1 == ns)
        nsPropsCache.remove(ns)
        IcebergRestClient.dropNamespace(base, ns)
      case None =>
        val dir = TableIO.path((warehouse +: namespace.toSeq).mkString("/"))
        if (!TableIO.isDirectory(dir)) false
        else TableIO.delete(dir, recursive = true)
    }
}

/** MV staleness rendered as a metadata table (`cat.ns.mv.refresh_state`)
  * — one row per source: the snapshot recorded by the last refresh vs
  * the source's current snapshot, stale flag, and the storage table's
  * refresh version (reference: materialized_view_metadata.rs
  * refresh-state / source-table-states). Metadata-scale. */
object GraftMvRefreshState {
  import org.apache.spark.sql.types._

  val schema: StructType = StructType(Seq(
    StructField("source", StringType),
    StructField("recorded_snapshot_id", LongType),
    StructField("current_snapshot_id", LongType),
    StructField("stale", BooleanType),
    StructField("refresh_version_id", LongType)))

  def table(recorded: Map[String, Long], current: Map[String, Long],
      refreshVersion: Long): Table = {
    val rows: Seq[Seq[Any]] =
      (recorded.keySet ++ current.keySet).toSeq.sorted.map { src =>
        val r = recorded.getOrElse(src, -1L)
        val c = current.getOrElse(src, -1L)
        Seq[Any](src, r, c, r != c, refreshVersion)
      }
    new Table with SupportsRead {
      import org.apache.spark.sql.connector.read._
      override def name(): String = "refresh_state"
      override def schema(): StructType = GraftMvRefreshState.schema
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap)
          : ScanBuilder = new ScanBuilder {
        override def build(): Scan = new Scan with Batch {
          override def readSchema(): StructType = GraftMvRefreshState.schema
          override def toBatch: Batch = this
          override def planInputPartitions(): Array[InputPartition] =
            Array(MetadataRowsPartition(rows))
          override def createReaderFactory(): PartitionReaderFactory =
            MetadataRowsReaderFactory(GraftMvRefreshState.schema)
        }
      }
    }
  }
}

object GraftTableCatalog {
  val DatetimeFunctions: Seq[String] = Seq("years", "months", "days", "hours")

  /** Pointer file a register_table registration leaves at the
    * conventional warehouse path, naming the external table root. */
  val LocationPointer = "location.text"
}

/** Read-only metadata tables in the Spark-Iceberg UX: the table's
  * files / snapshots / history exposed as `cat.ns.t.files` etc.
  * (reference: the spec's metadata-table listings over manifests).
  * Content is metadata-scale (one row per file / snapshot), built on
  * the driver from the manifest tree — no data IO. */
object GraftMetadataSparkTable {
  import org.apache.spark.sql.types._

  val Kinds: Set[String] =
    Set("files", "snapshots", "history", "partitions", "refs", "manifests",
      "entries", "delete_files", "all_files", "metadata_log_entries")

  def schemaOf(kind: String): StructType = kind match {
    case "files" => StructType(Seq(
      StructField("path", StringType),
      StructField("partition", StringType),
      StructField("spec_id", IntegerType),
      StructField("content", IntegerType),
      StructField("records", LongType),
      StructField("bytes", LongType)))
    case "snapshots" => StructType(Seq(
      StructField("snapshot_id", LongType),
      StructField("parent_id", LongType),
      StructField("sequence_number", LongType),
      StructField("committed_at", TimestampType),
      StructField("operation", StringType),
      StructField("added_files", IntegerType),
      StructField("removed_files", IntegerType)))
    case "history" => StructType(Seq(
      StructField("made_current_at", TimestampType),
      StructField("snapshot_id", LongType),
      StructField("parent_id", LongType),
      StructField("is_current_ancestor", BooleanType)))
    case "partitions" => StructType(Seq(
      StructField("partition", StringType),
      StructField("spec_id", IntegerType),
      StructField("file_count", LongType),
      StructField("record_count", LongType),
      StructField("total_bytes", LongType)))
    case "refs" => StructType(Seq(
      StructField("name", StringType),
      StructField("type", StringType),
      StructField("snapshot_id", LongType),
      StructField("max_ref_age_ms", LongType),
      StructField("min_snapshots_to_keep", IntegerType),
      StructField("max_snapshot_age_ms", LongType)))
    case "manifests" => StructType(Seq(
      StructField("snapshot_id", LongType),
      StructField("path", StringType),
      StructField("form", StringType), // inline | spilled | group
      StructField("stat_columns", IntegerType)))
    case "entries" => StructType(Seq(
      StructField("status", IntegerType), // 1 = added, 2 = deleted
      StructField("snapshot_id", LongType),
      StructField("sequence_number", LongType),
      StructField("content", IntegerType),
      StructField("path", StringType),
      StructField("partition", StringType),
      StructField("records", LongType),
      StructField("bytes", LongType)))
    case "delete_files" => StructType(Seq(
      StructField("path", StringType),
      StructField("partition", StringType),
      StructField("spec_id", IntegerType),
      StructField("content", IntegerType), // 1 = position, 2 = equality
      StructField("records", LongType),
      StructField("bytes", LongType),
      StructField("equality_columns", StringType),
      StructField("data_sequence", LongType)))
    case "all_files" => StructType(Seq(
      StructField("path", StringType),
      StructField("partition", StringType),
      StructField("spec_id", IntegerType),
      StructField("content", IntegerType),
      StructField("records", LongType),
      StructField("bytes", LongType),
      StructField("live", BooleanType)))
    case "metadata_log_entries" => StructType(Seq(
      StructField("timestamp", TimestampType),
      StructField("file", StringType),
      StructField("version", IntegerType),
      StructField("latest_snapshot_id", LongType)))
  }

  /** The format of the table at `root`, read now. */
  private[spark] def formatAt(root: String): TableFormat =
    TableFormat.resolve(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))

  /** The rows of `kind` over the facts `format` gives. */
  def rowsOf(format: TableFormat, kind: String): Seq[Seq[Any]] = {
    def fileRow(f: TableFormat.MetaFile): Seq[Any] =
      Seq(f.path, f.partition, f.specId, f.content, f.records, f.bytes)
    kind match {
      case "files" => format.liveMetaFiles.map(fileRow)
      case "snapshots" => format.snapshotCounts.map { case (s, added, removed) =>
        Seq(s.id, s.parentId.getOrElse(-1L), s.sequence,
          new java.sql.Timestamp(s.timestampMs), s.operation, added, removed)
      }
      case "history" =>
        val snaps = format.snapshotList
        val byId = snaps.map(s => s.id -> s).toMap
        val ancestry = Iterator.iterate(format.currentSnapshotId.flatMap(byId.get))(
          _.flatMap(_.parentId).flatMap(byId.get)).takeWhile(_.isDefined)
          .map(_.get.id).toSet
        snaps.map(s => Seq(new java.sql.Timestamp(s.timestampMs), s.id,
          s.parentId.getOrElse(-1L), ancestry.contains(s.id)))
      case "partitions" =>
        format.liveMetaFiles.filter(_.content == 0)
          .groupBy(f => (f.specId, f.partition)).toSeq.sortBy(_._1._2)
          .map { case ((specId, part), files) => Seq(part, specId,
            files.size.toLong, files.map(_.records).sum, files.map(_.bytes).sum)
          }
      case "refs" => format.refsRows
      case "manifests" => format.manifestsRows
      case "entries" =>
        // removed entries carry only paths: their shape resolves
        // through the entry that listed the file (path → file across
        // the whole history)
        val changes = format.snapshotFiles
        lazy val byPath = changes.flatMap(c => c.added ++ c.carried)
          .map(f => f.path -> f).toMap
        changes.flatMap { c =>
          val s = c.snapshot
          c.added.map(f => Seq(1, s.id, f.sequence, f.content, f.path,
            f.partition, f.records, f.bytes)) ++
            c.removed.map { p =>
              val f = byPath.get(p)
              Seq(2, s.id, s.sequence, f.map(_.content).getOrElse(0), p,
                f.map(_.partition).getOrElse(""), f.map(_.records).getOrElse(-1L),
                f.map(_.bytes).getOrElse(-1L))
            }
        }
      case "delete_files" =>
        format.liveMetaFiles.filter(_.content != 0).map(f =>
          fileRow(f) ++ Seq(f.equalityColumns, f.sequence))
      case "all_files" =>
        // every file the history lists (the spec's union across valid
        // snapshots), flagged live or not
        val live = format.liveMetaFiles.map(_.path).toSet
        format.snapshotFiles.flatMap(c => c.added ++ c.carried)
          .groupBy(_.path).toSeq.sortBy(_._1)
          .map { case (p, fs) => fileRow(fs.head) :+ live.contains(p) }
      case "metadata_log_entries" =>
        val VersionFile = """v(\d+)\.metadata\.json""".r
        TableIO.listFilesRecursive(Meta.metadataDir(format.root)).flatMap {
          case (p, _, mtime) => p.getName match {
            case VersionFile(n) => Some((n.toInt, p, mtime))
            case _ => None
          }
        }.sortBy(_._1).map { case (v, p, mtime) =>
          val snap = scala.util.Try(format.currentSnapshotOf(TableIO.readString(p)))
            .toOption.flatten
          Seq(new java.sql.Timestamp(mtime), p.toString, v, snap.map(Long.box).orNull)
        }
    }
  }
}

/** `cat.ns.t.position_deletes`: the CONTENT of live positional
  * delete files — (file_path, pos, delete_file) — unlike the other
  * metadata tables this is data-scale, so it reads DISTRIBUTED: one
  * input partition per delete file, parquet pages decoded on the
  * executors, delete rows never pass through the driver. The files
  * come from the table's format handle, resolved when the scan is
  * built. */
class GraftPositionDeletesTable(root: String) extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read._
  import org.apache.spark.sql.types.{LongType, StringType, StructField}
  import org.apache.spark.sql.execution.datasources.GraftConnectorShim

  private val posSchema = StructType(Seq(
    StructField("file_path", StringType),
    StructField("pos", LongType)))

  override def name(): String = s"$root#position_deletes"
  override def schema(): StructType =
    StructType(posSchema.fields :+ StructField("delete_file", StringType))
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = {
        val files = GraftMetadataSparkTable.formatAt(root).positionDeleteFiles
        new Scan with Batch {
          override def readSchema(): StructType = schema()
          override def toBatch: Batch = this
          override def planInputPartitions(): Array[InputPartition] =
            files.zipWithIndex.map { case ((uri, sz, _), i) =>
              GraftConnectorShim.filePartition(i, Seq(
                GraftConnectorShim.partitionedFile(uri, sz, 0L))): InputPartition
            }.toArray
          override def createReaderFactory(): PartitionReaderFactory =
            AppendConstStringFactory(
              GraftConnectorShim.parquetReaderFactory(
                SparkSession.active, posSchema, posSchema, Array.empty),
              files.zipWithIndex.map { case (f, i) => i -> f._3 }.toMap, posSchema)
        }
      }
    }
}

/** The metadata tables of both formats: one renderer
  * (`GraftMetadataSparkTable.rowsOf`) over the facts of the table's
  * format handle, resolved when the scan is built, so a reused
  * DataFrame sees later commits. */
class GraftMetadataSparkTable(root: String, kind: String)
  extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read._

  override def name(): String = s"$root#$kind"
  override def schema(): StructType = GraftMetadataSparkTable.schemaOf(kind)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = {
        val rows = GraftMetadataSparkTable.rowsOf(
          GraftMetadataSparkTable.formatAt(root), kind)
        new Scan with Batch {
          override def readSchema(): StructType = schema()
          override def toBatch: Batch = this
          override def planInputPartitions(): Array[InputPartition] =
            Array(MetadataRowsPartition(rows))
          override def createReaderFactory(): PartitionReaderFactory =
            MetadataRowsReaderFactory(schema())
        }
      }
    }
}

case class MetadataRowsPartition(rows: Seq[Seq[Any]])
  extends org.apache.spark.sql.connector.read.InputPartition

case class MetadataRowsReaderFactory(schema: StructType)
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] =
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private val it = p.asInstanceOf[MetadataRowsPartition].rows.iterator
      private val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(schema)
      private var cur: org.apache.spark.sql.catalyst.InternalRow = _
      override def next(): Boolean =
        if (!it.hasNext) false
        else {
          cur = conv(org.apache.spark.sql.Row(it.next(): _*))
            .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
          true
        }
      override def get(): org.apache.spark.sql.catalyst.InternalRow = cur
      override def close(): Unit = ()
    }
}
