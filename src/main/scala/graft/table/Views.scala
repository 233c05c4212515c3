package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import com.fasterxml.jackson.databind.ObjectMapper
import graft.table.iceberg.{IcebergMetadata, IcebergTable}
import scala.jdk.CollectionConverters._

/** Views and materialized views over GraftTables (reference:
  * iceberg-rust-spec view_metadata.rs / materialized_view_metadata.rs,
  * iceberg-rust/src/materialized_view, datafusion_iceberg/src/
  * materialized_view.rs).
  *
  * A view is a versioned SQL definition resolved against named source
  * tables at query time. A materialized view adds a storage GraftTable
  * plus refresh lineage: each refresh records the source snapshot ids
  * it read (like the reference's rewrite_with_lineage), and freshness
  * is "recorded lineage == current source snapshots".
  */
object Views {
  private val mapper = new ObjectMapper()

  /** One SQL text for one engine dialect (Iceberg view spec: a view
    * version carries a list of representations; reference:
    * iceberg-rust/src/view/transaction/mod.rs:31
    * update_representation). */
  case class ViewRepresentation(dialect: String, sql: String)

  /** One entry of the spec's view-version registry (view_metadata.rs
    * ViewVersion): a version id plus its representations. The REST
    * CommitViewRequest may add versions WITHOUT making them current
    * and later set-current any registered id — so the registry must
    * outlive the mirror `sql`/`representations` fields (which always
    * reflect the CURRENT version, for every non-REST consumer). */
  case class ViewVersionDef(versionId: Int,
      representations: Seq[ViewRepresentation],
      storageTable: Option[(Seq[String], String)] = None)

  case class ViewDef(name: String, sql: String, sources: Map[String, String],
      version: Int,
      representations: Seq[ViewRepresentation] = Seq.empty,
      uuid: String = "",
      properties: Map[String, String] = Map.empty,
      location: String = "",
      versions: Seq[ViewVersionDef] = Seq.empty,
      currentVersionId: Int = 0,
      // the reference's materialized-view form: view metadata whose
      // Materialization IS a storage-table Identifier
      // (iceberg-rust-spec/src/spec/materialized_view_metadata.rs:20
      // GeneralViewMetadata<Identifier>, view_metadata.rs:305
      // Version.storage_table) — (namespace levels, table name)
      storageTable: Option[(Seq[String], String)] = None,
      // the create request's Iceberg schema JSON, kept verbatim so a
      // strict client's view metadata round-trips its schemas list
      schemaJson: Option[String] = None) {
    /** Stable identity for spec asserts (commit.rs AssertViewUuid):
      * files written before uuid support resolve to a deterministic
      * name-derived uuid, so existing views stay assertable. */
    def viewUuid: String =
      if (uuid.nonEmpty) uuid
      else java.util.UUID.nameUUIDFromBytes(
        ("graft-view:" + name).getBytes("UTF-8")).toString

    /** Effective representations: `sql` is the canonical "spark"
      * dialect; files written before multi-dialect support read as
      * that single representation. */
    def allRepresentations: Seq[ViewRepresentation] =
      if (representations.nonEmpty) representations
      else Seq(ViewRepresentation("spark", sql))

    def sqlFor(dialect: String): Option[String] =
      allRepresentations.find(_.dialect == dialect).map(_.sql)
  }

  private def viewPath(root: String) = TableIO.path(root, "view.json")

  def createView(root: String, name: String, sql: String,
      sources: Map[String, String]): ViewDef = {
    val d = ViewDef(name, sql, sources, 1,
      uuid = java.util.UUID.randomUUID().toString)
    writeView(root, d)
    d
  }

  private def viewNode(d: ViewDef, version: Int) = {
    val n = mapper.createObjectNode()
    n.put("name", d.name); n.put("sql", d.sql); n.put("version", version)
    val s = n.putObject("sources")
    d.sources.foreach { case (k, v) => s.put(k, v) }
    if (d.representations.nonEmpty) {
      val reps = n.putArray("representations")
      d.representations.foreach { r =>
        val rn = reps.addObject()
        rn.put("type", "sql"); rn.put("dialect", r.dialect); rn.put("sql", r.sql)
      }
    }
    if (d.uuid.nonEmpty) n.put("uuid", d.uuid)
    if (d.properties.nonEmpty) {
      val p = n.putObject("properties")
      d.properties.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
    }
    if (d.location.nonEmpty) n.put("location", d.location)
    def putStorage(into: com.fasterxml.jackson.databind.node.ObjectNode,
        st: (Seq[String], String)): Unit = {
      val sn = into.putObject("storage-table")
      val arr = sn.putArray("namespace")
      st._1.foreach(arr.add)
      sn.put("name", st._2)
      ()
    }
    d.storageTable.foreach(putStorage(n, _))
    d.schemaJson.foreach(n.put("schema-json", _))
    if (d.versions.nonEmpty) {
      n.put("current-version-id", d.currentVersionId)
      val vs = n.putArray("view-versions")
      d.versions.foreach { v =>
        val vn = vs.addObject()
        vn.put("version-id", v.versionId)
        val reps = vn.putArray("representations")
        v.representations.foreach { r =>
          val rn = reps.addObject()
          rn.put("type", "sql"); rn.put("dialect", r.dialect)
          rn.put("sql", r.sql)
        }
        v.storageTable.foreach(putStorage(vn, _))
      }
    }
    n
  }

  private def writeView(root: String, d: ViewDef): Unit = {
    TableIO.mkdirs(TableIO.path(root))
    TableIO.writeString(viewPath(root),
      mapper.writeValueAsString(viewNode(d, d.version)))
  }

  def loadView(root: String): ViewDef = loadViewVersioned(root)._1

  /** Current view definition + the version file number it came from.
    * Versioned chain: view-v{N}.json written by commitViewAt (the
    * REST replace-view path); a bare view.json (createView) reads as
    * version 1. */
  def loadViewVersioned(root: String): (ViewDef, Int) = {
    val dir = TableIO.path(root)
    val versioned = TableIO.listDir(dir).map(_.getPath.getName)
      .flatMap {
        case s if s.startsWith("view-v") && s.endsWith(".json") =>
          s.stripPrefix("view-v").stripSuffix(".json").toIntOption
        case _ => None
      }
    val (p, v) = versioned.maxOption match {
      case Some(n) => (TableIO.path(root, s"view-v$n.json"), n)
      case None => (viewPath(root), 1)
    }
    val n = mapper.readTree(TableIO.readString(p))
    val reps = Option(n.get("representations")).map(_.elements().asScala.map(rn =>
      ViewRepresentation(rn.get("dialect").asText(), rn.get("sql").asText())
    ).toSeq).getOrElse(Seq.empty)
    def storageOf(node: com.fasterxml.jackson.databind.JsonNode)
        : Option[(Seq[String], String)] =
      Option(node.get("storage-table")).filterNot(_.isNull).map(st =>
        (st.get("namespace").elements().asScala.map(_.asText()).toSeq,
          st.get("name").asText()))
    val versions = Option(n.get("view-versions"))
      .map(_.elements().asScala.map { vn =>
        ViewVersionDef(vn.get("version-id").asInt(),
          Option(vn.get("representations"))
            .map(_.elements().asScala.map(rn => ViewRepresentation(
              rn.get("dialect").asText(), rn.get("sql").asText())).toSeq)
            .getOrElse(Seq.empty),
          storageTable = storageOf(vn))
      }.toSeq).getOrElse(Seq.empty)
    (ViewDef(n.get("name").asText(), n.get("sql").asText(),
      n.get("sources").properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap,
      n.get("version").asInt(), reps,
      uuid = Option(n.get("uuid")).map(_.asText()).getOrElse(""),
      properties = Option(n.get("properties")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty),
      location = Option(n.get("location")).map(_.asText()).getOrElse(""),
      versions = versions,
      currentVersionId = Option(n.get("current-version-id"))
        .map(_.asInt()).getOrElse(0),
      storageTable = storageOf(n),
      schemaJson = Option(n.get("schema-json")).map(_.asText())), v)
  }

  def viewExists(root: String): Boolean =
    TableIO.exists(viewPath(root)) || (TableIO.isDirectory(TableIO.path(root)) &&
      TableIO.listDir(TableIO.path(root)).exists(st =>
        st.getPath.getName.startsWith("view-v") &&
          st.getPath.getName.endsWith(".json")))

  /** CAS-commit the next view version against the base the caller
    * loaded: the rename-without-replace of view-v{base+1}.json is the
    * atomic claim — a racer that committed first wins, this returns
    * false (REST maps it to 409). Mirrors the reference's versioned
    * view representations (iceberg-rust/src/view/transaction/mod.rs:31
    * update_representation). */
  def commitViewAt(root: String, d: ViewDef, baseVersion: Int): Boolean = {
    TableIO.mkdirs(TableIO.path(root))
    val tmp = TableIO.path(root,
      s".tmp-view-${java.util.UUID.randomUUID().toString.take(8)}.json")
    TableIO.writeString(tmp,
      mapper.writeValueAsString(viewNode(d, baseVersion + 1)))
    val ok = TableIO.renameNoReplace(tmp,
      TableIO.path(root, s"view-v${baseVersion + 1}.json"))
    if (!ok) TableIO.delete(tmp)
    ok
  }

  /** Dialect evolution (reference: view/transaction/mod.rs:31
    * update_representation): upsert one dialect's SQL as a NEW view
    * version via the versioned-file CAS. The "spark" dialect is the
    * canonical one `queryView` executes, so updating it also moves
    * the primary SQL. Returns the committed (def, version); throws
    * on a lost commit race — callers reload and retry like a table
    * commit conflict. */
  def updateRepresentation(root: String, dialect: String,
      sql: String): (ViewDef, Int) = {
    val (cur, curVersion) = loadViewVersioned(root)
    val reps = cur.allRepresentations.filterNot(_.dialect == dialect) :+
      ViewRepresentation(dialect, sql)
    val next = cur.copy(
      sql = if (dialect == "spark") sql else cur.sql,
      representations = reps)
    if (!commitViewAt(root, next, curVersion))
      throw new Meta.CommitConflict(curVersion + 1)
    (next, curVersion + 1)
  }

  /** Execute a view: register each source table's current scan as a
    * temp view, run the SQL. The plan is fully declarative — Catalyst
    * sees straight through to the parquet scans.
    *
    * A DOTTED alias (e.g. `cat.db.t`) marks a source the SQL already
    * references through a session catalog — no temp view is (or can
    * be) registered for it; the alias exists purely to carry refresh
    * lineage. That is the shape plugin-created MVs use. */
  def queryView(spark: SparkSession, root: String): DataFrame = {
    val d = loadView(root)
    query(spark, d, d.sources.filterNot(_._1.contains('.')).map {
      case (alias, tableRoot) => alias -> new Source(spark, tableRoot)
    })
  }

  /** `d`'s SQL over `plain` registered as temp views of their aliases. */
  private def query(spark: SparkSession, d: ViewDef,
      plain: Map[String, Source]): DataFrame = {
    plain.foreach { case (alias, src) => src.scan().createOrReplaceTempView(alias) }
    spark.sql(d.sqlFor("spark").getOrElse(d.sql))
  }

  /** Current snapshot of a source table root, whichever dialect lives
    * there: graft metadata, real Iceberg metadata (REST-served
    * sources), or 0 for an empty/missing root — so MV freshness works
    * over both table formats. */
  private[graft] def sourceSnapshotOf(troot: String): Long =
    snapshotOf(Meta.currentMetadata(troot))

  private def snapshotOf(
      current: Option[Either[Meta.TableMetadata, IcebergMetadata.IceMetadata]]): Long =
    current.flatMap(_.fold(_.currentSnapshotId, _.currentSnapshotId)).getOrElse(0L)

  /** A view's source table as of ONE read of its current metadata
    * (Meta.currentMetadata), graft or real-format Iceberg: a refresh's
    * scans, append checks and lineage stamp all see that snapshot. */
  private final class Source(spark: SparkSession, root: String) {
    private val current = Meta.currentMetadata(root)
    def snapshotId: Long = snapshotOf(current)
    private def graftTable = GraftTable.loaded(spark, root)
    private def iceberg(m: IcebergMetadata.IceMetadata) =
      IcebergTable.fromMetadataAt(spark, root, m)
    private def missing = throw new IllegalStateException(s"no table at $root")

    def scan(): DataFrame = current match {
      case Some(Left(m)) => graftTable.scan(m = m)
      case Some(Right(m)) => iceberg(m).scan()
      case None => missing
    }
    def appendsOnlySince(since: Option[Long]): Boolean = current match {
      case Some(Left(m)) => graftTable.appendsOnlySince(since, m)
      case Some(Right(m)) => iceberg(m).appendsOnlySince(since)
      case None => false
    }
    def scanAppendedSince(since: Option[Long]): DataFrame = current match {
      case Some(Left(m)) => graftTable.scanAppendedSince(since, m)
      case Some(Right(m)) => iceberg(m).scanAppendedSince(since)
      case None => missing
    }
  }

  // ---- materialized view ---------------------------------------------

  class MaterializedView(val root: String, val spark: SparkSession) {
    def view: ViewDef = loadView(root)
    def storage: GraftTable = GraftTable.load(spark, s"$root/storage")

    private def currentSourceSnapshots: Map[String, Long] =
      view.sources.map { case (alias, tableRoot) =>
        alias -> sourceSnapshotOf(tableRoot)
      }

    private def sourcesOf(d: ViewDef): Map[String, Source] =
      d.sources.map { case (alias, tableRoot) => alias -> new Source(spark, tableRoot) }

    private def lineageOf(sources: Map[String, Source]): Map[String, Long] =
      sources.map { case (alias, src) => alias -> src.snapshotId }

    /** Lineage recorded by the last refresh (empty → never refreshed). */
    def recordedLineage: Map[String, Long] = {
      val m = storage.meta
      m.currentSnapshotId.flatMap(m.snapshot).map(_.lineage).getOrElse(Map.empty)
    }

    /** Fresh iff every source is still at its refresh-time snapshot. */
    def isFresh: Boolean = recordedLineage == currentSourceSnapshots

    /** Full refresh: recompute the view and overwrite storage, stamping
      * the source snapshot lineage (reference: materialized_view.rs
      * full refresh + rewrite_with_lineage). */
    def refresh(): MaterializedView = {
      val d = view
      refreshFull(d, sourcesOf(d))
      this
    }

    /** Full refresh over sources read once: the scans and the lineage
      * stamp see the same snapshots. */
    private def refreshFull(d: ViewDef, sources: Map[String, Source]): Unit =
      storage.overwrite(query(spark, d, sources.filterNot(_._1.contains('.'))),
        lineage = lineageOf(sources))

    /** Incremental refresh (the reference's roadmap feature): valid
      * when every source moved by pure appends and the view's
      * aggregates are distributive. The view SQL runs over ONLY the
      * appended files, then `foldSql` (provided at creation) merges
      * the delta with the stored state over a temp view named
      * `mv_delta_union` — IO is proportional to new data, not source
      * size. Falls back to full refresh (returns false) otherwise.
      *
      * Delta scoping by alias shape: a plain alias becomes a temp
      * view of that name (the view SQL referenced the source through
      * it); a DOTTED alias — what CREATE MATERIALIZED VIEW derives
      * from the analyzed query, `db.t` referenced as `cat.db.t` in
      * the stored SQL — cannot be a temp view, so the stored SQL is
      * PARSED and every relation resolving to the source's ROOT is
      * substituted with the delta's plan directly. Root identity is
      * decided by `rootOf` (supplied by the catalog layer, which
      * knows how relation names map to storage roots) — exact
      * equality, so a same-named table in a DIFFERENT catalog is
      * never mistaken for the source. If any dotted source matches
      * no relation (the stored SQL reaches it under a spelling the
      * resolver cannot map), the refresh falls back to FULL rather
      * than silently treating the whole source as its own delta. */
    def refreshIncremental(
        rootOf: Seq[String] => Option[String] = _ => None): Boolean = {
      val d = view
      val foldSql = loadFold(root)
      val lineage = recordedLineage
      // BOTH dialects expose appendsOnlySince/scanAppendedSince:
      // graft tables natively, adopted/REST-served real-format tables
      // through the interop incremental scan — a row-changing snapshot
      // (delete/overwrite/compaction) on either falls back to full
      // refresh honestly
      val sources = sourcesOf(d)
      def appendDelta(alias: String): DataFrame =
        sources(alias).scanAppendedSince(lineage.get(alias))
      val incrementalOk = foldSql.nonEmpty && lineage.nonEmpty &&
        sources.forall { case (alias, src) =>
          src.appendsOnlySince(lineage.get(alias))
        }
      if (!incrementalOk) { refreshFull(d, sources); return false }
      val (dotted, plain) = d.sources.partition(_._1.contains('.'))
      plain.keys.foreach(alias => appendDelta(alias).createOrReplaceTempView(alias))
      val delta =
        if (dotted.isEmpty) spark.sql(d.sql)
        else {
          def norm(p: String): String =
            TableIO.path(p).toUri.getPath.stripSuffix("/")
          val deltaPlans = dotted.map { case (alias, tableRoot) =>
            norm(tableRoot) -> (alias, appendDelta(alias).queryExecution.logical)
          }.toMap
          // a relation substitutes ONLY when the resolver maps its
          // name to exactly a source's storage root
          def deltaFor(parts: Seq[String]) =
            rootOf(parts).map(norm).flatMap(deltaPlans.get)
          val matched = scala.collection.mutable.Set[String]()
          import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
          val substituted = spark.sessionState.sqlParser.parsePlan(d.sql)
            .transformUpWithSubqueries {
              case ur: UnresolvedRelation
                  if deltaFor(ur.multipartIdentifier).isDefined =>
                val (alias, plan) = deltaFor(ur.multipartIdentifier).get
                matched += alias
                SubqueryAlias(ur.multipartIdentifier.last, plan)
            }
          val unmatched = dotted.map(_._1).filterNot(matched)
          if (unmatched.nonEmpty) {
            // the stored SQL never reaches these sources under a
            // resolvable spelling — running it unsubstituted would
            // read the FULL source as its own "delta" and fold every
            // pre-existing row twice; full refresh is the only honest
            // answer
            refreshFull(d, sources)
            return false
          }
          org.apache.spark.sql.GraftShim.ofRows(spark, substituted)
        }
      storage.scan().unionByName(delta)
        .createOrReplaceTempView("mv_delta_union")
      val folded = spark.sql(foldSql.get)
      storage.overwrite(folded, lineage = lineageOf(sources))
      true
    }

    /** Read the materialization (does not implicitly refresh). */
    def read: DataFrame = storage.scan()
  }

  // ---- REST-facing MV state (metadata-only, no SparkSession) ---------
  // The catalog serves MV create/load/drop without running a query
  // engine (reference: iceberg-rest-catalog/src/catalog.rs:387 —
  // create_materialized_view creates the storage TABLE from a
  // client-provided schema, then the view; freshness is derived from
  // metadata alone, per materialized_view_metadata.rs refresh-state).

  def mvStorageRoot(root: String): String = s"$root/storage"

  /** A view-output schema may INHERIT parquet.field.id metadata from
    * the scanned source columns (id-resolved reads stamp it), while
    * computed columns have none — feeding that mix to withFieldIds
    * keeps the inherited ids and assigns fresh ones around them,
    * colliding (two columns with id 2 → unreadable in id mode). The
    * storage table is a NEW table: strip inherited ids so every
    * column gets a fresh one. */
  private def freshIdSchema(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(schema.fields.map(f => f.copy(
      metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).remove(Meta.FieldIdKey).build())))

  def mvExists(root: String): Boolean =
    viewExists(root) && Meta.exists(mvStorageRoot(root))

  /** (recorded lineage, current source snapshots, refresh version id)
    * — all from metadata files; fresh iff recorded == current. */
  def mvState(root: String): (Map[String, Long], Map[String, Long], Long) = {
    val sm = Meta.load(mvStorageRoot(root))
    val recorded = sm.currentSnapshotId.flatMap(sm.snapshot)
      .map(_.lineage).getOrElse(Map.empty[String, Long])
    val current = loadView(root).sources.map { case (alias, troot) =>
      alias -> sourceSnapshotOf(troot)
    }
    (recorded, current, sm.currentSnapshotId.getOrElse(-1L))
  }

  /** Create the MV storage table from a client-provided schema — the
    * REST create path, where the engine (not the catalog) knows the
    * view's output shape. Metadata-only, mirrors GraftTable.create. */
  def createMaterializedStorage(root: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val sroot = mvStorageRoot(root)
    require(!Meta.exists(sroot), s"storage table already exists at $sroot")
    Meta.write(sroot, Meta.TableMetadata(
      location = sroot, formatVersion = 1,
      schemas = Map(0 -> Meta.withFieldIds(freshIdSchema(schema), 1)),
      currentSchemaId = 0,
      specs = Map(0 -> Seq.empty), defaultSpecId = 0,
      properties = Map.empty, snapshots = Seq.empty,
      currentSnapshotId = None, refs = Map.empty, lastVersion = 0,
      sortOrder = Seq.empty))
  }

  /** Persist the optional incremental-fold SQL (REST create path). */
  def writeFold(root: String, sql: String): Unit =
    TableIO.writeString(foldPath(root), sql)

  private def foldPath(root: String) = TableIO.path(root, "fold.sql")

  private[table] def loadFold(root: String): Option[String] = {
    val p = foldPath(root)
    if (TableIO.exists(p)) Some(TableIO.readString(p)) else None
  }

  /** @param incrementalFold optional re-aggregation SQL over the temp
    *   view `mv_delta_union` (stored state ∪ delta result) enabling
    *   refreshIncremental, e.g. for a count view
    *   `SELECT k, sum(n) AS n FROM mv_delta_union GROUP BY k`. */
  def createMaterializedView(spark: SparkSession, root: String, name: String,
      sql: String, sources: Map[String, String],
      incrementalFold: Option[String] = None): MaterializedView = {
    createView(root, name, sql, sources)
    incrementalFold.foreach(f => TableIO.writeString(foldPath(root), f))
    val schema = freshIdSchema(queryView(spark, root).schema)
    GraftTable.create(spark, s"$root/storage", schema)
    new MaterializedView(root, spark)
  }

  def loadMaterializedView(spark: SparkSession, root: String): MaterializedView =
    new MaterializedView(root, spark)
}
