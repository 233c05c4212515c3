package graft.table.iceberg

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.table.TableIO
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Minimal Iceberg REST catalog front-end over a warehouse of
  * real-format tables (reference: iceberg-rest-catalog crate; the
  * endpoint shapes follow the public Iceberg REST OpenAPI spec).
  *
  * Serves the metadata plane over HTTP: `GET /v1/config`, namespace
  * and table listing, `LoadTableResult` with the full metadata JSON,
  * table existence/drop, createTable, and the update-table COMMIT
  * protocol (requirements + updates) CAS'd against the base metadata
  * version — lost races get 409. The data plane stays the shared
  * filesystem/object store, as in every Iceberg REST deployment.
  */
/** @param bearerToken when set, every request must carry
  *   `Authorization: Bearer <token>` or is rejected 401 — the same
  *   static-bearer mode the reference client configures
  *   (iceberg-rest-catalog/src/apis/configuration.rs
  *   bearer_access_token). */
class IcebergRestServer(val warehouse: String, bindPort: Int = 0,
    bearerToken: Option[String] = None,
    /** client_credentials accepted by the token endpoint: (id, secret).
      * A successful grant returns `bearerToken` as the access token. */
    oauthClients: Map[String, String] = Map.empty) {
  require(oauthClients.isEmpty || bearerToken.isDefined,
    "oauthClients without a bearerToken would mint empty access tokens")

  /** The CURRENTLY accepted bearer token — rotatable at runtime, so
    * tests can expire a client's token mid-sequence and exercise the
    * refresh-on-401 path (real deployments rotate tokens too). The
    * token endpoint always grants the current value. */
  @volatile private var activeToken: Option[String] = bearerToken
  def rotateToken(t: String): Unit = { activeToken = Some(t) }
  private val mapper = new ObjectMapper()
  private var server: HttpServer = _

  def port: Int = server.getAddress.getPort

  private def json(x: com.fasterxml.jackson.databind.JsonNode): Array[Byte] =
    mapper.writeValueAsBytes(x)

  private def reply(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  }

  private class BadRequest(msg: String) extends RuntimeException(msg)

  /** Iceberg REST ErrorModel shape: message + code. */
  private def errBody(msg: String, code: Int): Array[Byte] = {
    val n = mapper.createObjectNode()
    n.putObject("error").put("message", msg).put("code", code)
    json(n)
  }

  private def notFound(ex: HttpExchange): Unit =
    reply(ex, 404, errBody("not found", 404))

  /** LoadTableResult for the table's current metadata. */
  /** Serialized load-table responses keyed by the metadata FILE path.
    * Sound because vN.metadata.json is immutable once committed (all
    * commit paths land it via rename-without-replace): the current
    * version is still resolved per request, so a commit — local,
    * foreign, or concurrent — is visible immediately under a new key.
    * This is the hottest endpoint (every Spark statement resolves its
    * tables through it); the cache removes the per-request
    * read + parse + re-serialize of an unchanged metadata tree. */
  private val tableResultCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()

  private def renderTableResult(mLoc: org.apache.hadoop.fs.Path,
      tree: com.fasterxml.jackson.databind.JsonNode): Array[Byte] = {
    val n = mapper.createObjectNode()
    n.put("metadata-location", TableIO.qualified(mLoc))
    n.set("metadata", tree)
    n.putObject("config")
    val body = json(n)
    if (tableResultCache.size > 256) tableResultCache.clear()
    tableResultCache.put(mLoc.toString, body)
    body
  }

  private def loadTableResult(root: String): Array[Byte] = {
    val mLoc = IcebergMetadata.currentMetadataFile(root)
    val cached = tableResultCache.get(mLoc.toString)
    if (cached != null) cached
    else renderTableResult(mLoc, mapper.readTree(TableIO.readString(mLoc)))
  }

  private val mirrorLock = new Object

  /** Serializes multi-table transactions against each other so two
    * transactions never interleave their per-table CAS commits (a
    * concurrent SINGLE-table commit is still caught by the CAS and
    * triggers the rollback path). */
  private val transactionLock = new java.util.concurrent.locks.ReentrantLock()

  /** Received metrics reports, newest last: (namespace.table, report json). */
  val metricsLog = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()

  /** The update-table protocol's requirement checks, shared by the
    * single-table commit and commitTransaction. Returns failures. */
  private def checkRequirements(m: IcebergMetadata.IceMetadata,
      reqs: Option[com.fasterxml.jackson.databind.JsonNode]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    reqs.toSeq.flatMap(_.elements().asScala).flatMap { r =>
      r.get("type").asText() match {
        case "assert-ref-snapshot-id" =>
          val ref = r.get("ref").asText()
          val want = Option(r.get("snapshot-id"))
            .filterNot(_.isNull).map(_.asLong())
          if (m.refs.get(ref) == want) None
          else Some(s"ref $ref moved: expected $want, is ${m.refs.get(ref)}")
        case "assert-table-uuid" =>
          if (r.get("uuid").asText() == m.tableUuid) None
          else Some("table uuid mismatch")
        // the remaining TableRequirement asserts (commit.rs:145-185):
        // a strict client's optimistic-concurrency guards — validate
        // against the live metadata instead of erroring on the type
        case "assert-create" =>
          // requirements are checked against a LOADED table, so a
          // commit that asserted create-ness has already lost its race
          Some("table already exists (assert-create)")
        case "assert-last-assigned-field-id" =>
          val want = r.get("last-assigned-field-id").asInt()
          if (want == m.lastColumnId) None
          else Some(s"last assigned field id moved: " +
            s"expected $want, is ${m.lastColumnId}")
        case "assert-current-schema-id" =>
          val want = r.get("current-schema-id").asInt()
          if (want == m.currentSchemaId) None
          else Some(s"current schema moved: " +
            s"expected $want, is ${m.currentSchemaId}")
        case "assert-default-spec-id" =>
          val want = r.get("default-spec-id").asInt()
          if (want == m.defaultSpecId) None
          else Some(s"default spec moved: " +
            s"expected $want, is ${m.defaultSpecId}")
        case "assert-last-assigned-partition-id" =>
          val want = r.get("last-assigned-partition-id").asInt()
          if (want == m.lastPartitionId) None
          else Some(s"last assigned partition id moved: " +
            s"expected $want, is ${m.lastPartitionId}")
        case "assert-default-sort-order-id" =>
          val want = r.get("default-sort-order-id").asInt()
          if (want == m.defaultSortOrderId) None
          else Some(s"default sort order moved: " +
            s"expected $want, is ${m.defaultSortOrderId}")
        case other => throw new BadRequest(s"unsupported requirement $other")
      }
    }
  }

  /** The update-table protocol's metadata updates, shared by the
    * single-table commit and commitTransaction. */
  private def applyUpdates(m: IcebergMetadata.IceMetadata,
      updates: Option[com.fasterxml.jackson.databind.JsonNode])
      : IcebergMetadata.IceMetadata = {
    import scala.jdk.CollectionConverters._
    updates.toSeq.flatMap(_.elements().asScala).foldLeft(m) { (acc, u) =>
      u.get("action").asText() match {
        case "add-snapshot" =>
          val s = IcebergMetadata.snapshotFromNode(
            u.get("snapshot"), acc.currentSchemaId)
          acc.copy(snapshots = acc.snapshots :+ s,
            lastSequenceNumber =
              math.max(acc.lastSequenceNumber, s.sequenceNumber))
        case "set-snapshot-ref" =>
          val ref = u.get("ref-name").asText()
          val id = u.get("snapshot-id").asLong()
          // SnapshotReference.type rides the update (branch | tag) —
          // persisted so metadata.json serializes the declared kind
          val refType = Option(u.get("type")).map(_.asText())
            .getOrElse("branch")
          // retention policy fields are #[serde(flatten)]ed into the
          // update (commit.rs SetSnapshotRef) — absent fields CLEAR
          // the policy (the update carries the whole reference)
          val retention = IcebergMetadata.refRetentionFromNode(u)
          acc.copy(refs = acc.refs + (ref -> id),
            refTypes =
              if (refType == "branch") acc.refTypes - ref
              else acc.refTypes + (ref -> refType),
            refRetention =
              if (retention.isEmpty) acc.refRetention - ref
              else acc.refRetention + (ref -> retention),
            currentSnapshotId =
              if (ref == "main") Some(id) else acc.currentSnapshotId)
        // branch/tag deletion over REST (commit.rs:115-118
        // TableUpdate::RemoveSnapshotRef) — the cleanup step after the
        // write-audit-publish flow; snapshots stay until expire
        case "remove-snapshot-ref" =>
          val ref = u.get("ref-name").asText()
          acc.copy(refs = acc.refs - ref,
            refTypes = acc.refTypes - ref,
            refRetention = acc.refRetention - ref,
            currentSnapshotId =
              if (ref == "main") None else acc.currentSnapshotId)
        // commit.rs:119-123 TableUpdate::SetLocation
        case "set-location" =>
          acc.copy(location = u.get("location").asText())
        case "add-schema" =>
          val sch = IcebergMetadata.schemaFromNode(u.get("schema"))
          acc.copy(schemas = acc.schemas :+ sch,
            // maxId covers NESTED field ids — a later add-column must
            // not collide with a struct's inner ids
            lastColumnId = math.max(acc.lastColumnId, sch.maxId))
        case "set-current-schema" =>
          val id = u.get("schema-id").asInt()
          // -1 = the schema added in this same commit
          acc.copy(currentSchemaId =
            if (id == -1) acc.schemas.last.schemaId else id)
        case "add-spec" =>
          val spec = IcebergMetadata.specFromNode(u.get("spec"))
          acc.copy(specs = acc.specs :+ spec,
            lastPartitionId = math.max(acc.lastPartitionId,
              spec.fields.map(_.fieldId).maxOption.getOrElse(0)))
        case "set-default-spec" =>
          val id = u.get("spec-id").asInt()
          // -1 = the spec added in this same commit
          acc.copy(defaultSpecId =
            if (id == -1) acc.specs.last.specId else id)
        case "set-properties" =>
          val ups = u.get("updates").properties().asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap
          acc.copy(properties = acc.properties ++ ups)
        case "remove-properties" =>
          val rems = u.get("removals").elements().asScala
            .map(_.asText()).toSeq
          acc.copy(properties = acc.properties -- rems)
        case "remove-snapshots" =>
          val ids = u.get("snapshot-ids").elements().asScala
            .map(_.asLong()).toSet
          require(!acc.currentSnapshotId.exists(ids.contains),
            "cannot remove the current snapshot")
          acc.copy(snapshots =
            acc.snapshots.filterNot(s => ids.contains(s.snapshotId)))
        // sort-order evolution (commit.rs TableUpdate::AddSortOrder /
        // SetDefaultSortOrder): writes after the commit cluster by the
        // new default order
        case "add-sort-order" =>
          val o = IcebergMetadata.sortOrderFromNode(u.get("sort-order"))
          if (o.orderId == 0)
            throw new BadRequest("sort order id 0 is reserved for 'unsorted'")
          acc.sortOrders.find(_.orderId == o.orderId) match {
            // re-adding the identical order is a no-op (the reference
            // commit path treats replays idempotently)
            case Some(existing) if existing == o => acc
            case Some(_) => throw new BadRequest(
              s"a different sort order ${o.orderId} already exists")
            case None => acc.copy(sortOrders = acc.sortOrders :+ o)
          }
        case "set-default-sort-order" =>
          val id = u.get("sort-order-id").asInt()
          // -1 = the order added in this same commit
          val resolved = if (id == -1) acc.sortOrders.last.orderId else id
          require(resolved == 0 ||
            acc.sortOrders.exists(_.orderId == resolved),
            s"unknown sort order $resolved")
          acc.copy(defaultSortOrderId = resolved)
        // identity updates (commit.rs TableUpdate::AssignUuid /
        // UpgradeFormatVersion)
        case "assign-uuid" =>
          acc.copy(tableUuid = u.get("uuid").asText())
        case "upgrade-format-version" =>
          val v = u.get("format-version").asInt()
          require(v >= acc.formatVersion, "format version cannot downgrade")
          acc.copy(formatVersion = v)
        case other =>
          throw new BadRequest(s"unsupported update $other")
      }
    }
  }

  /** Namespaces are Vec<String> in the spec (iceberg-rust-spec/src/
    * spec/namespace.rs:14); on the wire the levels join with the %1F
    * unit separator, on disk they nest as directories. */
  private def nsDirPath(ns: String): String = ns.replace('\u001F', '/')
  private def nsRoot(ns: String) = TableIO.path(s"$warehouse/${nsDirPath(ns)}")
  private def tableRoot(ns: String, t: String) =
    s"$warehouse/${nsDirPath(ns)}/$t"

  /** Namespace identifier as the spec's levels array. */
  private def nsLevels(arr: com.fasterxml.jackson.databind.node.ArrayNode,
      ns: String): Unit = ns.split('\u001F').foreach(arr.add)

  /** The joined namespace from a request body's levels array. */
  private def nsFromBody(n: com.fasterxml.jackson.databind.JsonNode): String = {
    import scala.jdk.CollectionConverters._
    n.elements().asScala.map(_.asText()).mkString("\u001F")
  }

  // Namespace properties: one on-disk convention shared with the
  // warehouse-mode catalog (graft.table.NsProps) — both front-ends
  // over the same warehouse agree.
  private def readNsProps(ns: String): Map[String, String] =
    graft.table.NsProps.read(nsRoot(ns).toString)

  private def writeNsProps(ns: String, props: Map[String, String]): Unit =
    graft.table.NsProps.write(nsRoot(ns).toString, props)

  /** (namespace levels, name) from the spec's Identifier JSON
    * (identifier.rs: {"namespace": ["a","b"], "name": "t"}). */
  private def identifierOf(n: com.fasterxml.jackson.databind.JsonNode)
      : (Seq[String], String) = {
    import scala.jdk.CollectionConverters._
    (Option(n.get("namespace")).map(_.elements().asScala.map(_.asText())
        .toSeq).getOrElse(throw new BadRequest("identifier.namespace required")),
      Option(n.get("name")).map(_.asText())
        .getOrElse(throw new BadRequest("identifier.name required")))
  }

  /** View definition from a create/replace request body. Two shapes:
    * the simple graft form (top-level sql [+ representations]), and
    * the reference's CreateView<T> (create.rs:134: name, location,
    * schema, view-version{representations, storage-table when
    * T=Identifier — the materialized-view form}, properties). */
  private def viewFromBody(name: String,
      body: com.fasterxml.jackson.databind.JsonNode): graft.table.Views.ViewDef = {
    import scala.jdk.CollectionConverters._
    def repsOf(n: com.fasterxml.jackson.databind.JsonNode)
        : Seq[graft.table.Views.ViewRepresentation] =
      Option(n).flatMap(x => Option(x.get("representations")))
        .map(_.elements().asScala.map(rn =>
          graft.table.Views.ViewRepresentation(
            rn.get("dialect").asText(), rn.get("sql").asText())).toSeq)
        .getOrElse(Seq.empty)
    val vv = Option(body.get("view-version")).filterNot(_.isNull)
    // optional multi-dialect representations (Iceberg view spec shape);
    // the CreateView form carries them inside view-version
    val reps = {
      val top = repsOf(body)
      if (top.nonEmpty) top else vv.map(repsOf).getOrElse(Seq.empty)
    }
    val sql = Option(body.get("sql")).map(_.asText())
      .orElse(reps.find(_.dialect == "spark").map(_.sql))
      .orElse(reps.headOption.map(_.sql))
      .getOrElse(throw new BadRequest(
        "sql required (top-level, or a view-version representation)"))
    val sources = Option(body.get("sources")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)
    // optional properties (CreateViewRequest.properties — engines park
    // view context like default-catalog/default-namespace here)
    val props = Option(body.get("properties")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)
    graft.table.Views.ViewDef(name, sql, sources, 1, reps,
      properties = props,
      location = Option(body.get("location")).filterNot(_.isNull)
        .map(_.asText()).getOrElse(""),
      // T=Identifier: the view IS a materialized view whose
      // materialization is the storage-table identifier
      storageTable = vv.flatMap(x => Option(x.get("storage-table")))
        .filterNot(_.isNull).map(identifierOf),
      schemaJson = Option(body.get("schema")).filterNot(_.isNull)
        .map(_.toString))
  }

  /** The spec's CommitViewRequest (commit.rs:190-252): validate
    * ViewRequirements against the live definition, fold ViewUpdates,
    * CAS onto the next view version. A strict spec client (the
    * reference's update_view) commits through this path; the simpler
    * replace_view body stays supported alongside. */
  private final case class ViewCommitHalt(code: Int, msg: String)
    extends RuntimeException(msg)

  private def commitViewSpec(ex: HttpExchange, root: String,
      body: com.fasterxml.jackson.databind.JsonNode): Unit = {
    import scala.jdk.CollectionConverters._
    import com.fasterxml.jackson.databind.JsonNode
    def halt(code: Int, msg: String): Nothing = throw ViewCommitHalt(code, msg)
    // a structurally malformed update (missing action/uuid/...) is a
    // client error: 400 with the missing field named, never an NPE/500
    def field(n: JsonNode, name: String, ctx: String): JsonNode =
      Option(n).flatMap(x => Option(x.get(name))).getOrElse(
        halt(400, s"malformed $ctx: missing '$name'"))
    val (cur, curVersion) = graft.table.Views.loadViewVersioned(root)
    try {
      // requirements (commit.rs:242-252): assert-view-uuid is the only
      // spec view requirement; a failed assert is a 409 commit conflict
      val reqs = Option(body.get("requirements"))
        .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
      reqs.foreach { r =>
        field(r, "type", "view requirement").asText() match {
          case "assert-view-uuid" =>
            val want = field(r, "uuid", "assert-view-uuid").asText()
            if (want != cur.viewUuid)
              halt(409, s"requirement failed: view uuid changed: " +
                s"expected $want, found ${cur.viewUuid}")
          case other => halt(400, s"unknown view requirement: $other")
        }
      }
      // fold updates (commit.rs:190-240 ViewUpdate). The version
      // registry seeds from the pre-commit definition, so set-current
      // can target any version known BEFORE this commit too.
      var next =
        if (cur.versions.nonEmpty) cur
        else {
          val seedId = math.max(1, cur.currentVersionId)
          cur.copy(
            versions = Seq(graft.table.Views.ViewVersionDef(
              seedId, cur.allRepresentations)),
            currentVersionId = seedId)
        }
      // ids added by THIS commit, in order (-1 targets the last one)
      var addedIds: Seq[Int] = Seq.empty
      field(body, "updates", "CommitViewRequest").elements().asScala
          .foreach { u =>
        field(u, "action", "view update").asText() match {
          case "assign-uuid" =>
            val id = field(u, "uuid", "assign-uuid").asText()
            // not safe to re-assign an existing uuid (commit.rs:194) —
            // validated against the FOLDED state, so a second
            // assign-uuid in the same request cannot re-assign either
            if (next.uuid.nonEmpty && next.uuid != id)
              halt(400, "assign-uuid: view already has a uuid")
            next = next.copy(uuid = id)
          case "upgrade-format-version" =>
            val fv = field(u, "format-version", "upgrade-format-version")
              .asInt()
            if (fv != 1)
              halt(400, s"unsupported view format-version $fv (only 1)")
          case "add-schema" =>
            // accepted: graft derives a view's output schema from its
            // SQL at query time, so the schema is re-derivable state
            ()
          case "set-location" =>
            // commit.rs:385 ViewUpdate::SetLocation: accepted and
            // persisted as declared metadata. Storage stays under the
            // warehouse (identity-addressed), like a catalog that owns
            // its layout; the declared location round-trips to clients
            next = next.copy(
              location = field(u, "location", "set-location").asText())
          case "set-properties" =>
            val ups = field(u, "updates", "set-properties").properties()
              .asScala.map(e => e.getKey -> e.getValue.asText()).toMap
            next = next.copy(properties = next.properties ++ ups)
          case "remove-properties" =>
            val rem = field(u, "removals", "remove-properties").elements()
              .asScala.map(_.asText()).toSet
            next = next.copy(properties = next.properties -- rem)
          case "add-view-version" =>
            val vv = field(u, "view-version", "add-view-version")
            val vid = Option(vv.get("version-id")).map(_.asInt()).getOrElse(-1)
            val reps = Option(vv.get("representations"))
              .map(_.elements().asScala.map(rn =>
                graft.table.Views.ViewRepresentation(
                  field(rn, "dialect", "representation").asText(),
                  field(rn, "sql", "representation").asText())).toSeq)
              .getOrElse(Seq.empty)
            if (reps.isEmpty)
              halt(400, "add-view-version requires at least one representation")
            // the client's proposed id is kept when free; a taken or
            // unset id allocates the next free one (the spec lets the
            // server reassign ids on add)
            val taken = next.versions.map(_.versionId).toSet
            val id = if (vid > 0 && !taken.contains(vid)) vid
              else taken.max + 1
            // Version<Identifier> (the MV form): the added version may
            // carry its storage-table pin (view_metadata.rs:305)
            val storage = Option(vv.get("storage-table"))
              .filterNot(_.isNull).map(identifierOf)
            next = next.copy(versions = next.versions :+
              graft.table.Views.ViewVersionDef(id, reps, storage))
            addedIds = addedIds :+ id
          // add-view-version WITHOUT set-current is legal (the version
          // is registered but not current, commit.rs ViewUpdate), and
          // set-current may target ANY registered version id
          case "set-current-view-version" =>
            val want = field(u, "view-version-id",
              "set-current-view-version").asInt()
            val target =
              if (want == -1) addedIds.lastOption.getOrElse(
                halt(400, "set-current-view-version -1 without " +
                  "add-view-version in this commit"))
              else want
            val chosen = next.versions.find(_.versionId == target)
              .getOrElse(halt(400,
                s"set-current-view-version: unknown version $target"))
            val sparkSql = chosen.representations
              .find(_.dialect == "spark").map(_.sql)
              .getOrElse(chosen.representations.head.sql)
            next = next.copy(currentVersionId = target,
              sql = sparkSql, representations = chosen.representations,
              // an MV replace that pins a new storage table moves the
              // view-level materialization with it; a plain version
              // keeps the existing storage identity
              storageTable = chosen.storageTable.orElse(next.storageTable))
          case other => halt(400, s"unknown view update: $other")
        }
      }
      if (graft.table.Views.commitViewAt(root, next, curVersion))
        reply(ex, 200, viewResult(root))
      else reply(ex, 409,
        errBody("view commit conflict: base version superseded", 409))
    } catch {
      case ViewCommitHalt(code, msg) => reply(ex, code, errBody(msg, code))
    }
  }

  /** Create an empty real-format table at `loc` from an Iceberg
    * schema JSON node — the storage-table half of a spec-shape
    * materialized-view create (the same v1 metadata the create-table
    * endpoint writes). */
  private def createEmptyTable(loc: String,
      schemaNode: com.fasterxml.jackson.databind.JsonNode): Unit = {
    val schema = IcebergMetadata.schemaFromNode(schemaNode)
    val m0 = IcebergMetadata.IceMetadata(
      formatVersion = 2,
      tableUuid = java.util.UUID.randomUUID().toString,
      location = loc,
      lastSequenceNumber = 0L,
      lastColumnId = schema.maxId,
      currentSchemaId = schema.schemaId,
      schemas = Seq(schema),
      defaultSpecId = 0,
      specs = Seq(IcebergMetadata.IceSpec(0, Seq.empty)),
      lastPartitionId = 999,
      properties = Map.empty,
      currentSnapshotId = None,
      snapshots = Seq.empty,
      refs = Map.empty)
    if (!IcebergMetadata.commitAt(loc, m0, 0))
      throw new BadRequest(s"storage table at $loc already exists")
    ()
  }

  /** LoadViewResult-ish shape: current definition + its version. */
  private def viewResult(root: String): Array[Byte] = {
    val (d, version) = graft.table.Views.loadViewVersioned(root)
    val n = mapper.createObjectNode()
    n.put("name", d.name); n.put("sql", d.sql)
    n.put("current-version", version)
    n.put("view-uuid", d.viewUuid)
    if (d.location.nonEmpty) n.put("location", d.location)
    if (d.properties.nonEmpty) {
      val p = n.putObject("properties")
      d.properties.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
    }
    val s = n.putObject("sources")
    d.sources.foreach { case (k, v) => s.put(k, v) }
    val reps = n.putArray("representations")
    d.allRepresentations.foreach { r =>
      val rn = reps.addObject()
      rn.put("type", "sql"); rn.put("dialect", r.dialect); rn.put("sql", r.sql)
    }
    // the spec's view metadata form under `metadata`
    // (view_metadata.rs:161 ViewMetadataV1, kebab-case: view-uuid,
    // format-version, location, current-version-id, versions[],
    // version-log[], schemas[], properties) — version entries of a
    // materialized view carry `storage-table` (view_metadata.rs:305
    // Version<Identifier>), the reference's MV form, so a strict
    // client's load round-trips MaterializedViewMetadata
    locally {
      val md = n.putObject("metadata")
      md.put("view-uuid", d.viewUuid)
      md.put("format-version", 1)
      md.put("location", if (d.location.nonEmpty) d.location else root)
      // every version's schema-id must resolve within metadata.schemas
      // (a strict ViewMetadata deserializer validates the reference):
      // the stored create-request schema when one exists, else the
      // spec-valid EMPTY struct at id 0 — graft derives a view's real
      // output schema from its SQL at query time
      val storedSchema = d.schemaJson.map(mapper.readTree)
      val schemaId = storedSchema
        .flatMap(sn => Option(sn.get("schema-id")).map(_.asInt()))
        .getOrElse(0)
      val effVersions =
        if (d.versions.nonEmpty) d.versions
        else Seq(graft.table.Views.ViewVersionDef(
          math.max(1, version), d.allRepresentations, d.storageTable))
      val curId =
        if (d.versions.nonEmpty) d.currentVersionId else math.max(1, version)
      md.put("current-version-id", curId)
      val vs = md.putArray("versions")
      effVersions.foreach { v =>
        val vn = vs.addObject()
        vn.put("version-id", v.versionId)
        vn.put("schema-id", schemaId)
        vn.put("timestamp-ms", 0L)
        vn.putObject("summary").put("operation",
          if (v.versionId <= 1) "create" else "replace")
        val reps = vn.putArray("representations")
        v.representations.foreach { r =>
          val rn = reps.addObject()
          rn.put("type", "sql"); rn.put("dialect", r.dialect)
          rn.put("sql", r.sql)
        }
        vn.putArray("default-namespace")
        // a version WITHOUT its own storage pin inherits the view's —
        // an MV's storage identity is stable across replaces unless a
        // commit explicitly moves it
        v.storageTable.orElse(d.storageTable).foreach { case (sns, sn) =>
          val st = vn.putObject("storage-table")
          val arr = st.putArray("namespace"); sns.foreach(arr.add)
          st.put("name", sn)
        }
      }
      md.putArray("version-log")
      val schemas = md.putArray("schemas")
      storedSchema match {
        case Some(sn) => schemas.add(sn)
        case None =>
          val e = schemas.addObject()
          e.put("schema-id", schemaId); e.put("type", "struct")
          e.putArray("fields")
      }
      if (d.properties.nonEmpty) {
        val p = md.putObject("properties")
        d.properties.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
      }
    }
    // materialized view: storage-table pointer + refresh-state
    // (materialized_view_metadata.rs: refresh-version-id +
    // source-table-states), plus the CURRENT source states so a client
    // can see staleness without touching the sources itself
    if (graft.table.Views.mvExists(root)) {
      val (recorded, current, refreshVersion) = graft.table.Views.mvState(root)
      val mat = n.putObject("materialization")
      mat.put("storage-location", graft.table.Views.mvStorageRoot(root))
      val rs = n.putObject("refresh-state")
      rs.put("refresh-version-id", refreshVersion)
      val sts = rs.putArray("source-table-states")
      recorded.toSeq.sortBy(_._1).foreach { case (alias, snap) =>
        val e = sts.addObject()
        e.put("source", alias); e.put("snapshot-id", snap)
      }
      val cur = rs.putArray("current-source-states")
      current.toSeq.sortBy(_._1).foreach { case (alias, snap) =>
        val e = cur.addObject()
        e.put("source", alias); e.put("snapshot-id", snap)
      }
      n.put("fresh", recorded == current)
    }
    json(n)
  }

  /** Offset-based pageToken/pageSize pagination over a sorted listing
    * (reference: catalog_api_api.rs threads page_token through every
    * list endpoint). Returns the page and the next-page-token. */
  private def paginate(ex: HttpExchange,
      items: Seq[String]): (Seq[String], Option[String]) = {
    val params = parseParams(Option(ex.getRequestURI.getQuery).getOrElse(""))
    val start = params.get("pageToken").flatMap(_.toIntOption).getOrElse(0)
    val size = params.get("pageSize").flatMap(_.toIntOption)
    val sorted = items.sorted
    size match {
      case None => (sorted.drop(start), None)
      case Some(n) =>
        val page = sorted.slice(start, start + n)
        val next = if (start + n < sorted.size) Some((start + n).toString) else None
        (page, next)
    }
  }

  /** form/query "k=v&k2=v2" → decoded map (token bodies, pagination). */
  /** `parent` arrives percent-decoded twice over (URI.getQuery +
    * parseParams' URLDecoder) — by then the %1F separators are the
    * literal control char, which is exactly the internal join. */
  private def decodeNsParam(s: String): String = s

  private def parseParams(raw: String): Map[String, String] =
    raw.split("&").filter(_.contains("=")).map { kv =>
      val a = kv.split("=", 2)
      a(0) -> java.net.URLDecoder.decode(a(1), "UTF-8")
    }.toMap

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath.stripPrefix("/v1").stripSuffix("/")
    val method = ex.getRequestMethod
    val parts = path.stripPrefix("/").split("/").toSeq
    // the exemption uses the SAME normalized (method, parts) the router
    // matches on — two different path normalizations would disagree
    val isTokenEndpoint =
      method == "POST" && parts == Seq("oauth", "tokens")
    if (!isTokenEndpoint && activeToken.exists(t =>
        Option(ex.getRequestHeaders.getFirst("Authorization"))
          .forall(_ != s"Bearer $t"))) {
      reply(ex, 401, errBody("unauthorized", 401)); return
    }

    (method, parts) match {
      case ("POST", Seq("oauth", "tokens")) =>
        // RFC 6749 client_credentials grant (the Iceberg REST spec's
        // /v1/oauth/tokens): form-encoded id+secret exchange for the
        // catalog's bearer token (reference clients hold the result as
        // configuration.oauth_access_token)
        val form = parseParams(new String(
          ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        val ok = form.get("grant_type").contains("client_credentials") &&
          form.get("client_id").exists(id =>
            oauthClients.get(id) == form.get("client_secret"))
        if (!ok) reply(ex, 401, errBody("invalid_client", 401))
        else {
          val n = mapper.createObjectNode()
          n.put("access_token", activeToken.getOrElse(""))
          n.put("token_type", "bearer")
          reply(ex, 200, json(n))
        }

      case ("GET", Seq("config")) =>
        val n = mapper.createObjectNode()
        n.putObject("defaults"); n.putObject("overrides")
        reply(ex, 200, json(n))

      case ("GET", Seq("namespaces")) =>
        // list_namespaces with optional multi-level `parent`
        // (catalog_api_api.rs list_namespaces threads parent the same
        // way): children one level below the parent, as levels arrays
        val params = parseParams(
          Option(ex.getRequestURI.getQuery).getOrElse(""))
        val parent = params.get("parent").map(decodeNsParam)
        val dir = parent.map(nsRoot).getOrElse(TableIO.path(warehouse))
        if (parent.isDefined && !TableIO.isDirectory(dir)) notFound(ex)
        else {
          val names = TableIO.listDir(dir)
            .filter(st => st.isDirectory &&
              !IcebergTable.exists(st.getPath.toString) &&
              scala.util.Try(graft.table.Meta.load(st.getPath.toString))
                .isFailure &&
              !graft.table.Views.viewExists(st.getPath.toString))
            .map(_.getPath.getName)
            .filterNot(_.startsWith("."))
          val (page, next) = paginate(ex, names)
          val n = mapper.createObjectNode()
          val arr = n.putArray("namespaces")
          page.foreach { nm =>
            val levels = arr.addArray()
            parent.foreach(p => nsLevels(levels, p))
            levels.add(nm)
          }
          next.foreach(t => n.put("next-page-token", t))
          reply(ex, 200, json(n))
        }

      case ("POST", Seq("namespaces")) =>
        val body = mapper.readTree(ex.getRequestBody)
        val ns = nsFromBody(body.get("namespace"))
        TableIO.mkdirs(nsRoot(ns))
        val props = Option(body.get("properties")).map(p =>
          p.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
          .getOrElse(Map.empty[String, String])
        if (props.nonEmpty) graft.table.NsProps.lock.synchronized {
          writeNsProps(ns, props)
        }
        val n = mapper.createObjectNode()
        nsLevels(n.putArray("namespace"), ns)
        val pn = n.putObject("properties")
        props.foreach { case (k, v) => pn.put(k, v) }
        reply(ex, 200, json(n))

      case ("GET", Seq("namespaces", ns)) =>
        // loadNamespaceMetadata (catalog_api_api.rs
        // load_namespace_metadata): the namespace + its properties
        if (!TableIO.isDirectory(nsRoot(ns))) notFound(ex)
        else {
          val n = mapper.createObjectNode()
          nsLevels(n.putArray("namespace"), ns)
          val pn = n.putObject("properties")
          readNsProps(ns).foreach { case (k, v) => pn.put(k, v) }
          reply(ex, 200, json(n))
        }

      case ("HEAD", Seq("namespaces", ns)) =>
        reply(ex, if (TableIO.isDirectory(nsRoot(ns))) 204 else 404, Array.empty)

      case ("POST", Seq("namespaces", ns, "properties")) =>
        // updateProperties on a namespace (catalog_api_api.rs
        // update_properties): {updates:{..}, removals:[..]} ->
        // {updated:[..], removed:[..], missing:[..]}
        if (!TableIO.isDirectory(nsRoot(ns))) notFound(ex)
        else {
          val body = mapper.readTree(ex.getRequestBody)
          val updates = Option(body.get("updates")).map(p =>
            p.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
            .getOrElse(Map.empty[String, String])
          val removals = Option(body.get("removals")).map(
            _.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
          val overlap = updates.keySet.intersect(removals.toSet)
          if (overlap.nonEmpty) throw new BadRequest(
            s"keys in both updates and removals: ${overlap.mkString(",")}")
          val (removed, missing) = graft.table.NsProps.update(
            nsRoot(ns).toString, updates, removals)
          val n = mapper.createObjectNode()
          val up = n.putArray("updated"); updates.keys.toSeq.sorted.foreach(up.add)
          val rm = n.putArray("removed"); removed.foreach(rm.add)
          val ms = n.putArray("missing"); missing.foreach(ms.add)
          reply(ex, 200, json(n))
        }

      case ("GET", Seq("namespaces", ns, "tables")) =>
        if (!TableIO.isDirectory(nsRoot(ns))) notFound(ex)
        else {
          val names = TableIO.listDir(nsRoot(ns))
            .filter(st => IcebergTable.exists(st.getPath.toString))
            .map(_.getPath.getName)
            .filterNot(_.startsWith("."))
          val (page, next) = paginate(ex, names)
          val n = mapper.createObjectNode()
          val arr = n.putArray("identifiers")
          page.foreach { nm =>
            val id = arr.addObject()
            nsLevels(id.putArray("namespace"), ns)
            id.put("name", nm)
          }
          next.foreach(t => n.put("next-page-token", t))
          reply(ex, 200, json(n))
        }

      case ("POST", Seq("namespaces", ns, "tables")) =>
        // createTable: name + Iceberg schema JSON -> empty table. The
        // v1 metadata lands via the same rename-CAS as commits, so of
        // two racing creators exactly one wins (the other 409s).
        val body = mapper.readTree(ex.getRequestBody)
        val name = body.get("name").asText()
        val root = tableRoot(ns, name)
        if (!TableIO.isDirectory(nsRoot(ns)))
          reply(ex, 404, errBody(s"namespace $ns does not exist", 404))
        else if (IcebergTable.exists(root))
          reply(ex, 409, errBody("table exists", 409))
        else {
          val schema = IcebergMetadata.schemaFromNode(body.get("schema"))
          // optional partition-spec (CreateTableRequest.partition_spec,
          // catalog_api_api.rs create_table): transforms computed on
          // write like any partitioned create
          val spec = Option(body.get("partition-spec"))
            .filterNot(_.isNull)
            .map(IcebergMetadata.specFromNode)
            .getOrElse(IcebergMetadata.IceSpec(0, Seq.empty))
          val props = Option(body.get("properties")).map(p =>
            p.properties().asScala.map(e =>
              e.getKey -> e.getValue.asText()).toMap)
            .getOrElse(Map.empty[String, String])
          // stage-create (CreateTableRequest.stage_create,
          // iceberg-rust/src/catalog/create.rs:59): the metadata is
          // built at a dot-hidden STAGED location — the table does not
          // exist until a commit with an assert-create requirement
          // publishes it (the two-phase create behind atomic CTAS)
          val stageCreate = Option(body.get("stage-create"))
            .exists(_.asBoolean(false))
          val loc =
            if (!stageCreate) root
            else new org.apache.hadoop.fs.Path(nsRoot(ns),
              s".stage-$name-${java.util.UUID.randomUUID().toString.take(8)}")
              .toString
          val m0 = IcebergMetadata.IceMetadata(
            formatVersion = 2,
            tableUuid = java.util.UUID.randomUUID().toString,
            location = loc,
            lastSequenceNumber = 0L,
            lastColumnId = schema.maxId,
            currentSchemaId = schema.schemaId,
            schemas = Seq(schema),
            defaultSpecId = spec.specId,
            specs = Seq(spec),
            lastPartitionId = math.max(999,
              spec.fields.map(_.fieldId).maxOption.getOrElse(0)),
            properties = props,
            currentSnapshotId = None,
            snapshots = Seq.empty,
            refs = Map.empty)
          if (IcebergMetadata.commitAt(loc, m0, 0))
            reply(ex, 200, loadTableResult(loc))
          else reply(ex, 409, errBody("table exists", 409))
        }

      case ("POST", Seq("namespaces", ns, "tables", t)) =>
        // commitTable: requirements + updates (the spec's update-table
        // protocol subset: assert-ref-snapshot-id / assert-table-uuid
        // requirements; add-snapshot, set-snapshot-ref, add-schema,
        // set-current-schema updates). The commit CAS pins the BASE
        // version the requirements were validated against, so the
        // whole load-validate-commit span is protected — a racer past
        // the load window gets 409, never a silent overwrite
        // (reference: update_table's CAS).
        // Serialized through transactionLock: a commitTransaction that
        // loses a CAS rolls already-committed tables BACK with a
        // compensating commit — if a single-table commit could slip in
        // between, the rollback CAS would lose and the tables stay
        // permanently divergent. Holding the lock here makes the
        // rollback CAS unlosable. (Readers are NOT serialized: a
        // concurrent load can still observe a transaction's
        // intermediate state before its rollback — the documented
        // visibility window of this test catalog.)
        val root = tableRoot(ns, t)
        if (!IcebergTable.exists(root)) {
          // the staged-create PUBLISH (the spec's commit with an
          // assert-create requirement): the table's whole state
          // arrives as updates applied onto an empty base; the v1
          // metadata CAS arbitrates racing creators
          val body = mapper.readTree(ex.getRequestBody)
          val reqs = Option(body.get("requirements")).toSeq
            .flatMap(_.elements().asScala.map(_.get("type").asText()).toSeq)
          if (!reqs.contains("assert-create")) notFound(ex)
          else if (reqs.exists(_ != "assert-create"))
            reply(ex, 400, errBody(
              "a create commit can only assert create-ness", 400))
          else if (!TableIO.isDirectory(nsRoot(ns)))
            reply(ex, 404, errBody(s"namespace $ns does not exist", 404))
          else {
            transactionLock.lock()
            try {
              val next = applyUpdates(
                IcebergMetadata.emptySkeleton(root),
                Option(body.get("updates")))
              if (next.schemas.isEmpty || next.tableUuid.isEmpty)
                reply(ex, 400, errBody(
                  "create commit is missing add-schema/assign-uuid", 400))
              else if (IcebergMetadata.commitAt(root, next, 0))
                reply(ex, 200, loadTableResult(root))
              else reply(ex, 409,
                errBody("table exists (lost the create race)", 409))
            } finally transactionLock.unlock()
          }
        }
        else {
          transactionLock.lock()
          try {
            val body = mapper.readTree(ex.getRequestBody)
            val (m, baseVersion) = IcebergMetadata.loadVersioned(root)
            val reqFailure = checkRequirements(m, Option(body.get("requirements")))
            if (reqFailure.nonEmpty)
              reply(ex, 409, errBody(reqFailure.mkString("; "), 409))
            else {
              val next = applyUpdates(m, Option(body.get("updates")))
              if (IcebergMetadata.commitAt(root, next, baseVersion))
                reply(ex, 200, loadTableResult(root))
              else reply(ex, 409,
                errBody("commit conflict: base version superseded", 409))
            }
          } finally transactionLock.unlock()
        }

      case ("POST", Seq("transactions", "commit")) =>
        // commitTransaction (catalog_api_api.rs commit_transaction):
        // N tables' requirements+updates commit atomically — every
        // requirement is validated against the tables' CURRENT state,
        // then each table CAS-commits in order; a lost CAS rolls the
        // already-committed tables back (compensating commit of their
        // prior metadata) and the whole transaction returns 409.
        transactionLock.lock()
        try {
          import scala.jdk.CollectionConverters._
          val body = mapper.readTree(ex.getRequestBody)
          val changes = Option(body.get("table-changes")).toSeq
            .flatMap(_.elements().asScala).map { ch =>
              val id = ch.get("identifier")
              val ns = nsFromBody(id.get("namespace"))
              val name = id.get("name").asText()
              (tableRoot(ns, name), s"$ns.$name", ch)
            }
          if (changes.isEmpty) throw new BadRequest("table-changes required")
          changes.find { case (root, _, _) => !IcebergTable.exists(root) } match {
            case Some((_, label, _)) =>
              reply(ex, 404, errBody(s"table $label does not exist", 404))
            case None =>
              // phase 1: load, validate requirements, AND dry-run the
              // updates for EVERY table before touching any — a
              // malformed update in table N must not leave tables
              // 1..N-1 committed
              val loaded = changes.map { case (root, label, ch) =>
                val (m, v) = IcebergMetadata.loadVersioned(root)
                val next = applyUpdates(m, Option(ch.get("updates")))
                (root, label, ch, m, v, next)
              }
              val failures = loaded.flatMap { case (_, label, ch, m, _, _) =>
                checkRequirements(m, Option(ch.get("requirements")))
                  .map(f => s"$label: $f")
              }
              if (failures.nonEmpty)
                reply(ex, 409, errBody(failures.mkString("; "), 409))
              else {
                // phase 2: commit the precomputed metadatas in order;
                // the first CAS loss aborts and rolls back everything
                // already committed
                val done = scala.collection.mutable.ArrayBuffer[
                  (String, IcebergMetadata.IceMetadata, Int)]()
                val conflict = loaded.collectFirst {
                  case (root, label, _, m, v, next) if {
                    val ok = IcebergMetadata.commitAt(root, next, v)
                    if (ok) done += ((root, m, v + 1))
                    !ok
                  } => label
                }
                conflict match {
                  case Some(label) =>
                    // compensate: restore each committed table's prior
                    // metadata as a NEW version on top — but ONLY at
                    // the exact version this transaction created. If a
                    // concurrent commit already landed on top, ITS
                    // client got a 200 and its changes must win;
                    // blind-rolling back over it would be a lost
                    // update. Surface the table as unrestored instead.
                    val unrestored = done.reverse.flatMap {
                      case (root, prior, committedV) =>
                        if (IcebergMetadata.commitAt(root, prior, committedV)) None
                        else Some(root)
                    }
                    val detail =
                      if (unrestored.isEmpty) "all tables rolled back"
                      else s"ROLLBACK INCOMPLETE for: ${unrestored.mkString(", ")}"
                    reply(ex, 409, errBody(
                      s"transaction aborted: $label commit conflict; $detail", 409))
                  case None => reply(ex, 204, Array.empty)
                }
              }
          }
        } finally transactionLock.unlock()

      case ("GET", Seq("namespaces", ns, "tables", t)) =>
        val root = tableRoot(ns, t)
        // a graft-format table is served through an on-the-fly
        // real-format mirror: metadata-only export referencing the
        // graft data files in place, refreshed when the source
        // version moves (both formats keep a `metadata` dir, so the
        // format probe is parsing, not existence). The probe and the
        // serve share ONE metadata read: this is the hottest endpoint
        // (every Spark statement resolves its tables through it), and
        // the old shape — full graft-parse attempt, existence check,
        // then a second list+read+parse in loadTableResult — cost
        // 4.6 ms/req against 1.5 ms for a namespace GET (loopback).
        // only ABSENCE is a 404; corrupt metadata must still surface
        // as the parse error it is (500), as before
        scala.util.Try(IcebergMetadata.currentMetadataFile(root)).toOption match {
          case None => notFound(ex)
          case Some(mLoc) =>
            val cached = tableResultCache.get(mLoc.toString)
            if (cached != null) reply(ex, 200, cached)
            else {
              val tree = mapper.readTree(TableIO.readString(mLoc))
              if (tree.has("format_version")) {
                // graft dialect (snake_case): serve the mirror. Cached
                // under the SOURCE metadata path — the mirror is a
                // deterministic function of the source version, so the
                // body is stable until the source commits (new mLoc).
                val spark = org.apache.spark.sql.SparkSession.getDefaultSession
                  .orElse(org.apache.spark.sql.SparkSession.getActiveSession)
                  .orNull
                // the WHOLE load is serialized: refresh is delete +
                // re-export (not atomic), so the metadata read must also
                // hold the lock or a concurrent refresh could yank files
                // mid-read
                val body = mirrorLock.synchronized {
                  val mirror = IcebergExport.exportIfStale(
                    spark, root, s"$warehouse/$ns/.mirror-$t")
                  // the mirror reuses v1.metadata.json across refreshes,
                  // so the path-keyed cache is NOT sound for it: a
                  // re-export must evict the stale body (which references
                  // the deleted previous snap-exp manifest list)
                  tableResultCache.remove(
                    IcebergMetadata.currentMetadataFile(mirror).toString)
                  loadTableResult(mirror)
                }
                tableResultCache.put(mLoc.toString, body)
                reply(ex, 200, body)
              } else
                // real-format (kebab-case) — or structurally
                // unrecognizable, which the old shape also routed here
                // (Meta.load failed)
                reply(ex, 200, renderTableResult(mLoc, tree))
            }
        }

      // ---- views (reference: catalog_api_api.rs create_view :568,
      // list_views :726, load_view :815, drop_view :640,
      // replace_view :926) --------------------------------------------

      case ("GET", Seq("namespaces", ns, "views")) =>
        if (!TableIO.isDirectory(nsRoot(ns))) notFound(ex)
        else {
          val names = TableIO.listDir(nsRoot(ns))
            .filter(st => graft.table.Views.viewExists(st.getPath.toString))
            .map(_.getPath.getName)
            .filterNot(_.startsWith("."))
          val (page, next) = paginate(ex, names)
          val n = mapper.createObjectNode()
          val arr = n.putArray("identifiers")
          page.foreach { nm =>
            val id = arr.addObject()
            nsLevels(id.putArray("namespace"), ns)
            id.put("name", nm)
          }
          next.foreach(t => n.put("next-page-token", t))
          reply(ex, 200, json(n))
        }

      case ("POST", Seq("namespaces", ns, "tables", t, "metrics")) =>
        // report_metrics (reference: catalog_api_api.rs:942): accept a
        // scan/commit report; recorded in-memory for operators to poll
        val body = mapper.readTree(ex.getRequestBody)
        metricsLog.add(s"$ns.$t" -> body.toString)
        reply(ex, 204, Array.empty)

      case ("POST", Seq("namespaces", ns, "views")) =>
        val body = mapper.readTree(ex.getRequestBody)
        val name = body.get("name").asText()
        val root = tableRoot(ns, name)
        val d = viewFromBody(name, body)
        // the reference client's MV flow (catalog.rs:387
        // create_materialized_view) creates the storage TABLE via
        // create_table FIRST — and, per catalog.rs:393's name
        // clone_from, under the VIEW's own name even though the
        // view-version's storage-table identifier says
        // <name>__storage — then create_view with
        // view-version.storage-table. An existing table at this root
        // is tolerated ONLY when it is plausibly that just-pre-created
        // storage: same namespace, self-derived name, and ZERO
        // committed snapshots — a data-bearing or foreign-named table
        // here is a real name collision (letting it through would
        // write view files into a live table's root, and a later DROP
        // VIEW would destroy its data).
        val storageSelfNamed = d.storageTable.exists { case (sns, sn) =>
          sns.mkString("\u001F") == ns &&
            (sn == name || sn == name + "__storage") }
        // The tolerance is deliberately NARROW: the clone_from
        // pre-create always carries the request's 'schema', so the
        // absorbed table must be snapshot-free AND schema-identical
        // (name/type/required per field). A legitimately-created but
        // not-yet-loaded table with a colliding name — empty but
        // differently-shaped — still 409s rather than being silently
        // co-opted into the view's root (where DROP VIEW would later
        // destroy its registration).
        val existingIsPrecreatedStorage = storageSelfNamed &&
          IcebergTable.exists(root) &&
          scala.util.Try {
            val existing = IcebergMetadata.load(root)
            val reqFields = Option(body.get("schema"))
              .filterNot(_.isNull)
              .map(IcebergMetadata.schemaFromNode(_).fields
                .map(f => (f.name, f.tpe, f.required)))
            existing.currentSnapshotId.isEmpty && reqFields.contains(
              existing.schema.fields.map(f => (f.name, f.tpe, f.required)))
          }.getOrElse(false)
        if (!TableIO.isDirectory(nsRoot(ns)))
          reply(ex, 404, errBody(s"namespace $ns does not exist", 404))
        else if (graft.table.Views.viewExists(root) ||
            (IcebergTable.exists(root) && !existingIsPrecreatedStorage))
          reply(ex, 409, errBody("view or table exists", 409))
        else {
          // spec-shape MV (T=Identifier): ensure the storage table the
          // metadata points at actually loads through the catalog —
          // created from the request schema when the client didn't
          // pre-create it. Validated BEFORE the view commits, so a
          // missing 'schema' (400) never leaves a committed view with
          // a dangling storage identifier behind. Tables created by
          // THIS request are remembered so a lost view-commit race
          // (409 below) rolls them back instead of leaking a dangling
          // catalog entry with no owning view.
          val createdHere = scala.collection.mutable.ArrayBuffer[String]()
          d.storageTable.foreach { case (sns, sn) =>
            val sroot = tableRoot(sns.mkString("\u001F"), sn)
            if (!IcebergTable.exists(sroot)) {
              val schemaNode = Option(body.get("schema"))
                .filterNot(_.isNull).getOrElse(throw new BadRequest(
                  "materialized view create needs 'schema' when the " +
                    "storage table does not exist yet"))
              createEmptyTable(sroot, schemaNode)
              createdHere += sroot
            }
          }
          if (graft.table.Views.commitViewAt(root, d, 0)) {
            // create_materialized_view (reference catalog.rs:387):
            // the request carries the storage-table schema — the
            // catalog creates the storage TABLE alongside the view and
            // never runs the query itself (graft's extension form)
            Option(body.get("materialization")).foreach { mat =>
              val schemaJson = Option(mat.get("storage-schema"))
                .map(_.asText()).getOrElse(
                  throw new BadRequest("materialization.storage-schema required"))
              val schema = org.apache.spark.sql.types.DataType
                .fromJson(schemaJson)
                .asInstanceOf[org.apache.spark.sql.types.StructType]
              graft.table.Views.createMaterializedStorage(root, schema)
              Option(mat.get("incremental-fold")).map(_.asText())
                .foreach(graft.table.Views.writeFold(root, _))
            }
            reply(ex, 200, viewResult(root))
          } else {
            // lost the view-commit race: roll back the storage table
            // this request just created — EXCEPT one the winning view
            // now references. The winner may have raced us with the
            // SAME storage identifier, found the table this loser
            // pre-created, skipped creating its own, and committed a
            // view pointing at it; deleting it here would leave the
            // committed view dangling. Re-load the winner and keep
            // any createdHere root its view-version references.
            val winnerStorage: Set[String] = scala.util.Try {
              graft.table.Views.loadView(root).storageTable.map {
                case (sns, sn) => tableRoot(sns.mkString("\u001F"), sn)
              }.toSet
            }.getOrElse(Set.empty)
            createdHere.filterNot(winnerStorage.contains).foreach(sroot =>
              TableIO.delete(TableIO.path(sroot), recursive = true))
            reply(ex, 409, errBody("view exists", 409))
          }
        }

      case ("GET", Seq("namespaces", ns, "views", v)) =>
        val root = tableRoot(ns, v)
        if (!graft.table.Views.viewExists(root)) notFound(ex)
        else reply(ex, 200, viewResult(root))

      case ("HEAD", Seq("namespaces", ns, "views", v)) =>
        reply(ex,
          if (graft.table.Views.viewExists(tableRoot(ns, v))) 204 else 404,
          Array.empty)

      case ("DELETE", Seq("namespaces", ns, "views", v)) =>
        val root = tableRoot(ns, v)
        if (!graft.table.Views.viewExists(root)) notFound(ex)
        else {
          TableIO.delete(TableIO.path(root), recursive = true)
          reply(ex, 204, Array.empty)
        }

      case ("POST", Seq("namespaces", ns, "views", v)) =>
        // Two body shapes: the spec's CommitViewRequest
        // (requirements + updates, commit.rs:190-252 ViewUpdate /
        // ViewRequirement) for strict clients, and the simpler
        // replace_view form (sql + base-version). Both CAS onto the
        // next view version; a lost race is 409.
        val root = tableRoot(ns, v)
        if (!graft.table.Views.viewExists(root)) notFound(ex)
        else {
          val body = mapper.readTree(ex.getRequestBody)
          if (body.has("updates")) commitViewSpec(ex, root, body)
          else {
            val base = Option(body.get("base-version")).map(_.asInt())
              .getOrElse(throw new BadRequest(
                "base-version required (or a spec updates/requirements body)"))
            val (cur, curVersion) = graft.table.Views.loadViewVersioned(root)
            if (base != curVersion)
              reply(ex, 409, errBody(
                s"view moved: base $base, current $curVersion", 409))
            else {
              // replace_view swaps the DEFINITION; identity (uuid),
              // properties and location ride along (the model check
              // caught the fresh-ViewDef form silently wiping both) —
              // unless the replace body carries its OWN properties, in
              // which case they win (an engine replacing a view may
              // re-stamp its context properties alongside the SQL).
              // If a spec client built a version registry, the swap
              // registers there too — a later set-current must see
              // a registry consistent with the live definition
              val parsed = viewFromBody(v, body)
              val d0 = parsed.copy(name = cur.name,
                uuid = cur.uuid,
                properties = if (body.has("properties")) parsed.properties
                  else cur.properties,
                location = cur.location)
              val d =
                if (cur.versions.isEmpty) d0
                else {
                  val nid = cur.versions.map(_.versionId).max + 1
                  d0.copy(versions = cur.versions :+
                    graft.table.Views.ViewVersionDef(
                      nid, d0.allRepresentations),
                    currentVersionId = nid)
                }
              if (graft.table.Views.commitViewAt(root, d, base))
                reply(ex, 200, viewResult(root))
              else reply(ex, 409,
                errBody("view commit conflict: base version superseded", 409))
            }
          }
        }

      // ---- rename / register (catalog_api_api.rs rename_table :874,
      // register_table :848) ------------------------------------------

      case ("POST", Seq("tables", "rename")) =>
        val body = mapper.readTree(ex.getRequestBody)
        def ident(k: String): (String, String) = {
          val n = body.get(k)
          (nsFromBody(n.get("namespace")), n.get("name").asText())
        }
        val (sns, sname) = ident("source")
        val (dns, dname) = ident("destination")
        val src = tableRoot(sns, sname); val dst = tableRoot(dns, dname)
        if (!IcebergTable.exists(src)) notFound(ex)
        else if (!TableIO.isDirectory(nsRoot(dns)))
          reply(ex, 404, errBody(s"namespace $dns does not exist", 404))
        else if (IcebergTable.exists(dst) || TableIO.exists(TableIO.path(dst)))
          reply(ex, 409, errBody("destination exists", 409))
        else {
          TableIO.rename(TableIO.path(src), TableIO.path(dst))
          reply(ex, 204, Array.empty)
        }

      case ("POST", Seq("views", "rename")) =>
        // rename_view (catalog_api_api.rs rename_view): same move
        // semantics as table rename, guarded by view existence
        val body = mapper.readTree(ex.getRequestBody)
        def ident(k: String): (String, String) = {
          val n = body.get(k)
          (nsFromBody(n.get("namespace")), n.get("name").asText())
        }
        val (sns, sname) = ident("source")
        val (dns, dname) = ident("destination")
        val src = tableRoot(sns, sname); val dst = tableRoot(dns, dname)
        if (!graft.table.Views.viewExists(src)) notFound(ex)
        else if (!TableIO.isDirectory(nsRoot(dns)))
          reply(ex, 404, errBody(s"namespace $dns does not exist", 404))
        else if (graft.table.Views.viewExists(dst) ||
            IcebergTable.exists(dst) || TableIO.exists(TableIO.path(dst)))
          reply(ex, 409, errBody("destination exists", 409))
        else {
          TableIO.rename(TableIO.path(src), TableIO.path(dst))
          reply(ex, 204, Array.empty)
        }

      case ("POST", Seq("namespaces", ns, "register")) =>
        // register an EXISTING table (metadata written by any engine)
        // under this catalog: the metadata is imported as version 1
        // here; its `location` keeps pointing at the original data
        val body = mapper.readTree(ex.getRequestBody)
        val name = body.get("name").asText()
        val mLoc = body.get("metadata-location").asText()
        val root = tableRoot(ns, name)
        if (!TableIO.isDirectory(nsRoot(ns)))
          reply(ex, 404, errBody(s"namespace $ns does not exist", 404))
        else if (IcebergTable.exists(root))
          reply(ex, 409, errBody("table exists", 409))
        else {
          val m = IcebergMetadata.fromJson(
            TableIO.readString(TableIO.path(mLoc)))
          if (IcebergMetadata.commitAt(root, m, 0))
            reply(ex, 200, loadTableResult(root))
          else reply(ex, 409, errBody("table exists", 409))
        }

      case ("HEAD", Seq("namespaces", ns, "tables", t)) =>
        reply(ex,
          if (IcebergTable.exists(tableRoot(ns, t))) 204 else 404,
          Array.empty)

      case ("DELETE", Seq("namespaces", ns, "tables", t)) =>
        val root = tableRoot(ns, t)
        if (!IcebergTable.exists(root)) notFound(ex)
        else {
          // a staged-created table's data lives at the dot-hidden
          // location its stage-create chose; DROP removes that too —
          // but ONLY provably server-created staged storage (a
          // `.stage-` dir directly under this namespace), never a
          // register_table'd external location
          val loc = scala.util.Try(
            IcebergMetadata.load(root).location).toOption
          loc.map(TableIO.path(_)).filter { p =>
            p.getName.startsWith(".stage-") &&
              p.getParent != null &&
              p.getParent.toUri.getPath == nsRoot(ns).toUri.getPath &&
              p.toUri.getPath != TableIO.path(root).toUri.getPath
          }.foreach(TableIO.delete(_, recursive = true))
          TableIO.delete(TableIO.path(root), recursive = true)
          reply(ex, 204, Array.empty)
        }

      // dropNamespace (catalog_api_api.rs drop_namespace): 409 when
      // non-empty — tables, views, OR child namespaces all count, per
      // the spec's NamespaceNotEmpty error
      case ("DELETE", Seq("namespaces", ns)) =>
        if (!TableIO.isDirectory(nsRoot(ns))) notFound(ex)
        else if (TableIO.listDir(nsRoot(ns)).exists(st =>
            st.isDirectory && !st.getPath.getName.startsWith(".")))
          reply(ex, 409, errBody(s"namespace $ns is not empty", 409))
        else {
          TableIO.delete(nsRoot(ns), recursive = true)
          reply(ex, 204, Array.empty)
        }

      case _ => notFound(ex)
    }
  } catch {
    case e: BadRequest => reply(ex, 400, errBody(e.getMessage, 400))
    case e: Exception =>
      reply(ex, 500, errBody(String.valueOf(e.getMessage), 500))
  }

  def start(): IcebergRestServer = {
    // TCP_NODELAY on the JDK server's accepted sockets (read once by
    // sun.net.httpserver.ServerConfig's static init, so set before the
    // first HttpServer.create in the JVM). Without it every
    // request/response pair on loopback stalls in the Nagle +
    // delayed-ACK interaction: measured 46 ms -> 2.5 ms per request
    // on loopback, which dominated every REST-backed query's
    // wall time (guide §1: measure first — the driver gap was 67-72%
    // sendAuth).
    System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", bindPort), 0)
    server.createContext("/v1", handle(_))
    // daemon threads + explicit shutdown on stop: a leaked pool would
    // keep a forked JVM (Verify/Bench runMain) alive after main exits
    pool = java.util.concurrent.Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-rest-server")
      t.setDaemon(true)
      t
    })
    server.setExecutor(pool)
    server.start()
    this
  }

  private var pool: java.util.concurrent.ExecutorService = _

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdown()
  }
}

/** Client side: discover and open tables over the REST protocol. */
object IcebergRestClient {
  private val mapper = new ObjectMapper()

  /** Minimal HTTP response for the REST protocol (status + UTF-8
    * body). Method names match java.net.http.HttpResponse so call
    * sites read the same. */
  private[iceberg] final case class RestResp(status: Int, bodyText: String) {
    def statusCode(): Int = status
    def body(): String = bodyText
  }

  /** Blocking HttpURLConnection transport with the JDK's transparent
    * keep-alive pool: measured 1.2 ms/req on loopback vs 3.9 ms for
    * java.net.http.HttpClient (the async client
    * pays selector + executor thread hops on every send). The REST
    * protocol here is strictly sequential request/response per
    * caller thread, so the blocking client is faster and allocates
    * less; connections are reused across requests per (host, port).
    * Draining the response body fully (readAllBytes + close) is what
    * returns the connection to the keep-alive pool. */
  private def rawSend(method: String, uri: String, body: Option[String],
      contentType: String, auth: Option[String]): RestResp = {
    val c = new java.net.URL(uri).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod(method)
    auth.foreach(t => c.setRequestProperty("Authorization", s"Bearer $t"))
    body.foreach { b =>
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", contentType)
      val bytes = b.getBytes(StandardCharsets.UTF_8)
      c.setFixedLengthStreamingMode(bytes.length)
      val os = c.getOutputStream
      try os.write(bytes) finally os.close()
    }
    val code = c.getResponseCode
    val is =
      if (code >= 400) c.getErrorStream
      else scala.util.Try(c.getInputStream).getOrElse(null)
    val text =
      if (is == null) ""
      else try new String(is.readAllBytes(), StandardCharsets.UTF_8)
      finally is.close()
    RestResp(code, text)
  }

  /** Static bearer credential applied to every request when set — the
    * shape of the reference client's configuration field
    * (configuration.rs bearer_access_token). */
  @volatile var bearerToken: Option[String] = None

  /** Per-catalog credentials keyed by server base URI: two catalogs
    * registered in one session may talk to two servers with two
    * tokens, so a single global token cannot serve both. Longest
    * matching base wins; the global bearerToken is the fallback. */
  private val tokensByBase =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def setTokenFor(base: String, token: String): Unit =
    tokensByBase.put(base.stripSuffix("/"), token)

  private def tokenFor(uri: String): Option[String] = {
    import scala.jdk.CollectionConverters._
    tokensByBase.asScala
      .filter { case (b, _) => uri.startsWith(b + "/") || uri == b }
      .toSeq.sortBy(-_._1.length).headOption.map(_._2)
      .orElse(bearerToken)
  }

  /** The credential currently in effect for a base URI — cache keys
    * derived from server responses must incorporate it so a token
    * change (rotation, reconfiguration) is a miss, not a stale serve
    * that silently bypasses the server's auth check. */
  def credentialStamp(base: String): String =
    tokenFor(base.stripSuffix("/") + "/").getOrElse("")

  /** Namespace path segment on the wire: multi-level namespaces join
    * with the spec's %1F unit separator (catalog_api_api.rs threads
    * the same encoding); '%' itself escapes first so decode is
    * unambiguous. URI-illegal control chars never reach URI.create. */
  private[iceberg] def encNs(ns: String): String =
    ns.replace("%", "%25").replace("\u001F", "%1F")

  private def nsUrl(base: String, ns: String): String =
    s"$base/v1/namespaces/${encNs(ns)}"


  /** client_credentials pairs remembered per base so an EXPIRED token
    * can be re-exchanged mid-session (reference deployments rotate
    * bearer tokens; the client must not die on the first 401 after a
    * rotation). */
  private val credsByBase =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def refreshFor(uri: String): Option[String] = {
    import scala.jdk.CollectionConverters._
    credsByBase.asScala
      .filter { case (b, _) => uri.startsWith(b + "/") || uri == b }
      .toSeq.sortBy(-_._1.length).headOption
      .map { case (b, (id, secret)) => authenticateFor(b, id, secret) }
  }

  /** Every request goes through here: on a 401 with a stored
    * credential for the base, re-run the client_credentials exchange
    * ONCE and retry with the fresh token; otherwise the 401 surfaces
    * to the caller. The token endpoint itself bypasses this (its 401
    * is the answer, and retrying through itself would recurse). */
  /** Request diagnostics (reads are racy-but-monotonic; used by the
    * perf tools to attribute wall time to protocol round trips). */
  val requestCount = new java.util.concurrent.atomic.AtomicLong()
  val requestNanos = new java.util.concurrent.atomic.AtomicLong()
  /** Per-endpoint request counts (method + path with ids collapsed) —
    * passive diagnostics for the perf tools, same spirit as
    * requestCount. */
  val requestsByEndpoint =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private def sendAuth(method: String, uri: String,
      body: Option[String] = None,
      contentType: String = "application/json"): RestResp = {
    val t0 = System.nanoTime()
    val resp = rawSend(method, uri, body, contentType, tokenFor(uri))
    requestCount.incrementAndGet()
    requestNanos.addAndGet(System.nanoTime() - t0)
    val ep = method + " " + java.net.URI.create(uri).getPath
      .replaceAll("/namespaces/[^/]+", "/namespaces/{ns}")
      .replaceAll("/tables/[^/]+", "/tables/{t}")
    requestsByEndpoint
      .computeIfAbsent(ep, _ => new java.util.concurrent.atomic.AtomicLong())
      .incrementAndGet()
    if (resp.statusCode() != 401) resp
    else refreshFor(uri) match {
      case Some(tok) => rawSend(method, uri, body, contentType, Some(tok))
      case None => resp
    }
  }

  private def get(uri: String): com.fasterxml.jackson.databind.JsonNode = {
    val resp = sendAuth("GET", uri)
    require(resp.statusCode() == 200, s"GET $uri -> ${resp.statusCode()}")
    mapper.readTree(resp.body())
  }

  /** Raw GET for protocol plumbing (IcebergRestCommit's base load). */
  private[iceberg] def getJson(uri: String)
      : com.fasterxml.jackson.databind.JsonNode = get(uri)

  /** Raw POST for protocol plumbing (IcebergRestCommit's commit). */
  private[iceberg] def postJson(uri: String, body: String)
      : RestResp = post(uri, body)

  /** Top-level namespaces (no parent), joined multi-level form. */
  def listNamespaces(base: String): Seq[String] =
    listNamespacesUnder(base, None)

  /** list_namespaces with an optional multi-level parent: returns the
    * children's FULL namespace paths (levels joined with \u001F). */
  def listNamespacesUnder(base: String, parent: Option[String])
      : Seq[String] = {
    import scala.jdk.CollectionConverters._
    val q = parent.map(p => "?parent=" +
      p.split('\u001F').map(java.net.URLEncoder.encode(_, "UTF-8"))
        .mkString("%1F")).getOrElse("")
    get(s"$base/v1/namespaces" + q).get("namespaces").elements().asScala
      .map(_.elements().asScala.map(_.asText()).mkString("\u001F")).toSeq
  }

  def listTables(base: String, ns: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    get(s"${nsUrl(base, ns)}/tables").get("identifiers").elements()
      .asScala.map(_.get("name").asText()).toSeq
  }

  /** Paged listing: follows next-page-token until exhausted, pageSize
    * rows per request (reference clients thread page_token the same
    * way through list_tables). */
  def listTablesPaged(base: String, ns: String, pageSize: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var token: Option[String] = None
    var done = false
    while (!done) {
      val q = s"pageSize=$pageSize" + token.map(t => s"&pageToken=$t").getOrElse("")
      val n = get(s"${nsUrl(base, ns)}/tables?$q")
      out ++= n.get("identifiers").elements().asScala.map(_.get("name").asText())
      token = Option(n.get("next-page-token")).map(_.asText())
      done = token.isEmpty
    }
    out.toSeq
  }

  def createNamespace(base: String, ns: String,
      properties: Map[String, String] = Map.empty): Unit = {
    val n = mapper.createObjectNode()
    val levels = n.putArray("namespace")
    ns.split('\u001F').foreach(levels.add)
    if (properties.nonEmpty) {
      val p = n.putObject("properties")
      properties.foreach { case (k, v) => p.put(k, v) }
    }
    val resp = post(s"$base/v1/namespaces", mapper.writeValueAsString(n))
    require(resp.statusCode() == 200, s"createNamespace -> ${resp.statusCode()}")
  }

  def tableExists(base: String, ns: String, table: String): Boolean =
    sendAuth("HEAD", s"${nsUrl(base, ns)}/tables/$table").statusCode() == 204

  def dropTable(base: String, ns: String, table: String): Unit = {
    val resp = sendAuth("DELETE", s"${nsUrl(base, ns)}/tables/$table")
    require(resp.statusCode() == 204, s"dropTable -> ${resp.statusCode()}")
  }

  /** The table's root directory, resolved from the served
    * metadata-location (its parent's parent — metadata/vN.json lives
    * one level under the root); None when the table does not exist.
    * The root anchors the engine's direct data/manifest IO on shared
    * storage while metadata commits stay on the protocol. */
  def tableRootOf(base: String, ns: String, table: String): Option[String] = {
    val resp = sendAuth("GET", s"${nsUrl(base, ns)}/tables/$table")
    if (resp.statusCode() == 404) None
    else {
      require(resp.statusCode() == 200,
        s"loadTable $ns.$table -> ${resp.statusCode()}")
      val mLoc = new org.apache.hadoop.fs.Path(
        mapper.readTree(resp.body()).get("metadata-location").asText())
      Some(rootDirOf(mLoc))
    }
  }

  /** Table root from a served metadata-location (its parent's
    * parent). Default-filesystem locations resolve to a bare path
    * (the engine's local convention); any OTHER scheme keeps its
    * qualified URI so s3a://, hdfs://-served tables route IO to the
    * right store instead of silently resolving locally. */
  private def rootDirOf(mLoc: org.apache.hadoop.fs.Path): String = {
    val root = mLoc.getParent.getParent
    val scheme = Option(root.toUri.getScheme)
    if (scheme.forall(_ == "file")) root.toUri.getPath else root.toString
  }

  /** Open a table from the REST response's inline metadata: scans plan
    * from the returned tree, no direct metadata-dir reads. */
  def loadTable(spark: org.apache.spark.sql.SparkSession,
      base: String, ns: String, table: String): IcebergTable = {
    val res = get(s"${nsUrl(base, ns)}/tables/$table")
    val m = IcebergMetadata.fromJson(
      mapper.writeValueAsString(res.get("metadata")))
    // anchor at the served metadata file's table dir, not the recorded
    // location — they differ after a catalog rename
    val mLoc = new org.apache.hadoop.fs.Path(res.get("metadata-location").asText())
    IcebergTable.fromMetadataAt(spark, rootDirOf(mLoc), m)
  }

  private def post(uri: String, body: String): RestResp =
    sendAuth("POST", uri, Some(body))

  /** Create an empty table over the protocol, optionally partitioned:
    * `partitions` are (sourceColumn, transform) pairs (identity /
    * bucket[N] / truncate[W] / year / month / day / hour), resolved to
    * field ids against the schema being created — the
    * CreateTableRequest shape with partition-spec. */
  private def createTableBody(name: String,
      schema: org.apache.spark.sql.types.StructType,
      partitions: Seq[(String, String)],
      properties: Map[String, String],
      stageCreate: Boolean): String = {
    val ice = IcebergMetadata.schemaFromSpark(schema)
    val n = mapper.createObjectNode()
    n.put("name", name)
    n.set("schema", IcebergMetadata.schemaToNode(ice))
    if (stageCreate) n.put("stage-create", true)
    if (partitions.nonEmpty) {
      val spec = n.putObject("partition-spec")
      spec.put("spec-id", 0)
      val fs = spec.putArray("fields")
      partitions.zipWithIndex.foreach { case ((c, transform), i) =>
        val srcId = ice.fieldId(c).getOrElse(throw new IllegalArgumentException(
          s"no column $c to partition by"))
        val f = fs.addObject()
        f.put("name", Transforms.fieldName(c, transform))
        f.put("transform", transform)
        f.put("source-id", srcId)
        f.put("field-id", 1000 + i)
      }
    }
    if (properties.nonEmpty) {
      val p = n.putObject("properties")
      properties.foreach { case (k, v) => p.put(k, v) }
    }
    mapper.writeValueAsString(n)
  }

  def createTable(base: String, ns: String, name: String,
      schema: org.apache.spark.sql.types.StructType,
      partitions: Seq[(String, String)] = Seq.empty,
      properties: Map[String, String] = Map.empty): Unit = {
    val resp = post(s"${nsUrl(base, ns)}/tables",
      createTableBody(name, schema, partitions, properties, stageCreate = false))
    require(resp.statusCode() == 200, s"createTable -> ${resp.statusCode()}: ${resp.body()}")
  }

  /** Staged create (CreateTableRequest.stage_create — create.rs:59):
    * the server builds the metadata at a hidden staged location and
    * the table does NOT exist until commitStagedCreate publishes it.
    * Returns the staged table root for direct writes. */
  def createTableStaged(base: String, ns: String, name: String,
      schema: org.apache.spark.sql.types.StructType,
      partitions: Seq[(String, String)] = Seq.empty,
      properties: Map[String, String] = Map.empty): String = {
    val resp = post(s"${nsUrl(base, ns)}/tables",
      createTableBody(name, schema, partitions, properties, stageCreate = true))
    require(resp.statusCode() == 200,
      s"createTableStaged -> ${resp.statusCode()}: ${resp.body()}")
    val mLoc = new org.apache.hadoop.fs.Path(
      mapper.readTree(resp.body()).get("metadata-location").asText())
    rootDirOf(mLoc)
  }

  /** The staged-create PUBLISH: one commit carrying the staged table's
    * whole state as updates (diffed against the shared empty skeleton)
    * under an assert-create requirement — the server's v1 metadata CAS
    * arbitrates racing creators; a lost race is 409 → false. */
  def commitStagedCreate(base: String, ns: String, name: String,
      stagedRoot: String): Boolean = {
    val cur = IcebergMetadata.load(stagedRoot)
    val body = mapper.createObjectNode()
    val reqs = body.putArray("requirements")
    reqs.addObject().put("type", "assert-create")
    // skeleton location "" ≠ the staged location, so the diff always
    // carries set-location(stagedRoot) — the server anchors the
    // published table's metadata at its own root and the location
    // keeps pointing at the staged data (same shape as a renamed
    // table: absolute manifest paths stay valid)
    body.set("updates", IcebergRestCommit.updates(
      IcebergMetadata.emptySkeleton(""), cur))
    val resp = post(s"${nsUrl(base, ns)}/tables/$name",
      mapper.writeValueAsString(body))
    if (resp.statusCode() == 409) false
    else {
      require(resp.statusCode() == 200,
        s"commitStagedCreate -> ${resp.statusCode()}: ${resp.body()}")
      true
    }
  }

  /** Drop a namespace (409 from the server when non-empty). */
  def dropNamespace(base: String, ns: String): Boolean = {
    val code = delete(s"${nsUrl(base, ns)}")
    require(code == 204 || code == 404,
      s"dropNamespace -> $code (non-empty?)")
    code == 204
  }

  private def delete(uri: String): Int =
    sendAuth("DELETE", uri).statusCode()

  /** loadNamespaceMetadata: the namespace's properties. */
  def namespaceProperties(base: String, ns: String): Map[String, String] =
    namespacePropertiesOpt(base, ns).getOrElse(
      throw new IllegalArgumentException(s"no namespace $ns"))

  /** None on 404 (namespace missing); any OTHER failure — auth,
    * transport, server error — throws, so callers can distinguish
    * "namespace doesn't exist" from "can't reach the catalog". */
  def namespacePropertiesOpt(base: String, ns: String)
      : Option[Map[String, String]] = {
    import scala.jdk.CollectionConverters._
    val resp = sendAuth("GET", nsUrl(base, ns))
    if (resp.statusCode() == 404) None
    else {
      require(resp.statusCode() == 200,
        s"loadNamespaceMetadata $ns -> ${resp.statusCode()}: ${resp.body()}")
      Some(Option(mapper.readTree(resp.body()).get("properties"))
        .map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty))
    }
  }

  /** updateProperties on a namespace; returns (updated, removed, missing). */
  def updateNamespaceProperties(base: String, ns: String,
      set: Map[String, String], remove: Seq[String] = Seq.empty)
      : (Seq[String], Seq[String], Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val n = mapper.createObjectNode()
    val u = n.putObject("updates")
    set.foreach { case (k, v) => u.put(k, v) }
    val rm = n.putArray("removals")
    remove.foreach(rm.add)
    val resp = post(s"${nsUrl(base, ns)}/properties",
      mapper.writeValueAsString(n))
    require(resp.statusCode() == 200,
      s"updateNamespaceProperties -> ${resp.statusCode()}: ${resp.body()}")
    val r = mapper.readTree(resp.body())
    def strs(k: String): Seq[String] =
      Option(r.get(k)).map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Seq.empty)
    (strs("updated"), strs("removed"), strs("missing"))
  }

  // ---- views ----------------------------------------------------------

  def listViews(base: String, ns: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    get(s"${nsUrl(base, ns)}/views").get("identifiers").elements()
      .asScala.map(_.get("name").asText()).toSeq
  }

  def createView(base: String, ns: String, name: String, sql: String,
      sources: Map[String, String] = Map.empty,
      properties: Map[String, String] = Map.empty): Unit = {
    val code = createViewStatus(base, ns, name, sql, sources, properties)
    require(code == 200, s"createView -> $code")
  }

  /** createView returning the HTTP status (409 = already exists) so a
    * catalog front-end can map conflicts to its own exception type. */
  def createViewStatus(base: String, ns: String, name: String, sql: String,
      sources: Map[String, String] = Map.empty,
      properties: Map[String, String] = Map.empty): Int = {
    val n = mapper.createObjectNode()
    n.put("name", name); n.put("sql", sql)
    val s = n.putObject("sources")
    sources.foreach { case (k, v) => s.put(k, v) }
    if (properties.nonEmpty) {
      val p = n.putObject("properties")
      properties.foreach { case (k, v) => p.put(k, v) }
    }
    post(s"${nsUrl(base, ns)}/views", mapper.writeValueAsString(n))
      .statusCode()
  }

  def viewExists(base: String, ns: String, name: String): Boolean =
    sendAuth("HEAD", s"${nsUrl(base, ns)}/views/$name").statusCode() == 204

  /** Full view definition from LoadViewResult, in the shape the view
    * machinery uses locally — (def, current version, materialized?).
    * None when the view does not exist. */
  def loadViewDef(base: String, ns: String, name: String)
      : Option[(graft.table.Views.ViewDef, Int, Boolean)] = {
    import scala.jdk.CollectionConverters._
    val resp = sendAuth("GET", s"${nsUrl(base, ns)}/views/$name")
    if (resp.statusCode() == 404) return None
    require(resp.statusCode() == 200,
      s"loadView $ns.$name -> ${resp.statusCode()}")
    val n = mapper.readTree(resp.body())
    val reps = Option(n.get("representations")).map(_.elements().asScala.map(rn =>
      graft.table.Views.ViewRepresentation(
        rn.get("dialect").asText(), rn.get("sql").asText())).toSeq)
      .getOrElse(Seq.empty)
    val props = Option(n.get("properties")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)
    val srcs = Option(n.get("sources")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)
    Some((graft.table.Views.ViewDef(
      Option(n.get("name")).map(_.asText()).getOrElse(name),
      n.get("sql").asText(), srcs,
      n.get("current-version").asInt(), reps,
      uuid = Option(n.get("view-uuid")).map(_.asText()).getOrElse(""),
      properties = props,
      location = Option(n.get("location")).map(_.asText()).getOrElse("")),
      n.get("current-version").asInt(),
      n.has("materialization")))
  }

  /** (sql, sources, current version). */
  def loadView(base: String, ns: String, name: String)
      : (String, Map[String, String], Int) = {
    import scala.jdk.CollectionConverters._
    val n = get(s"${nsUrl(base, ns)}/views/$name")
    (n.get("sql").asText(),
      n.get("sources").properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap,
      n.get("current-version").asInt())
  }

  /** Multi-dialect representations of the current view version. */
  def loadViewRepresentations(base: String, ns: String, name: String)
      : Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val n = get(s"${nsUrl(base, ns)}/views/$name")
    Option(n.get("representations")).map(_.elements().asScala.map(rn =>
      rn.get("dialect").asText() -> rn.get("sql").asText()).toSeq)
      .getOrElse(Seq.empty)
  }

  /** Create a materialized view: view definition + storage-table
    * schema in one request (the catalog creates the storage table;
    * the ENGINE computes the schema and later refreshes — reference
    * catalog.rs:387 create_materialized_view). */
  def createMaterializedView(base: String, ns: String, name: String,
      sql: String, sources: Map[String, String],
      storageSchemaJson: String,
      incrementalFold: Option[String] = None): Unit = {
    val n = mapper.createObjectNode()
    n.put("name", name); n.put("sql", sql)
    val s = n.putObject("sources")
    sources.foreach { case (k, v) => s.put(k, v) }
    val mat = n.putObject("materialization")
    mat.put("storage-schema", storageSchemaJson)
    incrementalFold.foreach(mat.put("incremental-fold", _))
    val resp = post(s"${nsUrl(base, ns)}/views", mapper.writeValueAsString(n))
    require(resp.statusCode() == 200,
      s"createMaterializedView -> ${resp.statusCode()}: ${resp.body()}")
  }

  /** Materialized-view load: (fresh, storage location, refresh version
    * id, recorded source states, current source states). Fails if the
    * view has no materialization. */
  def loadMaterializedView(base: String, ns: String, name: String)
      : (Boolean, String, Long, Map[String, Long], Map[String, Long]) = {
    import scala.jdk.CollectionConverters._
    val n = get(s"${nsUrl(base, ns)}/views/$name")
    val mat = Option(n.get("materialization")).getOrElse(
      throw new IllegalStateException(s"view $ns.$name is not materialized"))
    val rs = n.get("refresh-state")
    def states(key: String): Map[String, Long] =
      rs.get(key).elements().asScala.map(e =>
        e.get("source").asText() -> e.get("snapshot-id").asLong()).toMap
    (n.get("fresh").asBoolean(),
      mat.get("storage-location").asText(),
      rs.get("refresh-version-id").asLong(),
      states("source-table-states"),
      states("current-source-states"))
  }

  /** Replace the view SQL against the base version the caller loaded;
    * returns the HTTP status (200 ok, 409 lost race). Optional
    * `representations` carry other dialects' SQL alongside the
    * canonical one (Iceberg view-spec representation evolution). */
  def replaceView(base: String, ns: String, name: String, sql: String,
      baseVersion: Int, sources: Map[String, String] = Map.empty,
      representations: Seq[(String, String)] = Seq.empty,
      properties: Option[Map[String, String]] = None): Int = {
    val n = mapper.createObjectNode()
    n.put("sql", sql); n.put("base-version", baseVersion)
    val s = n.putObject("sources")
    sources.foreach { case (k, v) => s.put(k, v) }
    properties.foreach { ps =>
      val p = n.putObject("properties")
      ps.foreach { case (k, v) => p.put(k, v) }
    }
    if (representations.nonEmpty) {
      val reps = n.putArray("representations")
      representations.foreach { case (d, q) =>
        val rn = reps.addObject()
        rn.put("type", "sql"); rn.put("dialect", d); rn.put("sql", q)
      }
    }
    post(s"${nsUrl(base, ns)}/views/$name",
      mapper.writeValueAsString(n)).statusCode()
  }

  /** The spec's CommitViewRequest (the reference client's update_view
    * shape): assert-view-uuid + add-view-version/set-current-view-
    * version(-1) + property updates. Returns the HTTP status. */
  def commitView(base: String, ns: String, name: String,
      assertUuid: Option[String] = None,
      representations: Seq[(String, String)] = Seq.empty,
      setProperties: Map[String, String] = Map.empty,
      removeProperties: Seq[String] = Seq.empty,
      versionId: Int = -1,
      extraUpdates: Seq[com.fasterxml.jackson.databind.node.ObjectNode] =
        Seq.empty): Int = {
    val n = mapper.createObjectNode()
    val reqs = n.putArray("requirements")
    assertUuid.foreach { u =>
      val r = reqs.addObject()
      r.put("type", "assert-view-uuid"); r.put("uuid", u)
    }
    val ups = n.putArray("updates")
    if (representations.nonEmpty) {
      val add = ups.addObject()
      add.put("action", "add-view-version")
      val vv = add.putObject("view-version")
      vv.put("version-id", 1)
      val reps = vv.putArray("representations")
      representations.foreach { case (d, q) =>
        val rn = reps.addObject()
        rn.put("type", "sql"); rn.put("dialect", d); rn.put("sql", q)
      }
      val cur = ups.addObject()
      cur.put("action", "set-current-view-version")
      cur.put("view-version-id", versionId)
    }
    if (setProperties.nonEmpty) {
      val sp = ups.addObject()
      sp.put("action", "set-properties")
      val o = sp.putObject("updates")
      setProperties.foreach { case (k, v) => o.put(k, v) }
    }
    if (removeProperties.nonEmpty) {
      val rp = ups.addObject()
      rp.put("action", "remove-properties")
      val a = rp.putArray("removals")
      removeProperties.foreach(a.add)
    }
    extraUpdates.foreach(ups.add)
    post(s"${nsUrl(base, ns)}/views/$name",
      mapper.writeValueAsString(n)).statusCode()
  }

  /** view-uuid from LoadViewResult. */
  def loadViewUuid(base: String, ns: String, name: String): String =
    get(s"${nsUrl(base, ns)}/views/$name").get("view-uuid").asText()

  /** declared view location from LoadViewResult ("" when unset). */
  def loadViewLocation(base: String, ns: String, name: String): String =
    Option(get(s"${nsUrl(base, ns)}/views/$name").get("location"))
      .map(_.asText()).getOrElse("")

  /** view properties from LoadViewResult (empty map when none). */
  def loadViewProperties(base: String, ns: String,
      name: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val n = get(s"${nsUrl(base, ns)}/views/$name")
    Option(n.get("properties")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)
  }

  private def exchangeCredentials(base: String, clientId: String,
      clientSecret: String): String = {
    val form = s"grant_type=client_credentials&client_id=" +
      java.net.URLEncoder.encode(clientId, "UTF-8") +
      "&client_secret=" + java.net.URLEncoder.encode(clientSecret, "UTF-8")
    // bypasses sendAuth: the token endpoint's 401 is the answer, and
    // retrying through the refresh path would recurse
    val uri = s"$base/v1/oauth/tokens"
    val resp = rawSend("POST", uri, Some(form),
      "application/x-www-form-urlencoded", tokenFor(uri))
    require(resp.statusCode() == 200,
      s"authenticate -> ${resp.statusCode()}: ${resp.body()}")
    mapper.readTree(resp.body()).get("access_token").asText()
  }

  /** client_credentials grant: exchange id+secret for the catalog's
    * bearer token and install it on this client. */
  def authenticate(base: String, clientId: String,
      clientSecret: String): String = {
    val token = exchangeCredentials(base, clientId, clientSecret)
    bearerToken = Some(token)
    token
  }

  /** client_credentials grant scoped to ONE server base — the
    * catalog-level `credential` option's exchange. The pair is
    * remembered so a later 401 (token rotated/expired server-side)
    * transparently re-exchanges and retries once. */
  def authenticateFor(base: String, clientId: String,
      clientSecret: String): String = {
    val b = base.stripSuffix("/")
    val token = exchangeCredentials(b, clientId, clientSecret)
    credsByBase.put(b, (clientId, clientSecret))
    setTokenFor(b, token)
    token
  }

  /** POST a metrics report for a table (reference: report_metrics). */
  def reportMetrics(base: String, ns: String, table: String,
      reportJson: String): Unit = {
    val resp = post(s"${nsUrl(base, ns)}/tables/$table/metrics", reportJson)
    require(resp.statusCode() == 204,
      s"reportMetrics -> ${resp.statusCode()}")
  }

  def dropView(base: String, ns: String, name: String): Unit =
    require(delete(s"${nsUrl(base, ns)}/views/$name") == 204, "dropView failed")

  // ---- rename / register / properties ---------------------------------

  def renameTable(base: String, ns: String, from: String, to: String,
      toNs: String = null): Unit = {
    val n = mapper.createObjectNode()
    val s = n.putObject("source")
    val sArr = s.putArray("namespace")
    ns.split('\u001F').foreach(sArr.add)
    s.put("name", from)
    val d = n.putObject("destination")
    val dArr = d.putArray("namespace")
    (if (toNs == null) ns else toNs).split('\u001F').foreach(dArr.add)
    d.put("name", to)
    val resp = post(s"$base/v1/tables/rename", mapper.writeValueAsString(n))
    require(resp.statusCode() == 204,
      s"renameTable -> ${resp.statusCode()}: ${resp.body()}")
  }

  def renameView(base: String, ns: String, from: String, to: String,
      toNs: String = null): Unit = {
    val n = mapper.createObjectNode()
    val s = n.putObject("source")
    val sArr = s.putArray("namespace")
    ns.split('\u001F').foreach(sArr.add)
    s.put("name", from)
    val d = n.putObject("destination")
    val dArr = d.putArray("namespace")
    (if (toNs == null) ns else toNs).split('\u001F').foreach(dArr.add)
    d.put("name", to)
    val resp = post(s"$base/v1/views/rename", mapper.writeValueAsString(n))
    require(resp.statusCode() == 204,
      s"renameView -> ${resp.statusCode()}: ${resp.body()}")
  }

  /** One table's slice of a multi-table transaction: identifier +
    * requirements + updates, the same shapes the single-table commit
    * accepts. */
  case class TableChange(ns: String, name: String,
      requirements: Seq[com.fasterxml.jackson.databind.node.ObjectNode],
      updates: Seq[com.fasterxml.jackson.databind.node.ObjectNode])

  /** Current table uuid (for building assert-table-uuid requirements). */
  def tableUuid(base: String, ns: String, table: String): String =
    get(s"${nsUrl(base, ns)}/tables/$table")
      .get("metadata").get("table-uuid").asText()

  def requireUuid(uuid: String): com.fasterxml.jackson.databind.node.ObjectNode = {
    val r = mapper.createObjectNode()
    r.put("type", "assert-table-uuid"); r.put("uuid", uuid)
    r
  }

  /** A TableRequirement asserting one int-valued metadata field, e.g.
    * requireInt("assert-current-schema-id", "current-schema-id", 0). */
  def requireInt(tpe: String, field: String, value: Int)
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val r = mapper.createObjectNode()
    r.put("type", tpe); r.put(field, value)
    r
  }

  /** An add-sort-order update with explicit order id and
    * (source-id, direction) fields — for commit-protocol tests and
    * strict clients that manage order ids themselves. */
  def addSortOrderUpdate(orderId: Int, fields: Seq[(Int, String)])
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val u = mapper.createObjectNode()
    u.put("action", "add-sort-order")
    val so = u.putObject("sort-order")
    so.put("order-id", orderId)
    val fs = so.putArray("fields")
    fields.foreach { case (id, dir) =>
      val fn = fs.addObject()
      fn.put("source-id", id); fn.put("transform", "identity")
      fn.put("direction", dir)
      fn.put("null-order", if (dir == "desc") "nulls-last" else "nulls-first")
    }
    u
  }

  /** A set-location update (commit.rs TableUpdate::SetLocation). */
  def setLocationUpdate(location: String)
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val u = mapper.createObjectNode()
    u.put("action", "set-location"); u.put("location", location)
    u
  }

  def setPropertiesUpdate(set: Map[String, String])
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val u = mapper.createObjectNode()
    u.put("action", "set-properties")
    val m = u.putObject("updates")
    set.foreach { case (k, v) => m.put(k, v) }
    u
  }

  /** commitTransaction: all changes land atomically or none do.
    * Returns the HTTP status (204 success, 409 conflict+rollback). */
  def commitTransaction(base: String, changes: Seq[TableChange]): Int = {
    val body = mapper.createObjectNode()
    val arr = body.putArray("table-changes")
    changes.foreach { ch =>
      val n = arr.addObject()
      val id = n.putObject("identifier")
      val levels = id.putArray("namespace")
      ch.ns.split('\u001F').foreach(levels.add)
      id.put("name", ch.name)
      val reqs = n.putArray("requirements")
      ch.requirements.foreach(reqs.add)
      val ups = n.putArray("updates")
      ch.updates.foreach(ups.add)
    }
    post(s"$base/v1/transactions/commit",
      mapper.writeValueAsString(body)).statusCode()
  }

  def registerTable(base: String, ns: String, name: String,
      metadataLocation: String): Unit = {
    val n = mapper.createObjectNode()
    n.put("name", name); n.put("metadata-location", metadataLocation)
    val resp = post(s"${nsUrl(base, ns)}/register",
      mapper.writeValueAsString(n))
    require(resp.statusCode() == 200,
      s"registerTable -> ${resp.statusCode()}: ${resp.body()}")
  }

  /** Set/remove table properties through the commit protocol
    * (set-properties / remove-properties updates, uuid-asserted). */
  def updateProperties(base: String, ns: String, table: String,
      set: Map[String, String], remove: Seq[String] = Seq.empty): Unit = {
    val res = get(s"${nsUrl(base, ns)}/tables/$table")
    val uuid = res.get("metadata").get("table-uuid").asText()
    val body = mapper.createObjectNode()
    val reqs = body.putArray("requirements")
    val r = reqs.addObject()
    r.put("type", "assert-table-uuid"); r.put("uuid", uuid)
    val ups = body.putArray("updates")
    if (set.nonEmpty) {
      val u = ups.addObject()
      u.put("action", "set-properties")
      val m = u.putObject("updates")
      set.foreach { case (k, v) => m.put(k, v) }
    }
    if (remove.nonEmpty) {
      val u = ups.addObject()
      u.put("action", "remove-properties")
      val arr = u.putArray("removals")
      remove.foreach(arr.add)
    }
    val resp = post(s"${nsUrl(base, ns)}/tables/$table",
      mapper.writeValueAsString(body))
    require(resp.statusCode() == 200,
      s"updateProperties -> ${resp.statusCode()}: ${resp.body()}")
  }

  /** Evolve the table's sort order through the commit protocol
    * (add-sort-order + set-default-sort-order, uuid-asserted —
    * commit.rs TableUpdate::AddSortOrder/SetDefaultSortOrder). Fields
    * are (column name, "asc"|"desc"); names resolve to source ids
    * against the current schema. Writes after the commit cluster by
    * the new order. */
  def updateSortOrder(base: String, ns: String, table: String,
      fields: Seq[(String, String)]): Unit = {
    val res = get(s"${nsUrl(base, ns)}/tables/$table")
    val m = IcebergMetadata.fromJson(
      mapper.writeValueAsString(res.get("metadata")))
    val orderId = m.sortOrders.map(_.orderId).maxOption.getOrElse(0) + 1
    val body = mapper.createObjectNode()
    val reqs = body.putArray("requirements")
    val r = reqs.addObject()
    r.put("type", "assert-table-uuid"); r.put("uuid", m.tableUuid)
    val ups = body.putArray("updates")
    val add = ups.addObject()
    add.put("action", "add-sort-order")
    val so = add.putObject("sort-order")
    so.put("order-id", orderId)
    val fs = so.putArray("fields")
    fields.foreach { case (name, dir) =>
      val id = m.schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name")).id
      val fn = fs.addObject()
      fn.put("source-id", id); fn.put("transform", "identity")
      fn.put("direction", dir)
      fn.put("null-order", if (dir == "desc") "nulls-last" else "nulls-first")
    }
    val set = ups.addObject()
    set.put("action", "set-default-sort-order")
    set.put("sort-order-id", -1)
    val resp = post(s"${nsUrl(base, ns)}/tables/$table",
      mapper.writeValueAsString(body))
    require(resp.statusCode() == 200,
      s"updateSortOrder -> ${resp.statusCode()}: ${resp.body()}")
  }

  /** Evolve the table schema through the commit protocol (add-schema
    * + set-current-schema -1, uuid-asserted — commit.rs
    * TableUpdate::AddSchema/SetCurrentSchema). The caller supplies
    * the FULL next schema under the field-id contract: renames keep
    * ids, adds allocate fresh ids above last-column-id. */
  def updateSchema(base: String, ns: String, table: String,
      schema: IcebergMetadata.IceSchema): Unit = {
    val res = get(s"${nsUrl(base, ns)}/tables/$table")
    val uuid = res.get("metadata").get("table-uuid").asText()
    val body = mapper.createObjectNode()
    val reqs = body.putArray("requirements")
    val r = reqs.addObject()
    r.put("type", "assert-table-uuid"); r.put("uuid", uuid)
    val ups = body.putArray("updates")
    val add = ups.addObject()
    add.put("action", "add-schema")
    add.set[com.fasterxml.jackson.databind.node.ObjectNode](
      "schema", IcebergMetadata.schemaToNode(schema))
    val set = ups.addObject()
    set.put("action", "set-current-schema")
    set.put("schema-id", -1)
    val resp = post(s"${nsUrl(base, ns)}/tables/$table",
      mapper.writeValueAsString(body))
    require(resp.statusCode() == 200,
      s"updateSchema -> ${resp.statusCode()}: ${resp.body()}")
  }

  /** Create or repoint a branch/tag through the commit protocol
    * (set-snapshot-ref), CAS-guarded on the ref's current position:
    * `expected` is where the caller believes the ref points (None =
    * absent). Returns the HTTP status — 200 committed, 409 lost race. */
  def setSnapshotRef(base: String, ns: String, table: String,
      refName: String, snapshotId: Long, expected: Option[Long],
      refType: String = "branch"): Int = {
    val body = mapper.createObjectNode()
    val reqs = body.putArray("requirements")
    val r = reqs.addObject()
    r.put("type", "assert-ref-snapshot-id"); r.put("ref", refName)
    expected match {
      case Some(id) => r.put("snapshot-id", id)
      case None => r.putNull("snapshot-id")
    }
    val ups = body.putArray("updates")
    val u = ups.addObject()
    u.put("action", "set-snapshot-ref"); u.put("ref-name", refName)
    u.put("type", refType); u.put("snapshot-id", snapshotId)
    post(s"${nsUrl(base, ns)}/tables/$table",
      mapper.writeValueAsString(body)).statusCode()
  }

  /** Drop a branch/tag through the commit protocol (remove-snapshot-ref,
    * commit.rs:115-118) — the cleanup step after write-audit-publish.
    * CAS-guarded like setSnapshotRef. Returns the HTTP status. */
  def removeSnapshotRef(base: String, ns: String, table: String,
      refName: String, expected: Option[Long]): Int = {
    val body = mapper.createObjectNode()
    val reqs = body.putArray("requirements")
    val r = reqs.addObject()
    r.put("type", "assert-ref-snapshot-id"); r.put("ref", refName)
    expected match {
      case Some(id) => r.put("snapshot-id", id)
      case None => r.putNull("snapshot-id")
    }
    val ups = body.putArray("updates")
    val u = ups.addObject()
    u.put("action", "remove-snapshot-ref"); u.put("ref-name", refName)
    post(s"${nsUrl(base, ns)}/tables/$table",
      mapper.writeValueAsString(body)).statusCode()
  }

  /** Append via the REST commit protocol: write data + manifests into
    * the table's storage, then POST add-snapshot/set-snapshot-ref with
    * an assert-ref requirement — the server CAS rejects lost races
    * with 409 (this is exactly how engines commit through a REST
    * catalog: data plane to storage, metadata plane over HTTP). */
  def appendViaRest(spark: org.apache.spark.sql.SparkSession,
      base: String, ns: String, table: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val res = get(s"${nsUrl(base, ns)}/tables/$table")
    val m = IcebergMetadata.fromJson(
      mapper.writeValueAsString(res.get("metadata")))
    val snap = IcebergWrite.prepareAppend(spark, m, df)
    val body = mapper.createObjectNode()
    val reqs = body.putArray("requirements")
    val r = reqs.addObject()
    r.put("type", "assert-ref-snapshot-id"); r.put("ref", "main")
    m.currentSnapshotId match {
      case Some(id) => r.put("snapshot-id", id)
      case None => r.putNull("snapshot-id")
    }
    val ups = body.putArray("updates")
    val add = ups.addObject()
    add.put("action", "add-snapshot")
    add.set("snapshot", IcebergMetadata.snapshotToNode(snap))
    val ref = ups.addObject()
    ref.put("action", "set-snapshot-ref"); ref.put("ref-name", "main")
    ref.put("type", "branch"); ref.put("snapshot-id", snap.snapshotId)
    val resp = post(s"${nsUrl(base, ns)}/tables/$table",
      mapper.writeValueAsString(body))
    require(resp.statusCode() == 200,
      s"commit -> ${resp.statusCode()}: ${resp.body()}")
  }
}
