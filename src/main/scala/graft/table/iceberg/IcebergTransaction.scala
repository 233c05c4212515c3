package graft.table.iceberg

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spark-side multi-table transaction over a REST catalog — the
  * client half of the protocol's commit_transaction endpoint
  * (reference: iceberg-rest-catalog/src/apis/catalog_api_api.rs:492
  * commit_transaction; models/commit_transaction_request.rs). All
  * staged changes land atomically or none do: the server validates
  * every table's requirements against its current state, CAS-commits
  * each table, and rolls already-committed tables back on any
  * conflict.
  *
  * Usage (Scala; `CALL cat.system.commit_transaction(...)` fronts the
  * append shape for SQL users):
  *
  *   val tx = new IcebergTransaction(spark, base)
  *   tx.append("db", "facts", factsDf)          // append the log
  *   tx.overwrite("db", "summary", summaryDf)   // rebuild the rollup
  *   tx.setProperties("db", "facts", Map("etl.run" -> runId))
  *   tx.commit()     // all-or-nothing
  *
  * Division of labor matches single-table commits: appends stage
  * their data files DIRECTLY to shared storage (distributed write,
  * unreferenced until the commit); only the metadata diff rides the
  * protocol. Requirements are built against the base each table was
  * OBSERVED at when its first change was staged — a foreign commit
  * that lands in between fails the transaction's asserts server-side
  * (409, nothing published). `commit()` then rebases onto fresh
  * server state and retries, up to `maxAttempts`; the staged data
  * files never rewrite, only the cheap manifest assembly re-runs
  * (same rebase shape as the single-table commitRetry). On
  * exhaustion the staged files are deleted and the commit throws. */
object IcebergTransaction {
  /** Build against a registered REST catalog's server (the
    * `spark.sql.catalog.<name>.uri` the catalog was configured
    * with) — so callers address the same server their SQL does. */
  def forCatalog(spark: SparkSession, catalogName: String)
      : IcebergTransaction = {
    val key = s"spark.sql.catalog.$catalogName.uri"
    val uri = spark.conf.getOption(key).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$catalogName' has no $key — multi-table " +
          "transactions ride the REST protocol"))
    new IcebergTransaction(spark, uri.stripSuffix("/"))
  }
}

class IcebergTransaction(spark: SparkSession, base: String) {
  import IcebergRestClient.TableChange

  private val mapper = new ObjectMapper()

  private case class Op(ns: String, name: String,
      mutate: IcebergMetadata.IceMetadata => IcebergMetadata.IceMetadata,
      cleanup: () => Unit, rebaseSafe: Boolean = true,
      finish: () => Unit = () => ())

  private val ops = scala.collection.mutable.ArrayBuffer[Op]()
  // the server state each table was first observed at: requirements
  // pin THIS base on the first attempt, so any foreign commit since
  // staging is detected rather than silently absorbed
  private val observed = scala.collection.mutable.LinkedHashMap[
    (String, String), IcebergMetadata.IceMetadata]()
  // committed and aborted are tracked SEPARATELY: after a successful
  // commit the staged files are referenced by published snapshots, so
  // abort() must never run cleanup again (a try/finally { tx.abort() }
  // around commit() is a safe no-op, not silent corruption)
  private var committed = false
  private var aborted = false
  private def done = committed || aborted

  private def served(ns: String, name: String): IcebergMetadata.IceMetadata = {
    val uri =
      s"$base/v1/namespaces/${IcebergRestClient.encNs(ns)}/tables/$name"
    IcebergMetadata.fromJson(
      mapper.writeValueAsString(IcebergRestClient.getJson(uri).get("metadata")))
  }

  private def observe(ns: String, name: String): IcebergMetadata.IceMetadata =
    observed.getOrElseUpdate((ns, name), served(ns, name))

  /** Stage an append: data files land under the table's data dir now
    * (distributed write, unreferenced); the snapshot publishes only
    * with the transaction. `toRef` targets a branch (reference:
    * TableTransaction::new's branch, transaction/mod.rs:33): the
    * snapshot chains from that branch's head and only that branch
    * moves — the WRITE half of multi-table write-audit-publish
    * ("stage appends onto the audit branches of N tables in one
    * atomic commit; fastForward publishes them later"). A branch that
    * doesn't exist yet starts empty (the reference's
    * current_snapshot(Some(branch)) -> None); to branch FROM main,
    * stage setSnapshotRef(branch, mainHead) first — ops fold in
    * staging order. */
  def append(ns: String, name: String, df: DataFrame,
      toRef: String = "main"): this.type = {
    require(!done, "transaction already committed or aborted")
    val m = observe(ns, name)
    val staged = IcebergWrite.stageAppend(spark, m, df, toRef)
    ops += Op(ns, name, staged.applyTo, staged.cleanup _,
      finish = () => staged.dropAttemptMeta(keepCommitted = true))
    this
  }

  /** Stage a compaction (reference: the transaction's rewrite /
    * rewrite_with_lineage, transaction/mod.rs:76,97): the table's
    * live content at the OBSERVED base, MoR deletes folded, re-binned
    * into ~targetFileSizeBytes files — committed atomically with the
    * transaction's other changes, `lineage` stamped into the rewrite
    * snapshot's summary (additional_summary). Rebase-AWARE like
    * deletePositions: a rival commit that rewrote/deleted any
    * compacted source file, or landed a later-sequence delete file,
    * fails the transaction (nothing published) instead of
    * resurrecting rows; rival APPENDS are carried — compaction
    * composes with concurrent ingest. */
  def rewrite(ns: String, name: String,
      lineage: Map[String, String] = Map.empty,
      targetFileSizeBytes: Long = 128L << 20): this.type = {
    require(!done, "transaction already committed or aborted")
    val m = observe(ns, name)
    val staged = IcebergWrite.stageRewrite(spark, m, lineage,
      targetFileSizeBytes)
    ops += Op(ns, name, staged.applyTo, staged.cleanup _,
      finish = () => staged.dropAttemptMeta(keepCommitted = true))
    this
  }

  /** Stage a ref move (reference: set_snapshot_ref,
    * transaction/mod.rs:135 — the entry carries a full
    * SnapshotReference, so branch OR tag with retention): point
    * `refName` at `snapshotId`, which must exist when the fold
    * reaches this op — it may be a snapshot an EARLIER staged op of
    * this same transaction creates. Moving "main" also moves the
    * current snapshot pointer. Rebase-safe (the target id is pinned
    * explicitly). `retention` replaces the ref's whole policy (the
    * update carries the complete reference — None clears it);
    * expireSnapshots honors it per ref. */
  def setSnapshotRef(ns: String, name: String, refName: String,
      snapshotId: Long, refType: String = "branch",
      retention: Option[IcebergMetadata.IceRefRetention] = None)
      : this.type = {
    require(!done, "transaction already committed or aborted")
    require(refType == "branch" || refType == "tag",
      s"ref type must be 'branch' or 'tag', got '$refType'")
    require(refName != "main" ||
      (refType == "branch" && retention.forall(_.maxRefAgeMs.isEmpty)),
      "'main' is always a branch and never expires (spec: " +
        "SnapshotRetention) — a tag type or max-ref-age-ms on 'main' " +
        "is a caller error")
    require(refType == "branch" || retention.forall(r =>
      r.minSnapshotsToKeep.isEmpty && r.maxSnapshotAgeMs.isEmpty),
      "a tag's retention carries only max-ref-age-ms " +
        "(spec: SnapshotRetention.Tag) — min-snapshots-to-keep / " +
        "max-snapshot-age-ms are branch fields")
    observe(ns, name)
    ops += Op(ns, name, m => {
      require(m.snapshots.exists(_.snapshotId == snapshotId),
        s"setSnapshotRef($refName): snapshot $snapshotId does not exist " +
          s"in $ns.$name")
      withRef(m, refName, snapshotId, refType, retention)
    }, () => ())
    this
  }

  /** Stage a fast-forward of `refName` to wherever `fromRef` points —
    * resolved at COMMIT time inside the fold, so it publishes the
    * audit branch's head as of the attempt that wins. The PUBLISH
    * half of multi-table write-audit-publish: stage
    * fastForward("main", from = "audit") on N tables and every branch
    * move lands in ONE protocol commit — all tables' main advances
    * together or none does. FAST-forward only (the contract of
    * Iceberg's fast_forward and of IcebergMaintenance.fastForward):
    * `refName`'s current head must be an ancestor of the target — a
    * rival commit that landed on `refName` after the branch forked
    * means the audit is STALE, and the transaction refuses (re-audit
    * on the new base) rather than silently dropping that commit from
    * the ref's lineage. A plain non-ancestry ref move is
    * setSnapshotRef. */
  def fastForward(ns: String, name: String, refName: String,
      fromRef: String): this.type = {
    require(!done, "transaction already committed or aborted")
    observe(ns, name)
    ops += Op(ns, name, m => {
      val toId = m.refs.getOrElse(fromRef,
        throw new IllegalArgumentException(
          s"fastForward($refName <- $fromRef): ref '$fromRef' does not " +
            s"exist in $ns.$name"))
      val fromId = m.refs.get(refName)
        .orElse(if (refName == "main") m.currentSnapshotId else None)
      fromId.foreach { f =>
        var cur = m.snapshots.find(_.snapshotId == toId)
        var isAncestor = false
        while (cur.isDefined && !isAncestor) {
          if (cur.get.snapshotId == f) isAncestor = true
          else cur = cur.get.parentId
            .flatMap(p => m.snapshots.find(_.snapshotId == p))
        }
        if (!isAncestor)
          throw new java.util.ConcurrentModificationException(
            s"fastForward($refName <- $fromRef) on $ns.$name refused: " +
              s"$refName ($f) is not an ancestor of $fromRef ($toId) — " +
              "a commit landed on the target ref after the branch " +
              "forked; re-audit on the new base (nothing was published)")
      }
      moveRef(m, refName, toId)
    }, () => ())
    this
  }

  /** Stage an idempotent fork: create `refName` at `fromRef`'s head if
    * it doesn't exist — resolved at COMMIT time inside the fold, so a
    * rebase forks from the attempt's fresh head. An existing ref is
    * left alone (the "ensure the audit branch exists" step the SQL
    * write-audit-publish front uses); the raw reference semantics — a
    * nonexistent branch starting EMPTY — remain available by just
    * appending with toRef. Never moves `refName` if present and never
    * moves main. */
  def forkRefIfAbsent(ns: String, name: String, refName: String,
      fromRef: String = "main"): this.type = {
    require(!done, "transaction already committed or aborted")
    observe(ns, name)
    ops += Op(ns, name, m => {
      if (m.refs.contains(refName)) m
      else m.refs.get(fromRef)
        .orElse(if (fromRef == "main") m.currentSnapshotId else None) match {
          case Some(id) => m.copy(refs = m.refs + (refName -> id))
          // headless MAIN on a freshly created table: no fork point
          // exists, but append(toRef) supports a nonexistent branch
          // starting empty — let it, so first-load WAP into a new
          // table works (a named non-main source ref that is absent
          // is still a caller error and refuses)
          case None if fromRef == "main" => m
          case None => throw new IllegalArgumentException(
            s"forkRefIfAbsent($refName): ref '$fromRef' has no head " +
              s"in $ns.$name")
        }
    }, () => ())
    this
  }

  /** Stage a branch/tag drop (protocol remove-snapshot-ref) — the
    * cleanup step after publish; snapshots stay until expire. */
  def dropSnapshotRef(ns: String, name: String, refName: String)
      : this.type = {
    require(!done, "transaction already committed or aborted")
    require(refName != "main", "cannot drop ref 'main'")
    observe(ns, name)
    ops += Op(ns, name, m => m.copy(refs = m.refs - refName,
      refTypes = m.refTypes - refName,
      refRetention = m.refRetention - refName), () => ())
    this
  }

  /** Stage a default-spec change (reference: set_default_spec,
    * transaction/mod.rs:47): make an EXISTING spec era the default
    * for future writes. The protocol pins assert-default-spec-id
    * server-side. Ops that stage data files for the same table must
    * be staged BEFORE this (they were partition-routed under the spec
    * observed at staging; the fold guards this loudly). */
  def setDefaultSpec(ns: String, name: String, specId: Int): this.type = {
    require(!done, "transaction already committed or aborted")
    observe(ns, name)
    ops += Op(ns, name, m => {
      require(m.specs.exists(_.specId == specId),
        s"setDefaultSpec: spec $specId does not exist in $ns.$name " +
          s"(known: ${m.specs.map(_.specId).mkString(",")})")
      m.copy(defaultSpecId = specId)
    }, () => ())
    this
  }

  /** Stage a NEW partition-spec era from (column, transform) pairs and
    * make it the default — spec evolution riding the transaction (the
    * re-partition + backfill shape: evolve table A's spec while the
    * backfill appends to table B, atomically). Field ids allocate from
    * whatever base each attempt sees, so rebases replay soundly; the
    * protocol pins assert-default-spec-id +
    * assert-last-assigned-partition-id. Same ordering contract as
    * setDefaultSpec for data-bearing ops on the same table. */
  def addPartitionSpec(ns: String, name: String,
      partitions: Seq[(String, String)]): this.type = {
    require(!done, "transaction already committed or aborted")
    require(partitions.nonEmpty, "addPartitionSpec needs fields")
    observe(ns, name)
    ops += Op(ns, name, m => {
      val schema = m.schema
      val newSpecId = m.specs.map(_.specId).maxOption.getOrElse(-1) + 1
      val firstFieldId = math.max(m.lastPartitionId, 999) + 1
      val fields = partitions.zipWithIndex.map { case ((c, t), i) =>
        val srcId = schema.fieldId(c).getOrElse(
          throw new IllegalArgumentException(
            s"addPartitionSpec: no column $c in $ns.$name"))
        IcebergMetadata.IcePartitionField(srcId, firstFieldId + i,
          Transforms.fieldName(c, t), t)
      }
      m.copy(
        specs = m.specs :+ IcebergMetadata.IceSpec(newSpecId, fields),
        defaultSpecId = newSpecId,
        lastPartitionId = firstFieldId + fields.size - 1)
    }, () => ())
    this
  }

  /** Set the COMPLETE reference: pointer, type, and retention policy
    * (setSnapshotRef carries a whole SnapshotReference — absent
    * retention clears any existing policy). */
  private def withRef(m: IcebergMetadata.IceMetadata, refName: String,
      id: Long, refType: String = "branch",
      retention: Option[IcebergMetadata.IceRefRetention] = None)
      : IcebergMetadata.IceMetadata =
    m.copy(refs = m.refs + (refName -> id),
      refTypes =
        if (refType == "branch") m.refTypes - refName
        else m.refTypes + (refName -> refType),
      refRetention = retention.filter(!_.isEmpty) match {
        case Some(ret) => m.refRetention + (refName -> ret)
        case None => m.refRetention - refName
      },
      currentSnapshotId =
        if (refName == "main") Some(id) else m.currentSnapshotId)

  /** Move only the POINTER: an existing ref's declared type and
    * retention policy survive a fast-forward. */
  private def moveRef(m: IcebergMetadata.IceMetadata, refName: String,
      id: Long): IcebergMetadata.IceMetadata =
    m.copy(refs = m.refs + (refName -> id),
      currentSnapshotId =
        if (refName == "main") Some(id) else m.currentSnapshotId)

  /** Stage a row-level equality DELETE: the distinct key tuples of
    * `keys` hide every earlier row version across ALL tables of the
    * transaction atomically — the multi-table GDPR shape ("delete
    * this user from facts AND summary in one commit"). Rebase-safe:
    * the delete applies by key to strictly-earlier sequences, so a
    * retry over a moved base carries exactly the asked-for
    * semantics. */
  def deleteByKey(ns: String, name: String, keys: DataFrame,
      eqCols: Seq[String]): this.type = {
    require(!done, "transaction already committed or aborted")
    val m = observe(ns, name)
    val staged = IcebergWrite.stageDeleteByKey(spark, m, keys, eqCols)
    ops += Op(ns, name, staged.applyTo, staged.cleanup _,
      finish = () => staged.dropAttemptMeta(keepCommitted = true))
    this
  }

  /** Stage a keyed UPSERT (MERGE shape): one snapshot holding an
    * equality delete of `df`'s key tuples plus `df` as new data
    * files — old row versions hidden, new rows live, O(changed rows)
    * IO. Rebase-safe: the replacement content is supplied by the
    * caller, not derived from the table. */
  def upsertByKey(ns: String, name: String, df: DataFrame,
      eqCols: Seq[String]): this.type = {
    require(!done, "transaction already committed or aborted")
    val m = observe(ns, name)
    val staged = IcebergWrite.stageUpsertByKey(spark, m, df, eqCols)
    ops += Op(ns, name, staged.applyTo, staged.cleanup _,
      finish = () => staged.dropAttemptMeta(keepCommitted = true))
    this
  }

  /** Stage a positional DELETE of (file_path, pos) rows. Rebase-AWARE
    * rather than rebase-safe: every commit attempt re-validates that
    * the data files the deletes reference are still live in the fresh
    * base — a concurrent rewrite/compaction fails the transaction
    * (nothing published) instead of resurrecting deleted rows. */
  def deletePositions(ns: String, name: String, positions: DataFrame)
      : this.type = {
    require(!done, "transaction already committed or aborted")
    val m = observe(ns, name)
    val staged = IcebergWrite.stageDeletePositions(spark, m, positions)
    ops += Op(ns, name, staged.applyTo, staged.cleanup _,
      finish = () => staged.dropAttemptMeta(keepCommitted = true))
    this
  }

  /** Stage a schema evolution (reference: transaction add_schema,
    * iceberg-rust/src/table/transaction/mod.rs:41): the added nullable
    * columns land atomically with the transaction's other changes —
    * the "evolve + backfill" shape stages addColumns on one table and
    * the backfill append on another (or the same) table. Ids allocate
    * from whatever base each attempt sees, so rebases replay
    * soundly; the protocol pins assert-current-schema-id +
    * assert-last-assigned-field-id server-side. */
  def addColumns(ns: String, name: String,
      newCols: org.apache.spark.sql.types.StructType): this.type = {
    require(!done, "transaction already committed or aborted")
    observe(ns, name)
    ops += Op(ns, name, IcebergWrite.addColumnsTo(newCols), () => ())
    this
  }

  /** Stage a whole-content overwrite: the table's live set is
    * replaced by `df` when the transaction commits. NOT rebase-safe:
    * if the table moves between staging and commit, the transaction
    * refuses (the replacement may have been computed FROM the table,
    * so replaying it over the interloper would drop that commit) —
    * recompute and re-run. Appends and property changes on OTHER
    * tables in the same transaction still rebase freely. */
  def overwrite(ns: String, name: String, df: DataFrame): this.type = {
    require(!done, "transaction already committed or aborted")
    val m = observe(ns, name)
    val staged = IcebergWrite.stageOverwrite(spark, m, df)
    ops += Op(ns, name, staged.applyTo, staged.cleanup _, rebaseSafe = false,
      finish = () => staged.dropAttemptMeta(keepCommitted = true))
    this
  }

  /** Stage table property changes. */
  def setProperties(ns: String, name: String, set: Map[String, String],
      remove: Seq[String] = Seq.empty): this.type = {
    require(!done, "transaction already committed or aborted")
    observe(ns, name)
    ops += Op(ns, name,
      m => m.copy(properties = m.properties ++ set -- remove), () => ())
    this
  }

  /** Commit everything atomically. Retries rebase onto fresh server
    * state (staged data files are reused; manifests reassemble).
    * Returns each table's metadata as this commit published it. */
  def commit(maxAttempts: Int = 5)
      : Map[(String, String), IcebergMetadata.IceMetadata] = {
    require(!done, "transaction already committed or aborted")
    require(ops.nonEmpty, "empty transaction")
    var attempts = 0
    var lastErr = ""
    while (attempts < maxAttempts) {
      val bases =
        if (attempts == 0) observed.toMap
        else observed.keys.map { case (ns, n) => (ns, n) -> served(ns, n) }.toMap
      // rebase guard: an overwrite's content was computed against the
      // OBSERVED base — replaying it over a base that moved would
      // silently drop the interleaved commit, so refuse instead
      ops.filter(!_.rebaseSafe).foreach { op =>
        val fresh = bases((op.ns, op.name))
        if (fresh.currentSnapshotId !=
            observed((op.ns, op.name)).currentSnapshotId) {
          abort()
          throw new java.util.ConcurrentModificationException(
            s"multi-table transaction aborted: ${op.ns}.${op.name} moved " +
              "while an overwrite for it was staged; recompute the " +
              "replacement content and re-run (nothing was published)")
        }
      }
      // one TableChange per table, its ops folded in staging order; a
      // mutate may REFUSE mid-fold (positional delete whose referenced
      // files were rewritten, a schema conflict) — abort and surface
      val changes = try {
        ops.groupBy(o => (o.ns, o.name)).toSeq
          .sortBy { case (k, _) => observed.keys.toSeq.indexOf(k) }
          .map { case ((ns, n), tableOps) =>
            val b = bases((ns, n))
            val next = tableOps.foldLeft(b)((m, op) => op.mutate(m))
            (TableChange(ns, n,
              nodes(IcebergRestCommit.requirements(b, next)),
              nodes(IcebergRestCommit.updates(b, next))), next)
          }
      } catch {
        case e: Throwable => abort(); throw e
      }
      val status = IcebergRestClient.commitTransaction(base, changes.map(_._1))
      if (status == 204) {
        committed = true
        // drop metadata written by superseded rebase attempts — the
        // published snapshots reference only the final attempt's
        ops.foreach(_.finish())
        return changes.map { case (c, next) => (c.ns, c.name) -> next }.toMap
      }
      if (status != 409) {
        abort()
        throw new IllegalStateException(
          s"commit_transaction failed: HTTP $status")
      }
      lastErr = s"lost commit race (409) on attempt ${attempts + 1}"
      attempts += 1
    }
    abort()
    throw new java.util.ConcurrentModificationException(
      s"multi-table transaction aborted after $maxAttempts attempts: " +
        s"$lastErr; staged files cleaned up, nothing published")
  }

  /** Drop every staged file (data AND per-attempt manifest avro);
    * publishes nothing. Idempotent, and a silent no-op after a
    * successful commit — so try/finally { tx.abort() } around
    * commit() can never delete files the committed snapshots
    * reference. */
  def abort(): Unit = {
    if (done) return
    aborted = true
    ops.foreach(_.cleanup())
  }

  private def nodes(arr: com.fasterxml.jackson.databind.node.ArrayNode)
      : Seq[com.fasterxml.jackson.databind.node.ObjectNode] = {
    import scala.jdk.CollectionConverters._
    arr.elements().asScala.map(
      _.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]).toSeq
  }
}
