package graft.table.iceberg

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

import graft.table.TableIO

/** Maintenance over REAL-format Iceberg tables — the same transaction
  * surface the reference applies to its own tables
  * (iceberg-rust/src/table/transaction/mod.rs:33-97), here exposed so
  * CALL procedures work on ADOPTED tables (register_table / add_files
  * bring them in; `IcebergWrite.rewrite` already covers compaction).
  *
  * Everything here is metadata-scale: manifest lists and manifests are
  * read on the driver (hundreds of avro records per snapshot), never
  * data files — the shape that stays cheap at 100 TB table size.
  */
object IcebergMaintenance {

  /** Expire history down to the newest `keepLast` snapshots of every
    * ref's ancestry (each ref tip always survives). Real-format
    * snapshots are self-contained — each carries its own manifest
    * list — so expiry is pure metadata filtering, no squash. A kept
    * snapshot whose parent expired drops the dangling pointer.
    * `maxAgeMs` (the procedure's older_than_ms) additionally keeps
    * every snapshot younger than the bound beyond the keepLast floor;
    * a ref's own declared max-snapshot-age-ms overrides it.
    * Returns (snapshots before, snapshots after). */
  def expireSnapshots(location: String, keepLast: Int,
      nowMs: Long = System.currentTimeMillis(),
      maxAgeMs: Option[Long] = None): (Int, Int) = {
    var before = 0
    var after = 0
    IcebergMetadata.commitRetry(location) { m =>
      before = m.snapshots.size
      // ref expiry first (spec: SnapshotRetention.max-ref-age-ms): a
      // non-main ref whose target snapshot is older than its declared
      // ref age disappears and stops pinning ancestry — same rule as
      // the native dialect's expireSnapshots
      val expiredRefs = m.refs.keySet.filter { name =>
        name != "main" && m.refRetention.get(name).flatMap(_.maxRefAgeMs)
          .exists(age => m.refs.get(name).flatMap(m.snapshot)
            .exists(s => nowMs - s.timestampMs > age))
      }
      val liveRefs = m.refs -- expiredRefs
      val keep = scala.collection.mutable.Set[Long]()
      val tips = liveRefs.toSeq.map { case (n, id) => (Some(n), id) } ++
        m.currentSnapshotId.map(id => (None: Option[String], id)).toSeq
      tips.distinct.foreach { case (refName, tip) =>
        // per-ref budget: a tag pins exactly its snapshot; a branch
        // with a declared policy keeps min-snapshots-to-keep plus
        // everything younger than max-snapshot-age-ms; otherwise the
        // caller's global keepLast applies
        val isTag = refName.exists(n => m.refTypes.get(n).contains("tag"))
        val ret = refName.flatMap(m.refRetention.get)
        val minKeep =
          if (isTag) 1
          else ret.flatMap(_.minSnapshotsToKeep).getOrElse(keepLast)
        val maxAge =
          if (isTag) None
          else ret.flatMap(_.maxSnapshotAgeMs).orElse(maxAgeMs)
        var cur = m.snapshot(tip)
        var n = 0
        while (cur.isDefined && (n < math.max(1, minKeep) ||
            maxAge.exists(a => nowMs - cur.get.timestampMs <= a))) {
          keep += cur.get.snapshotId
          cur = cur.get.parentId.flatMap(m.snapshot)
          n += 1
        }
      }
      after = math.min(keep.size, before)
      if (keep.size >= before && expiredRefs.isEmpty) m // nothing to do
      else m.copy(
        refs = liveRefs,
        refTypes = m.refTypes -- expiredRefs,
        refRetention = m.refRetention -- expiredRefs,
        snapshots =
          m.snapshots.filter(s => keep.contains(s.snapshotId)).map(s =>
            if (s.parentId.exists(p => !keep.contains(p)))
              s.copy(parentId = None)
            else s))
    }
    (before, after)
  }

  /** Make an earlier snapshot current again (reversible until the
    * abandoned commits expire) — pure metadata. */
  def rollbackTo(location: String, snapshotId: Long): Unit = {
    IcebergMetadata.commitRetry(location) { m =>
      require(m.snapshot(snapshotId).isDefined,
        s"no snapshot $snapshotId in table at $location")
      m.copy(
        currentSnapshotId = Some(snapshotId),
        refs = m.refs + ("main" -> snapshotId))
    }
    ()
  }

  /** Create or repoint a branch/tag: a refs entry onto an existing
    * snapshot (the same update the REST set-snapshot-ref commit
    * applies, locally). */
  def setRef(location: String, name: String, snapshotId: Long,
      refType: String = "branch",
      retention: Option[IcebergMetadata.IceRefRetention] = None): Unit = {
    require(refType == "branch" || refType == "tag",
      s"ref type must be 'branch' or 'tag', got '$refType'")
    require(refType == "branch" || retention.forall(r =>
      r.minSnapshotsToKeep.isEmpty && r.maxSnapshotAgeMs.isEmpty),
      "a tag's retention carries only max-ref-age-ms " +
        "(spec: SnapshotRetention.Tag) — min-snapshots-to-keep / " +
        "max-snapshot-age-ms are branch fields")
    IcebergMetadata.commitRetry(location) { m =>
      require(m.snapshot(snapshotId).isDefined,
        s"no snapshot $snapshotId in table at $location")
      m.copy(
        refs = m.refs + (name -> snapshotId),
        // spec: SnapshotReference.type — a tag serialized as "branch"
        // would make strict readers apply branch retention semantics
        refTypes =
          if (refType == "branch") m.refTypes - name
          else m.refTypes + (name -> refType),
        // the whole SnapshotReference is being set: absent retention
        // clears any prior policy on this ref
        refRetention = retention.filter(!_.isEmpty) match {
          case Some(ret) => m.refRetention + (name -> ret)
          case None => m.refRetention - name
        },
        currentSnapshotId =
          if (name == "main") Some(snapshotId) else m.currentSnapshotId)
    }
    ()
  }

  /** Fast-forward `branch` to `to`'s tip — the publish step of
    * write-audit-publish. Refuses divergent moves: the target must be
    * a descendant of the branch's current position (ancestry via
    * parent pointers). Returns (previous, updated) snapshot ids. */
  def fastForward(location: String, branch: String,
      to: String): (Long, Long) = {
    var result = (-1L, -1L)
    IcebergMetadata.commitRetry(location) { m =>
      val toId = m.refs.getOrElse(to,
        throw new IllegalArgumentException(s"no ref '$to' in $location"))
      m.refs.get(branch) match {
        case None =>
          // creating the branch at the target is a valid fast-forward
          result = (-1L, toId)
          m.copy(refs = m.refs + (branch -> toId))
        case Some(fromId) =>
          var cur = m.snapshot(toId)
          var isAncestor = false
          while (cur.isDefined && !isAncestor) {
            if (cur.get.snapshotId == fromId) isAncestor = true
            else cur = cur.get.parentId.flatMap(m.snapshot)
          }
          require(isAncestor,
            s"cannot fast-forward $branch ($fromId) to $to ($toId): " +
              "not a descendant (divergent histories)")
          result = (fromId, toId)
          m.copy(refs = m.refs + (branch -> toId),
            currentSnapshotId =
              if (branch == "main") Some(toId) else m.currentSnapshotId)
      }
    }
    result
  }

  /** Cherry-pick an APPEND snapshot (e.g. staged then rolled back, or
    * parked on a branch) onto the current main as a new commit —
    * metadata-only: the new manifest list carries the current
    * snapshot's manifests plus the source's own added manifests,
    * re-sequenced under the new commit. Non-append sources refuse
    * (their removed-file semantics don't transplant). */
  def cherrypick(location: String, srcSnapshotId: Long): Long = {
    var picked = -1L
    IcebergMetadata.commitRetry(location) { m =>
    val src = m.snapshot(srcSnapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot $srcSnapshotId in table at $location"))
    require(src.operation == "append",
      s"cherrypick supports append snapshots; $srcSnapshotId is " +
        s"'${src.operation}'")
    val srcOwn = IcebergAvro.readManifestList(TableIO.path(src.manifestList))
      .filter(_.addedSnapshotId == srcSnapshotId)
    val current = m.currentSnapshot.map(s =>
      IcebergAvro.readManifestList(TableIO.path(s.manifestList)))
      .getOrElse(Seq.empty)
    val snapshotId = m.snapshots.map(_.snapshotId).max + 1
    val seq = m.lastSequenceNumber + 1
    def rec(mf: IcebergAvro.ManifestFile, sq: Long, snapId: Long)
        : org.apache.avro.generic.GenericRecord = {
      val r = IcebergAvro.record(IcebergAvro.manifestListSchema)
      r.put("manifest_path", mf.path); r.put("manifest_length", mf.length)
      r.put("partition_spec_id", mf.specId); r.put("content", mf.content)
      r.put("sequence_number", sq); r.put("min_sequence_number", sq)
      r.put("added_snapshot_id", snapId)
      r.put("added_files_count", mf.addedFilesCount.getOrElse(0))
      r.put("existing_files_count", mf.existingFilesCount.getOrElse(0))
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", 0L)
      r.put("existing_rows_count", 0L); r.put("deleted_rows_count", 0L)
      IcebergAvro.putFieldSummaries(r, mf.partitions)
      r
    }
    val recs = srcOwn.map(mf => rec(mf, seq, snapshotId)) ++
      current.map(mf => rec(mf, mf.sequenceNumber, mf.addedSnapshotId))
    val mlPath = new HPath(TableIO.path(location, "metadata"),
      s"snap-$snapshotId-${java.util.UUID.randomUUID().toString.take(8)}.avro")
    IcebergAvro.writeManifestList(mlPath, recs, snapshotId, seq)
    val snap = IcebergMetadata.IceSnapshot(
      snapshotId = snapshotId,
      parentId = m.currentSnapshotId,
      sequenceNumber = seq,
      timestampMs = System.currentTimeMillis(),
      manifestList = TableIO.qualified(mlPath),
      operation = "append",
      schemaId = m.currentSchemaId,
      summary = Map("cherry-picked-from" -> srcSnapshotId.toString))
    picked = snapshotId
    m.copy(
      lastSequenceNumber = seq,
      currentSnapshotId = Some(snapshotId),
      snapshots = m.snapshots :+ snap,
      refs = m.refs + ("main" -> snapshotId))
    }
    picked
  }

  /** Every data/delete-file path any remaining snapshot references,
    * scheme-stripped for comparison against directory listings. */
  private def referencedDataPaths(t: IcebergTable): Set[String] =
    manifestsOf(t).flatMap { mf =>
      IcebergAvro.readManifest(t.resolvePath(mf.path))
        .map(e => t.resolvePath(e.filePath).toUri.getPath)
    }.toSet

  private def manifestLists(t: IcebergTable): Seq[HPath] =
    t.meta.snapshots.map(s => t.resolvePath(s.manifestList))

  private def manifestsOf(t: IcebergTable): Seq[IcebergAvro.ManifestFile] =
    manifestLists(t).flatMap(IcebergAvro.readManifestList)

  /** Delete data-dir files no snapshot references (post-expire GC).
    * Only files older than `olderThanMs` go: a fresh file may belong
    * to an in-flight commit whose snapshot is not yet visible (the
    * same age cutoff graft's own vacuum uses). Returns data-dir-
    * relative removed paths. */
  def vacuum(spark: SparkSession, location: String,
      olderThanMs: Long): Seq[String] = {
    val orphans = unreferencedDataFiles(spark, location, olderThanMs)
    orphans.foreach(TableIO.delete(_))
    val dataDir = TableIO.path(location, "data")
    orphans.map(TableIO.relativize(dataDir, _))
  }

  private def unreferencedDataFiles(spark: SparkSession, location: String,
      olderThanMs: Long): Seq[HPath] = {
    val t = IcebergTable.load(spark, location)
    val referenced = referencedDataPaths(t)
    val dataDir = TableIO.path(location, "data")
    if (!TableIO.exists(dataDir)) return Seq.empty
    val cutoff = System.currentTimeMillis() - olderThanMs
    TableIO.listFilesRecursive(dataDir).collect {
      case (p, _, mtime)
          if !referenced.contains(p.toUri.getPath) && mtime <= cutoff => p
    }
  }

  /** Orphan-file GC: everything `vacuum` removes PLUS abandoned
    * `stage-*` dirs left by crashed commits at the table root and
    * manifest / manifest-list avro files in metadata/ that no
    * remaining snapshot references (left behind by expire). metadata
    * .json version files are never touched — history of the metadata
    * log stays readable. Returns table-root-relative paths. */
  /** Retired streaming high-water properties (same rule as
    * GraftTable.retiredStreamProps): no stamped snapshot left in
    * history AND retained history spans the window — proving the
    * query's last commit predates the oldest retained snapshot. */
  private def retiredStreamProps(m: IcebergMetadata.IceMetadata,
      olderThanMs: Long, nowMs: Long): Seq[String] = {
    val prefix = "graft.streaming.epoch."
    val candidates = m.properties.keys.filter(_.startsWith(prefix)).toSeq
    if (candidates.isEmpty) return Seq.empty
    val spansWindow = m.snapshots.map(_.timestampMs).minOption
      .exists(t => nowMs - t >= olderThanMs)
    if (!spansWindow) return Seq.empty
    val liveQueries =
      m.snapshots.flatMap(_.summary.get("streaming-query-id")).toSet
    candidates.filter(k => !liveQueries.contains(k.stripPrefix(prefix)))
      .sorted
  }

  def removeOrphanFiles(spark: SparkSession, location: String,
      olderThanMs: Long, dryRun: Boolean,
      pruneStreamProps: Boolean = false): Seq[String] = {
    val t = IcebergTable.load(spark, location)
    val cutoff = System.currentTimeMillis() - olderThanMs
    val rootPath = TableIO.path(location)
    val liveAvro = (manifestLists(t) ++
      manifestsOf(t).map(mf => t.resolvePath(mf.path)))
      .map(_.toUri.getPath).toSet
    val metaDir = TableIO.path(location, "metadata")
    val staleAvro = TableIO.listFilesRecursive(metaDir).collect {
      case (p, _, mtime)
          if p.getName.endsWith(".avro") &&
            !liveAvro.contains(p.toUri.getPath) && mtime <= cutoff => p
    }
    val staleStaging = TableIO.listDir(rootPath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("stage-"))
      .filter { st =>
        val entries = TableIO.listFilesRecursive(st.getPath)
        if (entries.isEmpty) st.getModificationTime <= cutoff
        else entries.forall(_._3 <= cutoff)
      }
      .map(_.getPath)
    val dataOrphans = unreferencedDataFiles(spark, location, olderThanMs)
    var staleProps =
      if (pruneStreamProps)
        retiredStreamProps(IcebergMetadata.load(location), olderThanMs,
          System.currentTimeMillis())
      else Seq.empty
    if (!dryRun) {
      staleStaging.foreach(TableIO.delete(_, recursive = true))
      dataOrphans.foreach(TableIO.delete(_))
      staleAvro.foreach(TableIO.delete(_))
      if (staleProps.nonEmpty) {
        // CAS commit like every metadata change: re-derive against the
        // fresh base so a racing epoch's new stamp is never dropped —
        // and report the set the winning attempt actually removed
        IcebergMetadata.commitRetry(location) { m =>
          staleProps = retiredStreamProps(m, olderThanMs,
            System.currentTimeMillis())
          m.copy(properties = m.properties -- staleProps)
        }
        ()
      }
    }
    (staleStaging ++ dataOrphans ++ staleAvro)
      .map(TableIO.relativize(rootPath, _)) ++
      staleProps.map("property:" + _)
  }

  /** Sweep abandoned NAMESPACE-level `.stage-*` staging dirs — the
    * residue of a hard crash mid-CTAS (both the local staged create
    * and the REST protocol's stage-create build the table at a
    * dot-hidden sibling of the final path; a clean commit or abort
    * removes it, a killed JVM cannot). `liveLocations` protects dirs
    * a LIVE table still points at: a REST staged-create that
    * PUBLISHED keeps its data at the staged location forever (the
    * set-location commit anchors it there), so those are not orphans.
    * A dir is stale only when every file in it is older than the
    * cutoff — an in-flight CTAS is still writing and stays younger.
    * Returns the swept dir names (namespace-relative). */
  def sweepStagedDirs(nsDir: String, liveLocations: Set[String],
      olderThanMs: Long, dryRun: Boolean): Seq[String] = {
    val dir = TableIO.path(nsDir)
    if (!TableIO.isDirectory(dir)) return Seq.empty
    val cutoff = System.currentTimeMillis() - olderThanMs
    val live = liveLocations.map(l => TableIO.path(l).toUri.getPath)
    val stale = TableIO.listDir(dir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(".stage-"))
      .filterNot(st => live.contains(st.getPath.toUri.getPath))
      .filter { st =>
        val entries = TableIO.listFilesRecursive(st.getPath)
        if (entries.isEmpty) st.getModificationTime <= cutoff
        else entries.forall(_._3 <= cutoff)
      }
      .map(_.getPath)
    if (!dryRun) stale.foreach(TableIO.delete(_, recursive = true))
    stale.map(_.getName).sorted
  }
}
