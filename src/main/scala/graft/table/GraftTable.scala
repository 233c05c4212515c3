package graft.table

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.IcebergTransforms
import org.apache.hadoop.fs.{Path => HPath}
import java.util.UUID

/** Snapshot-versioned table on parquet — the reference's table
  * operations (iceberg-rust/src/table/transaction/mod.rs:33 `append`,
  * `rewrite`, `add_schema`, `update_properties`, `set_snapshot_ref`)
  * re-expressed as Spark jobs over a Meta.TableMetadata tree.
  *
  * Scale design:
  *  - data files are immutable parquet; every mutation is a new
  *    snapshot over a file-set delta (copy-on-write), so readers never
  *    block and time travel is a chain replay;
  *  - per-file min/max/null stats are collected with ONE distributed
  *    aggregation per write (grouped by input_file_name — no
  *    per-file driver loop), and scans prune on them before any
  *    footer is opened (reference: pruning_statistics.rs);
  *  - partition-spec writes shuffle once on the transform columns;
  *    compaction bin-packs per partition in parallel.
  */
class GraftTable private (val root: String, val spark: SparkSession) {

  // field-id-based column resolution: ids in the schema metadata are
  // written to parquet footers and matched on read, so renamed /
  // re-added columns bind to the right bytes in every file era.
  //
  // The WRITE flag is scoped per write (connector writes resolve it
  // from GraftConnectorShim's snapshotted Configuration; the v1
  // writeFiles path uses a set-restore window around its eager write)
  // — the session-level write flag is never touched, so a user's own
  // parquet writes in the same session are unaffected.
  //
  // The READ flag CANNOT be scoped on Spark 4.1's v1 file-source path:
  // ParquetReadSupport's schema clip honors a per-relation option
  // (merged into the task Configuration), but ParquetRowConverter's
  // column binding consults SQLConf.get — the thread-local SESSION
  // conf — so an option-only read silently null-fills renamed columns
  // (verified empirically; the clip stage even throws for id-less
  // files while the binding stage ignores the same option). Hence the
  // session-level read flag below. It only changes reads whose
  // REQUESTED schema carries id metadata (graft's own schemas); one
  // sharp edge is deliberate: explicitly requesting an id-carrying
  // schema (e.g. t.scan().schema) over id-less foreign files fails
  // loudly (ignoreMissing stays false) rather than null-filling.
  spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  // belt-and-suspenders: the option keeps the clip stage id-aware even
  // if a user unsets the session flag after construction
  private def idRead: org.apache.spark.sql.DataFrameReader =
    spark.read.option("spark.sql.parquet.fieldId.read.enabled", "true")

  def meta: Meta.TableMetadata = Meta.load(root)

  private def dataDir: HPath = TableIO.path(root, "data")

  // ---- write path -----------------------------------------------------

  /** Transform column for a partition field, derived from the spec. */
  private def transformCol(pf: Meta.PartitionField,
      schema: StructType): Column = {
    val c = col(pf.sourceColumn)
    val srcType = schema.fields.find(_.name == pf.sourceColumn)
      .map(_.dataType).getOrElse(throw new IllegalArgumentException(
        s"partition source column '${pf.sourceColumn}' not in schema"))
    pf.transform match {
      case "identity" => c
      case t if t.startsWith("bucket[") =>
        IcebergTransforms.bucket(c, t.stripPrefix("bucket[").stripSuffix("]").toInt)
      case t if t.startsWith("truncate[") =>
        // dispatch on the SOURCE type, like the interop writer
        // (table/iceberg/Transforms.scala): truncate[W] on a string is
        // its first W characters; applying the integral floor-to-width
        // form to a string column fails the write (or, on a decimal,
        // would silently disagree with the spec's unscaled-value rule)
        val w = t.stripPrefix("truncate[").stripSuffix("]").toInt
        srcType match {
          case _: StringType => IcebergTransforms.truncateString(c, w)
          case _: IntegerType | _: LongType | _: ShortType =>
            IcebergTransforms.truncateInt(c, w)
          case other => throw new IllegalArgumentException(
            s"truncate[$w] on ${other.simpleString} column " +
              s"'${pf.sourceColumn}' is not supported (int/long/string)")
        }
      case "year" => IcebergTransforms.yearsFromEpoch(c)
      case "month" => IcebergTransforms.monthsFromEpoch(c)
      case "day" => IcebergTransforms.daysFromEpoch(c)
      case "hour" => IcebergTransforms.hoursFromEpoch(c)
      case "void" => IcebergTransforms.voidTransform(c)
      case other => throw new IllegalArgumentException(s"unknown transform $other")
    }
  }

  private val ZOrderSpec = """zorder\(([\w\s,]+)\)""".r

  private def zorderCols(spec: String): Seq[String] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** A sort-order entry is a column name or `zorder(a, b[, ...])`.
    * The z-key interleaves each dimension's FULL 64-bit
    * order-preserving normalization (BinaryType Morton key) — a
    * 32-bit truncation would collapse either wide-ranging keys (top
    * bits differ, low bits lost) or narrow-band keys (top bits equal)
    * and silently stop clustering at scale. */
  private def sortColumn(entry: String): Column = entry match {
    case ZOrderSpec(cols) =>
      graft.functions.ZOrderKeys.zorderBytes(zorderCols(cols).map(col): _*)
    case name => col(name)
  }

  // decimals are excluded: parquet stores their stats as unscaled
  // binary, which the string-canonical manifest form cannot represent
  // faithfully — no stats means no pruning, which stays sound
  private def isPrunable(t: DataType): Boolean = t match {
    case _: IntegerType | _: LongType | _: DoubleType | _: FloatType |
        _: StringType | _: DateType | _: TimestampType | _: ShortType => true
    case _ => false
  }

  /** Write `df` as new data files and collect their manifest entries.
    * One write job; stats come from the parquet FOOTERS the write
    * already produced (min/max/null per column per row group) via a
    * distributed footer-read job — metadata-only IO, no second pass
    * over the data (the reference reads the same footer statistics:
    * iceberg-rust/src/file_format/parquet.rs). */
  private def writeFiles(df: DataFrame, schema: StructType,
      targetN: Option[Int] = None,
      sortOverride: Option[Seq[String]] = None): Seq[Meta.DataFile] = {
    val m = meta
    val staging = TableIO.path(root, s"stage-${UUID.randomUUID().toString.take(8)}")
    val partNames = m.spec.map(_.name)

    // carry the table schema's field-id metadata onto the outgoing
    // rows (the caller's frame usually lacks it), so the parquet
    // footers record ids and id-matched reads work on every file.
    // Mapped over the FRAME's columns, not the schema's: a frame
    // missing a newly-added nullable column still writes (scans
    // null-fill it), exactly as before ids existed.
    val withIds =
      if (!Meta.hasFieldIds(schema)) df
      else df.select(df.columns.toSeq.map { c =>
        schema.fields.find(_.name == c)
          .map(f => col(c).as(c, f.metadata)).getOrElse(col(c))
      }: _*)
    val withParts = m.spec.foldLeft(withIds)((acc, pf) =>
      acc.withColumn(pf.name, transformCol(pf, schema)))
    // sort order = write clustering: range-partition + in-partition sort
    // gives files disjoint key ranges, which is what makes the manifest
    // min/max pruning bite (reference: spec/sort.rs). An entry of the
    // form zorder(a,b) clusters on the Morton interleave — narrow
    // per-file ranges in BOTH dimensions.
    val sortCols = sortOverride.getOrElse(m.sortOrder).map(sortColumn)
    val writer =
      if (m.spec.nonEmpty) {
        // shuffle once on the partition values so each partition's rows
        // land in few files rather than every task writing every partition
        val parted = withParts.repartition(partNames.map(col): _*)
        val sorted =
          if (sortCols.nonEmpty)
            parted.sortWithinPartitions(partNames.map(col) ++ sortCols: _*)
          else parted
        sorted.write.partitionBy(partNames: _*)
      } else if (sortCols.nonEmpty)
        // a compaction passes its bin-pack target through: range-
        // clustering must not explode the rewrite back into
        // shuffle-partition-count files
        targetN.map(n => withParts.repartitionByRange(n, sortCols: _*))
          .getOrElse(withParts.repartitionByRange(sortCols: _*))
          .sortWithinPartitions(sortCols: _*)
          .write
      else withParts.write
    // the v1 DataFrameWriter path resolves the field-id WRITE flag
    // from SQLConf.get at job time (a per-writer option is ignored),
    // so scope it with a set-restore window around this eager write
    withMicrosTimestamps(withSessionConf(
      "spark.sql.parquet.fieldId.write.enabled", "true") {
      writer.options(GraftTable.bloomWriteOptions(m)).parquet(staging.toString)
    })
    ingestStaged(staging, schema, m.defaultSpecId)
  }

  /** Run an EAGER job with a session conf pinned, restoring the prior
    * value after — the scoped alternative to leaving graft's write
    * flags on the session permanently. Only sound around eager
    * actions (the conf is read at job time, not DataFrame build). */
  private def withSessionConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run a write with INT64-micros parquet timestamps: Spark's INT96
    * default carries no usable column statistics, which would disable
    * timestamp pruning on every file this table writes. */
  private def withMicrosTimestamps[A](body: => A): A =
    withSessionConf("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")(body)

  /** Collect footer stats for every parquet under `staging`, move the
    * files into the data dir (preserving partition subdirs), return
    * their manifest entries, and remove the staging skeleton. */
  private[graft] def ingestStaged(staging: HPath,
      schema: StructType, specId: Int): Seq[Meta.DataFile] = {
    // every file entering the table is stamped with the spec that
    // ROUTED it (the caller's captured metadata, not a fresh load —
    // a concurrent setDefaultSpec between routing and ingest must not
    // relabel files whose partitionValues the old spec computed)
    val staged = TableIO.listFilesRecursive(staging)
      .filter(_._1.getName.endsWith(".parquet"))
    val stagedPaths = staged.map(_._1.toString)
    val sizeByPath = staged.map { case (p, sz, _) => p.toString -> sz }.toMap
    val prunable = schema.fields.filter(f => isPrunable(f.dataType)).map(_.name)
    val fileStats = FooterStats.collect(spark, stagedPaths, prunable.toSet)

    val moved = fileStats.map { fs =>
      val src = TableIO.path(fs.path)
      // partition dir structure (name=value/...) relative to staging
      val rel = TableIO.relativize(staging, src)
      val dest = new HPath(dataDir, rel)
      TableIO.rename(src, dest)
      val partValues = rel.split("/").toSeq.dropRight(1)
        .map(_.split("=", 2))
        .map(a => a(0) -> PathCodec.unescape(a(1))).toMap
      Meta.DataFile(
        path = rel,
        partitionValues = partValues,
        recordCount = fs.records,
        fileSizeBytes = sizeByPath.getOrElse(fs.path, TableIO.size(dest)),
        stats = fs.stats,
        specId = specId)
    }

    TableIO.delete(staging, recursive = true)
    moved
  }

  /** V2 connector commit point: ingest a staging dir the executors
    * populated (BatchWrite) and snapshot it. Partition-spec'd tables
    * route the staged rows back through the partitioning write path
    * (transform columns + partition dirs), then drop the stage. */
  /** Ingest a V2-staged directory into the data dir and return the
    * manifest entries — shared by every staged commit flavor.
    * Executors already partition-routed the staged files (the V2
    * write's clustered distribution + per-row transforms), so a plain
    * ingest suffices. Re-cluster through the driver path only when
    * the layout demands it: sort-ordered tables (range-partitioned
    * sort is a write-side layout the row-router doesn't produce), or
    * a spec'd table whose staged files are NOT in partition dirs
    * (a writer that bypassed the partition routing). `presorted`
    * means the V2 write declared the sort order as its required
    * distribution+ordering, so the staged files are already
    * range-clustered — re-reading them through writeFiles would just
    * double the write IO. */
  private def ingestStagedForCommit(staging: HPath,
      m: Meta.TableMetadata, presorted: Boolean): Seq[Meta.DataFile] = {
    val staged = TableIO.listFilesRecursive(staging)
      .filter(_._1.getName.endsWith(".parquet"))
    val routed = m.spec.isEmpty ||
      staged.forall(f => TableIO.relativize(staging, f._1).contains("="))
    if ((m.sortOrder.isEmpty || presorted) && routed)
      ingestStaged(staging, m.schema, m.defaultSpecId)
    else {
      val stagedPaths = staged.map(_._1.toString)
      val out =
        if (stagedPaths.isEmpty) Seq.empty
        else writeFiles(
          idRead.schema(m.schema).parquet(stagedPaths: _*), m.schema)
      TableIO.delete(staging, recursive = true)
      out
    }
  }

  /** NOTE on skipIf: when the guard fires (a replayed streaming epoch
    * losing a same-query race), the already-ingested files are
    * reclaimed inside the commit loop — except any path the observed
    * metadata references (see the guard there). The streaming sink
    * pre-checks replay BEFORE calling, so this only happens in the
    * narrow race window between its check and the commit CAS. */
  private[graft] def commitStagedWrite(staging: HPath, overwrite: Boolean,
      summaryExtra: Map[String, String] = Map.empty,
      presorted: Boolean = false, branch: String = "main",
      propsExtra: Map[String, String] = Map.empty,
      skipIf: Meta.TableMetadata => Boolean = _ => false): Unit = {
    val m = meta
    val files = ingestStagedForCommit(staging, m, presorted)
    // an overwrite truncates the TARGET ref's live set — a branch
    // overwrite must not list main's files as removed
    val base = if (branch == "main") None else m.refs.get(branch)
    if (overwrite)
      commit("overwrite", files, m.liveFiles(base).map(_.path),
        removedDeletes = m.liveDeleteFiles(base).map(_.path),
        summaryExtra = summaryExtra, branch = branch,
        propsExtra = propsExtra, skipIf = skipIf)
    else commit("append", files, Seq.empty, summaryExtra = summaryExtra,
      branch = branch, propsExtra = propsExtra, skipIf = skipIf)
  }

  /** `INSERT OVERWRITE t PARTITION (...)` / OverwriteByExpression in
    * ONE snapshot: candidate files (manifest-pruned by `touched`)
    * whose rows may match the predicate are rewritten keeping only
    * the NON-matching rows (three-valued: NULL-predicate rows are
    * kept, same as DELETE), the staged new data is added, and the
    * candidates are removed — readers see the old content or the
    * full replacement, never a mix. A filter aligned to partition
    * boundaries prunes to whole-file drops with no rewrite IO. */
  private[graft] def commitStagedOverwrite(staging: HPath,
      predicate: Column, touched: Seq[StatFilter],
      eqProofs: Seq[(String, String)] = Seq.empty,
      presorted: Boolean = false): Unit = this.synchronized {
    val m = meta
    val files = ingestStagedForCommit(staging, m, presorted)
    val candidates = plannedFiles(touched)
    // metadata-only whole-file drops: when the WHOLE predicate is a
    // conjunction of equalities (eqProofs non-empty only then), a file
    // whose stats prove min = max = v with zero nulls on every proof
    // column matches on every row — dropping it needs no read. This
    // is what makes `INSERT OVERWRITE ... PARTITION (day=X)` on an
    // identity-partitioned table IO-proportional to the NEW data,
    // never to the replaced partition (the reference's overwrite
    // validation prunes the same way).
    def fullyMatches(f: Meta.DataFile): Boolean =
      eqProofs.nonEmpty && eqProofs.forall { case (c, v) =>
        !m.statsUnprunable.contains(c) &&
          f.stats.get(c).exists(s =>
            s.min == v && s.max == v && s.nullCount == 0 &&
              s.min != null && s.max != null)
      }
    val (dropped, rewrite) = candidates.partition(fullyMatches)
    val seqByPath = m.liveFilesWithSeq(None).map { case (f, q) => f.path -> q }.toMap
    val kept =
      if (rewrite.isEmpty) Seq.empty
      else writeFiles(
        readWithDeletes(rewrite.map(f => (f, seqByPath(f.path))),
          m.liveDeleteFilesWithSeq(None), m.schema)
          .filter(!coalesce(predicate, lit(false))), m.schema)
    commit("overwrite", files ++ kept,
      (dropped ++ rewrite).map(_.path),
      requireLive = (dropped ++ rewrite).map(_.path))
  }

  /** Dynamic partition overwrite (`partitionOverwriteMode=dynamic`):
    * replace exactly the partitions the incoming data touches — the
    * daily re-materialization workhorse. The staged files arrived
    * partition-routed, so the touched partition set is read off their
    * manifest entries; live files of the CURRENT spec with matching
    * partition values are dropped whole (no rewrite IO), files of
    * older specs are untouched (their routing is not comparable). */
  private[graft] def commitStagedDynamicOverwrite(staging: HPath,
      presorted: Boolean = false): Unit = this.synchronized {
    val m = meta
    require(m.spec.nonEmpty,
      "dynamic partition overwrite targets a partitioned table")
    val files = ingestStagedForCommit(staging, m, presorted)
    val touchedParts = files.map(_.partitionValues).toSet
    val removed = m.liveFiles(None)
      .filter(f => f.specId == m.defaultSpecId &&
        touchedParts.contains(f.partitionValues))
      .map(_.path)
    commit("overwrite", files, removed, requireLive = removed)
  }

  /** Commit a group replacement (the V2 row-level-operation path: SQL
    * UPDATE / MERGE INTO / complex DELETE): the staged files become
    * live, the scanned candidate files are removed, one snapshot.
    * Outstanding MoR delete files stay — they only scope to data
    * files with a SMALLER sequence, and the replacement files commit
    * at a higher one, so old deletes can never hide rewritten rows. */
  private[graft] def commitStagedReplace(staging: HPath,
      replaced: Seq[String], presorted: Boolean = false): Unit = {
    val files = ingestStagedForCommit(staging, meta, presorted)
    // "replace", not "rewrite": a MERGE can INSERT brand-new rows, so
    // consumers that treat rewrites as row-preserving (the streaming
    // source, MV incremental refresh) must see this as content change.
    // requireLive: the staged rows were computed from a read of
    // `replaced` — if a concurrent commit rewrote or dropped any of
    // those files, this commit is based on stale data and must abort
    // (the reference validates replaced files still exist at commit).
    commit("replace", files, replaced, requireLive = replaced)
  }

  /** Commit a snapshot with optimistic concurrency: the metadata delta
    * is rebuilt from the freshest base on every attempt, and the
    * rename-without-replace in Meta.write is the CAS — a losing writer
    * gets CommitConflict and retries on the new base (appends always
    * merge; the file delta itself never changes). */
  /** The optimistic-pin base for operations that derive staged output
    * from the current 'main' state (keyed update, eq-delete
    * conversion): the SAME expression the commit-time pin check reads,
    * so a 'main' ref entry never makes a valid commit fail with a
    * spurious ConcurrentModificationException. The derivation scans
    * currentSnapshotId; if a 'main' ref somehow diverged from it the
    * derivation base would be ambiguous — refuse loudly up front. */
  private def mainPin(m: Meta.TableMetadata): Option[Long] = {
    val pin = m.refs.get("main").orElse(m.currentSnapshotId)
    require(pin == m.currentSnapshotId,
      s"ref 'main' (${m.refs.get("main")}) diverges from " +
        s"currentSnapshotId (${m.currentSnapshotId}); this operation " +
        "derives its output from the current snapshot and cannot pin " +
        "a divergent branch head")
    pin
  }

  private def commit(op: String, added: Seq[Meta.DataFile],
      removed: Seq[String], schemaId: Option[Int] = None,
      lineage: Map[String, Long] = Map.empty,
      branch: String = "main",
      addedDeletes: Seq[Meta.DataFile] = Seq.empty,
      removedDeletes: Seq[String] = Seq.empty,
      summaryExtra: Map[String, String] = Map.empty,
      requireLive: Seq[String] = Seq.empty,
      requireSnapshot: Option[Option[Long]] = None,
      propsExtra: Map[String, String] = Map.empty,
      skipIf: Meta.TableMetadata => Boolean = _ => false,
      base: Option[Meta.TableMetadata] = None): Meta.TableMetadata = this.synchronized {
    var attempts = 0
    while (true) {
      // the caller's just-read metadata serves the first attempt only
      val m = base.filter(_ => attempts == 0).getOrElse(meta)
      // idempotence guard re-evaluated against EVERY retry base (the
      // streaming sink's replay dedup: a zombie run's epoch that lost
      // a conflict race must observe the winner's commit and back off,
      // never re-apply — a pre-loop check alone would let the retry
      // double-commit the epoch and regress the high-water property).
      // The skipped commit's just-ingested files are reclaimed HERE —
      // they were staged for this commit only and nothing references
      // them — instead of lingering as orphans until
      // remove_orphan_files (the Iceberg-path commitStagedWrite does
      // the same in its replayedInside case)
      if (skipIf(m)) {
        // never reclaim a path the observed metadata references:
        // staged names carry a per-file random tag so a loser's
        // ingest can't collide with a winner's committed file, but if
        // a name ever DID collide (hand-adopted files, older tables),
        // deleting it here would hole the winner's published snapshot
        val referenced = (added ++ addedDeletes)
          .map(_.path).toSet match {
            case mine if mine.isEmpty => Set.empty[String]
            case mine => m.snapshots.iterator
              .flatMap(s => s.files.iterator ++ s.addedDeleteFiles.iterator)
              .map(_.path).filter(mine.contains).toSet
          }
        (added ++ addedDeletes).filterNot(f => referenced.contains(f.path))
          .foreach(f => TableIO.delete(new HPath(dataDir, f.path)))
        return m
      }
      // optimistic-concurrency pin: operations whose staged output was
      // DERIVED from a specific base (keyed update, eq-delete
      // conversion) must refuse if any other commit landed first —
      // rebasing would re-insert stale rows over a concurrent delete
      requireSnapshot.foreach { want =>
        if (m.refs.get(branch).orElse(m.currentSnapshotId) != want)
          throw new java.util.ConcurrentModificationException(
            s"$op commit aborted: the table changed while this " +
              "operation was computing its output; re-run it on the " +
              "new base")
      }
      if (requireLive.nonEmpty) {
        val live = m.liveFiles(m.refs.get(branch).orElse(m.currentSnapshotId))
          .map(_.path).toSet
        val gone = requireLive.filterNot(live.contains)
        if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"$op commit aborted: ${gone.size} file(s) read by this operation " +
            s"were rewritten or removed by a concurrent commit " +
            s"(e.g. ${gone.head}); re-run the operation on the new base")
      }
      val parent = m.refs.get(branch).orElse(m.currentSnapshotId)
      val snap = Meta.Snapshot(
        snapshotId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1,
        parentId = parent,
        sequenceNumber = m.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L) + 1,
        timestampMs = System.currentTimeMillis(),
        operation = op,
        addedFiles = added,
        removedPaths = removed,
        schemaId = schemaId.getOrElse(m.currentSchemaId),
        lineage = lineage,
        summary = Map("added-files" -> added.size.toString,
          "removed-files" -> removed.size.toString,
          "added-records" -> added.map(_.recordCount).filter(_ >= 0).sum.toString,
          // lets streaming admission control budget a batch without
          // resolving the snapshot's (possibly spilled) manifest
          "added-bytes" -> added.map(_.fileSizeBytes).sum.toString)
          // derived, not caller-supplied, so every path that carries
          // imported (name-mapped) files — add_files, cherrypick of an
          // import snapshot — stamps the marker the scan's cheap
          // "any mapped file live?" chain check relies on
          ++ (if (added.exists(_.nameMapping.isDefined))
            Map("added-files-imported" ->
              added.count(_.nameMapping.isDefined).toString)
          else Map.empty)
          ++ summaryExtra,
        addedDeleteFiles = addedDeletes,
        removedDeletePaths = removedDeletes)
      val newRefs = m.refs + (branch -> snap.snapshotId)
      try {
        return Meta.write(root, m.copy(
          snapshots = m.snapshots :+ snap,
          currentSnapshotId =
            if (branch == "main") Some(snap.snapshotId) else m.currentSnapshotId,
          refs = newRefs,
          properties = m.properties ++ propsExtra))
      } catch {
        case _: Meta.CommitConflict if attempts < 50 => attempts += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Append rows (transaction/mod.rs:55). `summary` entries land in
    * the snapshot summary — streaming sinks stamp their batch id here
    * so a replayed micro-batch is detectable. */
  def append(df: DataFrame, lineage: Map[String, Long] = Map.empty,
      branch: String = "main",
      summary: Map[String, String] = Map.empty): GraftTable = {
    val files = writeFiles(df, meta.schema)
    commit("append", files, Seq.empty, lineage = lineage, branch = branch,
      summaryExtra = summary)
    this
  }

  /** Overwrite the whole table content (MV full refresh path); any
    * outstanding equality deletes are obsolete and dropped. */
  def overwrite(df: DataFrame, lineage: Map[String, Long] = Map.empty): GraftTable = {
    val m = meta
    val old = m.liveFiles(None).map(_.path)
    val files = writeFiles(df, m.schema)
    commit("overwrite", files, old, lineage = lineage,
      removedDeletes = m.liveDeleteFiles(None).map(_.path))
    this
  }

  /** Atomic REPLACE TABLE [AS SELECT] commit (the staged-catalog
    * path): ONE Meta.write installs the new schema, the new default
    * spec, the replaced properties, and a "replace" snapshot whose
    * files are the staged output — a reader sees the old table or the
    * new one, never a mix, and old snapshots stay time-travelable
    * until expire_snapshots (reference: the REST protocol's staged
    * create/replace, iceberg-rust/src/catalog/create.rs:59).
    *
    * `newSchema` arrives with its field ids ALREADY assigned (the
    * staged parquet footers carry them), allocated above
    * `baseMaxFieldId`; if any concurrent commit allocated ids past
    * that base, this replace is refused rather than risking an id
    * collision with a column it never saw. */
  /** DataFrame-level REPLACE TABLE AS SELECT: allocates fresh field
    * ids above this table's watermark, writes `df` with those ids in
    * the footers (partition-routed by the NEW spec), and swaps the
    * whole table state through `replaceTable`'s one-commit path. The
    * vehicle for replaces whose content arrives as a frame rather
    * than a V2-staged directory — e.g. a CREATE OR REPLACE that lost
    * its create race and must give way WITHOUT a delete-then-rename
    * missing-table window. Rewrites the content once (the price of
    * re-stamping the footers with ids this table has never used). */
  private[graft] def replaceTableFromDf(df: DataFrame,
      newSpec: Seq[Meta.PartitionField],
      newProps: Map[String, String]): Unit = {
    val base = Meta.maxFieldId(meta.schemas.values)
    val newSchema = Meta.withFieldIds(Meta.stripFieldIds(df.schema), base + 1)
    val staging = TableIO.path(root,
      s"stage-rtas-${UUID.randomUUID().toString.take(8)}")
    val withIds = df.select(df.columns.toSeq.map { c =>
      newSchema.fields.find(_.name == c)
        .map(f => col(c).as(c, f.metadata)).getOrElse(col(c))
    }: _*)
    val partNames = newSpec.map(_.name)
    val withParts = newSpec.foldLeft(withIds)((acc, pf) =>
      acc.withColumn(pf.name, transformCol(pf, newSchema)))
    val writer =
      if (newSpec.nonEmpty)
        withParts.repartition(partNames.map(col): _*)
          .write.partitionBy(partNames: _*)
      else withParts.write
    withMicrosTimestamps(withSessionConf(
      "spark.sql.parquet.fieldId.write.enabled", "true") {
      writer.parquet(staging.toString)
    })
    replaceTable(staging, newSchema, newSpec, newProps, base)
  }

  private[graft] def replaceTable(staging: HPath, newSchema: StructType,
      newSpec: Seq[Meta.PartitionField], newProps: Map[String, String],
      baseMaxFieldId: Int): Unit = this.synchronized {
    newSpec.foreach(pf => require(!newSchema.fieldNames.contains(pf.name),
      s"partition field name '${pf.name}' collides with a schema column"))
    // ingest ONCE, outside the CAS loop: the staged files move into
    // the data dir unreferenced (invisible until the commit lands);
    // a lost race re-stamps their spec id, never re-reads them
    val staged =
      if (TableIO.isDirectory(staging))
        ingestStaged(staging, newSchema, specId = -1)
      else Seq.empty
    var attempts = 0
    while (true) {
      val m = meta
      if (Meta.maxFieldId(m.schemas.values) != baseMaxFieldId)
        throw new java.util.ConcurrentModificationException(
          "replace aborted: a concurrent commit changed the table's " +
            "schema while this REPLACE was writing; re-run it")
      val newSchemaId = m.schemas.keys.max + 1
      val newSpecId = m.specs.keys.maxOption.getOrElse(-1) + 1
      val files = staged.map(_.copy(specId = newSpecId))
      val snap = Meta.Snapshot(
        snapshotId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1,
        parentId = m.currentSnapshotId,
        sequenceNumber =
          m.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L) + 1,
        timestampMs = System.currentTimeMillis(),
        operation = "replace",
        addedFiles = files,
        removedPaths = m.liveFiles(None).map(_.path),
        schemaId = newSchemaId,
        lineage = Map.empty,
        summary = Map("added-files" -> files.size.toString,
          "removed-files" -> m.liveFiles(None).size.toString,
          "added-records" ->
            files.map(_.recordCount).filter(_ >= 0).sum.toString,
          "added-bytes" -> files.map(_.fileSizeBytes).sum.toString),
        addedDeleteFiles = Seq.empty,
        removedDeletePaths = m.liveDeleteFiles(None).map(_.path))
      try {
        Meta.write(root, m.copy(
          schemas = m.schemas + (newSchemaId -> newSchema),
          currentSchemaId = newSchemaId,
          specs = m.specs + (newSpecId -> newSpec),
          defaultSpecId = newSpecId,
          properties = newProps,
          sortOrder = Seq.empty,
          snapshots = m.snapshots :+ snap,
          currentSnapshotId = Some(snap.snapshotId),
          // other branches keep pointing at pre-replace snapshots,
          // which stay valid history; main moves to the replacement
          refs = m.refs + ("main" -> snap.snapshotId)))
        return
      } catch {
        case _: Meta.CommitConflict if attempts < 50 => attempts += 1
      }
    }
  }

  // ---- read path ------------------------------------------------------

  private def absolute(f: Meta.DataFile): String =
    new HPath(dataDir, f.path).toString

  /** One raw parquet read over a mixed file list: graft-written files
    * read id-matched; imported (name-mapped) files read under their
    * PINNED import-time names with ids stripped, then aliased back to
    * the live schema — positions and types are identical, so the
    * groups union cleanly. With `withPos` every group carries
    * `__file`/`__pos` (added BEFORE the alias projection, while the
    * `_metadata` hidden column is still resolvable). */
  private def readDataRaw(files: Seq[Meta.DataFile], schema: StructType,
      withPos: Boolean = false): DataFrame = {
    if (files.isEmpty) {
      val s = if (!withPos) schema
        else StructType(schema.fields ++ Seq(
          StructField("__file", StringType), StructField("__pos", LongType)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    }
    lazy val m0 = meta
    lazy val specsById = m0.specs
    // fabricated statuses carry the latest commit's timestamp (an
    // upper bound on when any live file became visible); per-file
    // mtime would need the re-stat this path exists to avoid
    lazy val commitTs = m0.snapshots.lastOption.map(_.timestampMs).getOrElse(0L)
    def identitySource(g: Meta.DataFile, name: String): Option[String] =
      specsById.getOrElse(g.specId, Seq.empty)
        .find(pf => pf.transform == "identity" && pf.sourceColumn == name)
        .flatMap(pf => g.partitionValues.get(pf.name))
    files.groupBy(_.nameMapping).toSeq
      .sortBy(_._1.map(_.toSeq.sorted.mkString(",")).getOrElse(""))
      .map { case (mapping, group) =>
        val readSchema = mapping match {
          case None => schema
          case Some(mp) => Meta.importReadSchema(schema, mp)
        }
        // both branches plan from manifest-known (path, size) pairs —
        // no file re-listing (the manifest IS the file index); the
        // id-resolved branch still routes nested schemas through the
        // id-preserving format via IdRead
        val knownFiles = group.map(g => (absolute(g), g.fileSizeBytes))
        val raw = mapping match {
          case None => IdRead.parquetKnown(spark, readSchema, knownFiles,
            mtimeMillis = commitTs)
          case Some(_) =>
            org.apache.spark.sql.execution.datasources.GraftConnectorShim
              .parquetFromKnownFiles(spark, readSchema, knownFiles,
                mtimeMillis = commitTs)
        }
        val withMeta =
          if (!withPos) raw
          else raw.withColumn("__file", col("_metadata.file_path"))
            .withColumn("__pos", col("_metadata.row_index"))
        mapping match {
          case None => withMeta
          case Some(mp) =>
            // identity sources the hive layout stripped from the
            // pages read back as their per-file dir constant — a
            // broadcast (file → value) join, never a per-file plan
            val fillCols = schema.fields.filter(f =>
              Meta.fieldId(f).exists(id => !mp.contains(id.toString)) &&
                group.exists(identitySource(_, f.name).isDefined)).toSeq
            val base =
              if (fillCols.isEmpty) withMeta
              else {
                val stripScheme = "^[a-z][a-z0-9+.-]*:/+"
                val constSchema = StructType(
                  StructField("__cfile", StringType) +:
                    fillCols.map(f => StructField("__cv_" + f.name, StringType)))
                val rows = group.map { g =>
                  org.apache.spark.sql.Row.fromSeq(
                    absolute(g).replaceFirst(stripScheme, "/") +:
                      fillCols.map(f => identitySource(g, f.name).orNull))
                }
                val constDf = spark.createDataFrame(
                  new java.util.ArrayList[org.apache.spark.sql.Row](
                    scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
                  constSchema)
                withMeta.withColumn("__cfile",
                    regexp_replace(col("_metadata.file_path"), stripScheme, "/"))
                  .join(broadcast(constDf), Seq("__cfile"), "left")
              }
            val back = schema.fields.zip(readSchema.fields).map {
              case (live, imp) =>
                if (fillCols.exists(_.name == live.name))
                  coalesce(col(imp.name),
                    col("__cv_" + live.name).cast(live.dataType)).as(live.name)
                else col(imp.name).as(live.name)
            } ++ (if (withPos) Seq(col("__file"), col("__pos")) else Seq.empty)
            base.select(back.toIndexedSeq: _*)
        }
      }.reduce(_ unionAll _)
  }

  /** Simple comparison predicates a manifest can prune on. */
  case class StatFilter(column: String, op: String, value: String)

  /** Files selected for a scan after stats pruning — the manifest-level
    * skip (reference: pruning_statistics.rs). `null` stats or
    * non-prunable columns keep the file (pruning must be sound). */
  /** Column-bound check shared by manifest-group and per-file pruning:
    * true when the [min,max] window could contain a match. */
  private def boundsAdmit(st: Meta.ColStats, dt: DataType,
      flt: StatFilter): Boolean = {
    if (st.min.isEmpty || st.max.isEmpty) return true
    val cmp = Meta.comparator(dt)
    flt.op match {
      case "=" => cmp(st.min, flt.value) <= 0 && cmp(st.max, flt.value) >= 0
      case ">" => cmp(st.max, flt.value) > 0
      case ">=" => cmp(st.max, flt.value) >= 0
      case "<" => cmp(st.min, flt.value) < 0
      case "<=" => cmp(st.min, flt.value) <= 0
      case _ => true
    }
  }

  /** `m` is the table metadata to plan over: a scan passes the one it
    * loaded, so every planning of it reads the same snapshot. */
  def plannedFiles(filters0: Seq[StatFilter], snapshotId: Option[Long] = None,
      branch: Option[String] = None,
      m: Meta.TableMetadata = meta): Seq[Meta.DataFile] = {
    // columns retired from stats pruning (float->double promotion)
    // contribute no filters at all — sound, just unpruned
    val filters = filters0.filterNot(f => m.statsUnprunable.contains(f.column))
    val snapId = branch.flatMap(m.refs.get).orElse(snapshotId)
    val schema = m.schemas(snapId.flatMap(m.snapshot).map(_.schemaId)
      .getOrElse(m.currentSchemaId))
    // manifest-first: a spilled group whose aggregate bounds exclude
    // every filter match is skipped without reading its manifest file
    // — planning IO stays proportional to the MATCHING metadata, not
    // the table's full history (at 100 TB the manifest tier, not the
    // file tier, is what must be pruned first).
    val live = m.liveFilesPruned(snapId, groupStats => filters.forall { flt =>
      (groupStats.get(flt.column), schema.fields.find(_.name == flt.column)) match {
        case (Some(st), Some(field)) => boundsAdmit(st, field.dataType, flt)
        case _ => true
      }
    })
    live.filter(fileAdmits(m, schema, filters))
  }

  /** Per-file admission under stat + partition-value pruning — shared
    * by live planning and incremental (appended-range) planning. */
  private def fileAdmits(m: Meta.TableMetadata,
      schema: StructType, filters: Seq[StatFilter])(f: Meta.DataFile): Boolean = {
    // union over ALL specs: after evolution a filter column may be a
    // partition field only for SOME files' eras
    val partFields = m.specs.values.flatten.map(_.name).toSet
    filters.forall { flt =>
        // partition-value pruning: exact value per file, compared
        // through the transform's output type (identity/truncate keep
        // the source column's type; the datetime/bucket transforms are
        // numeric). The transform is resolved through the FILE's own
        // spec (per-file spec-id), so files written before a spec
        // change keep pruning correctly. Unparseable values keep the
        // file — pruning is a skip optimization and must stay sound.
        val filePf = m.specOf(f).find(_.name == flt.column)
        if (partFields.contains(flt.column) && filePf.isDefined) {
          f.partitionValues.get(flt.column) match {
            case Some(v) =>
              val pf = filePf.get
              val pcmp: (String, String) => Int =
                if (pf.transform == "identity" || pf.transform.startsWith("truncate"))
                  schema.fields.find(_.name == pf.sourceColumn)
                    .map(f => comparator(f.dataType))
                    .getOrElse((a: String, b: String) => a.compareTo(b))
                else (a: String, b: String) =>
                  java.lang.Long.compare(a.toLong, b.toLong)
              scala.util.Try {
                val cmp = pcmp(v, flt.value)
                flt.op match {
                  case "=" => cmp == 0
                  case ">" => cmp > 0
                  case ">=" => cmp >= 0
                  case "<" => cmp < 0
                  case "<=" => cmp <= 0
                  case _ => true
                }
              }.getOrElse(true)
            case None => true
          }
        } else (f.stats.get(flt.column), schema.fields.find(_.name == flt.column)) match {
          case (Some(st), Some(field)) => boundsAdmit(st, field.dataType, flt)
          case _ => true
        }
      }
  }

  /** Pruned planning over the appends in (start, end] — the
    * incremental-scan file list. Manifest-group pruning does not
    * apply: the range set is already proportional to the delta, not
    * the table; per-file stat/partition pruning still does. */
  def plannedAppendedFiles(filters0: Seq[StatFilter], start: Option[Long],
      end: Option[Long] = None,
      m: Meta.TableMetadata = meta): Seq[Meta.DataFile] = {
    val filters = filters0.filterNot(f => m.statsUnprunable.contains(f.column))
    val schema = m.schemas(end.flatMap(m.snapshot).map(_.schemaId)
      .getOrElse(m.currentSchemaId))
    m.appendedFilesBetween(start, end).filter(fileAdmits(m, schema, filters))
  }

  /** Incremental batch read: only rows appended in (since, end]. */
  def scanAppendedBetween(since: Option[Long],
      end: Option[Long] = None): DataFrame = {
    val m = meta
    val schema = m.schemas(end.flatMap(m.snapshot).map(_.schemaId)
      .getOrElse(m.currentSchemaId))
    readDataRaw(m.appendedFilesBetween(since, end), schema)
  }

  /** Changelog between snapshots (the reference's incremental/CDC
    * consumption shape; Spark-Iceberg exposes it as
    * create_changelog_view): one row per changed row in (start, end]
    * on the main chain, tagged `_change_type` ('insert' | 'delete')
    * and `_commit_snapshot_id`, in commit order. Appends emit their
    * added rows as inserts; row-preserving rewrites emit nothing;
    * copy-on-write delete/overwrite/merge/rewrite-fold snapshots emit
    * NET changes — removed-minus-added rows as deletes and
    * added-minus-removed as inserts, so the carryover rows a CoW
    * rewrite copies verbatim cancel out (a distributed exceptAll per
    * snapshot, shuffling only that commit's touched files, never the
    * table). When the parent held outstanding MoR delete files, the
    * removed side is the parent-VISIBLE rows of the removed files —
    * rows an earlier delta already hid don't re-emit; and a
    * mixed-mode commit (CoW rewrite + new delete files in one
    * snapshot, as foreign writers produce) folds its own delete
    * files in: they trim the added side by sequence rules and emit
    * the rows they hide in files that stay live as deletes.
    * Merge-on-read deltas emit their hidden rows: equality
    * deletes via a parent-scan semi-join against the broadcast key
    * set; positional deletes (delete-pos / update-mor) by re-scanning
    * parent-visible rows with row positions and semi-joining the
    * broadcast (file, pos) entries — update-mor's appended files are
    * its inserts. */
  def changesBetween(start: Option[Long],
      end: Option[Long] = None): DataFrame = {
    val m = meta
    val schema = m.schemas(end.flatMap(m.snapshot).map(_.schemaId)
      .getOrElse(m.currentSchemaId))
    val rangeSnaps = m.rangeSnapshots(start, end)
    // path → manifest entry, resolved range-proportionally: a
    // changelog may read files REMOVED in range (added by snapshots
    // before it), and imported entries carry the name mapping their
    // read needs. In-range adds come from the range snapshots' own
    // manifests (which load anyway); pre-range entries are resolved by
    // walking ancestors NEWEST-first from the range's base, stopping
    // as soon as every removed path is found — metadata IO follows the
    // add→remove distance of the touched files, never table age.
    lazy val rangeEntries: Map[String, Meta.DataFile] =
      rangeSnaps.flatMap(_.files).map(f => f.path -> f).toMap
    lazy val preRangeEntries: Map[String, Meta.DataFile] = {
      val cowOps = Set("delete", "overwrite", "merge", "rewrite-fold", "replace")
      var need = rangeSnaps.filter(s => cowOps(s.operation))
        .flatMap(_.removedPaths).toSet -- rangeEntries.keySet
      val found = Map.newBuilder[String, Meta.DataFile]
      var cur = rangeSnaps.headOption.flatMap(_.parentId).flatMap(m.snapshot)
      while (cur.isDefined && need.nonEmpty) {
        val s = cur.get
        s.files.foreach { f =>
          if (need.contains(f.path)) { found += f.path -> f; need -= f.path }
        }
        cur = s.parentId.flatMap(m.snapshot)
      }
      found.result()
    }
    def readPaths(paths: Seq[String]): DataFrame =
      readDataRaw(paths.map(p => rangeEntries.getOrElse(p,
        preRangeEntries.getOrElse(p,
          Meta.DataFile(p, Map.empty, -1L, -1L, Map.empty)))), schema)
    def tag(df: DataFrame, change: String, snap: Long): DataFrame =
      df.withColumn("_change_type", lit(change))
        .withColumn("_commit_snapshot_id", lit(snap))
    // Equality-delete key files record their key labels at DELETE
    // time; the changelog emits under `schema`'s labels. Map each key
    // by FIELD ID to its label in `schema`; a key whose column was
    // since DROPPED keeps its id-carrying era field — the join schema
    // widens by it and the extra column drops after the semi-join.
    def eqKeyPlan(keyFiles: Seq[Meta.DataFile])
        : (Seq[String], StructType, StructType) = {
      val keyFields = keyFiles.flatMap(f =>
        f.equalityColumns.zipWithIndex.map { case (c, i) =>
          f.equalityIds.lift(i).flatMap(id =>
            schema.fields.find(x => Meta.fieldId(x).contains(id)))
            .orElse(schema.fields.find(_.name == c))
            .getOrElse {
              // dropped since: recover the era field (with its id) from
              // the historical schemas so the parquet read resolves it
              m.schemas.values.flatMap(_.fields)
                .find(x => f.equalityIds.lift(i).exists(
                  Meta.fieldId(x).contains) ||
                  (f.equalityIds.isEmpty && x.name == c))
                .getOrElse(throw new IllegalStateException(
                  s"equality key '$c' resolves in no schema era"))
            }
        }).distinctBy(_.name)
      val keyCols = keyFields.map(_.name)
      val joinSchema = StructType(schema.fields ++ keyFields.filterNot(
        f => schema.fieldNames.contains(f.name)))
      (keyCols, StructType(keyFields.toArray), joinSchema)
    }
    def backToSchema(df: DataFrame): DataFrame =
      df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val parts = rangeSnaps.flatMap { s =>
      if (s.summary.get("squashed").contains("true"))
        throw new IllegalStateException(
          s"snapshot ${s.snapshotId} is an expire-squashed base; " +
            "changelog range invalid")
      val dataAdded = s.files.filter(_.content == 0).map(_.path)
      s.operation match {
        case "append" =>
          Seq(tag(readPaths(dataAdded), "insert", s.snapshotId))
        case "rewrite" => Seq.empty
        case "delete" | "overwrite" | "merge" | "rewrite-fold" | "replace" =>
          val parentDeletes = m.liveDeleteFilesWithSeq(s.parentId)
          // the removed side is the PARENT-VISIBLE rows of the removed
          // files: rows the parent's MoR delete files already hid were
          // deleted by THAT commit's changelog slice — re-reading them
          // raw here would emit their deletion twice (and make a
          // rewrite-fold look row-destroying when it is row-preserving)
          val removed =
            if (parentDeletes.isEmpty) readPaths(s.removedPaths)
            else {
              val removedSet = s.removedPaths.toSet
              readWithDeletes(
                m.liveFilesWithSeq(s.parentId)
                  .filter { case (f, _) => removedSet.contains(f.path) },
                parentDeletes, schema)
            }
          // a mixed-mode commit (foreign writers) may ALSO add MoR
          // delete files: apply the commit's OWN deletes to its added
          // files (sequence rules decide applicability), so a row both
          // added and hidden in one commit nets out of the changelog
          val ownDeletes = s.addedDeleteFiles.map(f =>
            (f, f.dataSequence.getOrElse(s.sequenceNumber)))
          val addedEntries = s.files.filter(_.content == 0)
            .map(f => (f, f.dataSequence.getOrElse(s.sequenceNumber)))
          val added =
            if (ownDeletes.isEmpty) readPaths(dataAdded)
            else readWithDeletes(addedEntries, ownDeletes, schema)
          val cow = Seq(
            tag(removed.exceptAll(added), "delete", s.snapshotId),
            tag(added.exceptAll(removed), "insert", s.snapshotId))
          if (ownDeletes.isEmpty) cow
          else {
            // ... and the own delete files hide parent-visible rows in
            // files that STAY live (rewritten files net out above):
            // those hidden rows are this commit's extra deletes
            val removedSet = s.removedPaths.toSet
            val stayLive = m.liveFilesWithSeq(s.parentId)
              .filterNot { case (f, _) => removedSet.contains(f.path) }
            val posFiles = s.addedDeleteFiles.filter(_.content == 1)
            val posPart =
              if (posFiles.isEmpty) Seq.empty
              else {
                val posDf = spark.read.parquet(posFiles.map(absolute): _*)
                val base = readWithDeletes(stayLive, parentDeletes,
                  schema, keepPos = true)
                def np(c: Column) = regexp_replace(c, "^[a-z]+:/+", "/")
                Seq(base.join(broadcast(posDf),
                  np(base("__file")) === np(posDf("file_path")) &&
                    base("__pos") === posDf("pos"), "left_semi")
                  .drop("__file", "__pos"))
              }
            val keyFiles = s.addedDeleteFiles.filter(_.content == 2)
            val eqPart =
              if (keyFiles.isEmpty) Seq.empty
              else {
                val (keyCols, keySchema, joinSchema) = eqKeyPlan(keyFiles)
                val keys = idRead.schema(keySchema).parquet(
                  keyFiles.map(f =>
                    TableIO.qualified(new HPath(dataDir, f.path))): _*)
                  .distinct()
                // NULL-SAFE key match (<=>), same rule as the scan's
                // delete application: a null-keyed delete tuple hides
                // null-keyed rows, so the changelog must report them
                val live = readWithDeletes(stayLive, parentDeletes, joinSchema)
                Seq(backToSchema(live.join(broadcast(keys),
                  keyCols.map(c => live(c) <=> keys(c)).reduce(_ && _),
                  "left_semi")))
              }
            cow ++ (posPart ++ eqPart).map(tag(_, "delete", s.snapshotId))
          }
        case "delete-pos" | "update-mor" =>
          // positional MoR delta: the hidden rows are exact (file, pos)
          // slots — re-derive them by scanning the PARENT-visible rows
          // with their row positions and semi-joining the (small,
          // broadcast) position-delete entries; update-mor's appended
          // files are its inserts
          val posFiles = s.addedDeleteFiles.filter(_.content == 1)
          val posDf = spark.read.parquet(posFiles.map(absolute): _*)
          val base = readWithDeletes(m.liveFilesWithSeq(s.parentId),
            m.liveDeleteFilesWithSeq(s.parentId), schema, keepPos = true)
          def normPath(c: Column) = regexp_replace(c, "^[a-z]+:/+", "/")
          val hidden = base.join(broadcast(posDf),
            normPath(base("__file")) === normPath(posDf("file_path")) &&
              base("__pos") === posDf("pos"), "left_semi")
            .drop("__file", "__pos")
          Seq(tag(hidden, "delete", s.snapshotId)) ++
            (if (dataAdded.isEmpty) Seq.empty
             else Seq(tag(readPaths(dataAdded), "insert", s.snapshotId)))
        case "delete-eq" =>
          // an equality delete hides every parent-visible row matching
          // its keys (later appends carry higher sequences, so parent
          // visibility IS the scope): deleted rows = parent scan
          // semi-joined to the (small, broadcastable) key set
          val keyFiles = s.addedDeleteFiles.filter(_.content == 2)
          val (keyCols, keySchema, joinSchema) = eqKeyPlan(keyFiles)
          val keys = idRead.schema(keySchema).parquet(
            keyFiles.map(f =>
              TableIO.qualified(new HPath(dataDir, f.path))): _*).distinct()
          // parent-visible rows READ UNDER THE CHANGELOG'S LABELS —
          // scan(Some(p)) would pin the parent's era schema and the
          // slices would not union (rename between p and the end)
          val parentRows = s.parentId match {
            case Some(p) => readWithDeletes(m.liveFilesWithSeq(Some(p)),
              m.liveDeleteFilesWithSeq(Some(p)), joinSchema)
            case None => readPaths(Seq.empty)
          }
          // NULL-SAFE key match (<=>) — same rule as the scan's
          // delete application; see the merge branch above
          Seq(tag(backToSchema(
            parentRows.join(broadcast(keys),
              keyCols.map(c => parentRows(c) <=> keys(c)).reduce(_ && _),
              "left_semi")),
            "delete", s.snapshotId))
        case other => throw new IllegalStateException(
          s"changelog read over unsupported operation '$other' " +
            s"(snapshot ${s.snapshotId})")
      }
    }
    val empty = tag(readPaths(Seq.empty), "none", -1L).limit(0)
    // by NAME, not position: slice projections may order columns
    // differently (backToSchema re-selects, but readPaths does not),
    // so a positional union could bind (and cast) columns into the
    // wrong slots
    parts.foldLeft(empty)(_ unionByName _)
  }

  private def comparator(t: DataType): (String, String) => Int =
    Meta.comparator(t)

  /** Scan: assemble the DataFrame from the live (possibly pruned) file
    * list under the snapshot's schema. Missing columns in old files
    * (schema evolution) read as null; parquet row-group pushdown still
    * applies on top of manifest pruning. Outstanding equality-delete
    * files (merge-on-read) are applied as a broadcastable anti-join. */
  def scan(filters: Seq[StatFilter] = Seq.empty,
      snapshotId: Option[Long] = None,
      branch: Option[String] = None,
      m: Meta.TableMetadata = meta): DataFrame = {
    val snapId = branch.flatMap(m.refs.get).orElse(snapshotId)
    val schema = m.schemas(snapId.flatMap(m.snapshot).map(_.schemaId)
      .getOrElse(m.currentSchemaId))
    val files = plannedFiles(filters, snapshotId, branch, m)
    val seqByPath = m.liveFilesWithSeq(snapId).map { case (f, q) => f.path -> q }.toMap
    readWithDeletes(files.map(f => (f, seqByPath(f.path))),
      m.liveDeleteFilesWithSeq(snapId), schema)
  }

  /** Read `files` applying live deletes with Iceberg v2 sequence
    * scoping: an EQUALITY delete applies only to data files with a
    * strictly smaller data sequence (an append after the delete is not
    * hidden by it); a POSITION delete applies to files with sequence
    * <= its own. Files are grouped into classes sharing the same
    * applicable-delete set — each class is one parquet read plus
    * anti-joins, and the classes union (typically 1–2 classes, since
    * delete files are rare relative to appends).
    *
    * With `keepPos` the output carries `__file`/`__pos` metadata
    * columns (the positional-delete write path needs them). */
  private def readWithDeletes(filesWithSeq: Seq[(Meta.DataFile, Long)],
      deletesWithSeq: Seq[(Meta.DataFile, Long)],
      schema: StructType, keepPos: Boolean = false): DataFrame = {
    if (filesWithSeq.isEmpty) {
      val emptySchema =
        if (!keepPos) schema
        else StructType(schema.fields ++ Seq(
          StructField("__file", StringType), StructField("__pos", LongType)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema)
    }
    // an equality delete may key on a column DROPPED from `schema`
    // (legal once the delete folded; changelog replays still apply it
    // at its own era): recover the key field by id from the
    // historical schemas and WIDEN the read — losing the key column
    // would fail the anti-join (or, if keys vanished, stop hiding)
    val schemaIds = schema.fields.flatMap(Meta.fieldId).toSet
    val missingEq: Seq[StructField] = deletesWithSeq.map(_._1)
      .filter(_.content == 2).flatMap(_.equalityIds).distinct
      .filterNot(schemaIds.contains)
      .flatMap(id => meta.schemas.values.flatMap(_.fields)
        .find(f => Meta.fieldId(f).contains(id)))
      .distinctBy(_.name)
    val readSchema =
      if (missingEq.isEmpty) schema
      else StructType(schema.fields ++ missingEq)
    def eqApplicable(seq: Long) = deletesWithSeq
      .filter { case (d, ds) => d.content == 2 && ds > seq }.map(_._1)
    def posApplicable(seq: Long) = deletesWithSeq
      .filter { case (d, ds) => d.content == 1 && ds >= seq }.map(_._1)
    val classes = filesWithSeq.groupBy { case (_, seq) =>
      (eqApplicable(seq).map(_.path).sorted,
        posApplicable(seq).map(_.path).sorted) }
    classes.toSeq.map { case ((eqPaths, posPaths), group) =>
      val needPos = keepPos || posPaths.nonEmpty
      val base = readDataRaw(group.map(_._1), readSchema, withPos = needPos)
      val eqFiles = deletesWithSeq.map(_._1)
        .filter(d => eqPaths.contains(d.path))
      val afterEq = eqFiles
        .groupBy(f => (f.equalityColumns, f.equalityIds)).foldLeft(base) {
        case (df, ((eqCols, eqIds), dfiles)) =>
          val delDf = spark.read.parquet(dfiles.map(absolute): _*)
          // df-side key columns resolve by FIELD ID when recorded: a
          // changelog replays deletes whose key labels were renamed
          // after the delete was folded (renames are refused only
          // while the delete is LIVE), so the recorded label may be
          // stale against the read schema. The delete FILE's own
          // column keeps its delete-era label (delDf side).
          val dfSide = eqCols.zipWithIndex.map { case (c, i) =>
            eqIds.lift(i).flatMap(id => readSchema.fields.find(f =>
              Meta.fieldId(f).contains(id)).map(_.name)).getOrElse(c)
          }
          // NULL-SAFE key equality: a null delete key hides null-keyed
          // rows, matching the executor key-set probe — a USING
          // anti-join would leave them visible
          df.join(delDf,
            dfSide.zip(eqCols).map { case (a, b) =>
              df(a) <=> delDf(b) }.reduce(_ && _),
            "left_anti")
      }
      val afterPos =
        if (posPaths.isEmpty) afterEq
        else {
          val posFiles = deletesWithSeq.map(_._1)
            .filter(d => posPaths.contains(d.path))
          val delDf = spark.read.parquet(posFiles.map(absolute): _*)
          // scheme-insensitive path compare: position-delete files may
          // record file:/x, file:///x, or /x depending on the writer
          // (_metadata.file_path vs the connector's qualified URIs) —
          // all render the same physical file
          def normPath(c: Column) = regexp_replace(c, "^[a-z]+:/+", "/")
          afterEq.join(delDf,
            normPath(afterEq("__file")) === normPath(delDf("file_path")) &&
              afterEq("__pos") === delDf("pos"),
            "left_anti")
        }
      if (keepPos) afterPos
      else if (needPos) afterPos.drop("__file", "__pos")
      else afterPos
    }.map { df0 =>
      // widened reads drop their extra key columns from the output
      if (missingEq.isEmpty) df0
      else df0.select((schema.fieldNames ++
        (if (keepPos) Seq("__file", "__pos").filter(
          df0.columns.contains) else Nil)).map(col).toIndexedSeq: _*)
    }.reduce(_ unionByName _)
  }

  /** Key-routed point UPDATE (the GDPR/user-record rewrite; graft
    * twin of IcebergWrite.updateByKey): commit IO O(matched rows) end
    * to end. The fetch scan prunes files by the key bounds and pushes
    * the key filter down; the commit lands ONE snapshot holding an
    * EQUALITY delete file of just the key tuples (hides old row
    * versions — strictly-earlier sequences only, so the new rows
    * survive) plus data files holding only the fetched-then-modified
    * rows. Candidate files are never rewritten or position-scanned.
    * Returns the matched row count (0 = nothing committed). */
  def updateByKey(keys: DataFrame, eqCols: Seq[String],
      sets: Seq[(String, Column)]): Long = {
    val m = meta
    eqCols.foreach(c => require(m.schema.fieldNames.contains(c),
      s"no column $c"))
    sets.foreach { case (c, _) =>
      require(m.schema.fieldNames.contains(c), s"no column $c") }
    val keyDf = keys.select(eqCols.map(col): _*).distinct()
    // the bounded-key-set contract is ENFORCED: limit(cap+1) keeps an
    // oversized set off the driver; bulk updates belong in MERGE INTO
    val cap = graft.table.iceberg.IcebergWrite.updateMaxKeys(spark)
    val keyRows = keyDf.limit(cap + 1).collect()
    require(keyRows.length <= cap,
      s"updateByKey: key set exceeds graft.update.maxKeys=$cap; " +
        "point updates are for bounded key sets — use MERGE INTO for " +
        "bulk updates, or raise the cap")
    if (keyRows.isEmpty) return 0L
    // a null key is undefined for a point update: SQL equality never
    // matches it, but an equality-delete tuple WOULD hide null-keyed
    // rows (null-safe probe semantics) with no replacement written
    require(keyRows.forall(r => !r.anyNull),
      "updateByKey: null key values are not supported (an equality " +
        "delete would hide null-keyed rows without rewriting them)")
    val filters: Seq[StatFilter] = eqCols.zipWithIndex.flatMap {
      case (c, i) =>
        val dt = m.schema.fields.find(_.name == c).get.dataType
        val vals = keyRows.map(_.get(i)).filter(_ != null)
        if (vals.length < keyRows.length || vals.isEmpty) Seq.empty
        else dt match {
          case ShortType | IntegerType | LongType =>
            val ls = vals.map(_.toString.toLong)
            Seq(StatFilter(c, ">=", ls.min.toString),
              StatFilter(c, "<=", ls.max.toString))
          case StringType =>
            val ss = vals.map(_.toString)
            Seq(StatFilter(c, ">=", ss.min), StatFilter(c, "<=", ss.max))
          case _ => Seq.empty
        }
    }
    // single-column bounded key sets ALSO push an isin predicate into
    // the parquet scan (row-group stats + bloom skipping)
    val scanned = scan(filters)
    val matched = (if (eqCols.size == 1 && keyRows.length <= 1000)
        scanned.filter(col(eqCols.head)
          .isin(keyRows.map(_.get(0)).toIndexedSeq: _*))
      else scanned)
      .join(org.apache.spark.sql.functions.broadcast(keyDf),
        eqCols.toSeq, "left_semi")
    // SQL UPDATE semantics: every RHS evaluates against the OLD row,
    // so all assignments go through ONE projection (sequential
    // withColumn would let "a = b, b = a" see a's new value)
    require(sets.map(_._1).distinct.size == sets.size,
      "updateByKey: duplicate assignment targets")
    val setMap = sets.toMap
    val modified = matched.select(m.schema.fields.map { f =>
      setMap.get(f.name) match {
        case Some(e) => e.cast(f.dataType).as(f.name)
        case None => col(f.name)
      }
    }.toIndexedSeq: _*)
    val files = writeFiles(modified, m.schema)
    val matchedRows = files.map(_.recordCount).filter(_ > 0).sum
    if (matchedRows == 0L) { // no-op update: leave no trace
      files.foreach(f => TableIO.delete(new HPath(dataDir, f.path)))
      return 0L
    }
    // the equality delete file: just the key tuples (same shape
    // deleteWhereMoR writes, but from the given keys — no scan). The
    // caller's frame carries no field-id metadata, so stamp the
    // table's ids on: id-resolving readers (the MoR key probe after a
    // rename) expect them in the footer
    val keyDfWithIds = keyDf.select(eqCols.map { c =>
      val f = m.schema.fields.find(_.name == c).get
      col(c).as(c, f.metadata)
    }: _*)
    val staging = TableIO.path(root,
      s"stage-${UUID.randomUUID().toString.take(8)}")
    withMicrosTimestamps(
      keyDfWithIds.coalesce(1).write.parquet(staging.toString))
    val dir = new HPath(dataDir, "deletes")
    TableIO.mkdirs(dir)
    val prunableKeys = eqCols.filter(c =>
      m.schema.fields.find(_.name == c).exists(f => isPrunable(f.dataType)))
    val staged = TableIO.listFilesRecursive(staging)
      .filter(_._1.getName.endsWith(".parquet"))
    val statsByPath = FooterStats.collect(spark,
      staged.map(_._1.toString), prunableKeys.toSet)
      .map(fs => fs.path -> fs.stats).toMap
    val added = staged.map { case (src, sz, _) =>
      val st = statsByPath.getOrElse(src.toString, Map.empty)
      val dest = new HPath(dir,
        s"eq-${UUID.randomUUID().toString.take(8)}.parquet")
      TableIO.rename(src, dest)
      Meta.DataFile(
        path = TableIO.relativize(dataDir, dest),
        partitionValues = Map.empty,
        recordCount = -1L, fileSizeBytes = sz,
        stats = st, equalityColumns = eqCols.toSeq,
        equalityIds = eqCols.toSeq.flatMap(c =>
          m.schema.fields.find(_.name == c).flatMap(Meta.fieldId)),
        content = 2)
    }
    TableIO.delete(staging, recursive = true)
    // ONE snapshot: new row versions + the delete hiding the old ones
    // ('merge' — the changelog's mixed-commit branch nets rows both
    // added and hidden in the same commit)
    // pinned to the fetch base: a concurrent delete/update of these
    // keys must not be silently overwritten by stale re-inserts
    commit("merge", files, Seq.empty, addedDeletes = added,
      summaryExtra = Map("updated-rows" -> matchedRows.toString),
      requireSnapshot = Some(mainPin(m)))
    matchedRows
  }

  /** Merge-on-read positional DELETE (Iceberg v2 position deletes):
    * record (data file, row index) of the matching rows as a small
    * delete file; scans drop those exact row slots via anti-join on
    * the parquet `_metadata` columns. Unlike equality deletes this
    * targets physical rows, so it composes with ANY predicate without
    * needing a key column. */
  def deleteWhereMoRPositional(predicate: Column): GraftTable = {
    val m = meta
    val seqByPath = m.liveFilesWithSeq(None).map { case (f, q) => f.path -> q }.toMap
    val live = m.liveFiles(None).map(f => (f, seqByPath(f.path)))
    val matches = readWithDeletes(live, m.liveDeleteFilesWithSeq(None),
      m.schema, keepPos = true)
      .filter(predicate)
      .select(col("__file").as("file_path"), col("__pos").as("pos"))
    val staging = TableIO.path(root, s"stage-${UUID.randomUUID().toString.take(8)}")
    matches.write.parquet(staging.toString)
    val dir = new HPath(dataDir, "deletes")
    TableIO.mkdirs(dir)
    val added = TableIO.listFilesRecursive(staging)
      .filter(_._1.getName.endsWith(".parquet"))
      .map { case (src, sz, _) =>
        val dest = new HPath(dir, s"pos-${UUID.randomUUID().toString.take(8)}.parquet")
        TableIO.rename(src, dest)
        Meta.DataFile(
          path = TableIO.relativize(dataDir, dest),
          partitionValues = Map.empty,
          recordCount = -1L, fileSizeBytes = sz,
          stats = Map.empty, content = 1)
      }
    TableIO.delete(staging, recursive = true)
    commit("delete-pos", Seq.empty, Seq.empty, addedDeletes = added)
    this
  }

  def timeTravel(snapshotId: Long): DataFrame = {
    // strict: an unknown/expired id must refuse — the chain walk would
    // otherwise silently return an EMPTY table
    require(meta.snapshot(snapshotId).isDefined,
      s"no snapshot $snapshotId in table at $root (expired?)")
    scan(snapshotId = Some(snapshotId))
  }

  /** True iff every snapshot after `since` on the main chain is a pure
    * append — the precondition for incremental consumers. */
  def appendsOnlySince(since: Option[Long],
      m: Meta.TableMetadata = meta): Boolean = {
    var cur = m.currentSnapshotId.flatMap(m.snapshot)
    var ok = true
    while (cur.isDefined && since != cur.map(_.snapshotId)) {
      if (cur.get.operation != "append") ok = false
      cur = cur.get.parentId.flatMap(m.snapshot)
    }
    ok
  }

  /** Scan only the files added after snapshot `since` (append delta) —
    * the incremental-refresh read path: IO is proportional to new
    * data, not table size. */
  def scanAppendedSince(since: Option[Long],
      m: Meta.TableMetadata = meta): DataFrame = {
    val baseline = since.map(id => m.liveFiles(Some(id)).map(_.path).toSet)
      .getOrElse(Set.empty)
    val delta = m.liveFiles(None).filterNot(f => baseline.contains(f.path))
    readDataRaw(delta, m.schema)
  }

  // ---- maintenance ----------------------------------------------------

  /** Import foreign parquet files IN PLACE (Iceberg's add_files
    * procedure shape): commit manifest entries pointing at the source
    * files — no data copy, no rewrite, metadata plus one distributed
    * footer-stats pass. The files carry no field ids, so each entry
    * pins a name mapping (current field id → current name); reads
    * resolve those files by the pinned names forever, so later
    * RENAMEs keep working. For identity-partitioned tables the
    * partition values come from Hive-style `col=value` directories
    * under `sourceDir`. Maintenance never deletes imported files
    * (vacuum sweeps only the table's own data dir); a compaction or
    * sort/zorder rewrite naturally migrates their rows into
    * graft-native id-stamped files. */
  def addFiles(sourceDir: String): Seq[Meta.DataFile] = {
    val m = meta
    require(m.spec.forall(_.transform == "identity"),
      "add_files needs an unpartitioned or identity-partitioned " +
        s"table; spec transforms: ${m.spec.map(_.transform).mkString(",")}")
    val src = new HPath(sourceDir)
    val listed = TableIO.listFilesRecursive(src).filter { case (p, _, _) =>
      p.getName.endsWith(".parquet") &&
        !p.getName.startsWith("_") && !p.getName.startsWith(".")
    }
    require(listed.nonEmpty, s"no parquet files under $sourceDir")
    val paths = listed.map(_._1.toString)
    val prunable =
      m.schema.fields.filter(f => isPrunable(f.dataType)).map(_.name).toSet
    val fileStats = FooterStats.collect(spark, paths, prunable)
    val tableNames = m.schema.fieldNames.toSet
    // type compatibility once via Spark's own footer-schema read;
    // per-file NAME coverage from the distributed footer pass below
    val sample = spark.read.parquet(paths.head).schema
    sample.fields.filter(f => tableNames.contains(f.name)).foreach { f =>
      val want = m.schema(f.name).dataType
      require(f.dataType.catalogString == want.catalogString,
        s"column '${f.name}' is ${f.dataType} in the source files but " +
          s"$want in the table — add_files imports bytes in place and " +
          "cannot convert; CTAS/INSERT instead")
    }
    val statsByPath = fileStats.map(fs => fs.path -> fs).toMap
    val entries = listed.map { case (p, sz, _) =>
      val abs = p.toString
      val fs = statsByPath(abs)
      require(fs.columns.exists(tableNames.contains),
        s"$abs shares no columns with the table schema")
      // per-file mapping covers only columns the file's pages CARRY —
      // an absent column (e.g. a hive-layout partition source) has no
      // entry, which is what tells the read paths to null-fill or
      // constant-fill it
      val present = fs.columns.toSet
      val mapping = m.schema.fields
        .filter(f => present.contains(f.name))
        .flatMap(f => Meta.fieldId(f).map(id => id.toString -> f.name)).toMap
      val partValues =
        if (m.spec.isEmpty) Map.empty[String, String]
        else {
          val segs = TableIO.relativize(src, p).split("/").dropRight(1)
            .map(_.split("=", 2)).collect {
              case Array(k, v) => k -> PathCodec.unescape(v)
            }.toMap
          m.spec.map { pf =>
            // hive dir first; else a column the pages carry with a
            // CONSTANT value per file (footer min == max) qualifies
            pf.name -> segs.get(pf.sourceColumn)
              .orElse(fs.stats.get(pf.sourceColumn)
                .filter(st => st.min == st.max).map(_.min))
              .getOrElse(throw new IllegalArgumentException(
                s"$abs lacks a '${pf.sourceColumn}=' partition " +
                  "directory and its pages don't hold one constant " +
                  "value for it"))
          }.toMap
        }
      // a hive-stripped identity source has no footer stats; its dir
      // value IS the exact per-file constant, so synthesize min=max —
      // source-column filters then prune imported files like native
      val synth = m.spec.flatMap { pf =>
        if (pf.transform != "identity") None
        else partValues.get(pf.name)
          .filter(_ => !fs.stats.contains(pf.sourceColumn))
          .map(v => pf.sourceColumn -> Meta.ColStats(v, v, 0L))
      }.toMap
      Meta.DataFile(path = abs, partitionValues = partValues,
        recordCount = fs.records, fileSizeBytes = sz,
        stats = fs.stats ++ synth,
        specId = m.defaultSpecId, nameMapping = Some(mapping))
    }
    commit("append", entries, Seq.empty) // commit stamps the import marker
    entries
  }

  /** Bin-packing compaction (transaction/mod.rs:76 `rewrite`): group
    * live files below the size threshold into target-sized bins per
    * partition, rewrite each bin with one job. Rows are preserved
    * exactly; only file boundaries change. A caller that has just read
    * the current metadata passes it as `current`; it serves the commit's
    * first attempt, and a conflict retry reloads. Returns (data files
    * rewritten, data files added). */
  def compact(targetFileBytes: Long = 128L * 1024 * 1024,
      current: Meta.TableMetadata = meta): (Int, Int) = {
    val m = current
    val live = m.liveFiles(None)
    val byPartition = live.groupBy(_.partitionValues)
    val toRewrite = byPartition.toSeq.flatMap { case (_, files) =>
      val small = files.filter(_.fileSizeBytes < targetFileBytes)
      if (small.size > 1) Some(small) else None
    }
    if (toRewrite.isEmpty) return (0, 0)
    val allSmall = toRewrite.flatten
    val totalBytes = allSmall.map(_.fileSizeBytes).sum
    val targetN = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // fold applicable equality deletes into the rewrite (the new files
    // get a sequence above every live delete, so scans won't re-apply)
    val seqByPath = m.liveFilesWithSeq(None).map { case (f, q) => f.path -> q }.toMap
    // repartition (not coalesce): coalesce(1) was measured SLOWER —
    // it serializes the 40-file read+delete-filter into the one write
    // task, while the exchange keeps the read parallel and costs less
    // than the serial decode it avoids
    val df = readWithDeletes(allSmall.map(f => (f, seqByPath(f.path))),
      m.liveDeleteFilesWithSeq(None), m.schema)
      .repartition(targetN)
    val files = writeFiles(df, m.schema, Some(targetN))
    // a compaction with live deletes folds them into the rewritten
    // files (rows removed) -> "rewrite-fold"; only a delete-free
    // bin-pack is the row-preserving "rewrite" streams may skip
    val op = if (m.liveDeleteFilesWithSeq(None).nonEmpty) "rewrite-fold"
             else "rewrite"
    commit(op, files, allSmall.map(_.path), base = Some(m))
    (allSmall.size, files.size)
  }

  /** Manifest rewrite (Iceberg's rewrite_manifests): re-spill
    * single-file spilled manifests into the sorted MULTI-GROUP form,
    * so planning prunes and loads metadata group by group instead of
    * reading one fat manifest whole. Metadata-only — no data files
    * move; new snapshots and expire-squashed bases already spill
    * multi-group on write. `current` as in compact; a conflict
    * reloads and retries. Returns re-spilled snapshot count. */
  def rewriteManifests(current: Meta.TableMetadata = meta): Int = this.synchronized {
    val fat = current.snapshots.filter(_.manifestPath.isDefined)
    if (fat.isEmpty) return 0
    val snaps = current.snapshots.map { s =>
      if (s.manifestPath.isEmpty) s
      else s.copy(addedFiles = s.files, manifestPath = None,
        manifestStats = Map.empty)
    }
    // Meta.write re-spills any oversize inline list into sorted groups
    try {
      Meta.write(root, current.copy(snapshots = snaps))
      fat.size
    } catch {
      case _: Meta.CommitConflict => rewriteManifests(meta)
    }
  }

  /** Sort-strategy rewrite (Iceberg's rewrite_data_files strategy =>
    * 'sort'): rewrite ALL live data files — not just small ones —
    * through the table's sort order, restoring range clustering that
    * interleaved appends destroyed. setSortOrder only clusters FUTURE
    * writes; this applies it to history so manifest min/max pruning
    * bites again. Outstanding equality deletes fold in (rewrite-fold,
    * as compact). `current` as in compact. Returns (data files
    * rewritten, data files added). */
  def rewriteSort(targetFileBytes: Long = 128L * 1024 * 1024,
      current: Meta.TableMetadata = meta): (Int, Int) = {
    val m = current
    require(m.sortOrder.nonEmpty,
      "rewriteSort needs a table sort order (setSortOrder first)")
    val live = m.liveFiles(None)
    if (live.isEmpty) return (0, 0)
    val targetN = math.max(1,
      math.ceil(live.map(_.fileSizeBytes).sum.toDouble / targetFileBytes).toInt)
    val seqByPath = m.liveFilesWithSeq(None).map { case (f, q) => f.path -> q }.toMap
    val df = readWithDeletes(live.map(f => (f, seqByPath(f.path))),
      m.liveDeleteFilesWithSeq(None), m.schema)
    val files = writeFiles(df, m.schema, Some(targetN))
    val op = if (m.liveDeleteFilesWithSeq(None).nonEmpty) "rewrite-fold"
             else "rewrite"
    commit(op, files, live.map(_.path),
      removedDeletes = m.liveDeleteFiles(None).map(_.path), base = Some(m))
    (live.size, files.size)
  }

  /** Z-order rewrite (Iceberg's rewriteDataFiles().zOrder(cols)):
    * rewrite ALL live files clustered on the full-width Morton
    * interleave of `cols`, WITHOUT changing the table's declared sort
    * order — a one-shot layout optimization so manifest min/max
    * pruning bites on predicates over ANY of the clustered columns.
    * Outstanding deletes fold in, as compact. `current` as in compact.
    * Returns (data files rewritten, data files added). */
  def rewriteZOrder(cols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024,
      current: Meta.TableMetadata = meta): (Int, Int) = {
    val m = current
    require(cols.size >= 2, s"zorder needs >=2 columns, got $cols")
    cols.foreach(c => require(m.schema.fieldNames.contains(c),
      s"zorder column '$c' is not in the schema"))
    val live = m.liveFiles(None)
    if (live.isEmpty) return (0, 0)
    val targetN = math.max(1,
      math.ceil(live.map(_.fileSizeBytes).sum.toDouble / targetFileBytes).toInt)
    val seqByPath = m.liveFilesWithSeq(None).map { case (f, q) => f.path -> q }.toMap
    val df = readWithDeletes(live.map(f => (f, seqByPath(f.path))),
      m.liveDeleteFilesWithSeq(None), m.schema)
    val files = writeFiles(df, m.schema, Some(targetN),
      sortOverride = Some(Seq(s"zorder(${cols.mkString(", ")})")))
    val op = if (m.liveDeleteFilesWithSeq(None).nonEmpty) "rewrite-fold"
             else "rewrite"
    commit(op, files, live.map(_.path),
      removedDeletes = m.liveDeleteFiles(None).map(_.path), base = Some(m))
    (live.size, files.size)
  }

  /** Expire snapshots older than the newest `keepLast`, keeping every
    * snapshot a ref points to plus its ancestry. Expired snapshots are
    * squashed into a synthetic base so the live chain still replays.
    * `maxAgeMs` (the procedure's older_than_ms) additionally keeps
    * every snapshot younger than the bound beyond the keepLast floor —
    * the standard "expire older than a week, retain at least N" call;
    * a ref's own declared max-snapshot-age-ms overrides it. A caller
    * that has just read the current metadata passes it as `current`.
    * Returns the metadata this wrote, or `current` when nothing
    * expires. */
  def expireSnapshots(keepLast: Int,
      nowMs: Long = System.currentTimeMillis(),
      maxAgeMs: Option[Long] = None,
      current: Meta.TableMetadata = meta): Meta.TableMetadata = this.synchronized {
    val m = current
    // ref expiry first: a ref whose target snapshot is older than its
    // maxRefAgeMs disappears (never main) and stops pinning ancestry
    val expiredRefs = m.refs.keySet.filter { name =>
      name != "main" && m.refRetention.get(name).flatMap(_.maxRefAgeMs).exists(
        age => m.refs.get(name).flatMap(m.snapshot)
          .exists(s => nowMs - s.timestampMs > age))
    }
    val liveRefs = m.refs -- expiredRefs
    val keepIds = scala.collection.mutable.Set[Long]()
    val tips = liveRefs.toSeq.map { case (name, id) => (Some(name), id) } ++
      m.currentSnapshotId.map(id => (None, id)).toSeq
    tips.distinct.foreach { case (refName, tip) =>
      val ret = refName.flatMap(m.refRetention.get)
      // per-ref budget: a tag pins exactly its snapshot; a branch with
      // a policy keeps minSnapshotsToKeep and everything younger than
      // maxSnapshotAgeMs; otherwise the global keepLast applies
      val minKeep = ret match {
        case Some(r) if r.refType == "tag" => 1
        case Some(r) => r.minSnapshotsToKeep.getOrElse(keepLast)
        case None => keepLast
      }
      val maxAge =
        if (ret.exists(_.refType == "tag")) None
        else ret.flatMap(_.maxSnapshotAgeMs).orElse(maxAgeMs)
      var cur = m.snapshot(tip)
      var n = 0
      while (cur.isDefined && (n < minKeep ||
          maxAge.exists(a => nowMs - cur.get.timestampMs <= a))) {
        keepIds += cur.get.snapshotId
        cur = cur.get.parentId.flatMap(m.snapshot)
        n += 1
      }
    }
    if (keepIds.size == m.snapshots.size && expiredRefs.isEmpty) return m
    // squash: for each kept snapshot whose parent is expired, rebase it
    // onto a base snapshot holding the expired prefix's live file set
    val kept = m.snapshots.filter(s => keepIds.contains(s.snapshotId))
    val rebased = kept.map { s =>
      if (s.parentId.exists(p => !keepIds.contains(p))) {
        // squash: the rebased snapshot carries its full live file set
        // AND live delete-file set (manifestPath cleared — addedFiles
        // is authoritative again); dropping either would resurrect
        // overwritten or deleted rows
        // preserve each carried file's original data sequence number:
        // delete-applicability (seq ordering) must survive the squash
        val removedDel = s.removedDeletePaths.toSet
        val liveDeletes = m.liveDeleteFilesWithSeq(s.parentId)
          .map { case (f, seq) => f.copy(dataSequence = Some(seq)) }
          .filterNot(f => removedDel.contains(f.path)) ++ s.addedDeleteFiles
        val parentLive = m.liveFilesWithSeq(s.parentId)
          .map { case (f, seq) => f.copy(dataSequence = Some(seq)) }
        val squashed = s(parentLive)
        // the base now CARRIES the full live set — its summary must
        // describe that, or the streaming admission control would
        // budget a 10k-file base as its original tiny delta
        s.copy(parentId = None, addedFiles = squashed,
          removedPaths = Seq.empty, manifestPath = None,
          manifestGroups = Seq.empty,
          addedDeleteFiles = liveDeletes, removedDeletePaths = Seq.empty,
          summary = s.summary ++ Map(
            "added-files" -> squashed.size.toString,
            "added-records" ->
              squashed.map(_.recordCount).filter(_ >= 0).sum.toString,
            "added-bytes" -> squashed.map(_.fileSizeBytes).sum.toString,
            "squashed" -> "true")
            // the base carries expired imports' files; keep the marker
            ++ (if (squashed.exists(_.nameMapping.isDefined))
              Map("added-files-imported" ->
                squashed.count(_.nameMapping.isDefined).toString)
            else Map.empty))
      } else s
    }
    Meta.write(root, m.copy(snapshots = rebased, refs = liveRefs,
      refRetention = m.refRetention -- expiredRefs))
  }

  /** Delete data files no snapshot references (post-expire GC). Only
    * files older than `olderThanMs` are removed: a freshly staged file
    * may belong to an in-flight commit whose snapshot is not yet
    * visible (the reference's orphan GC uses the same age cutoff). */
  def vacuum(olderThanMs: Long = 3600000L): Seq[String] = this.synchronized {
    val orphans = unreferencedDataFiles(olderThanMs)
    orphans.foreach(TableIO.delete(_))
    orphans.map(TableIO.relativize(dataDir, _))
  }

  private def unreferencedDataFiles(olderThanMs: Long): Seq[HPath] = {
    val m = meta
    val referenced = (m.snapshots.flatMap(_.files.map(_.path)) ++
      m.snapshots.flatMap(_.addedDeleteFiles.map(_.path))).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    TableIO.listFilesRecursive(dataDir).collect {
      case (p, _, mtime)
          if !referenced.contains(TableIO.relativize(dataDir, p)) &&
            mtime <= cutoff => p
    }
  }

  /** Orphan-file GC (the reference catalog's remove_orphan_files
    * maintenance): everything `vacuum` removes PLUS abandoned
    * `stage-*` directories left by crashed or failed commits at the
    * table root. A staging dir counts as abandoned only when every
    * file in it (or the dir itself, if empty) is older than
    * `olderThanMs` — a fresh one may belong to an in-flight commit
    * whose snapshot is not yet visible. `dryRun` lists without
    * deleting. Also sweeps spilled manifest files no snapshot
    * references any more (left behind by rewrite_manifests /
    * expire-squash). Returns table-root-relative paths. */
  /** Retired streaming high-water properties
    * (`graft.streaming.epoch.<query-id>`): prune-eligible when the
    * query has NO stamped snapshot left in history AND the retained
    * history itself spans `olderThanMs` — the second half proves the
    * query hasn't committed in at least that long (its last stamped
    * commit predates the oldest retained snapshot), so the property's
    * only remaining job (guarding a DELAYED zombie replay after
    * expire) has aged past the caller's window. Without the span
    * check, an aggressive expire right after the query's last epoch
    * would make a LIVE query's guard look retired. */
  private def retiredStreamProps(m: Meta.TableMetadata,
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

  def removeOrphanFiles(olderThanMs: Long = 3600000L,
      dryRun: Boolean = false,
      pruneStreamProps: Boolean = false): Seq[String] = this.synchronized {
    val cutoff = System.currentTimeMillis() - olderThanMs
    val rootPath = TableIO.path(root)
    val m = meta
    // compare scheme-stripped paths: stored manifest refs are
    // unqualified, the listing is file:-qualified
    val liveManifests = m.snapshots.flatMap(s =>
      s.manifestPath.toSeq ++ s.manifestGroups.map(_.path))
      .map(TableIO.path(_).toUri.getPath).toSet
    val manifestDir = new HPath(Meta.metadataDir(root), "manifests")
    val staleManifests =
      if (!TableIO.exists(manifestDir)) Seq.empty
      else TableIO.listFilesRecursive(manifestDir).collect {
        case (p, _, mtime)
            if !liveManifests.contains(p.toUri.getPath) && mtime <= cutoff => p
      }
    val staleStaging = TableIO.listDir(rootPath)
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("stage-"))
      .filter { st =>
        val entries = TableIO.listFilesRecursive(st.getPath)
        if (entries.isEmpty) st.getModificationTime <= cutoff
        else entries.forall(_._3 <= cutoff)
      }
      .map(_.getPath)
    val dataOrphans = unreferencedDataFiles(olderThanMs)
    val staleProps =
      if (pruneStreamProps)
        retiredStreamProps(m, olderThanMs, System.currentTimeMillis())
      else Seq.empty
    if (!dryRun) {
      staleStaging.foreach(TableIO.delete(_, recursive = true))
      dataOrphans.foreach(TableIO.delete(_))
      staleManifests.foreach(TableIO.delete(_))
      if (staleProps.nonEmpty)
        Meta.write(root, meta.copy(properties = meta.properties -- staleProps))
    }
    (staleStaging ++ dataOrphans ++ staleManifests)
      .map(TableIO.relativize(rootPath, _)) ++
      staleProps.map("property:" + _)
  }

  /** Merge-on-read DELETE WHERE (Iceberg v2 equality deletes): the
    * matching key values are written as a small delete file and
    * applied at scan via anti-join — O(matches) write cost instead of
    * rewriting data files; `applyDeletes` folds them in later. */
  def deleteWhereMoR(predicate: Column, keyCols: Seq[String]): GraftTable = {
    val m = meta
    val keys = scan().filter(predicate).select(keyCols.map(col): _*).distinct()
    val staging = TableIO.path(root, s"stage-${UUID.randomUUID().toString.take(8)}")
    withMicrosTimestamps(keys.write.parquet(staging.toString))
    val dir = new HPath(dataDir, "deletes")
    TableIO.mkdirs(dir)
    val staged = TableIO.listFilesRecursive(staging)
      .filter(_._1.getName.endsWith(".parquet"))
    // key-range footer stats on the delete file: scans skip the
    // delete entirely for data files whose bounds can't contain any
    // deleted key (Iceberg's delete-manifest pruning)
    val prunableKeys = keyCols.filter(c =>
      m.schema.fields.find(_.name == c).exists(f => isPrunable(f.dataType)))
    val statsByPath = FooterStats.collect(spark,
      staged.map(_._1.toString), prunableKeys.toSet)
      .map(fs => fs.path -> fs.stats).toMap
    val added = staged.map { case (src, sz, _) =>
      val st = statsByPath.getOrElse(src.toString, Map.empty)
      val dest = new HPath(dir, s"eq-${UUID.randomUUID().toString.take(8)}.parquet")
      TableIO.rename(src, dest)
      Meta.DataFile(
        path = TableIO.relativize(dataDir, dest),
        partitionValues = Map.empty,
        recordCount = -1L, fileSizeBytes = sz,
        stats = st, equalityColumns = keyCols,
        equalityIds = keyCols.flatMap(c =>
          m.schema.fields.find(_.name == c).flatMap(Meta.fieldId)),
        content = 2)
    }
    TableIO.delete(staging, recursive = true)
    commit("delete-eq", Seq.empty, Seq.empty, addedDeletes = added)
    this
  }

  /** Fold outstanding equality deletes into the data (the rewrite the
    * reference's `rewrite` transaction performs): data files rewritten
    * minus deleted keys, delete files dropped. Committed as
    * "rewrite-fold", NOT "rewrite": folding deletes REMOVES live rows,
    * so row-preserving consumers (the streaming source) must not treat
    * it as a pure compaction. */
  def applyDeletes(): GraftTable = {
    val m = meta
    val deletes = m.liveDeleteFiles(None)
    if (deletes.isEmpty) return this
    val files = writeFiles(scan(), m.schema)
    commit("rewrite-fold", files, m.liveFiles(None).map(_.path),
      removedDeletes = deletes.map(_.path))
    this
  }

  /** Consolidate the table's POSITION delete files into one (the
    * graft-dialect twin of Iceberg's rewrite_position_deletes):
    * merge-on-read deltas accumulate one small delete file per
    * statement and every scan pays one open per file. Rows union
    * DISTINCT, dangling rows (data file no longer live) drop, and the
    * result commits as a row-preserving metadata+delete-scale snapshot
    * — data files untouched; re-sequencing at the tip is sound for
    * positional deletes (explicit slots, paths never reused), so
    * equality delete files stay as they are. Returns
    * (source position-delete files, consolidated files). */
  def rewritePositionDeletes(): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    val m = meta
    val posFiles = m.liveDeleteFiles(None).filter(_.content == 1)
    if (posFiles.size <= 1) return (posFiles.size, posFiles.size)
    val dDir = dataDir
    val livePaths = m.liveFiles(None).map(f =>
      TableIO.qualified(new HPath(dDir, f.path))).map(p =>
      new HPath(p).toUri.getPath).toSet
    val posSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file_path",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val liveB = spark.sparkContext.broadcast(livePaths)
    import spark.implicits._
    val rows = spark.read.schema(posSchema)
      .parquet(posFiles.map(f =>
        TableIO.qualified(new HPath(dDir, f.path))): _*)
      .distinct()
      .as[(String, Long)]
      .filter(r => liveB.value.contains(new HPath(r._1).toUri.getPath))
      .toDF("file_path", "pos")
    val delDir = new HPath(dDir, "deletes")
    TableIO.mkdirs(delDir)
    val staging = new HPath(root,
      s"stage-posrw-${java.util.UUID.randomUUID().toString.take(8)}")
    rows.coalesce(1).write.parquet(staging.toString)
    val moved = TableIO.listFilesRecursive(staging)
      .filter(_._1.getName.endsWith(".parquet"))
      .map { case (src, sz, _) =>
        val dest = new HPath(delDir,
          s"pos-rw-${java.util.UUID.randomUUID().toString.take(8)}.parquet")
        TableIO.rename(src, dest)
        Meta.DataFile(
          path = TableIO.relativize(dDir, dest),
          partitionValues = Map.empty,
          recordCount = -1L, fileSizeBytes = sz,
          stats = Map.empty, content = 1,
          dataSequence = Some(
            meta.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L)))
      }
    TableIO.delete(staging, recursive = true)
    // committed as "rewrite": the VISIBLE row set is unchanged (the
    // consolidated file hides exactly what the replaced ones did), so
    // the changelog emits nothing and row-preserving consumers (the
    // streaming source) may skip it — same contract as compaction
    commit("rewrite", Seq.empty, Seq.empty,
      addedDeletes = moved, removedDeletes = posFiles.map(_.path),
      summaryExtra = Map(
        "position-delete-files-replaced" -> posFiles.size.toString,
        "position-delete-files-created" -> moved.size.toString))
    (posFiles.size, moved.size)
  }

  /** Convert outstanding EQUALITY delete files into POSITION deletes
    * (the sound form of Iceberg's rewrite over the delete tier —
    * reference: the rewrite transaction family, iceberg-rust
    * table/transaction/mod.rs): every row an equality delete hides is
    * a key match in a data file with a STRICTLY SMALLER sequence, so
    * one join per key-column group materializes exactly those
    * (file, pos) slots. The slots commit at the tip sequence — sound
    * for position deletes (explicit slots, paths never reused) — and
    * the equality files drop, so long-lived equality deletes stop
    * taxing every scan with a key-set probe. Visible rows are
    * UNCHANGED; the 'rewrite' commit is changelog-silent. Data files
    * untouched; cost is one scan of the delete-applicable data era.
    * Returns (equality files converted, position files created). */
  def convertEqualityDeletes(): (Int, Int) = {
    import org.apache.spark.sql.functions._
    val m = meta
    val eqFiles = m.liveDeleteFilesWithSeq(None).filter(_._1.content == 2)
    if (eqFiles.isEmpty) return (0, 0)
    val dDir = dataDir
    val dataFiles = m.liveFilesWithSeq(None)
    val slotsOpt = EqualitySlots.derive(spark,
      eqFiles.groupBy(_._1.equalityColumns).toSeq.map { case (eqCols, files) =>
        EqualitySlots.Group(
          // id-carrying key schema: files written before a rename (of
          // a non-key column) still resolve; key columns themselves
          // are rename-protected (requireUnreferenced)
          StructType(m.schema.fields.filter(f => eqCols.contains(f.name))),
          files.map { case (f, seqE) =>
            (TableIO.qualified(new HPath(dDir, f.path)), seqE) },
          dataFiles.map { case (f, seq) =>
            (TableIO.qualified(new HPath(dDir, f.path)), seq) })
      })
    val moved = slotsOpt match {
      case None => Seq.empty
      case Some(slots) =>
        val delDir = new HPath(dDir, "deletes")
        TableIO.mkdirs(delDir)
        val staging = new HPath(root,
          s"stage-eqrw-${java.util.UUID.randomUUID().toString.take(8)}")
        slots.coalesce(1).write.parquet(staging.toString)
        val out = TableIO.listFilesRecursive(staging)
          .filter(_._1.getName.endsWith(".parquet"))
          .map { case (src, sz, _) =>
            val dest = new HPath(delDir,
              s"eq-rw-${java.util.UUID.randomUUID().toString.take(8)}.parquet")
            TableIO.rename(src, dest)
            Meta.DataFile(
              path = TableIO.relativize(dDir, dest),
              partitionValues = Map.empty,
              recordCount = -1L, fileSizeBytes = sz,
              stats = Map.empty, content = 1,
              dataSequence = Some(
                meta.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L)))
          }
        TableIO.delete(staging, recursive = true)
        out
      }
    // pinned to the derivation base, like the interop twin: the slots
    // were computed against this content
    commit("rewrite", Seq.empty, Seq.empty,
      addedDeletes = moved, removedDeletes = eqFiles.map(_._1.path),
      summaryExtra = Map(
        "equality-delete-files-converted" -> eqFiles.size.toString,
        "position-delete-files-created" -> moved.size.toString),
      requireSnapshot = Some(mainPin(m)))
    (eqFiles.size, moved.size)
  }

  /** Copy-on-write DELETE WHERE: only files whose stats can contain
    * matches are rewritten; untouched files carry over. */
  def delete(predicate: Column, touched: Seq[StatFilter] = Seq.empty): GraftTable = {
    val m = meta
    val candidates = plannedFiles(touched)
    if (candidates.isEmpty) return this
    val seqByPath = m.liveFilesWithSeq(None).map { case (f, q) => f.path -> q }.toMap
    // SQL DELETE keeps rows where the predicate is NULL (not TRUE),
    // so !predicate alone is wrong under three-valued logic
    val remaining = readWithDeletes(candidates.map(f => (f, seqByPath(f.path))),
      m.liveDeleteFilesWithSeq(None), m.schema)
      .filter(!coalesce(predicate, lit(false)))
    val files = writeFiles(remaining, m.schema)
    commit("delete", files, candidates.map(_.path))
    this
  }

  /** Copy-on-write MERGE (upsert): update matching target rows from
    * `source` by key, insert unmatched source rows. Implemented as a
    * full-outer join keyed on `keyCols` — shuffles both sides once on
    * the key. */
  def merge(source: DataFrame, keyCols: Seq[String],
      updateCols: Seq[String]): GraftTable = {
    val m = meta
    val target = scan()
    val srcCols = source.columns
    val joined = target.as("t").join(source.as("s"), keyCols, "full_outer")
    val merged = joined.select(m.schema.fields.map { f =>
      val name = f.name
      if (keyCols.contains(name))
        // using-columns full-outer join already coalesces the key
        col(name)
      else if (updateCols.contains(name) && srcCols.contains(name))
        coalesce(col(s"s.$name"), col(s"t.$name")).as(name)
      else if (srcCols.contains(name))
        coalesce(col(s"t.$name"), col(s"s.$name")).as(name)
      else col(s"t.$name").as(name)
    }.toSeq: _*)
    val files = writeFiles(merged, m.schema)
    // the merged result read through scan() already reflects equality
    // deletes — drop them or they would re-apply to the new data
    commit("overwrite", files, m.liveFiles(None).map(_.path),
      removedDeletes = m.liveDeleteFiles(None).map(_.path))
    this
  }

  // ---- schema / refs / properties -------------------------------------

  /** Schema evolution: add nullable columns (transaction add_schema).
    * Existing files keep their bytes; scans null-fill. With field ids
    * (every table created since ids landed), a re-added name gets a
    * FRESH id, so old bytes under a dropped name can never resurrect;
    * legacy id-less tables keep the name-tombstone guard. */
  def addColumns(newCols: StructType): GraftTable = this.synchronized {
    val m = meta
    if (!Meta.hasFieldIds(m.schema)) {
      val tombstones = m.properties.get(DroppedColumnsProp)
        .map(_.split(",").toSet).getOrElse(Set.empty)
      newCols.fields.foreach(f => require(!tombstones.contains(f.name),
        s"column ${f.name} was previously dropped; existing files still " +
          "hold values under that name — choose a fresh name"))
    }
    val startId = Meta.maxFieldId(m.schemas.values) + 1
    val stamped =
      if (!Meta.hasFieldIds(m.schema)) newCols
      else Meta.withFieldIds(StructType(newCols.fields.map(
        _.copy(metadata = org.apache.spark.sql.types.Metadata.empty))), startId)
    val merged = StructType(m.schema.fields ++ stamped.fields.map(_.copy(nullable = true)))
    val id = m.schemas.keys.max + 1
    Meta.write(root, m.copy(schemas = m.schemas + (id -> merged), currentSchemaId = id))
    this
  }

  /** Shared preconditions for dropping or renaming a column: partition
    * specs, the sort order, and live equality deletes all reference
    * columns by name and would dangle. */
  private def requireUnreferenced(m: Meta.TableMetadata, name: String,
      action: String): Unit = {
    require(!m.specs.values.flatten.exists(_.sourceColumn == name),
      s"column $name is a partition source (in the default or a " +
        s"historical spec); cannot $action")
    // sort-order entries may be bare names OR zorder(a,b) — check the
    // referenced columns, not the entry strings
    val sortRefs = m.sortOrder.flatMap {
      case ZOrderSpec(cols) => zorderCols(cols)
      case n => Seq(n)
    }
    require(!sortRefs.contains(name),
      s"column $name is referenced by the sort order; cannot $action")
    // a live equality delete keyed on the column would turn into an
    // empty-key match-everything (connector) or an unresolvable join
    // (driver scan) — fold the deletes in first
    require(!m.liveDeleteFiles(None).exists(_.equalityColumns.contains(name)),
      s"column $name keys live equality-delete files; applyDeletes first")
  }

  /** Schema evolution: drop a column (new schema version; data files
    * are untouched — scans with the new schema simply stop projecting
    * the column, old snapshots keep their schema-id and still see it).
    * The dropped field's id is retired, never reused. */
  def dropColumn(name: String): GraftTable = this.synchronized {
    val m = meta
    require(m.schema.fieldNames.contains(name), s"no column $name")
    requireUnreferenced(m, name, "drop it")
    val next = StructType(m.schema.fields.filterNot(_.name == name))
    val id = m.schemas.keys.max + 1
    // legacy id-less tables tombstone the name (old files still hold
    // bytes under it and projection is name-matched); id-carrying
    // tables need no tombstone — a re-add allocates a fresh id
    val props =
      if (Meta.hasFieldIds(m.schema)) m.properties
      else m.properties + (DroppedColumnsProp ->
        (m.properties.get(DroppedColumnsProp)
          .map(_.split(",").toSeq).getOrElse(Seq.empty) :+ name)
          .distinct.mkString(","))
    Meta.write(root, m.copy(
      schemas = m.schemas + (id -> next), currentSchemaId = id,
      properties = props))
    this
  }

  /** Schema evolution: WIDEN a column's type — exactly the safe
    * promotions the spec allows (iceberg-rust-spec schema.rs:
    * int->long, float->double, decimal precision growth at fixed
    * scale). Data files are untouched: Spark's parquet reader up-casts
    * the old physical type into the widened slot at read, manifest
    * stat strings parse identically under the widened comparator, and
    * Iceberg's bucket transform hashes int and long the same way by
    * design, so even bucket-partitioned sources stay stable. */
  def updateColumnType(name: String, newType: DataType): GraftTable = this.synchronized {
    val m = meta
    val field = m.schema.fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name"))
    def promotable(from: DataType, to: DataType): Boolean = (from, to) match {
      case (a, b) if a == b => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d1.scale == d2.scale && d2.precision >= d1.precision
      case _ => false
    }
    require(promotable(field.dataType, newType),
      s"cannot change $name: ${field.dataType.simpleString} -> " +
        s"${newType.simpleString} is not a safe promotion " +
        "(int->long, float->double, decimal precision growth)")
    if (field.dataType == newType) return this
    val next = StructType(m.schema.fields.map(f =>
      if (f.name == name) f.copy(dataType = newType) else f))
    val id = m.schemas.keys.max + 1
    // float-era stat strings are SHORTEST-float renderings ("0.3"),
    // which parse to a different double than the widened value
    // (0.30000001192092896) — comparing them under the double
    // comparator would prune files that contain matches. Integral and
    // decimal promotions render exactly; only float->double must
    // retire the column from stats-based pruning (old AND new files:
    // eras are indistinguishable in the manifest).
    val props =
      if (field.dataType != FloatType || newType != DoubleType) m.properties
      else m.properties + (StatsUnprunableProp ->
        (m.properties.get(StatsUnprunableProp)
          .map(_.split(",").toSeq).getOrElse(Seq.empty) :+ name)
          .distinct.mkString(","))
    Meta.write(root, m.copy(schemas = m.schemas + (id -> next),
      currentSchemaId = id, properties = props))
    this
  }

  private def StatsUnprunableProp = Meta.StatsUnprunableProp

  /** Sort-order evolution (iceberg-rust-spec spec/sort.rs): change the
    * write clustering for FUTURE writes. Sort order is a layout hint,
    * not a correctness property, so no per-file tracking is needed —
    * files written under the old order simply keep their layout. */
  def setSortOrder(entries: Seq[String]): GraftTable = this.synchronized {
    val m = meta
    val refs = entries.flatMap {
      case ZOrderSpec(cols) => zorderCols(cols)
      case n => Seq(n)
    }
    refs.foreach(c => require(m.schema.fieldNames.contains(c),
      s"sort column '$c' is not in the schema"))
    Meta.write(root, m.copy(sortOrder = entries))
    this
  }

  /** Schema evolution: RENAME a column (iceberg-rust-spec schema.rs —
    * identity is the field id, the name is a label). The field keeps
    * its id, so id-matched reads keep resolving the bytes in every
    * existing file; requires an id-carrying schema. */
  def renameColumn(name: String, newName: String): GraftTable = this.synchronized {
    val m = meta
    require(Meta.hasFieldIds(m.schema),
      "rename needs field-id column identity; this table predates ids " +
        "(recreate it, or add-then-backfill)")
    require(m.schema.fieldNames.contains(name), s"no column $name")
    require(!m.schema.fieldNames.contains(newName),
      s"column $newName already exists")
    // a partition-FIELD name collision would make writeFiles overwrite
    // the renamed column with the transform output and partitionBy
    // strip it from the files (same guard as create/setDefaultSpec)
    require(!m.specs.values.flatten.exists(_.name == newName),
      s"'$newName' is a partition field name (in the default or a " +
        "historical spec); choose a different name")
    requireUnreferenced(m, name, "rename it")
    val next = StructType(m.schema.fields.map(f =>
      if (f.name == name) f.copy(name = newName) else f))
    val id = m.schemas.keys.max + 1
    Meta.write(root, m.copy(schemas = m.schemas + (id -> next), currentSchemaId = id))
    this
  }

  private val DroppedColumnsProp = "graft.dropped-columns"

  /** Partition-spec evolution (transaction/mod.rs:47 set_default_spec):
    * change how FUTURE writes are partitioned without touching data.
    * The new spec is appended to the spec list under a fresh id and
    * becomes the default; existing files keep their own spec id and
    * scans resolve each file's partitionValues through the spec that
    * wrote it. An identical existing spec is reused (same-id
    * idempotence, like Iceberg's spec dedup). */
  def setDefaultSpec(spec: Seq[Meta.PartitionField]): GraftTable = this.synchronized {
    val m = meta
    spec.foreach { pf =>
      require(m.schema.fieldNames.contains(pf.sourceColumn),
        s"partition source column '${pf.sourceColumn}' is not in the schema")
      require(!m.schema.fieldNames.contains(pf.name),
        s"partition field name '${pf.name}' collides with a schema column; " +
          "use a distinct name (e.g. prefix '_p_')")
    }
    val id = m.specs.find(_._2 == spec).map(_._1)
      .getOrElse(m.specs.keys.maxOption.getOrElse(-1) + 1)
    Meta.write(root, m.copy(specs = m.specs + (id -> spec), defaultSpecId = id))
    this
  }

  /** Named ref (branch/tag) to a snapshot (set_snapshot_ref), with an
    * optional retention policy (snapshot.rs SnapshotRetention):
    * maxRefAgeMs expires the ref itself at expireSnapshots time (main
    * never expires); minSnapshotsToKeep/maxSnapshotAgeMs govern how
    * much of a branch's ancestry expiration preserves; a tag keeps
    * only its pinned snapshot (squashed self-contained). */
  def setRef(name: String, snapshotId: Long,
      retention: Option[Meta.RefRetention] = None): GraftTable = this.synchronized {
    val m = meta
    // set_snapshot_ref REPLACES the whole reference: re-pointing a ref
    // without a policy clears any previous one, so a stale max-ref-age
    // can never silently expire a ref its caller meant to keep
    Meta.write(root, m.copy(refs = m.refs + (name -> snapshotId),
      refRetention = retention match {
        case Some(r) => m.refRetention + (name -> r)
        case None => m.refRetention - name
      }))
    this
  }

  /** Column-level NDV statistics (the reference ecosystem's Puffin /
    * theta-sketch table stats, computed Spark-side): one distributed
    * pass of approx_count_distinct over the requested (default: all
    * simple-typed) columns, persisted as table properties together
    * with the snapshot they were computed at. The connector reports
    * them through V2 columnStats so Spark's cost-based optimizer can
    * reorder joins from real cardinalities — at 100 TB, join order
    * dictated by a bad guess is the difference between a broadcast
    * plan and a petabyte shuffle. Returns column -> NDV. */
  def analyze(columns: Seq[String] = Seq.empty): Map[String, Long] = {
    val m = meta
    val simple: DataType => Boolean = {
      case _: StructType | _: ArrayType | _: MapType | BinaryType => false
      case _ => true
    }
    val cols =
      if (columns.nonEmpty) columns
      else m.schema.fields.filter(f => simple(f.dataType)).map(_.name).toSeq
    require(cols.nonEmpty, "no analyzable columns")
    val aggs = cols.map(c => approx_count_distinct(col(c)).as(c))
    val r = scan().agg(aggs.head, aggs.tail: _*).collect()(0)
    val ndv = cols.zipWithIndex.map { case (c, i) => c -> r.getLong(i) }.toMap
    updateProperties(
      ndv.map { case (c, n) => s"${GraftTable.NdvProp}$c" -> n.toString } +
        (GraftTable.AnalyzedSnapshotProp ->
          m.currentSnapshotId.getOrElse(-1L).toString))
    ndv
  }

  /** Cherry-pick an append snapshot (typically staged on an audit
    * branch) onto the main chain as a NEW commit referencing the same
    * data files — metadata-only, no data movement (the write-audit-
    * publish flow; Iceberg's cherrypick_snapshot). Only appends are
    * pickable: a row-changing snapshot's removals are relative to ITS
    * parent and replaying them on a diverged main would be wrong.
    * Returns the metadata committed; `current` as in expireSnapshots. */
  def cherrypick(snapshotId: Long,
      current: Meta.TableMetadata = meta): Meta.TableMetadata = this.synchronized {
    val m = current
    val s = m.snapshot(snapshotId).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $snapshotId"))
    require(s.operation == "append",
      s"only append snapshots can be cherry-picked; " +
        s"$snapshotId is '${s.operation}'")
    require(!m.chainSnapshots(None).exists(_.snapshotId == snapshotId),
      s"snapshot $snapshotId is already on the main chain")
    commit("append", s.files, Seq.empty, base = Some(m))
  }

  /** Fast-forward a branch to another ref's tip — the publish step of
    * write-audit-publish. Requires the branch tip to be an ancestor
    * of the target (or the branch to not exist yet): anything else is
    * a divergent move that would silently drop commits. Returns
    * (previous tip or -1, new tip). */
  def fastForward(branch: String, to: String): (Long, Long) = this.synchronized {
    val m = meta
    val toId = m.refs.getOrElse(to,
      throw new IllegalArgumentException(s"no ref '$to'"))
    val fromId = m.refs.get(branch)
    fromId.foreach { f =>
      require(m.chainSnapshots(Some(toId)).exists(_.snapshotId == f),
        s"'$branch' ($f) is not an ancestor of '$to' ($toId): not a fast-forward")
    }
    Meta.write(root, m.copy(
      refs = m.refs + (branch -> toId),
      currentSnapshotId =
        if (branch == "main") Some(toId) else m.currentSnapshotId))
    (fromId.getOrElse(-1L), toId)
  }

  /** Roll the main branch back to an earlier snapshot: time travel
    * made current. The abandoned snapshots stay in history (expire
    * removes them), so rollback is itself reversible. */
  def rollbackTo(snapshotId: Long): GraftTable = this.synchronized {
    val m = meta
    require(m.snapshot(snapshotId).isDefined, s"no snapshot $snapshotId")
    Meta.write(root, m.copy(
      currentSnapshotId = Some(snapshotId),
      refs = m.refs + ("main" -> snapshotId)))
    this
  }

  /** Merge-on-read UPDATE: the matching rows' slots become a position
    * delete and the updated rows append as new data — O(matches) write
    * cost like the reference's row-level operations, no full-file
    * rewrite. The SET clauses evaluate over the current row. */
  def updateWhereMoR(predicate: Column,
      assignments: Seq[(String, Column)]): GraftTable = {
    val m = meta
    val seqByPath = m.liveFilesWithSeq(None).map { case (f, q) => f.path -> q }.toMap
    val live = m.liveFiles(None).map(f => (f, seqByPath(f.path)))
    val current = readWithDeletes(live, m.liveDeleteFilesWithSeq(None),
      m.schema, keepPos = true).filter(predicate)
    // updated rows (new data) — computed BEFORE the delete commits
    val updated = assignments.foldLeft(current) { case (df, (c, v)) =>
      df.withColumn(c, v)
    }.select(m.schema.fieldNames.map(col): _*)
    val newFiles = writeFiles(updated, m.schema)
    // position-delete the old slots
    val positions = current
      .select(col("__file").as("file_path"), col("__pos").as("pos"))
    val staging = TableIO.path(root, s"stage-${UUID.randomUUID().toString.take(8)}")
    positions.write.parquet(staging.toString)
    val dir = new HPath(dataDir, "deletes")
    TableIO.mkdirs(dir)
    val added = TableIO.listFilesRecursive(staging)
      .filter(_._1.getName.endsWith(".parquet"))
      .map { case (src, sz, _) =>
        val dest = new HPath(dir, s"pos-${UUID.randomUUID().toString.take(8)}.parquet")
        TableIO.rename(src, dest)
        // the delete's sequence pins BELOW this commit: it reaches every
        // pre-existing file (seq <= N-1) but not the rows added here
        Meta.DataFile(
          path = TableIO.relativize(dataDir, dest),
          partitionValues = Map.empty,
          recordCount = -1L, fileSizeBytes = sz,
          stats = Map.empty, content = 1,
          dataSequence = Some(
            m.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L)))
      }
    TableIO.delete(staging, recursive = true)
    // ONE snapshot deletes the old slots and adds the new rows
    commit("update-mor", newFiles, Seq.empty, addedDeletes = added)
    this
  }

  /** Commit a DELTA write (the V2 SupportsDelta path: SQL UPDATE /
    * MERGE / complex DELETE in merge-on-read mode): executor-staged
    * new data files plus executor-staged position-delete files land
    * in ONE snapshot — write cost O(changed rows), no candidate-file
    * rewrite. Mirrors updateWhereMoR's commit shape: the delete's
    * sequence pins BELOW this commit, reaching every pre-existing
    * file but not the rows added here. */
  private[graft] def commitStagedDelta(dataStaging: HPath,
      delStaging: HPath): Unit = {
    val m = meta
    val newFiles =
      if (TableIO.listFilesRecursive(dataStaging)
          .exists(_._1.getName.endsWith(".parquet")))
        ingestStaged(dataStaging, m.schema, m.defaultSpecId)
      else { TableIO.delete(dataStaging, recursive = true); Seq.empty }
    val dir = new HPath(dataDir, "deletes")
    TableIO.mkdirs(dir)
    val delFiles = TableIO.listFilesRecursive(delStaging)
      .filter(_._1.getName.endsWith(".parquet"))
      .map { case (src, sz, _) =>
        val dest = new HPath(dir, s"pos-${UUID.randomUUID().toString.take(8)}.parquet")
        TableIO.rename(src, dest)
        Meta.DataFile(
          path = TableIO.relativize(dataDir, dest),
          partitionValues = Map.empty,
          recordCount = -1L, fileSizeBytes = sz,
          stats = Map.empty, content = 1,
          dataSequence = Some(
            m.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L)))
      }
    TableIO.delete(delStaging, recursive = true)
    if (newFiles.isEmpty && delFiles.isEmpty) return
    // the data files these deletes reference must still be live when
    // the snapshot lands (IcebergWrite.commitDelta's guard): over a
    // concurrent rewrite the deletes would point at dead paths and
    // every deleted row stay visible. The deletes carry the scan's
    // qualified URIs; map them back to manifest paths.
    val referenced = GraftTable.positionDeleteTargets(spark,
      delFiles.map(f => new HPath(dataDir, f.path)))
    val manifestPath =
      if (referenced.isEmpty) Map.empty[String, String]
      else m.liveFiles(None).map(f => new HPath(TableIO.qualified(
        new HPath(dataDir, f.path))).toUri.getPath -> f.path).toMap
    commit("update-mor", newFiles, Seq.empty, addedDeletes = delFiles,
      requireLive = referenced.toSeq.map(p => manifestPath.getOrElse(p, p)))
  }

  /** Set `entries` and remove `removals` in one metadata commit (the
    * reference's update_properties handles both in one transaction op). */
  def updateProperties(entries: Map[String, String],
      removals: Seq[String] = Nil): GraftTable = this.synchronized {
    val m = meta
    Meta.write(root, m.copy(properties = m.properties ++ entries -- removals))
    this
  }

  def removeProperties(keys: Seq[String]): GraftTable = updateProperties(Map.empty, keys)

  // ---- metadata tables ------------------------------------------------

  /** `files` metadata table: one row per live data file. */
  def filesDF: DataFrame = {
    import spark.implicits._
    meta.liveFiles(None)
      .map(f => (f.path, f.partitionValues.map(kv => s"${kv._1}=${kv._2}").toSeq.sorted.mkString("/"),
        f.recordCount, f.fileSizeBytes))
      .toDF("path", "partition", "records", "bytes")
  }

  /** `snapshots` metadata table. */
  def snapshotsDF: DataFrame = {
    import spark.implicits._
    meta.snapshots
      .map(s => (s.snapshotId, s.parentId.getOrElse(-1L), s.operation,
        s.files.size, s.removedPaths.size))
      .toDF("snapshot_id", "parent_id", "operation", "added_files", "removed_files")
  }
}

object GraftTable {

  /** The data files a set of position-delete files reference, as URI
    * paths (so `file:/` and `file:///` forms agree): distinct FILE
    * paths only, never the delete rows. */
  private[graft] def positionDeleteTargets(spark: SparkSession,
      deleteFiles: Seq[HPath]): Set[String] =
    if (deleteFiles.isEmpty) Set.empty
    else spark.read
      .schema(StructType(Seq(StructField("file_path", StringType))))
      .parquet(deleteFiles.map(_.toString): _*)
      .distinct().collect()
      .map(r => new HPath(r.getString(0)).toUri.getPath).toSet

  /** Property prefix for analyze()'s per-column NDV estimates. */
  val NdvProp = "stats.ndv."
  /** Snapshot the NDV estimates were computed at. */
  val AnalyzedSnapshotProp = "stats.analyzed-snapshot-id"

  /** Parquet bloom-filter write options from table properties
    * (Iceberg's property names): set
    * `write.parquet.bloom-filter-enabled.column.<col>=true` to build
    * a bloom filter on <col> in every written file; an optional
    * `write.parquet.bloom-filter-fpp.column.<col>` tunes the false-
    * positive rate, and an analyze()-computed NDV sizes the filter.
    * At 100 TB this is the point-lookup path: equality predicates on
    * high-cardinality, non-clustered columns (ids, hashes) skip row
    * groups that min/max envelopes cannot. Applied by BOTH write
    * paths — the driver-side DataFrameWriter and the V2 executor
    * task writers. */
  def bloomWriteOptions(m: Meta.TableMetadata): Map[String, String] = {
    val pfx = "write.parquet.bloom-filter-enabled.column."
    m.properties.toSeq.collect {
      case (k, "true") if k.startsWith(pfx) =>
        val c = k.stripPrefix(pfx)
        Seq(s"parquet.bloom.filter.enabled#$c" -> "true") ++
          m.properties.get(s"$NdvProp$c")
            .map(n => s"parquet.bloom.filter.expected.ndv#$c" -> n) ++
          m.properties.get(s"write.parquet.bloom-filter-fpp.column.$c")
            .map(f => s"parquet.bloom.filter.fpp#$c" -> f)
    }.flatten.toMap
  }

  /** Create a new table (schema + optional partition spec + optional
    * sort order for write clustering). */
  def create(spark: SparkSession, root: String, schema: StructType,
      spec: Seq[Meta.PartitionField] = Seq.empty,
      properties: Map[String, String] = Map.empty,
      sortOrder: Seq[String] = Seq.empty): GraftTable = {
    require(!Meta.exists(root), s"table already exists at $root")
    // a spec name that shadows a schema column would make partitionBy
    // strip the data column from the files (scans would null-fill it)
    spec.foreach(pf => require(!schema.fieldNames.contains(pf.name),
      s"partition field name '${pf.name}' collides with a schema column; " +
        "use a distinct name (e.g. prefix '_p_')"))
    Meta.write(root, Meta.TableMetadata(
      location = root, formatVersion = 1,
      // every column gets a stable field id at birth (ids 1..N) —
      // the identity that makes rename / drop+re-add sound
      schemas = Map(0 -> Meta.withFieldIds(schema, 1)), currentSchemaId = 0,
      specs = Map(0 -> spec), defaultSpecId = 0, properties = properties,
      snapshots = Seq.empty, currentSnapshotId = None,
      refs = Map.empty, lastVersion = 0, sortOrder = sortOrder))
    new GraftTable(root, spark)
  }

  def load(spark: SparkSession, root: String): GraftTable = {
    require(Meta.exists(root), s"no table at $root")
    new GraftTable(root, spark)
  }

  /** A handle on `root` whose metadata the caller has just read, so
    * its existence needs no second listing. */
  private[graft] def loaded(spark: SparkSession, root: String): GraftTable =
    new GraftTable(root, spark)
}
