package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.table.{GraftTable, Meta, TableIO}

/** SQL stored procedures for table maintenance — `CALL cat.system.X(...)`
  * on Spark 4's ProcedureCatalog API. This is how every engine exposes
  * the reference's maintenance transactions (expire_snapshots, orphan
  * GC, compaction, rollback, branching — `table/transaction/operation
  * .rs:38`) to SQL-only users: the operation itself still runs as the
  * same distributed Spark job / metadata commit the Scala API uses;
  * the procedure is only the front door plus a metadata-scale result
  * row, so nothing here adds driver-side data movement at 100 TB. */
object GraftProcedures {

  /** One result set held as already-converted InternalRows —
    * procedures return metadata-scale output (a count, a path list),
    * so a LocalScan is the right vehicle: no job, no partitions. */
  private case class ResultScan(resultSchema: StructType,
      resultRows: Array[InternalRow]) extends LocalScan {
    override def readSchema(): StructType = resultSchema
    override def rows(): Array[InternalRow] = resultRows
  }

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  private def row(values: Any*): InternalRow =
    new GenericInternalRow(values.toArray)

  private def result(schema: StructType, rows: Seq[InternalRow])
      : java.util.Iterator[Scan] =
    java.util.Collections.singletonList(
      ResultScan(schema, rows.toArray): Scan).iterator()

  /** A maintenance procedure: fixed parameter list, fixed output
    * schema, body over the resolved table. Binding is trivial —
    * Spark aligns/coerces/defaults the CALL arguments against
    * `parameters()`, so `bind` just returns the bound form.
    *
    * Resolution yields either a graft table (`Right`) or the location
    * of an adopted REAL-format Iceberg table (`Left`) — the catalog
    * lists both, and register_table / add_files invite foreign tables
    * in, so maintenance must reach them too (the reference applies
    * the same transaction surface to its tables,
    * table/transaction/mod.rs:33-97). Procedures that support foreign
    * tables override `foreignBody`; the rest fail with a clear
    * message instead of a metadata parse error. */
  abstract class GraftProcedure(val procName: String,
      description: String,
      params: Array[ProcedureParameter],
      outputSchema: StructType,
      resolve: String => Either[String, GraftTable])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      resolve(input.getUTF8String(0).toString) match {
        case Right(t) => result(outputSchema, body(t, input))
        case Left(loc) => result(outputSchema, foreignBody(loc, input))
      }
    protected def body(t: GraftTable, input: InternalRow): Seq[InternalRow]
    protected def foreignBody(location: String,
        input: InternalRow): Seq[InternalRow] =
      throw new UnsupportedOperationException(
        s"CALL $procName: $location holds a real-format Iceberg table, " +
          "which this procedure does not support (every other " +
          "maintenance procedure runs on adopted real-format tables)")
  }

  private val TableParam =
    ProcedureParameter.in("table", StringType)
      .comment("table identifier, e.g. 'db.t'").build()

  def all(warehouse: String,
      loadTable: String => Either[String, GraftTable],
      restRegister: Option[(String, String) => Unit] = None,
      restBase: Option[String] = None)
      : Map[String, UnboundProcedure] = {
    import graft.table.iceberg.{IcebergMaintenance, IcebergMetadata,
      IcebergTable, IcebergWrite}
    val procs = Seq[GraftProcedure](

      // register_table (catalog/mod.rs:95): adopt an EXISTING graft
      // table living OUTSIDE the warehouse under a catalog name.
      // Metadata-only — a pointer file at the conventional path; DROP
      // deregisters without touching the external table.
      new GraftProcedure("register_table",
        "Register an existing graft table at an external location " +
          "under a catalog name. Writes only a location pointer; the " +
          "table's data and metadata stay where they are. DROP TABLE " +
          "on a registered name removes only the registration.",
        Array(TableParam,
          ProcedureParameter.in("location", StringType)
            .comment("existing table root directory").build()),
        StructType(Seq(
          StructField("registered", StringType),
          StructField("current_snapshot_id", LongType))),
        loadTable) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val name = input.getUTF8String(0).toString
          val loc = input.getUTF8String(1).toString
          // graft AND real-format tables both register: the catalog's
          // loadTable follows the pointer and routes by format
          val format = TableFormat.resolve(loc).getOrElse(
            throw new IllegalArgumentException(s"no table metadata under $loc"))
          val snap = format.currentSnapshotId.getOrElse(-1L)
          // REST mode: the registration belongs to the SERVER — the
          // spec's POST /namespaces/{ns}/register imports the current
          // metadata file; data stays at the original location
          restRegister.foreach { reg =>
            require(!format.isInstanceOf[TableFormat.GraftFormat],
              "register_table over REST serves real-format tables " +
                "(the protocol imports a metadata.json)")
            reg(name, loc)
            return result(StructType(Seq(
              StructField("registered", StringType),
              StructField("current_snapshot_id", LongType))),
              Seq(row(utf8(loc), snap)))
          }
          require(warehouse != null,
            "register_table needs a filesystem warehouse or a REST " +
              "catalog server")
          val conv = (warehouse +: name.split('.').toSeq).mkString("/")
          require(!Meta.exists(conv) && !graft.table.TableIO.exists(
            graft.table.TableIO.path(
              conv + "/" + GraftTableCatalog.LocationPointer)),
            s"table $name already exists")
          graft.table.TableIO.mkdirs(graft.table.TableIO.path(conv))
          graft.table.TableIO.writeString(graft.table.TableIO.path(
            conv + "/" + GraftTableCatalog.LocationPointer), loc)
          result(outputSchema0, Seq(row(utf8(loc), snap)))
        }
        private val outputSchema0 = StructType(Seq(
          StructField("registered", StringType),
          StructField("current_snapshot_id", LongType)))
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] =
          Seq.empty // unused: call() is overridden
      },

      new GraftProcedure("expire_snapshots",
        "Expire history older than the newest keep_last snapshots; " +
          "older_than_ms additionally keeps everything younger than " +
          "the bound (ref retention policies override both)",
        Array(TableParam,
          ProcedureParameter.in("keep_last", IntegerType)
            .defaultValue("1").build(),
          ProcedureParameter.in("older_than_ms", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build()),
        StructType(Seq(
          StructField("snapshots_before", IntegerType),
          StructField("snapshots_after", IntegerType))),
        loadTable) {
        private def bound(in: InternalRow): Option[Long] =
          if (in.isNullAt(2)) None else Some(in.getLong(2))
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] = {
          val before = t.meta.snapshots.size
          t.expireSnapshots(keepLast = in.getInt(1),
            maxAgeMs = bound(in))
          Seq(row(before, t.meta.snapshots.size))
        }
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] = {
          val (before, after) = IcebergMaintenance.expireSnapshots(
            loc, in.getInt(1), maxAgeMs = bound(in))
          Seq(row(before, after))
        }
      },

      new GraftProcedure("vacuum",
        "Delete unreferenced data/delete files older than older_than_ms",
        Array(TableParam,
          ProcedureParameter.in("older_than_ms", LongType)
            .defaultValue("3600000").build()),
        StructType(Seq(StructField("removed_files", IntegerType))),
        loadTable) {
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] =
          Seq(row(t.vacuum(in.getLong(1)).size))
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] =
          Seq(row(IcebergMaintenance.vacuum(
            SparkSession.active, loc, in.getLong(1)).size))
      },

      new GraftProcedure("remove_orphan_files",
        "List (dry_run) or delete unreferenced files and abandoned " +
          "staging dirs older than older_than_ms; prune_stream_props " +
          "also drops retired graft.streaming.epoch.* high-water " +
          "properties (queries with no stamped snapshot left in a " +
          "history spanning the window)",
        Array(TableParam,
          ProcedureParameter.in("older_than_ms", LongType)
            .defaultValue("3600000").build(),
          ProcedureParameter.in("dry_run", BooleanType)
            .defaultValue("false").build(),
          ProcedureParameter.in("prune_stream_props", BooleanType)
            .defaultValue("false").build()),
        StructType(Seq(StructField("orphan_path", StringType))),
        loadTable) {
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] =
          t.removeOrphanFiles(in.getLong(1), in.getBoolean(2),
            pruneStreamProps = in.getBoolean(3))
            .map(p => row(utf8(p)))
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] =
          IcebergMaintenance.removeOrphanFiles(
            SparkSession.active, loc, in.getLong(1), in.getBoolean(2),
            pruneStreamProps = in.getBoolean(3))
            .map(p => row(utf8(p)))
      },

      // The one crash residue remove_orphan_files can't reach: a hard
      // JVM kill mid-CTAS leaves the staged table at a NAMESPACE-level
      // dot-hidden `.stage-<name>-*` dir (GraftStagedTables.scala /
      // the REST protocol's stage-create, create.rs:59) — invisible
      // to listings, owned by no table, so the sweep is scoped by
      // namespace rather than table.
      new GraftProcedure("remove_orphan_staging",
        "List (dry_run) or delete abandoned namespace-level .stage-* " +
          "staging dirs left by a crashed CTAS, once every file in " +
          "them is older than older_than_ms. Staging dirs a live " +
          "table still references as its location (published REST " +
          "staged creates) are never touched.",
        Array(
          ProcedureParameter.in("namespace", StringType)
            .comment("namespace, e.g. 'db' or 'a.b'").build(),
          ProcedureParameter.in("older_than_ms", LongType)
            .defaultValue("3600000").build(),
          ProcedureParameter.in("dry_run", BooleanType)
            .defaultValue("false").build()),
        StructType(Seq(StructField("orphan_dir", StringType))),
        loadTable) {
        private val out =
          StructType(Seq(StructField("orphan_dir", StringType)))
        override def call(in: InternalRow): java.util.Iterator[Scan] = {
          val parts = in.getUTF8String(0).toString
            .split('.').toSeq.filter(_.nonEmpty)
          require(parts.nonEmpty, "namespace required")
          val (nsDir, live) = restBase match {
            case Some(base) =>
              // published staged-creates keep their DATA at the
              // .stage-* dir their stage-create chose (the metadata
              // skeleton lives at the conventional root; its location
              // field points at the staged dir) — resolve every table
              // in the namespace and protect root AND location
              val ns = parts.mkString("\u001F")
              val roots0 = graft.table.iceberg.IcebergRestClient
                .listTables(base, ns)
                .flatMap(t => graft.table.iceberg.IcebergRestClient
                  .tableRootOf(base, ns, t))
              val roots = roots0 ++ roots0.flatMap(r =>
                scala.util.Try(
                  graft.table.iceberg.IcebergMetadata.load(r).location)
                  .toOption)
              val dir =
                if (warehouse != null && warehouse.nonEmpty)
                  (warehouse +: parts).mkString("/")
                else roots0.find(r => !TableIO.path(r).getName
                    .startsWith(".stage-"))
                  .map(r => TableIO.path(r).getParent.toString)
                  .getOrElse(throw new IllegalArgumentException(
                    s"cannot locate namespace ${parts.mkString(".")} on " +
                      "shared storage: configure the catalog's " +
                      "'warehouse' or keep at least one non-staged " +
                      "table in the namespace"))
              (dir, roots.toSet)
            case None =>
              // warehouse mode publishes by RENAME, so a .stage-* dir
              // under the namespace is never a live table location
              ((warehouse +: parts).mkString("/"), Set.empty[String])
          }
          result(out, IcebergMaintenance.sweepStagedDirs(
              nsDir, live, in.getLong(1), in.getBoolean(2))
            .map(p => row(utf8(p))))
        }
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] =
          Seq.empty // unused: call() is overridden
      },

      new GraftProcedure("add_files",
        "Import foreign parquet files under source_dir IN PLACE: no " +
          "copy, no rewrite — manifest entries with footer stats and " +
          "a pinned per-file name mapping (the files carry no field " +
          "ids). Identity-partitioned tables derive partition values " +
          "from Hive-style col=value directories.",
        Array(TableParam,
          ProcedureParameter.in("source_dir", StringType).build()),
        StructType(Seq(
          StructField("added_files_count", LongType),
          StructField("added_rows_count", LongType))),
        loadTable) {
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] = {
          val added = t.addFiles(in.getUTF8String(1).toString)
          Seq(row(added.size.toLong, added.map(_.recordCount).sum))
        }
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] = {
          val (n, rows) =
            IcebergWrite.addFiles(loc, in.getUTF8String(1).toString)
          Seq(row(n.toLong, rows))
        }
      },

      new GraftProcedure("rewrite_data_files",
        "strategy 'binpack' (default): bin-pack small files per " +
          "partition toward target_file_size_bytes; strategy 'sort': " +
          "rewrite ALL live files through the table sort order, " +
          "restoring range clustering; strategy 'zorder': rewrite ALL " +
          "live files clustered on the Morton interleave of " +
          "sort_columns (comma-separated), without changing the " +
          "table's sort order. Outstanding deletes fold in.",
        Array(TableParam,
          ProcedureParameter.in("target_file_size_bytes", LongType)
            .defaultValue((128L * 1024 * 1024).toString).build(),
          ProcedureParameter.in("strategy", StringType)
            .defaultValue("'binpack'").build(),
          ProcedureParameter.in("sort_columns", StringType)
            .defaultValue("''").build()),
        StructType(Seq(
          StructField("rewritten_data_files", IntegerType),
          StructField("added_data_files", IntegerType))),
        loadTable) {
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] = {
          val before = t.meta.liveFiles(None).map(_.path).toSet
          in.getUTF8String(2).toString match {
            case "binpack" => t.compact(in.getLong(1))
            case "sort" => t.rewriteSort(in.getLong(1))
            case "zorder" =>
              val cols = in.getUTF8String(3).toString.split(',')
                .map(_.trim).filter(_.nonEmpty).toSeq
              t.rewriteZOrder(cols, in.getLong(1))
            case other => throw new IllegalArgumentException(
              s"unknown rewrite strategy '$other' (binpack | sort | zorder)")
          }
          val after = t.meta.liveFiles(None).map(_.path).toSet
          Seq(row((before -- after).size, (after -- before).size))
        }
        // foreign tables: IcebergWrite.rewrite folds the current
        // content (MoR deletes applied) into target-sized files; a
        // default table sort order range-clusters the rewrite, so
        // 'sort' and 'binpack' share the one full-rewrite path
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] = {
          in.getUTF8String(2).toString match {
            case "binpack" | "sort" =>
            case other => throw new IllegalArgumentException(
              s"rewrite strategy '$other' is not supported on " +
                "real-format Iceberg tables (binpack | sort)")
          }
          val s = SparkSession.active
          val before = IcebergTable.load(s, loc).plannedFiles().size
          val added = IcebergWrite.rewrite(s, loc, in.getLong(1))
          Seq(row(before, added))
        }
      },

      new GraftProcedure("rewrite_manifests",
        "Re-spill fat single-file manifests into sorted multi-group " +
          "form (metadata-only; group-granular planning)",
        Array(TableParam),
        StructType(Seq(StructField("rewritten_manifests", IntegerType))),
        loadTable) {
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] =
          Seq(row(t.rewriteManifests()))
        // real-format tables: consolidate the current snapshot's data
        // manifests (metadata-only 'replace' commit; delete manifests
        // carried); report how many source manifests were replaced
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] = {
          val (before, after) = IcebergWrite.rewriteManifests(loc)
          Seq(row(if (after < before) before else 0))
        }
      },

      new GraftProcedure("rewrite_delete_files",
        "mode 'fold' (default): fold outstanding merge-on-read delete " +
          "files into the data files; mode 'convert': materialize " +
          "EQUALITY deletes as position-delete slots and drop the " +
          "equality files — data files untouched, scans stop paying " +
          "the per-row key-set probe",
        Array(TableParam,
          ProcedureParameter.in("mode", StringType)
            .defaultValue("'fold'").build()),
        StructType(Seq(StructField("removed_delete_files", IntegerType))),
        loadTable) {
        private def mode(in: InternalRow): String = {
          val m = in.getUTF8String(1).toString
          require(m == "fold" || m == "convert",
            s"rewrite_delete_files: unknown mode '$m' (fold | convert)")
          m
        }
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] =
          mode(in) match {
            case "convert" =>
              val (converted, _) = t.convertEqualityDeletes()
              Seq(row(converted))
            case _ =>
              val before = t.meta.liveDeleteFiles(None).size
              t.applyDeletes()
              Seq(row(before - t.meta.liveDeleteFiles(None).size))
          }
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] = {
          val s = SparkSession.active
          mode(in) match {
            case "convert" =>
              val (converted, _) = IcebergWrite.convertEqualityDeletes(s, loc)
              Seq(row(converted))
            case _ =>
              val before = IcebergTable.load(s, loc).deleteEntries().size
              if (before > 0) IcebergWrite.rewrite(s, loc)
              val after = IcebergTable.load(s, loc).deleteEntries().size
              Seq(row(before - after))
          }
        }
      },

      new GraftProcedure("update_by_key",
        "Key-routed point UPDATE (the GDPR/user-record rewrite): ONE " +
          "snapshot = an equality delete of just the key values + data " +
          "files holding only the modified rows — commit IO O(matches), " +
          "candidate files never rewritten. key_values is a SQL literal " +
          "list (e.g. \"1, 2, 3\" or \"'a','b'\"), assignments a SQL " +
          "SET list (e.g. \"w = w * 2, v = 'x'\")",
        Array(TableParam,
          ProcedureParameter.in("key_column", StringType).build(),
          ProcedureParameter.in("key_values", StringType).build(),
          ProcedureParameter.in("assignments", StringType).build()),
        StructType(Seq(StructField("updated_rows", LongType))),
        loadTable) {
        private def parseSets(s: String): Seq[(String, org.apache.spark.sql.Column)] =
          GraftProcedures.splitTopLevel(s).map { a =>
            val i = a.indexOf('=')
            require(i > 0, s"malformed assignment '$a' (want col = expr)")
            a.take(i).trim ->
              org.apache.spark.sql.functions.expr(a.drop(i + 1))
          }
        private def keysDf(s: SparkSession, dt: org.apache.spark.sql.types.DataType,
            keyCol: String, vals: String): org.apache.spark.sql.DataFrame =
          s.sql(s"SELECT CAST(v AS ${dt.sql}) AS `$keyCol` " +
            s"FROM (SELECT explode(array($vals)) AS v)")
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] = {
          val s = SparkSession.active
          val keyCol = in.getUTF8String(1).toString
          val dt = t.meta.schema.fields.find(_.name == keyCol)
            .getOrElse(throw new IllegalArgumentException(
              s"no column $keyCol")).dataType
          val n = t.updateByKey(
            keysDf(s, dt, keyCol, in.getUTF8String(2).toString),
            Seq(keyCol), parseSets(in.getUTF8String(3).toString))
          Seq(row(n))
        }
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] = {
          val s = SparkSession.active
          val keyCol = in.getUTF8String(1).toString
          val ice = graft.table.iceberg.IcebergMetadata.load(loc)
          val dt = ice.schema.toSpark.fields.find(_.name == keyCol)
            .getOrElse(throw new IllegalArgumentException(
              s"no column $keyCol")).dataType
          val n = IcebergWrite.updateByKey(s, loc,
            keysDf(s, dt, keyCol, in.getUTF8String(2).toString),
            Seq(keyCol), parseSets(in.getUTF8String(3).toString))
          Seq(row(n))
        }
      },

      new GraftProcedure("rewrite_position_deletes",
        "Consolidate merge-on-read POSITION delete files into one " +
          "(distinct slots, dangling rows dropped) — metadata+delete-" +
          "scale, data files untouched; equality deletes unaffected",
        Array(TableParam),
        StructType(Seq(
          StructField("rewritten_delete_files", IntegerType),
          StructField("added_delete_files", IntegerType))),
        loadTable) {
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] = {
          val (before, after) = t.rewritePositionDeletes()
          Seq(row(if (after < before) before else 0,
            if (after < before) after else 0))
        }
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] = {
          val (before, after) = IcebergWrite.rewritePositionDeletes(
            SparkSession.active, loc)
          Seq(row(if (after < before) before else 0,
            if (after < before) after else 0))
        }
      },

      new GraftProcedure("rollback_to_snapshot",
        "Make an earlier snapshot current (reversible until expired)",
        Array(TableParam,
          ProcedureParameter.in("snapshot_id", LongType).build()),
        StructType(Seq(
          StructField("previous_snapshot_id", LongType),
          StructField("current_snapshot_id", LongType))),
        loadTable) {
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] = {
          val prev = t.meta.currentSnapshotId.getOrElse(-1L)
          val target = in.getLong(1)
          t.rollbackTo(target)
          Seq(row(prev, target))
        }
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] = {
          val prev = IcebergMetadata.load(loc).currentSnapshotId.getOrElse(-1L)
          val target = in.getLong(1)
          IcebergMaintenance.rollbackTo(loc, target)
          Seq(row(prev, target))
        }
      },

      new GraftProcedure("create_branch",
        "Create or repoint a branch at snapshot_id (NULL = current), " +
          "optionally with a SnapshotRetention policy honored by " +
          "expire_snapshots",
        Array(TableParam,
          ProcedureParameter.in("branch", StringType).build(),
          ProcedureParameter.in("snapshot_id", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build(),
          ProcedureParameter.in("min_snapshots_to_keep", IntegerType)
            .defaultValue("CAST(NULL AS INT)").build(),
          ProcedureParameter.in("max_snapshot_age_ms", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build(),
          ProcedureParameter.in("max_ref_age_ms", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build()),
        StructType(Seq(
          StructField("branch", StringType),
          StructField("snapshot_id", LongType))),
        loadTable) {
        private def opt[T](in: InternalRow, i: Int, get: Int => T)
            : Option[T] = if (in.isNullAt(i)) None else Some(get(i))
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] = {
          val snap =
            if (in.isNullAt(2)) t.meta.currentSnapshotId.getOrElse(
              throw new IllegalArgumentException("table has no snapshot"))
            else in.getLong(2)
          val branch = in.getUTF8String(1).toString
          t.setRef(branch, snap, Some(Meta.RefRetention("branch",
            maxRefAgeMs = opt(in, 5, in.getLong),
            minSnapshotsToKeep = opt(in, 3, in.getInt),
            maxSnapshotAgeMs = opt(in, 4, in.getLong))))
          Seq(row(utf8(branch), snap))
        }
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] = {
          val m = IcebergMetadata.load(loc)
          val snap =
            if (in.isNullAt(2)) m.currentSnapshotId.getOrElse(
              throw new IllegalArgumentException("table has no snapshot"))
            else in.getLong(2)
          val branch = in.getUTF8String(1).toString
          IcebergMaintenance.setRef(loc, branch, snap,
            retention = Some(IcebergMetadata.IceRefRetention(
              minSnapshotsToKeep = opt(in, 3, in.getInt),
              maxSnapshotAgeMs = opt(in, 4, in.getLong),
              maxRefAgeMs = opt(in, 5, in.getLong))))
          Seq(row(utf8(branch), snap))
        }
      },

      new GraftProcedure("analyze_table",
        "Compute approx per-column NDV (one distributed pass) and " +
          "persist as table stats for the cost-based optimizer",
        Array(TableParam,
          ProcedureParameter.in("columns", StringType)
            .defaultValue("''")
            .comment("comma-separated; empty = all simple columns").build()),
        StructType(Seq(
          StructField("column", StringType),
          StructField("ndv", LongType))),
        loadTable) {
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] = {
          val cols = in.getUTF8String(1).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          t.analyze(cols).toSeq.sortBy(_._1)
            .map { case (c, n) => row(utf8(c), n) }
        }
        // foreign tables: the same one-pass approx-NDV over the
        // real-format scan (results returned, not persisted — the
        // real format has no graft stats slot; Puffin is out of scope)
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] = {
          import org.apache.spark.sql.functions.{approx_count_distinct, col}
          val s = SparkSession.active
          val t = graft.table.iceberg.IcebergTable.load(s, loc)
          val asked = in.getUTF8String(1).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          val cols =
            if (asked.nonEmpty) asked
            else t.schema.fields.filter(_.dataType match {
              case _: ArrayType | _: MapType | _: StructType => false
              case _ => true
            }).map(_.name).toSeq
          val agg = t.scan()
            .select(cols.map(c => approx_count_distinct(col(c)).as(c)): _*)
            .collect()(0)
          cols.sorted.map(c => row(utf8(c), agg.getAs[Long](c)))
        }
      },

      new GraftProcedure("create_changelog_view",
        "Register a session temp view of the per-commit changes in " +
          "(start_snapshot_id, end_snapshot_id], rows tagged " +
          "_change_type/_commit_snapshot_id (Iceberg's " +
          "create_changelog_view shape)",
        Array(TableParam,
          ProcedureParameter.in("view_name", StringType).build(),
          ProcedureParameter.in("start_snapshot_id", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build(),
          ProcedureParameter.in("end_snapshot_id", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build()),
        StructType(Seq(
          StructField("view_name", StringType),
          StructField("change_count", LongType))),
        loadTable) {
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] = {
          val start = if (in.isNullAt(2)) None else Some(in.getLong(2))
          val end = if (in.isNullAt(3)) None else Some(in.getLong(3))
          val name = in.getUTF8String(1).toString
          val df = t.changesBetween(start, end)
          df.createOrReplaceTempView(name)
          Seq(row(utf8(name), df.count()))
        }
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] = {
          val start = if (in.isNullAt(2)) None else Some(in.getLong(2))
          val end = if (in.isNullAt(3)) None else Some(in.getLong(3))
          val name = in.getUTF8String(1).toString
          val df = IcebergTable.load(SparkSession.active, loc)
            .changesBetween(start, end)
          df.createOrReplaceTempView(name)
          Seq(row(utf8(name), df.count()))
        }
      },

      new GraftProcedure("cherrypick_snapshot",
        "Apply an append snapshot (e.g. staged on an audit branch) " +
          "onto main as a new commit — metadata-only",
        Array(TableParam,
          ProcedureParameter.in("snapshot_id", LongType).build()),
        StructType(Seq(
          StructField("source_snapshot_id", LongType),
          StructField("current_snapshot_id", LongType))),
        loadTable) {
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] = {
          val src = in.getLong(1)
          t.cherrypick(src)
          Seq(row(src, t.meta.currentSnapshotId.getOrElse(-1L)))
        }
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] = {
          val src = in.getLong(1)
          Seq(row(src, IcebergMaintenance.cherrypick(loc, src)))
        }
      },

      new GraftProcedure("fast_forward",
        "Fast-forward a branch to another ref's tip (the publish step " +
          "of write-audit-publish); refuses divergent moves",
        Array(TableParam,
          ProcedureParameter.in("branch", StringType).build(),
          ProcedureParameter.in("to", StringType).build()),
        StructType(Seq(
          StructField("previous_ref", LongType),
          StructField("updated_ref", LongType))),
        loadTable) {
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] = {
          val (prev, now) = t.fastForward(
            in.getUTF8String(1).toString, in.getUTF8String(2).toString)
          Seq(row(prev, now))
        }
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] = {
          val (prev, now) = IcebergMaintenance.fastForward(loc,
            in.getUTF8String(1).toString, in.getUTF8String(2).toString)
          Seq(row(prev, now))
        }
      },

      // sort-order evolution from SQL (spec/sort.rs; Spark-Iceberg's
      // ALTER TABLE ... WRITE ORDERED BY has no stock-Spark parse, so
      // the procedure form carries it): comma-separated columns, or
      // 'zorder(a,b)' for interleaved clustering. Future writes
      // cluster by the new order; rewrite_data_files re-clusters
      // existing files.
      new GraftProcedure("set_sort_order",
        "Set the table sort order (comma-separated columns or zorder(...)); " +
          "clusters future writes",
        Array(TableParam,
          ProcedureParameter.in("order", StringType).build()),
        StructType(Seq(
          StructField("sort_order", StringType))),
        loadTable) {
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] = {
          val raw = in.getUTF8String(1).toString.trim
          val entries =
            if (raw.toLowerCase(java.util.Locale.ROOT).startsWith("zorder"))
              Seq(raw)
            else raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          t.setSortOrder(entries)
          Seq(row(utf8(entries.mkString(", "))))
        }
        // foreign tables: the same sort-order evolution the REST
        // client commits, as a local metadata edit — IcebergWrite's
        // append/rewrite paths cluster by it (zorder has no spec form)
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] = {
          val raw = in.getUTF8String(1).toString.trim
          require(!raw.toLowerCase(java.util.Locale.ROOT).startsWith("zorder"),
            "zorder sort orders have no real-format Iceberg spec form")
          val cols = raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          IcebergMetadata.commitRetry(loc) { m =>
            val fields = cols.map { c =>
              val f = m.schema.fields.find(_.name == c).getOrElse(
                throw new IllegalArgumentException(s"no column $c"))
              IcebergMetadata.IceSortField(f.id, "identity", "asc", "nulls-first")
            }
            val orderId = m.sortOrders.map(_.orderId).maxOption.getOrElse(0) + 1
            m.copy(
              sortOrders = m.sortOrders :+
                IcebergMetadata.IceSortOrder(orderId, fields),
              defaultSortOrderId = orderId)
          }
          Seq(row(utf8(cols.mkString(", "))))
        }
      },

      new GraftProcedure("create_tag",
        "Pin a tag to snapshot_id (NULL = current); max_ref_age_ms " +
          "expires the tag itself at expire_snapshots time",
        Array(TableParam,
          ProcedureParameter.in("tag", StringType).build(),
          ProcedureParameter.in("snapshot_id", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build(),
          ProcedureParameter.in("max_ref_age_ms", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build()),
        StructType(Seq(
          StructField("tag", StringType),
          StructField("snapshot_id", LongType))),
        loadTable) {
        private def age(in: InternalRow): Option[Long] =
          if (in.isNullAt(3)) None else Some(in.getLong(3))
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] = {
          val snap =
            if (in.isNullAt(2)) t.meta.currentSnapshotId.getOrElse(
              throw new IllegalArgumentException("table has no snapshot"))
            else in.getLong(2)
          val tag = in.getUTF8String(1).toString
          t.setRef(tag, snap,
            Some(Meta.RefRetention("tag", maxRefAgeMs = age(in))))
          Seq(row(utf8(tag), snap))
        }
        override def foreignBody(loc: String, in: InternalRow): Seq[InternalRow] = {
          val m = IcebergMetadata.load(loc)
          val snap =
            if (in.isNullAt(2)) m.currentSnapshotId.getOrElse(
              throw new IllegalArgumentException("table has no snapshot"))
            else in.getLong(2)
          val tag = in.getUTF8String(1).toString
          IcebergMaintenance.setRef(loc, tag, snap, refType = "tag",
            retention = Some(IcebergMetadata.IceRefRetention(
              maxRefAgeMs = age(in))))
          Seq(row(utf8(tag), snap))
        }
      },

      // Multi-table atomic commit from SQL (reference:
      // catalog_api_api.rs:492 commit_transaction). The CALL fronts
      // the APPEND shape — publish N query results into N tables in
      // one all-or-nothing protocol commit; richer transactions
      // (property changes mixed in) use the Scala builder,
      // graft.table.iceberg.IcebergTransaction.
      new GraftProcedure("commit_transaction",
        "Atomically write multiple tables: 'appends' and 'overwrites' " +
          "are comma-separated ns.table=source lists, where source is " +
          "a table or temp view — its rows append into (or replace " +
          "the whole content of) ns.table. 'deletes' and 'upserts' " +
          "carry row-level deltas: ns.table=source:key1+key2, where " +
          "the source's rows are equality-delete key tuples (deletes) " +
          "or full replacement rows keyed on the listed columns " +
          "(upserts) — the multi-table GDPR shape. 'branch_appends' " +
          "('ns.t=src@audit') stage batches onto audit branches " +
          "(forked from main if absent, mains untouched) and " +
          "'fast_forwards' ('ns.t=main<audit') + 'drop_refs' " +
          "('ns.t=audit') publish them — multi-table " +
          "write-audit-publish for SQL users. Data files stage to " +
          "shared storage first; ONE commit_transaction publishes " +
          "every snapshot — all tables land or none do (REST catalogs " +
          "only). Overwrites never rebase: a rival commit on an " +
          "overwritten table fails the whole transaction. " +
          "Fast-forwards are ancestry-checked: a rival on the target " +
          "ref since the fork refuses the whole publish.",
        Array(
          ProcedureParameter.in("appends", StringType)
            .defaultValue("''")
            .comment("e.g. 'db.facts=staged_facts,db.dims=staged_dims'")
            .build(),
          ProcedureParameter.in("overwrites", StringType)
            .defaultValue("''")
            .comment("same syntax; each table's content is replaced")
            .build(),
          ProcedureParameter.in("deletes", StringType)
            .defaultValue("''")
            .comment("'ns.t=keys_view:user_id' — equality-delete the " +
              "key tuples from ns.t")
            .build(),
          ProcedureParameter.in("upserts", StringType)
            .defaultValue("''")
            .comment("'ns.t=rows_view:k' — MERGE-shape upsert keyed " +
              "on the listed columns")
            .build(),
          ProcedureParameter.in("branch_appends", StringType)
            .defaultValue("''")
            .comment("'ns.t=src@audit' — append onto a branch, forking " +
              "it from main first if absent; mains untouched (the " +
              "WRITE half of write-audit-publish)")
            .build(),
          ProcedureParameter.in("fast_forwards", StringType)
            .defaultValue("''")
            .comment("'ns.t=main<audit' — ancestry-checked fast-forward " +
              "(the PUBLISH half; a rival on the target ref since the " +
              "fork refuses the whole transaction)")
            .build(),
          ProcedureParameter.in("drop_refs", StringType)
            .defaultValue("''")
            .comment("'ns.t=audit' — drop a branch/tag after publish")
            .build()),
        StructType(Seq(
          StructField("table", StringType),
          StructField("snapshot_id", LongType))),
        loadTable) {
        private val out = StructType(Seq(
          StructField("table", StringType),
          StructField("snapshot_id", LongType)))
        private def parse(arg: String, what: String): Seq[(String, String, String)] =
          arg.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { e =>
            val halves = e.split("=", 2)
            require(halves.length == 2,
              s"$what entries are ns.table=source; got $e")
            val tp = halves(0).trim.split('.').toSeq
            require(tp.length == 2, s"$what entries are ns.table=source; got $e")
            (tp(0), tp(1), halves(1).trim)
          }
        // delta entries carry their key columns after ':' — split
        // them off the source spec
        private def keyed(e: (String, String, String), what: String)
            : (String, String, String, Seq[String]) = {
          val halves = e._3.split(":", 2)
          require(halves.length == 2 && halves(1).trim.nonEmpty,
            s"$what entries are ns.table=source:key1+key2; got " +
              s"${e._1}.${e._2}=${e._3}")
          (e._1, e._2, halves(0).trim,
            halves(1).split('+').map(_.trim).filter(_.nonEmpty).toSeq)
        }
        override def call(in: InternalRow): java.util.Iterator[Scan] = {
          val base = restBase.getOrElse(throw new UnsupportedOperationException(
            "CALL commit_transaction: multi-table atomic commits ride " +
              "the REST catalog protocol; this catalog has no 'uri'"))
          val spark = SparkSession.active
          def arg(i: Int): String =
            Option(in.getUTF8String(i)).map(_.toString).getOrElse("")
          val appends = parse(arg(0), "appends")
          val overwrites = parse(arg(1), "overwrites")
          val deletes = parse(arg(2), "deletes").map(keyed(_, "deletes"))
          val upserts = parse(arg(3), "upserts").map(keyed(_, "upserts"))
          // WAP halves: src@branch staging and to<from publishing
          val branchAppends = parse(arg(4), "branch_appends").map { e =>
            val halves = e._3.split("@", 2)
            require(halves.length == 2 && halves(0).trim.nonEmpty &&
                halves(1).trim.nonEmpty,
              s"branch_appends entries are ns.t=src@branch; got " +
                s"${e._1}.${e._2}=${e._3}")
            (e._1, e._2, halves(0).trim, halves(1).trim)
          }
          val fastForwards = parse(arg(5), "fast_forwards").map { e =>
            val halves = e._3.split("<", 2)
            require(halves.length == 2 && halves(0).trim.nonEmpty &&
                halves(1).trim.nonEmpty,
              s"fast_forwards entries are ns.t=toRef<fromRef; got " +
                s"${e._1}.${e._2}=${e._3}")
            (e._1, e._2, halves(0).trim, halves(1).trim)
          }
          val dropRefs = parse(arg(6), "drop_refs")
          require(appends.nonEmpty || overwrites.nonEmpty ||
              deletes.nonEmpty || upserts.nonEmpty ||
              branchAppends.nonEmpty || fastForwards.nonEmpty ||
              dropRefs.nonEmpty,
            "appends, overwrites, deletes, upserts, branch_appends, " +
              "fast_forwards, or drop_refs required")
          val tx = new graft.table.iceberg.IcebergTransaction(spark, base)
          appends.foreach { case (ns, t, src) =>
            tx.append(ns, t, spark.table(src))
          }
          overwrites.foreach { case (ns, t, src) =>
            tx.overwrite(ns, t, spark.table(src))
          }
          deletes.foreach { case (ns, t, src, keys) =>
            tx.deleteByKey(ns, t, spark.table(src), keys)
          }
          upserts.foreach { case (ns, t, src, keys) =>
            tx.upsertByKey(ns, t, spark.table(src), keys)
          }
          branchAppends.foreach { case (ns, t, src, branch) =>
            tx.forkRefIfAbsent(ns, t, branch)
            tx.append(ns, t, spark.table(src), toRef = branch)
          }
          fastForwards.foreach { case (ns, t, to, from) =>
            tx.fastForward(ns, t, to, from)
          }
          dropRefs.foreach { case (ns, t, ref) =>
            tx.dropSnapshotRef(ns, t, ref)
          }
          tx.commit()
          result(out, (appends ++ overwrites ++
              deletes.map(d => (d._1, d._2, d._3)) ++
              upserts.map(u => (u._1, u._2, u._3)) ++
              branchAppends.map(b => (b._1, b._2, b._3)) ++
              fastForwards.map(f => (f._1, f._2, f._3)) ++
              dropRefs)
            .map { case (ns, t, _) => (ns, t) }.distinct
            .map { case (ns, t) =>
              val root = graft.table.iceberg.IcebergRestClient
                .tableRootOf(base, ns, t).get
              row(utf8(s"$ns.$t"), IcebergMetadata.load(root)
                .currentSnapshotId.getOrElse(-1L))
            })
        }
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] =
          Seq.empty // unused: call() is overridden
      },

      // ---- materialized views as catalog objects (reference:
      // datafusion_iceberg/src/materialized_view.rs full refresh,
      // iceberg-rest-catalog create_materialized_view). Spark has no
      // CREATE MATERIALIZED VIEW syntax, so the lifecycle rides the
      // ProcedureCatalog: create_mat_view + refresh_mat_view; reads go
      // through the MV identifier (loadTable serves the storage
      // table) and staleness through <mv>.refresh_state.
      new GraftProcedure("create_mat_view",
        "Create a materialized view: stores the view SQL + an empty " +
          "storage table shaped like the query output. `sources` is a " +
          "comma-separated list of the catalog tables the SQL reads " +
          "(refresh lineage anchors). Optional incremental_fold SQL " +
          "over `mv_delta_union` enables incremental refresh for " +
          "temp-view-aliased sources.",
        Array(
          ProcedureParameter.in("view", StringType)
            .comment("view identifier, e.g. 'db.mv'").build(),
          ProcedureParameter.in("sql", StringType).build(),
          ProcedureParameter.in("sources", StringType)
            .comment("comma-separated source tables, e.g. 'db.t1,db.t2'")
            .build(),
          ProcedureParameter.in("incremental_fold", StringType)
            .defaultValue("''").build()),
        StructType(Seq(
          StructField("view", StringType),
          StructField("storage_location", StringType))),
        loadTable) {
        private val out = StructType(Seq(
          StructField("view", StringType),
          StructField("storage_location", StringType)))
        override def call(in: InternalRow): java.util.Iterator[Scan] = {
          val viewName = in.getUTF8String(0).toString
          val sql = in.getUTF8String(1).toString
          val srcNames = in.getUTF8String(2).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          val fold = Option(in.getUTF8String(3)).map(_.toString)
            .filter(_.nonEmpty)
          val storage = GraftMatViews.create(SparkSession.active,
            warehouse, restBase, viewName.split('.').toSeq, sql,
            srcNames, fold)
          result(out, Seq(row(utf8(viewName), utf8(storage))))
        }
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] =
          Seq.empty // unused: call() is overridden
      },

      new GraftProcedure("refresh_mat_view",
        "Refresh a materialized view: mode 'full' recomputes and " +
          "overwrites storage; 'auto'/'incremental' folds only " +
          "appended source data when valid (falls back to full). " +
          "Stamps refresh lineage — <mv>.refresh_state turns fresh.",
        Array(
          ProcedureParameter.in("view", StringType)
            .comment("view identifier, e.g. 'db.mv'").build(),
          ProcedureParameter.in("mode", StringType)
            .defaultValue("'auto'").build()),
        StructType(Seq(
          StructField("mode", StringType),
          StructField("row_count", LongType))),
        loadTable) {
        private val out = StructType(Seq(
          StructField("mode", StringType),
          StructField("row_count", LongType)))
        override def call(in: InternalRow): java.util.Iterator[Scan] = {
          val viewName = in.getUTF8String(0).toString
          val mode = in.getUTF8String(1).toString
          // the server names the storage table; its parent is the
          // view root on shared storage (refresh WRITES data, so
          // like data files it goes direct — only the definition
          // lives behind the protocol)
          val root = GraftMatViews.mvRoot(warehouse, restBase,
            viewName.split('.').toSeq)
          val (effective, n) = GraftMatViews.refresh(
            SparkSession.active, warehouse, restBase, root, mode)
          result(out, Seq(row(utf8(effective), n)))
        }
        override def body(t: GraftTable, in: InternalRow): Seq[InternalRow] =
          Seq.empty // unused: call() is overridden
      }
    )
    procs.map(p => p.procName -> (p: UnboundProcedure)).toMap
  }

  /** Split a SQL assignment list on TOP-LEVEL commas only — commas
    * inside string literals or parenthesized expressions belong to
    * the assignment ("v = concat(a, b), w = 'x,y'" is two). */
  private[graft] def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        cur += c
        if (c == '\\' && i + 1 < s.length) { // escaped char in literal
          cur += s.charAt(i + 1); i += 1
        } else if (c == quote) quote = 0
      } else c match {
        case '\'' | '"' | '`' => quote = c; cur += c
        case '(' | '[' => depth += 1; cur += c
        case ')' | ']' => depth -= 1; cur += c
        case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.result()
  }
}
