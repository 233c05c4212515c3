package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.table.{Meta, TableIO}

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

  /** A procedure: fixed parameter list, fixed output schema, and the
    * rows one CALL returns. Binding is trivial — Spark aligns, coerces
    * and defaults the CALL arguments against `parameters()`, so `bind`
    * just returns the bound form. */
  abstract class CatalogProcedure(val procName: String,
      procDescription: String,
      params: Array[ProcedureParameter],
      outputSchema: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = procDescription
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      java.util.Collections.singletonList(
        ResultScan(outputSchema, rows(input).toArray): Scan).iterator()
    protected def rows(input: InternalRow): Seq[InternalRow]
  }

  /** A maintenance procedure over the table its first argument names.
    * The catalog resolves that name to the table's format handle — a
    * graft table or an adopted real-format Iceberg table, since the
    * catalog lists both and register_table / add_files invite foreign
    * tables in — and the one body runs through it, as the reference
    * applies one transaction surface to every table
    * (table/transaction/mod.rs:33-97). A refusal that depends on the
    * format comes from the handle. `params` follow `table`, so their
    * arguments start at index 1. */
  abstract class GraftProcedure(procName: String,
      procDescription: String,
      params: Array[ProcedureParameter],
      outputSchema: StructType,
      loadFormat: Identifier => TableFormat)
      extends CatalogProcedure(procName, procDescription,
        TableParam +: params, outputSchema) {
    protected final def rows(in: InternalRow): Seq[InternalRow] =
      body(loadFormat(identifier(in.getUTF8String(0).toString)), in)
    protected def body(format: TableFormat, in: InternalRow): Seq[InternalRow]
  }

  private val TableParam =
    ProcedureParameter.in("table", StringType)
      .comment("table identifier, e.g. 'db.t'").build()

  /** A dotted table name ('db.t', 'a.b.t') as a catalog identifier. */
  private def identifier(name: String): Identifier = {
    val parts = name.split('.')
    Identifier.of(parts.init, parts.last)
  }

  private def opt[T](in: InternalRow, i: Int, get: Int => T): Option[T] =
    if (in.isNullAt(i)) None else Some(get(i))

  /** `snapshot_id` at `i`, NULL meaning the current snapshot. */
  private def snapshotOrCurrent(format: TableFormat, in: InternalRow, i: Int): Long =
    opt(in, i, in.getLong).orElse(format.currentSnapshotId).getOrElse(
      throw new IllegalArgumentException("table has no snapshot"))

  private def commaList(s: String): Seq[String] =
    s.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  def all(catalog: GraftTableCatalog): Map[String, UnboundProcedure] = {
    import graft.table.iceberg.{IcebergMaintenance, IcebergMetadata,
      IcebergRestClient}
    def warehouse = catalog.warehouse
    def restBase = catalog.restBase
    val loadFormat: Identifier => TableFormat = catalog.loadFormat
    val procs = Seq[CatalogProcedure](

      // register_table (catalog/mod.rs:95): adopt an EXISTING table
      // living OUTSIDE the warehouse under a catalog name.
      // Metadata-only — a pointer file at the conventional path; DROP
      // deregisters without touching the external table.
      new CatalogProcedure("register_table",
        "Register an existing graft table at an external location " +
          "under a catalog name. Writes only a location pointer; the " +
          "table's data and metadata stay where they are. DROP TABLE " +
          "on a registered name removes only the registration.",
        Array(TableParam,
          ProcedureParameter.in("location", StringType)
            .comment("existing table root directory").build()),
        StructType(Seq(
          StructField("registered", StringType),
          StructField("current_snapshot_id", LongType)))) {
        protected def rows(in: InternalRow): Seq[InternalRow] = {
          val name = in.getUTF8String(0).toString
          val loc = in.getUTF8String(1).toString
          // graft AND real-format tables both register: the catalog's
          // loadTable follows the pointer and routes by format
          val format = TableFormat.resolve(loc).getOrElse(
            throw new IllegalArgumentException(s"no table metadata under $loc"))
          restBase match {
            // REST mode: the registration belongs to the SERVER — the
            // spec's POST /namespaces/{ns}/register imports the current
            // metadata file; data stays at the original location
            case Some(base) =>
              require(format.kind != "graft",
                "register_table over REST serves real-format tables " +
                  "(the protocol imports a metadata.json)")
              val ident = identifier(name)
              IcebergRestClient.registerTable(base,
                catalog.restNs(ident.namespace()), ident.name(),
                IcebergMetadata.currentMetadataFile(loc).toString)
            case None =>
              require(warehouse != null,
                "register_table needs a filesystem warehouse or a REST " +
                  "catalog server")
              val conv = (warehouse +: name.split('.').toSeq).mkString("/")
              val pointer = TableIO.path(
                conv + "/" + GraftTableCatalog.LocationPointer)
              require(!Meta.exists(conv) && !TableIO.exists(pointer),
                s"table $name already exists")
              TableIO.mkdirs(TableIO.path(conv))
              TableIO.writeString(pointer, loc)
          }
          Seq(row(utf8(loc), format.currentSnapshotId.getOrElse(-1L)))
        }
      },

      new GraftProcedure("expire_snapshots",
        "Expire history older than the newest keep_last snapshots; " +
          "older_than_ms additionally keeps everything younger than " +
          "the bound (ref retention policies override both)",
        Array(
          ProcedureParameter.in("keep_last", IntegerType)
            .defaultValue("1").build(),
          ProcedureParameter.in("older_than_ms", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build()),
        StructType(Seq(
          StructField("snapshots_before", IntegerType),
          StructField("snapshots_after", IntegerType))),
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] = {
          val (before, after) =
            format.expireSnapshots(in.getInt(1), opt(in, 2, in.getLong))
          Seq(row(before, after))
        }
      },

      new GraftProcedure("vacuum",
        "Delete unreferenced data/delete files older than older_than_ms",
        Array(
          ProcedureParameter.in("older_than_ms", LongType)
            .defaultValue("3600000").build()),
        StructType(Seq(StructField("removed_files", IntegerType))),
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] =
          Seq(row(format.vacuum(in.getLong(1))))
      },

      new GraftProcedure("remove_orphan_files",
        "List (dry_run) or delete unreferenced files and abandoned " +
          "staging dirs older than older_than_ms; prune_stream_props " +
          "also drops retired graft.streaming.epoch.* high-water " +
          "properties (queries with no stamped snapshot left in a " +
          "history spanning the window)",
        Array(
          ProcedureParameter.in("older_than_ms", LongType)
            .defaultValue("3600000").build(),
          ProcedureParameter.in("dry_run", BooleanType)
            .defaultValue("false").build(),
          ProcedureParameter.in("prune_stream_props", BooleanType)
            .defaultValue("false").build()),
        StructType(Seq(StructField("orphan_path", StringType))),
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] =
          format.removeOrphanFiles(in.getLong(1), in.getBoolean(2),
            pruneStreamProps = in.getBoolean(3))
            .map(p => row(utf8(p)))
      },

      // The one crash residue remove_orphan_files can't reach: a hard
      // JVM kill mid-CTAS leaves the staged table at a NAMESPACE-level
      // dot-hidden `.stage-<name>-*` dir (GraftStagedTables.scala /
      // the REST protocol's stage-create, create.rs:59) — invisible
      // to listings, owned by no table, so the sweep is scoped by
      // namespace rather than table.
      new CatalogProcedure("remove_orphan_staging",
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
        StructType(Seq(StructField("orphan_dir", StringType)))) {
        protected def rows(in: InternalRow): Seq[InternalRow] = {
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
              val roots0 = IcebergRestClient.listTables(base, ns)
                .flatMap(t => IcebergRestClient.tableRootOf(base, ns, t))
              val roots = roots0 ++ roots0.flatMap(r =>
                scala.util.Try(IcebergMetadata.load(r).location).toOption)
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
          IcebergMaintenance.sweepStagedDirs(
              nsDir, live, in.getLong(1), in.getBoolean(2))
            .map(p => row(utf8(p)))
        }
      },

      new GraftProcedure("add_files",
        "Import foreign parquet files under source_dir IN PLACE: no " +
          "copy, no rewrite — manifest entries with footer stats and " +
          "a pinned per-file name mapping (the files carry no field " +
          "ids). Identity-partitioned tables derive partition values " +
          "from Hive-style col=value directories.",
        Array(ProcedureParameter.in("source_dir", StringType).build()),
        StructType(Seq(
          StructField("added_files_count", LongType),
          StructField("added_rows_count", LongType))),
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] = {
          val (files, rows) = format.addFiles(in.getUTF8String(1).toString)
          Seq(row(files, rows))
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
        Array(
          ProcedureParameter.in("target_file_size_bytes", LongType)
            .defaultValue((128L * 1024 * 1024).toString).build(),
          ProcedureParameter.in("strategy", StringType)
            .defaultValue("'binpack'").build(),
          ProcedureParameter.in("sort_columns", StringType)
            .defaultValue("''").build()),
        StructType(Seq(
          StructField("rewritten_data_files", IntegerType),
          StructField("added_data_files", IntegerType))),
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] = {
          val (rewritten, added) = format.rewriteDataFiles(
            in.getUTF8String(2).toString,
            commaList(in.getUTF8String(3).toString), in.getLong(1))
          Seq(row(rewritten, added))
        }
      },

      new GraftProcedure("rewrite_manifests",
        "Re-spill fat single-file manifests into sorted multi-group " +
          "form (metadata-only; group-granular planning)",
        Array(),
        StructType(Seq(StructField("rewritten_manifests", IntegerType))),
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] =
          Seq(row(format.rewriteManifests()))
      },

      new GraftProcedure("rewrite_delete_files",
        "mode 'fold' (default): fold outstanding merge-on-read delete " +
          "files into the data files; mode 'convert': materialize " +
          "EQUALITY deletes as position-delete slots and drop the " +
          "equality files — data files untouched, scans stop paying " +
          "the per-row key-set probe",
        Array(
          ProcedureParameter.in("mode", StringType)
            .defaultValue("'fold'").build()),
        StructType(Seq(StructField("removed_delete_files", IntegerType))),
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] =
          in.getUTF8String(1).toString match {
            case "fold" => Seq(row(format.foldDeletes()))
            case "convert" => Seq(row(format.convertEqualityDeletes()))
            case m => throw new IllegalArgumentException(
              s"rewrite_delete_files: unknown mode '$m' (fold | convert)")
          }
      },

      new GraftProcedure("update_by_key",
        "Key-routed point UPDATE (the GDPR/user-record rewrite): ONE " +
          "snapshot = an equality delete of just the key values + data " +
          "files holding only the modified rows — commit IO O(matches), " +
          "candidate files never rewritten. key_values is a SQL literal " +
          "list (e.g. \"1, 2, 3\" or \"'a','b'\"), assignments a SQL " +
          "SET list (e.g. \"w = w * 2, v = 'x'\")",
        Array(
          ProcedureParameter.in("key_column", StringType).build(),
          ProcedureParameter.in("key_values", StringType).build(),
          ProcedureParameter.in("assignments", StringType).build()),
        StructType(Seq(StructField("updated_rows", LongType))),
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] = {
          val keyCol = in.getUTF8String(1).toString
          val dt = format.schemaAt(None).fields.find(_.name == keyCol)
            .getOrElse(throw new IllegalArgumentException(
              s"no column $keyCol")).dataType
          val keys = SparkSession.active.sql(
            s"SELECT CAST(v AS ${dt.sql}) AS `$keyCol` " +
              s"FROM (SELECT explode(array(${in.getUTF8String(2)})) AS v)")
          val sets = splitTopLevel(in.getUTF8String(3).toString).map { a =>
            val i = a.indexOf('=')
            require(i > 0, s"malformed assignment '$a' (want col = expr)")
            a.take(i).trim -> org.apache.spark.sql.functions.expr(a.drop(i + 1))
          }
          Seq(row(format.updateByKey(keys, Seq(keyCol), sets)))
        }
      },

      new GraftProcedure("rewrite_position_deletes",
        "Consolidate merge-on-read POSITION delete files into one " +
          "(distinct slots, dangling rows dropped) — metadata+delete-" +
          "scale, data files untouched; equality deletes unaffected",
        Array(),
        StructType(Seq(
          StructField("rewritten_delete_files", IntegerType),
          StructField("added_delete_files", IntegerType))),
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] = {
          val (before, after) = format.rewritePositionDeletes()
          Seq(if (after < before) row(before, after) else row(0, 0))
        }
      },

      new GraftProcedure("rollback_to_snapshot",
        "Make an earlier snapshot current (reversible until expired)",
        Array(ProcedureParameter.in("snapshot_id", LongType).build()),
        StructType(Seq(
          StructField("previous_snapshot_id", LongType),
          StructField("current_snapshot_id", LongType))),
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] = {
          val previous = format.currentSnapshotId.getOrElse(-1L)
          val target = in.getLong(1)
          format.rollbackTo(target)
          Seq(row(previous, target))
        }
      },

      new GraftProcedure("create_branch",
        "Create or repoint a branch at snapshot_id (NULL = current), " +
          "optionally with a SnapshotRetention policy honored by " +
          "expire_snapshots",
        Array(
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
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] = {
          val snap = snapshotOrCurrent(format, in, 2)
          val branch = in.getUTF8String(1).toString
          format.setRef(branch, snap, Meta.RefRetention("branch",
            maxRefAgeMs = opt(in, 5, in.getLong),
            minSnapshotsToKeep = opt(in, 3, in.getInt),
            maxSnapshotAgeMs = opt(in, 4, in.getLong)))
          Seq(row(utf8(branch), snap))
        }
      },

      new GraftProcedure("analyze_table",
        "Compute approx per-column NDV (one distributed pass) and " +
          "persist as table stats for the cost-based optimizer",
        Array(
          ProcedureParameter.in("columns", StringType)
            .defaultValue("''")
            .comment("comma-separated; empty = all simple columns").build()),
        StructType(Seq(
          StructField("column", StringType),
          StructField("ndv", LongType))),
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] =
          format.analyze(commaList(in.getUTF8String(1).toString))
            .sortBy(_._1).map { case (c, n) => row(utf8(c), n) }
      },

      new GraftProcedure("create_changelog_view",
        "Register a session temp view of the per-commit changes in " +
          "(start_snapshot_id, end_snapshot_id], rows tagged " +
          "_change_type/_commit_snapshot_id (Iceberg's " +
          "create_changelog_view shape)",
        Array(
          ProcedureParameter.in("view_name", StringType).build(),
          ProcedureParameter.in("start_snapshot_id", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build(),
          ProcedureParameter.in("end_snapshot_id", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build()),
        StructType(Seq(
          StructField("view_name", StringType),
          StructField("change_count", LongType))),
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] = {
          val name = in.getUTF8String(1).toString
          val df = format.changesBetween(opt(in, 2, in.getLong),
            opt(in, 3, in.getLong))
          df.createOrReplaceTempView(name)
          Seq(row(utf8(name), df.count()))
        }
      },

      new GraftProcedure("cherrypick_snapshot",
        "Apply an append snapshot (e.g. staged on an audit branch) " +
          "onto main as a new commit — metadata-only",
        Array(ProcedureParameter.in("snapshot_id", LongType).build()),
        StructType(Seq(
          StructField("source_snapshot_id", LongType),
          StructField("current_snapshot_id", LongType))),
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] = {
          val src = in.getLong(1)
          Seq(row(src, format.cherrypick(src)))
        }
      },

      new GraftProcedure("fast_forward",
        "Fast-forward a branch to another ref's tip (the publish step " +
          "of write-audit-publish); refuses divergent moves",
        Array(
          ProcedureParameter.in("branch", StringType).build(),
          ProcedureParameter.in("to", StringType).build()),
        StructType(Seq(
          StructField("previous_ref", LongType),
          StructField("updated_ref", LongType))),
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] = {
          val (prev, now) = format.fastForward(
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
        Array(ProcedureParameter.in("order", StringType).build()),
        StructType(Seq(
          StructField("sort_order", StringType))),
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] = {
          val raw = in.getUTF8String(1).toString.trim
          val entries =
            if (raw.toLowerCase(java.util.Locale.ROOT).startsWith("zorder"))
              Seq(raw)
            else commaList(raw)
          format.setSortOrder(entries)
          Seq(row(utf8(entries.mkString(", "))))
        }
      },

      new GraftProcedure("create_tag",
        "Pin a tag to snapshot_id (NULL = current); max_ref_age_ms " +
          "expires the tag itself at expire_snapshots time",
        Array(
          ProcedureParameter.in("tag", StringType).build(),
          ProcedureParameter.in("snapshot_id", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build(),
          ProcedureParameter.in("max_ref_age_ms", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build()),
        StructType(Seq(
          StructField("tag", StringType),
          StructField("snapshot_id", LongType))),
        loadFormat) {
        def body(format: TableFormat, in: InternalRow): Seq[InternalRow] = {
          val snap = snapshotOrCurrent(format, in, 2)
          val tag = in.getUTF8String(1).toString
          format.setRef(tag, snap,
            Meta.RefRetention("tag", maxRefAgeMs = opt(in, 3, in.getLong)))
          Seq(row(utf8(tag), snap))
        }
      },

      // Multi-table atomic commit from SQL (reference:
      // catalog_api_api.rs:492 commit_transaction). The CALL fronts
      // the APPEND shape — publish N query results into N tables in
      // one all-or-nothing protocol commit; richer transactions
      // (property changes mixed in) use the Scala builder,
      // graft.table.iceberg.IcebergTransaction.
      new CatalogProcedure("commit_transaction",
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
          StructField("snapshot_id", LongType)))) {
        // ns.table=source; a nested namespace's levels join with the
        // unit separator the REST client encodes (a.b.t -> "a\u001Fb", t)
        private def parse(arg: String, what: String): Seq[(String, String, String)] =
          commaList(arg).map { e =>
            val halves = e.split("=", 2)
            val id = halves(0).trim
            val dot = id.lastIndexOf('.')
            require(halves.length == 2 && dot > 0 && dot < id.length - 1,
              s"$what entries are ns.table=source; got $e")
            (id.take(dot).split('.').mkString("\u001F"), id.drop(dot + 1),
              halves(1).trim)
          }
        private def label(ns: String, t: String) = s"${ns.replace('\u001F', '.')}.$t"
        // delta entries carry their key columns after ':' — split
        // them off the source spec
        private def keyed(e: (String, String, String), what: String)
            : (String, String, String, Seq[String]) = {
          val halves = e._3.split(":", 2)
          require(halves.length == 2 && halves(1).trim.nonEmpty,
            s"$what entries are ns.table=source:key1+key2; got " +
              s"${label(e._1, e._2)}=${e._3}")
          (e._1, e._2, halves(0).trim,
            halves(1).split('+').map(_.trim).filter(_.nonEmpty).toSeq)
        }
        protected def rows(in: InternalRow): Seq[InternalRow] = {
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
                s"${label(e._1, e._2)}=${e._3}")
            (e._1, e._2, halves(0).trim, halves(1).trim)
          }
          val fastForwards = parse(arg(5), "fast_forwards").map { e =>
            val halves = e._3.split("<", 2)
            require(halves.length == 2 && halves(0).trim.nonEmpty &&
                halves(1).trim.nonEmpty,
              s"fast_forwards entries are ns.t=toRef<fromRef; got " +
                s"${label(e._1, e._2)}=${e._3}")
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
          val committed = tx.commit()
          (appends ++ overwrites ++
              deletes.map(d => (d._1, d._2, d._3)) ++
              upserts.map(u => (u._1, u._2, u._3)) ++
              branchAppends.map(b => (b._1, b._2, b._3)) ++
              fastForwards.map(f => (f._1, f._2, f._3)) ++
              dropRefs)
            .map { case (ns, t, _) => (ns, t) }.distinct
            .map { case (ns, t) =>
              row(utf8(label(ns, t)),
                committed((ns, t)).currentSnapshotId.getOrElse(-1L))
            }
        }
      },

      // ---- materialized views as catalog objects (reference:
      // datafusion_iceberg/src/materialized_view.rs full refresh,
      // iceberg-rest-catalog create_materialized_view). Spark has no
      // CREATE MATERIALIZED VIEW syntax, so the lifecycle rides the
      // ProcedureCatalog: create_mat_view + refresh_mat_view; reads go
      // through the MV identifier (loadTable serves the storage
      // table) and staleness through <mv>.refresh_state.
      new CatalogProcedure("create_mat_view",
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
          StructField("storage_location", StringType)))) {
        protected def rows(in: InternalRow): Seq[InternalRow] = {
          val viewName = in.getUTF8String(0).toString
          val sql = in.getUTF8String(1).toString
          val srcNames = commaList(in.getUTF8String(2).toString)
          val fold = Option(in.getUTF8String(3)).map(_.toString)
            .filter(_.nonEmpty)
          val storage = GraftMatViews.create(SparkSession.active,
            warehouse, restBase, viewName.split('.').toSeq, sql,
            srcNames, fold)
          Seq(row(utf8(viewName), utf8(storage)))
        }
      },

      new CatalogProcedure("refresh_mat_view",
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
          StructField("row_count", LongType)))) {
        protected def rows(in: InternalRow): Seq[InternalRow] = {
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
          Seq(row(utf8(effective), n))
        }
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
