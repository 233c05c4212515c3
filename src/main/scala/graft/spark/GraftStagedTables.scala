package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable,
  SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.distributions.Distribution
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo,
  RequiresDistributionAndOrdering, Write, WriteBuilder}
import org.apache.spark.sql.types.StructType

import graft.table.{GraftTable, Meta, TableIO}

/** Atomic CTAS / RTAS — the staged-table halves of Spark's
  * StagingTableCatalog (reference: the REST create-table protocol's
  * stage-create flag, iceberg-rust/src/catalog/create.rs:59, which
  * exists for exactly this two-phase create-then-publish shape).
  *
  * CREATE TABLE AS SELECT builds the whole table at a dot-hidden
  * staging directory inside the namespace — invisible to listings and
  * name resolution — and `commitStagedChanges` renames it onto the
  * final path: the rename IS the publish, so a failed or aborted CTAS
  * leaves no half-written table and a concurrent creator loses cleanly.
  *
  * REPLACE TABLE [AS SELECT] keeps the table's identity and history,
  * on both formats: the executors stage the new rows under the live
  * root, and ONE metadata commit installs the new schema, spec,
  * properties, and a "replace" snapshot — readers see the old table or
  * the new one, never a mix, and pre-replace snapshots stay
  * time-travelable until expire_snapshots.
  *
  * Crash cleanup: replace staging dirs live under the table root as
  * `stage-rtas-*`, which remove_orphan_files already sweeps; create
  * staging dirs are namespace-level `.stage-<name>-*` and are removed
  * on commit or abort — after a hard JVM crash mid-CTAS,
  * `CALL cat.system.remove_orphan_staging('<ns>')` sweeps the stale
  * dir once it ages past the threshold (it is invisible to every
  * listing in the meantime, so leaking one costs only disk). */
class GraftStagedCreateTable(stagingRoot: String, finalPath: String,
    ident: Identifier, orReplace: Boolean)
  extends GraftSparkTable(stagingRoot, TableFormat.resolve(stagingRoot))
    with StagedTable {

  override def name(): String = ident.toString

  override def commitStagedChanges(): Unit = {
    val src = TableIO.path(stagingRoot)
    val dst = TableIO.path(finalPath)
    val taken = Meta.exists(finalPath) ||
      graft.table.iceberg.IcebergTable.exists(finalPath) ||
      graft.table.Views.viewExists(finalPath)
    if (taken) {
      if (!orReplace) {
        TableIO.delete(src, recursive = true)
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(ident)
      }
      // CREATE OR REPLACE racing an object that appeared after
      // staging: replace semantics — the existing object gives way.
      // When the late arrival is a graft TABLE, give way through
      // replaceTable's ONE metadata commit (readers see old content
      // or new, never a missing table, and its history stays
      // time-travelable); the rewrite re-stamps the staged rows with
      // field ids the incumbent has never used. Views and foreign
      // tables still give way by delete-then-rename — a cross-
      // dialect swap is not expressible as a metadata commit.
      if (TableFormat.resolve(finalPath).exists(_.isInstanceOf[TableFormat.GraftFormat])) {
        val spark = SparkSession.active
        val sm = Meta.load(stagingRoot)
        val df = spark.read.format("graft").load(stagingRoot)
        GraftTable.load(spark, finalPath)
          .replaceTableFromDf(df, sm.spec, sm.properties)
        TableIO.delete(src, recursive = true)
        return
      }
      TableIO.delete(dst, recursive = true)
    }
    try TableIO.rename(src, dst)
    catch {
      case _: java.io.IOException =>
        // the filesystem is the arbiter: a same-name creator that
        // landed between the check and the rename wins the name
        TableIO.delete(src, recursive = true)
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(ident)
    }
  }

  override def abortStagedChanges(): Unit =
    TableIO.delete(TableIO.path(stagingRoot), recursive = true)
}

/** Staged REPLACE on an existing table of either format: Spark writes
  * the new rows through this handle into a stage dir under the LIVE
  * root, laid out by the NEW spec and properties (the replacement
  * defines no sort order) and written with the NEW schema's field ids
  * (allocated above every retired id, so they land in the parquet
  * footers exactly as the post-replace schema resolves them). The inner
  * BatchWrite commit only finishes staging, `commitStagedChanges` swaps
  * the whole table state in one metadata commit — over a REST catalog
  * one protocol commit, CAS'd server-side — and `abortStagedChanges`
  * deletes the staged files, so a failure anywhere between the write
  * and the swap leaves the table as it was. A REPLACE TABLE without
  * AS SELECT never writes; the swap then installs empty content. */
class StagedReplaceTable(root: String, ident: Identifier,
    replacement: StagedReplacement)
  extends Table with StagedTable with SupportsWrite {

  private val staging = TableIO.path(root,
    s"stage-rtas-${java.util.UUID.randomUUID().toString.take(8)}")

  override def name(): String = ident.toString
  override def schema(): StructType = replacement.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      // a replace IS a truncate of the old content; the swap itself
      // happens in commitStagedChanges
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write
        with RequiresDistributionAndOrdering {
        override def requiredDistribution(): Distribution =
          replacement.layout.distribution
        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          replacement.layout.ordering
        override def toBatch: BatchWrite = new StagedBatchWrite(staging,
          replacement.writerFactory(info.schema(), _), replacement.stage)
      }
    }

  override def commitStagedChanges(): Unit = replacement.publish(staging)

  override def abortStagedChanges(): Unit = replacement.abort(staging)
}

/** REST staged create (the protocol's stage-create flag,
  * CreateTableRequest.stage_create — create.rs:59): the server built
  * the table's metadata at a dot-hidden staged location, so the table
  * does not exist in the catalog while Spark writes — local commits
  * land at the staged location (no commit route is registered for
  * it). commitStagedChanges publishes the staged table's WHOLE state
  * as one assert-create protocol commit: the server applies the
  * update list onto the shared empty skeleton and its v1 metadata CAS
  * arbitrates racing creators. Abort deletes the staged dir — nothing
  * was ever visible. */
class IcebergStagedCreateTable(stagedRoot: String, ident: Identifier,
    base: String, ns: String)
  extends GraftSparkTable(stagedRoot, TableFormat.resolve(stagedRoot))
    with StagedTable {

  override def name(): String = ident.toString

  override def commitStagedChanges(): Unit =
    if (!graft.table.iceberg.IcebergRestClient.commitStagedCreate(
        base, ns, ident.name(), stagedRoot)) {
      TableIO.delete(TableIO.path(stagedRoot), recursive = true)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    }

  override def abortStagedChanges(): Unit =
    TableIO.delete(TableIO.path(stagedRoot), recursive = true)
}

