package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable,
  SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.distributions.Distribution
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo,
  RequiresDistributionAndOrdering, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.GraftConnectorShim
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
  * REPLACE TABLE [AS SELECT] keeps the table's identity and history:
  * the staged output lands under the live root unreferenced, and ONE
  * metadata commit (GraftTable.replaceTable) installs the new schema,
  * spec, properties, and a "replace" snapshot — readers see the old
  * table or the new one, never a mix, and pre-replace snapshots stay
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
  extends GraftSparkTable(stagingRoot) with StagedTable {

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
      if (Meta.exists(finalPath) && Meta.isGraftDialect(finalPath)) {
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

/** Staged REPLACE on an existing graft table: Spark writes the new
  * rows through this handle into a stage dir under the LIVE root
  * (written with the NEW schema's field ids — allocated above every
  * retired id, so they land in the parquet footers exactly as the
  * post-replace schema resolves them); the inner BatchWrite commit
  * only finishes staging, and `commitStagedChanges` swaps the whole
  * table state in one metadata commit. */
class GraftStagedReplaceTable(root: String, ident: Identifier,
    schemaWithIds: StructType, spec: Seq[Meta.PartitionField],
    props: Map[String, String], baseMaxFieldId: Int)
  extends Table with StagedTable with SupportsWrite {

  private val staging = TableIO.path(root,
    s"stage-rtas-${java.util.UUID.randomUUID().toString.take(8)}")

  override def name(): String = ident.toString
  override def schema(): StructType = schemaWithIds
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
        // laid out by the NEW spec and properties (the replacement
        // defines no sort order)
        private val layout = GraftWriteLayout(spec, Seq.empty, props)
        override def requiredDistribution(): Distribution = layout.distribution
        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          layout.ordering
        override def toBatch: BatchWrite = new StagedBatchWrite(staging,
          GraftWriterFactory(_, GraftConnectorShim.prepareParquetWriteConf(
              SparkSession.active, schemaWithIds),
            RowTransform.forSpec(spec, schemaWithIds)),
          _ => ()) // staging only — the swap is commitStagedChanges
      }
    }

  override def commitStagedChanges(): Unit =
    GraftTable.load(SparkSession.active, root)
      .replaceTable(staging, schemaWithIds, spec, props, baseMaxFieldId)

  override def abortStagedChanges(): Unit =
    TableIO.delete(staging, recursive = true)
}

/** Staged REPLACE on a REAL-format Iceberg table (adopted warehouse
  * tables and every REST-catalog table): the V1Write bridge STAGES
  * the planned DataFrame's content — data files land in data/
  * unreferenced, invisible to every reader — and only
  * `commitStagedChanges` publishes schema + spec + properties +
  * 'replace' snapshot in ONE metadata commit; over a REST catalog
  * that commit rides the update-table protocol, so the swap is CAS'd
  * server-side too. A failure anywhere between the write and the
  * staged commit therefore rolls back: `abortStagedChanges` deletes
  * the staged files and no protocol commit was ever issued. A
  * REPLACE TABLE without AS SELECT never writes;
  * commitStagedChanges then runs the same commit with empty
  * content. */
class IcebergStagedReplaceTable(location: String, ident: Identifier,
    newSchema: StructType, partitions: Seq[(String, String)],
    props: Map[String, String])
  extends Table with StagedTable with SupportsWrite {

  @volatile private var staged
      : Option[graft.table.iceberg.IcebergWrite.StagedReplace] = None

  override def name(): String = ident.toString
  override def schema(): StructType = newSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
              staged = Some(graft.table.iceberg.IcebergWrite
                .stageReplaceTable(
                  data.sparkSession, location, data, partitions, props))
            }
        }
    }

  override def commitStagedChanges(): Unit = staged match {
    case Some(s) => s.commit()
    case None =>
      val spark = SparkSession.active
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], newSchema)
      graft.table.iceberg.IcebergWrite.replaceTable(
        spark, location, empty, partitions, props)
  }

  override def abortStagedChanges(): Unit = staged.foreach(_.abort())
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
  extends IcebergSparkTable(stagedRoot) with StagedTable {

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

