package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.table.{GraftTable, Meta, Views}
import java.nio.file.Files

/** Table-format operators (SURVEY.md §2.C) exposed as driver-checkable
  * queries: each builds a scratch GraftTable from the test data, runs
  * the table operation, and returns the resulting state as a
  * DataFrame whose content is expressible (where possible) as plain
  * SQL over the original tables — so the DuckDB oracle validates the
  * whole write→snapshot→scan path end to end.
  */
object TableOps {
  type Q = (SparkSession, String) => DataFrame

  private def scratch(): String =
    Files.createTempDirectory("graft-tf").toString + "/t"

  private def ts(s: String) = to_timestamp(lit(s))

  /** create → append → scan: the round-trip must be invisible to the
    * aggregation downstream. */
  val tfSnapshotScan: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val t = GraftTable.create(s, scratch(), li.schema)
    t.append(li)
    t.scan()
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
      .orderBy(col("l_returnflag"))
  }

  val tfSnapshotScanSql: String =
    """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity),2) AS qty
       FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""

  /** two appends → read @snapshot1 vs @latest. */
  val tfTimeTravel: Q = (s, d) => {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val t = GraftTable.create(s, scratch(), li.schema)
    // NOT spread (round-18 re-test with the keyed/no-sort variant):
    // the shuffle MAP stage (scan+filter+hash-write, ~0.5 s) costs as
    // much as the serial parquet encode it would parallelize — unlike
    // the CSV-encode case, where the encode dwarfs the shuffle
    t.append(li.filter(year(col("l_shipdate")) < 1997))
    val s1 = t.meta.currentSnapshotId.get
    t.append(li.filter(year(col("l_shipdate")) >= 1997))
    Seq(("latest", t.scan().count()), ("s1", t.timeTravel(s1).count()))
      .toDF("label", "n_rows").orderBy(col("label"))
  }

  val tfTimeTravelSql: String =
    """SELECT * FROM (
         SELECT 'latest' AS label, count(*) AS n_rows FROM lineitem
         UNION ALL
         SELECT 's1', count(*) FROM lineitem WHERE year(l_shipdate) < 1997)
       ORDER BY label"""

  /** manifest stats pruning: files planned for a high-key predicate out
    * of a range-partitioned write (rows-only; TableSpec asserts the
    * skip). */
  val tfFilesPruned: Q = (s, d) => {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val t = GraftTable.create(s, scratch(), li.schema)
    t.append(li.repartitionByRange(8, col("l_orderkey")))
    val maxKey = li.agg(max("l_orderkey")).collect()(0).getLong(0)
    val cut = (maxKey * 9 / 10).toString
    val total = t.plannedFiles(Seq.empty).size.toLong
    val planned = t.plannedFiles(Seq(t.StatFilter("l_orderkey", ">", cut))).size.toLong
    val rows = t.scan(Seq(t.StatFilter("l_orderkey", ">", cut)))
      .filter(col("l_orderkey") > cut.toLong).count()
    // planned-file count is range-boundary-dependent; the oracle-stable
    // facts are the total, that pruning skipped files, and row exactness
    Seq((total, planned < total, rows))
      .toDF("n_files_total", "pruned_some", "n_rows")
  }

  val tfFilesPrunedSql: String =
    """SELECT 8::BIGINT AS n_files_total, true AS pruned_some,
       count(*) AS n_rows FROM lineitem
       WHERE l_orderkey > (SELECT (max(l_orderkey)*9)//10 FROM lineitem)"""

  /** partitioned write (month transform) + partition-pruned scan. */
  val tfPartitionScan: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val t = GraftTable.create(s, scratch(), o.schema,
      spec = Seq(Meta.PartitionField("o_orderdate", "month", "_p_month")))
    t.append(o)
    // months-from-epoch for 1996: [312, 323]
    t.scan(Seq(t.StatFilter("_p_month", ">=", "312"),
        t.StatFilter("_p_month", "<=", "323")))
      .filter(year(col("o_orderdate")) === 1996)
      .groupBy(graft.functions.IcebergTransforms
        .monthsFromEpoch(col("o_orderdate")).as("m_1970"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("m_1970"))
  }

  val tfPartitionScanSql: String =
    """SELECT ((year(o_orderdate)-1970)*12 + month(o_orderdate)-1)::int AS m_1970,
       count(*) AS n FROM orders WHERE year(o_orderdate) = 1996
       GROUP BY 1 ORDER BY m_1970"""

  /** Partition-spec EVOLUTION (transaction/mod.rs:47 set_default_spec;
    * iceberg-rust-spec partition.rs spec list): write one era under
    * year(o_orderdate), evolve the live table's default spec to
    * month(o_orderdate) (the volume-grew re-partition), write a second
    * era — then a pruned scan spans both, each file's partitionValues
    * resolved through the spec that WROTE it (per-file spec-id).
    * Filters on both eras' partition fields are passed; a file lacking
    * a field keeps (sound), so the year-era files prune by _p_year and
    * the month-era by _p_month. */
  val tfSpecEvolution: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val t = GraftTable.create(s, scratch(), o.schema,
      spec = Seq(Meta.PartitionField("o_orderdate", "year", "_p_year")))
    t.append(o.filter(col("o_orderkey") % 2 === 0))
    t.setDefaultSpec(Seq(Meta.PartitionField("o_orderdate", "month", "_p_month")))
    t.append(o.filter(col("o_orderkey") % 2 =!= 0))
    // 1996 window: years-from-epoch 26, months-from-epoch [312,323]
    t.scan(Seq(
        t.StatFilter("_p_year", ">=", "26"), t.StatFilter("_p_year", "<=", "26"),
        t.StatFilter("_p_month", ">=", "312"), t.StatFilter("_p_month", "<=", "323")))
      .filter(year(col("o_orderdate")) === 1996)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")).cast("decimal(38,10)"), 2)
          .cast("double").as("total"))
      .orderBy(col("o_orderstatus"))
  }

  val tfSpecEvolutionSql: String =
    """SELECT o_orderstatus, count(*) AS n,
       round(sum(o_totalprice)::DECIMAL(38,10),2)::DOUBLE AS total
       FROM orders WHERE year(o_orderdate) = 1996
       GROUP BY 1 ORDER BY o_orderstatus"""

  /** In-place import (Iceberg's add_files): foreign hive-partitioned
    * id-less parquet becomes table files with NO copy — manifest
    * entries with footer stats and a pinned per-file name mapping.
    * The scan mixes imported and native files and fills the
    * hive-stripped identity source back from the directory constants,
    * so the aggregate over the mixed table must equal the flat
    * source. */
  val tfAddFiles: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val src = Files.createTempDirectory("graft-tf-import").toString + "/src"
    o.filter(col("o_orderkey") % 2 === 0)
      .write.partitionBy("o_orderstatus").parquet(src)
    val written = s.read.parquet(src).schema // partition column last
    val t = GraftTable.create(s, scratch(),
      StructType(written.fields.map(_.copy(nullable = true))),
      spec = Seq(Meta.PartitionField("o_orderstatus", "identity", "_p_st")))
    t.append(o.filter(col("o_orderkey") % 2 =!= 0)
      .select(written.fieldNames.map(col).toIndexedSeq: _*))
    t.addFiles(src)
    t.scan()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")).cast("decimal(38,10)"), 2)
          .cast("double").as("total"))
      .orderBy(col("o_orderstatus"))
  }

  val tfAddFilesSql: String =
    """SELECT o_orderstatus, count(*) AS n,
       round(sum(o_totalprice)::DECIMAL(38,10),2)::DOUBLE AS total
       FROM orders GROUP BY 1 ORDER BY o_orderstatus"""

  /** NESTED-type round-trip: per-order line items nested into an
    * array-of-structs column, written through the table, un-nested on
    * scan — the aggregate must equal the flat source (types.rs nested
    * types as a first-class table column). */
  val tfNestedRoundtrip: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val nested = li.groupBy(col("l_orderkey"))
      .agg(collect_list(struct(col("l_linenumber").as("ln"),
        col("l_quantity").as("qty"))).as("lines"))
    val t = GraftTable.create(s, scratch(), nested.schema)
    t.append(nested)
    t.scan()
      .select(explode(col("lines")).as("l"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l.qty")).cast("decimal(38,10)"), 2)
          .cast("double").as("total_qty"))
  }

  val tfNestedRoundtripSql: String =
    """SELECT count(*) AS n,
       round(sum(l_quantity)::DECIMAL(38,10),2)::DOUBLE AS total_qty
       FROM lineitem"""

  /** bin-pack rewrite: 40 small files → few, rows identical
    * (rows-only; content hash asserted in TableSpec). */
  val tfCompaction: Q = (s, d) => {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val t = GraftTable.create(s, scratch(), li.schema)
    // hash-partitioned 40-way split: same 40-small-files fixture, but
    // a KEYLESS repartition pays a local sort of the input first
    // (SPARK-23207) — measured at ~0.4 s of this key's append
    t.append(li.repartition(40, col("l_orderkey")))
    def liveFiles = t.meta.liveFiles(None).size.toLong
    val before = (liveFiles, t.scan().count())
    t.compact(targetFileBytes = 512L * 1024 * 1024)
    val after = (liveFiles, t.scan().count())
    Seq(("before", before._1, before._2), ("after", after._1, after._2))
      .toDF("phase", "n_files", "n_rows").orderBy(col("phase"))
  }

  /** Oracle for the compaction contract itself: 40 round-robin files
    * in, one ≥-target bin out, rows preserved exactly. */
  val tfCompactionSql: String =
    """SELECT 'after' AS phase, 1::BIGINT AS n_files, count(*) AS n_rows FROM lineitem
       UNION ALL
       SELECT 'before', 40::BIGINT, count(*) FROM lineitem
       ORDER BY phase"""

  /** branch (snapshot ref) isolation: dev and main advance
    * independently from a shared base. */
  val tfBranchScan: Q = (s, d) => {
    import s.implicits._
    val o = Tables.orders(s, d)
    val t = GraftTable.create(s, scratch(), o.schema)
    t.append(o.filter(col("o_orderkey") % 3 === 0))
    t.setRef("dev", t.meta.currentSnapshotId.get)
    t.append(o.filter(col("o_orderkey") % 3 === 1), branch = "dev")
    t.append(o.filter(col("o_orderkey") % 3 === 2)) // main only
    Seq(("dev", t.scan(branch = Some("dev")).count()),
      ("main", t.scan().count()))
      .toDF("branch", "n_rows").orderBy(col("branch"))
  }

  val tfBranchScanSql: String =
    """SELECT * FROM (
         SELECT 'dev' AS branch, count(*) AS n_rows FROM orders
           WHERE o_orderkey % 3 IN (0, 1)
         UNION ALL
         SELECT 'main', count(*) FROM orders WHERE o_orderkey % 3 IN (0, 2))
       ORDER BY branch"""

  /** add-column evolution: old files null-fill, new files carry data. */
  val tfSchemaEvolution: Q = (s, d) => {
    import s.implicits._
    val o = Tables.orders(s, d)
    val t = GraftTable.create(s, scratch(), o.schema)
    t.append(o.filter(col("o_orderstatus") === "F"))
    t.addColumns(StructType(Seq(StructField("priority_rank", IntegerType))))
    t.append(o.filter(col("o_orderstatus") =!= "F")
      .withColumn("priority_rank", substring(col("o_orderpriority"), 1, 1).cast("int")))
    val df = t.scan()
    df.agg(
      count(lit(1)).as("n_total"),
      sum(when(col("priority_rank").isNull, 1).otherwise(0)).as("n_null"),
      coalesce(sum(col("priority_rank")), lit(0L)).as("rank_sum"))
  }

  val tfSchemaEvolutionSql: String =
    """SELECT count(*) AS n_total,
       sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_null,
       sum(CASE WHEN o_orderstatus <> 'F'
           THEN CAST(substring(o_orderpriority,1,1) AS int) ELSE 0 END)::BIGINT AS rank_sum
       FROM orders"""

  /** MERGE upsert: update half the keys, insert fresh ones, verify the
    * final table state against the equivalent CASE expression. */
  val tfMergeUpsert: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val t = GraftTable.create(s, scratch(), o.schema)
    t.append(o.filter(col("o_orderkey") % 3 === 0))
    val source = o.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(o.filter(col("o_orderkey") % 3 === 1))
    t.merge(source, keyCols = Seq("o_orderkey"),
      updateCols = Seq("o_totalprice"))
    t.scan().agg(
      count(lit(1)).as("n"),
      round(sum(col("o_totalprice")), 2).as("total"))
  }

  val tfMergeUpsertSql: String =
    """SELECT count(*) AS n,
       round(sum(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                 ELSE o_totalprice END),2) AS total
       FROM orders WHERE o_orderkey % 3 IN (0, 1)"""

  /** copy-on-write DELETE WHERE, stats-targeted. */
  val tfDeleteWhere: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val t = GraftTable.create(s, scratch(), o.schema)
    t.append(o)
    t.delete(col("o_orderstatus") === "F",
      touched = Seq(t.StatFilter("o_orderstatus", "=", "F")))
    t.scan()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  val tfDeleteWhereSql: String =
    """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice),2) AS total
       FROM orders WHERE o_orderstatus <> 'F'
       GROUP BY 1 ORDER BY o_orderstatus"""

  /** SQL view over a GraftTable, resolved at query time. */
  val tfView: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val root = scratch()
    val t = GraftTable.create(s, root, o.schema)
    t.append(o)
    Views.createView(root + "-v", "prio_counts",
      """SELECT o_orderpriority, count(*) AS n,
         round(avg(o_totalprice),2) AS avg_price
         FROM ord GROUP BY 1 ORDER BY o_orderpriority""",
      Map("ord" -> root))
    Views.queryView(s, root + "-v")
  }

  val tfViewSql: String =
    """SELECT o_orderpriority, count(*) AS n,
       round(avg(o_totalprice),2) AS avg_price
       FROM orders GROUP BY 1 ORDER BY o_orderpriority"""

  /** materialized view: stale after source append, refresh catches up
    * (lineage-stamped full refresh; staleness asserted in TableSpec). */
  val tfMatViewRefresh: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val root = scratch()
    val t = GraftTable.create(s, root, o.schema)
    t.append(o.filter(col("o_orderkey") % 2 === 0))
    val mv = Views.createMaterializedView(s, root + "-mv", "status_counts",
      "SELECT o_orderstatus, count(*) AS n FROM ord GROUP BY 1",
      Map("ord" -> root))
    mv.refresh()
    t.append(o.filter(col("o_orderkey") % 2 === 1))
    val stale = mv.isFresh // false: lineage behind
    mv.refresh()
    mv.read.orderBy(col("o_orderstatus"))
  }

  val tfMatViewRefreshSql: String =
    """SELECT o_orderstatus, count(*) AS n FROM orders
       GROUP BY 1 ORDER BY o_orderstatus"""

  /** merge-on-read DELETE: equality-delete file + scan-time anti-join,
    * then applyDeletes folds them into rewritten data — both read
    * paths must agree with the SQL predicate. */
  val tfDeleteMor: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val t = GraftTable.create(s, scratch(), o.schema)
    t.append(o)
    t.deleteWhereMoR(col("o_orderpriority") === "5-LOW", Seq("o_orderkey"))
    val morCount = t.scan().count() // anti-join path
    t.applyDeletes()                // fold-in path
    t.scan()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .withColumn("mor_n", lit(morCount))
      .orderBy(col("o_orderstatus"))
  }

  val tfDeleteMorSql: String =
    """SELECT o_orderstatus, count(*) AS n,
       (SELECT count(*) FROM orders WHERE o_orderpriority <> '5-LOW') AS mor_n
       FROM orders WHERE o_orderpriority <> '5-LOW'
       GROUP BY 1 ORDER BY o_orderstatus"""

  /** Merge-on-read POSITIONAL delete (Iceberg v2 position deletes):
    * row slots (file, row-index) of the matching rows are recorded in
    * a delete file and dropped at scan via an anti-join on the parquet
    * `_metadata` columns — O(matches) write cost for any predicate,
    * no key column required. Then a value is re-appended: position
    * deletes must never touch the new file. */
  val tfDeletePos: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val t = GraftTable.create(s, scratch(), o.schema)
    t.append(o)
    t.deleteWhereMoRPositional(
      col("o_orderstatus") === "O" && col("o_totalprice") < 50000)
    t.append(o.filter(col("o_orderstatus") === "O" &&
      col("o_totalprice") < 50000).limit(7))
    t.scan()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))
  }

  val tfDeletePosSql: String =
    """SELECT o_orderstatus,
       (count(*) FILTER (WHERE NOT (o_orderstatus = 'O' AND o_totalprice < 50000))
        + CASE WHEN o_orderstatus = 'O' THEN LEAST(7,
            count(*) FILTER (WHERE o_orderstatus = 'O' AND o_totalprice < 50000))
          ELSE 0 END)::BIGINT AS n
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** metadata tables: the catalog's `files` and `snapshots` tables
    * over a warehouse table, read with SQL (rows-only; file counts are
    * layout-dependent but the row-count sum must equal the data). */
  val tfMetadataTables: Q = (s, d) => {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    // catalog names are session-cached by NAME, so each run gets a
    // fresh one over a fresh warehouse
    val wh = Files.createTempDirectory("graft-metawh").toString
    val cat = s"wmeta_${java.util.UUID.randomUUID().toString.take(8)}"
    val t = GraftTable.create(s, s"$wh/db/t", li.schema)
    // one file per append regardless of the INPUT's partition count,
    // so n_files is scale-invariant (at sf1 the raw read plans several
    // splits and an uncoalesced append writes one file per task).
    // Tables.oneFile picks coalesce(1) vs a 1-partition hash exchange
    // by input size; the query's outputs are counts, order-independent
    t.append(Tables.oneFile(s, li.filter(col("l_linenumber") <= 3),
      col("l_orderkey")))
    t.append(Tables.oneFile(s, li.filter(col("l_linenumber") > 3),
      col("l_orderkey")))
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val files = s.sql(s"SELECT count(*), sum(records) FROM $cat.db.t.files")
        .collect()(0)
      val snaps = s.sql(s"SELECT count(*) FROM $cat.db.t.snapshots")
        .collect()(0).getLong(0)
      Seq((files.getLong(0), files.getLong(1), snaps, t.scan().count()))
        .toDF("n_files", "n_records", "n_snapshots", "n_rows")
    } finally {
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  /** Coalesced single-partition appends → one file per append; record
    * sums must equal the table rows exactly. */
  val tfMetadataTablesSql: String =
    """SELECT 2::BIGINT AS n_files, count(*) AS n_records,
       2::BIGINT AS n_snapshots, count(*) AS n_rows FROM lineitem"""

  /** Binary Iceberg v2 interop: write a REAL-format table (avro
    * manifests + manifest list + metadata.json), read it back through
    * the interop reader with manifest-bounds pruning, aggregate. The
    * oracle is the same aggregation over the raw source — so the
    * round-trip through the standard format is what's validated. */
  val tfIcebergRead: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val loc = scratch()
    graft.table.iceberg.IcebergWrite.create(
      s, loc, o.filter(col("o_orderkey") % 2 === 0))
    graft.table.iceberg.IcebergWrite.append(
      s, loc, o.filter(col("o_orderkey") % 2 =!= 0))
    val t = graft.table.iceberg.IcebergTable.load(s, loc)
    t.scan(None, Seq(("o_totalprice", ">", "50000.0")))
      .filter(col("o_totalprice") > 50000.0)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).cast("double").as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** Foreign real-format Iceberg through the `format("graft")` DIRECT
    * path (no catalog): both formats share the version-hint layout, so
    * the provider sniffs the metadata dialect and routes real tables
    * to the binary interop reader. Locks the routing seam — a regression
    * here feeds real metadata.json into graft's own parser. The filter
    * pushes into the interop scan (file stats prune first). */
  val tfForeignScan: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val loc = scratch()
    graft.table.iceberg.IcebergWrite.create(
      s, loc, c.filter(col("c_custkey") % 3 === 0))
    graft.table.iceberg.IcebergWrite.append(
      s, loc, c.filter(col("c_custkey") % 3 =!= 0))
    s.read.format("graft").load(loc)
      .filter(col("c_acctbal") > 1000.0)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("c_acctbal")), 2).cast("double").as("total"))
      .orderBy(col("c_mktsegment"))
  }

  val tfForeignScanSql: String =
    """SELECT c_mktsegment, count(*) AS n,
       round(sum(c_acctbal),2)::DOUBLE AS total
       FROM customer WHERE c_acctbal > 1000
       GROUP BY 1 ORDER BY c_mktsegment"""

  /** Changelog over a REAL-format table (IcebergTable.changesBetween
    * — the adopted-table twin of tf_changelog_scan): after the start
    * snapshot, an append commits inserts, an equality delete commits
    * its hidden rows as deletes, and the compaction rewrite emits
    * NOTHING (row-preserving for visible rows). The per-commit deltas
    * are derived structurally from the manifest lists, so any
    * engine's commits changelog the same way. */
  val tfForeignChangelog: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val root = scratch()
    graft.table.iceberg.IcebergWrite.create(
      s, root, c.filter(col("c_custkey") % 3 =!= 0))
    val s1 = graft.table.iceberg.IcebergMetadata.load(root)
      .currentSnapshotId.get
    graft.table.iceberg.IcebergWrite.append(
      s, root, c.filter(col("c_custkey") % 3 === 0))
    graft.table.iceberg.IcebergWrite.deleteEquality(s, root,
      c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey")),
      Seq("c_custkey"))
    graft.table.iceberg.IcebergWrite.rewrite(s, root)
    graft.table.iceberg.IcebergTable.load(s, root)
      .changesBetween(Some(s1))
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_custkey")).cast("long").as("key_sum"))
      .orderBy(col("change_type"))
      .select(col("change_type"), col("n"), col("key_sum"))
  }

  /** Row-level SQL on an ADOPTED real-format table: register a table
    * another engine could have written, run catalog SQL DELETE +
    * UPDATE against it (merge-on-read delta — a v2 position-delete
    * manifest plus only the changed rows, ONE snapshot each), then
    * read the final state back through the BINARY interop reader, a
    * walk any Iceberg engine could do. Locks the full V2 row-level
    * seam: row-id scan → delta write → commitDelta → MoR fold
    * (reference: datafusion_iceberg delete semantics + the v2 delete
    * commits of iceberg-rust/src/table/transaction). */
  val tfForeignRowlevel: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val loc = scratch()
    graft.table.iceberg.IcebergWrite.create(s, loc, o)
    // catalog names are session-cached by NAME, so each run gets a
    // fresh one (bench reps would otherwise reuse a stale warehouse)
    val cat = s"ice_rl_${java.util.UUID.randomUUID().toString.take(8)}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft-rlwh").toString)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    s.sql(s"CALL $cat.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    // length() keeps the condition off the metadata-only equality
    // path, so the DELETE exercises the MoR position-delete delta this
    // key documents (the pure-equality fast path has its own seam in
    // the interop suite)
    s.sql(s"DELETE FROM $cat.m.t WHERE o_orderstatus = 'F' " +
      "AND length(o_orderstatus) >= 1")
    s.sql(s"UPDATE $cat.m.t SET o_totalprice = o_totalprice * 2 " +
      "WHERE o_orderpriority = '1-URGENT'")
    graft.table.iceberg.IcebergTable.load(s, loc).scan()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).cast("double").as("total"))
      .orderBy(col("o_orderstatus"))
  }

  val tfForeignRowlevelSql: String =
    """SELECT o_orderstatus, count(*) AS n,
       round(sum(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN o_totalprice * 2 ELSE o_totalprice END),2)::DOUBLE AS total
       FROM orders WHERE o_orderstatus <> 'F'
       GROUP BY 1 ORDER BY o_orderstatus"""

  /** SQL INSERT INTO an ADOPTED real-format table through the
    * catalog: the V1 write bridge routes the planned DataFrame into
    * the interop append (distributed parquet write + real avro
    * manifests + CAS'd metadata commit), and the final content reads
    * back through the binary interop reader (reference:
    * datafusion_iceberg/src/table.rs:216 insert_into). */
  val tfForeignInsert: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val loc = scratch()
    graft.table.iceberg.IcebergWrite.create(
      s, loc, c.filter(col("c_custkey") % 2 === 0))
    val cat = s"ice_ins_${java.util.UUID.randomUUID().toString.take(8)}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft-inswh").toString)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    s.sql(s"CALL $cat.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    c.filter(col("c_custkey") % 2 =!= 0)
      .createOrReplaceTempView("tf_foreign_insert_src")
    s.sql(s"INSERT INTO $cat.m.t SELECT * FROM tf_foreign_insert_src")
    graft.table.iceberg.IcebergTable.load(s, loc).scan()
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("c_acctbal")), 2).cast("double").as("total"))
      .orderBy(col("c_mktsegment"))
  }

  val tfForeignInsertSql: String =
    """SELECT c_mktsegment, count(*) AS n,
       round(sum(c_acctbal),2)::DOUBLE AS total
       FROM customer GROUP BY 1 ORDER BY c_mktsegment"""

  /** MERGE INTO an ADOPTED real-format table through the SupportsDelta
    * path, exercising ALL THREE branches in one statement — a matched
    * DELETE, a matched UPDATE (referencing both sides), and a
    * NOT-MATCHED INSERT — committed as ONE merge-on-read delta
    * snapshot (position-delete manifest + only the changed/new rows),
    * then read back through the binary interop reader (reference:
    * datafusion_iceberg/src/table.rs DML parity + the delta commits of
    * iceberg-rust/src/table/transaction/operation.rs). The r10
    * tf_foreign_rowlevel key locked DELETE + UPDATE; this one locks
    * the full MERGE matrix the SupportsDelta writer claims. */
  val tfForeignMerge: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val loc = scratch()
    graft.table.iceberg.IcebergWrite.create(
      s, loc, o.filter(col("o_orderkey") % 3 =!= 0))
    val cat = s"ice_mg_${java.util.UUID.randomUUID().toString.take(8)}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft-mgwh").toString)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    s.sql(s"CALL $cat.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    o.filter(col("o_orderkey") % 2 === 0)
      .createOrReplaceTempView("tf_foreign_merge_src")
    s.sql(
      s"""MERGE INTO $cat.m.t t USING tf_foreign_merge_src s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED AND s.o_orderpriority = '1-URGENT' THEN DELETE
          WHEN MATCHED THEN
            UPDATE SET o_totalprice = t.o_totalprice + s.o_totalprice
          WHEN NOT MATCHED THEN INSERT *""")
    graft.table.iceberg.IcebergTable.load(s, loc).scan()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).cast("double").as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** Key-routed point UPDATE through CALL update_by_key (the
    * GDPR/user-record rewrite): ONE snapshot = an equality delete of
    * just the key values + data files holding only the modified rows
    * — commit IO O(matches), candidate files never rewritten. Final
    * state read back through the binary interop reader; DuckDB
    * recomputes the update from raw inputs. */
  val tfUpdateByKey: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val loc = scratch()
    graft.table.iceberg.IcebergWrite.create(s, loc, c)
    val cat = s"ice_ub_${java.util.UUID.randomUUID().toString.take(8)}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft-ubwh").toString)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    s.sql(s"CALL $cat.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    s.sql(s"CALL $cat.system.update_by_key(table => 'm.t', " +
      "key_column => 'c_custkey', key_values => '1, 7, 21, 42', " +
      "assignments => \"c_acctbal = c_acctbal + 1000, " +
      "c_name = 'gdpr-scrubbed'\")")
    graft.table.iceberg.IcebergTable.load(s, loc).scan()
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("c_acctbal")), 2).cast("double").as("total"),
        sum(when(col("c_name") === "gdpr-scrubbed", 1).otherwise(0))
          .cast("long").as("scrubbed"))
      .orderBy(col("c_mktsegment"))
  }

  val tfUpdateByKeySql: String =
    """SELECT c_mktsegment, count(*) AS n,
       round(sum(CASE WHEN c_custkey IN (1,7,21,42)
                 THEN c_acctbal + 1000 ELSE c_acctbal END),2)::DOUBLE AS total,
       CAST(sum(CASE WHEN c_custkey IN (1,7,21,42) THEN 1 ELSE 0 END)
            AS BIGINT) AS scrubbed
       FROM customer GROUP BY 1 ORDER BY c_mktsegment"""

  /** Equality→position delete conversion through CALL
    * rewrite_delete_files(mode => 'convert'): the equality files'
    * hidden rows materialize as explicit (file, pos) slots and the
    * equality files drop — visible rows must be UNCHANGED, which the
    * oracle checks end to end by recomputing the deletes from raw
    * inputs. */
  val tfEqConvert: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val loc = scratch()
    graft.table.iceberg.IcebergWrite.create(s, loc, o)
    val cat = s"ice_cv_${java.util.UUID.randomUUID().toString.take(8)}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft-cvwh").toString)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    s.sql(s"CALL $cat.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    // two metadata-only equality deletes with different key shapes
    s.sql(s"DELETE FROM $cat.m.t WHERE o_orderpriority = '1-URGENT'")
    s.sql(s"DELETE FROM $cat.m.t WHERE o_orderkey IN (7, 32, 129)")
    s.sql(s"CALL $cat.system.rewrite_delete_files(table => 'm.t', " +
      "mode => 'convert')")
    val t = graft.table.iceberg.IcebergTable.load(s, loc)
    // the converted table must hold ZERO equality delete files — a
    // structural guarantee folded into the oracled output
    val eqLeft = t.deleteEntries().map(_._1).count(_.content == 2).toLong
    t.scan()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).cast("double").as("total"))
      .withColumn("eq_files_left", lit(eqLeft))
      .orderBy(col("o_orderstatus"))
  }

  val tfEqConvertSql: String =
    """SELECT o_orderstatus, count(*) AS n,
       round(sum(o_totalprice),2)::DOUBLE AS total,
       CAST(0 AS BIGINT) AS eq_files_left
       FROM orders
       WHERE o_orderpriority <> '1-URGENT'
         AND o_orderkey NOT IN (7, 32, 129)
       GROUP BY 1 ORDER BY o_orderstatus"""

  val tfForeignMergeSql: String =
    """WITH tgt AS (
         SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
         FROM orders WHERE o_orderkey % 3 <> 0),
       src AS (
         SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
         FROM orders WHERE o_orderkey % 2 = 0),
       fin AS (
         SELECT t.o_orderstatus,
                CASE WHEN s.o_orderkey IS NULL THEN t.o_totalprice
                     ELSE t.o_totalprice + s.o_totalprice END AS o_totalprice
         FROM tgt t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
         WHERE s.o_orderkey IS NULL OR s.o_orderpriority <> '1-URGENT'
         UNION ALL
         SELECT s.o_orderstatus, s.o_totalprice
         FROM src s LEFT JOIN tgt t ON s.o_orderkey = t.o_orderkey
         WHERE t.o_orderkey IS NULL)
       SELECT o_orderstatus, count(*) AS n,
              round(sum(o_totalprice),2)::DOUBLE AS total
       FROM fin GROUP BY 1 ORDER BY o_orderstatus"""

  val tfForeignChangelogSql: String =
    """SELECT * FROM (
         SELECT 'insert' AS change_type, count(*) AS n,
                CAST(sum(c_custkey) AS BIGINT) AS key_sum
         FROM customer WHERE c_custkey % 3 = 0
         UNION ALL
         SELECT 'delete', count(*), CAST(sum(c_custkey) AS BIGINT)
         FROM customer WHERE c_mktsegment = 'BUILDING')
       ORDER BY change_type"""

  val tfIcebergReadSql: String =
    """SELECT o_orderstatus, count(*) AS n,
       round(sum(o_totalprice),2)::DOUBLE AS total
       FROM orders WHERE o_totalprice > 50000
       GROUP BY 1 ORDER BY o_orderstatus"""

  /** Real-format Iceberg table with TRANSFORM partitions (month +
    * bucket): the interop writer computes partition values per row,
    * manifests carry the typed transform structs, and the scan prunes
    * through the transforms (range on month, equality on bucket) —
    * reference: iceberg-rust/src/arrow/transform.rs. */
  val tfIcebergPartitioned: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val loc = scratch()
    graft.table.iceberg.IcebergWrite.createWithSpec(
      s, loc, o, Seq("o_orderdate" -> "month", "o_custkey" -> "bucket[8]"))
    val t = graft.table.iceberg.IcebergTable.load(s, loc)
    t.scan(None, Seq(("o_orderdate", ">=", "1995-06-01 00:00:00")))
      .filter(col("o_orderdate") >= ts("1995-06-01 00:00:00"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("month"))
  }

  val tfIcebergPartitionedSql: String =
    """SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n,
       round(sum(o_totalprice),2) AS total
       FROM orders WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
       GROUP BY 1 ORDER BY month"""

  /** graft -> real-format Iceberg export round-trip: build a graft
    * table, apply a merge-on-read equality delete (so sequence scoping
    * crosses the format boundary), export METADATA-ONLY (data parquet
    * referenced in place), and aggregate through the binary interop
    * reader. The oracle is the same filter+agg over the raw source, so
    * what's validated is that the exported manifests + delete files
    * reproduce the table exactly. */
  val tfExportRoundtrip: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val root = scratch()
    val t = graft.table.GraftTable.create(s, root, o.schema)
    t.append(o)
    t.deleteWhereMoR(col("o_orderstatus") === "P", Seq("o_orderstatus"))
    val dest = scratch()
    graft.table.iceberg.IcebergExport.export(s, root, dest)
    graft.table.iceberg.IcebergTable.load(s, dest).scan()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")).cast("decimal(38,10)"), 2)
          .cast("double").as("total"))
      .orderBy(col("o_orderstatus"))
  }

  val tfExportRoundtripSql: String =
    """SELECT o_orderstatus, count(*) AS n,
       round(sum(o_totalprice)::DECIMAL(38,10),2)::DOUBLE AS total
       FROM orders WHERE o_orderstatus <> 'P'
       GROUP BY 1 ORDER BY o_orderstatus"""

  /** Incremental batch read through the connector: three appends, the
    * (s1, s2] range read back via start/end-snapshot-id options — IO
    * proportional to the middle delta. The oracle recomputes exactly
    * the middle append's rows from the source. */
  val tfIncrementalScan: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val root = scratch()
    val t = GraftTable.create(s, root, o.schema)
    t.append(o.filter(year(col("o_orderdate")) < 1995))
    val s1 = t.meta.currentSnapshotId.get
    t.append(o.filter(year(col("o_orderdate")).between(1995, 1996)))
    val s2 = t.meta.currentSnapshotId.get
    t.append(o.filter(year(col("o_orderdate")) > 1996))
    s.read.format("graft")
      .option("start-snapshot-id", s1.toString)
      .option("end-snapshot-id", s2.toString).load(root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")).cast("decimal(38,10)"), 2)
          .cast("double").as("total"))
      .orderBy(col("o_orderstatus"))
  }

  val tfIncrementalScanSql: String =
    """SELECT o_orderstatus, count(*) AS n,
       round(sum(o_totalprice)::DECIMAL(38,10),2)::DOUBLE AS total
       FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 1996
       GROUP BY 1 ORDER BY o_orderstatus"""

  /** Changelog (CDC) read: appends then a copy-on-write delete; the
    * per-commit net changes are re-aggregated by change type. The
    * carryover rows the CoW rewrite copies verbatim must cancel, so
    * the oracle is exact row populations from the source. */
  val tfChangelogScan: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val root = scratch()
    val t = GraftTable.create(s, root, c.schema)
    t.append(c.filter(col("c_custkey") % 3 =!= 0))
    val s1 = t.meta.currentSnapshotId.get
    t.append(c.filter(col("c_custkey") % 3 === 0))
    t.delete(col("c_mktsegment") === "BUILDING")
    t.changesBetween(Some(s1))
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_custkey")).cast("long").as("key_sum"))
      .orderBy(col("change_type"))
      .select(col("change_type"), col("n"), col("key_sum"))
  }

  val tfChangelogScanSql: String =
    """SELECT * FROM (
         SELECT 'insert' AS change_type, count(*) AS n,
                CAST(sum(c_custkey) AS BIGINT) AS key_sum
         FROM customer WHERE c_custkey % 3 = 0
         UNION ALL
         SELECT 'delete', count(*), CAST(sum(c_custkey) AS BIGINT)
         FROM customer WHERE c_mktsegment = 'BUILDING')
       ORDER BY change_type"""

  val queries: Map[String, Q] = Map(
    "tf_incremental_scan" -> tfIncrementalScan,
    "tf_changelog_scan" -> tfChangelogScan,
    "tf_export_roundtrip" -> tfExportRoundtrip,
    "tf_iceberg_read" -> tfIcebergRead,
    "tf_foreign_scan" -> tfForeignScan,
    "tf_foreign_changelog" -> tfForeignChangelog,
    "tf_foreign_rowlevel" -> tfForeignRowlevel,
    "tf_foreign_insert" -> tfForeignInsert,
    "tf_foreign_merge" -> tfForeignMerge,
    "tf_update_by_key" -> tfUpdateByKey,
    "tf_eq_convert" -> tfEqConvert,
    "tf_iceberg_partitioned" -> tfIcebergPartitioned,
    "tf_delete_pos" -> tfDeletePos,
    "tf_metadata_tables" -> tfMetadataTables,
    "tf_delete_mor" -> tfDeleteMor,
    "tf_snapshot_scan" -> tfSnapshotScan,
    "tf_time_travel" -> tfTimeTravel,
    "tf_files_pruned" -> tfFilesPruned,
    "tf_partition_scan" -> tfPartitionScan,
    "tf_spec_evolution" -> tfSpecEvolution,
    "tf_nested_roundtrip" -> tfNestedRoundtrip,
    "tf_compaction" -> tfCompaction,
    "tf_add_files" -> tfAddFiles,
    "tf_branch_scan" -> tfBranchScan,
    "tf_schema_evolution" -> tfSchemaEvolution,
    "tf_merge_upsert" -> tfMergeUpsert,
    "tf_delete_where" -> tfDeleteWhere,
    "tf_view" -> tfView,
    "tf_mat_view_refresh" -> tfMatViewRefresh)

  val oracles: Map[String, String] = Map(
    "tf_incremental_scan" -> tfIncrementalScanSql,
    "tf_changelog_scan" -> tfChangelogScanSql,
    "tf_export_roundtrip" -> tfExportRoundtripSql,
    "tf_iceberg_read" -> tfIcebergReadSql,
    "tf_foreign_scan" -> tfForeignScanSql,
    "tf_foreign_changelog" -> tfForeignChangelogSql,
    "tf_foreign_rowlevel" -> tfForeignRowlevelSql,
    "tf_foreign_insert" -> tfForeignInsertSql,
    "tf_foreign_merge" -> tfForeignMergeSql,
    "tf_update_by_key" -> tfUpdateByKeySql,
    "tf_eq_convert" -> tfEqConvertSql,
    "tf_iceberg_partitioned" -> tfIcebergPartitionedSql,
    "tf_delete_pos" -> tfDeletePosSql,
    "tf_compaction" -> tfCompactionSql,
    "tf_add_files" -> tfAddFilesSql,
    "tf_files_pruned" -> tfFilesPrunedSql,
    "tf_metadata_tables" -> tfMetadataTablesSql,
    "tf_delete_mor" -> tfDeleteMorSql,
    "tf_snapshot_scan" -> tfSnapshotScanSql,
    "tf_time_travel" -> tfTimeTravelSql,
    "tf_partition_scan" -> tfPartitionScanSql,
    "tf_spec_evolution" -> tfSpecEvolutionSql,
    "tf_nested_roundtrip" -> tfNestedRoundtripSql,
    "tf_branch_scan" -> tfBranchScanSql,
    "tf_schema_evolution" -> tfSchemaEvolutionSql,
    "tf_merge_upsert" -> tfMergeUpsertSql,
    "tf_delete_where" -> tfDeleteWhereSql,
    "tf_view" -> tfViewSql,
    "tf_mat_view_refresh" -> tfMatViewRefreshSql)
}
