package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The TableCatalog plugin: standard Spark SQL DDL/DML against a graft
  * warehouse. */
class TableCatalogSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val wh = {
    val dir = Files.createTempDirectory("graft-sqlcat").toString
    spark.conf.set("spark.sql.catalog.graft_wh", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.graft_wh.warehouse", dir)
    dir
  }

  test("executor-routed partition values match the Catalyst write path") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.pv")
    spark.sql(
      """CREATE TABLE graft_wh.pv.ev (event_id BIGINT, ts TIMESTAMP, v DOUBLE)
         PARTITIONED BY (days(ts), bucket(8, event_id))""")
    val src = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("value").as("v"))
    src.createOrReplaceTempView("ev_pv_src")
    // executor path: V2 INSERT routes rows per-row on the write tasks
    spark.sql("INSERT INTO graft_wh.pv.ev SELECT * FROM ev_pv_src")
    val viaV2 = graft.table.GraftTable.load(spark, s"$wh/pv/ev")
      .meta.liveFiles(None).map(_.partitionValues).toSet
    // driver path: GraftTable.append computes transform COLUMNS
    val root2 = java.nio.file.Files.createTempDirectory("pv-ref").toString + "/t"
    val ref = graft.table.GraftTable.create(spark, root2, src.schema,
      spec = Seq(
        graft.table.Meta.PartitionField("ts", "day", "_p_ts_day"),
        graft.table.Meta.PartitionField("event_id", "bucket[8]", "_p_event_id_bucket")))
    ref.append(src)
    val viaDriver = ref.meta.liveFiles(None).map(_.partitionValues).toSet
    assert(viaV2 === viaDriver,
      s"partition routing diverged:\nV2=${viaV2.toSeq.sortBy(_.toString).take(5)}\n" +
        s"driver=${viaDriver.toSeq.sortBy(_.toString).take(5)}")
    // partition-pruned read agrees with a raw filter
    val day = viaV2.head("_p_ts_day")
    val t2 = graft.table.GraftTable.load(spark, s"$wh/pv/ev")
    val pruned = t2.scan(Seq(t2.StatFilter("_p_ts_day", "=", day)))
    assert(pruned.count() > 0)
  }

  test("bucket SPJ: co-bucketed catalog tables join without a shuffle") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.spj")
    spark.sql(
      """CREATE TABLE graft_wh.spj.fact (k BIGINT, v DOUBLE)
         PARTITIONED BY (bucket(8, k))""")
    spark.sql(
      """CREATE TABLE graft_wh.spj.dim (k BIGINT, name STRING)
         PARTITIONED BY (bucket(8, k))""")
    val spark0 = spark
    import spark0.implicits._
    (1L to 2000L).map(i => (i, i * 1.5)).toDF("k", "v")
      .createOrReplaceTempView("fact_src")
    (1L to 2000L).map(i => (i, s"n$i")).toDF("k", "name")
      .createOrReplaceTempView("dim_src")
    spark.sql("INSERT INTO graft_wh.spj.fact SELECT * FROM fact_src")
    spark.sql("INSERT INTO graft_wh.spj.dim SELECT * FROM dim_src")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = spark.sql(
        """SELECT f.k, f.v, d.name FROM graft_wh.spj.fact f
           JOIN graft_wh.spj.dim d ON f.k = d.k""")
      val plan = joined.queryExecution.executedPlan.toString
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, plan.take(1500))
      assert(!plan.substring(joinIdx).contains("Exchange"),
        "shuffle below the bucket-SPJ join:\n" + plan.take(2500))
      assert(joined.count() === 2000)
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("CREATE TABLE / INSERT INTO / SELECT / DROP through the catalog") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.db")
    spark.sql(
      """CREATE TABLE graft_wh.db.orders
         (o_orderkey BIGINT, o_custkey BIGINT, o_status STRING, o_total DOUBLE)""")
    Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus").as("o_status"), col("o_totalprice").as("o_total"))
      .createOrReplaceTempView("orders_src_cat")
    spark.sql("INSERT INTO graft_wh.db.orders SELECT * FROM orders_src_cat")
    val n = spark.sql("SELECT count(*) FROM graft_wh.db.orders")
      .collect()(0).getLong(0)
    assert(n === Tables.orders(spark, sf).count())
    val agg = spark.sql(
      """SELECT o_status, count(*) AS n FROM graft_wh.db.orders
         GROUP BY 1 ORDER BY 1""").collect()
    assert(agg.length === 3)
    // a second INSERT is a second snapshot
    spark.sql("INSERT INTO graft_wh.db.orders SELECT * FROM orders_src_cat LIMIT 10")
    val t = graft.table.GraftTable.load(spark, s"$wh/db/orders")
    assert(t.meta.snapshots.size === 2)
    assert(spark.sql("SHOW TABLES IN graft_wh.db").collect()
      .map(_.getString(1)).contains("orders"))
    spark.sql("DROP TABLE graft_wh.db.orders")
    intercept[Exception](spark.sql("SELECT * FROM graft_wh.db.orders").collect())
  }

  test("SQL DELETE FROM routes through SupportsDelete (3VL preserved)") {
    val spark0 = spark
    import spark0.implicits._
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.del")
    spark.sql("CREATE TABLE graft_wh.del.t (k BIGINT, v DOUBLE)")
    Seq((1L, 1.0), (2L, 7.0), (3L, 9.0), (4L, java.lang.Double.NaN))
      .toDF("k", "v").withColumn("v",
        when(col("k") === 4L, lit(null).cast("double")).otherwise(col("v")))
      .createOrReplaceTempView("del_src")
    spark.sql("INSERT INTO graft_wh.del.t SELECT * FROM del_src")
    spark.sql("DELETE FROM graft_wh.del.t WHERE v > 5.0")
    val left = spark.sql("SELECT k FROM graft_wh.del.t ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    // rows 2 and 3 deleted; row 4 (v IS NULL -> predicate NULL) KEPT
    assert(left === Seq(1L, 4L))
    // compound predicates translate too
    spark.sql("DELETE FROM graft_wh.del.t WHERE k = 1 OR v IS NULL")
    assert(spark.sql("SELECT count(*) FROM graft_wh.del.t")
      .collect()(0).getLong(0) === 0L)
    spark.sql("DROP TABLE graft_wh.del.t")
  }

  test("SQL UPDATE and MERGE INTO run as group-based copy-on-write") {
    val spark0 = spark
    import spark0.implicits._
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.rlo")
    spark.sql("CREATE TABLE graft_wh.rlo.t (k BIGINT, v DOUBLE, tag STRING)")
    (1L to 100L).map(i => (i, i.toDouble, "keep")).toDF("k", "v", "tag")
      .createOrReplaceTempView("rlo_src")
    spark.sql("INSERT INTO graft_wh.rlo.t SELECT * FROM rlo_src")

    // UPDATE: matched rows change, the rest are copied forward intact
    spark.sql("UPDATE graft_wh.rlo.t SET v = v * 10, tag = 'bumped' WHERE k <= 5")
    val after = spark.sql(
      "SELECT sum(v) AS sv, count(*) AS n FROM graft_wh.rlo.t").collect()(0)
    assert(after.getLong(1) === 100L)
    // 1..5 went from 15 to 150; rest unchanged (5050 - 15 + 150)
    assert(math.abs(after.getDouble(0) - 5185.0) < 1e-9)
    assert(spark.sql(
      "SELECT count(*) FROM graft_wh.rlo.t WHERE tag = 'bumped'")
      .collect()(0).getLong(0) === 5L)

    // MERGE INTO: updates matches, inserts the rest
    Seq((3L, 999.0, "merged"), (200L, 200.0, "new"))
      .toDF("k", "v", "tag").createOrReplaceTempView("rlo_merge_src")
    spark.sql(
      """MERGE INTO graft_wh.rlo.t t USING rlo_merge_src s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET t.v = s.v, t.tag = s.tag
         WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (s.k, s.v, s.tag)""")
    val m = spark.sql(
      "SELECT k, v, tag FROM graft_wh.rlo.t WHERE k IN (3, 200) ORDER BY k")
      .collect()
    assert(m.length === 2)
    assert(m(0).getDouble(1) === 999.0 && m(0).getString(2) === "merged")
    assert(m(1).getDouble(1) === 200.0 && m(1).getString(2) === "new")
    assert(spark.sql("SELECT count(*) FROM graft_wh.rlo.t")
      .collect()(0).getLong(0) === 101L)

    // DELETE with a condition SupportsDelete can't translate falls
    // back to the row-level rewrite
    spark.sql("DELETE FROM graft_wh.rlo.t WHERE k % 2 = 0")
    assert(spark.sql("SELECT count(*) FROM graft_wh.rlo.t")
      .collect()(0).getLong(0) === 50L)
    spark.sql("DROP TABLE graft_wh.rlo.t")
  }

  test("row-level UPDATE routes partitions on a PARTITIONED BY table") {
    val spark0 = spark
    import spark0.implicits._
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.rlop")
    spark.sql(
      """CREATE TABLE graft_wh.rlop.t (k BIGINT, grp BIGINT, v DOUBLE)
         PARTITIONED BY (bucket(4, grp))""")
    (1L to 200L).map(i => (i, i % 10, i.toDouble)).toDF("k", "grp", "v")
      .createOrReplaceTempView("rlop_src")
    spark.sql("INSERT INTO graft_wh.rlop.t SELECT * FROM rlop_src")
    spark.sql("UPDATE graft_wh.rlop.t SET v = -1.0 WHERE grp = 3")
    val neg = spark.sql(
      "SELECT count(*) FROM graft_wh.rlop.t WHERE v = -1.0")
      .collect()(0).getLong(0)
    assert(neg === 20L)
    assert(spark.sql("SELECT count(*) FROM graft_wh.rlop.t")
      .collect()(0).getLong(0) === 200L)
    // replacement files carry partition values (scan with the bucket
    // filter prunes and still sees updated rows)
    val t = graft.table.GraftTable.load(spark, s"$wh/rlop/t")
    assert(t.meta.liveFiles(None).forall(_.partitionValues.nonEmpty))
    spark.sql("DROP TABLE graft_wh.rlop.t")
  }

  test("ALTER TABLE DROP COLUMN: new reads omit it, old snapshots keep it") {
    val spark0 = spark
    import spark0.implicits._
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.ddl")
    spark.sql("CREATE TABLE graft_wh.ddl.t (k BIGINT, v DOUBLE, junk STRING)")
    Seq((1L, 1.0, "x"), (2L, 2.0, "y")).toDF("k", "v", "junk")
      .createOrReplaceTempView("ddl_src")
    spark.sql("INSERT INTO graft_wh.ddl.t SELECT * FROM ddl_src")
    val snap1 = graft.table.GraftTable.load(spark, s"$wh/ddl/t")
      .meta.currentSnapshotId.get
    spark.sql("ALTER TABLE graft_wh.ddl.t DROP COLUMN junk")
    val cols = spark.sql("SELECT * FROM graft_wh.ddl.t").columns.toSeq
    assert(cols === Seq("k", "v"))
    assert(spark.sql("SELECT sum(v) FROM graft_wh.ddl.t")
      .collect()(0).getDouble(0) === 3.0)
    // the old snapshot still reads with its own schema (junk intact) —
    // on the driver API and through SQL time travel
    val t = graft.table.GraftTable.load(spark, s"$wh/ddl/t")
    assert(t.timeTravel(snap1).columns.contains("junk"))
    assert(spark.sql(
      s"SELECT * FROM graft_wh.ddl.t VERSION AS OF $snap1")
      .columns.contains("junk"))
    // ...and the read must actually EXECUTE: selecting the dropped
    // column through time travel exercises pruneColumns against the
    // snapshot schema, not just analysis-time resolution
    val old = spark.sql(
      s"SELECT k, junk FROM graft_wh.ddl.t VERSION AS OF $snap1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(old === Set((1L, "x"), (2L, "y")))
    // re-adding the dropped name is SAFE with field-id identity: the
    // new column gets a fresh id, so old bytes (stored under the
    // retired id) null-fill instead of resurrecting
    spark.sql("ALTER TABLE graft_wh.ddl.t ADD COLUMN junk STRING")
    val readded = spark.sql("SELECT k, junk FROM graft_wh.ddl.t")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSet
    assert(readded === Set((1L, null), (2L, null)),
      s"re-added column must null-fill, got $readded")
    spark.sql("ALTER TABLE graft_wh.ddl.t DROP COLUMN junk")
    // dropping a column that keys live equality deletes -> refused
    t.deleteWhereMoR(col("k") === 999L, Seq("k"))
    assert(intercept[Exception] {
      spark.sql("ALTER TABLE graft_wh.ddl.t DROP COLUMN k")
    }.getMessage.contains("equality-delete"))
    t.applyDeletes()
    // MERGE with WHEN MATCHED DELETE over the evolved table
    Seq((1L, 0.0)).toDF("k", "v").createOrReplaceTempView("ddl_del_src")
    spark.sql(
      """MERGE INTO graft_wh.ddl.t t USING ddl_del_src s ON t.k = s.k
         WHEN MATCHED THEN DELETE""")
    assert(spark.sql("SELECT k FROM graft_wh.ddl.t").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
    spark.sql("DROP TABLE graft_wh.ddl.t")
  }

  test("ALTER TABLE RENAME COLUMN: field-id identity binds old bytes to the new name") {
    val spark0 = spark
    import spark0.implicits._
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.ddl")
    spark.sql("CREATE TABLE graft_wh.ddl.rn (k BIGINT, price DOUBLE)")
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price")
      .createOrReplaceTempView("rn_src")
    spark.sql("INSERT INTO graft_wh.ddl.rn SELECT * FROM rn_src")
    val snap1 = graft.table.GraftTable.load(spark, s"$wh/ddl/rn")
      .meta.currentSnapshotId.get
    spark.sql("ALTER TABLE graft_wh.ddl.rn RENAME COLUMN price TO amount")
    // pre-rename files resolve through the field id: values intact
    assert(spark.sql("SELECT sum(amount) FROM graft_wh.ddl.rn")
      .collect()(0).getDouble(0) === 30.0)
    // writes after the rename mix eras; both read back under the new name
    Seq((3L, 30.0)).toDF("k", "amount").createOrReplaceTempView("rn_src2")
    spark.sql("INSERT INTO graft_wh.ddl.rn SELECT * FROM rn_src2")
    assert(spark.sql("SELECT sum(amount) FROM graft_wh.ddl.rn")
      .collect()(0).getDouble(0) === 60.0)
    // time travel keeps the OLD name for the old snapshot, values intact
    val old = spark.sql(
      s"SELECT k, price FROM graft_wh.ddl.rn VERSION AS OF $snap1")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(old === Set((1L, 10.0), (2L, 20.0)))
    // driver API: filters and aggregates on the renamed column
    val t = graft.table.GraftTable.load(spark, s"$wh/ddl/rn")
    assert(t.scan().filter(col("amount") > 15.0).count() === 2)
    // rename to an existing name refused
    assert(intercept[Exception] {
      spark.sql("ALTER TABLE graft_wh.ddl.rn RENAME COLUMN amount TO k")
    }.getMessage.contains("already exists"))
    spark.sql("DROP TABLE graft_wh.ddl.rn")
  }

  test("write.delete.mode=merge-on-read: SQL DELETE commits a delete file, no rewrite") {
    val spark0 = spark
    import spark0.implicits._
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.ddl")
    spark.sql("CREATE TABLE graft_wh.ddl.mord (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
      .createOrReplaceTempView("mord_src")
    spark.sql("INSERT INTO graft_wh.ddl.mord SELECT * FROM mord_src")
    val t0 = graft.table.GraftTable.load(spark, s"$wh/ddl/mord")
    val dataFilesBefore = t0.meta.liveFiles(None).map(_.path).toSet
    spark.sql("DELETE FROM graft_wh.ddl.mord WHERE k <= 10")
    val m = graft.table.GraftTable.load(spark, s"$wh/ddl/mord").meta
    val snap = m.currentSnapshotId.flatMap(m.snapshot).get
    // a delete-file snapshot: position-delete file added, NO data
    // files rewritten or removed
    assert(snap.operation === "delete-pos")
    assert(snap.addedDeleteFiles.nonEmpty && snap.addedFiles.isEmpty &&
      snap.removedPaths.isEmpty)
    assert(m.liveFiles(None).map(_.path).toSet === dataFilesBefore,
      "merge-on-read delete must not rewrite data files")
    // scans apply the delete
    assert(spark.sql("SELECT count(*) FROM graft_wh.ddl.mord")
      .collect()(0).getLong(0) === 90L)
    assert(spark.sql("SELECT min(k) FROM graft_wh.ddl.mord")
      .collect()(0).getLong(0) === 11L)
    // without the property the same DELETE copy-on-writes (control)
    spark.sql("CREATE TABLE graft_wh.ddl.cowd (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_wh.ddl.cowd SELECT * FROM mord_src")
    spark.sql("DELETE FROM graft_wh.ddl.cowd WHERE k <= 10")
    val mc = graft.table.GraftTable.load(spark, s"$wh/ddl/cowd").meta
    val csnap = mc.currentSnapshotId.flatMap(mc.snapshot).get
    assert(csnap.addedDeleteFiles.isEmpty, "CoW must stay the default")
    assert(spark.sql("SELECT count(*) FROM graft_wh.ddl.cowd")
      .collect()(0).getLong(0) === 90L)
    spark.sql("DROP TABLE graft_wh.ddl.mord")
    spark.sql("DROP TABLE graft_wh.ddl.cowd")
  }

  test("write.update.mode=merge-on-read: SQL UPDATE runs as a delta write") {
    val spark0 = spark
    import spark0.implicits._
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.ddl")
    spark.sql("CREATE TABLE graft_wh.ddl.moru (k BIGINT, v STRING, amt DOUBLE) " +
      "TBLPROPERTIES ('write.update.mode'='merge-on-read')")
    (1L to 100L).map(i => (i, s"v$i", i * 1.0)).toDF("k", "v", "amt")
      .createOrReplaceTempView("moru_src")
    spark.sql("INSERT INTO graft_wh.ddl.moru SELECT * FROM moru_src")
    val before = graft.table.GraftTable.load(spark, s"$wh/ddl/moru")
      .meta.liveFiles(None).map(_.path).toSet
    spark.sql("UPDATE graft_wh.ddl.moru SET amt = amt * 10 WHERE k <= 10")
    val m = graft.table.GraftTable.load(spark, s"$wh/ddl/moru").meta
    val snap = m.currentSnapshotId.flatMap(m.snapshot).get
    // delta commit: position-delete file(s) + ONLY the changed rows as
    // new data; the original files are all still live (no rewrite)
    assert(snap.operation === "update-mor")
    assert(snap.addedDeleteFiles.nonEmpty && snap.removedPaths.isEmpty)
    assert(before.subsetOf(m.liveFiles(None).map(_.path).toSet),
      "merge-on-read update must not rewrite the candidate files")
    val changedRows = snap.addedFiles.map(_.recordCount).filter(_ >= 0).sum
    assert(snap.addedFiles.nonEmpty && changedRows === 10,
      s"only the 10 changed rows may be written, got $changedRows")
    // scans see exactly the updated values, once
    assert(spark.sql("SELECT count(*) FROM graft_wh.ddl.moru")
      .collect()(0).getLong(0) === 100L)
    assert(spark.sql("SELECT sum(amt) FROM graft_wh.ddl.moru WHERE k <= 10")
      .collect()(0).getDouble(0) === (1 to 10).map(_ * 10.0).sum)
    assert(spark.sql("SELECT sum(amt) FROM graft_wh.ddl.moru WHERE k > 10")
      .collect()(0).getDouble(0) === (11 to 100).map(_ * 1.0).sum)
    // the driver-API scan agrees (V1 read path applies the same deletes)
    val t = graft.table.GraftTable.load(spark, s"$wh/ddl/moru")
    assert(t.scan().agg(org.apache.spark.sql.functions.sum("amt"))
      .collect()(0).getDouble(0) ===
      ((1 to 10).map(_ * 10.0).sum + (11 to 100).map(_ * 1.0).sum))
    spark.sql("DROP TABLE graft_wh.ddl.moru")
  }

  test("write.merge.mode=merge-on-read: MERGE INTO runs as a delta write") {
    val spark0 = spark
    import spark0.implicits._
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.ddl")
    spark.sql("CREATE TABLE graft_wh.ddl.morm (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.merge.mode'='merge-on-read')")
    (1L to 50L).map(i => (i, s"old$i")).toDF("k", "v")
      .createOrReplaceTempView("morm_src")
    spark.sql("INSERT INTO graft_wh.ddl.morm SELECT * FROM morm_src")
    val before = graft.table.GraftTable.load(spark, s"$wh/ddl/morm")
      .meta.liveFiles(None).map(_.path).toSet
    Seq((49L, "upd49"), (50L, "upd50"), (51L, "new51"))
      .toDF("k", "v").createOrReplaceTempView("morm_delta")
    spark.sql("""MERGE INTO graft_wh.ddl.morm t USING morm_delta s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    val m = graft.table.GraftTable.load(spark, s"$wh/ddl/morm").meta
    val snap = m.currentSnapshotId.flatMap(m.snapshot).get
    assert(snap.operation === "update-mor")
    assert(snap.addedDeleteFiles.nonEmpty && snap.removedPaths.isEmpty)
    assert(before.subsetOf(m.liveFiles(None).map(_.path).toSet))
    assert(spark.sql("SELECT count(*) FROM graft_wh.ddl.morm")
      .collect()(0).getLong(0) === 51L)
    val got = spark.sql(
      "SELECT v FROM graft_wh.ddl.morm WHERE k >= 49 ORDER BY k")
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("upd49", "upd50", "new51"))
    spark.sql("DROP TABLE graft_wh.ddl.morm")
  }

  test("write.delete.mode=merge-on-read: complex DELETE runs as a delta write") {
    val spark0 = spark
    import spark0.implicits._
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.ddl")
    spark.sql("CREATE TABLE graft_wh.ddl.morx (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    (1L to 60L).map(i => (i, s"v$i")).toDF("k", "v")
      .createOrReplaceTempView("morx_src")
    spark.sql("INSERT INTO graft_wh.ddl.morx SELECT * FROM morx_src")
    val before = graft.table.GraftTable.load(spark, s"$wh/ddl/morx")
      .meta.liveFiles(None).map(_.path).toSet
    // length(v) isn't a translatable source filter -> goes through the
    // row-level operation, which in MoR mode is the DELTA path: a
    // delete-file commit with NO new data files
    spark.sql("DELETE FROM graft_wh.ddl.morx WHERE length(v) = 2 AND k % 2 = 0")
    val m = graft.table.GraftTable.load(spark, s"$wh/ddl/morx").meta
    val snap = m.currentSnapshotId.flatMap(m.snapshot).get
    assert(snap.addedDeleteFiles.nonEmpty && snap.addedFiles.isEmpty &&
      snap.removedPaths.isEmpty)
    assert(m.liveFiles(None).map(_.path).toSet === before)
    // deleted: k in 2,4,6,8 (len(v)=2 means k<=9, even)
    assert(spark.sql("SELECT count(*) FROM graft_wh.ddl.morx")
      .collect()(0).getLong(0) === 56L)
    assert(spark.sql("SELECT count(*) FROM graft_wh.ddl.morx " +
      "WHERE k <= 9 AND k % 2 = 0").collect()(0).getLong(0) === 0L)
    spark.sql("DROP TABLE graft_wh.ddl.morx")
  }

  test("SQL metadata tables: t.files / t.snapshots / t.history") {
    val spark0 = spark
    import spark0.implicits._
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.mt")
    spark.sql("CREATE TABLE graft_wh.mt.t (k BIGINT, v DOUBLE)")
    Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").createOrReplaceTempView("mt_src")
    spark.sql("INSERT INTO graft_wh.mt.t SELECT * FROM mt_src")
    spark.sql("INSERT INTO graft_wh.mt.t SELECT k + 10, v FROM mt_src")
    val t = graft.table.GraftTable.load(spark, s"$wh/mt/t")

    // snapshots: one row per snapshot, aggregable with plain SQL
    val snaps = spark.sql(
      """SELECT operation, count(*) AS n FROM graft_wh.mt.t.snapshots
         GROUP BY operation""").collect()
    assert(snaps.map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("append", 2L)))

    // files: live data files with spec ids and sizes
    val files = spark.sql(
      "SELECT count(*) AS n, sum(records) AS recs FROM graft_wh.mt.t.files")
      .collect()(0)
    assert(files.getLong(0) === t.meta.liveFiles(None).size.toLong)
    assert(files.getLong(1) === 4L)

    // history: every snapshot was made current on the main chain
    val hist = spark.sql(
      """SELECT snapshot_id, is_current_ancestor FROM graft_wh.mt.t.history
         ORDER BY made_current_at""").collect()
    assert(hist.length === 2 && hist.forall(_.getBoolean(1)))

    // a rollback leaves the abandoned snapshot in history, off-chain
    val first = t.meta.chainSnapshots(None).head.snapshotId
    t.rollbackTo(first)
    val hist2 = spark.sql(
      "SELECT snapshot_id, is_current_ancestor FROM graft_wh.mt.t.history")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(hist2(first) === true)
    assert(hist2.values.count(_ == false) === 1)

    // a real table named like a metadata table still wins resolution
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.mt.t2")
    spark.sql("CREATE TABLE graft_wh.mt.t2.files (x BIGINT)")
    assert(spark.sql("SELECT * FROM graft_wh.mt.t2.files").columns === Array("x"))
    spark.sql("DROP TABLE graft_wh.mt.t2.files")
    spark.sql("DROP TABLE graft_wh.mt.t")

    // partitions: one row per live partition with rolled-up counts
    spark.sql("""CREATE TABLE graft_wh.mt.p (k BIGINT, tag STRING)
                 PARTITIONED BY (tag)""")
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "tag")
      .createOrReplaceTempView("mtp_src")
    spark.sql("INSERT INTO graft_wh.mt.p SELECT * FROM mtp_src")
    val parts = spark.sql(
      """SELECT partition, record_count FROM graft_wh.mt.p.partitions
         ORDER BY partition""").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(parts === Array(("_p_tag=a", 2L), ("_p_tag=b", 1L)))

    // refs: branches/tags with retention; manifests: the metadata tier
    val tp = graft.table.GraftTable.load(spark, s"$wh/mt/p")
    tp.setRef("rel", tp.meta.currentSnapshotId.get,
      Some(graft.table.Meta.RefRetention(refType = "tag")))
    val refs = spark.sql(
      """SELECT name, type, snapshot_id FROM graft_wh.mt.p.refs
         ORDER BY name""").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.exists(r => r._1 == "rel" && r._2 == "tag" &&
      r._3 == tp.meta.currentSnapshotId.get))
    val mf = spark.sql(
      "SELECT snapshot_id, form FROM graft_wh.mt.p.manifests").collect()
    assert(mf.nonEmpty && mf.forall(_.getString(1) == "inline"))
    spark.sql("DROP TABLE graft_wh.mt.p")
  }

  // the metadata tables render from the table's format handle: the same
  // SQL over the same history on both formats, each column read with its
  // format's meaning (an Iceberg snapshot's added_files counts its delete
  // files; a pure-equality DELETE writes an Iceberg equality delete file
  // and a graft position delete file)
  for (format <- Seq("graft", "iceberg"))
  test("SQL metadata tables and position_deletes over one history" +
      (if (format == "iceberg") " [iceberg]" else "")) {
    wh
    val spark0 = spark
    import spark0.implicits._
    val iceberg = format == "iceberg"
    val ns = s"mh_$format"
    val t = s"graft_wh.$ns.t"
    val root = s"$wh/$ns/t"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft_wh.$ns")
    def batch(from: Long) = (from until from + 30L)
      .map(k => (k, if (k % 2 == 0) "a" else "b")).toDF("k", "tag").coalesce(1)
    if (iceberg)
      graft.table.iceberg.IcebergWrite.create(spark, root, batch(1L), Seq("tag"))
    else {
      spark.sql(s"CREATE TABLE $t (k BIGINT, tag STRING) PARTITIONED BY (tag) " +
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
      batch(1L).createOrReplaceTempView("mh_src")
      spark.sql(s"INSERT INTO $t SELECT * FROM mh_src")
    }
    batch(31L).createOrReplaceTempView("mh_src")
    spark.sql(s"INSERT INTO $t SELECT * FROM mh_src")
    def format0 = graft.spark.TableFormat.resolve(root).get
    def q(sql: String) = spark.sql(sql.replace("$t", t)).collect()
    def long(sql: String) = q(sql)(0).getLong(0)

    // two appends: every snapshot on the current ancestry
    assert(q("SELECT operation FROM $t.snapshots").map(_.getString(0)).toSeq ===
      Seq("append", "append"))
    val files = q("SELECT content, records, bytes FROM $t.files")
    assert(files.forall(r => r.getInt(0) == 0 && r.getLong(2) > 0L))
    assert(files.map(_.getLong(1)).sum === 60L)
    val parts = q("SELECT partition, file_count, record_count FROM $t.partitions " +
      "ORDER BY partition")
    assert(parts.map(_.getString(0)).toSeq ===
      (if (iceberg) Seq("tag=a", "tag=b") else Seq("_p_tag=a", "_p_tag=b")))
    assert(parts.map(_.getLong(1)).sum === files.length.toLong)
    assert(parts.map(_.getLong(2)).toSeq === Seq(30L, 30L))
    assert(q("SELECT is_current_ancestor FROM $t.history").map(_.getBoolean(0))
      .toSeq === Seq(true, true))
    assert(long("SELECT sum(records) FROM $t.entries WHERE status = 1") === 60L)

    // a merge-on-read DELETE: position_deletes holds one slot per
    // deleted row, each stamped with its live position delete file
    spark.sql(s"DELETE FROM $t WHERE k % 10 = 0 AND length(tag) >= 1")
    def slots = q("SELECT file_path, pos, delete_file FROM $t.position_deletes")
    val posFiles = q("SELECT path FROM $t.delete_files WHERE content = 1")
      .map(_.getString(0)).toSet
    assert(posFiles.nonEmpty)
    assert(slots.length === 6)
    assert(slots.forall(r => r.getString(0).endsWith(".parquet") && r.getLong(1) >= 0L))
    assert(slots.map(_.getString(2)).toSet === posFiles)

    // a pure-equality DELETE
    spark.sql(s"DELETE FROM $t WHERE k = 5")
    val dels = q("SELECT content, equality_columns, data_sequence FROM $t.delete_files")
    assert(dels.forall(_.getLong(2) > 0L))
    if (iceberg) {
      assert(dels.filter(_.getInt(0) == 2).map(_.getString(1)).toSeq === Seq("k"))
      assert(slots.length === 6)
    } else {
      assert(dels.forall(_.getInt(0) == 1))
      assert(slots.length === 7)
    }
    val snaps = q("SELECT snapshot_id, added_files FROM $t.snapshots")
    assert(snaps.length === 4)
    assert(snaps.last.getLong(0) === format0.currentSnapshotId.get)
    assert(snaps.last.getInt(1) === (if (iceberg) 1 else 0))
    assert(long("SELECT count(*) FROM $t.files") ===
      long("SELECT count(*) FROM $t.delete_files") + files.length)
    assert(long("SELECT count(*) FROM $t") === 53L)

    // compaction retires files: entries gains removals, all_files keeps
    // the retired files flagged not live
    val preCompact = format0.currentSnapshotId.get
    spark.sql(s"CALL graft_wh.system.rewrite_data_files(table => '$ns.t')")
    val compacted = format0.currentSnapshotId.get
    assert(compacted !== preCompact)
    assert(long("SELECT count(*) FROM $t.entries WHERE status = 2 " +
      s"AND snapshot_id = $compacted") > 0L)
    val allFiles = q("SELECT live, count(*) FROM $t.all_files GROUP BY live")
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(allFiles(false) > 0L)
    assert(allFiles(true) === long("SELECT count(*) FROM $t.files"))
    assert(long("SELECT count(*) FROM $t") === 53L)

    // a branch at the head and a tag before the compaction
    spark.sql(s"CALL graft_wh.system.create_branch(table => '$ns.t', branch => 'dev')")
    spark.sql(s"CALL graft_wh.system.create_tag(table => '$ns.t', tag => 'v1', " +
      s"snapshot_id => $preCompact)")
    val refs = q("SELECT name, type, snapshot_id FROM $t.refs")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(refs === Set(("main", "branch", compacted), ("dev", "branch", compacted),
      ("v1", "tag", preCompact)))

    // a rollback leaves the compaction in history, off the current ancestry
    spark.sql(s"CALL graft_wh.system.rollback_to_snapshot(table => '$ns.t', " +
      s"snapshot_id => $preCompact)")
    val hist = q("SELECT snapshot_id, is_current_ancestor FROM $t.history")
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(hist.size === 5)
    assert(hist.filter(!_._2).keySet === Set(compacted))
    assert(long("SELECT count(*) FROM $t.files WHERE content = 0") === files.length.toLong)
    assert(long("SELECT count(*) FROM $t") === 53L)
    val snapIds = hist.keySet
    val manifests = q("SELECT snapshot_id, form FROM $t.manifests")
    assert(manifests.nonEmpty && manifests.forall(r => snapIds.contains(r.getLong(0))))
    assert(manifests.map(_.getString(1)).toSet.subsetOf(
      if (iceberg) Set("avro") else Set("inline", "spilled", "group")))

    // one metadata_log_entries row per metadata version, the newest
    // naming the current snapshot
    val log = q("SELECT version, latest_snapshot_id FROM $t.metadata_log_entries " +
      "ORDER BY version")
    assert(log.length >= 8) // 2 appends, 2 deletes, rewrite, 2 refs, rollback
    assert(log.map(_.getInt(0)).distinct.length === log.length)
    assert(log.last.getLong(1) === preCompact)

    // a real table named like a metadata table still wins resolution
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft_wh.$ns.t2")
    spark.sql(s"CREATE TABLE graft_wh.$ns.t2.files (x BIGINT)")
    assert(spark.sql(s"SELECT * FROM graft_wh.$ns.t2.files").columns === Array("x"))
    spark.sql(s"DROP TABLE graft_wh.$ns.t2.files")
  }

  // the scan of a metadata table resolves the format handle when it is
  // built, as a table scan loads fresh metadata per builder
  test("a DataFrame over t.snapshots counts commits made after it was created") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.mfresh")
    spark.sql("CREATE TABLE graft_wh.mfresh.t (k BIGINT)")
    spark.sql("INSERT INTO graft_wh.mfresh.t VALUES (1)")
    val snaps = spark.table("graft_wh.mfresh.t.snapshots")
    assert(snaps.count() === 1L)
    spark.sql("INSERT INTO graft_wh.mfresh.t VALUES (2)")
    assert(snaps.count() === 2L)
    spark.sql("DROP TABLE graft_wh.mfresh.t")
  }

  test("SQL UPDATE keeps a sort-ordered table range-clustered") {
    val spark0 = spark
    import spark0.implicits._
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.so")
    val df = (1L to 400L).map(i => ((i * 131) % 997, i)).toDF("key", "v")
    val t = graft.table.GraftTable.create(spark, s"$wh/so/t", df.schema,
      sortOrder = Seq("key"))
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      df.write.format("graft").mode("append").save(s"$wh/so/t")
      // CoW UPDATE: ReplaceData rewrites the candidate files through
      // the ordered V2 write — replacements come back range-clustered
      // off the executors and the commit ingests them in place
      spark.sql("UPDATE graft_wh.so.t SET v = v + 1000000 WHERE key > 500")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", parts0)
    }
    val rows = spark.sql(
      "SELECT count(*) n, sum(CASE WHEN v > 1000000 THEN 1 ELSE 0 END) u " +
        "FROM graft_wh.so.t").collect()(0)
    assert(rows.getLong(0) === 400L)
    assert(rows.getLong(1) === df.filter($"key" > 500).count())
    val bounds = t.meta.liveFiles(None)
      .flatMap(_.stats.get("key").map(st => (st.min.toLong, st.max.toLong)))
      .sortBy(_._1)
    assert(bounds.size > 1)
    bounds.sliding(2).foreach {
      case Seq((_, max1), (min2, _)) =>
        assert(max1 <= min2, s"post-UPDATE files overlap: $bounds")
      case _ =>
    }
    spark.sql("DROP TABLE graft_wh.so.t")
  }

  test("ALTER COLUMN TYPE: safe promotions widen in place, unsafe refused") {
    val spark0 = spark
    import spark0.implicits._
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.ddl")
    spark.sql("CREATE TABLE graft_wh.ddl.wt (k BIGINT, cnt INT, ratio FLOAT)")
    Seq((1L, 10, 0.5f), (2L, 20, 1.5f)).toDF("k", "cnt", "ratio")
      .createOrReplaceTempView("wt_src")
    spark.sql("INSERT INTO graft_wh.ddl.wt SELECT * FROM wt_src")
    val snap1 = graft.table.GraftTable.load(spark, s"$wh/ddl/wt")
      .meta.currentSnapshotId.get
    spark.sql("ALTER TABLE graft_wh.ddl.wt ALTER COLUMN cnt TYPE BIGINT")
    spark.sql("ALTER TABLE graft_wh.ddl.wt ALTER COLUMN ratio TYPE DOUBLE")
    // old INT32/FLOAT files up-cast at read; new writes exceed int range
    Seq((3L, 3000000000L, 2.5)).toDF("k", "cnt", "ratio")
      .createOrReplaceTempView("wt_src2")
    spark.sql("INSERT INTO graft_wh.ddl.wt SELECT * FROM wt_src2")
    val agg = spark.sql(
      "SELECT sum(cnt), round(sum(ratio), 1) FROM graft_wh.ddl.wt").collect()(0)
    assert(agg.getLong(0) === 3000000030L)
    assert(agg.getDouble(1) === 4.5)
    // the old snapshot keeps its own (narrow) schema
    val oldField = spark.sql(
      s"SELECT cnt FROM graft_wh.ddl.wt VERSION AS OF $snap1")
    assert(oldField.schema.fields(0).dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(oldField.collect().map(_.getInt(0)).sorted === Array(10, 20))
    // narrowing is refused by Spark's analyzer before reaching graft;
    // long->string passes Spark's up-cast check but is NOT an Iceberg
    // promotion, so graft's own guard refuses it
    assert(intercept[Exception] {
      spark.sql("ALTER TABLE graft_wh.ddl.wt ALTER COLUMN cnt TYPE INT")
    }.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"))
    assert(intercept[Exception] {
      spark.sql("ALTER TABLE graft_wh.ddl.wt ALTER COLUMN k TYPE STRING")
    }.getMessage.contains("safe promotion"))
    spark.sql("DROP TABLE graft_wh.ddl.wt")
  }

  test("SQL time travel: VERSION AS OF selects a snapshot") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.tt")
    spark.sql("CREATE TABLE graft_wh.tt.n (k BIGINT, v STRING)")
    Tables.nation(spark, sf)
      .select(col("n_nationkey").cast("bigint").as("k"), col("n_name").as("v"))
      .createOrReplaceTempView("nation_tt")
    spark.sql("INSERT INTO graft_wh.tt.n SELECT * FROM nation_tt")
    val s1 = graft.table.GraftTable.load(spark, s"$wh/tt/n").meta.currentSnapshotId.get
    spark.sql("INSERT INTO graft_wh.tt.n SELECT * FROM nation_tt")
    assert(spark.sql("SELECT count(*) FROM graft_wh.tt.n").collect()(0).getLong(0) === 50)
    assert(spark.sql(s"SELECT count(*) FROM graft_wh.tt.n VERSION AS OF $s1")
      .collect()(0).getLong(0) === 25)
  }

  test("TIMESTAMP AS OF resolves the snapshot current at that time") {
    wh
    val spark0 = spark
    import spark0.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.tt")
    spark.sql("CREATE TABLE graft_wh.tt.t (id BIGINT, v STRING)")
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("tt_src1")
    spark.sql("INSERT INTO graft_wh.tt.t SELECT * FROM tt_src1")
    val between = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(15)
    Seq((2L, "b")).toDF("id", "v").createOrReplaceTempView("tt_src2")
    spark.sql("INSERT INTO graft_wh.tt.t SELECT * FROM tt_src2")
    assert(spark.sql("SELECT count(*) FROM graft_wh.tt.t")
      .collect()(0).getLong(0) === 2)
    val asOf = spark.sql(
      s"SELECT count(*) FROM graft_wh.tt.t TIMESTAMP AS OF '$between'")
      .collect()(0).getLong(0)
    assert(asOf === 1)
  }

  // the time-travel rules each format's table handle owns: a ref name
  // pins; an unknown ref, an unknown or expired snapshot id, and a time
  // before the first snapshot each fail with their message
  for (format <- Seq("graft", "iceberg"))
  test("time travel: a ref pins; unknown refs, snapshots and times fail" +
      (if (format == "iceberg") " [iceberg]" else "")) {
    wh
    val spark0 = spark
    import spark0.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.tt")
    val t = s"graft_wh.tt.rules_$format"
    val root = s"$wh/tt/rules_$format"
    if (format == "iceberg")
      graft.table.iceberg.IcebergWrite.create(spark, root, (1L to 3L).toDF("k"))
    else {
      spark.sql(s"CREATE TABLE $t (k BIGINT)")
      spark.sql(s"INSERT INTO $t SELECT id FROM range(1, 4)")
    }
    def head = graft.spark.TableFormat.resolve(root).get.currentSnapshotId.get
    val s1 = head
    spark.sql(s"INSERT INTO $t SELECT id FROM range(4, 6)")
    spark.sql(s"CALL graft_wh.system.expire_snapshots(table => 'tt.rules_$format', keep_last => 1)")
    val s2 = head
    spark.sql(s"INSERT INTO $t SELECT id FROM range(6, 8)")
    spark.sql(s"CALL graft_wh.system.create_tag(table => 'tt.rules_$format', " +
      s"tag => 'second', snapshot_id => $s2)")
    def count(q: String) = spark.sql(s"SELECT count(*) FROM $t $q").collect()(0).getLong(0)
    assert(count("") === 7)
    assert(count("VERSION AS OF 'second'") === 5)
    assert(count(s"VERSION AS OF $s2") === 5)
    def fails(q: String, msg: String): Unit = {
      val ex = intercept[Exception](count(q))
      def causes(e: Throwable): Seq[Throwable] =
        if (e == null) Seq.empty else e +: causes(e.getCause)
      assert(causes(ex).exists(c => c.getMessage != null && c.getMessage.contains(msg)),
        s"$q: got ${ex.getMessage}")
    }
    fails("VERSION AS OF 'nope'", "'nope' is neither a snapshot id nor a ref of")
    fails(s"VERSION AS OF ${Long.MaxValue}", s"no snapshot ${Long.MaxValue} of")
    fails(s"VERSION AS OF $s1", s"no snapshot $s1 of")
    fails("TIMESTAMP AS OF '2000-01-01 00:00:00'", "at or before timestamp")
  }

  test("a metadata-only SQL DELETE records its delete file on the manifest list [iceberg]") {
    wh
    val spark0 = spark
    import spark0.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.eqd")
    val loc = s"$wh/eqd/t"
    graft.table.iceberg.IcebergWrite.create(spark, loc, (1L to 20L).toDF("k"))
    spark.sql("DELETE FROM graft_wh.eqd.t WHERE k = 5")
    val snap = graft.table.iceberg.IcebergMetadata.load(loc).currentSnapshot.get
    // the equality path: one key tuple, no data file rewritten
    assert(snap.operation === "delete")
    assert(snap.summary.get("added-equality-deletes").contains("1"))
    val entries = graft.table.iceberg.IcebergAvro
      .readManifestList(new org.apache.hadoop.fs.Path(snap.manifestList))
      .filter(mf => mf.content == 1 && mf.addedSnapshotId == snap.snapshotId)
    assert(entries.map(_.addedFilesCount) === Seq(Some(1)))
    assert(spark.table("graft_wh.eqd.t").count() === 19)
  }

  test("standard SQL reads a REAL (foreign-format) Iceberg table with deletes") {
    wh
    val spark0 = spark
    import spark0.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.ice")
    val loc = s"$wh/ice/foreign"
    val df = (1L to 200L).map(i => (i, s"v$i", i * 1.5)).toDF("id", "v", "x")
      .coalesce(1)
    graft.table.iceberg.IcebergWrite.create(spark, loc, df)
    graft.table.iceberg.IcebergWrite.deleteEquality(spark, loc,
      (1L to 200L).filter(_ % 4 == 0).map(Tuple1(_)).toDF("id"), Seq("id"))
    // SQL over the foreign table: 200 - 50 deleted = 150
    val n = spark.sql("SELECT count(*) FROM graft_wh.ice.foreign")
      .collect()(0).getLong(0)
    assert(n === 150)
    // filters + pruned columns still apply deletes correctly
    val hi = spark.sql(
      "SELECT v FROM graft_wh.ice.foreign WHERE id > 100").collect()
    assert(hi.length === (101L to 200L).count(_ % 4 != 0))
    // listed alongside graft tables
    assert(spark.sql("SHOW TABLES IN graft_wh.ice").collect()
      .map(_.getString(1)).contains("foreign"))
    // manifest statistics reach the optimizer (no unknown-size default)
    val stats = spark.table("graft_wh.ice.foreign")
      .queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 10L * 1024 * 1024,
      s"foreign iceberg relation reported ${stats.sizeInBytes} bytes")
    // positional delete visible through SQL too
    val target = spark.read
      .parquet(graft.table.iceberg.IcebergTable.load(spark, loc)
        .plannedFiles().map(_._1.filePath): _*)
      .withColumn("fp", col("_metadata.file_path"))
      .withColumn("pos", col("_metadata.row_index"))
      .filter(col("id") === 1L)
      .select(col("fp").as("file_path"), col("pos"))
    graft.table.iceberg.IcebergWrite.deletePositional(spark, loc, target)
    assert(spark.sql("SELECT count(*) FROM graft_wh.ice.foreign")
      .collect()(0).getLong(0) === 149)
  }

  test("SQL INSERT INTO a foreign Iceberg table commits real snapshots") {
    wh
    val spark0 = spark
    import spark0.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.ice")
    val loc = s"$wh/ice/writable"
    graft.table.iceberg.IcebergWrite.create(spark, loc,
      (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"))
    // INSERT INTO through standard SQL
    Seq((100L, "new1"), (101L, "new2")).toDF("id", "v")
      .createOrReplaceTempView("ice_ins_src")
    spark.sql("INSERT INTO graft_wh.ice.writable SELECT * FROM ice_ins_src")
    assert(spark.sql("SELECT count(*) FROM graft_wh.ice.writable")
      .collect()(0).getLong(0) === 52)
    // the commit is a REAL Iceberg snapshot: the interop reader (and
    // hence any other engine) sees the appended rows + snapshot chain
    val t = graft.table.iceberg.IcebergTable.load(spark, loc)
    assert(t.scan().count() === 52)
    assert(t.meta.snapshots.size === 2)
    assert(t.scan().filter(col("id") >= 100L).count() === 2)
    // INSERT OVERWRITE replaces content in a new snapshot; the old
    // snapshot still time-travels
    val before = t.meta.currentSnapshotId.get
    Seq((7L, "only")).toDF("id", "v").createOrReplaceTempView("ice_ow_src")
    spark.sql(
      "INSERT OVERWRITE graft_wh.ice.writable SELECT * FROM ice_ow_src")
    assert(spark.sql("SELECT count(*) FROM graft_wh.ice.writable")
      .collect()(0).getLong(0) === 1)
    val t2 = graft.table.iceberg.IcebergTable.load(spark, loc)
    assert(t2.meta.currentSnapshot.exists(_.operation == "overwrite"))
    assert(t2.timeTravel(before).count() === 52)
    // SQL time travel works on the FOREIGN table: by snapshot id...
    assert(spark.sql(
      s"SELECT count(*) FROM graft_wh.ice.writable VERSION AS OF $before")
      .collect()(0).getLong(0) === 52)
    // ...and by timestamp (resolves the latest snapshot at or before)
    val tsStr = new java.sql.Timestamp(
      t2.meta.snapshot(before).get.timestampMs).toString
    assert(spark.sql(
      s"SELECT count(*) FROM graft_wh.ice.writable TIMESTAMP AS OF '$tsStr'")
      .collect()(0).getLong(0) === 52)
  }

  test("foreign Iceberg join: runtime filters prune files, results exact") {
    wh
    val spark0 = spark
    import spark0.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.ice")
    val loc = s"$wh/ice/rtf"
    // 4 appends -> 4 files with disjoint id ranges
    graft.table.iceberg.IcebergWrite.create(spark, loc,
      (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "x").coalesce(1))
    Seq(101L to 200L, 201L to 300L, 301L to 400L).foreach(r =>
      graft.table.iceberg.IcebergWrite.append(spark, loc,
        r.map(i => (i, i * 2.0)).toDF("id", "x").coalesce(1)))
    val t = graft.table.iceberg.IcebergTable.load(spark, loc)
    assert(t.plannedFiles().size === 4)
    val dim = Seq(5L, 17L, 40L).toDF("k")
    val fact = spark.table("graft_wh.ice.rtf")
    val joined = fact.join(broadcast(dim), col("id") === col("k"))
    assert(joined.count() === 3)
    // after execution the adaptive plan shows the scan with runtime
    // group filtering applied (file pruning from the build side)
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("IcebergScan"), planStr)
    assert(planStr.contains("RuntimeFilters"), planStr)
  }

  test("foreign Iceberg bucket tables storage-partition-join without a shuffle") {
    wh
    val spark0 = spark
    import spark0.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.ice")
    val l1 = s"$wh/ice/spj_a"; val l2 = s"$wh/ice/spj_b"
    graft.table.iceberg.IcebergWrite.createWithSpec(spark, l1,
      (1L to 400L).map(i => (i, s"a$i")).toDF("id", "va"),
      Seq("id" -> "bucket[4]"))
    graft.table.iceberg.IcebergWrite.createWithSpec(spark, l2,
      (1L to 400L by 2).map(i => (i, s"b$i")).toDF("id", "vb"),
      Seq("id" -> "bucket[4]"))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val a = spark.table("graft_wh.ice.spj_a")
      val b = spark.table("graft_wh.ice.spj_b")
      val joined = a.join(b, "id")
      val plan = joined.queryExecution.executedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(joins.nonEmpty, s"expected a shuffled join operator:\n$plan")
      val exchangesBelowJoin = joins.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchangesBelowJoin.isEmpty,
        s"foreign bucket SPJ must not shuffle either side:\n$plan")
      assert(joined.count() === 200)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("PARTITIONED BY transforms map onto the Iceberg spec") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.db2")
    spark.sql(
      """CREATE TABLE graft_wh.db2.ev (event_id BIGINT, ts TIMESTAMP, v DOUBLE)
         PARTITIONED BY (days(ts), bucket(8, event_id))""")
    val t = graft.table.GraftTable.load(spark, s"$wh/db2/ev")
    assert(t.meta.spec.map(_.transform) === Seq("day", "bucket[8]"))
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("value").as("v"))
      .createOrReplaceTempView("ev_src_cat")
    spark.sql("INSERT INTO graft_wh.db2.ev SELECT * FROM ev_src_cat")
    assert(spark.sql("SELECT count(*) FROM graft_wh.db2.ev").collect()(0).getLong(0)
      === Tables.events(spark, sf).count())
    // partition values recorded per file
    val files = t.plannedFiles(Seq.empty)
    assert(files.forall(f => f.partitionValues.contains("_p_ts_day") &&
      f.partitionValues.contains("_p_event_id_bucket")))
  }

  test("CALL register_table adopts an external table; DROP deregisters") {
    val spark0 = spark
    import spark0.implicits._
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.reg")
    // a graft table living OUTSIDE the warehouse
    val ext = java.nio.file.Files
      .createTempDirectory("graft-external").toString + "/t"
    val t = graft.table.GraftTable.create(spark, ext,
      Seq((1L, 1.0)).toDF("k", "v").schema)
    t.append(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    val r = spark.sql(
      s"CALL graft_wh.system.register_table(table => 'reg.t', " +
        s"location => '$ext')").collect()(0)
    assert(r.getString(0) === ext)
    assert(r.getLong(1) === t.meta.currentSnapshotId.get)
    // reads, writes and metadata tables resolve through the pointer
    assert(spark.sql("SELECT count(*) FROM graft_wh.reg.t")
      .collect()(0).getLong(0) === 2)
    spark.sql("INSERT INTO graft_wh.reg.t VALUES (3, 3.0)")
    assert(spark.sql("SELECT count(*) FROM graft_wh.reg.t")
      .collect()(0).getLong(0) === 3)
    assert(spark.sql("SELECT count(*) FROM graft_wh.reg.t.snapshots")
      .collect()(0).getLong(0) === 2)
    // SHOW TABLES lists it; CALL procedures reach it
    assert(spark.sql("SHOW TABLES IN graft_wh.reg").collect()
      .map(_.getString(1)).contains("t"))
    // a young older_than_ms bound keeps everything past the floor;
    // dropping the bound enforces the floor
    val kept = spark.sql("CALL graft_wh.system.expire_snapshots(" +
      "table => 'reg.t', keep_last => 1, older_than_ms => 3600000)")
      .collect()
    assert(kept(0).getInt(0) === kept(0).getInt(1),
      "everything is younger than the bound")
    spark.sql("CALL graft_wh.system.expire_snapshots(table => 'reg.t', " +
      "keep_last => 1)")
    // double registration refused
    assertThrows[Exception] {
      spark.sql(s"CALL graft_wh.system.register_table(" +
        s"table => 'reg.t', location => '$ext')").collect()
    }
    // DROP removes only the registration; the external table survives
    spark.sql("DROP TABLE graft_wh.reg.t")
    assert(!spark.sql("SHOW TABLES IN graft_wh.reg").collect()
      .map(_.getString(1)).contains("t"))
    assert(graft.table.GraftTable.load(spark, ext).scan().count() === 3)
  }

  test("SQL metadata tables: entries / delete_files / all_files / metadata_log") {
    val spark0 = spark
    import spark0.implicits._
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.mt3")
    spark.sql("CREATE TABLE graft_wh.mt3.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "v")
      .createOrReplaceTempView("mt3_src")
    spark.sql("INSERT INTO graft_wh.mt3.t SELECT * FROM mt3_src")
    spark.sql("INSERT INTO graft_wh.mt3.t SELECT k + 10, v FROM mt3_src")
    spark.sql("DELETE FROM graft_wh.mt3.t WHERE k = 2")

    // delete_files: the MoR delete landed as a delete file (content
    // 1 = positional, 2 = equality), sequence-stamped
    val dels = spark.sql(
      "SELECT content, data_sequence FROM graft_wh.mt3.t.delete_files")
      .collect()
    assert(dels.nonEmpty)
    assert(dels.forall(r => r.getInt(0) == 1 || r.getInt(0) == 2))
    assert(dels.forall(_.getLong(1) > 0))

    // entries: one row per manifest entry, additions visible
    val adds = spark.sql(
      "SELECT count(*) FROM graft_wh.mt3.t.entries WHERE status = 1")
      .collect()(0).getLong(0)
    assert(adds >= 3) // 2 data appends + ≥1 delete file

    // compaction folds the delete and retires files: entries gains
    // status=2 rows; all_files keeps the dead files flagged not-live
    spark.sql("CALL graft_wh.system.rewrite_data_files(table => 'mt3.t')")
    val removedEntries = spark.sql(
      "SELECT count(*) FROM graft_wh.mt3.t.entries WHERE status = 2")
      .collect()(0).getLong(0)
    assert(removedEntries > 0)
    val af = spark.sql(
      "SELECT live, count(*) FROM graft_wh.mt3.t.all_files GROUP BY live")
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(af.getOrElse(true, 0L) > 0 && af.getOrElse(false, 0L) > 0)
    // live all_files rows reconcile with the files table
    val liveN = spark.sql("SELECT count(*) FROM graft_wh.mt3.t.files")
      .collect()(0).getLong(0)
    assert(af(true) === liveN)

    // position_deletes: delete-file CONTENT, read distributed (one
    // partition per delete file, rows stamped with their source file)
    val t0 = graft.table.GraftTable.load(spark, s"$wh/mt3/t")
    t0.deleteWhereMoRPositional(col("k") === 11L)
    val pd = spark.sql(
      """SELECT file_path, pos, delete_file FROM
         graft_wh.mt3.t.position_deletes""").collect()
    val posFiles = t0.meta.liveDeleteFiles(None).filter(_.content == 1)
    assert(pd.nonEmpty && posFiles.nonEmpty)
    assert(pd.forall(_.getString(0).endsWith(".parquet")))
    assert(pd.forall(_.getLong(1) >= 0))
    assert(pd.forall(_.getString(2).nonEmpty))
    // every row's delete_file is a live positional delete file
    assert(pd.map(_.getString(2)).toSet.subsetOf(
      posFiles.map(_.path).toSet))
    // the k=11 positional delete contributed exactly one row slot
    val before = pd.length
    t0.deleteWhereMoRPositional(col("k") === 12L)
    assert(spark.sql(
      "SELECT count(*) FROM graft_wh.mt3.t.position_deletes")
      .collect()(0).getLong(0) === before.toLong + 1)

    // metadata_log_entries: one row per metadata version, increasing,
    // the newest pointing at the current snapshot
    val log = spark.sql(
      """SELECT version, latest_snapshot_id FROM
         graft_wh.mt3.t.metadata_log_entries ORDER BY version""").collect()
    assert(log.length >= 4) // create + 2 inserts + delete + rewrite
    assert(log.map(_.getInt(0)).toSeq === log.map(_.getInt(0)).sorted.toSeq)
    val t = graft.table.GraftTable.load(spark, s"$wh/mt3/t")
    assert(log.last.getLong(1) === t.meta.currentSnapshotId.get)
    spark.sql("DROP TABLE graft_wh.mt3.t")
  }

  test("CALL add_files imports in place; connector reads mixed files") {
    wh
    val o = Tables.orders(spark, sf)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.proc")
    val src = java.nio.file.Files
      .createTempDirectory("graft-sql-import").toString + "/src"
    o.filter(col("o_orderkey") % 2 === 0)
      .write.partitionBy("o_orderstatus").parquet(src)
    o.filter(col("o_orderkey") % 2 =!= 0).createOrReplaceTempView("odd_src")
    val written = spark.read.parquet(src).schema
    spark.sql("CREATE TABLE graft_wh.proc.imp (" +
      written.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ") +
      ") PARTITIONED BY (o_orderstatus)")
    spark.sql("INSERT INTO graft_wh.proc.imp " +
      s"SELECT ${written.fieldNames.mkString(", ")} FROM odd_src")
    val r = spark.sql(
      s"CALL graft_wh.system.add_files(table => 'proc.imp', " +
        s"source_dir => '$src')").collect()(0)
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
    // mixed native + imported rows through the V2 connector
    assert(spark.sql("SELECT count(*) FROM graft_wh.proc.imp")
      .collect()(0).getLong(0) === o.count())
    // identity constants filled from the hive dirs
    assert(spark.sql("SELECT count(*) FROM graft_wh.proc.imp " +
      "WHERE o_orderstatus IS NULL").collect()(0).getLong(0) === 0)
    val wantF = o.filter(col("o_orderstatus") === "F").count()
    assert(spark.sql("SELECT count(*) FROM graft_wh.proc.imp " +
      "WHERE o_orderstatus = 'F'").collect()(0).getLong(0) === wantF)
    // aggregate over an imported numeric column matches the source
    val want = o.agg(sum("o_totalprice")).collect()(0).getDouble(0)
    val got = spark.sql("SELECT sum(o_totalprice) FROM graft_wh.proc.imp")
      .collect()(0).getDouble(0)
    assert(math.abs(got - want) < 1e-4)
  }

  test("CALL rewrite_data_files strategy zorder clusters named columns") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.proc")
    spark.sql("CREATE TABLE graft_wh.proc.zt (a BIGINT, b BIGINT)")
    spark.sql(
      "INSERT INTO graft_wh.proc.zt " +
        "SELECT id % 64 AS a, id DIV 64 AS b FROM range(4096)")
    val rw = spark.sql(
      "CALL graft_wh.system.rewrite_data_files(table => 'proc.zt', " +
        "strategy => 'zorder', sort_columns => 'a, b', " +
        "target_file_size_bytes => 1024)").collect()(0)
    assert(rw.getInt(1) > 1, s"zorder rewrite should add several files: $rw")
    assert(spark.sql("SELECT count(*) FROM graft_wh.proc.zt")
      .collect()(0).getLong(0) === 4096)
    // unknown sort_columns fail fast
    val err = intercept[Exception] {
      spark.sql("CALL graft_wh.system.rewrite_data_files(" +
        "table => 'proc.zt', strategy => 'zorder', sort_columns => 'nope, b')")
    }
    assert(err.getMessage.contains("nope"))
  }

  // procedures otherwise CALLed only on real-format tables, on both
  // formats: result rows and table contents against a model
  for (format <- Seq("graft", "iceberg"))
  test("CALL rewrite_position_deletes, rewrite_manifests, analyze_table " +
      "and update_by_key against a model" +
      (if (format == "iceberg") " [iceberg]" else "")) {
    wh
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergAvro, IcebergMetadata, IcebergWrite}
    val iceberg = format == "iceberg"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.proc")
    val name = if (iceberg) "legs_ice" else "legs"
    val table = s"graft_wh.proc.$name"
    val root = s"$wh/proc/$name"
    def call(proc: String, args: String = ""): Array[org.apache.spark.sql.Row] =
      spark.sql(s"CALL graft_wh.system.$proc(table => 'proc.$name'$args)").collect()
    def rows = spark.table(table).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    def posDeleteFiles = spark.sql(
      s"SELECT count(*) FROM $table.delete_files WHERE content = 1")
      .collect()(0).getLong(0)
    def dataManifests = IcebergAvro.readManifestList(new org.apache.hadoop.fs.Path(
      IcebergMetadata.load(root).currentSnapshot.get.manifestList)).count(_.content == 0)
    if (iceberg) IcebergWrite.create(spark, root, Seq.empty[(Long, String)].toDF("k", "v"))
    else spark.sql(s"CREATE TABLE $table (k BIGINT, v STRING)")
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read')")
    val model = scala.collection.mutable.Map[Long, String]()
    for (b <- 0 until 3) {
      val batch = (1L to 100L).map(i => (b * 100L + i, s"v${i % 7}"))
      batch.toDF("k", "v").createOrReplaceTempView("legs_src")
      spark.sql(s"INSERT INTO $table SELECT * FROM legs_src")
      model ++= batch
    }
    // two merge-on-read DELETEs, each leaving position-delete files
    Seq(1, 3).foreach { r =>
      spark.sql(s"DELETE FROM $table WHERE k % 10 = $r")
      model --= model.keys.filter(_ % 10 == r).toSeq
    }
    assert(rows === model.toSeq.sorted)

    val pos = posDeleteFiles
    assert(pos >= 2, s"expected a position-delete file per DELETE, got $pos")
    val consolidated = call("rewrite_position_deletes").head
    assert((consolidated.getInt(0), consolidated.getInt(1)) === ((pos.toInt, 1)))
    assert(posDeleteFiles === 1L)
    assert(rows === model.toSeq.sorted)
    val again = call("rewrite_position_deletes").head
    assert((again.getInt(0), again.getInt(1)) === ((0, 0)))

    // graft tables write multi-group manifests, so only legacy
    // single-file ones need re-spilling; the real format consolidates
    // the current snapshot's data manifests into one
    val fat =
      if (iceberg) dataManifests
      else graft.table.GraftTable.load(spark, root).meta.snapshots
        .count(_.manifestPath.isDefined)
    val rewritten = call("rewrite_manifests").head.getInt(0)
    if (iceberg) {
      assert(fat > 1 && rewritten === fat)
      assert(dataManifests === 1)
    } else assert(rewritten === fat)
    assert(rows === model.toSeq.sorted)

    // NDVs per column in name order; only graft tables persist them
    val ndv = call("analyze_table").map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ndv.map(_._1) === Seq("k", "v"))
    assert(math.abs(ndv(0)._2 - model.size) <= model.size / 10, s"ndv $ndv")
    assert(ndv(1)._2 === model.values.toSet.size.toLong)
    val props =
      if (iceberg) IcebergMetadata.load(root).properties
      else graft.table.GraftTable.load(spark, root).meta.properties
    assert(props.contains("stats.ndv.k") === !iceberg)

    // keys 2 and 4 are live, 11 was deleted: two rows change
    val updated = call("update_by_key", ", key_column => 'k', " +
      "key_values => '2, 4, 11', assignments => \"v = concat(v, '!')\"")
      .head.getLong(0)
    val hit = Seq(2L, 4L, 11L).filter(model.contains)
    hit.foreach(k => model(k) = model(k) + "!")
    assert(hit.size === 2 && updated === 2L)
    assert(rows === model.toSeq.sorted)

    if (iceberg) {
      // z-order has no real-format form: both procedures refuse
      def refusal(proc: String, args: String): String = {
        val e = intercept[Exception](call(proc, args))
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .flatMap(c => Option(c.getMessage)).mkString("\n")
      }
      assert(refusal("rewrite_data_files",
        ", strategy => 'zorder', sort_columns => 'k, v'").contains(
        "rewrite strategy 'zorder' is not supported on real-format " +
          "Iceberg tables (binpack | sort)"))
      assert(refusal("set_sort_order", ", order => 'zorder(k, v)'").contains(
        "zorder sort orders have no real-format Iceberg spec form"))
      assert(rows === model.toSeq.sorted)
    }
  }

  // one ALTER TABLE statement is one metadata commit, on both formats
  for (format <- Seq("graft", "iceberg"))
  test("SET / UNSET TBLPROPERTIES round-trip through ALTER TABLE" +
      (if (format == "iceberg") " [iceberg]" else "")) {
    wh
    val spark0 = spark
    import spark0.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.proc")
    val name = if (format == "iceberg") "props_ice" else "props"
    val root = s"$wh/proc/$name"
    if (format == "iceberg")
      graft.table.iceberg.IcebergWrite.create(spark, root, Seq.empty[Long].toDF("k"))
    else spark.sql(s"CREATE TABLE graft_wh.proc.$name (k BIGINT)")
    def props =
      if (format == "iceberg") graft.table.iceberg.IcebergMetadata.load(root).properties
      else graft.table.GraftTable.load(spark, root).meta.properties
    def version = new java.io.File(s"$root/metadata").list().toSeq
      .collect { case s"v$n.metadata.json" => n.toInt }.max
    val v0 = version
    spark.sql(s"ALTER TABLE graft_wh.proc.$name " +
      "SET TBLPROPERTIES ('team'='graft', 'retention'='7d', 'tier'='gold')")
    assert(version === v0 + 1, "SET TBLPROPERTIES took more than one commit")
    assert(props.get("team").contains("graft"))
    assert(props.get("retention").contains("7d"))
    spark.sql(s"ALTER TABLE graft_wh.proc.$name UNSET TBLPROPERTIES ('retention', 'tier')")
    assert(version === v0 + 2, "UNSET TBLPROPERTIES took more than one commit")
    assert(!props.contains("retention") && !props.contains("tier"))
    assert(props.get("team").contains("graft"))
    spark.sql(s"ALTER TABLE graft_wh.proc.$name ADD COLUMNS (a INT, b STRING)")
    assert(version === v0 + 3, "ADD COLUMNS took more than one commit")
    assert(spark.table(s"graft_wh.proc.$name").columns.toSeq === Seq("k", "a", "b"))
  }

  test("CALL set_sort_order clusters future SQL writes") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.proc")
    spark.sql("CREATE TABLE graft_wh.proc.so (k BIGINT, v STRING)")
    val out = spark.sql(
      "CALL graft_wh.system.set_sort_order(table => 'proc.so', order => 'k')")
      .collect()(0)
    assert(out.getString(0) === "k")
    val t = graft.table.GraftTable.load(spark, s"$wh/proc/so")
    assert(t.meta.sortOrder === Seq("k"))
    // an INSERT after evolution range-clusters: files disjoint on k
    spark.sql("INSERT INTO graft_wh.proc.so " +
      "SELECT (id * 2654435761) % 4096 AS k, cast(id AS STRING) AS v " +
      "FROM range(4096)")
    val ranges = t.meta.currentSnapshotId.map(id =>
      t.meta.snapshot(id).get.files.flatMap(_.stats.get("k"))
        .map(st => (st.min.toLong, st.max.toLong)).sortBy(_._1))
      .getOrElse(Seq.empty)
    assert(ranges.nonEmpty)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"sorted-write bounds overlap: $ranges")
      case _ =>
    }
    // zorder entries parse as a single spec
    spark.sql(
      "CALL graft_wh.system.set_sort_order('proc.so', 'zorder(k, v)')")
    assert(graft.table.GraftTable.load(spark, s"$wh/proc/so")
      .meta.sortOrder === Seq("zorder(k, v)"))
  }

  test("CALL set_sort_order clusters future SQL writes [iceberg]") {
    wh
    val spark0 = spark
    import spark0.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.proc")
    val loc = s"$wh/proc/iso"
    graft.table.iceberg.IcebergWrite.create(spark, loc,
      Seq.empty[(Long, String)].toDF("k", "v"))
    spark.sql(
      "CALL graft_wh.system.set_sort_order(table => 'proc.iso', order => 'k')")
    // an INSERT after evolution range-clusters: files disjoint on k
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try spark.sql("INSERT INTO graft_wh.proc.iso " +
      "SELECT (id * 2654435761) % 4096 AS k, cast(id AS STRING) AS v " +
      "FROM range(4096)")
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", parts0)
    }
    val ranges = graft.table.iceberg.IcebergTable.load(spark, loc)
      .plannedFiles().flatMap(_._2.get("k"))
      .map(st => (st.min.toLong, st.max.toLong)).sortBy(_._1)
    assert(ranges.size > 1, s"expected multiple files, got $ranges")
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"sorted-write bounds overlap: $ranges")
      case _ =>
    }
  }

  test("CALL procedures: expire / vacuum / rewrite / rollback / branch / tag") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.proc")
    spark.sql("CREATE TABLE graft_wh.proc.t (k BIGINT, v DOUBLE)")
    (1 to 4).foreach { i =>
      spark.sql(s"INSERT INTO graft_wh.proc.t VALUES ($i, $i.5)")
    }
    val t = graft.table.GraftTable.load(spark, s"$wh/proc/t")
    val snaps = t.meta.snapshots.map(_.snapshotId)
    assert(snaps.size === 4)

    // rollback_to_snapshot (positional args)
    val rb = spark.sql(
      s"CALL graft_wh.system.rollback_to_snapshot('proc.t', ${snaps(2)})")
      .collect()(0)
    assert(rb.getLong(0) === snaps(3) && rb.getLong(1) === snaps(2))
    assert(spark.sql("SELECT count(*) FROM graft_wh.proc.t")
      .collect()(0).getLong(0) === 3)

    // create_branch / create_tag (named args, defaulted snapshot_id)
    val br = spark.sql(
      "CALL graft_wh.system.create_branch(table => 'proc.t', branch => 'dev')")
      .collect()(0)
    assert(br.getString(0) === "dev" && br.getLong(1) === snaps(2))
    spark.sql(s"CALL graft_wh.system.create_tag('proc.t', 'v1', ${snaps(0)})")
    assert(t.meta.refs("dev") === snaps(2) && t.meta.refs("v1") === snaps(0))

    // rewrite_data_files bin-packs the 3 live single-row files into 1
    val rw = spark.sql("CALL graft_wh.system.rewrite_data_files('proc.t')")
      .collect()(0)
    assert(rw.getInt(0) === 3 && rw.getInt(1) === 1)
    assert(spark.sql("SELECT sum(k) FROM graft_wh.proc.t")
      .collect()(0).getLong(0) === 6)

    // expire_snapshots keeps refs' ancestry; then vacuum GCs old files
    val ex = spark.sql(
      "CALL graft_wh.system.expire_snapshots('proc.t', keep_last => 1)")
      .collect()(0)
    assert(ex.getInt(1) < ex.getInt(0))
    val vac = spark.sql(
      "CALL graft_wh.system.vacuum('proc.t', older_than_ms => 0)")
      .collect()(0)
    assert(vac.getInt(0) >= 1) // snapshot 4's file is unreferenced post-rollback
    assert(spark.sql("SELECT count(*) FROM graft_wh.proc.t")
      .collect()(0).getLong(0) === 3)
    // the tag still reads its pinned snapshot after expire+vacuum
    assert(spark.read.format("graft").option("branch", "v1")
      .load(s"$wh/proc/t").count() === 1)
  }

  test("CALL remove_orphan_files sweeps stale staging dirs, honors dry_run") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.proc2")
    spark.sql("CREATE TABLE graft_wh.proc2.t (k BIGINT)")
    spark.sql("INSERT INTO graft_wh.proc2.t VALUES (1), (2)")
    // simulate a crashed commit: an abandoned staging dir + a stray file
    val root = java.nio.file.Paths.get(s"$wh/proc2/t")
    val stale = root.resolve("stage-deadbeef")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.write(stale.resolve("part-0.parquet"),
      Array[Byte](1, 2, 3))
    java.nio.file.Files.write(root.resolve("data").resolve("stray.parquet"),
      Array[Byte](4, 5))
    val dry = spark.sql(
      "CALL graft_wh.system.remove_orphan_files('proc2.t', 0, true)")
      .collect().map(_.getString(0)).sorted
    assert(dry.toSeq === Seq("data/stray.parquet", "stage-deadbeef"))
    assert(java.nio.file.Files.exists(stale)) // dry run deleted nothing
    val real = spark.sql(
      "CALL graft_wh.system.remove_orphan_files('proc2.t', older_than_ms => 0)")
      .collect().map(_.getString(0)).sorted
    assert(real.toSeq === Seq("data/stray.parquet", "stage-deadbeef"))
    assert(!java.nio.file.Files.exists(stale))
    assert(spark.sql("SELECT count(*) FROM graft_wh.proc2.t")
      .collect()(0).getLong(0) === 2)
    // listProcedures surfaces the system namespace
    val names = spark.sessionState.catalogManager.catalog("graft_wh")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.ProcedureCatalog]
      .listProcedures(Array("system")).map(_.name()).toSeq
    assert(names.contains("remove_orphan_files") &&
      names.contains("update_by_key") &&
      names.contains("create_mat_view") &&
      names.contains("refresh_mat_view") &&
      names.contains("remove_orphan_staging") &&
      names.contains("commit_transaction") && names.size === 22)
  }

  test("incremental read options flow through spark.read.table") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.inc")
    spark.sql("CREATE TABLE graft_wh.inc.t (k BIGINT)")
    spark.sql("INSERT INTO graft_wh.inc.t VALUES (1), (2)")
    val t = graft.table.GraftTable.load(spark, s"$wh/inc/t")
    val s1 = t.meta.currentSnapshotId.get
    spark.sql("INSERT INTO graft_wh.inc.t VALUES (3), (4), (5)")
    val got = spark.read.option("start-snapshot-id", s1.toString)
      .table("graft_wh.inc.t").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(3L, 4L, 5L))
  }

  test("CALL create_changelog_view: CDC consumable from pure SQL") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.cdc")
    spark.sql("CREATE TABLE graft_wh.cdc.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_wh.cdc.t VALUES (1, 'a'), (2, 'b')")
    val t = graft.table.GraftTable.load(spark, s"$wh/cdc/t")
    val s1 = t.meta.currentSnapshotId.get
    spark.sql("INSERT INTO graft_wh.cdc.t VALUES (3, 'c')")
    spark.sql("DELETE FROM graft_wh.cdc.t WHERE k = 1")
    val res = spark.sql(
      s"""CALL graft_wh.system.create_changelog_view(
            'cdc.t', 'cdc_changes', start_snapshot_id => $s1)""").collect()(0)
    assert(res.getString(0) === "cdc_changes" && res.getLong(1) === 2L)
    val rows = spark.sql(
      """SELECT k, v, _change_type FROM cdc_changes
         ORDER BY _commit_snapshot_id, k""").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(rows === Seq((3L, "c", "insert"), (1L, "a", "delete")))
  }

  test("write-audit-publish: stage on a branch, audit, publish via CALL") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wh.wap")
    spark.sql("CREATE TABLE graft_wh.wap.t (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft_wh.wap.t VALUES (1, 1.0)")
    val root = s"$wh/wap/t"
    val t = graft.table.GraftTable.load(spark, root)
    val published = t.meta.currentSnapshotId.get
    // stage two appends on an audit branch — main must not see them
    spark.sql(s"CALL graft_wh.system.create_branch('wap.t', 'audit')")
    val spark0 = spark
    import spark0.implicits._
    t.append(Seq((2L, 2.0)).toDF("k", "v"), branch = "audit")
    t.append(Seq((3L, 3.0)).toDF("k", "v"), branch = "audit")
    assert(spark.sql("SELECT count(*) FROM graft_wh.wap.t")
      .collect()(0).getLong(0) === 1)
    // audit the staged rows through the branch read — connector
    // option or SQL VERSION AS OF with the ref NAME — then publish
    assert(spark.read.format("graft").option("branch", "audit")
      .load(root).count() === 3)
    assert(spark.sql(
      "SELECT count(*) FROM graft_wh.wap.t VERSION AS OF 'audit'")
      .collect()(0).getLong(0) === 3)
    val ff = spark.sql(
      "CALL graft_wh.system.fast_forward('wap.t', 'main', 'audit')").collect()(0)
    assert(ff.getLong(0) === published)
    assert(spark.sql("SELECT count(*) FROM graft_wh.wap.t")
      .collect()(0).getLong(0) === 3)
    // a diverged move refuses: main has advanced past the branch tip
    spark.sql("INSERT INTO graft_wh.wap.t VALUES (4, 4.0)")
    val ex = intercept[Exception](spark.sql(
      "CALL graft_wh.system.fast_forward('wap.t', 'main', 'audit')").collect())
    assert(ex.getMessage.contains("not a fast-forward") ||
      ex.getCause != null &&
        ex.getCause.getMessage.contains("not a fast-forward"))

    // cherry-pick: stage one append on a fresh branch off current main,
    // publish just that commit as a new main snapshot
    spark.sql("CALL graft_wh.system.create_branch('wap.t', 'fix')")
    t.append(Seq((9L, 9.0)).toDF("k", "v"), branch = "fix")
    val staged = t.meta.refs("fix")
    val cp = spark.sql(
      s"CALL graft_wh.system.cherrypick_snapshot('wap.t', $staged)").collect()(0)
    assert(cp.getLong(0) === staged)
    assert(spark.sql("SELECT sum(k) FROM graft_wh.wap.t")
      .collect()(0).getLong(0) === 1 + 2 + 3 + 4 + 9)
    // picking a non-append or an on-main snapshot refuses
    val ex2 = intercept[Exception](spark.sql(
      s"CALL graft_wh.system.cherrypick_snapshot('wap.t', ${cp.getLong(1)})")
      .collect())
    assert(ex2.getMessage.contains("already on the main chain") ||
      ex2.getCause != null &&
        ex2.getCause.getMessage.contains("already on the main chain"))
  }
}
