package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** V2 overwrite modes through the catalog plugin: static
  * `INSERT OVERWRITE ... PARTITION`, `REPLACE WHERE` filters, and
  * dynamic partition overwrite — each ONE snapshot, with whole-file
  * drops proven metadata-only where the filter aligns to stats. */
class OverwriteModesSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val wh = {
    val dir = Files.createTempDirectory("graft-ow").toString
    spark.conf.set("spark.sql.catalog.owm", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.owm.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS owm.db")
    dir
  }

  private def mkDays(name: String): String = {
    wh
    spark.sql(s"CREATE TABLE owm.db.$name (k BIGINT, day STRING, v DOUBLE) " +
      "PARTITIONED BY (identity(day))")
    spark.sql(s"INSERT INTO owm.db.$name VALUES " +
      "(1,'d1',1.0),(2,'d1',2.0),(10,'d2',10.0),(11,'d2',11.0),(20,'d3',20.0)")
    s"$wh/db/$name"
  }

  private def rows(name: String): Seq[(Long, String)] =
    spark.sql(s"SELECT k, day FROM owm.db.$name ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  test("static partition overwrite drops the partition metadata-only") {
    val root = mkDays("st")
    val before = graft.table.Meta.load(root)
    val untouchedPaths = before.liveFiles(None)
      .filter(_.partitionValues.get("_p_day").exists(_ != "d2")).map(_.path).toSet
    spark.sql("INSERT OVERWRITE owm.db.st PARTITION (day='d2') VALUES (100, 100.0)")
    assert(rows("st") === Seq((1L, "d1"), (2L, "d1"), (20L, "d3"), (100L, "d2")))
    val m = graft.table.Meta.load(root)
    val snap = m.snapshots.last
    assert(snap.operation === "overwrite")
    // whole-file drop: nothing from d1/d3 was rewritten and d2's old
    // file was dropped without a read — the snapshot added exactly
    // the new data, all of it routed to d2
    assert(snap.addedFiles.forall(_.partitionValues.get("_p_day").contains("d2")),
      s"rewrite leaked into added files: ${snap.addedFiles.map(_.partitionValues)}")
    // untouched partitions keep their exact files
    val after = m.liveFiles(None).map(_.path).toSet
    assert(untouchedPaths.subsetOf(after), "untouched partitions were rewritten")
  }

  test("REPLACE WHERE rewrites only partially-matching files, 3VL kept") {
    val root = mkDays("rw")
    // non-aligned filter: k >= 11 crosses d2 (partial) and d3 (full by
    // value but proven only via equality stats, so it rewrites)
    spark.sql("INSERT INTO owm.db.rw REPLACE WHERE k >= 11 " +
      "VALUES (200, 'd9', 200.0)")
    assert(rows("rw") ===
      Seq((1L, "d1"), (2L, "d1"), (10L, "d2"), (200L, "d9")))
    val m = graft.table.Meta.load(root)
    assert(m.snapshots.last.operation === "overwrite")
  }

  test("dynamic partition overwrite replaces exactly the touched partitions") {
    val root = mkDays("dy")
    val before = graft.table.Meta.load(root)
    val d1Paths = before.liveFiles(None)
      .filter(_.partitionValues.get("day").contains("d1")).map(_.path).toSet
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE owm.db.dy VALUES " +
        "(300,'d2',1.0),(301,'d4',2.0)")
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    assert(rows("dy") ===
      Seq((1L, "d1"), (2L, "d1"), (20L, "d3"), (300L, "d2"), (301L, "d4")))
    val m = graft.table.Meta.load(root)
    // d1 files are byte-identical survivors, not rewrites
    assert(d1Paths.subsetOf(m.liveFiles(None).map(_.path).toSet))
    // one snapshot did it all
    assert(m.snapshots.size === before.snapshots.size + 1)
  }

  test("real-format table: static partition overwrite, metadata-only drop") {
    wh
    val spark0 = spark
    import spark0.implicits._
    val loc = s"$wh/db/ice_ow"
    graft.table.iceberg.IcebergWrite.createWithSpec(spark, loc,
      Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (10L, "d2", 10.0),
        (20L, "d3", 20.0)).toDF("k", "day", "v"),
      Seq(("day", "identity")))
    val before = graft.table.iceberg.IcebergMetadata.load(loc)
    spark.sql("INSERT OVERWRITE owm.db.ice_ow PARTITION (day='d2') " +
      "VALUES (100, 100.0)")
    assert(rows("ice_ow") ===
      Seq((1L, "d1"), (2L, "d1"), (20L, "d3"), (100L, "d2")))
    val m = graft.table.iceberg.IcebergMetadata.load(loc)
    assert(m.snapshots.size === before.snapshots.size + 1)
    // pre-overwrite snapshot still serves the old d2
    val pre = before.currentSnapshotId.get
    assert(spark.sql(s"SELECT k FROM owm.db.ice_ow VERSION AS OF $pre " +
      "WHERE day = 'd2'").collect().map(_.getLong(0)).toSeq === Seq(10L))
    // REPLACE WHERE with a non-aligned filter keeps non-matching rows
    spark.sql("INSERT INTO owm.db.ice_ow REPLACE WHERE k >= 20 " +
      "VALUES (500, 'd9', 5.0)")
    assert(rows("ice_ow") ===
      Seq((1L, "d1"), (2L, "d1"), (500L, "d9")))
  }

  test("REST table: REPLACE WHERE rides the protocol commit") {
    val rwh = java.nio.file.Files.createTempDirectory("graft-ow-rest").toString
    val server = new graft.table.iceberg.IcebergRestServer(rwh).start()
    val base = s"http://127.0.0.1:${server.port}"
    try {
      spark.conf.set("spark.sql.catalog.owr", "graft.spark.GraftTableCatalog")
      spark.conf.set("spark.sql.catalog.owr.uri", base)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS owr.db")
      spark.sql("CREATE TABLE owr.db.t (k BIGINT, day STRING) " +
        "PARTITIONED BY (identity(day))")
      spark.sql("INSERT INTO owr.db.t VALUES (1,'d1'),(10,'d2'),(20,'d3')")
      spark.sql("INSERT OVERWRITE owr.db.t PARTITION (day='d2') VALUES (99)")
      val got = spark.sql("SELECT k, day FROM owr.db.t ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got === Seq((1L, "d1"), (20L, "d3"), (99L, "d2")))
      // the swap was a protocol commit on the same table, not a
      // drop+create: one more snapshot on the same uuid
      val loc = graft.table.iceberg.IcebergRestClient
        .tableRootOf(base, "db", "t").get
      val m = graft.table.iceberg.IcebergMetadata.load(loc)
      assert(m.snapshots.size === 2)
    } finally {
      spark.conf.unset("spark.sql.catalog.owr")
      spark.conf.unset("spark.sql.catalog.owr.uri")
      graft.table.iceberg.IcebergRestCommit.deregisterBase(base)
      server.stop()
    }
  }

  test("DataFrameWriterV2 overwrite(condition) rides the same one-snapshot path") {
    val root = mkDays("wt")
    val spark0 = spark
    import spark0.implicits._
    Seq((700L, "d2", 7.0)).toDF("k", "day", "v")
      .writeTo("owm.db.wt").overwrite($"day" === "d2")
    assert(rows("wt") ===
      Seq((1L, "d1"), (2L, "d1"), (20L, "d3"), (700L, "d2")))
    val m = graft.table.Meta.load(root)
    assert(m.snapshots.last.operation === "overwrite")
    // overwritePartitions() is the dynamic mode through the V2 API
    Seq((800L, "d3", 8.0)).toDF("k", "day", "v")
      .writeTo("owm.db.wt").overwritePartitions()
    assert(rows("wt") ===
      Seq((1L, "d1"), (2L, "d1"), (700L, "d2"), (800L, "d3")))
  }

  test("real-format dynamic overwrite is refused loudly, not mis-run") {
    wh
    val spark0 = spark
    import spark0.implicits._
    val loc = s"$wh/db/ice_dyn"
    graft.table.iceberg.IcebergWrite.createWithSpec(spark, loc,
      Seq((1L, "d1")).toDF("k", "day"), Seq(("day", "identity")))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // the interop table's V2 batch write offers no dynamic
      // overwrite — the statement must fail at analysis (no
      // OVERWRITE_DYNAMIC capability), never fall back to a truncate
      val e = intercept[Exception] {
        spark.sql("INSERT OVERWRITE owm.db.ice_dyn VALUES (9, 'd9')")
      }
      assert(e.getMessage.contains("dynamic overwrite"),
        s"unexpected failure shape: ${e.getMessage.take(200)}")
      assert(spark.sql("SELECT k FROM owm.db.ice_dyn").collect()
        .map(_.getLong(0)).toSeq === Seq(1L), "table must be untouched")
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
  }

  test("filter and partition overwrites refuse a branch, both formats untouched") {
    val spark0 = spark
    import spark0.implicits._
    val graftRoot = mkDays("brg")
    val gt = graft.table.GraftTable.load(spark, graftRoot)
    gt.setRef("audit", gt.meta.currentSnapshotId.get)
    val iceRoot = s"$wh/db/bri"
    graft.table.iceberg.IcebergWrite.createWithSpec(spark, iceRoot,
      Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 3.0))
        .toDF("k", "day", "v"), Seq(("day", "identity")))
    graft.table.iceberg.IcebergMaintenance.setRef(iceRoot, "audit",
      graft.table.iceberg.IcebergMetadata.load(iceRoot).currentSnapshotId.get)
    def ks(root: String, branch: String): Seq[Long] =
      spark.read.format("graft").option("branch", branch).load(root)
        .select("k").as[Long].collect().sorted.toSeq
    for ((name, root) <- Seq("brg" -> graftRoot, "bri" -> iceRoot)) {
      val before = Seq("main", "audit").map(ks(root, _))
      val byFilter = intercept[Exception] {
        Seq((9L, "d1", 9.0)).toDF("k", "day", "v").writeTo(s"owm.db.$name")
          .option("branch", "audit").overwrite($"day" === "d1")
      }
      assert(byFilter.getMessage.contains("branch 'audit'"), byFilter.getMessage)
      if (name == "brg") {
        val dynamic = intercept[Exception] {
          Seq((8L, "d2", 8.0)).toDF("k", "day", "v").writeTo(s"owm.db.$name")
            .option("branch", "audit").overwritePartitions()
        }
        assert(dynamic.getMessage.contains("branch 'audit'"), dynamic.getMessage)
      }
      assert(Seq("main", "audit").map(ks(root, _)) === before,
        s"$name: a refused overwrite changed a branch")
    }
  }

  test("overwrite by filter is one snapshot: old or new, never a mix") {
    val root = mkDays("atomic")
    val preSnap = graft.table.Meta.load(root).currentSnapshotId.get
    spark.sql("INSERT OVERWRITE owm.db.atomic PARTITION (day='d1') VALUES (7, 7.0)")
    // time travel to the pre-overwrite snapshot still shows old d1
    val old = spark.sql(
      s"SELECT k FROM owm.db.atomic VERSION AS OF $preSnap WHERE day='d1' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(old === Seq(1L, 2L))
  }
}
