package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Atomic CTAS / RTAS through the catalog plugin (StagingTableCatalog):
  * the staged execs publish with one rename (create) or one metadata
  * commit (replace), so a failed statement leaves no trace and a
  * replaced table keeps its history. */
class StagedCatalogSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val wh = {
    val dir = Files.createTempDirectory("graft-staged").toString
    spark.conf.set("spark.sql.catalog.stg", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.stg.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stg.db")
    dir
  }

  private def tableNames(ns: String = "db"): Set[String] =
    spark.sql(s"SHOW TABLES IN stg.$ns").collect()
      .map(_.getString(1)).toSet

  private def dotDirs(ns: String = "db"): Seq[String] = {
    val d = new java.io.File(s"$wh/$ns")
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq.map(_.getName).filter(_.startsWith(".stage-"))
  }

  test("CTAS lands atomically and leaves no staging residue") {
    wh
    spark.sql(
      """CREATE TABLE stg.db.ctas AS
         SELECT id, id * 2 AS dbl FROM range(100)""")
    assert(spark.table("stg.db.ctas").count() === 100)
    assert(tableNames().contains("ctas"))
    assert(dotDirs() === Seq.empty, "staging dir leaked past commit")
    // the committed table is a plain graft table at the conventional path
    assert(graft.table.Meta.exists(s"$wh/db/ctas"))
  }

  test("a failing CTAS leaves neither table nor staging dir") {
    wh
    val e = intercept[Exception] {
      spark.sql(
        """CREATE TABLE stg.db.ctas_fail AS
           SELECT assert_true(id < 5) AS chk, id FROM range(10)""")
    }
    assert(e != null)
    assert(!tableNames().contains("ctas_fail"))
    assert(dotDirs() === Seq.empty, "aborted CTAS leaked its staging dir")
    intercept[Exception](spark.table("stg.db.ctas_fail").collect())
  }

  test("CTAS onto an existing name fails and leaves the original intact") {
    wh
    spark.sql("CREATE TABLE stg.db.taken AS SELECT id FROM range(7)")
    intercept[Exception] {
      spark.sql("CREATE TABLE stg.db.taken AS SELECT id FROM range(99)")
    }
    assert(spark.table("stg.db.taken").count() === 7)
    assert(dotDirs() === Seq.empty)
  }

  test("RTAS swaps schema+data in one commit and keeps history") {
    wh
    spark.sql(
      """CREATE TABLE stg.db.rt AS
         SELECT id AS k, CAST(id AS STRING) AS s FROM range(10)""")
    val v1 = spark.sql("SELECT snapshot_id FROM stg.db.rt.snapshots")
      .collect().map(_.getLong(0)).max
    spark.sql(
      """CREATE OR REPLACE TABLE stg.db.rt AS
         SELECT id * 10 AS v, id % 3 AS grp FROM range(30)""")
    // new schema + new data
    val out = spark.table("stg.db.rt")
    assert(out.columns.toSeq === Seq("v", "grp"))
    assert(out.count() === 30)
    // pre-replace snapshot still time-travels with the OLD schema
    val old = spark.sql(s"SELECT * FROM stg.db.rt VERSION AS OF $v1")
    assert(old.columns.toSeq === Seq("k", "s"))
    assert(old.count() === 10)
    // one table dir, one identity, no staging residue
    assert(dotDirs() === Seq.empty)
    val m = graft.table.Meta.load(s"$wh/db/rt")
    assert(m.snapshots.map(_.operation).contains("replace"))
    // replacement schema allocated fresh field ids above the retired ones
    val oldIds = m.schemas(0).fields.flatMap(graft.table.Meta.fieldId)
    val newIds = m.schema.fields.flatMap(graft.table.Meta.fieldId)
    assert(newIds.min > oldIds.max,
      s"replacement ids $newIds overlap retired ids $oldIds")
  }

  test("REPLACE TABLE without AS SELECT resets to an empty new shape") {
    wh
    spark.sql("CREATE TABLE stg.db.rp AS SELECT id FROM range(5)")
    spark.sql("REPLACE TABLE stg.db.rp (a INT, b STRING)")
    val t = spark.table("stg.db.rp")
    assert(t.columns.toSeq === Seq("a", "b"))
    assert(t.count() === 0)
    // old content still reachable through history
    val m = graft.table.Meta.load(s"$wh/db/rp")
    val pre = m.snapshots.map(_.snapshotId).min
    assert(spark.sql(s"SELECT * FROM stg.db.rp VERSION AS OF $pre")
      .count() === 5)
  }

  test("a failing RTAS leaves the original table untouched") {
    wh
    spark.sql("CREATE TABLE stg.db.rfail AS SELECT id, id+1 AS n FROM range(20)")
    intercept[Exception] {
      spark.sql(
        """CREATE OR REPLACE TABLE stg.db.rfail AS
           SELECT assert_true(id < 3) AS chk, id FROM range(10)""")
    }
    val t = spark.table("stg.db.rfail")
    assert(t.columns.toSeq === Seq("id", "n"))
    assert(t.count() === 20)
    // no stage-rtas residue under the live root
    val residue = new java.io.File(s"$wh/db/rfail").listFiles()
      .map(_.getName).filter(_.startsWith("stage-rtas-"))
    assert(residue.isEmpty, s"aborted RTAS leaked: ${residue.toSeq}")
  }

  test("RTAS with a partition spec routes files through the new spec") {
    wh
    spark.sql("CREATE TABLE stg.db.rpart AS SELECT id FROM range(4)")
    spark.sql(
      """CREATE OR REPLACE TABLE stg.db.rpart
         PARTITIONED BY (bucket(4, k)) AS
         SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(100)""")
    val m = graft.table.Meta.load(s"$wh/db/rpart")
    assert(m.spec.map(_.transform) === Seq("bucket[4]"))
    val live = m.liveFiles(None)
    assert(live.nonEmpty)
    assert(live.forall(_.partitionValues.keySet.exists(_.contains("bucket"))),
      s"files not routed: ${live.take(3).map(_.partitionValues)}")
    assert(spark.table("stg.db.rpart").count() === 100)
  }

  test("concurrent RTAS: the second staged replace refuses cleanly") {
    wh
    spark.sql("CREATE TABLE stg.db.race AS SELECT id FROM range(5)")
    val cat = spark.sessionState.catalogManager.catalog("stg")
      .asInstanceOf[graft.spark.GraftTableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "race")
    def stage(colName: String) = cat.stageReplace(ident,
      new org.apache.spark.sql.types.StructType()
        .add(colName, org.apache.spark.sql.types.LongType),
      Array.empty, new java.util.HashMap[String, String]())
    // both replaces staged against the same base; the first commit
    // moves the field-id watermark, so the second must refuse rather
    // than risk reusing ids it allocated against stale history
    val s1 = stage("a")
    val s2 = stage("b")
    s1.commitStagedChanges()
    intercept[java.util.ConcurrentModificationException] {
      s2.commitStagedChanges()
    }
    assert(spark.table("stg.db.race").columns.toSeq === Seq("a"))
    // the loser's abort leaves the winner untouched
    s2.abortStagedChanges()
    assert(spark.table("stg.db.race").columns.toSeq === Seq("a"))
  }

  test("staging dirs are invisible to listings while a CTAS is in flight") {
    wh
    // stage directly through the catalog API (mid-flight state)
    val cat = spark.sessionState.catalogManager.catalog("stg")
      .asInstanceOf[graft.spark.GraftTableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "midflight")
    val staged = cat.stageCreate(ident,
      new org.apache.spark.sql.types.StructType()
        .add("x", org.apache.spark.sql.types.LongType),
      Array.empty, new java.util.HashMap[String, String]())
    try {
      assert(!tableNames().contains("midflight"))
      assert(!spark.sql("SHOW NAMESPACES IN stg.db").collect()
        .exists(_.getString(0).contains("stage")))
      intercept[Exception](spark.table("stg.db.midflight").collect())
    } finally staged.abortStagedChanges()
    assert(dotDirs() === Seq.empty)
  }

  test("RTAS on an adopted real-format table keeps format and history") {
    wh
    val spark0 = spark
    import spark0.implicits._
    val loc = s"$wh/db/ice_rt"
    graft.table.iceberg.IcebergWrite.create(spark, loc,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    val pre = graft.table.iceberg.IcebergMetadata.load(loc)
    val preSnap = pre.currentSnapshotId.get
    spark.sql(
      """CREATE OR REPLACE TABLE stg.db.ice_rt AS
         SELECT id * 100 AS cents, CAST(id AS STRING) AS tag
         FROM range(12)""")
    // still a real-format table, same identity, one more snapshot
    val post = graft.table.iceberg.IcebergMetadata.load(loc)
    assert(post.tableUuid === pre.tableUuid)
    assert(post.snapshots.exists(_.operation == "replace"))
    val out = spark.table("stg.db.ice_rt")
    assert(out.columns.toSeq === Seq("cents", "tag"))
    assert(out.count() === 12)
    // ids allocated above the watermark; old snapshot still travels
    assert(post.schema.fields.map(_.id).min > pre.lastColumnId)
    val old = spark.sql(s"SELECT * FROM stg.db.ice_rt VERSION AS OF $preSnap")
    assert(old.columns.toSeq === Seq("k", "v"))
    assert(old.count() === 3)
  }

  test("REST mode: RTAS is one protocol commit, history kept") {
    val rwh = Files.createTempDirectory("graft-staged-rest-rt").toString
    val server = new graft.table.iceberg.IcebergRestServer(rwh).start()
    try {
      spark.conf.set("spark.sql.catalog.stgrt", "graft.spark.GraftTableCatalog")
      spark.conf.set("spark.sql.catalog.stgrt.uri",
        s"http://127.0.0.1:${server.port}")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS stgrt.db")
      spark.sql(
        "CREATE TABLE stgrt.db.r AS SELECT id, id % 5 AS m FROM range(40)")
      val loc = graft.table.iceberg.IcebergRestClient
        .tableRootOf(s"http://127.0.0.1:${server.port}", "db", "r").get
      val pre = graft.table.iceberg.IcebergMetadata.load(loc)
      spark.sql(
        """CREATE OR REPLACE TABLE stgrt.db.r AS
           SELECT id AS only FROM range(6)""")
      val out = spark.table("stgrt.db.r")
      assert(out.columns.toSeq === Seq("only"))
      assert(out.count() === 6)
      // same table identity through the protocol commit, not a
      // drop+create: uuid unchanged, replace snapshot appended
      val post = graft.table.iceberg.IcebergMetadata.load(loc)
      assert(post.tableUuid === pre.tableUuid)
      assert(post.snapshots.exists(_.operation == "replace"))
      assert(post.schema.fields.map(_.id).min > pre.lastColumnId)
      // a failing RTAS leaves the replaced table fully intact
      intercept[Exception] {
        spark.sql(
          """CREATE OR REPLACE TABLE stgrt.db.r AS
             SELECT assert_true(id < 2) AS chk FROM range(9)""")
      }
      assert(spark.table("stgrt.db.r").count() === 6)
    } finally {
      spark.conf.unset("spark.sql.catalog.stgrt")
      spark.conf.unset("spark.sql.catalog.stgrt.uri")
      graft.table.iceberg.IcebergRestCommit.deregisterBase(
        s"http://127.0.0.1:${server.port}")
      server.stop()
    }
  }

  test("RTAS sourced from a table read still allocates fresh ids") {
    wh
    spark.sql("CREATE TABLE stg.db.src_ids AS SELECT id AS a, id*2 AS b FROM range(9)")
    // self-referential replace: the projection carries the old ids'
    // metadata; the staged replace must strip and re-allocate
    spark.sql(
      """CREATE OR REPLACE TABLE stg.db.src_ids AS
         SELECT a, b, a + b AS c FROM stg.db.src_ids""")
    val m = graft.table.Meta.load(s"$wh/db/src_ids")
    val oldIds = m.schemas(0).fields.flatMap(graft.table.Meta.fieldId)
    val newIds = m.schema.fields.flatMap(graft.table.Meta.fieldId)
    assert(newIds.min > oldIds.max,
      s"ids $newIds reused retired ids $oldIds")
    assert(spark.table("stg.db.src_ids").count() === 9)
  }

  test("REST mode: CTAS rides the protocol's stage-create") {
    val rwh = Files.createTempDirectory("graft-staged-rest").toString
    val server = new graft.table.iceberg.IcebergRestServer(rwh).start()
    val base = s"http://127.0.0.1:${server.port}"
    try {
      spark.conf.set("spark.sql.catalog.stgr", "graft.spark.GraftTableCatalog")
      spark.conf.set("spark.sql.catalog.stgr.uri", base)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS stgr.db")
      spark.sql(
        "CREATE TABLE stgr.db.c AS SELECT id, id % 5 AS m FROM range(50)")
      assert(spark.table("stgr.db.c").count() === 50)
      // the published table serves through the protocol; one snapshot
      // (the staged write) arrived with the create commit
      import graft.table.iceberg.{IcebergRestClient => C}
      assert(C.tableExists(base, "db", "c"))
      spark.sql(
        """CREATE OR REPLACE TABLE stgr.db.c AS
           SELECT id AS only FROM range(8)""")
      val out = spark.table("stgr.db.c")
      assert(out.columns.toSeq === Seq("only"))
      assert(out.count() === 8)
      // a failing CTAS never creates the table: the staged metadata
      // lives at a hidden location and the assert-create commit never
      // fires
      intercept[Exception] {
        spark.sql(
          """CREATE TABLE stgr.db.cfail AS
             SELECT assert_true(id < 3) AS chk FROM range(9)""")
      }
      assert(!C.tableExists(base, "db", "cfail"))
      assert(!spark.sql("SHOW TABLES IN stgr.db").collect()
        .map(_.getString(1)).contains("cfail"))
      // mid-flight invisibility through the raw protocol: a staged
      // create does not list or load until its publish commit
      val stagedRoot = C.createTableStaged(base, "db", "mid",
        new org.apache.spark.sql.types.StructType()
          .add("x", org.apache.spark.sql.types.LongType))
      // two creators stage the same name concurrently; exactly one
      // publish wins the v1 CAS
      val staged2 = C.createTableStaged(base, "db", "mid",
        new org.apache.spark.sql.types.StructType()
          .add("y", org.apache.spark.sql.types.LongType))
      assert(!C.tableExists(base, "db", "mid"))
      assert(!C.listTables(base, "db").contains("mid"))
      assert(C.commitStagedCreate(base, "db", "mid", stagedRoot))
      assert(C.tableExists(base, "db", "mid"))
      assert(!C.commitStagedCreate(base, "db", "mid", staged2))
      // the winner's shape serves
      assert(spark.table("stgr.db.mid").columns.toSeq === Seq("x"))
      // DROP removes the published table's staged storage too (its
      // data lives at the dot-hidden location stage-create chose);
      // the loser's un-aborted staged dir is untouched — it belongs
      // to a creator that may still abort it
      spark.sql("DROP TABLE stgr.db.mid")
      assert(!new java.io.File(stagedRoot).exists(),
        s"published staged storage leaked past DROP: $stagedRoot")
      assert(new java.io.File(staged2).exists(),
        "DROP must not touch another creator's staged dir")
    } finally {
      spark.conf.unset("spark.sql.catalog.stgr")
      spark.conf.unset("spark.sql.catalog.stgr.uri")
      graft.table.iceberg.IcebergRestCommit.deregisterBase(base)
      server.stop()
    }
  }

  private def ageDir(dir: java.io.File, ageMs: Long): Unit = {
    val old = System.currentTimeMillis() - ageMs
    def walk(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(walk)
      f.setLastModified(old); ()
    }
    walk(dir)
  }

  test("remove_orphan_staging sweeps crashed namespace-level CTAS dirs") {
    wh
    // the residue of a hard JVM kill mid-CTAS: a namespace-level
    // dot-hidden staged table dir nothing references
    val crashed = new java.io.File(s"$wh/db/.stage-ghost-abc12345")
    new java.io.File(crashed, "data").mkdirs()
    java.nio.file.Files.writeString(
      crashed.toPath.resolve("data/part-0.parquet"), "x")
    ageDir(crashed, 7200000L)
    // an in-flight CTAS: same shape, fresh mtimes — must survive
    val inflight = new java.io.File(s"$wh/db/.stage-fresh-def67890")
    new java.io.File(inflight, "data").mkdirs()
    java.nio.file.Files.writeString(
      inflight.toPath.resolve("data/part-0.parquet"), "y")

    val dry = spark.sql(
      "CALL stg.system.remove_orphan_staging('db', 3600000, true)")
      .collect().map(_.getString(0)).toSeq
    assert(dry === Seq(".stage-ghost-abc12345"))
    assert(crashed.exists(), "dry_run must not delete")

    val swept = spark.sql(
      "CALL stg.system.remove_orphan_staging('db', 3600000, false)")
      .collect().map(_.getString(0)).toSeq
    assert(swept === Seq(".stage-ghost-abc12345"))
    assert(!crashed.exists(), "crashed staging dir not removed")
    assert(inflight.exists(), "in-flight staging dir must survive the sweep")
    graft.table.TableIO.delete(
      graft.table.TableIO.path(inflight.toString), recursive = true)
  }

  test("REST remove_orphan_staging spares published staged-create storage") {
    val rwh = Files.createTempDirectory("graft-staged-sweep").toString
    val server = new graft.table.iceberg.IcebergRestServer(rwh).start()
    val base = s"http://127.0.0.1:${server.port}"
    import graft.table.iceberg.{IcebergRestClient => C}
    try {
      spark.conf.set("spark.sql.catalog.stgsw", "graft.spark.GraftTableCatalog")
      spark.conf.set("spark.sql.catalog.stgsw.uri", base)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS stgsw.db")
      // a non-staged table anchors namespace-dir derivation (the
      // catalog has no warehouse configured in REST mode)
      spark.sql("CREATE TABLE stgsw.db.anchor AS SELECT id FROM range(3)")
      // loser: staged create whose creator crashed — never published
      val lostRoot = C.createTableStaged(base, "db", "pub",
        new org.apache.spark.sql.types.StructType()
          .add("y", org.apache.spark.sql.types.LongType))
      // winner: staged create, PUBLISHED — its data stays at the
      // dot-hidden staged location forever
      val winRoot = C.createTableStaged(base, "db", "pub",
        new org.apache.spark.sql.types.StructType()
          .add("x", org.apache.spark.sql.types.LongType))
      assert(C.commitStagedCreate(base, "db", "pub", winRoot))
      ageDir(new java.io.File(winRoot), 7200000L)
      ageDir(new java.io.File(lostRoot), 7200000L)

      def tableGets: Long = {
        import scala.jdk.CollectionConverters._
        C.requestsByEndpoint.asScala.collect {
          case (ep, n) if ep.startsWith("GET ") && ep.endsWith("/tables/{t}") => n.get
        }.sum
      }
      val getsBefore = tableGets
      val swept = spark.sql(
        "CALL stgsw.system.remove_orphan_staging('db', 3600000, false)")
        .collect().map(_.getString(0)).toSeq
      assert(swept === Seq(new java.io.File(lostRoot).getName),
        s"expected only the crashed staged dir, got $swept")
      // one table GET per table (anchor, pub) yields both its root and
      // the location its metadata records
      assert(tableGets - getsBefore === 2)
      assert(!new java.io.File(lostRoot).exists())
      assert(new java.io.File(winRoot).exists(),
        "sweep deleted a PUBLISHED staged-create table's storage")
      assert(spark.table("stgsw.db.pub").columns.toSeq === Seq("x"))
      // multi-level namespace: the sweep's namespace argument splits
      // on '.' into protocol levels (%1F on the wire, nested dirs on
      // the server)
      spark.sql("CREATE NAMESPACE stgsw.a.b")
      spark.sql("CREATE TABLE stgsw.a.b.anchor2 AS SELECT id FROM range(2)")
      val deepLost = C.createTableStaged(base, "ab", "deep",
        new org.apache.spark.sql.types.StructType()
          .add("z", org.apache.spark.sql.types.LongType))
      ageDir(new java.io.File(deepLost), 7200000L)
      val deepSwept = spark.sql(
        "CALL stgsw.system.remove_orphan_staging('a.b', 3600000, false)")
        .collect().map(_.getString(0)).toSeq
      assert(deepSwept === Seq(new java.io.File(deepLost).getName))
      assert(!new java.io.File(deepLost).exists())
    } finally {
      spark.conf.unset("spark.sql.catalog.stgsw")
      spark.conf.unset("spark.sql.catalog.stgsw.uri")
      graft.table.iceberg.IcebergRestCommit.deregisterBase(base)
      server.stop()
    }
  }

  private def writeInfo(s: org.apache.spark.sql.types.StructType) =
    new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "staged-spec"
      override def schema(): org.apache.spark.sql.types.StructType = s
      override def options() =
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
    }

  /** Drive a staged table's DSv2 batch write on the driver, as Spark's
    * RTAS exec would: one task writes `rows` into the one LONG column of
    * `s`, then the batch write commits. */
  private def stagedWrite(st: org.apache.spark.sql.connector.catalog.StagedTable,
      s: org.apache.spark.sql.types.StructType, rows: Seq[Long]): Unit = {
    val batch = st.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(writeInfo(s)).build().toBatch
    val factory = batch.createBatchWriterFactory(
      new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      })
    val w = factory.createWriter(0, 0L)
    rows.foreach(r => w.write(org.apache.spark.sql.catalyst.InternalRow(r)))
    val msg = w.commit()
    w.close()
    batch.commit(Array(msg))
  }

  test("adopted RTAS: abort between write and publish rolls back fully") {
    wh
    val spark0 = spark
    import spark0.implicits._
    val loc = s"$wh/db/ice_abort"
    graft.table.iceberg.IcebergWrite.create(spark, loc,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val metaFile = graft.table.iceberg.IcebergMetadata
      .currentMetadataFile(loc)
    val preBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(metaFile.toUri.getPath))
    def dataFiles = new java.io.File(s"$loc/data").listFiles()
      .map(_.getName).toSet
    val preData = dataFiles

    val cat = spark.sessionState.catalogManager.catalog("stg")
      .asInstanceOf[graft.spark.GraftTableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "ice_abort")
    val newSchema = new org.apache.spark.sql.types.StructType()
      .add("cents", org.apache.spark.sql.types.LongType)
    val st = cat.stageReplace(ident, newSchema, Array.empty,
      new java.util.HashMap[String, String]())
    // drive the staged batch write: content lands in data/
    // UNREFERENCED, no metadata commit yet
    stagedWrite(st, newSchema, 0L until 5L)
    assert(java.util.Arrays.equals(preBytes, java.nio.file.Files
        .readAllBytes(java.nio.file.Paths.get(metaFile.toUri.getPath))),
      "the staged write must not publish before commitStagedChanges")
    assert(dataFiles.size > preData.size,
      "staged content should be sitting in data/ unreferenced")
    // failure window: Spark aborts instead of committing
    st.abortStagedChanges()
    assert(dataFiles === preData,
      "abort must delete the staged (unreferenced) files")
    assert(java.util.Arrays.equals(preBytes, java.nio.file.Files
        .readAllBytes(java.nio.file.Paths.get(metaFile.toUri.getPath))),
      "abort left the table's metadata changed")
    assert(spark.table("stg.db.ice_abort").columns.toSeq === Seq("k", "v"))
    assert(spark.table("stg.db.ice_abort").count() === 2)
  }

  test("REST RTAS: abort issues no protocol commit") {
    val rwh = Files.createTempDirectory("graft-staged-rest-ab").toString
    val server = new graft.table.iceberg.IcebergRestServer(rwh).start()
    val base = s"http://127.0.0.1:${server.port}"
    try {
      spark.conf.set("spark.sql.catalog.stgab", "graft.spark.GraftTableCatalog")
      spark.conf.set("spark.sql.catalog.stgab.uri", base)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS stgab.db")
      spark.sql("CREATE TABLE stgab.db.t AS SELECT id FROM range(7)")
      val loc = graft.table.iceberg.IcebergRestClient
        .tableRootOf(base, "db", "t").get
      val pre = graft.table.iceberg.IcebergMetadata.load(loc)

      val cat = spark.sessionState.catalogManager.catalog("stgab")
        .asInstanceOf[graft.spark.GraftTableCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("db"), "t")
      val newSchema = new org.apache.spark.sql.types.StructType()
        .add("z", org.apache.spark.sql.types.LongType)
      val st = cat.stageReplace(ident, newSchema, Array.empty,
        new java.util.HashMap[String, String]())
      stagedWrite(st, newSchema, 0L until 4L)
      // server-side state untouched by the write; abort never commits
      val mid = graft.table.iceberg.IcebergMetadata.load(loc)
      assert(mid.currentSnapshotId === pre.currentSnapshotId,
        "staged REST write published before commitStagedChanges")
      st.abortStagedChanges()
      val post = graft.table.iceberg.IcebergMetadata.load(loc)
      assert(post.currentSnapshotId === pre.currentSnapshotId)
      assert(post.schemas.size === pre.schemas.size,
        "abort pushed a schema through the protocol")
      assert(spark.table("stgab.db.t").count() === 7)
    } finally {
      spark.conf.unset("spark.sql.catalog.stgab")
      spark.conf.unset("spark.sql.catalog.stgab.uri")
      graft.table.iceberg.IcebergRestCommit.deregisterBase(base)
      server.stop()
    }
  }

  test("CREATE OR REPLACE losing its create race replaces in one commit") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("stg")
      .asInstanceOf[graft.spark.GraftTableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "race_cr")
    // stage a CREATE OR REPLACE while the name is free
    val st = cat.stageCreateOrReplace(ident,
      new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.LongType)
        .add("w", org.apache.spark.sql.types.LongType),
      Array.empty, new java.util.HashMap[String, String]())
    val rel = st.asInstanceOf[org.apache.spark.sql.connector.catalog
        .SupportsWrite]
      .newWriteBuilder(writeInfo(spark.range(1)
        .selectExpr("id", "id AS w").schema)).build()
    // a rival creator lands the name FIRST
    spark.sql("CREATE TABLE stg.db.race_cr AS SELECT id AS old FROM range(4)")
    val rivalSnap = graft.table.Meta.load(s"$wh/db/race_cr")
      .currentSnapshotId.get
    // drive the staged write, then publish: OR REPLACE gives way via
    // replaceTable's ONE commit — never a missing-table window, and
    // the rival's snapshot stays in history
    drainV2Write(rel, spark.range(6).selectExpr("id", "id * 2 AS w"))
    st.commitStagedChanges()
    val out = spark.table("stg.db.race_cr")
    assert(out.columns.toSeq === Seq("id", "w"))
    assert(out.count() === 6)
    val m = graft.table.Meta.load(s"$wh/db/race_cr")
    assert(m.snapshots.map(_.operation).contains("replace"),
      "race path must publish as a replace commit, not delete+rename")
    assert(m.snapshots.exists(_.snapshotId == rivalSnap),
      "the rival's history must survive the OR REPLACE")
    assert(spark.sql(
        s"SELECT * FROM stg.db.race_cr VERSION AS OF $rivalSnap")
      .columns.toSeq === Seq("old"))
    assert(dotDirs() === Seq.empty, "staging dir leaked past the race")
  }

  /** Drive a V2 Write end-to-end on local data (the staged CTAS path
    * writes through a GraftWriterFactory BatchWrite). */
  private def drainV2Write(w: org.apache.spark.sql.connector.write.Write,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val batch = w.toBatch
    val schema = df.schema
    val factory = batch.createBatchWriterFactory(
      new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      })
    val rows = df.queryExecution.toRdd.collect()
    val writer = factory.createWriter(0, 0L)
    rows.foreach(writer.write)
    val msg = writer.commit()
    batch.commit(Array(msg))
  }
}
