package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.table.iceberg.{IcebergMetadata, IcebergRestServer,
  IcebergRestClient, IcebergTable}

/** Spark SQL fronting the REST catalog — the reference's standard
  * multi-engine deployment (iceberg-rest-catalog/src/catalog.rs:61
  * RestCatalog as a Catalog, datafusion_iceberg/src/catalog/
  * catalog.rs:34 exposing it to SQL): `spark.sql.catalog.X.uri =
  * http://...`, and DDL/DML commits ride the update-table protocol
  * while data/manifest IO goes to shared storage directly. */
class RestCatalogSqlSpec extends AnyFunSuite {
  import SparkTestSession._

  /** One live server + catalog for the whole suite. */
  private lazy val env: (IcebergRestServer, String, String) = {
    val wh = Files.createTempDirectory("graft-restsql").toString
    val server = new IcebergRestServer(wh).start()
    val cat = s"rsql_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.uri",
      s"http://127.0.0.1:${server.port}")
    (server, cat, wh)
  }
  private def cat: String = env._2
  private def wh: String = env._3

  /** Table GETs any REST client in this JVM has sent so far. */
  private def tableGets: Long = {
    import scala.jdk.CollectionConverters._
    IcebergRestClient.requestsByEndpoint.asScala.collect {
      case (ep, n) if ep.startsWith("GET ") && ep.endsWith("/tables/{t}") => n.get
    }.sum
  }

  test("CREATE / INSERT / SELECT / row-level DML over a live REST server") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING, w DOUBLE)")
    // the SERVER created the metadata, at ITS warehouse
    assert(IcebergTable.exists(s"$wh/db/t"),
      "create must land at the server's warehouse")
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0))
      .toDF("k", "v", "w").createOrReplaceTempView("rest_src")
    spark.sql(s"INSERT INTO $cat.db.t SELECT * FROM rest_src")
    assert(spark.sql(s"SELECT * FROM $cat.db.t").count() === 4)
    // listings resolve over HTTP
    assert(spark.sql(s"SHOW TABLES IN $cat.db").collect()
      .map(_.getString(1)).contains("t"))
    // row-level DML commits ride the protocol too
    spark.sql(s"UPDATE $cat.db.t SET w = w * 10 WHERE k = 2")
    spark.sql(s"DELETE FROM $cat.db.t WHERE k = 3")
    Seq((4L, "D", 40.0), (5L, "e", 5.0)).toDF("k", "v", "w")
      .createOrReplaceTempView("rest_merge_src")
    spark.sql(
      s"""MERGE INTO $cat.db.t t USING rest_merge_src s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
    val got = spark.sql(s"SELECT k, v, w FROM $cat.db.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, "a", 1.0), (2L, "b", 20.0),
      (4L, "D", 40.0), (5L, "e", 5.0)))
    // every one of those commits was brokered by the server: the
    // metadata versions on disk form the v1..vN chain the server's
    // CAS writes, and the snapshot history matches the DML sequence
    val m = IcebergMetadata.load(s"$wh/db/t")
    assert(m.snapshots.size >= 4,
      "insert + update + delete + merge must each commit a snapshot")
  }

  test("PARTITIONED BY over REST: the created spec carries transforms") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.pt")
    spark.sql(
      s"""CREATE TABLE $cat.pt.ev (id BIGINT, ts TIMESTAMP, v DOUBLE)
          PARTITIONED BY (months(ts), bucket(4, id))""")
    val m = IcebergMetadata.load(s"$wh/pt/ev")
    val spec = m.specs.find(_.specId == m.defaultSpecId).get
    assert(spec.fields.map(_.transform).sorted === Seq("bucket[4]", "month"))
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-03-09 00:00:00"), 2.0))
      .toDF("id", "ts", "v").createOrReplaceTempView("rest_pt_src")
    spark.sql(s"INSERT INTO $cat.pt.ev SELECT * FROM rest_pt_src")
    assert(spark.sql(s"SELECT * FROM $cat.pt.ev").count() === 2)
    // partition values were computed on write (months since epoch)
    val months = IcebergTable.load(spark, s"$wh/pt/ev").plannedFiles()
      .flatMap(_._1.partition.get("ts_month")).map(_.toString.toInt)
    assert(months.toSet === Set((2024 - 1970) * 12, (2024 - 1970) * 12 + 2))
  }

  test("schema evolution, time travel, properties and metadata tables") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev.t (k BIGINT, v STRING)")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .createOrReplaceTempView("rest_ev_src")
    spark.sql(s"INSERT INTO $cat.ev.t SELECT * FROM rest_ev_src")
    val s1 = IcebergMetadata.load(s"$wh/ev/t").currentSnapshotId.get
    // evolution commits ride the protocol (add-schema/set-current-schema)
    spark.sql(s"ALTER TABLE $cat.ev.t RENAME COLUMN v TO label")
    spark.sql(s"ALTER TABLE $cat.ev.t ADD COLUMN score DOUBLE")
    spark.sql(s"ALTER TABLE $cat.ev.t SET TBLPROPERTIES ('owner.team' = 'graft')")
    val m = IcebergMetadata.load(s"$wh/ev/t")
    assert(m.schema.fields.map(_.name).toSet === Set("k", "label", "score"))
    assert(m.schemas.size >= 3, "each evolution appends an era")
    assert(m.properties.get("owner.team").contains("graft"))
    // old bytes resolve under the new name by field id
    assert(spark.sql(s"SELECT label FROM $cat.ev.t WHERE k = 1")
      .collect()(0).getString(0) === "a")
    // time travel through the catalog
    assert(spark.sql(
      s"SELECT * FROM $cat.ev.t VERSION AS OF $s1").columns.toSet
      === Set("k", "v"))
    // metadata tables resolve their parent over REST
    assert(spark.sql(s"SELECT * FROM $cat.ev.t.snapshots").count() >= 1)
    spark.sql(s"ALTER TABLE $cat.ev.t DROP COLUMN score")
    assert(spark.sql(s"SELECT * FROM $cat.ev.t").columns.toSet
      === Set("k", "label"))
  }

  test("CALL procedures commit through the protocol") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.mt")
    spark.sql(s"CREATE TABLE $cat.mt.t (k BIGINT, v STRING)")
    (1 to 4).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("k", "v")
        .createOrReplaceTempView("rest_mt_src")
      spark.sql(s"INSERT INTO $cat.mt.t SELECT * FROM rest_mt_src")
    }
    // point update: equality-delete + modified rows, one snapshot
    val updated = spark.sql(
      s"CALL $cat.system.update_by_key(table => 'mt.t', " +
        "key_column => 'k', key_values => '2', " +
        "assignments => \"v = 'V2'\")").collect()(0).getLong(0)
    assert(updated === 1L)
    assert(spark.sql(s"SELECT v FROM $cat.mt.t WHERE k = 2")
      .collect()(0).getString(0) === "V2")
    // convert the equality delete to position slots
    spark.sql(s"CALL $cat.system.rewrite_delete_files(table => 'mt.t', " +
      "mode => 'convert')")
    assert(IcebergTable.load(spark, s"$wh/mt/t").deleteEntries()
      .count(_._1.content == 2) === 0)
    // branch + tag + rollback: ref moves ride REST (set-snapshot-ref)
    val snapNow = IcebergMetadata.load(s"$wh/mt/t").currentSnapshotId.get
    spark.sql(s"CALL $cat.system.create_branch(table => 'mt.t', " +
      "branch => 'audit')")
    spark.sql(s"CALL $cat.system.create_tag(table => 'mt.t', " +
      s"tag => 'v1', snapshot_id => ${snapNow}L)")
    val refs = IcebergMetadata.load(s"$wh/mt/t").refs
    assert(refs.get("audit").contains(snapNow) && refs.get("v1").contains(snapNow))
    assert(spark.sql(s"SELECT * FROM $cat.mt.t VERSION AS OF 'audit'")
      .count() === 4)
    // compact + expire: remove-snapshots rides REST
    spark.sql(s"CALL $cat.system.rewrite_data_files(table => 'mt.t')")
    val rolledFrom = IcebergMetadata.load(s"$wh/mt/t").currentSnapshotId.get
    spark.sql(s"CALL $cat.system.rollback_to_snapshot(table => 'mt.t', " +
      s"snapshot_id => ${snapNow}L)")
    assert(IcebergMetadata.load(s"$wh/mt/t").currentSnapshotId
      .contains(snapNow), "rollback must move main over REST")
    assert(rolledFrom !== snapNow)
    val before = IcebergMetadata.load(s"$wh/mt/t").snapshots.size
    spark.sql(s"CALL $cat.system.expire_snapshots(table => 'mt.t', " +
      "keep_last => 1)")
    val after = IcebergMetadata.load(s"$wh/mt/t")
    assert(after.snapshots.size <= 2 && before > 2,
      s"expire over REST must drop history: $before -> ${after.snapshots.size}")
    assert(spark.sql(s"SELECT * FROM $cat.mt.t").count() === 4)
    // a CALL reuses the route the catalog resolved for the SELECT:
    // no further table GET
    val gets = tableGets
    (1 to 2).foreach { _ =>
      val ndv = spark.sql(s"CALL $cat.system.analyze_table(table => 'mt.t')")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(ndv === Map("k" -> 4L, "v" -> 4L))
    }
    assert(tableGets === gets, "CALL analyze_table re-fetched the table")
  }

  test("commits really ride the wire: server down => DML fails, data intact") {
    val spark0 = spark
    import spark0.implicits._
    val wh2 = Files.createTempDirectory("graft-restdown").toString
    val server2 = new IcebergRestServer(wh2).start()
    val cat2 = s"rdown_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat2", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat2.uri",
      s"http://127.0.0.1:${server2.port}")
    spark.sql(s"CREATE NAMESPACE $cat2.db")
    spark.sql(s"CREATE TABLE $cat2.db.t (k BIGINT)")
    Seq(1L, 2L).toDF("k").createOrReplaceTempView("rest_down_src")
    spark.sql(s"INSERT INTO $cat2.db.t SELECT * FROM rest_down_src")
    assert(spark.sql(s"SELECT * FROM $cat2.db.t").count() === 2)
    server2.stop()
    // the filesystem is still perfectly writable — if this insert
    // succeeded, commits would be bypassing the catalog
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat2.db.t SELECT * FROM rest_down_src")
    }
    // no partial commit: a fresh server over the same warehouse still
    // serves exactly the committed rows
    val server3 = new IcebergRestServer(wh2).start()
    val cat3 = s"rup_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat3", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat3.uri",
      s"http://127.0.0.1:${server3.port}")
    assert(spark.sql(s"SELECT * FROM $cat3.db.t").count() === 2)
    spark.sql(s"INSERT INTO $cat3.db.t SELECT * FROM rest_down_src")
    assert(spark.sql(s"SELECT * FROM $cat3.db.t").count() === 4)
    server3.stop()
  }

  test("concurrent SQL appends: lost CAS races retry and both land") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.cc")
    spark.sql(s"CREATE TABLE $cat.cc.t (k BIGINT)")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    import scala.concurrent._
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val writes = (1 to 6).map { i =>
      Future {
        Seq(i.toLong).toDF("k").createOrReplaceTempView(s"rest_cc_src_$i")
        spark.sql(s"INSERT INTO $cat.cc.t SELECT * FROM rest_cc_src_$i")
      }
    }
    Await.result(Future.sequence(writes), duration.Duration(120, "s"))
    pool.shutdown()
    assert(spark.sql(s"SELECT * FROM $cat.cc.t").collect()
      .map(_.getLong(0)).sorted.toSeq === (1L to 6L))
    assert(IcebergMetadata.load(s"$wh/cc/t").snapshots.size === 6,
      "every concurrent insert must land as its own snapshot")
  }

  test("catalog-level auth: token and credential options scope to " +
      "their server; unauthenticated SQL is refused") {
    val spark0 = spark
    import spark0.implicits._
    val wh2 = Files.createTempDirectory("graft-restauth").toString
    val server2 = new IcebergRestServer(wh2,
      bearerToken = Some("tok-xyz"),
      oauthClients = Map("svc" -> "s3cret")).start()
    val base2 = s"http://127.0.0.1:${server2.port}"
    try {
      // static bearer via the `token` catalog option
      val catT = s"rtok_${java.util.UUID.randomUUID().toString.take(6)}"
      spark.conf.set(s"spark.sql.catalog.$catT", "graft.spark.GraftTableCatalog")
      spark.conf.set(s"spark.sql.catalog.$catT.uri", base2)
      spark.conf.set(s"spark.sql.catalog.$catT.token", "tok-xyz")
      spark.sql(s"CREATE NAMESPACE $catT.db")
      spark.sql(s"CREATE TABLE $catT.db.t (k BIGINT)")
      Seq(1L, 2L).toDF("k").createOrReplaceTempView("rest_auth_src")
      spark.sql(s"INSERT INTO $catT.db.t SELECT * FROM rest_auth_src")
      assert(spark.sql(s"SELECT * FROM $catT.db.t").count() === 2)
      // oauth client_credentials via the `credential` option: the
      // exchange runs at initialize and the minted token sticks to
      // THIS base only
      val catC = s"rcred_${java.util.UUID.randomUUID().toString.take(6)}"
      spark.conf.set(s"spark.sql.catalog.$catC", "graft.spark.GraftTableCatalog")
      spark.conf.set(s"spark.sql.catalog.$catC.uri", base2)
      spark.conf.set(s"spark.sql.catalog.$catC.credential", "svc:s3cret")
      assert(spark.sql(s"SELECT * FROM $catC.db.t").count() === 2)
      spark.sql(s"INSERT INTO $catC.db.t SELECT * FROM rest_auth_src")
      assert(spark.sql(s"SELECT * FROM $catC.db.t").count() === 4)
      // the per-base token does NOT leak to the suite's main server
      // (env catalog keeps working against its unauthenticated base)
      assert(spark.sql(s"SHOW NAMESPACES IN $cat").count() >= 0)
      // bad credential refused at initialize (the oauth exchange 401s)
      val catB = s"rbad_${java.util.UUID.randomUUID().toString.take(6)}"
      spark.conf.set(s"spark.sql.catalog.$catB", "graft.spark.GraftTableCatalog")
      spark.conf.set(s"spark.sql.catalog.$catB.uri", base2)
      spark.conf.set(s"spark.sql.catalog.$catB.credential", "svc:wrong")
      intercept[Exception] {
        spark.sql(s"SHOW NAMESPACES IN $catB").collect()
      }
    } finally server2.stop()
  }

  test("OAuth refresh on 401: a token rotated mid-sequence " +
      "re-exchanges via the stored credential and the request retries") {
    val wh2 = Files.createTempDirectory("graft-oauthrot").toString
    val server2 = new IcebergRestServer(wh2,
      bearerToken = Some("rot-t1"),
      oauthClients = Map("svc" -> "s3cret")).start()
    val base2 = s"http://127.0.0.1:${server2.port}"
    try {
      val catR = s"rrot_${java.util.UUID.randomUUID().toString.take(6)}"
      spark.conf.set(s"spark.sql.catalog.$catR", "graft.spark.GraftTableCatalog")
      spark.conf.set(s"spark.sql.catalog.$catR.uri", base2)
      spark.conf.set(s"spark.sql.catalog.$catR.credential", "svc:s3cret")
      spark.sql(s"CREATE NAMESPACE $catR.db")
      spark.sql(s"CREATE TABLE $catR.db.t (k BIGINT)")
      spark.sql(s"INSERT INTO $catR.db.t VALUES (1), (2)")
      // the server rotates its accepted token: the client's held
      // rot-t1 is now invalid — the next request 401s, the client
      // re-runs the client_credentials exchange ONCE (minting rot-t2)
      // and retries; SQL never sees the 401
      server2.rotateToken("rot-t2")
      spark.sql(s"INSERT INTO $catR.db.t VALUES (3)")
      assert(spark.sql(s"SELECT count(*) FROM $catR.db.t").collect()
        .head.getLong(0) === 3L)
      spark.conf.unset(s"spark.sql.catalog.$catR")
      spark.conf.unset(s"spark.sql.catalog.$catR.uri")
      spark.conf.unset(s"spark.sql.catalog.$catR.credential")
    } finally server2.stop()
    // a base with NO stored credential must still surface the 401 —
    // refresh only happens when a client_credentials pair is known
    val wh3 = Files.createTempDirectory("graft-oauthstat").toString
    val server3 = new IcebergRestServer(wh3,
      bearerToken = Some("stat-t1")).start()
    try {
      val base3 = s"http://127.0.0.1:${server3.port}"
      val catS = s"rrots_${java.util.UUID.randomUUID().toString.take(6)}"
      spark.conf.set(s"spark.sql.catalog.$catS", "graft.spark.GraftTableCatalog")
      spark.conf.set(s"spark.sql.catalog.$catS.uri", base3)
      spark.conf.set(s"spark.sql.catalog.$catS.token", "stat-t1")
      spark.sql(s"CREATE NAMESPACE $catS.db")
      server3.rotateToken("stat-t2")
      intercept[Exception](
        spark.sql(s"SHOW NAMESPACES IN $catS").collect())
      spark.conf.unset(s"spark.sql.catalog.$catS")
      spark.conf.unset(s"spark.sql.catalog.$catS.uri")
      spark.conf.unset(s"spark.sql.catalog.$catS.token")
    } finally server3.stop()
  }

  test("commit-route registry keys by full URI: identical paths on " +
      "two filesystems never collide") {
    import graft.table.iceberg.IcebergRestCommit
    val r1 = IcebergRestCommit.Route("http://a", "ns", "t1")
    val r2 = IcebergRestCommit.Route("http://b", "ns", "t2")
    IcebergRestCommit.register("hdfs://nn/wh/t", r1)
    IcebergRestCommit.register("file:/wh/t", r2)
    assert(IcebergRestCommit.lookup("hdfs://nn/wh/t").contains(r1))
    assert(IcebergRestCommit.lookup("file:/wh/t").contains(r2))
    // a bare path reads as the local default filesystem, like before
    assert(IcebergRestCommit.lookup("/wh/t").contains(r2))
    assert(IcebergRestCommit.lookup("/wh/t") !== Some(r1))
    // base-scoped teardown removes exactly that server's routes
    IcebergRestCommit.deregisterBase("http://a")
    assert(IcebergRestCommit.lookup("hdfs://nn/wh/t").isEmpty)
    assert(IcebergRestCommit.lookup("file:/wh/t").contains(r2))
    IcebergRestCommit.deregister("file:/wh/t")
    assert(IcebergRestCommit.lookup("/wh/t").isEmpty)
  }

  test("CALL register_table over REST adopts an external table; DML works") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.IcebergWrite
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rg")
    // a real-format table living OUTSIDE the server's warehouse
    val ext = Files.createTempDirectory("graft-rest-ext").toString + "/t"
    IcebergWrite.create(spark, ext,
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    val res = spark.sql(s"CALL $cat.system.register_table(" +
      s"table => 'rg.ext', location => '$ext')").collect()(0)
    assert(res.getString(0) === ext)
    // reads resolve the ORIGINAL data files; DML commits ride REST
    assert(spark.sql(s"SELECT * FROM $cat.rg.ext").count() === 30)
    spark.sql(s"DELETE FROM $cat.rg.ext WHERE k <= 5")
    assert(spark.sql(s"SELECT * FROM $cat.rg.ext").count() === 25)
    Seq((100L, "new")).toDF("k", "v").createOrReplaceTempView("rest_rg_src")
    spark.sql(s"INSERT INTO $cat.rg.ext SELECT * FROM rest_rg_src")
    assert(spark.sql(s"SELECT * FROM $cat.rg.ext").count() === 26)
    // the original table's own metadata is untouched by catalog DML
    // (the registration IMPORTED it; the original lineage still reads)
    assert(graft.table.iceberg.IcebergTable.load(spark, ext)
      .scan().count() === 30)
    // graft-dialect tables refuse REST registration with a clear error
    val gr = Files.createTempDirectory("graft-rest-gd").toString + "/t"
    val gt = graft.table.GraftTable.create(spark, gr,
      Seq((1L, "a")).toDF("k", "v").schema)
    gt.append(Seq((1L, "a")).toDF("k", "v"))
    val ex = intercept[Exception] {
      spark.sql(s"CALL $cat.system.register_table(" +
        s"table => 'rg.gd', location => '$gr')").collect()
    }
    assert(ex.getMessage.contains("real-format"))
  }

  test("bucket SPJ holds through the REST catalog: co-bucketed join " +
      "without a shuffle") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.spj")
    spark.sql(s"""CREATE TABLE $cat.spj.a (id BIGINT, va STRING)
        PARTITIONED BY (bucket(4, id))""")
    spark.sql(s"""CREATE TABLE $cat.spj.b (id BIGINT, vb STRING)
        PARTITIONED BY (bucket(4, id))""")
    (1L to 400L).map(i => (i, s"a$i")).toDF("id", "va")
      .createOrReplaceTempView("rest_spj_a")
    (1L to 400L by 2).map(i => (i, s"b$i")).toDF("id", "vb")
      .createOrReplaceTempView("rest_spj_b")
    spark.sql(s"INSERT INTO $cat.spj.a SELECT * FROM rest_spj_a")
    spark.sql(s"INSERT INTO $cat.spj.b SELECT * FROM rest_spj_b")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = spark.table(s"$cat.spj.a")
        .join(spark.table(s"$cat.spj.b"), "id")
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
        s"REST-catalog bucket SPJ must not shuffle either side:\n$plan")
      assert(joined.count() === 200)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("bucket SPJ declines after partition-spec evolution: files of " +
      "the older spec carry no bucket value") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.spje")
    spark.sql(s"CREATE TABLE $cat.spje.a (id BIGINT, va STRING)")
    spark.sql(s"""CREATE TABLE $cat.spje.b (id BIGINT, vb STRING)
        PARTITIONED BY (bucket(4, id))""")
    (1L to 200L).map(i => (i, s"a$i")).toDF("id", "va")
      .createOrReplaceTempView("rest_spje_a1")
    (201L to 400L).map(i => (i, s"a$i")).toDF("id", "va")
      .createOrReplaceTempView("rest_spje_a2")
    (1L to 400L by 2).map(i => (i, s"b$i")).toDF("id", "vb")
      .createOrReplaceTempView("rest_spje_b")
    // a's first 200 rows land unpartitioned; bucket[4] then becomes
    // its default spec and only the next 200 rows carry bucket values
    spark.sql(s"INSERT INTO $cat.spje.a SELECT * FROM rest_spje_a1")
    new graft.table.iceberg.IcebergTransaction(spark,
      s"http://127.0.0.1:${env._1.port}")
      .addPartitionSpec("spje", "a", Seq("id" -> "bucket[4]")).commit()
    spark.sql(s"INSERT INTO $cat.spje.a SELECT * FROM rest_spje_a2")
    spark.sql(s"INSERT INTO $cat.spje.b SELECT * FROM rest_spje_b")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = spark.table(s"$cat.spje.a")
        .join(spark.table(s"$cat.spje.b"), "id")
      assert(joined.count() === 200)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("CALL commit_transaction: two-table atomic append") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.txn")
    spark.sql(s"CREATE TABLE $cat.txn.facts (k BIGINT, v DOUBLE)")
    spark.sql(s"CREATE TABLE $cat.txn.summary (grp STRING, n BIGINT)")
    Seq((1L, 1.5), (2L, 2.5)).toDF("k", "v")
      .createOrReplaceTempView("txn_facts_src")
    Seq(("a", 2L)).toDF("grp", "n")
      .createOrReplaceTempView("txn_summary_src")
    val out = spark.sql(s"CALL $cat.system.commit_transaction(" +
      "'txn.facts=txn_facts_src,txn.summary=txn_summary_src')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out.keySet === Set("txn.facts", "txn.summary"))
    assert(out.values.forall(_ > 0L), s"snapshots must publish: $out")
    assert(spark.sql(s"SELECT count(*) FROM $cat.txn.facts")
      .collect().head.getLong(0) === 2L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.txn.summary")
      .collect().head.getLong(0) === 1L)
    // the two snapshots arrived via ONE protocol commit: re-running
    // the same appends through the Scala builder also lands both
    val base = s"http://127.0.0.1:${env._1.port}"
    val tx = graft.table.iceberg.IcebergTransaction.forCatalog(spark, cat)
    tx.append("txn", "facts", Seq((3L, 3.5)).toDF("k", "v"))
    tx.append("txn", "summary", Seq(("b", 1L)).toDF("grp", "n"))
    tx.setProperties("txn", "facts", Map("etl.run" -> "r42"))
    tx.commit()
    assert(spark.sql(s"SELECT count(*) FROM $cat.txn.facts")
      .collect().head.getLong(0) === 3L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.txn.summary")
      .collect().head.getLong(0) === 2L)
    assert(IcebergMetadata.load(s"$wh/txn/facts")
      .properties.get("etl.run") === Some("r42"))
    // the CALL's overwrites parameter: append facts + replace summary
    Seq((9L, 9.5)).toDF("k", "v").createOrReplaceTempView("txn_facts_b")
    Seq(("z", 9L)).toDF("grp", "n").createOrReplaceTempView("txn_sum_b")
    spark.sql(s"CALL $cat.system.commit_transaction(" +
      "appends => 'txn.facts=txn_facts_b', " +
      "overwrites => 'txn.summary=txn_sum_b')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.txn.facts")
      .collect().head.getLong(0) === 4L)
    assert(spark.sql(s"SELECT grp FROM $cat.txn.summary")
      .collect().map(_.getString(0)).toSeq === Seq("z"))
  }

  test("CALL commit_transaction into a nested namespace reports the " +
      "committed snapshot without re-fetching the table") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.txa")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.txa.b")
    spark.sql(s"CREATE TABLE $cat.txa.b.t (k BIGINT, v DOUBLE)")
    Seq((1L, 1.5), (2L, 2.5)).toDF("k", "v").createOrReplaceTempView("txa_src")
    val gets = tableGets
    val out = spark.sql(s"CALL $cat.system.commit_transaction('txa.b.t=txa_src')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // one GET stages the append against the served base; the snapshot
    // reported is the one the commit published, not a second GET
    assert(tableGets - gets === 1, "commit_transaction re-fetched the table")
    val served = IcebergMetadata.load(s"$wh/txa/b/t").currentSnapshotId
    assert(served.isDefined)
    assert(out === Seq(("txa.b.t", served.get)))
    assert(spark.sql(s"SELECT count(*) FROM $cat.txa.b.t")
      .collect().head.getLong(0) === 2L)
  }

  test("commit_transaction: a racing commit 409s the WHOLE transaction") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.txr")
    spark.sql(s"CREATE TABLE $cat.txr.a (k BIGINT)")
    spark.sql(s"CREATE TABLE $cat.txr.b (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.txr.b VALUES (0)")
    val base = s"http://127.0.0.1:${env._1.port}"
    def snap(t: String): Option[Long] =
      IcebergMetadata.load(s"$wh/txr/$t").currentSnapshotId

    val aBefore = snap("a")
    val tx = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx.append("txr", "a", Seq(1L, 2L).toDF("k"))
    tx.append("txr", "b", Seq(3L).toDF("k"))
    // a rival single-table commit moves table b AFTER the transaction
    // observed it — the transaction's assert-ref-snapshot-id is now
    // stale, so the server 409s the whole thing and table a stays put
    spark.sql(s"INSERT INTO $cat.txr.b VALUES (99)")
    intercept[java.util.ConcurrentModificationException] {
      tx.commit(maxAttempts = 1)
    }
    assert(snap("a") === aBefore,
      "a 409'd transaction must publish NOTHING — table a moved")
    assert(spark.sql(s"SELECT count(*) FROM $cat.txr.a")
      .collect().head.getLong(0) === 0L)
    // the rival's own commit is intact
    assert(spark.sql(s"SELECT count(*) FROM $cat.txr.b")
      .collect().head.getLong(0) === 2L)
    // staged files were cleaned up on abort: no unreferenced residue
    val dataDir = new java.io.File(s"$wh/txr/a/data")
    assert(!dataDir.exists() || dataDir.listFiles().isEmpty,
      "aborted transaction leaked staged data files")

    // with retries allowed, the same race is absorbed by a rebase:
    // everything lands on top of the rival's commit
    val tx2 = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx2.append("txr", "a", Seq(1L, 2L).toDF("k"))
    tx2.append("txr", "b", Seq(3L).toDF("k"))
    spark.sql(s"INSERT INTO $cat.txr.b VALUES (100)")
    tx2.commit(maxAttempts = 5)
    assert(spark.sql(s"SELECT count(*) FROM $cat.txr.a")
      .collect().head.getLong(0) === 2L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.txr.b")
      .collect().head.getLong(0) === 4L)
  }

  test("transaction overwrite: append-log + rebuild-rollup atomically") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.txo")
    spark.sql(s"CREATE TABLE $cat.txo.log (k BIGINT)")
    spark.sql(s"CREATE TABLE $cat.txo.rollup (n BIGINT)")
    spark.sql(s"INSERT INTO $cat.txo.log VALUES (1), (2)")
    spark.sql(s"INSERT INTO $cat.txo.rollup VALUES (2)")
    val base = s"http://127.0.0.1:${env._1.port}"
    // THE multi-table ETL shape: append the new batch to the log and
    // REPLACE the rollup's whole content, one atomic publish
    val tx = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx.append("txo", "log", Seq(3L, 4L, 5L).toDF("k"))
    tx.overwrite("txo", "rollup", Seq(5L).toDF("n"))
    tx.commit()
    assert(spark.sql(s"SELECT count(*) FROM $cat.txo.log")
      .collect().head.getLong(0) === 5L)
    assert(spark.sql(s"SELECT * FROM $cat.txo.rollup")
      .collect().map(_.getLong(0)).toSeq === Seq(5L))
    // history kept: the pre-overwrite rollup still time-travels
    val snaps = spark.sql(s"SELECT snapshot_id FROM $cat.txo.rollup.snapshots")
      .collect().map(_.getLong(0)).sorted
    assert(snaps.length === 2)
    assert(spark.sql(
        s"SELECT * FROM $cat.txo.rollup VERSION AS OF ${snaps.head}")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))

    // an overwrite NEVER rebases: if the rollup moves after staging,
    // the transaction refuses even with retries allowed (replaying
    // content computed from a stale base would drop the rival commit)
    val tx2 = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx2.append("txo", "log", Seq(6L).toDF("k"))
    tx2.overwrite("txo", "rollup", Seq(6L).toDF("n"))
    spark.sql(s"INSERT INTO $cat.txo.rollup VALUES (99)")
    val e = intercept[java.util.ConcurrentModificationException] {
      tx2.commit(maxAttempts = 5)
    }
    assert(e.getMessage.contains("overwrite"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.txo.log")
      .collect().head.getLong(0) === 5L,
      "refused transaction must publish nothing")
    assert(spark.sql(s"SELECT count(*) FROM $cat.txo.rollup")
      .collect().head.getLong(0) === 2L)
  }

  test("transaction delta + schema: GDPR delete + upsert + evolve atomically") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.txd")
    spark.sql(s"CREATE TABLE $cat.txd.facts (user BIGINT, v DOUBLE)")
    spark.sql(s"CREATE TABLE $cat.txd.summary (user BIGINT, n BIGINT)")
    spark.sql(s"INSERT INTO $cat.txd.facts VALUES " +
      "(1, 1.0), (2, 2.0), (2, 2.5), (3, 3.0)")
    spark.sql(s"INSERT INTO $cat.txd.summary VALUES (1, 1), (2, 2), (3, 1)")
    val base = s"http://127.0.0.1:${env._1.port}"

    // THE GDPR shape: user 2 disappears from facts AND summary in one
    // atomic commit, plus a schema evolution riding the same protocol
    // transaction — O(changed rows) IO, no data file rewritten
    val tx = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx.deleteByKey("txd", "facts", Seq(2L).toDF("user"), Seq("user"))
    tx.deleteByKey("txd", "summary", Seq(2L).toDF("user"), Seq("user"))
    tx.addColumns("txd", "facts", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("erasure_audit",
        org.apache.spark.sql.types.StringType))))
    tx.commit()
    // the conventional try/finally { tx.abort() } shape must be a
    // safe no-op after commit — never delete committed files
    tx.abort(); tx.abort()
    assert(spark.sql(s"SELECT user FROM $cat.txd.facts ORDER BY user")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    assert(spark.sql(s"SELECT user FROM $cat.txd.summary ORDER BY user")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    assert(spark.sql(s"SELECT * FROM $cat.txd.facts").schema.fieldNames
      .contains("erasure_audit"),
      "schema evolution must land with the transaction")
    // pre-erasure state still time-travels until expire_snapshots
    val snaps = spark.sql(
        s"SELECT snapshot_id FROM $cat.txd.facts.snapshots ORDER BY committed_at")
      .collect().map(_.getLong(0))
    assert(spark.sql(
        s"SELECT count(*) FROM $cat.txd.facts VERSION AS OF ${snaps.head}")
      .collect().head.getLong(0) === 4L)

    // MERGE-shape upsert in a transaction: summary row for user 1
    // replaced while facts appends, atomically
    val tx2 = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx2.upsertByKey("txd", "summary",
      Seq((1L, 100L)).toDF("user", "n"), Seq("user"))
    tx2.append("txd", "facts", Seq((4L, 4.0)).toDF("user", "v"))
    tx2.commit()
    assert(spark.sql(s"SELECT n FROM $cat.txd.summary WHERE user = 1")
      .collect().map(_.getLong(0)).toSeq === Seq(100L))
    assert(spark.sql(s"SELECT count(*) FROM $cat.txd.summary")
      .collect().head.getLong(0) === 2L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.txd.facts")
      .collect().head.getLong(0) === 3L)

    // the SQL front: CALL commit_transaction with deletes + upserts
    Seq(3L).toDF("user").createOrReplaceTempView("txd_erase")
    Seq((1L, 200L)).toDF("user", "n").createOrReplaceTempView("txd_up")
    spark.sql(s"CALL $cat.system.commit_transaction(" +
      "deletes => 'txd.facts=txd_erase:user', " +
      "upserts => 'txd.summary=txd_up:user')")
    assert(spark.sql(s"SELECT user FROM $cat.txd.facts ORDER BY user")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 4L))
    assert(spark.sql(s"SELECT user, n FROM $cat.txd.summary ORDER BY user")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 200L), (3L, 1L)))
  }

  test("transaction delta: rival 409s everything; staged delete files cleaned") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.txe")
    spark.sql(s"CREATE TABLE $cat.txe.a (k BIGINT)")
    spark.sql(s"CREATE TABLE $cat.txe.b (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.txe.a VALUES (1), (2)")
    spark.sql(s"INSERT INTO $cat.txe.b VALUES (1)")
    val base = s"http://127.0.0.1:${env._1.port}"
    def dataFiles(t: String): Set[String] = {
      val d = new java.io.File(s"$wh/txe/$t/data")
      if (!d.exists()) Set.empty else d.listFiles().map(_.getName).toSet
    }
    val aFilesBefore = dataFiles("a")
    val aSnapBefore = IcebergMetadata.load(s"$wh/txe/a").currentSnapshotId

    val tx = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx.deleteByKey("txe", "a", Seq(1L).toDF("k"), Seq("k"))
    tx.append("txe", "b", Seq(9L).toDF("k"))
    // rival moves b after observation; single attempt → whole tx fails
    spark.sql(s"INSERT INTO $cat.txe.b VALUES (99)")
    intercept[java.util.ConcurrentModificationException] {
      tx.commit(maxAttempts = 1)
    }
    assert(IcebergMetadata.load(s"$wh/txe/a").currentSnapshotId
      === aSnapBefore, "failed delta transaction must publish nothing")
    assert(spark.sql(s"SELECT k FROM $cat.txe.a ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(dataFiles("a") === aFilesBefore,
      "aborted transaction leaked its staged equality-delete file")
    // retries absorb the race: the eq delete rebases onto the rival
    val tx2 = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx2.deleteByKey("txe", "a", Seq(1L).toDF("k"), Seq("k"))
    tx2.deleteByKey("txe", "b", Seq(99L).toDF("k"), Seq("k"))
    spark.sql(s"INSERT INTO $cat.txe.b VALUES (100)")
    tx2.commit(maxAttempts = 5)
    assert(spark.sql(s"SELECT k FROM $cat.txe.a").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
    assert(spark.sql(s"SELECT k FROM $cat.txe.b ORDER BY k").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 100L),
      "rebased eq delete must hide the rival's 99 row (earlier sequence)")
  }

  test("transaction positional delete: validates referenced files each attempt") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.txp")
    spark.sql(s"CREATE TABLE $cat.txp.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.txp.t VALUES (10), (20)")
    spark.sql(s"INSERT INTO $cat.txp.t VALUES (30)")
    val base = s"http://127.0.0.1:${env._1.port}"
    def livePaths(): Seq[String] = spark.sql(
        s"SELECT path FROM $cat.txp.t.files")
      .collect().map(_.getString(0)).sorted

    // happy path: hide row 0 of the first data file
    val first = livePaths().head
    val tx = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx.deletePositions("txp", "t",
      Seq((first, 0L)).toDF("file_path", "pos"))
    tx.commit()
    assert(spark.sql(s"SELECT count(*) FROM $cat.txp.t")
      .collect().head.getLong(0) === 2L)

    // a compaction rewriting the referenced files between staging and
    // commit must FAIL the transaction (resurrecting deleted rows by
    // pointing at dead paths is the alternative)
    val tx2 = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx2.deletePositions("txp", "t",
      Seq((livePaths().head, 0L)).toDF("file_path", "pos"))
    spark.sql(s"CALL $cat.system.rewrite_data_files('txp.t')")
    val e = intercept[java.util.ConcurrentModificationException] {
      tx2.commit(maxAttempts = 3)
    }
    assert(e.getMessage.contains("position deletes reference"),
      s"wrong refusal: ${e.getMessage}")
    assert(spark.sql(s"SELECT count(*) FROM $cat.txp.t")
      .collect().head.getLong(0) === 2L,
      "refused positional delta must publish nothing")
  }

  test("transaction write-audit-publish: stage on audit branches of N " +
      "tables, publish every branch move in ONE protocol commit") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wap")
    val tables = Seq("t1", "t2", "t3")
    tables.foreach { t =>
      spark.sql(s"CREATE TABLE $cat.wap.$t (k BIGINT)")
      spark.sql(s"INSERT INTO $cat.wap.$t VALUES (1), (2)")
    }
    val base = s"http://127.0.0.1:${env._1.port}"
    def m(t: String) = IcebergMetadata.load(s"$wh/wap/$t")
    def countMain(t: String): Long =
      spark.sql(s"SELECT count(*) FROM $cat.wap.$t").collect().head.getLong(0)

    // WRITE: one transaction forks each table's audit branch from main
    // (setSnapshotRef) and stages the batch onto it (branch-targeted
    // append) — main untouched across all three tables
    val mains = tables.map(t => t -> m(t).currentSnapshotId.get).toMap
    val tx = new graft.table.iceberg.IcebergTransaction(spark, base)
    tables.zipWithIndex.foreach { case (t, i) =>
      tx.setSnapshotRef("wap", t, "audit", mains(t))
      tx.append("wap", t, Seq(10L + i).toDF("k"), toRef = "audit")
    }
    tx.commit()
    tables.foreach { t =>
      val meta = m(t)
      assert(meta.currentSnapshotId === Some(mains(t)),
        s"$t: main must not move on the write step")
      assert(meta.refs.get("audit").exists(_ != mains(t)),
        s"$t: audit branch must hold the staged append")
      assert(countMain(t) === 2L)
      // the staged rows are visible ONLY through the branch
      assert(spark.sql(s"SELECT count(*) FROM $cat.wap.$t " +
          s"VERSION AS OF ${meta.refs("audit")}")
        .collect().head.getLong(0) === 3L)
    }

    // audit passed; PUBLISH: fast-forward all three mains to their
    // audit heads and drop the branches — ONE protocol commit, every
    // table's main advances together
    val tx2 = new graft.table.iceberg.IcebergTransaction(spark, base)
    tables.foreach { t =>
      tx2.fastForward("wap", t, "main", fromRef = "audit")
      tx2.dropSnapshotRef("wap", t, "audit")
    }
    tx2.commit()
    tables.foreach { t =>
      assert(!m(t).refs.contains("audit"), s"$t: audit branch dropped")
      assert(countMain(t) === 3L, s"$t: published rows visible on main")
    }

    // a rival commit on ONE table's main between re-audit and publish
    // refuses the WHOLE publish: fast-forward demands ancestry (the
    // audit is stale for that table), and atomicity means no other
    // table's main moved either
    val mains3 = tables.map(t => t -> m(t).currentSnapshotId.get).toMap
    val tx3 = new graft.table.iceberg.IcebergTransaction(spark, base)
    tables.foreach { t =>
      tx3.setSnapshotRef("wap", t, "audit", mains3(t))
      tx3.append("wap", t, Seq(99L).toDF("k"), toRef = "audit")
    }
    tx3.commit()
    val tx4 = new graft.table.iceberg.IcebergTransaction(spark, base)
    tables.foreach(t => tx4.fastForward("wap", t, "main", fromRef = "audit"))
    spark.sql(s"INSERT INTO $cat.wap.t2 VALUES (50)") // rival moves ONE main
    intercept[java.util.ConcurrentModificationException] {
      tx4.commit(maxAttempts = 5) // retries can't fix a stale audit
    }
    tables.foreach { t =>
      val expect = if (t == "t2") 4L else 3L
      assert(countMain(t) === expect,
        s"$t: a refused publish must move NO main")
    }
    // recovery is a re-audit: re-fork t2's audit from its NEW main,
    // re-stage, and the publish lands on all three atomically
    val tx5 = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx5.setSnapshotRef("wap", "t2", "audit",
      m("t2").currentSnapshotId.get)
    tx5.append("wap", "t2", Seq(99L).toDF("k"), toRef = "audit")
    tx5.commit()
    val tx6 = new graft.table.iceberg.IcebergTransaction(spark, base)
    tables.foreach { t =>
      tx6.fastForward("wap", t, "main", fromRef = "audit")
      tx6.dropSnapshotRef("wap", t, "audit")
    }
    tx6.commit()
    tables.foreach { t =>
      val expect = if (t == "t2") 5L else 4L // t2 kept the rival's row
      assert(countMain(t) === expect, s"$t: re-audited publish landed")
      assert(!m(t).refs.contains("audit"))
    }
  }

  test("SQL write-audit-publish: CALL commit_transaction stages on " +
      "branches and publishes atomically") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wapq")
    Seq("t1", "t2").foreach { t =>
      spark.sql(s"CREATE TABLE $cat.wapq.$t (k BIGINT)")
      spark.sql(s"INSERT INTO $cat.wapq.$t VALUES (1), (2)")
    }
    Seq(10L).toDF("k").createOrReplaceTempView("wapq_b1")
    Seq(11L, 12L).toDF("k").createOrReplaceTempView("wapq_b2")
    def count(t: String): Long =
      spark.sql(s"SELECT count(*) FROM $cat.wapq.$t")
        .collect().head.getLong(0)
    // WRITE: both batches land on audit branches (forked from main) in
    // one CALL; mains untouched
    spark.sql(s"CALL $cat.system.commit_transaction(branch_appends => " +
      "'wapq.t1=wapq_b1@audit,wapq.t2=wapq_b2@audit')")
    assert(count("t1") === 2L && count("t2") === 2L,
      "branch_appends must not move mains")
    Seq("t1", "t2").foreach { t =>
      val m = IcebergMetadata.load(s"$wh/wapq/$t")
      assert(m.refs.contains("audit"), s"$t audit branch missing")
    }
    // PUBLISH: both fast-forwards + branch drops in one CALL
    spark.sql(s"CALL $cat.system.commit_transaction(fast_forwards => " +
      "'wapq.t1=main<audit,wapq.t2=main<audit', " +
      "drop_refs => 'wapq.t1=audit,wapq.t2=audit')")
    assert(count("t1") === 3L && count("t2") === 4L,
      "published batches must be visible on main")
    Seq("t1", "t2").foreach { t =>
      assert(!IcebergMetadata.load(s"$wh/wapq/$t").refs.contains("audit"))
    }
    // a rival between stage and publish refuses the WHOLE publish
    spark.sql(s"CALL $cat.system.commit_transaction(branch_appends => " +
      "'wapq.t1=wapq_b1@audit,wapq.t2=wapq_b2@audit')")
    spark.sql(s"INSERT INTO $cat.wapq.t2 VALUES (50)")
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.commit_transaction(fast_forwards => " +
        "'wapq.t1=main<audit,wapq.t2=main<audit')")
    }
    assert(e.getMessage.contains("not an ancestor") ||
      Option(e.getCause).exists(_.getMessage.contains("not an ancestor")),
      s"stale audit must refuse with the ancestry message: $e")
    assert(count("t1") === 3L, "refused publish must move NO main")
  }

  test("first-load WAP: branch_appends into a freshly created EMPTY " +
      "table skips the fork, stages on the branch, publishes to a " +
      "headless main") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wapn")
    spark.sql(s"CREATE TABLE $cat.wapn.fresh (k BIGINT)") // no snapshot yet
    Seq(1L, 2L, 3L).toDF("k").createOrReplaceTempView("wapn_b")
    // pre-r17 this CALL threw: forkRefIfAbsent demanded a main head
    // even though append(toRef) supports a branch starting empty
    spark.sql(s"CALL $cat.system.commit_transaction(branch_appends => " +
      "'wapn.fresh=wapn_b@audit')")
    val m0 = IcebergMetadata.load(s"$wh/wapn/fresh")
    assert(m0.currentSnapshotId.isEmpty,
      "main must stay headless on the write step")
    assert(m0.refs.contains("audit"), "audit branch must hold the batch")
    spark.sql(s"CALL $cat.system.commit_transaction(fast_forwards => " +
      "'wapn.fresh=main<audit', drop_refs => 'wapn.fresh=audit')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.wapn.fresh")
      .collect().head.getLong(0) === 3L,
      "first-load publish must land the batch on main")
    assert(!IcebergMetadata.load(s"$wh/wapn/fresh").refs.contains("audit"))
  }

  test("transaction-minted tags with retention ride the protocol; " +
      "fast-forward preserves a branch's policy; main refuses a tag") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.reft")
    spark.sql(s"CREATE TABLE $cat.reft.t (k BIGINT)")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO $cat.reft.t VALUES ($i)"))
    val base = s"http://127.0.0.1:${env._1.port}"
    val loc = s"$wh/reft/t"
    val head = IcebergMetadata.load(loc).currentSnapshotId.get

    // a tag with a ref-age policy, set through the TRANSACTION —
    // type and retention must ride the set-snapshot-ref update
    val tx = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx.setSnapshotRef("reft", "t", "rel", head, refType = "tag",
      retention = Some(IcebergMetadata.IceRefRetention(
        maxRefAgeMs = Some(86400000L))))
    // and a branch with a keep floor, in the same commit
    tx.setSnapshotRef("reft", "t", "work", head,
      retention = Some(IcebergMetadata.IceRefRetention(
        minSnapshotsToKeep = Some(2))))
    tx.commit()
    val m1 = IcebergMetadata.load(loc)
    assert(m1.refTypes.get("rel").contains("tag"))
    assert(m1.refRetention.get("rel").flatMap(_.maxRefAgeMs)
      .contains(86400000L))
    // branch type is explicit in serialized bytes, so a round-trip
    // load materializes it
    assert(m1.refTypes.getOrElse("work", "branch") === "branch")
    assert(m1.refRetention.get("work").flatMap(_.minSnapshotsToKeep)
      .contains(2))

    // a branch append + fast-forward move the POINTER only: the
    // branch's declared retention policy survives the move
    Seq(10L).toDF("k").createOrReplaceTempView("reft_b")
    spark.sql(s"CALL $cat.system.commit_transaction(branch_appends => " +
      "'reft.t=reft_b@work')")
    val tx2 = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx2.fastForward("reft", "t", "main", fromRef = "work")
    tx2.commit()
    val m2 = IcebergMetadata.load(loc)
    assert(m2.refs("main") === m2.refs("work"))
    assert(m2.refRetention.get("work").flatMap(_.minSnapshotsToKeep)
      .contains(2), "fast-forward must not strip the branch policy")
    assert(m2.refTypes.get("rel").contains("tag"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.reft.t")
      .collect().head.getLong(0) === 4L)

    // 'main' is always a branch and never expires: tag type or a
    // ref-age policy on it is a caller error, refused at staging
    val tx3 = new graft.table.iceberg.IcebergTransaction(spark, base)
    intercept[IllegalArgumentException] {
      tx3.setSnapshotRef("reft", "t", "main", head, refType = "tag")
    }
    intercept[IllegalArgumentException] {
      tx3.setSnapshotRef("reft", "t", "main", head,
        retention = Some(IcebergMetadata.IceRefRetention(
          maxRefAgeMs = Some(1L))))
    }
  }

  test("transaction rewrite: compaction + lineage stamps ride the " +
      "transaction; rivals on compacted files refuse, rival appends carry") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.txw")
    spark.sql(s"CREATE TABLE $cat.txw.t (k BIGINT, v DOUBLE)")
    (1 to 6).foreach(i =>
      spark.sql(s"INSERT INTO $cat.txw.t VALUES ($i, $i.5)"))
    spark.sql(s"CREATE TABLE $cat.txw.log (k BIGINT)")
    val base = s"http://127.0.0.1:${env._1.port}"
    def files(): Int =
      IcebergTable.load(spark, s"$wh/txw/t").plannedFiles().size
    def sumK(): Long = spark.sql(s"SELECT sum(k) FROM $cat.txw.t")
      .collect().head.getLong(0)
    assert(files() === 6)

    // compaction + an append on another table land in ONE commit,
    // lineage stamped on the rewrite snapshot (rewrite_with_lineage)
    val tx = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx.rewrite("txw", "t", lineage = Map(
      "compaction.run" -> "r1", "compaction.trigger" -> "small-files"))
    tx.append("txw", "log", Seq(1L).toDF("k"))
    tx.commit()
    assert(sumK() === 21L, "rewrite must preserve rows")
    assert(files() === 1, "six small files fold into one bin")
    val snap = IcebergMetadata.load(s"$wh/txw/t").currentSnapshot.get
    assert(snap.operation === "replace",
      "compaction is row-preserving — streaming/MV consumers rely on it")
    assert(snap.summary.get("compaction.run") === Some("r1"))
    assert(snap.summary.get("compaction.trigger") === Some("small-files"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.txw.log")
      .collect().head.getLong(0) === 1L)

    // a rival CoW DELETE rewrote the compacted file after staging:
    // the rewrite refuses even with retries (its content is stale)
    val tx2 = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx2.rewrite("txw", "t")
    spark.sql(s"DELETE FROM $cat.txw.t WHERE k = 3")
    val e = intercept[java.util.ConcurrentModificationException] {
      tx2.commit(maxAttempts = 5)
    }
    assert(e.getMessage.contains("rewrite"))
    assert(sumK() === 18L, "refused rewrite publishes nothing")

    // a rival APPEND since staging is CARRIED — compaction composes
    // with concurrent ingest instead of dropping it
    val tx3 = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx3.rewrite("txw", "t", lineage = Map("compaction.run" -> "r2"))
    spark.sql(s"INSERT INTO $cat.txw.t VALUES (100, 0.5)")
    tx3.commit(maxAttempts = 5)
    assert(sumK() === 118L, "rival append's rows survive the rewrite")
    assert(files() === 2, "the rival's file rides next to the new bin")

    // a rival MoR equality delete lands at a LATER sequence than the
    // staged rewrite: refuse — the rewritten rows would escape it
    val tx4 = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx4.rewrite("txw", "t")
    graft.table.iceberg.IcebergWrite.deleteEquality(spark, s"$wh/txw/t",
      Seq(100L).toDF("k"), Seq("k"))
    val e2 = intercept[java.util.ConcurrentModificationException] {
      tx4.commit(maxAttempts = 5)
    }
    assert(e2.getMessage.contains("sequence") ||
      e2.getMessage.contains("rewritten or removed"))
    assert(sumK() === 18L, "MoR delete applies; refused rewrite added nothing")
  }

  test("transaction spec evolution: addPartitionSpec + setDefaultSpec " +
      "ride the protocol; data ops staged after a spec change refuse") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.txs")
    spark.sql(s"CREATE TABLE $cat.txs.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.txs.t VALUES (1)")
    val base = s"http://127.0.0.1:${env._1.port}"
    def meta() = IcebergMetadata.load(s"$wh/txs/t")

    // append staged BEFORE the spec change folds under the spec it was
    // routed with; the new era becomes default in the same commit
    val tx = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx.append("txs", "t", Seq(5L).toDF("k"))
    tx.addPartitionSpec("txs", "t", Seq("k" -> "truncate[10]"))
    tx.commit()
    val m1 = meta()
    assert(m1.specs.size === 2, "a second spec era registered")
    assert(m1.defaultSpecId === m1.specs.map(_.specId).max)
    assert(m1.specs.find(_.specId == m1.defaultSpecId).get
      .fields.map(_.transform) === Seq("truncate[10]"))

    // later writes route under the new era; reads span both eras
    spark.sql(s"INSERT INTO $cat.txs.t VALUES (25)")
    assert(spark.sql(s"SELECT sum(k) FROM $cat.txs.t")
      .collect().head.getLong(0) === 31L)

    // the reference's set_default_spec: select an EXISTING era by id
    val tx2 = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx2.setDefaultSpec("txs", "t", 0)
    tx2.commit()
    assert(meta().defaultSpecId === 0)
    assert(meta().specs.size === 2, "eras are never dropped")

    // ordering guard: a data op staged AFTER a spec change of the same
    // table was partition-routed under the OLD spec — the fold refuses
    // loudly (atomically: the spec change doesn't land either)
    val tx3 = new graft.table.iceberg.IcebergTransaction(spark, base)
    tx3.addPartitionSpec("txs", "t", Seq("k" -> "bucket[4]"))
    tx3.append("txs", "t", Seq(7L).toDF("k"))
    intercept[java.util.ConcurrentModificationException] {
      tx3.commit()
    }
    assert(meta().specs.size === 2, "refused transaction adds no spec")
    assert(spark.sql(s"SELECT sum(k) FROM $cat.txs.t")
      .collect().head.getLong(0) === 31L)
  }

  test("transaction fuzz: random multi-table transactions land fully or not at all (seed 1914)") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.txf")
    val tables = Seq("a", "b", "c")
    tables.foreach(t =>
      spark.sql(s"CREATE TABLE $cat.txf.$t (k BIGINT)"))
    val base = s"http://127.0.0.1:${env._1.port}"
    val rng = new scala.util.Random(1914)
    // model: the exact multiset of k values per table (delta ops need
    // value identity, not just counts), one tracked property, and the
    // expected column count (schema evolutions ride transactions too)
    val content = scala.collection.mutable.Map(
      tables.map(_ -> scala.collection.mutable.Buffer.empty[Long]): _*)
    val props = scala.collection.mutable.Map[String, String]()
    val cols = scala.collection.mutable.Map(tables.map(_ -> 1): _*)

    def vals(n: Int): Seq[Long] =
      (1 to n).map(_ => rng.nextLong().abs % 1000)

    (1 to 25).foreach { round =>
      val involved = rng.shuffle(tables).take(1 + rng.nextInt(tables.size))
      val tx = new graft.table.iceberg.IcebergTransaction(spark, base)
      // staged ops per table, in random shapes; track the would-be model
      val pending: Seq[(String, (String, Seq[Long], String))] =
        involved.map { t =>
          rng.nextInt(10) match {
            case 0 =>
              val vs = vals(1 + rng.nextInt(20))
              tx.append("txf", t, vs.toDF("k"))
              (t, ("append", vs, ""))
            case 1 =>
              val vs = vals(1 + rng.nextInt(10))
              tx.overwrite("txf", t, vs.toDF("k"))
              (t, ("overwrite", vs, ""))
            case 2 =>
              val v = s"r$round"
              tx.setProperties("txf", t, Map("fuzz.round" -> v))
              (t, ("props", Seq.empty[Long], v))
            case 3 =>
              // equality-delete a value the table (probably) holds —
              // hides EVERY row with that k, including a same-round
              // rival's (the delete lands at a later sequence)
              val v = if (content(t).nonEmpty)
                content(t)(rng.nextInt(content(t).size))
              else rng.nextLong().abs % 1000
              tx.deleteByKey("txf", t, Seq(v).toDF("k"), Seq("k"))
              (t, ("delete", Seq(v), ""))
            case 4 =>
              // MERGE-shape upsert: distinct keys replace any matching
              // rows (old versions hidden, new rows live)
              val vs = vals(1 + rng.nextInt(5)).distinct
              tx.upsertByKey("txf", t, vs.toDF("k"), Seq("k"))
              (t, ("upsert", vs, ""))
            case 5 =>
              tx.addColumns("txf", t, org.apache.spark.sql.types.StructType(
                Seq(org.apache.spark.sql.types.StructField(
                  s"x_${t}_$round",
                  org.apache.spark.sql.types.DoubleType))))
              (t, ("addcol", Seq.empty[Long], ""))
            case 6 =>
              // branch-targeted append: rows park on a side branch —
              // MAIN content must be untouched, under rivals/rebases
              val vs = vals(1 + rng.nextInt(5))
              tx.append("txf", t, vs.toDF("k"), toRef = "side")
              (t, ("sideappend", vs, ""))
            case 7 =>
              // spec evolution riding the transaction: later writes
              // route under the new era; content is unaffected
              tx.addPartitionSpec("txf", t, Seq("k" -> "truncate[100]"))
              (t, ("addspec", Seq.empty[Long], ""))
            case 8 =>
              // transaction-staged rewrite: row-preserving compaction
              // with lineage — content unchanged, rival appends carry.
              // An empty table's rewrite is an identity fold (no
              // snapshot, no stamp) — remember which shape was staged
              tx.rewrite("txf", t, lineage = Map("fuzz.rw" -> s"$round"))
              (t, ("rewrite", Seq.empty[Long],
                if (content(t).nonEmpty) "stamped" else ""))
            case 9 if content(t).nonEmpty =>
              // transaction-minted tag with retention: pins the head
              // id observed at STAGE time — a rival's later commit
              // must not move it (explicit-id refs are rebase-safe)
              val id = graft.table.iceberg.IcebergMetadata
                .load(s"$wh/txf/$t").currentSnapshotId.get
              tx.setSnapshotRef("txf", t, s"tag_r$round", id,
                refType = "tag",
                retention = Some(graft.table.iceberg.IcebergMetadata
                  .IceRefRetention(maxRefAgeMs = Some(86400000L))))
              (t, ("tag", Seq(id), s"tag_r$round"))
            case _ => // tag on an empty table has no pin target
              val vs = vals(1 + rng.nextInt(20))
              tx.append("txf", t, vs.toDF("k"))
              (t, ("append", vs, ""))
          }
        }
      // 40% of rounds: a rival single-table commit lands AFTER staging
      val rival = if (rng.nextInt(10) < 4) {
        val t = involved(rng.nextInt(involved.size))
        // column-listed: the table may have evolved extra columns
        spark.sql(s"INSERT INTO $cat.txf.$t (k) VALUES ($round)")
        content(t) += round.toLong
        Some(t)
      } else None
      // an overwrite whose table moved must REFUSE (never rebases);
      // everything else absorbs the rival by rebase-retry
      val mustRefuse = rival.exists(t =>
        pending.exists(p => p._1 == t && p._2._1 == "overwrite"))
      if (mustRefuse)
        intercept[java.util.ConcurrentModificationException] {
          tx.commit(maxAttempts = 5)
        }
      else {
        tx.commit(maxAttempts = 5)
        // rival applied to the model FIRST (it committed first; the
        // transaction rebased on top), then the transaction's ops
        pending.foreach {
          case (t, ("append", vs, _)) => content(t) ++= vs
          case (t, ("overwrite", vs, _)) =>
            // a rival on an overwritten table always refuses (handled
            // above), so a committed overwrite saw no interleaver
            content(t).clear(); content(t) ++= vs
          case (t, ("props", _, v)) => props(t) = v
          case (t, ("delete", vs, _)) =>
            val dead = vs.toSet
            val kept = content(t).filterNot(dead)
            content(t).clear(); content(t) ++= kept
          case (t, ("upsert", vs, _)) =>
            val keys = vs.toSet
            val kept = content(t).filterNot(keys)
            content(t).clear(); content(t) ++= kept ++= vs
          case (t, ("addcol", _, _)) => cols(t) += 1
          case (t, ("sideappend", _, _)) =>
            // main content untouched; the branch must hold the rows
            val meta =
              graft.table.iceberg.IcebergMetadata.load(s"$wh/txf/$t")
            assert(meta.refs.contains("side"),
              s"round $round: $t side branch missing after sideappend")
          case (_, ("addspec", _, _)) => () // routing-only
          case (t, ("rewrite", _, marker)) =>
            // row-preserving: model unchanged; lineage stamp present
            // whenever the staged fold had content
            if (marker == "stamped") {
              val meta =
                graft.table.iceberg.IcebergMetadata.load(s"$wh/txf/$t")
              assert(meta.snapshots.exists(
                _.summary.get("fuzz.rw").contains(s"$round")),
                s"round $round: $t rewrite lineage stamp missing")
            }
          case (t, ("tag", Seq(id), name)) =>
            // content untouched; the tag must pin the STAGED id with
            // its declared type + retention, rivals notwithstanding
            val meta =
              graft.table.iceberg.IcebergMetadata.load(s"$wh/txf/$t")
            assert(meta.refs.get(name).contains(id),
              s"round $round: $t tag $name lost its pin")
            assert(meta.refTypes.get(name).contains("tag"),
              s"round $round: $t tag $name lost its type")
            assert(meta.refRetention.get(name).flatMap(_.maxRefAgeMs)
              .contains(86400000L),
              s"round $round: $t tag $name lost its retention")
        }
      }
      // verify EVERY table against the model after EVERY round —
      // atomicity means a refused transaction changed nothing
      tables.foreach { t =>
        val got = spark.sql(s"SELECT k FROM $cat.txf.$t")
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(got === content(t).sorted.toSeq,
          s"round $round: table $t holds $got, model says " +
            s"${content(t).sorted.toSeq} " +
            s"(rival=$rival, refused=$mustRefuse, ops=$pending)")
        assert(spark.sql(s"SELECT * FROM $cat.txf.$t").schema.size
          === cols(t),
          s"round $round: $t column count drifted")
        props.get(t).foreach { v =>
          val m = graft.table.iceberg.IcebergMetadata.load(s"$wh/txf/$t")
          assert(m.properties.get("fuzz.round").contains(v),
            s"round $round: $t property drifted")
        }
      }
    }
  }

  test("DROP TABLE and namespace lifecycle over REST") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.lc")
    spark.sql(s"CREATE TABLE $cat.lc.t (k BIGINT)")
    assert(spark.sql(s"SHOW TABLES IN $cat.lc").count() === 1)
    spark.sql(s"DROP TABLE $cat.lc.t")
    assert(spark.sql(s"SHOW TABLES IN $cat.lc").count() === 0)
    spark.sql(s"DROP NAMESPACE $cat.lc")
    assert(!spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).contains("lc"))
  }
}
