package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange}
import java.nio.file.Files
import graft.table.iceberg.{IcebergRestClient, IcebergRestServer}

/** Namespace properties end to end (reference: iceberg-rest-catalog
  * namespace update_properties with the updated/removed/missing
  * response) and multi-level REST namespaces (Namespace is
  * Vec<String> — iceberg-rust-spec/src/spec/namespace.rs:14). */
class NamespaceSpec extends AnyFunSuite {
  import SparkTestSession._

  private def graftCat(name: String): graft.spark.GraftTableCatalog =
    spark.sessionState.catalogManager.catalog(name)
      .asInstanceOf[graft.spark.GraftTableCatalog]

  test("warehouse mode: namespace properties create / alter / load") {
    val wh = Files.createTempDirectory("graft-nsw").toString
    val cat = s"nsw_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db WITH DBPROPERTIES " +
      "('team'='data', 'tier'='gold')")
    val c = graftCat(cat)
    val ns = Array("db")
    assert(c.loadNamespaceMetadata(ns).get("team") === "data")
    // SQL ALTER NAMESPACE SET rides alterNamespace
    spark.sql(s"ALTER NAMESPACE $cat.db SET DBPROPERTIES ('tier'='silver')")
    assert(c.loadNamespaceMetadata(ns).get("tier") === "silver")
    // UNSET via the SPI (no stock-Spark SQL for namespace UNSET)
    c.alterNamespace(ns, NamespaceChange.removeProperty("team"))
    assert(!c.loadNamespaceMetadata(ns).containsKey("team"))
    assert(c.loadNamespaceMetadata(ns).get("tier") === "silver")
    // DESCRIBE surfaces them
    val desc = spark.sql(s"DESCRIBE NAMESPACE EXTENDED $cat.db").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.getOrElse("Properties", "").contains("silver"))
    intercept[Exception](c.loadNamespaceMetadata(Array("nope")))
  }

  test("REST mode: namespace properties ride the protocol; 404 vs " +
      "auth errors are distinguishable") {
    val wh = Files.createTempDirectory("graft-nsr").toString
    val server = new IcebergRestServer(wh,
      bearerToken = Some("sekrit")).start()
    val base = s"http://127.0.0.1:${server.port}"
    try {
      val cat = s"nsr_${java.util.UUID.randomUUID().toString.take(6)}"
      spark.conf.set(s"spark.sql.catalog.$cat",
        "graft.spark.GraftTableCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.uri", base)
      spark.conf.set(s"spark.sql.catalog.$cat.token", "sekrit")
      spark.sql(s"CREATE NAMESPACE $cat.db WITH DBPROPERTIES ('k'='v1')")
      val c = graftCat(cat)
      assert(c.loadNamespaceMetadata(Array("db")).get("k") === "v1")
      spark.sql(s"ALTER NAMESPACE $cat.db SET DBPROPERTIES ('k'='v2', 'w'='x')")
      assert(c.loadNamespaceMetadata(Array("db")).get("k") === "v2")
      c.alterNamespace(Array("db"), NamespaceChange.removeProperty("w"))
      assert(!c.loadNamespaceMetadata(Array("db")).containsKey("w"))
      // the protocol response shape: updated / removed / missing
      val (updated, removed, missing) = IcebergRestClient
        .updateNamespaceProperties(base, "db",
          Map("a" -> "1"), Seq("k", "ghost"))
      assert(updated === Seq("a") && removed === Seq("k") &&
        missing === Seq("ghost"))
      // 404 => NoSuchNamespaceException...
      intercept[org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException](c.loadNamespaceMetadata(Array("nope")))
      // ...but an AUTH failure must NOT read as "namespace missing"
      IcebergRestClient.setTokenFor(base, "wrong")
      val e = intercept[Exception](c.loadNamespaceMetadata(Array("db")))
      assert(!e.isInstanceOf[org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException], s"auth failure misread as 404: $e")
      IcebergRestClient.setTokenFor(base, "sekrit")
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.uri")
      spark.conf.unset(s"spark.sql.catalog.$cat.token")
    } finally server.stop()
  }

  test("multi-level REST namespaces: create / list / use / drop " +
      "cat.a.b.t against the live server") {
    val wh = Files.createTempDirectory("graft-nsml").toString
    val server = new IcebergRestServer(wh).start()
    val base = s"http://127.0.0.1:${server.port}"
    try {
      val cat = s"nsml_${java.util.UUID.randomUUID().toString.take(6)}"
      spark.conf.set(s"spark.sql.catalog.$cat",
        "graft.spark.GraftTableCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.uri", base)
      spark.sql(s"CREATE NAMESPACE $cat.a")
      spark.sql(s"CREATE NAMESPACE $cat.a.b WITH DBPROPERTIES ('lvl'='2')")
      // nested dirs on the server's warehouse
      assert(new java.io.File(s"$wh/a/b").isDirectory)
      val c = graftCat(cat)
      assert(c.loadNamespaceMetadata(Array("a", "b")).get("lvl") === "2")
      // children list under the parent (spec list_namespaces parent=)
      assert(spark.sql(s"SHOW NAMESPACES IN $cat.a").collect()
        .map(_.getString(0)).contains("a.b"))
      // a table in the nested namespace: full DDL/DML/read cycle
      spark.sql(s"CREATE TABLE $cat.a.b.t (k BIGINT, v DOUBLE)")
      spark.sql(s"INSERT INTO $cat.a.b.t VALUES (1, 1.0), (2, 2.0)")
      spark.sql(s"DELETE FROM $cat.a.b.t WHERE k = 1")
      assert(spark.sql(s"SELECT sum(v) FROM $cat.a.b.t").collect()
        .head.getDouble(0) === 2.0)
      assert(spark.sql(s"SHOW TABLES IN $cat.a.b").collect()
        .map(_.getString(1)).contains("t"))
      // metadata table through the multi-level parent
      assert(spark.sql(s"SELECT count(*) FROM $cat.a.b.t.snapshots")
        .collect().head.getLong(0) >= 2L)
      // maintenance CALLs resolve the nested name like every statement
      val rw = spark.sql(
        s"CALL $cat.system.rewrite_data_files(table => 'a.b.t')").collect().head
      assert(rw.getInt(1) === 1, s"compaction should commit one file: $rw")
      val ex = spark.sql(s"CALL $cat.system.expire_snapshots(" +
        "table => 'a.b.t', keep_last => 1)").collect().head
      assert(ex.getInt(1) === 1 && ex.getInt(0) > 1, s"expire: $ex")
      assert(spark.sql(s"SELECT k, v FROM $cat.a.b.t").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq === Seq((2L, 2.0)))
      // drop protection: parent with a child namespace is non-empty
      intercept[Exception](spark.sql(s"DROP NAMESPACE $cat.a"))
      spark.sql(s"DROP TABLE $cat.a.b.t")
      spark.sql(s"DROP NAMESPACE $cat.a.b")
      spark.sql(s"DROP NAMESPACE $cat.a")
      assert(IcebergRestClient.listNamespaces(base).isEmpty)
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.uri")
    } finally server.stop()
  }
}
