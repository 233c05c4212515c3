package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** One workload: a starting state built by `setup`, then ops from the
  * op log run one at a time (a closed loop with one client). */
trait Workload {
  /** Build a fresh starting state; the last call's state is the one the
    * timed window runs against. */
  def setup(rep: Int): Unit
  /** Untimed work after setup that the timed window must not pay: the
    * first run of each op kind compiles and loads code paths once. */
  def warm(ops: Seq[Map[String, Any]]): Unit = ()
  /** Run one op; read ops return their result rows for the check. */
  def run(op: Map[String, Any], tracer: Option[Tracer]): Seq[Row]
  /** Layer facts read beside an op, outside its span (traced run). */
  def probe(op: Map[String, Any]): Map[String, Double] = Map.empty
  /** Files of the tables the workload's directories hold, path -> bytes,
    * split into data and metadata. */
  def listing(): (Map[String, Long], Map[String, Long])
  /** Compare outputs with the reference after the timed window:
    * (checks made, checks failed, failure notes). */
  def check(done: Seq[(Map[String, Any], Boolean, Seq[Row])], corrupt: Boolean)
      : (Int, Int, Seq[String])
  /** Bytes stored at the end and live rows, for stored_bytes_per_row. */
  def stored(): (Long, Long)
  def close(): Unit = ()
}

object Workload {
  def sql(spark: SparkSession, q: String): Seq[Row] = spark.sql(q).collect().toSeq

  /** Rows as a sorted list of strings: result order is not part of
    * any query's contract here. */
  def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  def dirBytes(dir: String): Long = files(dir).values.sum

  /** Files of every table under `dirs`, split into data and metadata. A
    * table is a directory with a `metadata` directory in it (graft-dialect
    * and Iceberg tables alike); files outside tables are not counted. */
  def tableFiles(dirs: String*): (Map[String, Long], Map[String, Long]) = {
    val all = dirs.flatMap(files).toMap
    val roots = all.keys.filter(_.contains("/metadata/"))
      .map(p => p.substring(0, p.lastIndexOf("/metadata/") + 1)).toSet
    all.filter { case (p, _) => roots.exists(p.startsWith) }
      .partition { case (p, _) => !p.contains("/metadata/") }
  }

  def files(dir: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val s = java.nio.file.Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
    } finally s.close()
  }
}

/** The three table workloads share one implementation: a lineitem-shaped
  * table partitioned by months(l_shipdate), behind a warehouse-mode
  * catalog (`wh_*`, graft-dialect tables today) or an in-process Iceberg
  * REST server on loopback (`rest_mixed`, Iceberg v2 tables). */
final class TableWorkload(spark: SparkSession, name: String, inputs: String,
    work: String) extends Workload {
  import Model._
  import Workload._

  private val rest = name == "rest_mixed"
  private val servers = ArrayBuffer[graft.table.iceberg.IcebergRestServer]()
  private var cat = ""
  private var root = ""
  private var snapshotIds = IndexedSeq.empty[Long]
  private def table = s"$cat.db.li"

  spark.read.parquet(s"$inputs/base.parquet").createOrReplaceTempView("bench_base")
  spark.read.parquet(s"$inputs/batches.parquet").createOrReplaceTempView("bench_batches")
  if (name != "wh_query")
    spark.read.parquet(s"$inputs/merges.parquet").createOrReplaceTempView("bench_merges")
  else spark.read.parquet(s"$inputs/supplier.parquet").createOrReplaceTempView("bench_supplier")
  private val smallCommits =
    if (name == "wh_query") spark.sql("SELECT max(b) FROM bench_batches").head().getInt(0) + 1
    else 0
  private val cols = Columns.mkString(", ")
  // the row-count column of the `files` metadata table: `records` on
  // graft-dialect tables, `record_count` (Iceberg spec) on real-format ones
  private var recordsColumn = ""

  def setup(rep: Int): Unit = {
    val wh = s"$work/wh$rep"
    cat = s"bench$rep"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    if (rest) {
      val server = new graft.table.iceberg.IcebergRestServer(wh).start()
      servers += server
      spark.conf.set(s"spark.sql.catalog.$cat.uri", s"http://127.0.0.1:${server.port}")
    } else spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    root = s"$wh/db/li"
    sql(spark, s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    sql(spark, s"""CREATE TABLE $table (l_orderkey BIGINT, l_partkey BIGINT,
      l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE,
      l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE,
      l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP)
      PARTITIONED BY (months(l_shipdate))""" +
      // wh_query's table is written without the clustering exchange, so
      // each writer task writes a file per month it sees
      (if (name == "wh_query") " TBLPROPERTIES ('write.distribution-mode' = 'none')" else ""))
    if (name == "wh_query") {
      // many files in one commit (4 writer tasks x 84 months), then
      // small one-month commits for a history of tens of snapshots
      sql(spark, s"INSERT INTO $table SELECT /*+ REPARTITION(4) */ $cols FROM bench_base")
      for (c <- 0 until smallCommits)
        sql(spark, s"INSERT INTO $table SELECT $cols FROM bench_batches WHERE b = $c")
      snapshotIds = sql(spark,
        s"SELECT snapshot_id FROM $table.snapshots ORDER BY committed_at")
        .map(_.getLong(0)).toIndexedSeq
      recordsColumn = Seq("record_count", "records")
        .find(spark.table(s"$table.files").columns.contains).get
    } else sql(spark, s"INSERT INTO $table SELECT $cols FROM bench_base")
    sql(spark, s"SELECT count(*) FROM $table")
  }

  /** The first op of each kind, run against the first set-up's table,
    * which the timed window and the checks never touch. */
  override def warm(ops: Seq[Map[String, Any]]): Unit = {
    val (c, r) = (cat, root)
    cat = "bench0"
    root = s"$work/wh0/db/li"
    try ops.groupBy(_("kind")).values.map(_.head).toSeq
      .sortBy(_("i").asInstanceOf[Long]).foreach(run(_, None))
    finally { cat = c; root = r }
  }

  def run(op: Map[String, Any], tracer: Option[Tracer]): Seq[Row] = op("kind") match {
    case "insert" =>
      sql(spark, s"INSERT INTO $table SELECT $cols FROM bench_batches WHERE b = ${long(op, "batch")}")
    case "delete" => sql(spark, s"DELETE FROM $table WHERE ${predicateSql(op)}")
    case "merge" => sql(spark,
      s"""MERGE INTO $table t USING (SELECT $cols FROM bench_merges
         |WHERE m = ${long(op, "source")}) s
         |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
         |WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity,
         |  l_extendedprice = s.l_extendedprice
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    case "rewrite_data_files" | "rewrite_manifests" =>
      sql(spark, s"CALL $cat.system.${op("kind")}(table => 'db.li')")
    case "expire_snapshots" =>
      sql(spark, s"CALL $cat.system.expire_snapshots(table => 'db.li', keep_last => 5)")
    case _ => sql(spark, readSql(op, table, graftSide = true))
  }

  /** A read op as SQL over `t`: the graft table, or on the reference
    * side a temp view holding the expected state. */
  private def readSql(op: Map[String, Any], t: String, graftSide: Boolean): String = {
    val sums = "count(*), sum(l_quantity), sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
    op("kind") match {
      case "range" => s"SELECT $sums, min(l_orderkey), max(l_orderkey) FROM $t WHERE ${rangeSql(op)}"
      case "point" => s"SELECT * FROM $t WHERE l_orderkey = ${long(op, "orderkey")}"
      case "agg" =>
        s"SELECT l_returnflag, l_linestatus, $sums FROM $t GROUP BY l_returnflag, l_linestatus"
      case "join" => s"""SELECT s_nation, count(*), sum(l_quantity) FROM $t
        JOIN bench_supplier ON l_suppkey = s_suppkey WHERE ${rangeSql(op)} GROUP BY s_nation"""
      case "asof" =>
        if (graftSide) s"SELECT count(*), sum(l_quantity) FROM $t VERSION AS OF ${snapshotIds(long(op, "commit").toInt)}"
        else s"SELECT count(*), sum(l_quantity) FROM ${t}_asof_${op("commit")}"
      case "files" =>
        if (graftSide) s"SELECT sum($recordsColumn) FROM $t.files" else s"SELECT count(*) FROM $t"
      case "snapshots" =>
        if (graftSide) s"SELECT count(*) FROM $t.snapshots"
        else s"SELECT CAST(${smallCommits + 1} AS BIGINT)"
    }
  }

  def check(done: Seq[(Map[String, Any], Boolean, Seq[Row])], corrupt: Boolean)
      : (Int, Int, Seq[String]) = {
    val model = new Model(spark, inputs)
    val notes = ArrayBuffer[String]()
    var checks = 0
    var failed = 0
    def compare(what: String, got: Seq[Row], exp: Seq[Row]): Unit = {
      checks += 1
      val e = canon(exp) ++ (if (corrupt) Seq("<corrupted expected row>") else Nil)
      val g = canon(got)
      if (g != e.sorted) {
        failed += 1
        notes += s"$what: got ${got.size} rows, expected ${e.size}; unexpected " +
          g.diff(e).take(2).mkString(" ") + "; missing " + e.diff(g).take(2).mkString(" ")
      }
    }
    // the reference side runs many small queries over in-memory data:
    // whole-stage codegen and adaptive planning only add per-query cost
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    if (name == "wh_query")
      for (c <- 0 until smallCommits) model.apply(Map("kind" -> "insert", "batch" -> c.toLong))
    // expected results per (state version, reference SQL): repeated
    // reads against an unchanged state are computed once
    val expected = scala.collection.mutable.Map[(Int, String), Seq[Row]]()
    var version = 0
    var dirty = true
    for ((op, ok, rows) <- done if ok) {
      if (isRead(op)) {
        if (dirty) {
          model.materialize()
          model.state.createOrReplaceTempView("bench_expected")
          version += 1
          dirty = false
        }
        val q = readSql(op, "bench_expected", graftSide = false)
        val exp = expected.getOrElseUpdate((version, q), {
          if (op("kind") == "asof")
            spark.read.parquet(s"$inputs/base.parquet").unionByName(
              spark.table("bench_batches").where(s"b < ${long(op, "commit")}")
                .select(Columns.map(org.apache.spark.sql.functions.col): _*))
              .createOrReplaceTempView(s"bench_expected_asof_${op("commit")}")
          sql(spark, q)
        })
        compare(s"op ${op("i")} ${op("kind")}", rows, exp)
      } else {
        model.apply(op)
        dirty = true
      }
    }
    model.materialize()
    liveRows = model.state.count()
    if (name != "wh_query")
      compare("final table state", sql(spark, s"SELECT * FROM $table"),
        model.state.collect().toSeq)
    (checks, failed, notes.toSeq)
  }

  private def isRead(op: Map[String, Any]): Boolean =
    Set("range", "point", "agg", "join", "asof", "files", "snapshots")(op("kind").toString)

  /** Live rows come from the reference state: when the check passes
    * they equal the table's. */
  def stored(): (Long, Long) = (dirBytes(root), liveRows)
  private var liveRows = 0L

  override def probe(op: Map[String, Any]): Map[String, Double] =
    TableProbe.probe(spark, root, rest, op)

  def listing(): (Map[String, Long], Map[String, Long]) = tableFiles(root)

  override def close(): Unit = servers.foreach(_.stop())
}

/** The operator-chain workload: passes of a fixed chain of
  * `SparkEntry.queries` keys, each on one seeded subset of documents and
  * embeddings; one op is one key's call, which writes its output as
  * parquet for `perfbench/llmcheck.py` to compare with
  * `SparkEntry.oracleSql` in DuckDB. No table or catalog is touched.
  * Setup stages the subsets of the generated corpus as the pipeline's
  * input tables. */
final class PipelineWorkload(spark: SparkSession, inputs: String, work: String)
    extends Workload {
  private val outputs = ArrayBuffer[Map[String, Any]]()
  private var stage = ""

  private def call(key: String, in: String, out: String): Unit =
    graft.SparkEntry.queries(key)(spark, in).write.mode("overwrite").parquet(s"$out/$key")

  def setup(rep: Int): Unit = {
    stage = s"$work/stage$rep"
    for (t <- Seq("documents", "embeddings")) {
      val corpus = spark.read.parquet(s"$inputs/$t.parquet")
      for (k <- 0 to Gen.Subsets)
        corpus.where(s"subset = $k").drop("subset").coalesce(1)
          .write.parquet(s"$stage/s$k/$t.parquet")
    }
  }

  /** One untimed pass on the warm-up subset, so the timed window does
    * not start with a cold JIT. */
  override def warm(ops: Seq[Map[String, Any]]): Unit =
    Gen.PipelineKeys.foreach(call(_, s"$stage/s0", s"$work/warm"))

  def run(op: Map[String, Any], tracer: Option[Tracer]): Seq[Row] = {
    val key = op("kind").toString
    val out = s"$work/out/p${op("cycle")}"
    val in = s"$stage/s${op("subset")}"
    tracer match {
      case Some(t) => t.child(s"ops.$key")(call(key, in, out))
      case None => call(key, in, out)
    }
    outputs += Map("dir" -> out, "inputs" -> in, "keys" -> Seq(key))
    Nil
  }

  /** Every table under the work directory (the staged inputs, the
    * operator outputs, the session's warehouse), leaving out Spark's
    * scratch space: none is expected, so the table-layer bypass is
    * measured, not assumed. */
  def listing(): (Map[String, Long], Map[String, Long]) =
    Workload.tableFiles(Option(new java.io.File(work).listFiles).toSeq.flatten
      .filterNot(f => Set("spark-local", "tmp")(f.getName)).map(_.getPath): _*)

  override def probe(op: Map[String, Any]): Map[String, Double] =
    Map("table.files_live" -> listing()._1.size.toDouble)

  /** Outputs are checked by the DuckDB oracle outside the JVM. */
  def check(done: Seq[(Map[String, Any], Boolean, Seq[Row])], corrupt: Boolean)
      : (Int, Int, Seq[String]) = (0, 0, Nil)

  /** Counted outside the JVM, where the outputs are read for the
    * oracle check anyway. */
  def stored(): (Long, Long) = (0L, 0L)

  def passes: Seq[Map[String, Any]] = outputs.toSeq
}

/** Input facts shared with `perfbench/gen.py` (LLM_SUBSETS, PIPELINE_KEYS). */
object Gen {
  val Subsets = 2
  val PipelineKeys = Seq("dd_minhash_dedup", "dd_ngram_jaccard", "dd_semantic",
    "ann_ivf_topk", "ta_bm25", "pipeline_decontaminate")
}
