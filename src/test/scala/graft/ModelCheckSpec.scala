package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.table.GraftTable

/** Model-based randomized check of the table layer: a seeded random
  * sequence of table operations runs against BOTH the real GraftTable
  * and a trivial in-memory model (a Map of live rows). After every op
  * the distributed scan must equal the model exactly, and a random
  * historical snapshot must time-travel to the model's recorded past
  * state. Catches snapshot-chain / delete-scoping / compaction
  * interactions no hand-written scenario enumerates. */
class ModelCheckSpec extends AnyFunSuite {
  import SparkTestSession._

  private def runSequence(seed: Long, nOps: Int): Unit = {
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(seed)
    val root = java.nio.file.Files
      .createTempDirectory(s"graft-model-$seed").toString + "/t"
    val schema = Seq((0L, 0L, "x")).toDF("k", "grp", "v").schema
    val t = GraftTable.create(spark, root, schema)

    var model = Map.empty[Long, (Long, String)] // k -> (grp, v)
    var nextK = 1L
    // snapshot id -> model state at that commit
    var history = List.empty[(Long, Map[Long, (Long, String)])]
    def record(): Unit =
      t.meta.currentSnapshotId.foreach(id => history ::= (id, model))

    def check(tag: String): Unit = {
      val got = t.scan().select("k", "grp", "v").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(got === model, s"seed=$seed op=$tag diverged from model")
    }

    for (i <- 1 to nOps) {
      rnd.nextInt(10) match {
        case 0 | 1 | 2 | 3 => // append a small batch
          val rows = (1 to (1 + rnd.nextInt(20))).map { _ =>
            val k = nextK; nextK += 1
            (k, rnd.nextInt(5).toLong, s"v$k")
          }
          t.append(rows.toDF("k", "grp", "v").coalesce(1 + rnd.nextInt(2)))
          model ++= rows.map(r => r._1 -> (r._2, r._3))
          record()
        case 4 => // copy-on-write delete of one group
          val g = rnd.nextInt(5).toLong
          t.delete(col("grp") === g)
          model = model.filterNot(_._2._1 == g)
          record()
        case 5 if model.nonEmpty => // MoR equality delete of sampled keys
          val ks = model.keys.toSeq.sorted
            .filter(_ => rnd.nextInt(4) == 0).take(10)
          if (ks.nonEmpty) {
            t.deleteWhereMoR(col("k").isin(ks: _*), Seq("k"))
            model --= ks
            record()
          }
        case 6 => // clustering rewrites: row-preserving (binpack
          // compaction, or a z-order rewrite that re-lays every live
          // file on the Morton interleave — deletes fold in either way)
          if (rnd.nextBoolean()) t.compact(targetFileBytes = 1L << 20)
          else t.rewriteZOrder(Seq("k", "grp"), targetFileBytes = 1L << 20)
        case 7 if model.nonEmpty => // MoR positional update of one key
          val k = model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          t.updateWhereMoR(col("k") === k, Seq("v" -> lit(s"u$i")))
          model += k -> (model(k)._1, s"u$i")
          record()
        case 8 if history.size > 3 => // rollback to a random past commit
          val (sid, past) = history(rnd.nextInt(history.size))
          t.rollbackTo(sid)
          model = past
          // rolled-back history: drop states newer than the target
          history = history.dropWhile(_._1 != sid)
          record()
        case _ => // expire old snapshots (keep refs sound), GC files
          t.expireSnapshots(keepLast = 3)
          t.vacuum(0L)
          // expired ids can no longer be time-travel targets
          val live = t.meta.snapshots.map(_.snapshotId).toSet
          history = history.filter(h => live.contains(h._1))
      }
      check(s"#$i")
      // spot-check time travel against a recorded past state
      if (history.size > 2 && rnd.nextInt(3) == 0) {
        val (sid, past) = history(rnd.nextInt(history.size))
        val got = t.timeTravel(sid).select("k", "grp", "v").collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
        assert(got === past, s"seed=$seed time-travel to $sid diverged")
      }
    }
  }

  /** Same idea over the REAL-format interop writer/reader: random
    * create/append/overwrite/equality-delete/positional-delete/
    * rewrite/rollback/expire+vacuum sequences, scan checked against
    * the model after every commit, random snapshots time-traveled
    * against recorded past states, and the CHANGELOG replayed from
    * random recorded states (base + inserts - deletes must rebuild
    * the current model exactly). */
  private def runForeignSequence(seed: Long, nOps: Int): Unit = {
    import graft.table.iceberg.{IcebergMaintenance, IcebergTable, IcebergWrite}
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(seed)
    val loc = java.nio.file.Files
      .createTempDirectory(s"graft-fmodel-$seed").toString + "/t"
    var model = Map.empty[Long, String]
    var nextK = 1L
    var history = List.empty[(Long, Map[Long, String])]
    def batch(n: Int): Seq[(Long, String)] =
      (1 to n).map { _ => val k = nextK; nextK += 1; (k, s"v$k") }
    val first = batch(5)
    IcebergWrite.create(spark, loc,
      first.toDF("k", "v").coalesce(1))
    model ++= first
    def t = IcebergTable.load(spark, loc)
    def record(): Unit =
      t.meta.currentSnapshotId.foreach(id => history ::= (id, model))
    record()
    // catalog SQL front-end over the same table, for the row-level ops
    // (unique catalog name: instances are session-cached by name)
    val catName = s"fmc_${seed}_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$catName", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse",
      java.nio.file.Files.createTempDirectory(s"graft-fmwh-$seed").toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $catName.m")
    spark.sql(s"CALL $catName.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    val sqlT = s"$catName.m.t"

    for (i <- 1 to nOps) {
      rnd.nextInt(15) match {
        case 0 | 1 | 2 | 3 =>
          val rows = batch(1 + rnd.nextInt(15))
          IcebergWrite.append(spark, loc,
            rows.toDF("k", "v").coalesce(1 + rnd.nextInt(2)))
          model ++= rows
          record()
        case 4 if model.nonEmpty => // equality delete of sampled keys
          val ks = model.keys.toSeq.sorted.filter(_ => rnd.nextInt(3) == 0).take(8)
          if (ks.nonEmpty) {
            IcebergWrite.deleteEquality(spark, loc, ks.toDF("k"), Seq("k"))
            model --= ks
            record()
          }
        case 5 => // overwrite with a fresh batch
          val rows = batch(3 + rnd.nextInt(5))
          rows.toDF("k", "v").coalesce(1)
            .write.format("graft").mode("overwrite").save(loc)
          model = rows.toMap
          record()
        case 6 if model.nonEmpty => // positional delete of one live row
          val table = t
          val physAll = spark.read.parquet(table.plannedFiles()
              .map(f => table.resolvePath(f._1.filePath).toString): _*)
            .withColumn("fp", col("_metadata.file_path"))
            .withColumn("pos", col("_metadata.row_index"))
            .select("k", "fp", "pos").collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
            .filter(r => model.contains(r._1))
          // SQL-updated keys leave their OLD version physically present
          // (hidden by a position delete) until a rewrite folds it —
          // only keys with exactly ONE physical row are unambiguous
          // positional-delete targets
          val phys = physAll.groupBy(_._1).collect {
            case (_, rs) if rs.length == 1 => rs.head
          }.toSeq.sortBy(_._1)
          if (phys.nonEmpty) {
            val (k, fp, pos) = phys(rnd.nextInt(phys.size))
            IcebergWrite.deletePositional(spark, loc,
              Seq((fp, pos)).toDF("file_path", "pos"))
            model -= k
            record()
          }
        case 7 if history.size > 3 => // rollback to a random past commit
          val (sid, past) = history(rnd.nextInt(history.size))
          IcebergMaintenance.rollbackTo(loc, sid)
          model = past
          history = history.dropWhile(_._1 != sid)
        case 8 => // expire + GC: retained history must stay readable
          IcebergMaintenance.expireSnapshots(loc, keepLast = 3)
          IcebergMaintenance.vacuum(spark, loc, 0L)
          val live = t.meta.snapshots.map(_.snapshotId).toSet
          history = history.filter(h => live.contains(h._1))
        case 9 => // manifest consolidation: metadata-only, model
          // unchanged; the 'replace' commit must be invisible to
          // scans, time travel, and changelog replay alike
          IcebergWrite.rewriteManifests(loc)
          record()
        case 10 | 11 => // compaction: row-preserving, folds deletes
          IcebergWrite.rewrite(spark, loc, targetFileSizeBytes = 1L << 20)
        case 12 if model.nonEmpty => // SQL metadata-only equality DELETE
          val ks = model.keys.toSeq.sorted
            .filter(_ => rnd.nextInt(4) == 0).take(6)
          if (ks.nonEmpty) {
            spark.sql(s"DELETE FROM $sqlT WHERE k IN (${ks.mkString(",")})")
            model --= ks
            record()
          }
        case 13 if model.nonEmpty => // SQL delta UPDATE of one row (MoR)
          val k = model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          spark.sql(s"UPDATE $sqlT SET v = 'u$i' WHERE k = $k")
          model += k -> s"u$i"
          record()
        case _ if model.nonEmpty => // SQL delta DELETE (untranslatable
          // condition forces the row-level position-delete path)
          val r = rnd.nextInt(5)
          spark.sql(s"DELETE FROM $sqlT WHERE k % 5 = $r AND length(v) >= 1")
          model = model.filter { case (k, v) =>
            !(k % 5 == r && v.length >= 1) }
          record()
        case _ => ()
      }
      val got = t.scan().select("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === model, s"seed=$seed foreign op#$i diverged")
      if (history.size > 2 && rnd.nextInt(3) == 0) {
        val (sid, past) = history(rnd.nextInt(history.size))
        val tt = t.timeTravel(sid).select("k", "v").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(tt === past, s"seed=$seed foreign time-travel to $sid diverged")
      }
      // changelog replay from a random recorded state: base + inserts
      // - deletes must rebuild the CURRENT model (rows are unique, so
      // set equality is exact); expire keeps tip ancestry contiguous,
      // so any live history entry is a valid range start
      if (history.size > 2 && rnd.nextInt(3) == 0) {
        val (sid, base) = history(rnd.nextInt(history.size))
        val ch = t.changesBetween(Some(sid)).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        val ins = ch.filter(_._3 == "insert").map(x => (x._1, x._2))
        val del = ch.filter(_._3 == "delete").map(x => (x._1, x._2))
        val replayed = (base.toSeq ++ ins).diff(del)
        assert(replayed.size === replayed.toMap.size,
          s"seed=$seed changelog replay from $sid emitted duplicates")
        assert(replayed.toMap === model,
          s"seed=$seed changelog replay from $sid diverged")
      }
    }
  }

  /** Model check of the REST view-commit protocol: a seeded random
    * sequence of legacy replace_view calls, spec CommitViewRequests
    * (version adds, property set/remove), and DELIBERATE failures
    * (stale base, wrong uuid, malformed update) runs against a live
    * server; after every op the loaded view — sql, representations,
    * properties, uuid, version — must equal an in-memory model, and
    * every rejected commit must leave the model state untouched. */
  private def runViewSequence(seed: Long, nOps: Int): Unit = {
    import graft.table.iceberg.{IcebergRestServer, IcebergRestClient => C}
    val rnd = new scala.util.Random(seed)
    val wh = java.nio.file.Files
      .createTempDirectory(s"graft-view-model-$seed").toString
    val server = new IcebergRestServer(wh).start()
    try {
      val base = s"http://127.0.0.1:${server.port}"
      C.createNamespace(base, "db")
      C.createView(base, "db", "v", "SELECT 0 AS c")
      val uuid = C.loadViewUuid(base, "db", "v")

      var mSql = "SELECT 0 AS c"
      var mReps = Map("spark" -> "SELECT 0 AS c")
      var mProps = Map.empty[String, String]
      var mVersion = 1

      def check(tag: String): Unit = {
        val (sql, _, ver) = C.loadView(base, "db", "v")
        assert(sql === mSql, s"seed=$seed op=$tag sql diverged")
        assert(ver === mVersion, s"seed=$seed op=$tag version diverged")
        assert(C.loadViewRepresentations(base, "db", "v").toMap === mReps,
          s"seed=$seed op=$tag representations diverged")
        assert(C.loadViewProperties(base, "db", "v") === mProps,
          s"seed=$seed op=$tag properties diverged")
        assert(C.loadViewUuid(base, "db", "v") === uuid,
          s"seed=$seed op=$tag uuid changed")
      }

      for (i <- 1 to nOps) {
        rnd.nextInt(8) match {
          case 0 | 1 => // legacy replace with the current base
            val sql = s"SELECT $i AS c"
            assert(C.replaceView(base, "db", "v", sql,
              baseVersion = mVersion) === 200)
            mSql = sql; mReps = Map("spark" -> sql); mVersion += 1
          case 2 => // spec commit: new version with 1-2 dialects
            val sql = s"SELECT $i AS c /* spec */"
            val reps = Seq("spark" -> sql) ++
              (if (rnd.nextBoolean()) Seq("duckdb" -> s"$sql -- duckdb")
               else Seq.empty)
            assert(C.commitView(base, "db", "v",
              assertUuid = Some(uuid), representations = reps) === 200)
            mSql = sql; mReps = reps.toMap; mVersion += 1
          case 3 => // spec commit: set a property
            val k = s"p${rnd.nextInt(4)}"
            assert(C.commitView(base, "db", "v",
              setProperties = Map(k -> s"val$i")) === 200)
            mProps += k -> s"val$i"; mVersion += 1
          case 4 => // spec commit: remove a (maybe absent) property
            val k = s"p${rnd.nextInt(5)}"
            assert(C.commitView(base, "db", "v",
              removeProperties = Seq(k)) === 200)
            mProps -= k; mVersion += 1
          case 5 if mVersion > 1 => // stale legacy base -> 409, no change
            assert(C.replaceView(base, "db", "v", "SELECT -1",
              baseVersion = mVersion - 1) === 409)
          case 6 => // wrong uuid assert -> 409, no change
            assert(C.commitView(base, "db", "v",
              assertUuid = Some("00000000-0000-0000-0000-000000000001"),
              representations = Seq("spark" -> "SELECT -2")) === 409)
          case _ => // malformed: set-current to a NEVER-registered id
            // -> 400 (small ids may legitimately exist in the version
            // registry after a few adds, so probe far outside it)
            val m = new com.fasterxml.jackson.databind.ObjectMapper()
            val bad = m.createObjectNode()
            bad.put("action", "set-current-view-version")
            bad.put("view-version-id", 99999)
            assert(C.commitView(base, "db", "v",
              extraUpdates = Seq(bad)) === 400)
        }
        check(s"#$i")
      }
    } finally server.stop()
  }

  /** Model check of the REST TABLE commit protocol's metadata plane:
    * random property updates, branch/tag ref CAS moves and removals,
    * sort-order evolution, and deliberate failures (stale ref CAS,
    * wrong-uuid transaction) against a real-format table served over
    * HTTP; after every op the table's metadata must equal the model,
    * and every rejected commit must leave it untouched. */
  private def runTableRestSequence(seed: Long, nOps: Int): Unit = {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergMetadata, IcebergRestServer,
      IcebergRestClient => C, IcebergWrite}
    val rnd = new scala.util.Random(seed)
    val wh = java.nio.file.Files
      .createTempDirectory(s"graft-trest-model-$seed").toString
    val server = new IcebergRestServer(wh).start()
    try {
      val base = s"http://127.0.0.1:${server.port}"
      C.createNamespace(base, "db")
      val loc = s"$wh/db/t"
      IcebergWrite.create(spark, loc,
        (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"))
      IcebergWrite.append(spark, loc,
        (11L to 20L).map(i => (i, s"w$i")).toDF("k", "v"))
      val snaps = IcebergMetadata.load(loc).snapshots.map(_.snapshotId)
      assert(snaps.size === 2)

      var mProps = Map.empty[String, String]
      var mRefs = Map.empty[String, Long]
      var mDefaultOrder =
        IcebergMetadata.load(loc).defaultSortOrderId
      var nextOrderId = IcebergMetadata.load(loc).sortOrders
        .map(_.orderId).maxOption.getOrElse(0) + 1
      // schema plane: field ids are identity, names evolve over REST
      var mFields = IcebergMetadata.load(loc).schema.fields
      var mSchemaId = IcebergMetadata.load(loc).currentSchemaId
      val propKeys = (0 until 4).map(i => s"p$i")
      val refNames = (0 until 3).map(i => s"br$i")

      def check(tag: String): Unit = {
        val m = IcebergMetadata.load(loc)
        assert(m.properties.filter(kv => propKeys.contains(kv._1)) === mProps,
          s"seed=$seed op=$tag properties diverged")
        assert(m.refs.filter(kv => refNames.contains(kv._1)) === mRefs,
          s"seed=$seed op=$tag refs diverged")
        assert(m.defaultSortOrderId === mDefaultOrder,
          s"seed=$seed op=$tag default sort order diverged")
        assert(m.currentSchemaId === mSchemaId,
          s"seed=$seed op=$tag current-schema-id diverged")
        assert(m.schema.fields === mFields,
          s"seed=$seed op=$tag schema fields diverged")
      }

      for (i <- 1 to nOps) {
        rnd.nextInt(9) match {
          case 0 => // set a property
            val k = propKeys(rnd.nextInt(propKeys.size))
            C.updateProperties(base, "db", "t", Map(k -> s"val$i"))
            mProps += k -> s"val$i"
          case 1 => // remove a (maybe absent) property
            val k = propKeys(rnd.nextInt(propKeys.size))
            C.updateProperties(base, "db", "t", Map.empty, Seq(k))
            mProps -= k
          case 2 => // create or CAS-repoint a ref
            val name = refNames(rnd.nextInt(refNames.size))
            val target = snaps(rnd.nextInt(snaps.size))
            val cas = mRefs.get(name)
            if (cas.contains(target)) () // no-op move: skip
            else {
              assert(C.setSnapshotRef(base, "db", "t", name, target,
                cas) === 200, s"seed=$seed op#$i ref move refused")
              mRefs += name -> target
            }
          case 3 if mRefs.nonEmpty => // stale ref CAS -> 409, no change
            val (name, cur) = mRefs.toSeq.sorted.apply(rnd.nextInt(mRefs.size))
            val wrongCas = snaps.find(_ != cur)
            assert(C.setSnapshotRef(base, "db", "t", name,
              snaps(rnd.nextInt(snaps.size)), wrongCas) === 409)
          case 4 if mRefs.nonEmpty => // remove a ref with correct CAS
            val (name, cur) = mRefs.toSeq.sorted.apply(rnd.nextInt(mRefs.size))
            assert(C.removeSnapshotRef(base, "db", "t", name,
              Some(cur)) === 200)
            mRefs -= name
          case 5 if mRefs.nonEmpty => // stale remove -> 409, no change
            val (name, cur) = mRefs.toSeq.sorted.apply(rnd.nextInt(mRefs.size))
            val wrongCas = snaps.find(_ != cur)
            assert(C.removeSnapshotRef(base, "db", "t", name,
              wrongCas) === 409)
          case 6 => // sort-order evolution: a fresh order becomes
            // default (the key column under its CURRENT label — the
            // schema plane may have renamed it)
            val dir = if (rnd.nextBoolean()) "asc" else "desc"
            C.updateSortOrder(base, "db", "t",
              Seq(mFields.head.name -> dir))
            mDefaultOrder = nextOrderId
            nextOrderId += 1
          case 7 => // schema evolution over the commit protocol:
            // add-schema + set-current-schema(-1) renames a random
            // field; ids are identity, the label changes
            val idx = rnd.nextInt(mFields.size)
            mFields = mFields.zipWithIndex.map { case (f, j) =>
              if (j == idx) f.copy(name = s"r${i}_${f.id}") else f }
            mSchemaId += 1
            C.updateSchema(base, "db", "t", IcebergMetadata.IceSchema(
              mSchemaId, mFields))
          case _ => // wrong-uuid transaction -> 409, rolled back
            assert(C.commitTransaction(base, Seq(C.TableChange("db", "t",
              Seq(C.requireUuid("00000000-0000-0000-0000-00000000beef")),
              Seq(C.setPropertiesUpdate(Map("p0" -> "never")))))) === 409)
        }
        check(s"#$i")
      }
    } finally server.stop()
  }

  /** Model check of Spark SQL DML INTERLEAVED with evolution commits
    * over one REST catalog — the multi-engine shape: this engine's
    * SQL DML rides the update-table protocol while a SECOND client
    * (raw protocol calls) renames columns and moves properties
    * between its commits. After every op the visible rows (under the
    * CURRENT labels), the schema labels, and the properties must
    * equal the model; renamed columns must keep resolving files
    * written under old labels by field id. */
  private def runRestSqlDmlEvolutionSequence(seed: Long, nOps: Int): Unit = {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergMetadata, IcebergRestServer,
      IcebergRestClient => C}
    val rnd = new scala.util.Random(seed)
    val wh = java.nio.file.Files
      .createTempDirectory(s"graft-restdml-$seed").toString
    val server = new IcebergRestServer(wh).start()
    val cat = s"rdml${seed}_${java.util.UUID.randomUUID().toString.take(4)}"
    try {
      val base = s"http://127.0.0.1:${server.port}"
      spark.conf.set(s"spark.sql.catalog.$cat",
        "graft.spark.GraftTableCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.uri", base)
      C.createNamespace(base, "db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, a STRING, b BIGINT)")
      val loc = s"$wh/db/t"

      // model: rows by key + the CURRENT labels of the two payload
      // columns (ids are identity; labels evolve on both channels)
      var mRows = Map.empty[Long, (String, Long)]
      var aLabel = "a"
      var bLabel = "b"
      var mProps = Map.empty[String, String]
      var nextKey = 1L

      def check(tag: String): Unit = {
        val got = spark.sql(
          s"SELECT k, $aLabel, $bLabel FROM $cat.db.t ORDER BY k")
          .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
        assert(got.toMap === mRows && got.length === mRows.size,
          s"seed=$seed op=$tag rows diverged: got=${got.toSeq} want=$mRows")
        val m = IcebergMetadata.load(loc)
        assert(m.schema.fields.map(_.name).toSeq === Seq("k", aLabel, bLabel),
          s"seed=$seed op=$tag schema labels diverged")
        assert(m.properties.view.filterKeys(_.startsWith("fz")).toMap
          === mProps, s"seed=$seed op=$tag properties diverged")
      }

      for (i <- 1 to nOps) {
        rnd.nextInt(9) match {
          case 0 | 1 => // SQL INSERT (rides the commit protocol)
            val k = nextKey; nextKey += 1
            spark.sql(s"INSERT INTO $cat.db.t VALUES ($k, 'v$k', ${k * 10})")
            mRows += k -> ((s"v$k", k * 10))
          case 8 => // atomic RTAS through the plugin: ONE protocol
            // commit resets all three model channels at once —
            // schema labels, rows, and properties
            val k = nextKey; nextKey += 1
            spark.sql(s"CREATE OR REPLACE TABLE $cat.db.t AS " +
              s"SELECT CAST($k AS BIGINT) AS k, 'r$k' AS a, " +
              s"CAST(${k * 10} AS BIGINT) AS b")
            mRows = Map(k -> ((s"r$k", k * 10)))
            aLabel = "a"; bLabel = "b"; mProps = Map.empty
          case 2 if mRows.nonEmpty => // SQL UPDATE under CURRENT labels
            val k = mRows.keys.toSeq.sorted.apply(rnd.nextInt(mRows.size))
            spark.sql(
              s"UPDATE $cat.db.t SET $bLabel = ${i * 1000} WHERE k = $k")
            mRows += k -> ((mRows(k)._1, i * 1000L))
          case 3 if mRows.nonEmpty => // SQL DELETE
            val k = mRows.keys.toSeq.sorted.apply(rnd.nextInt(mRows.size))
            spark.sql(s"DELETE FROM $cat.db.t WHERE k = $k")
            mRows -= k
          case 4 => // SQL rename of a payload column (evolution via
            // the catalog: add-schema + set-current-schema over REST)
            val newA = s"a$i"
            spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN $aLabel TO $newA")
            aLabel = newA
          case 5 => // SECOND CLIENT renames b through the raw
            // protocol between this engine's commits
            val m = IcebergMetadata.load(loc)
            val newB = s"b$i"
            val renamed = IcebergMetadata.IceSchema(
              m.schemas.map(_.schemaId).max + 1,
              m.schema.fields.map(f =>
                if (f.name == bLabel) f.copy(name = newB) else f))
            C.updateSchema(base, "db", "t", renamed)
            bLabel = newB
          case 6 => // second client moves a property
            val k = s"fz${rnd.nextInt(3)}"
            C.updateProperties(base, "db", "t", Map(k -> s"v$i"))
            mProps += k -> s"v$i"
          case _ => // MERGE INTO: upsert one existing + one new key
            val k = nextKey; nextKey += 1
            val existing = mRows.keys.toSeq.sorted.headOption
            val src = s"SELECT $k AS k, 'm$k' AS $aLabel, " +
              s"CAST(${k * 7} AS BIGINT) AS $bLabel" +
              existing.map(e =>
                s" UNION ALL SELECT $e, 'M$i', CAST($i AS BIGINT)")
                .getOrElse("")
            spark.sql(
              s"""MERGE INTO $cat.db.t t USING ($src) s ON t.k = s.k
                  WHEN MATCHED THEN UPDATE SET *
                  WHEN NOT MATCHED THEN INSERT *""")
            mRows += k -> ((s"m$k", k * 7))
            existing.foreach(e => mRows += e -> ((s"M$i", i.toLong)))
        }
        check(s"#$i")
      }
    } finally {
      server.stop()
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.uri")
    }
  }

  test("SQL DML interleaved with two-client evolution over REST " +
      "agrees with the model (seed 19)") {
    runRestSqlDmlEvolutionSequence(19L, 22)
  }
  test("SQL DML interleaved with two-client evolution over REST " +
      "agrees with the model (seed 101)") {
    runRestSqlDmlEvolutionSequence(101L, 22)
  }

  /** Namespace plane over REST (round 13): random multi-level
    * create / drop / set-props / remove-props / load sequences against
    * the live server, mirrored in an in-memory model — namespaces as
    * level-vectors (namespace.rs:14), properties via the protocol's
    * update_properties, existence via loadNamespaceMetadata's
    * 404-vs-error contract. */
  private def runNamespaceSequence(seed: Long, nOps: Int): Unit = {
    import graft.table.iceberg.{IcebergRestServer, IcebergRestClient => C}
    val rnd = new scala.util.Random(seed)
    val wh = java.nio.file.Files
      .createTempDirectory(s"graft-ns-model-$seed").toString
    val server = new IcebergRestServer(wh).start()
    try {
      val base = s"http://127.0.0.1:${server.port}"
      val Sep = ''
      // candidate namespaces: two roots, two children each
      val all = Seq("na", "nb", s"na${Sep}c0", s"na${Sep}c1",
        s"nb${Sep}c0", s"nb${Sep}c1")
      def parentOf(ns: String): Option[String] = {
        val i = ns.lastIndexOf(Sep)
        if (i < 0) None else Some(ns.substring(0, i))
      }
      var model = Map.empty[String, Map[String, String]] // ns -> props
      def check(tag: String): Unit = {
        // existence + properties per candidate
        all.foreach { ns =>
          val got = C.namespacePropertiesOpt(base, ns)
          assert(got.isDefined === model.contains(ns),
            s"seed=$seed op=$tag existence diverged for $ns")
          got.foreach(p => assert(p === model(ns),
            s"seed=$seed op=$tag properties diverged for $ns"))
        }
        // listings: top level and per-parent children
        assert(C.listNamespaces(base).toSet ===
          model.keySet.filter(!_.contains(Sep)),
          s"seed=$seed op=$tag top-level listing diverged")
        Seq("na", "nb").filter(model.contains).foreach { p =>
          assert(C.listNamespacesUnder(base, Some(p)).toSet ===
            model.keySet.filter(ns => parentOf(ns).contains(p)),
            s"seed=$seed op=$tag children of $p diverged")
        }
      }
      for (i <- 1 to nOps) {
        val ns = all(rnd.nextInt(all.size))
        rnd.nextInt(4) match {
          case 0 => // create (idempotent mkdirs on the server;
            // a non-empty props map REPLACES the props file)
            val props = if (rnd.nextBoolean())
              Map(s"k${rnd.nextInt(3)}" -> s"v$i") else Map.empty[String, String]
            C.createNamespace(base, ns, props)
            // creating a child implicitly creates the parent dir
            parentOf(ns).foreach { p =>
              if (!model.contains(p)) model += p -> Map.empty
            }
            model += ns -> (if (props.nonEmpty) props
                            else model.getOrElse(ns, Map.empty))
          case 1 => // drop: 409 (client throws) when children exist,
            // 204/404 (true/false) otherwise — the spec's
            // NamespaceNotEmpty contract
            val hasChild = model.keySet.exists(o =>
              parentOf(o).contains(ns))
            if (model.contains(ns) && hasChild) {
              val e = intercept[IllegalArgumentException](
                C.dropNamespace(base, ns))
              assert(e.getMessage.contains("409"),
                s"seed=$seed op=$i drop($ns) non-empty should 409")
            } else {
              val dropped = C.dropNamespace(base, ns)
              assert(dropped === model.contains(ns),
                s"seed=$seed op=$i drop($ns) result diverged")
              if (dropped) model -= ns
            }
          case 2 if model.contains(ns) => // set + remove properties
            // (disjoint key sets — overlap is a server-side 400)
            val sk = rnd.nextInt(3)
            val set = Map(s"k$sk" -> s"s$i")
            val rem = Seq(s"k${(sk + 1 + rnd.nextInt(2)) % 3}")
            val (updated, removed, missing) =
              C.updateNamespaceProperties(base, ns, set, rem)
            val cur = model(ns)
            assert(updated.toSet === set.keySet,
              s"seed=$seed op=$i update($ns) updated diverged")
            assert(removed.toSet === rem.toSet.intersect(cur.keySet),
              s"seed=$seed op=$i update($ns) removed diverged")
            assert(missing.toSet === (rem.toSet -- cur.keySet),
              s"seed=$seed op=$i update($ns) missing diverged")
            model += ns -> (cur -- rem ++ set)
          case _ => // load a maybe-missing namespace: 404 contract
            assert(C.namespacePropertiesOpt(base, ns).isDefined ===
              model.contains(ns))
        }
        check(s"op$i")
      }
    } finally server.stop()
  }

  test("namespace-protocol random sequences agree with the model (seed 9)") {
    runNamespaceSequence(9L, 40)
  }
  test("namespace-protocol random sequences agree with the model (seed 61)") {
    runNamespaceSequence(61L, 40)
  }

  /** Overwrite-mode plane (round 13): random interleavings of INSERT,
    * static partition overwrite, dynamic partition overwrite, REPLACE
    * WHERE, and DELETE against an identity-partitioned catalog table,
    * mirrored in a model keyed by row id — the partition algebra the
    * V2 SupportsOverwrite/SupportsDynamicOverwrite paths implement. */
  private def runOverwriteSequence(seed: Long, nOps: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val wh = java.nio.file.Files
      .createTempDirectory(s"graft-ow-model-$seed").toString
    val cat = s"owf${seed}_${java.util.UUID.randomUUID().toString.take(4)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, day STRING, v BIGINT) " +
        "PARTITIONED BY (identity(day))")
      val days = Seq("d1", "d2", "d3", "d4")
      var model = Map.empty[Long, (String, Long)] // k -> (day, v)
      var nextK = 1L
      def freshRows(n: Int, day: Option[String]): Seq[(Long, String, Long)] =
        (1 to n).map { _ =>
          val k = nextK; nextK += 1
          (k, day.getOrElse(days(rnd.nextInt(days.size))), k * 100)
        }
      def values(rs: Seq[(Long, String, Long)]): String =
        rs.map { case (k, d, v) => s"($k, '$d', $v)" }.mkString(", ")
      def check(tag: String): Unit = {
        val got = spark.sql(s"SELECT k, day, v FROM $cat.db.t ORDER BY k")
          .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
        assert(got.toMap === model && got.length === model.size,
          s"seed=$seed op=$tag diverged:\n got=${got.toSeq.sortBy(_._1)}\n " +
            s"want=${model.toSeq.sortBy(_._1)}")
      }
      for (i <- 1 to nOps) {
        rnd.nextInt(6) match {
          case 0 | 1 => // plain INSERT
            val rs = freshRows(1 + rnd.nextInt(3), None)
            spark.sql(s"INSERT INTO $cat.db.t VALUES ${values(rs)}")
            rs.foreach { case (k, d, v) => model += k -> ((d, v)) }
          case 2 => // static partition overwrite
            val d = days(rnd.nextInt(days.size))
            val rs = freshRows(1 + rnd.nextInt(2), Some(d))
            spark.sql(s"INSERT OVERWRITE $cat.db.t PARTITION (day='$d') " +
              "VALUES " + rs.map { case (k, _, v) => s"($k, $v)" }.mkString(", "))
            model = model.filterNot(_._2._1 == d)
            rs.foreach { case (k, dd, v) => model += k -> ((dd, v)) }
          case 3 => // dynamic partition overwrite: random touched set
            val rs = freshRows(1 + rnd.nextInt(3), None)
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try spark.sql(s"INSERT OVERWRITE $cat.db.t VALUES ${values(rs)}")
            finally spark.conf
              .unset("spark.sql.sources.partitionOverwriteMode")
            val touched = rs.map(_._2).toSet
            model = model.filterNot { case (_, (d, _)) => touched.contains(d) }
            rs.foreach { case (k, d, v) => model += k -> ((d, v)) }
          case 4 if model.nonEmpty => // REPLACE WHERE on a key range
            val ks = model.keys.toSeq.sorted
            val cut = ks(rnd.nextInt(ks.size))
            val rs = freshRows(1, None)
            spark.sql(s"INSERT INTO $cat.db.t REPLACE WHERE k >= $cut " +
              s"VALUES ${values(rs)}")
            model = model.filter(_._1 < cut)
            rs.foreach { case (k, d, v) => model += k -> ((d, v)) }
          case 5 if model.nonEmpty => // DELETE one key
            val ks = model.keys.toSeq.sorted
            val k = ks(rnd.nextInt(ks.size))
            spark.sql(s"DELETE FROM $cat.db.t WHERE k = $k")
            model -= k
          case _ => // fall through to INSERT when guards fail
            val rs = freshRows(1, None)
            spark.sql(s"INSERT INTO $cat.db.t VALUES ${values(rs)}")
            rs.foreach { case (k, d, v) => model += k -> ((d, v)) }
        }
        check(s"#$i")
      }
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("overwrite-mode random sequences agree with the model (seed 5)") {
    runOverwriteSequence(5L, 24)
  }
  test("overwrite-mode random sequences agree with the model (seed 47)") {
    runOverwriteSequence(47L, 24)
  }

  test("table REST-protocol random sequences agree with the model (seed 3)") {
    runTableRestSequence(3L, 25)
  }
  test("table REST-protocol random sequences agree with the model (seed 88)") {
    runTableRestSequence(88L, 25)
  }

  test("view-protocol random sequences agree with the model (seed 5)") {
    runViewSequence(5L, 25)
  }
  test("view-protocol random sequences agree with the model (seed 77)") {
    runViewSequence(77L, 25)
  }

  test("random op sequences agree with the in-memory model (seed 11)") {
    runSequence(11L, 30)
  }
  test("random op sequences agree with the in-memory model (seed 42)") {
    runSequence(42L, 30)
  }
  test("random op sequences agree with the in-memory model (seed 1337)") {
    runSequence(1337L, 30)
  }
  test("foreign-format random op sequences agree with the model (seed 7)") {
    runForeignSequence(7L, 20)
  }
  test("foreign-format random op sequences agree with the model (seed 99)") {
    runForeignSequence(99L, 20)
  }
  test("foreign-format random op sequences agree with the model (seed 2024, deep)") {
    runForeignSequence(2024L, 35)
  }

  /** Model check of SCHEMA EVOLUTION interleaved with DML on an
    * adopted real-format table: random renames (including the key
    * column), adds, drops, safe type promotions, inserts, equality /
    * delta deletes, and point updates, all through catalog SQL.
    * Column identity in the model is the FIELD ID — names and types
    * are evolving labels, exactly the spec's rule
    * (iceberg-rust-spec schema.rs). After every op the full
    * SELECT * must equal the model under the CURRENT labels; time
    * travel must reproduce recorded past states under their PINNED
    * labels; drops of live equality-delete keys must be refused.
    * The directed evolution tests cover each transition once; this
    * covers their ORDERINGS (rename->delete-under-old-name->promote->
    * drop->insert sequences no hand-written scenario enumerates).
    * graftDialect=true runs the same sequence on a catalog-CREATED
    * graft-dialect table instead of an adopted real-format one —
    * same SQL surface, different metadata plane; the one semantic
    * asymmetry the fuzz encodes is that the graft dialect also
    * refuses RENAME of a live equality-delete key (its delete files
    * reference key columns by name). */
  private def runEvolutionSequence(seed: Long, nOps: Int,
      graftDialect: Boolean = false): Unit = {
    import graft.table.iceberg.{IcebergMetadata, IcebergTable, IcebergWrite}
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(seed)

    // column state: identity is the field id; name/type are labels.
    // tpe: int | long | string | float | double | dec (scale 2)
    case class ColSt(id: Int, name: String, tpe: String, prec: Int = 6)

    val catName = s"evo_${seed}_${java.util.UUID.randomUUID().toString.take(6)}"
    val wh = java.nio.file.Files
      .createTempDirectory(s"graft-evowh-$seed").toString
    spark.conf.set(s"spark.sql.catalog.$catName", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $catName.m")
    val sqlT = s"$catName.m.t"

    // bootstrap: k int (key), v string, f float, d decimal(6,2)
    val loc =
      if (graftDialect) {
        spark.sql(s"CREATE TABLE $sqlT " +
          "(k INT, v STRING, f FLOAT, d DECIMAL(6,2))")
        s"$wh/m/t"
      } else {
        val l = java.nio.file.Files
          .createTempDirectory(s"graft-evomodel-$seed").toString + "/t"
        IcebergWrite.create(spark, l,
          Seq((0, "boot", 0f, BigDecimal(0))).toDF("k", "v", "f", "d")
            .select(col("k").cast("int").as("k"), col("v"),
              col("f").cast("float").as("f"),
              col("d").cast("decimal(6,2)").as("d"))
            .limit(0).coalesce(1))
        spark.sql(s"CALL $catName.system.register_table(table => 'm.t', " +
          s"location => '$l')")
        l
      }
    def fid(name: String): Int =
      if (graftDialect)
        GraftTable.load(spark, loc).meta.schema.fields
          .find(_.name == name).flatMap(graft.table.Meta.fieldId).get
      else IcebergMetadata.load(loc).schema.fieldId(name).get
    val kId = fid("k")
    val vId = fid("v")
    var cols = Vector(
      ColSt(kId, "k", "int"), ColSt(vId, "v", "string"),
      ColSt(fid("f"), "f", "float"), ColSt(fid("d"), "d", "dec"))
    var rows = Map.empty[Long, Map[Int, Any]] // key -> field id -> value
    var nextK = 1L
    var promoted = Set.empty[Int]
    // (snapshot id, labels then, rows then)
    var history = List.empty[(Long, Vector[ColSt], Map[Long, Map[Int, Any]])]

    def keyName = cols.find(_.id == kId).get.name
    // value domain keeps every float exact under double widening
    // (multiples of 0.25) and every decimal inside (6,2)
    def genVal(c: ColSt, k: Long): Any = c.tpe match {
      case "int" | "long" => if (c.id == kId) k else k * 31 + c.id
      case "string" => s"s${k}_${c.id}"
      case "float" | "double" => (k % 997) * 0.25d
      case "dec" => new java.math.BigDecimal(k % 1000).setScale(2)
      case "struct" => (k * 31 + c.id, s"n${k}_${c.id}")
    }
    def sqlLit(c: ColSt, v: Any): String = c.tpe match {
      case "int" | "long" => v.toString
      case "string" => s"'$v'"
      case "float" => s"CAST($v AS FLOAT)"
      case "double" => s"CAST($v AS DOUBLE)"
      case "dec" =>
        s"CAST('${v.asInstanceOf[java.math.BigDecimal].toPlainString}' " +
          s"AS DECIMAL(${c.prec},2))"
      case "struct" =>
        val (a, b) = v.asInstanceOf[(Long, String)]
        s"named_struct('a', CAST($a AS BIGINT), 'b', '$b')"
    }
    def norm(v: Any): Any = v match {
      case null => null
      case r: org.apache.spark.sql.Row => (norm(r.get(0)), norm(r.get(1)))
      case (a, b) => (norm(a), norm(b))
      case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
      case b: scala.math.BigDecimal =>
        b.underlying.stripTrailingZeros.toPlainString
      case f: java.lang.Float => f.toDouble
      case d: java.lang.Double => d.doubleValue
      case n: java.lang.Number => n.longValue
      case s => s
    }
    def curSnapId: Option[Long] =
      if (graftDialect) GraftTable.load(spark, loc).meta.currentSnapshotId
      else IcebergTable.load(spark, loc).meta.currentSnapshotId
    def record(): Unit =
      // first record per snapshot wins: a snapshot pins the schema-id
      // current AT COMMIT; a later no-op procedure (nothing to rewrite
      // or convert) must not re-bind the same id to newer labels
      curSnapId.filterNot(id => history.headOption.exists(_._1 == id))
        .foreach(id => history ::= ((id, cols, rows)))
    def compare(df: org.apache.spark.sql.DataFrame, pcols: Vector[ColSt],
        prows: Map[Long, Map[Int, Any]], tag: String): Unit = {
      assert(df.schema.fieldNames.toVector === pcols.map(_.name),
        s"seed=$seed $tag schema labels diverged")
      val kn = pcols.find(_.id == kId).get.name
      val got = df.collect().map { r =>
        val key = r.getAs[Any](kn).asInstanceOf[Number].longValue
        key -> pcols.map(c => c.id -> norm(r.getAs[Any](c.name))).toMap
      }.toMap
      val want = prows.map { case (k, m) =>
        k -> pcols.map(c => c.id -> norm(m.getOrElse(c.id, null))).toMap }
      assert(got === want, s"seed=$seed $tag diverged from model")
    }
    def check(tag: String): Unit =
      compare(spark.sql(s"SELECT * FROM $sqlT"), cols, rows, tag)
    def insert(n: Int): Unit = {
      val ks = (1 to n).map { _ => val k = nextK; nextK += 1; k }
      val values = ks.map(k =>
        cols.map(c => sqlLit(c, genVal(c, k))).mkString("(", ",", ")"))
        .mkString(",")
      spark.sql(s"INSERT INTO $sqlT VALUES $values")
      rows ++= ks.map(k => k -> cols.map(c => c.id -> genVal(c, k)).toMap)
      record()
    }
    insert(6)

    for (i <- 1 to nOps) {
      rnd.nextInt(14) match {
        case 0 | 1 | 2 => insert(1 + rnd.nextInt(6))
        case 3 => // rename a random column (key included): id identity.
          // The graft dialect alone may refuse while a live equality
          // delete keys the column (its delete files bind by name);
          // the adopted dialect must ALWAYS succeed
          val c = cols(rnd.nextInt(cols.size))
          val nn = s"c${i}n"
          val r = scala.util.Try(
            spark.sql(s"ALTER TABLE $sqlT RENAME COLUMN ${c.name} TO $nn"))
          if (r.isSuccess)
            cols = cols.map(x => if (x.id == c.id) x.copy(name = nn) else x)
          else assert(graftDialect,
            s"seed=$seed op#$i adopted-dialect rename refused: ${r.failed.get}")
        case 4 => // add a nullable column (sometimes a STRUCT, whose
          // leaves exercise nested field-id allocation and the
          // prune-barrier read path); old rows null-fill
          val nn = s"a$i"
          if (rnd.nextBoolean()) {
            spark.sql(s"ALTER TABLE $sqlT ADD COLUMN $nn BIGINT")
            cols :+= ColSt(fid(nn), nn, "long")
          } else {
            spark.sql(s"ALTER TABLE $sqlT ADD COLUMN $nn " +
              "STRUCT<a: BIGINT, b: STRING>")
            cols :+= ColSt(fid(nn), nn, "struct")
          }
        case 5 if cols.size > 1 => // drop attempt: succeeds unless the
          // column is a LIVE equality-delete key (then refused, table
          // untouched) — the model compare is the oracle either way
          val nonKey = cols.filterNot(_.id == kId)
          val c = nonKey(rnd.nextInt(nonKey.size))
          val r = scala.util.Try(
            spark.sql(s"ALTER TABLE $sqlT DROP COLUMN ${c.name}"))
          if (r.isSuccess) cols = cols.filterNot(_.id == c.id)
        case 6 => // safe promotion: int->long / float->double /
          // decimal precision growth, each id at most once
          val cands = cols.filter(c => !promoted.contains(c.id) &&
            (c.tpe == "int" || c.tpe == "float" || c.tpe == "dec"))
          if (cands.nonEmpty) {
            val c = cands(rnd.nextInt(cands.size))
            val (sqlType, nt, np) = c.tpe match {
              case "int" => ("BIGINT", "long", c.prec)
              case "float" => ("DOUBLE", "double", c.prec)
              case _ => (s"DECIMAL(12,2)", "dec", 12)
            }
            spark.sql(
              s"ALTER TABLE $sqlT ALTER COLUMN ${c.name} TYPE $sqlType")
            promoted += c.id
            cols = cols.map(x =>
              if (x.id == c.id) x.copy(tpe = nt, prec = np) else x)
          }
        case 7 if rows.nonEmpty => // keyed DELETE. Adopted dialect:
          // pure-equality SQL DELETE -> metadata-only eq-delete file,
          // so dropping the key MUST then be refused. Graft dialect:
          // SQL DELETE is copy-on-write by default (no delete file),
          // so the eq-delete is driven through the table layer — and
          // BOTH drop and rename of the key must then be refused (its
          // delete files bind key columns by name)
          val ks = rows.keys.toSeq.sorted
            .filter(_ => rnd.nextInt(3) == 0).take(5)
          if (ks.nonEmpty) {
            if (graftDialect)
              GraftTable.load(spark, loc).deleteWhereMoR(
                col(keyName).isin(ks: _*), Seq(keyName))
            else spark.sql(
              s"DELETE FROM $sqlT WHERE $keyName IN (${ks.mkString(",")})")
            rows --= ks
            record()
            val refused = scala.util.Try(
              spark.sql(s"ALTER TABLE $sqlT DROP COLUMN $keyName"))
            assert(refused.isFailure,
              s"seed=$seed op#$i dropped a live equality-delete key")
            if (graftDialect) {
              val rn = scala.util.Try(spark.sql(
                s"ALTER TABLE $sqlT RENAME COLUMN $keyName TO zz$i"))
              assert(rn.isFailure, s"seed=$seed op#$i graft dialect " +
                "renamed a live equality-delete key")
            }
            assert(cols.exists(_.id == kId))
          }
        case 8 if rows.nonEmpty && cols.exists(_.id == vId) =>
          // equality DELETE keyed on the STRING column's value —
          // possibly under a name the delete-era files never saw
          val vName = cols.find(_.id == vId).get.name
          val k0 = rows.keys.toSeq.sorted.apply(rnd.nextInt(rows.size))
          rows(k0).get(vId) match {
            case Some(value: String) =>
              if (graftDialect)
                GraftTable.load(spark, loc).deleteWhereMoR(
                  col(vName) === value, Seq(vName))
              else spark.sql(s"DELETE FROM $sqlT WHERE $vName = '$value'")
              rows = rows.filterNot(_._2.get(vId).contains(value))
              record()
              val refused = scala.util.Try(
                spark.sql(s"ALTER TABLE $sqlT DROP COLUMN $vName"))
              assert(refused.isFailure,
                s"seed=$seed op#$i dropped a live equality-delete key")
            case _ => () // this key's v was never set (added later)
          }
        case 9 if rows.nonEmpty => // point UPDATE through the delta
          // path, against the CURRENT label of a random column
          val k = rows.keys.toSeq.sorted.apply(rnd.nextInt(rows.size))
          val nonKey = cols.filterNot(_.id == kId)
          val c = nonKey(rnd.nextInt(nonKey.size))
          val nv: Any = c.tpe match {
            case "int" | "long" => Long.box(100000L + i)
            case "string" => s"u$i"
            case "float" | "double" => Double.box(i * 0.25d)
            case "dec" => new java.math.BigDecimal(i % 1000).setScale(2)
            case "struct" => (100000L + i, s"u$i")
          }
          spark.sql(s"UPDATE $sqlT SET ${c.name} = ${sqlLit(c, nv)} " +
            s"WHERE $keyName = $k")
          rows += k -> (rows(k) + (c.id -> nv))
          record()
        case 10 => // maintenance: compaction folds outstanding deletes
          // (rows keep), or expire+vacuum — retained history must stay
          // readable and expired ids leave the time-travel pool
          if (rnd.nextInt(3) == 0) {
            spark.sql(s"CALL $catName.system.expire_snapshots(" +
              s"table => 'm.t', keep_last => 3)")
            spark.sql(s"CALL $catName.system.vacuum(" +
              s"table => 'm.t', older_than_ms => 0)")
            val live =
              (if (graftDialect) GraftTable.load(spark, loc).meta.snapshots
                  .map(_.snapshotId)
               else IcebergTable.load(spark, loc).meta.snapshots
                  .map(_.snapshotId)).toSet
            history = history.filter(h => live.contains(h._1))
          } else {
            spark.sql(s"CALL $catName.system.rewrite_data_files(" +
              s"table => 'm.t', target_file_size_bytes => 1048576)")
            record()
          }
        case 11 => // equality->position conversion: content-invisible
          spark.sql(s"CALL $catName.system.rewrite_delete_files(" +
            s"table => 'm.t', mode => 'convert')")
          record()
        case 12 if history.size > 2 => // time travel reproduces a past
          // state under its PINNED labels (names AND types of its
          // era) — through the table layer AND through catalog SQL
          // VERSION AS OF (both must pin identically)
          val (sid, pcols, prows) = history(rnd.nextInt(history.size))
          val tt =
            if (rnd.nextBoolean())
              spark.sql(s"SELECT * FROM $sqlT VERSION AS OF $sid")
            else if (graftDialect) GraftTable.load(spark, loc).timeTravel(sid)
            else IcebergTable.load(spark, loc).scan(Some(sid))
          compare(tt, pcols, prows, s"op#$i time-travel to $sid")
        case _ => // rename the KEY column: later keyed deletes/updates
          // must keep matching files written under the old label
          val nn = s"k${i}n"
          val kn = keyName
          val r = scala.util.Try(
            spark.sql(s"ALTER TABLE $sqlT RENAME COLUMN $kn TO $nn"))
          if (r.isSuccess)
            cols = cols.map(x => if (x.id == kId) x.copy(name = nn) else x)
          else assert(graftDialect,
            s"seed=$seed op#$i adopted-dialect rename refused: ${r.failed.get}")
      }
      check(s"op#$i")
      // changelog replay across EVOLVED eras: base state at a random
      // recorded snapshot + inserts - deletes (all under the END era's
      // labels, era values resolved by field id) must rebuild the
      // CURRENT model. Skipped when a recorded base predates the
      // retained chain (this fuzz never expires, so all are valid).
      if (history.size > 2 && rnd.nextInt(3) == 0) {
        val (sid0, _, rows0) = history(rnd.nextInt(history.size))
        val ch =
          if (graftDialect) GraftTable.load(spark, loc).changesBetween(Some(sid0))
          else IcebergTable.load(spark, loc).changesBetween(Some(sid0))
        val kn = keyName
        def rowVals(r: org.apache.spark.sql.Row): (Long, Map[Int, Any]) = {
          val key = r.getAs[Any](kn).asInstanceOf[Number].longValue
          key -> cols.flatMap(c =>
            if (ch.schema.fieldNames.contains(c.name))
              Some(c.id -> norm(r.getAs[Any](c.name)))
            else None).toMap
        }
        val changes = ch.collect()
        val ins = changes.filter(_.getAs[String]("_change_type") == "insert")
          .map(rowVals).toSeq
        val del = changes.filter(_.getAs[String]("_change_type") == "delete")
          .map(rowVals).toSeq
        val base = rows0.toSeq.map { case (k, m) =>
          k -> cols.map(c => c.id -> norm(m.getOrElse(c.id, null))).toMap }
        val want = rows.map { case (k, m) =>
          k -> cols.map(c => c.id -> norm(m.getOrElse(c.id, null))).toMap }
        val replayed = (base ++ ins).diff(del)
        assert(replayed.size === replayed.toMap.size,
          s"seed=$seed replay from $sid0 emitted duplicate keys")
        assert(replayed.toMap === want,
          s"seed=$seed changelog replay from $sid0 diverged after op#$i")
      }
    }
    // end-of-sequence: the catalog-independent reader (the binary
    // interop walk for adopted tables, the table layer for graft)
    // agrees with the model
    val fin =
      if (graftDialect) GraftTable.load(spark, loc).scan()
      else IcebergTable.load(spark, loc).scan()
    compare(fin, cols, rows, "interop-final")
  }

  test("evolution random sequences agree with the model (seed 19)") {
    runEvolutionSequence(19L, 22)
  }
  test("evolution random sequences agree with the model (seed 301)") {
    runEvolutionSequence(301L, 22)
  }
  test("evolution random sequences agree with the model (seed 777, deep)") {
    runEvolutionSequence(777L, 34)
  }
  test("graft-dialect evolution sequences agree with the model (seed 23)") {
    runEvolutionSequence(23L, 22, graftDialect = true)
  }
  test("graft-dialect evolution sequences agree with the model (seed 606)") {
    runEvolutionSequence(606L, 30, graftDialect = true)
  }




  /** Pruning-soundness property check on an adopted real-format table
    * with transform partitions (month + bucket + truncate), schema
    * evolution mid-history (renames + float->double and decimal
    * precision promotions, so old manifests carry NARROW bounds under
    * the widened comparators), nulls, negatives, and merge-on-read
    * equality deletes. Invariant: for random (column, op, literal)
    * filters, the manifest-pruned scan filtered by the equivalent
    * Spark predicate is row-for-row identical to the unpruned scan
    * filtered the same way — pruning may keep extra files, but must
    * never lose a matching row through any of its three tiers
    * (manifest-list field summaries, file stats, partition values
    * through transforms). */
  private def runPruneSoundness(seed: Long, trials: Int): Unit = {
    import graft.table.iceberg.{IcebergTable, IcebergWrite}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val spark0 = spark
    val rnd = new scala.util.Random(seed)
    val loc = java.nio.file.Files
      .createTempDirectory(s"graft-prsound-$seed").toString + "/t"

    val schema0 = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("s", StringType),
      StructField("d", DateType, nullable = false),
      StructField("amt", DecimalType(9, 2)),
      StructField("w", FloatType),
      StructField("g", LongType)))
    def mk(n: Int): org.apache.spark.sql.DataFrame = {
      val rows = (1 to n).map { _ =>
        val k = (rnd.nextLong() % 10000L)
        val sv = if (rnd.nextInt(8) == 0) null else s"s${rnd.nextInt(400)}"
        val d = java.sql.Date.valueOf(java.time.LocalDate.of(
          1965 + rnd.nextInt(70), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28)))
        val amt = if (rnd.nextInt(10) == 0) null
          else new java.math.BigDecimal(rnd.nextInt(2000000) - 1000000)
            .movePointLeft(2)
        val w: java.lang.Float =
          if (rnd.nextInt(9) == 0) null
          else Float.box((rnd.nextInt(4001) - 2000) * 0.25f)
        val g: java.lang.Long =
          if (rnd.nextInt(3) == 0) null else Long.box(rnd.nextInt(100).toLong)
        Row(k, sv, d, amt, w, g)
      }
      spark0.createDataFrame(rows.asJava, schema0)
    }
    IcebergWrite.createWithSpec(spark, loc, mk(150).repartition(3),
      Seq("d" -> "month", "k" -> "bucket[4]", "s" -> "truncate[2]"))
    IcebergWrite.append(spark, loc, mk(150).repartition(2))
    // evolution mid-history: the eras BELOW keep narrow bounds and
    // old labels in their manifests
    IcebergWrite.renameColumn(loc, "k", "id")
    IcebergWrite.renameColumn(loc, "d", "day")
    IcebergWrite.updateColumnType(loc, "w", DoubleType)
    IcebergWrite.updateColumnType(loc, "amt", DecimalType(15, 2))
    val schema1 = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType),
      StructField("day", DateType, nullable = false),
      StructField("amt", DecimalType(15, 2)),
      StructField("w", DoubleType),
      StructField("g", LongType)))
    val era3 = {
      val df = mk(150)
      spark0.createDataFrame(df.rdd.map(r => Row(r.get(0), r.get(1),
        r.get(2), Option(r.getDecimal(3)).map(_.setScale(2)).orNull,
        Option(r.getAs[java.lang.Float](4))
          .map(f => Double.box(f.toDouble)).orNull, r.get(5))), schema1)
    }
    IcebergWrite.append(spark, loc, era3.repartition(2))
    // MoR equality deletes interleave with pruning
    val t0 = IcebergTable.load(spark, loc)
    val someIds = t0.scan().select("id").limit(7).collect().map(_.getLong(0))
    IcebergWrite.deleteEquality(spark, loc,
      spark0.createDataFrame(someIds.map(Row(_)).toSeq.asJava,
        StructType(Seq(StructField("id", LongType)))), Seq("id"))

    val t = IcebergTable.load(spark, loc)
    val totalFiles = t.plannedFiles().size
    var prunedAtLeastOnce = false
    val cols = Seq(
      ("id", "long"), ("s", "string"), ("day", "date"),
      ("amt", "dec"), ("w", "double"), ("g", "long"))
    val pool = t.scan().collect()
    // catalog leg: the same predicates through SQL WHERE exercise the
    // V2 pushdown translation (Spark filters -> canonical stat
    // filters) and the connector's own pruning tiers
    val catName = s"prs_${seed}_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$catName", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse",
      java.nio.file.Files.createTempDirectory(s"graft-prswh-$seed").toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $catName.m")
    spark.sql(s"CALL $catName.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    def litFor(c: String, tpe: String): String = {
      val fromData = rnd.nextInt(2) == 0 && pool.nonEmpty
      def sample: Option[Any] = {
        val r = pool(rnd.nextInt(pool.length))
        Option(r.getAs[Any](c))
      }
      tpe match {
        case "long" =>
          (if (fromData) sample.map(_.toString) else None)
            .getOrElse((rnd.nextLong() % 12000L).toString)
        case "string" =>
          (if (fromData) sample.map(_.toString) else None)
            .getOrElse(Seq("", "a", "s1", "s99", "zzz")(rnd.nextInt(5)))
        case "date" =>
          (if (fromData) sample.map(_.toString) else None)
            .getOrElse(java.time.LocalDate.of(1960 + rnd.nextInt(90),
              1 + rnd.nextInt(12), 1 + rnd.nextInt(28)).toString)
        case "dec" =>
          (if (fromData) sample.map(
              _.asInstanceOf[java.math.BigDecimal].toPlainString)
            else None)
            .getOrElse(new java.math.BigDecimal(
              rnd.nextInt(2400000) - 1200000).movePointLeft(2).toPlainString)
        case _ =>
          (if (fromData) sample.map(_.toString) else None)
            .getOrElse(((rnd.nextInt(4801) - 2400) * 0.25d).toString)
      }
    }
    def sqlCond(c: String, tpe: String, op: String, lit: String): String =
      tpe match {
        case "string" => s"`$c` $op '$lit'"
        case "date" => s"`$c` $op DATE'$lit'"
        case "dec" => s"`$c` $op CAST('$lit' AS DECIMAL(15,2))"
        case _ => s"`$c` $op CAST('$lit' AS ${
          if (tpe == "long") "BIGINT" else "DOUBLE"})"
      }
    for (trial <- 1 to trials) {
      val (c, tpe) = cols(rnd.nextInt(cols.size))
      val op = Seq("=", ">", ">=", "<", "<=")(rnd.nextInt(5))
      val lit = litFor(c, tpe)
      val cond = sqlCond(c, tpe, op, lit)
      val prunedFiles = t.plannedFiles(None, Seq((c, op, lit))).size
      if (prunedFiles < totalFiles) prunedAtLeastOnce = true
      val a = t.scan(None, Seq((c, op, lit)))
        .filter(org.apache.spark.sql.functions.expr(cond))
      val b = t.scan().filter(org.apache.spark.sql.functions.expr(cond))
      val (na, nb) = (a.count(), b.count())
      assert(na === nb,
        s"seed=$seed trial#$trial [$cond] pruned=$na unpruned=$nb " +
          s"(files $prunedFiles/$totalFiles) — pruning lost rows")
      val ha = a.selectExpr("sum(hash(id, s, day, amt, w, g)) AS h")
        .collect()(0)
      val hb = b.selectExpr("sum(hash(id, s, day, amt, w, g)) AS h")
        .collect()(0)
      assert(ha === hb, s"seed=$seed trial#$trial [$cond] content hash " +
        "diverged between pruned and unpruned scans")
      val viaSql = spark.sql(
        s"SELECT count(*), sum(hash(id, s, day, amt, w, g)) " +
          s"FROM $catName.m.t WHERE $cond").collect()(0)
      assert(viaSql.getLong(0) === nb && viaSql.get(1) === hb.get(0),
        s"seed=$seed trial#$trial [$cond] catalog SQL diverged " +
          s"(${viaSql.getLong(0)} rows vs $nb)")
    }
    assert(prunedAtLeastOnce,
      s"seed=$seed vacuous run: no trial pruned any file")
  }

  test("pruning never loses rows under random filters (seed 17)") {
    runPruneSoundness(17L, 30)
  }
  test("pruning never loses rows under random filters (seed 271)") {
    runPruneSoundness(271L, 30)
  }


  /** Graft-dialect twin of the pruning-soundness check: transform
    * partitions via Meta.PartitionField, renames of NON-partition
    * columns (the graft dialect refuses renaming a partition source —
    * specs bind source columns by name), float->double promotion
    * (which retires the column from stats pruning via
    * StatsUnprunableProp rather than widening the comparator — the
    * fuzz verifies that path stays sound too), decimal growth, nulls,
    * negatives, and MoR equality deletes. */
  private def runGraftPruneSoundness(seed: Long, trials: Int): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.table.Meta
    import scala.jdk.CollectionConverters._
    val spark0 = spark
    val rnd = new scala.util.Random(seed)
    val root = java.nio.file.Files
      .createTempDirectory(s"graft-gprsound-$seed").toString + "/t"

    val schema0 = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("s", StringType),
      StructField("d", DateType, nullable = false),
      StructField("amt", DecimalType(9, 2)),
      StructField("w", FloatType),
      StructField("g", LongType)))
    def mk(n: Int): org.apache.spark.sql.DataFrame = {
      val rows = (1 to n).map { _ =>
        val k = (rnd.nextLong() % 10000L)
        val sv = if (rnd.nextInt(8) == 0) null else s"s${rnd.nextInt(400)}"
        val d = java.sql.Date.valueOf(java.time.LocalDate.of(
          1965 + rnd.nextInt(70), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28)))
        val amt = if (rnd.nextInt(10) == 0) null
          else new java.math.BigDecimal(rnd.nextInt(2000000) - 1000000)
            .movePointLeft(2)
        val w: java.lang.Float =
          if (rnd.nextInt(9) == 0) null
          else Float.box((rnd.nextInt(4001) - 2000) * 0.25f)
        val g: java.lang.Long =
          if (rnd.nextInt(3) == 0) null else Long.box(rnd.nextInt(100).toLong)
        Row(k, sv, d, amt, w, g)
      }
      spark0.createDataFrame(rows.asJava, schema0)
    }
    val t = GraftTable.create(spark, root, schema0, spec = Seq(
      Meta.PartitionField("d", "month", "_p_m"),
      Meta.PartitionField("k", "bucket[4]", "_p_b"),
      Meta.PartitionField("s", "truncate[2]", "_p_t")))
    t.append(mk(150).repartition(3))
    t.append(mk(150).repartition(2))
    // evolution mid-history (non-partition columns only: the dialect
    // refuses renaming a partition source)
    t.renameColumn("amt", "total")
    t.renameColumn("g", "grade")
    t.updateColumnType("w", DoubleType)     // stats-retired, not widened
    t.updateColumnType("total", DecimalType(15, 2))
    val schema1 = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("s", StringType),
      StructField("d", DateType, nullable = false),
      StructField("total", DecimalType(15, 2)),
      StructField("w", DoubleType),
      StructField("grade", LongType)))
    val era3 = {
      val df = mk(150)
      spark0.createDataFrame(df.rdd.map(r => Row(r.get(0), r.get(1),
        r.get(2), Option(r.getDecimal(3)).map(_.setScale(2)).orNull,
        Option(r.getAs[java.lang.Float](4))
          .map(f => Double.box(f.toDouble)).orNull, r.get(5))), schema1)
    }
    t.append(era3.repartition(2))
    val someKs = t.scan().select("k").limit(7).collect().map(_.getLong(0))
    t.deleteWhereMoR(col("k").isin(someKs.toIndexedSeq: _*), Seq("k"))

    val t2 = GraftTable.load(spark, root)
    val totalFiles = t2.meta.liveFiles(None).size
    var prunedAtLeastOnce = false
    val colsU = Seq(
      ("k", "long"), ("s", "string"), ("d", "date"),
      ("total", "dec"), ("w", "double"), ("grade", "long"))
    val pool = t2.scan().collect()
    // catalog leg: the same predicates through SQL WHERE exercise the
    // V2 pushdown translation and the connector's pruning tiers
    val catName = s"gprs_${seed}_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$catName", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse",
      java.nio.file.Files.createTempDirectory(s"graft-gprswh-$seed").toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $catName.m")
    spark.sql(s"CALL $catName.system.register_table(table => 'm.t', " +
      s"location => '$root')")
    def litFor(c: String, tpe: String): String = {
      val fromData = rnd.nextInt(2) == 0 && pool.nonEmpty
      def sample: Option[Any] = {
        val r = pool(rnd.nextInt(pool.length))
        Option(r.getAs[Any](c))
      }
      tpe match {
        case "long" => (if (fromData) sample.map(_.toString) else None)
          .getOrElse((rnd.nextLong() % 12000L).toString)
        case "string" => (if (fromData) sample.map(_.toString) else None)
          .getOrElse(Seq("", "a", "s1", "s99", "zzz")(rnd.nextInt(5)))
        case "date" => (if (fromData) sample.map(_.toString) else None)
          .getOrElse(java.time.LocalDate.of(1960 + rnd.nextInt(90),
            1 + rnd.nextInt(12), 1 + rnd.nextInt(28)).toString)
        case "dec" => (if (fromData) sample.map(
            _.asInstanceOf[java.math.BigDecimal].toPlainString) else None)
          .getOrElse(new java.math.BigDecimal(
            rnd.nextInt(2400000) - 1200000).movePointLeft(2).toPlainString)
        case _ => (if (fromData) sample.map(_.toString) else None)
          .getOrElse(((rnd.nextInt(4801) - 2400) * 0.25d).toString)
      }
    }
    def sqlCond(c: String, tpe: String, op: String, lit: String): String =
      tpe match {
        case "string" => s"`$c` $op '$lit'"
        case "date" => s"`$c` $op DATE'$lit'"
        case "dec" => s"`$c` $op CAST('$lit' AS DECIMAL(15,2))"
        case _ => s"`$c` $op CAST('$lit' AS ${
          if (tpe == "long") "BIGINT" else "DOUBLE"})"
      }
    for (trial <- 1 to trials) {
      val (c, tpe) = colsU(rnd.nextInt(colsU.size))
      val op = Seq("=", ">", ">=", "<", "<=")(rnd.nextInt(5))
      val lit = litFor(c, tpe)
      val cond = sqlCond(c, tpe, op, lit)
      val sf = Seq(t2.StatFilter(c, op, lit))
      val prunedFiles = t2.plannedFiles(sf).size
      if (prunedFiles < totalFiles) prunedAtLeastOnce = true
      val a = t2.scan(sf).filter(org.apache.spark.sql.functions.expr(cond))
      val b = t2.scan().filter(org.apache.spark.sql.functions.expr(cond))
      val (na, nb) = (a.count(), b.count())
      assert(na === nb,
        s"seed=$seed trial#$trial [$cond] pruned=$na unpruned=$nb " +
          s"(files $prunedFiles/$totalFiles) — pruning lost rows")
      val ha = a.selectExpr("sum(hash(k, s, d, total, w, grade)) AS h")
        .collect()(0)
      val hb = b.selectExpr("sum(hash(k, s, d, total, w, grade)) AS h")
        .collect()(0)
      assert(ha === hb, s"seed=$seed trial#$trial [$cond] content hash " +
        "diverged between pruned and unpruned scans")
      val viaSql = spark.sql(
        s"SELECT count(*), sum(hash(k, s, d, total, w, grade)) " +
          s"FROM $catName.m.t WHERE $cond").collect()(0)
      assert(viaSql.getLong(0) === nb && viaSql.get(1) === hb.get(0),
        s"seed=$seed trial#$trial [$cond] catalog SQL diverged " +
          s"(${viaSql.getLong(0)} rows vs $nb)")
    }
    assert(prunedAtLeastOnce,
      s"seed=$seed vacuous run: no trial pruned any file")
  }

  test("graft pruning never loses rows under random filters (seed 29)") {
    runGraftPruneSoundness(29L, 30)
  }
  test("graft pruning never loses rows under random filters (seed 431)") {
    runGraftPruneSoundness(431L, 30)
  }

  /** The reference's materialized-view form over the wire: view
    * metadata whose Materialization IS a storage-table Identifier
    * (iceberg-rust-spec materialized_view_metadata.rs:20
    * GeneralViewMetadata<Identifier>; create_view::<Identifier>,
    * catalog_api_api.rs:568). This leg replays the reference client's
    * create_materialized_view flow (catalog.rs:387: create_table for
    * the storage, then create_view whose view-version carries
    * storage-table) with RAW JSON — no graft client helpers — and
    * asserts create/load/replace round-trip the identifier. */
  test("spec-shape materialized view: create/load/replace via the reference JSON form") {
    import graft.table.iceberg.IcebergRestServer
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val wh = java.nio.file.Files.createTempDirectory("graft-specmv").toString
    val server = new IcebergRestServer(wh).start()
    try {
      val base = s"http://127.0.0.1:${server.port}/v1"
      val http = java.net.http.HttpClient.newHttpClient()
      def send(method: String, path: String, body: String)
          : (Int, com.fasterxml.jackson.databind.JsonNode) = {
        val b = java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(base + path))
          .header("Content-Type", "application/json")
        val req = (method match {
          case "GET" => b.GET()
          case "POST" => b.POST(
            java.net.http.HttpRequest.BodyPublishers.ofString(body))
        }).build()
        val resp = http.send(req,
          java.net.http.HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(),
          if (resp.body() == null || resp.body().isEmpty) mapper.createObjectNode()
          else mapper.readTree(resp.body()))
      }
      assert(send("POST", "/namespaces",
        """{"namespace":["db"]}""")._1 === 200)

      val schemaJson =
        """{"schema-id":0,"type":"struct","fields":[
             {"id":1,"name":"k","required":false,"type":"long"},
             {"id":2,"name":"n","required":false,"type":"long"}]}"""
      // 1. the storage table half, under the metadata identifier's name
      assert(send("POST", "/namespaces/db/tables",
        s"""{"name":"mv__storage","schema":$schemaJson}""")._1 === 200)
      // 2. create_view with Version<Identifier> — the MV form
      val createBody =
        s"""{"name":"mv",
             "schema":$schemaJson,
             "view-version":{
               "version-id":1,"schema-id":0,"timestamp-ms":1,
               "summary":{"operation":"create"},
               "representations":[
                 {"type":"sql","dialect":"spark",
                  "sql":"SELECT k, count(*) AS n FROM db.t GROUP BY k"}],
               "default-namespace":["db"],
               "storage-table":{"namespace":["db"],"name":"mv__storage"}},
             "properties":{"comment":"spec mv"}}"""
      val (cCode, _) = send("POST", "/namespaces/db/views", createBody)
      assert(cCode === 200, "spec-shape MV create refused")

      // 3. load: the metadata is the MATERIALIZED view form — current
      // version carries the storage-table identifier
      val (lCode, loaded) = send("GET", "/namespaces/db/views/mv", "")
      assert(lCode === 200)
      val md = loaded.get("metadata")
      assert(md.get("view-uuid").asText().nonEmpty)
      assert(md.get("format-version").asInt() === 1)
      assert(md.get("current-version-id").asInt() === 1)
      val v1 = md.get("versions").get(0)
      assert(v1.get("storage-table").get("name").asText() === "mv__storage")
      assert(v1.get("storage-table").get("namespace").get(0).asText() === "db")
      assert(v1.get("representations").get(0).get("sql").asText()
        .contains("GROUP BY k"))
      assert(md.get("schemas").get(0).get("fields").size() === 2,
        "request schema must round-trip in metadata.schemas")
      // the storage identifier LOADS as a table through the catalog
      assert(send("GET", "/namespaces/db/tables/mv__storage", "")._1 === 200)

      // 4. replace via CommitView<Identifier>: a new version pinning a
      // NEW storage table (the reference's full-refresh pattern swaps
      // storage), set-current -1
      val uuid = md.get("view-uuid").asText()
      assert(send("POST", "/namespaces/db/tables",
        s"""{"name":"mv__storage2","schema":$schemaJson}""")._1 === 200)
      val commitBody =
        s"""{"requirements":[{"type":"assert-view-uuid","uuid":"$uuid"}],
             "updates":[
               {"action":"add-view-version","view-version":{
                 "version-id":2,"schema-id":0,"timestamp-ms":2,
                 "summary":{"operation":"replace"},
                 "representations":[
                   {"type":"sql","dialect":"spark",
                    "sql":"SELECT k, count(*) AS n FROM db.t2 GROUP BY k"}],
                 "default-namespace":["db"],
                 "storage-table":{"namespace":["db"],"name":"mv__storage2"}}},
               {"action":"set-current-view-version","view-version-id":-1}]}"""
      assert(send("POST", "/namespaces/db/views/mv", commitBody)._1 === 200)
      val (_, replaced) = send("GET", "/namespaces/db/views/mv", "")
      val md2 = replaced.get("metadata")
      assert(md2.get("current-version-id").asInt() === 2)
      val cur = md2.get("versions").elements()
      var curStorage = ""
      while (cur.hasNext) {
        val v = cur.next()
        if (v.get("version-id").asInt() === 2)
          curStorage = v.get("storage-table").get("name").asText()
      }
      assert(curStorage === "mv__storage2",
        "replace must carry the new version's storage-table pin")
      assert(md2.get("view-uuid").asText() === uuid)

      // 5. the clone_from quirk (catalog.rs:393): the client creates
      // the storage table under the VIEW's name, then create_view —
      // must not 409 as a name collision, and the declared identifier
      // still gets a loadable table
      assert(send("POST", "/namespaces/db/tables",
        s"""{"name":"mv2","schema":$schemaJson}""")._1 === 200)
      val create2 = createBody.replace("\"name\":\"mv\"", "\"name\":\"mv2\"")
        .replace("\"name\":\"mv__storage\"", "\"name\":\"mv2__storage\"")
      assert(send("POST", "/namespaces/db/views", create2)._1 === 200,
        "clone_from-quirk MV create (pre-created table at the view " +
          "name) must be accepted")
      assert(send("GET", "/namespaces/db/tables/mv2__storage", "")._1 === 200,
        "declared storage identifier must resolve to a table")
      // a PLAIN view create over an existing table still collides
      assert(send("POST", "/namespaces/db/views",
        """{"name":"mv2__storage","sql":"SELECT 1 AS c"}""")._1 === 409)

      // 6. the MV form must NOT absorb an unrelated DATA-BEARING
      // table: letting it through would write view files into a live
      // table's root, and a later DROP VIEW would destroy its data.
      // (An empty pre-created table with a self-derived storage name
      // is the accepted clone_from shape — leg 5.)
      assert(send("POST", "/namespaces/db/tables",
        s"""{"name":"sales","schema":$schemaJson}""")._1 === 200)
      // give the table content through the commit protocol shape:
      // simplest is a second create attempt proving 409 fires even
      // while empty when the storage identifier is NOT self-derived
      val badCreate = createBody
        .replace("\"name\":\"mv\"", "\"name\":\"sales\"")
        .replace("\"name\":\"mv__storage\"", "\"name\":\"elsewhere\"")
      assert(send("POST", "/namespaces/db/views", badCreate)._1 === 409,
        "MV create over an existing table with a foreign storage " +
          "identifier must collide")

      // 7. (round 16) the tolerance is SCHEMA-checked: the clone_from
      // pre-create always carries the request's schema, so an EMPTY
      // self-named table whose shape differs is a real name collision
      // — absorbed, a later DROP VIEW would destroy its registration
      assert(send("POST", "/namespaces/db/tables",
        """{"name":"mv3","schema":{"schema-id":0,"type":"struct",
             "fields":[{"id":1,"name":"other","required":false,
             "type":"string"}]}}""")._1 === 200)
      val create3 = createBody.replace("\"name\":\"mv\"", "\"name\":\"mv3\"")
        .replace("\"name\":\"mv__storage\"", "\"name\":\"mv3__storage\"")
      assert(send("POST", "/namespaces/db/views", create3)._1 === 409,
        "an empty but differently-shaped table at the view root " +
          "must 409, not be co-opted")
    } finally server.stop()
  }

  /** The commit protocol's set-snapshot-ref in the reference's WIRE
    * form: the whole SnapshotReference #[serde(flatten)]ed into the
    * update (commit.rs:102-108) — type + retention fields beside
    * ref-name/snapshot-id. Raw JSON, no graft client helpers. */
  test("raw set-snapshot-ref carries the flattened SnapshotReference " +
      "(type + retention); re-setting without fields clears the policy") {
    import graft.table.iceberg.{IcebergMetadata, IcebergRestServer, IcebergWrite}
    val spark0 = spark
    import spark0.implicits._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val wh = java.nio.file.Files.createTempDirectory("graft-rawref").toString
    val server = new IcebergRestServer(wh).start()
    try {
      val base = s"http://127.0.0.1:${server.port}/v1"
      val http = java.net.http.HttpClient.newHttpClient()
      def send(method: String, path: String, body: String)
          : (Int, com.fasterxml.jackson.databind.JsonNode) = {
        val b = java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(base + path))
          .header("Content-Type", "application/json")
        val req = (method match {
          case "GET" => b.GET()
          case "POST" => b.POST(
            java.net.http.HttpRequest.BodyPublishers.ofString(body))
        }).build()
        val resp = http.send(req,
          java.net.http.HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(),
          if (resp.body() == null || resp.body().isEmpty)
            mapper.createObjectNode()
          else mapper.readTree(resp.body()))
      }
      assert(send("POST", "/namespaces",
        """{"namespace":["db"]}""")._1 === 200)
      val loc = s"$wh/db/t"
      IcebergWrite.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
      val head = IcebergMetadata.load(loc).currentSnapshotId.get

      val (tagCode, _) = send("POST", "/namespaces/db/tables/t",
        s"""{"requirements":[],"updates":[
             {"action":"set-snapshot-ref","ref-name":"rel","type":"tag",
              "snapshot-id":$head,"max-ref-age-ms":604800000}]}""")
      assert(tagCode === 200)
      val (brCode, _) = send("POST", "/namespaces/db/tables/t",
        s"""{"requirements":[],"updates":[
             {"action":"set-snapshot-ref","ref-name":"hist",
              "type":"branch","snapshot-id":$head,
              "min-snapshots-to-keep":3,"max-snapshot-age-ms":86400000}]}""")
      assert(brCode === 200)
      val m1 = IcebergMetadata.load(loc)
      assert(m1.refTypes.get("rel").contains("tag"))
      assert(m1.refRetention.get("rel").flatMap(_.maxRefAgeMs)
        .contains(604800000L))
      assert(m1.refRetention.get("hist").flatMap(_.minSnapshotsToKeep)
        .contains(3))
      assert(m1.refRetention.get("hist").flatMap(_.maxSnapshotAgeMs)
        .contains(86400000L))

      // the update carries the WHOLE reference: re-setting a ref with
      // no retention fields clears the stored policy
      assert(send("POST", "/namespaces/db/tables/t",
        s"""{"requirements":[],"updates":[
             {"action":"set-snapshot-ref","ref-name":"hist",
              "type":"branch","snapshot-id":$head}]}""")._1 === 200)
      assert(IcebergMetadata.load(loc).refRetention.get("hist").isEmpty,
        "a reference-replacing update must clear an absent policy")
    } finally server.stop()
  }
}
