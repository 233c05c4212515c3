package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.table.TableIO
import graft.table.iceberg.{IcebergAvro, IcebergMetadata, IcebergTable, IcebergWrite}
import org.apache.hadoop.fs.{Path => HPath}
import java.nio.file.Files

/** Binary Iceberg v2 interop: metadata.json + avro manifest lists +
  * avro manifests round-trip (SURVEY.md §2.C tf_iceberg_read). */
class IcebergInteropSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    Files.createTempDirectory("graft-ice").toString + "/t"

  test("create + append round-trips rows through the real format") {
    val o = Tables.orders(spark, sf)
    val loc = tmp()
    val t = IcebergWrite.create(spark, loc,
      o.filter(col("o_orderstatus") === "F"))
    val n1 = t.scan().count()
    assert(n1 === o.filter(col("o_orderstatus") === "F").count())
    val s1 = t.meta.currentSnapshotId.get

    IcebergWrite.append(spark, loc, o.filter(col("o_orderstatus") =!= "F"))
    assert(t.scan().count() === o.count())
    // time travel through the real snapshot chain
    assert(t.timeTravel(s1).count() === n1)
    assert(t.meta.snapshots.size === 2)
  }

  test("concurrent local appends never lose a snapshot (CAS commits)") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc, Seq((0L, "z")).toDF("k", "v"))
    val threads = 4
    val perThread = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            for (i <- 0 until perThread) {
              val base = t * 1000 + i * 10
              IcebergWrite.append(spark, loc,
                ((base + 1) to (base + 3)).map(j => (j.toLong, s"t$t-$i"))
                  .toDF("k", "v").coalesce(1))
            }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    // the old non-CAS commit lost whole snapshots under this race
    // (two writers listing the same version clobbered one another)
    val t = IcebergTable.load(spark, loc)
    assert(t.meta.snapshots.size === 1 + threads * perThread)
    assert(t.scan().count() === (1 + threads * perThread * 3).toLong)
    // every thread's every batch fully present
    val got = t.scan().select("v").collect().map(_.getString(0))
      .groupBy(identity).view.mapValues(_.length).toMap
    for (th <- 0 until threads; i <- 0 until perThread)
      assert(got.getOrElse(s"t$th-$i", 0) === 3, s"lost batch t$th-$i")
    // the snapshot chain is a single line: every parent is the
    // previous commit (CAS serialized the writers)
    val byId = t.meta.snapshots.map(s => s.snapshotId -> s).toMap
    t.meta.snapshots.sortBy(_.snapshotId).sliding(2).foreach {
      case Seq(a, b) => assert(b.parentId.contains(a.snapshotId),
        s"snapshot ${b.snapshotId} does not chain to ${a.snapshotId}")
      case _ =>
    }
    assert(byId.size === t.meta.snapshots.size)
  }

  test("time travel to an unknown snapshot refuses instead of serving current") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    val ex = intercept[IllegalArgumentException] {
      IcebergTable.load(spark, loc).timeTravel(424242L).count()
    }
    assert(ex.getMessage.contains("no snapshot 424242"))
    val root2 = Files.createTempDirectory("graft-tt").toString + "/t"
    val gt = graft.table.GraftTable.create(spark, root2,
      Seq((1L, "a")).toDF("k", "v").schema)
    gt.append(Seq((1L, "a")).toDF("k", "v"))
    val ex2 = intercept[IllegalArgumentException] {
      gt.timeTravel(424242L).count()
    }
    assert(ex2.getMessage.contains("no snapshot 424242"))
  }

  test("metadata.json parses back with schemas, snapshots, refs") {
    val o = Tables.orders(spark, sf).limit(100)
    val loc = tmp()
    IcebergWrite.create(spark, loc, o)
    val m = IcebergMetadata.load(loc)
    assert(m.formatVersion === 2)
    assert(m.schema.fields.map(_.name) === o.schema.fieldNames.toSeq)
    assert(m.schema.toSpark === o.schema)
    assert(m.currentSnapshotId.isDefined)
    assert(m.refs.get("main") === m.currentSnapshotId)
    assert(m.snapshots.head.manifestList.nonEmpty)
  }

  test("avro manifests carry per-file bounds that prune scans") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    // two appends -> two files with disjoint key ranges
    IcebergWrite.create(spark, loc,
      (1L to 100L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    IcebergWrite.append(spark, loc,
      (1000L to 1100L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1))
    val t = IcebergTable.load(spark, loc)
    val all = t.plannedFiles()
    assert(all.size === 2)
    // decoded canonical bounds
    val statsById = all.map { case (e, st, _) => st("id") }
    assert(statsById.exists(s => s.min == "1" && s.max == "100"))
    assert(statsById.exists(s => s.min == "1000" && s.max == "1100"))
    // manifest pruning: id > 500 touches one file
    val pruned = t.plannedFiles(None, Seq(("id", ">", "500")))
    assert(pruned.size === 1)
    assert(t.scan(None, Seq(("id", ">", "500"))).count() === 101)
  }

  test("manifest list read handles the raw avro layer directly") {
    val o = Tables.orders(spark, sf).limit(50)
    val loc = tmp()
    IcebergWrite.create(spark, loc, o)
    val m = IcebergMetadata.load(loc)
    val mfs = IcebergAvro.readManifestList(
      TableIO.path(m.currentSnapshot.get.manifestList))
    assert(mfs.nonEmpty)
    assert(mfs.forall(_.content === 0))
    val entries = IcebergAvro.readManifest(TableIO.path(mfs.head.path))
    assert(entries.map(_.recordCount).sum === 50)
    assert(entries.forall(_.fileFormat === "PARQUET"))
    assert(entries.forall(_.status === 1))
  }

  test("delete manifests: equality and positional deletes apply, sequence-scoped") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
    val t = IcebergWrite.create(spark, loc, df)
    // equality delete: drop even ids
    IcebergWrite.deleteEquality(spark, loc,
      (1L to 100L).filter(_ % 2 == 0).map(Tuple1(_)).toDF("id"), Seq("id"))
    assert(t.scan().count() === 50)
    assert(t.scan().filter(col("id") % 2 === 0).count() === 0)
    // append AFTER the delete: new rows with even ids must survive
    IcebergWrite.append(spark, loc, Seq((2L, "again")).toDF("id", "v"))
    assert(t.scan().count() === 51)
    assert(t.scan().filter(col("id") === 2L).count() === 1)
    // positional delete of one exact row slot (physical file + index)
    val target = spark.read
      .parquet(t.plannedFiles().map(_._1.filePath): _*)
      .withColumn("fp", col("_metadata.file_path"))
      .withColumn("pos", col("_metadata.row_index"))
      .filter(col("id") === 1L)
      .select(col("fp").as("file_path"), col("pos"))
    IcebergWrite.deletePositional(spark, loc, target)
    assert(t.scan().count() === 50)
    assert(t.scan().filter(col("id") === 1L).count() === 0)
  }

  test("identity-partitioned writes: partition dirs, typed manifest structs, pruning") {
    val o = Tables.orders(spark, sf)
    val loc = tmp()
    val t = IcebergWrite.create(spark, loc, o, partitionCols = Seq("o_orderstatus"))
    assert(t.scan().count() === o.count())
    // data files keep ALL columns (Iceberg data files are complete)
    assert(t.scan().columns.contains("o_orderstatus"))
    // manifests carry typed partition structs keyed by the spec name
    val parts = t.plannedFiles().map(_._1.partition)
    assert(parts.nonEmpty && parts.forall(_.contains("o_orderstatus")))
    val values = parts.flatMap(_.get("o_orderstatus")).map(String.valueOf(_)).toSet
    assert(values === Set("F", "O", "P"))
    // bounds-based pruning skips other partitions' files entirely
    val pruned = t.plannedFiles(None, Seq(("o_orderstatus", "=", "P")))
    assert(pruned.size < t.plannedFiles().size)
    assert(t.scan(None, Seq(("o_orderstatus", "=", "P")))
      .filter(col("o_orderstatus") === "P").count() ===
      o.filter(col("o_orderstatus") === "P").count())
    // metadata records the identity spec
    val spec = t.meta.specs.head.fields
    assert(spec.map(_.name) === Seq("o_orderstatus"))
    assert(spec.head.transform === "identity")
  }

  test("bucket(4)-partitioned writes: transform values in manifests, equality pruning") {
    val o = Tables.orders(spark, sf)
    val loc = tmp()
    val t = IcebergWrite.createWithSpec(spark, loc, o,
      Seq("o_custkey" -> "bucket[4]"))
    assert(t.scan().count() === o.count())
    // spec + metadata.json record the real transform string
    val pf = t.meta.specs.head.fields.head
    assert(pf.transform === "bucket[4]")
    assert(pf.name === "o_custkey_bucket")
    // manifest partition values are the bucket numbers, matching the
    // Catalyst kernel's murmur3 on the driver
    val parts = t.plannedFiles().map(_._1.partition)
    val buckets = parts.flatMap(_.get("o_custkey_bucket"))
      .map(String.valueOf(_).toInt).toSet
    assert(buckets.subsetOf(Set(0, 1, 2, 3)) && buckets.size > 1)
    // equality predicate prunes to the single matching bucket's files
    val k = o.select("o_custkey").head().getLong(0)
    val expectBucket = graft.functions.IcebergHash.bucketLong(k, 4)
    val pruned = t.plannedFiles(None, Seq(("o_custkey", "=", k.toString)))
    assert(pruned.nonEmpty && pruned.size < t.plannedFiles().size)
    assert(pruned.forall(e =>
      String.valueOf(e._1.partition("o_custkey_bucket")).toInt == expectBucket))
    // scan through the pruned plan stays correct
    assert(t.scan(None, Seq(("o_custkey", "=", k.toString)))
      .filter(col("o_custkey") === k).count() ===
      o.filter(col("o_custkey") === k).count())
  }

  test("day-partitioned writes: date transform values, range pruning") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    val df = Seq(
      (1L, java.sql.Date.valueOf("2024-01-10")),
      (2L, java.sql.Date.valueOf("2024-01-10")),
      (3L, java.sql.Date.valueOf("2024-03-05")),
      (4L, java.sql.Date.valueOf("2024-03-06"))).toDF("id", "d")
    val t = IcebergWrite.createWithSpec(spark, loc, df, Seq("d" -> "day"))
    assert(t.meta.specs.head.fields.head.transform === "day")
    assert(t.scan().count() === 4)
    // partition values are epoch days (ints)
    val days = t.plannedFiles().map(_._1.partition("d_day"))
      .map(String.valueOf(_).toInt).toSet
    assert(days === Set(
      java.time.LocalDate.parse("2024-01-10").toEpochDay.toInt,
      java.time.LocalDate.parse("2024-03-05").toEpochDay.toInt,
      java.time.LocalDate.parse("2024-03-06").toEpochDay.toInt))
    // equality + range predicates prune through the day transform
    assert(t.plannedFiles(None, Seq(("d", "=", "2024-01-10"))).size === 1)
    assert(t.plannedFiles(None, Seq(("d", ">", "2024-02-01"))).size === 2)
    assert(t.plannedFiles(None, Seq(("d", "<=", "2024-01-31"))).size === 1)
    assert(t.scan(None, Seq(("d", ">", "2024-02-01")))
      .filter(col("d") > lit("2024-02-01")).count() === 2)
  }

  test("manifest field summaries: written, carried forward, and prune whole manifests") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    val early = Seq(
      (1L, java.sql.Date.valueOf("2024-01-10")),
      (2L, java.sql.Date.valueOf("2024-02-15"))).toDF("id", "d")
    val late = Seq(
      (3L, java.sql.Date.valueOf("2024-07-05")),
      (4L, java.sql.Date.valueOf("2024-08-06"))).toDF("id", "d")
    IcebergWrite.createWithSpec(spark, loc, early, Seq("d" -> "day"))
    IcebergWrite.append(spark, loc, late)
    val t = IcebergTable.load(spark, loc)
    val mfs = IcebergAvro.readManifestList(
      new org.apache.hadoop.fs.Path(t.meta.currentSnapshot.get.manifestList))
    assert(mfs.size === 2)
    // every manifest-list entry carries a bounds-bearing summary
    // (field-id 507) for the single day-partition field
    mfs.foreach { mf =>
      val sums = mf.partitions.get
      assert(sums.size === 1)
      assert(sums.head.lower.isDefined && sums.head.upper.isDefined)
      assert(!sums.head.containsNull)
    }
    // the carried-forward early manifest kept its ORIGINAL bounds
    val earlyDays = Seq("2024-01-10", "2024-02-15")
      .map(s => java.time.LocalDate.parse(s).toEpochDay.toInt)
    val bounds = mfs.map { mf =>
      val s = mf.partitions.get.head
      def le(b: Array[Byte]) = java.nio.ByteBuffer.wrap(b)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      (le(s.lower.get), le(s.upper.get))
    }
    assert(bounds.contains((earlyDays.min, earlyDays.max)))
    // planning a late-range query must SKIP the early manifest without
    // opening it: delete its avro from disk — if pruning ever reads
    // it, this throws; with summaries it plans and scans correctly
    val earlyMf = mfs.find { mf =>
      val s = mf.partitions.get.head
      java.nio.ByteBuffer.wrap(s.upper.get)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt === earlyDays.max
    }.get
    val p = new org.apache.hadoop.fs.Path(earlyMf.path)
    assert(TableIO.fs(p).delete(p, false))
    val planned = t.plannedFiles(None, Seq(("d", ">", "2024-06-01")))
    assert(planned.size === 2) // both late day-files, zero early ones
    assert(t.scan(None, Seq(("d", ">", "2024-06-01")))
      .filter(col("d") > lit("2024-06-01")).count() === 2)
    // an unfiltered plan still needs that manifest -> fails loudly,
    // proving the skip above came from summary pruning, not luck
    intercept[Exception] { t.plannedFiles() }
  }

  test("truncate + month transforms round-trip partition values") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    val df = Seq(
      (7L, "alpha", java.sql.Timestamp.valueOf("2024-01-15 10:30:00")),
      (23L, "alibi", java.sql.Timestamp.valueOf("2024-02-20 11:00:00")),
      (101L, "beta", java.sql.Timestamp.valueOf("2024-02-25 12:00:00")))
      .toDF("id", "s", "ts")
    val t = IcebergWrite.createWithSpec(spark, loc, df,
      Seq("id" -> "truncate[10]", "s" -> "truncate[2]", "ts" -> "month"))
    assert(t.scan().count() === 3)
    val parts = t.plannedFiles().map(_._1.partition)
    val trunc = parts.map(p => String.valueOf(p("id_trunc")).toLong).toSet
    assert(trunc === Set(0L, 20L, 100L))
    val pre = parts.map(p => String.valueOf(p("s_trunc"))).toSet
    assert(pre === Set("al", "be"))
    val months = parts.map(p => String.valueOf(p("ts_month")).toInt).toSet
    assert(months === Set(54 * 12, 54 * 12 + 1)) // 2024-01, 2024-02
    // string-truncate equality pruning: literal maps to its prefix
    val prunedS = t.plannedFiles(None, Seq(("s", "=", "beta")))
    assert(prunedS.forall(e => String.valueOf(e._1.partition("s_trunc")) == "be"))
    assert(prunedS.size < parts.size)
  }

  test("schema evolution: new columns null-fill old files; old snapshots keep shape") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    val t = IcebergWrite.create(spark, loc,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    val s1 = t.meta.currentSnapshotId.get
    IcebergWrite.addColumns(loc, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType))))
    IcebergWrite.append(spark, loc,
      Seq((3L, "c", 9.5)).toDF("id", "v", "score").coalesce(1))
    // current scan: three columns, old rows null-filled
    val rows = t.scan().orderBy("id").collect()
    assert(rows.map(_.length).toSet === Set(3))
    assert(rows(0).isNullAt(2) && rows(1).isNullAt(2))
    assert(rows(2).getDouble(2) === 9.5)
    // time travel to the pre-evolution snapshot: original two columns
    assert(t.timeTravel(s1).schema.fieldNames.toSeq === Seq("id", "v"))
    // field ids of the added column continue the sequence
    assert(t.meta.schema.fields.map(_.id) === Seq(1, 2, 3))
  }

  test("REST views, rename, register, properties round-trip over HTTP") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergRestServer, IcebergRestClient => C}
    val wh = Files.createTempDirectory("graft-rest-v").toString
    val server = new IcebergRestServer(wh).start()
    try {
      val base = s"http://127.0.0.1:${server.port}"
      C.createNamespace(base, "db")

      // -- views: create / list / load / replace(+CAS 409) / drop
      C.createView(base, "db", "v_top", "SELECT id FROM src WHERE id > 10")
      assert(C.listViews(base, "db") === Seq("v_top"))
      val (sql1, _, ver1) = C.loadView(base, "db", "v_top")
      assert(sql1.contains("id > 10") && ver1 === 1)
      assert(C.replaceView(base, "db", "v_top",
        "SELECT id FROM src WHERE id > 20", baseVersion = 1) === 200)
      val (sql2, _, ver2) = C.loadView(base, "db", "v_top")
      assert(sql2.contains("id > 20") && ver2 === 2)
      // lost view-commit race: stale base -> 409, current def untouched
      assert(C.replaceView(base, "db", "v_top",
        "SELECT 1", baseVersion = 1) === 409)
      assert(C.loadView(base, "db", "v_top")._1.contains("id > 20"))
      // representation evolution over HTTP: ship a second dialect
      assert(C.replaceView(base, "db", "v_top",
        "SELECT id FROM src WHERE id > 20", baseVersion = 2,
        representations = Seq(
          "spark" -> "SELECT id FROM src WHERE id > 20",
          "duckdb" -> "SELECT id FROM 'src.parquet' WHERE id > 20")) === 200)
      val reps = C.loadViewRepresentations(base, "db", "v_top").toMap
      assert(reps("duckdb").contains("'src.parquet'"))
      assert(reps("spark").contains("id > 20") && reps.size === 2)
      C.dropView(base, "db", "v_top")
      assert(C.listViews(base, "db").isEmpty)

      // -- rename_table: content + snapshots follow the new identity
      val df = (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
      IcebergWrite.create(spark, s"$wh/db/orig", df)
      C.renameTable(base, "db", "orig", "renamed")
      assert(C.listTables(base, "db") === Seq("renamed"))
      assert(!C.tableExists(base, "db", "orig"))
      assert(C.loadTable(spark, base, "db", "renamed").scan().count() === 40)

      // -- register_table: metadata written OUTSIDE the warehouse
      val ext = Files.createTempDirectory("graft-ext").toString + "/t"
      IcebergWrite.create(spark, ext,
        (1L to 25L).map(i => (i, i * 2.0)).toDF("id", "x").coalesce(1))
      val mLoc = graft.table.iceberg.IcebergMetadata
        .currentMetadataFile(ext).toString
      C.registerTable(base, "db", "reg", mLoc)
      assert(C.tableExists(base, "db", "reg"))
      // scans resolve data at the ORIGINAL location
      assert(C.loadTable(spark, base, "db", "reg").scan().count() === 25)

      // -- properties through the commit protocol
      C.updateProperties(base, "db", "renamed",
        set = Map("owner" -> "graft", "retention" -> "7d"))
      val m1 = C.loadTable(spark, base, "db", "renamed").meta
      assert(m1.properties.get("owner").contains("graft"))
      C.updateProperties(base, "db", "renamed",
        set = Map.empty, remove = Seq("retention"))
      val m2 = C.loadTable(spark, base, "db", "renamed").meta
      assert(!m2.properties.contains("retention"))
      assert(m2.properties.get("owner").contains("graft"))

      // -- metrics report endpoint (reference report_metrics): 204 + recorded
      C.reportMetrics(base, "db", "renamed",
        """{"report-type":"scan-report","filters":[],"metrics":{"result-data-files":3}}""")
      assert(server.metricsLog.size() === 1)
      assert(server.metricsLog.peek()._1 === "db.renamed")
    } finally server.stop()
  }

  test("graft table exports as real-format Iceberg; REST serves it via mirror") {
    import graft.table.{GraftTable, Meta}
    import graft.table.iceberg.IcebergExport
    val wh = Files.createTempDirectory("graft-mirror").toString
    new java.io.File(s"$wh/db").mkdirs()
    val root = s"$wh/db/gt"
    val li = Tables.lineitem(spark, sf)
    val t = GraftTable.create(spark, root, li.schema,
      spec = Seq(Meta.PartitionField("l_linestatus", "identity", "p_ls")))
    t.append(li.limit(2000))
    t.deleteWhereMoR(col("l_orderkey") === 1L, Seq("l_orderkey"))
    t.deleteWhereMoRPositional(col("l_quantity") === 10.0)
    val want = t.scan().count()
    val wantSum = t.scan().agg(sum("l_extendedprice")).collect()(0).getDouble(0)
    assert(want > 0)

    // direct export: metadata-only mirror, data files referenced in place
    val dest = s"$wh/exported"
    IcebergExport.export(spark, root, dest)
    val it = IcebergTable.load(spark, dest)
    assert(it.scan().count() === want)
    val gotSum = it.scan().agg(sum("l_extendedprice")).collect()(0).getDouble(0)
    assert(math.abs(gotSum - wantSum) < 1e-6)

    // REST: the graft table lists and loads through the on-the-fly mirror
    import graft.table.iceberg.{IcebergRestServer, IcebergRestClient => C}
    val server = new IcebergRestServer(wh).start()
    try {
      val base = s"http://127.0.0.1:${server.port}"
      assert(C.listTables(base, "db").contains("gt"))
      assert(C.loadTable(spark, base, "db", "gt").scan().count() === want)
      // mirror refreshes when the graft table commits a new version
      t.append(li.limit(100))
      val fresh = t.scan().count()
      assert(C.loadTable(spark, base, "db", "gt").scan().count() === fresh)
      // the hidden mirror dir never appears in listings
      assert(!C.listTables(base, "db").exists(_.startsWith(".")))
    } finally server.stop()
  }

  test("evolved-spec graft table exports with per-spec manifests; pruning spans eras") {
    import graft.table.{GraftTable, Meta}
    import graft.table.iceberg.{IcebergExport, IcebergMetadata}
    val wh = Files.createTempDirectory("graft-spec-evo").toString
    val root = s"$wh/gt"
    val li = Tables.lineitem(spark, sf)
    val t = GraftTable.create(spark, root, li.schema,
      spec = Seq(Meta.PartitionField("l_shipdate", "month", "_p_month")))
    t.append(li.filter(col("l_orderkey") % 2 === 0))
    t.setDefaultSpec(Seq(Meta.PartitionField("l_shipdate", "day", "_p_day")))
    t.append(li.filter(col("l_orderkey") % 2 =!= 0))
    t.setSortOrder(Seq("l_orderkey"))
    val want = t.scan().count()

    val dest = s"$wh/exported"
    IcebergExport.export(spark, root, dest)
    // both specs export, default points at the day spec, and the
    // manifest list carries one data manifest per spec id
    val im = IcebergMetadata.load(dest)
    assert(im.specs.map(_.specId).sorted === Seq(0, 1))
    assert(im.defaultSpecId === 1)
    // the sort order crosses the format boundary (id-resolved)
    assert(im.defaultSortFields.map(_.sourceId) ===
      Seq(im.schema.fields.find(_.name == "l_orderkey").get.id))
    val it = IcebergTable.load(spark, dest)
    assert(it.scan().count() === want)
    // partition pruning through the reader: a Jan-1996 predicate must
    // plan fewer files than the full table, from BOTH eras, and the
    // filtered read stays exact
    val all = it.plannedFiles()
    val planned = it.plannedFiles(None,
      Seq(("l_shipdate", ">=", "1996-01-01 00:00:00"),
        ("l_shipdate", "<=", "1996-01-31 23:59:59")))
    assert(planned.size < all.size, s"planned=${planned.size} all=${all.size}")
    val got = it.scan(None, Seq(("l_shipdate", ">=", "1996-01-01 00:00:00"),
        ("l_shipdate", "<=", "1996-01-31 23:59:59")))
      .filter(year(col("l_shipdate")) === 1996 && month(col("l_shipdate")) === 1)
      .count()
    assert(got === li.filter(year(col("l_shipdate")) === 1996 &&
      month(col("l_shipdate")) === 1).count())
  }

  test("REST spec CommitViewRequest: assert-view-uuid, add-view-version, properties") {
    import graft.table.iceberg.{IcebergRestServer, IcebergRestClient => C}
    val wh = Files.createTempDirectory("graft-rest-vc").toString
    val server = new IcebergRestServer(wh).start()
    try {
      val base = s"http://127.0.0.1:${server.port}"
      C.createNamespace(base, "db")
      C.createView(base, "db", "v_spec", "SELECT 1 AS one")
      val uuid = C.loadViewUuid(base, "db", "v_spec")
      assert(uuid.nonEmpty)

      // strict-client commit: assert uuid, add a version, set current(-1)
      assert(C.commitView(base, "db", "v_spec",
        assertUuid = Some(uuid),
        representations = Seq(
          "spark" -> "SELECT 2 AS one",
          "duckdb" -> "SELECT 2 AS one -- duckdb")) === 200)
      val (sql, _, ver) = C.loadView(base, "db", "v_spec")
      assert(sql.contains("SELECT 2") && ver === 2)
      assert(C.loadViewRepresentations(base, "db", "v_spec").toMap
        .contains("duckdb"))
      // uuid is identity: survives version commits
      assert(C.loadViewUuid(base, "db", "v_spec") === uuid)

      // property lifecycle through spec updates
      assert(C.commitView(base, "db", "v_spec", assertUuid = Some(uuid),
        setProperties = Map("comment" -> "spec view", "owner" -> "ci")) === 200)
      assert(C.loadViewProperties(base, "db", "v_spec") ===
        Map("comment" -> "spec view", "owner" -> "ci"))
      assert(C.commitView(base, "db", "v_spec",
        removeProperties = Seq("owner")) === 200)
      assert(C.loadViewProperties(base, "db", "v_spec") ===
        Map("comment" -> "spec view"))

      // failed requirement: wrong uuid -> 409, nothing committed
      assert(C.commitView(base, "db", "v_spec",
        assertUuid = Some("00000000-0000-0000-0000-000000000000"),
        representations = Seq("spark" -> "SELECT 3")) === 409)
      assert(C.loadView(base, "db", "v_spec")._1.contains("SELECT 2"))

      // malformed flows refuse with 400, not silent acceptance
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val badCur = mapper.createObjectNode()
      badCur.put("action", "set-current-view-version")
      badCur.put("view-version-id", 7777) // never-registered id
      assert(C.commitView(base, "db", "v_spec",
        extraUpdates = Seq(badCur)) === 400)
      // missing required fields 400 (not a 500): no action / no uuid
      val noAction = mapper.createObjectNode()
      noAction.put("uuid", uuid)
      assert(C.commitView(base, "db", "v_spec",
        extraUpdates = Seq(noAction)) === 400)
      val noUuid = mapper.createObjectNode()
      noUuid.put("action", "assign-uuid")
      assert(C.commitView(base, "db", "v_spec",
        extraUpdates = Seq(noUuid)) === 400)
      // re-assigning an already-assigned uuid 400s — even when the
      // first assignment happened earlier in the SAME request (the
      // guard validates against the folded state, commit.rs AssignUUID)
      val as1 = mapper.createObjectNode()
      as1.put("action", "assign-uuid"); as1.put("uuid", uuid)
      val as2 = mapper.createObjectNode()
      as2.put("action", "assign-uuid")
      as2.put("uuid", "11111111-2222-3333-4444-555555555555")
      assert(C.commitView(base, "db", "v_spec",
        extraUpdates = Seq(as1, as2)) === 400)
      assert(C.loadViewUuid(base, "db", "v_spec") === uuid)

      // set-location is accepted and persists (commit.rs:385
      // ViewUpdate::SetLocation); a strict relocating client round-trips
      val setLoc = mapper.createObjectNode()
      setLoc.put("action", "set-location")
      setLoc.put("location", "/elsewhere/v_spec")
      assert(C.commitView(base, "db", "v_spec",
        extraUpdates = Seq(setLoc)) === 200)
      assert(C.loadViewLocation(base, "db", "v_spec") === "/elsewhere/v_spec")
      // ...and survives unrelated commits
      assert(C.commitView(base, "db", "v_spec",
        setProperties = Map("touch" -> "1")) === 200)
      assert(C.loadViewLocation(base, "db", "v_spec") === "/elsewhere/v_spec")

      // add-view-version WITHOUT set-current: version registered,
      // current definition unchanged (commit.rs ViewUpdate — legal)
      val addOnly = mapper.createObjectNode()
      addOnly.put("action", "add-view-version")
      val vv = addOnly.putObject("view-version")
      vv.put("version-id", 42)
      val reps42 = vv.putArray("representations")
      val rn42 = reps42.addObject()
      rn42.put("type", "sql"); rn42.put("dialect", "spark")
      rn42.put("sql", "SELECT 42 AS one")
      assert(C.commitView(base, "db", "v_spec",
        extraUpdates = Seq(addOnly)) === 200)
      assert(C.loadView(base, "db", "v_spec")._1.contains("SELECT 2"),
        "add-view-version alone must not switch the current version")
      // a LATER commit may set-current to that registered id
      val curTo42 = mapper.createObjectNode()
      curTo42.put("action", "set-current-view-version")
      curTo42.put("view-version-id", 42)
      assert(C.commitView(base, "db", "v_spec",
        extraUpdates = Seq(curTo42)) === 200)
      assert(C.loadView(base, "db", "v_spec")._1.contains("SELECT 42"))
    } finally server.stop()
  }

  test("REST materialized views: create with storage, staleness via lineage, refresh, drop") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergRestServer, IcebergRestClient => C}
    import graft.table.{GraftTable, Views}
    val wh = Files.createTempDirectory("graft-rest-mv").toString
    val server = new IcebergRestServer(wh).start()
    try {
      val base = s"http://127.0.0.1:${server.port}"
      C.createNamespace(base, "db")
      // a graft source table the MV aggregates
      val srcRoot = s"$wh/db/src_t"
      val df = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "n")
      val t = GraftTable.create(spark, srcRoot, df.schema)
      t.append(df)
      // engine computes the view's output schema; catalog creates the
      // storage table + view (reference create_materialized_view)
      val mvSql = "SELECT k, sum(n) AS total FROM src_t GROUP BY k"
      val schemaJson = spark.sql(
        "SELECT k, sum(n) AS total FROM (SELECT 'x' AS k, 1L AS n) GROUP BY k")
        .schema.json
      C.createMaterializedView(base, "db", "mv_totals", mvSql,
        Map("src_t" -> srcRoot), schemaJson)
      // never refreshed: stale, recorded lineage empty
      val (fresh0, storageLoc, rv0, rec0, cur0) =
        C.loadMaterializedView(base, "db", "mv_totals")
      assert(!fresh0 && rv0 === -1L && rec0.isEmpty)
      assert(cur0("src_t") === t.meta.currentSnapshotId.get)
      assert(storageLoc === s"$wh/db/mv_totals/storage")
      // the MV is visible as a plain view too (same endpoint family)
      assert(C.listViews(base, "db") === Seq("mv_totals"))
      // ENGINE-side refresh through the same warehouse (the catalog
      // never runs queries), then the catalog reports fresh
      Views.loadMaterializedView(spark, s"$wh/db/mv_totals").refresh()
      val (fresh1, _, rv1, rec1, cur1) =
        C.loadMaterializedView(base, "db", "mv_totals")
      assert(fresh1 && rv1 > 0 && rec1 === cur1)
      // re-query the materialization through the catalog's pointer
      val got = GraftTable.load(spark, storageLoc).scan()
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got === Set(("a", 3L), ("b", 3L)))
      // source moves -> staleness flips via lineage, no refresh needed
      t.append(Seq(("b", 10L)).toDF("k", "n"))
      val (fresh2, _, _, rec2, cur2) =
        C.loadMaterializedView(base, "db", "mv_totals")
      assert(!fresh2 && rec2("src_t") < cur2("src_t"))
      // refresh again catches up
      Views.loadMaterializedView(spark, s"$wh/db/mv_totals").refresh()
      assert(C.loadMaterializedView(base, "db", "mv_totals")._1)
      assert(GraftTable.load(spark, storageLoc).scan()
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
        Set(("a", 3L), ("b", 13L)))
      // drop removes view AND storage
      C.dropView(base, "db", "mv_totals")
      assert(C.listViews(base, "db") === Seq.empty)
      assert(!graft.table.Meta.exists(s"$wh/db/mv_totals/storage"))
    } finally server.stop()
  }

  test("REST commitTransaction is atomic across tables; conflicts roll back; views rename") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergRestServer, IcebergRestClient => C}
    val wh = Files.createTempDirectory("graft-rest-txn").toString
    val server = new IcebergRestServer(wh).start()
    try {
      val base = s"http://127.0.0.1:${server.port}"
      C.createNamespace(base, "db")
      IcebergWrite.create(spark, s"$wh/db/ta",
        (1L to 10L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
      IcebergWrite.create(spark, s"$wh/db/tb",
        (1L to 10L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1))
      val uuidA = C.tableUuid(base, "db", "ta")
      val uuidB = C.tableUuid(base, "db", "tb")
      def props(t: String): Map[String, String] = {
        import scala.jdk.CollectionConverters._
        graft.table.iceberg.IcebergMetadata.load(s"$wh/db/$t").properties
      }

      // happy path: both tables' property changes land in one call
      assert(C.commitTransaction(base, Seq(
        C.TableChange("db", "ta", Seq(C.requireUuid(uuidA)),
          Seq(C.setPropertiesUpdate(Map("txn" -> "1")))),
        C.TableChange("db", "tb", Seq(C.requireUuid(uuidB)),
          Seq(C.setPropertiesUpdate(Map("txn" -> "1")))))) === 204)
      assert(props("ta").get("txn") === Some("1"))
      assert(props("tb").get("txn") === Some("1"))

      // requirement failure on the SECOND table: nothing commits
      assert(C.commitTransaction(base, Seq(
        C.TableChange("db", "ta", Seq(C.requireUuid(uuidA)),
          Seq(C.setPropertiesUpdate(Map("txn" -> "2")))),
        C.TableChange("db", "tb",
          Seq(C.requireUuid("00000000-0000-0000-0000-000000000000")),
          Seq(C.setPropertiesUpdate(Map("txn" -> "2")))))) === 409)
      assert(props("ta").get("txn") === Some("1"), "requirement 409 must commit nothing")

      // mid-transaction CAS conflict: the same table twice makes the
      // second change's base stale after the first commits — the first
      // must ROLL BACK, leaving the table as before the transaction
      assert(C.commitTransaction(base, Seq(
        C.TableChange("db", "ta", Seq(C.requireUuid(uuidA)),
          Seq(C.setPropertiesUpdate(Map("txn" -> "3")))),
        C.TableChange("db", "ta", Seq(C.requireUuid(uuidA)),
          Seq(C.setPropertiesUpdate(Map("other" -> "x")))))) === 409)
      assert(props("ta").get("txn") === Some("1"),
        s"mid-transaction conflict must roll back, got ${props("ta")}")
      assert(!props("ta").contains("other"))

      // unknown table: 404, nothing commits
      assert(C.commitTransaction(base, Seq(
        C.TableChange("db", "ta", Seq(C.requireUuid(uuidA)),
          Seq(C.setPropertiesUpdate(Map("txn" -> "4")))),
        C.TableChange("db", "missing", Seq.empty, Seq.empty))) === 404)
      assert(props("ta").get("txn") === Some("1"))

      // rename_view: identity moves, definition intact
      C.createView(base, "db", "v_old", "SELECT id FROM src")
      C.renameView(base, "db", "v_old", "v_new")
      assert(C.listViews(base, "db") === Seq("v_new"))
      assert(C.loadView(base, "db", "v_new")._1.contains("SELECT id"))

      // spec evolution over the commit protocol: add-spec +
      // set-default-spec(-1) land atomically and persist
      val specNode = {
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        val u = m.createObjectNode()
        u.put("action", "add-spec")
        val sp = u.putObject("spec")
        sp.put("spec-id", 1)
        val fs = sp.putArray("fields")
        val f = fs.addObject()
        f.put("source-id", 1); f.put("field-id", 1000)
        f.put("name", "id_bucket"); f.put("transform", "bucket[4]")
        u
      }
      val setDefault = {
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        val u = m.createObjectNode()
        u.put("action", "set-default-spec"); u.put("spec-id", -1)
        u
      }
      assert(C.commitTransaction(base, Seq(
        C.TableChange("db", "tb", Seq(C.requireUuid(uuidB)),
          Seq(specNode, setDefault)))) === 204)
      val evolved = graft.table.iceberg.IcebergMetadata.load(s"$wh/db/tb")
      assert(evolved.specs.map(_.specId).sorted === Seq(0, 1))
      assert(evolved.defaultSpecId === 1)
      assert(evolved.specs.find(_.specId == 1).get
        .fields.head.transform === "bucket[4]")

      // namespace metadata: properties round-trip + RFC update response
      assert(C.namespaceProperties(base, "db") === Map.empty)
      val (up, rm0, ms0) = C.updateNamespaceProperties(base, "db",
        Map("owner" -> "etl", "comment" -> "demo"))
      assert(up.sorted === Seq("comment", "owner") && rm0.isEmpty && ms0.isEmpty)
      assert(C.namespaceProperties(base, "db") ===
        Map("owner" -> "etl", "comment" -> "demo"))
      val (_, rm, ms) = C.updateNamespaceProperties(base, "db",
        Map.empty, remove = Seq("comment", "nope"))
      assert(rm === Seq("comment") && ms === Seq("nope"))
      assert(C.namespaceProperties(base, "db") === Map("owner" -> "etl"))
      // a key in both updates AND removals is a 400, nothing changes
      assert(intercept[Exception] {
        C.updateNamespaceProperties(base, "db",
          Map("owner" -> "x"), remove = Seq("owner"))
      }.getMessage.contains("400"))
      assert(C.namespaceProperties(base, "db") === Map("owner" -> "etl"))
      // the props dot-file never leaks into table listings
      assert(!C.listTables(base, "db").exists(_.startsWith(".")))
    } finally server.stop()
  }

  test("nested types round-trip the real format: schema JSON, ids, scans") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    val df = Seq(
      (1L, ("a", 10), Seq(1.0, 2.0), Map("k1" -> 1L)),
      (2L, ("b", 20), Seq(3.0), Map("k2" -> 2L, "k3" -> 3L)))
      .toDF("id", "meta", "scores", "tags")
    val t = IcebergWrite.create(spark, loc, df)
    // schema survives the metadata.json round-trip structurally
    val m = graft.table.iceberg.IcebergMetadata.load(loc)
    val back = m.schema.toSpark
    assert(back("meta").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    assert(back("scores").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    assert(back("tags").dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
    // nested field ids are allocated above the top-level ids and
    // last-column-id covers them
    assert(m.lastColumnId > 4, s"nested ids not counted: ${m.lastColumnId}")
    // scans project into the nested structure
    val got = t.scan().selectExpr("id", "meta._2", "size(scores)", "size(tags)")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(got === Set((1L, 10, 2, 1), (2L, 20, 1, 2)))
    // a graft table with nested columns also EXPORTS and reads back
    val groot = tmp()
    val gt = graft.table.GraftTable.create(spark, groot, df.schema)
    gt.append(df)
    val dest = tmp()
    graft.table.iceberg.IcebergExport.export(spark, groot, dest)
    assert(IcebergTable.load(spark, dest).scan()
      .selectExpr("sum(meta._2)").collect()(0).getLong(0) === 30L)
    // exported metadata carries a name-mapping covering NESTED ids:
    // inner struct/list/map fields have no footer ids, so strict
    // foreign readers resolve them through this property
    val em = graft.table.iceberg.IcebergMetadata.load(dest)
    val nm = em.properties.get("schema.name-mapping.default")
    assert(nm.isDefined, "export must emit schema.name-mapping.default")
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(nm.get)
    def ids(n: com.fasterxml.jackson.databind.JsonNode): Set[Int] = {
      import scala.jdk.CollectionConverters._
      n.elements().asScala.flatMap { e =>
        Set(e.get("field-id").asInt()) ++
          Option(e.get("fields")).map(ids).getOrElse(Set.empty)
      }.toSet
    }
    val mapped = ids(tree)
    // every id in the schema (top-level AND nested) must be mapped
    assert((1 to em.lastColumnId).forall(mapped.contains),
      s"name mapping misses ids: ${(1 to em.lastColumnId).toSet -- mapped}")
    // the list element and map key/value entries use spec names
    assert(nm.get.contains("\"element\"") && nm.get.contains("\"key\"") &&
      nm.get.contains("\"value\""))
  }

  test("decimal single-value bounds: encode/decode round-trip, value-order pruning") {
    import graft.table.iceberg.IcebergTypes
    import org.apache.spark.sql.types.DecimalType
    val d = DecimalType(10, 2)
    // spec form: big-endian unscaled integer, minimal bytes
    assert(IcebergTypes.decodeToCanonical(d,
      IcebergTypes.encode(d, new java.math.BigDecimal("12345.67")))
      === Some("12345.67"))
    // scale normalization + negatives (two's complement)
    assert(IcebergTypes.decodeToCanonical(d,
      IcebergTypes.encode(d, new java.math.BigDecimal("-0.5")))
      === Some("-0.50"))
    // a decimal-column REAL table round-trips through write and scan
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    val df = Seq((1L, BigDecimal("10.50")), (2L, BigDecimal("9.75")))
      .toDF("id", "price")
      .select(col("id"), col("price").cast(d).as("price"))
    val t = IcebergWrite.create(spark, loc, df)
    assert(t.scan().count() === 2)
    assert(t.scan().agg(sum(col("price")).cast("string"))
      .collect()(0).getString(0) === "20.25")
  }

  test("REST bearer auth gates every endpoint; pagination pages stably") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergRestServer, IcebergRestClient => C}
    val wh = Files.createTempDirectory("graft-rest-auth").toString
    val server = new IcebergRestServer(wh, bearerToken = Some("s3cret"),
      oauthClients = Map("svc" -> "pw")).start()
    try {
      val base = s"http://127.0.0.1:${server.port}"
      // no credential -> 401 surfaces as a failed require
      C.bearerToken = None
      assert(intercept[IllegalArgumentException] {
        C.listNamespaces(base)
      }.getMessage.contains("401"))
      // wrong credential -> still 401
      C.bearerToken = Some("wrong")
      assert(intercept[IllegalArgumentException] {
        C.listNamespaces(base)
      }.getMessage.contains("401"))
      // the token endpoint itself needs no bearer: a client_credentials
      // grant returns the catalog token and installs it
      C.bearerToken = None
      assert(intercept[IllegalArgumentException] {
        C.authenticate(base, "svc", "WRONG")
      }.getMessage.contains("401"))
      val granted = C.authenticate(base, "svc", "pw")
      assert(granted === "s3cret" && C.bearerToken.contains("s3cret"))
      C.createNamespace(base, "db")
      for (i <- 1 to 5)
        IcebergWrite.create(spark, s"$wh/db/t$i",
          Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1))
      assert(C.listTables(base, "db").sorted === (1 to 5).map(i => s"t$i"))
      // pagination: 2 per page, 3 pages, same complete set
      assert(C.listTablesPaged(base, "db", pageSize = 2) ===
        (1 to 5).map(i => s"t$i"))
    } finally { C.bearerToken = None; server.stop() }
  }

  test("REST catalog serves discovery + metadata; client scans over HTTP metadata") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergRestServer, IcebergRestClient}
    val wh = Files.createTempDirectory("graft-rest").toString
    val server = new IcebergRestServer(wh).start()
    try {
      val base = s"http://127.0.0.1:${server.port}"
      IcebergRestClient.createNamespace(base, "db")
      assert(IcebergRestClient.listNamespaces(base).contains("db"))
      // a real-format table lands in the warehouse (any engine could
      // have written it); the REST layer only serves metadata
      val df = (1L to 300L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
      IcebergWrite.create(spark, s"$wh/db/t1", df)
      assert(IcebergRestClient.listTables(base, "db") === Seq("t1"))
      assert(IcebergRestClient.tableExists(base, "db", "t1"))
      // load over HTTP: scan plans entirely from the RESPONSE metadata
      val t = IcebergRestClient.loadTable(spark, base, "db", "t1")
      assert(t.scan().count() === 300)
      assert(t.scan().filter(col("id") > 200).count() === 100)
      // drop through the API
      IcebergRestClient.dropTable(base, "db", "t1")
      assert(!IcebergRestClient.tableExists(base, "db", "t1"))
      assert(IcebergRestClient.listTables(base, "db").isEmpty)

      // full commit protocol: create + append entirely over REST
      val schema = (1L to 3L).map(i => (i, s"r$i")).toDF("id", "v").schema
      IcebergRestClient.createTable(base, "db", "t2", schema)
      IcebergRestClient.appendViaRest(spark, base, "db", "t2",
        (1L to 100L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1))
      IcebergRestClient.appendViaRest(spark, base, "db", "t2",
        (101L to 150L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1))
      val t2 = IcebergRestClient.loadTable(spark, base, "db", "t2")
      assert(t2.scan().count() === 150)
      assert(t2.meta.snapshots.size === 2)
      // a stale commit (wrong assert-ref) must be rejected with 409
      val staleMeta = t2.meta.copy(currentSnapshotId = Some(999L))
      val staleSnap = IcebergWrite.prepareAppend(spark, staleMeta,
        (1L to 5L).map(i => (i, "x")).toDF("id", "v").coalesce(1))
      val err = intercept[IllegalArgumentException] {
        // assert-ref carries the stale id 999 -> server refuses
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val body = mapper.createObjectNode()
        val r = body.putArray("requirements").addObject()
        r.put("type", "assert-ref-snapshot-id"); r.put("ref", "main")
        r.put("snapshot-id", 999L)
        val add = body.putArray("updates").addObject()
        add.put("action", "add-snapshot")
        add.set("snapshot", graft.table.iceberg.IcebergMetadata.snapshotToNode(staleSnap))
        val resp = java.net.http.HttpClient.newHttpClient().send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"$base/v1/namespaces/db/tables/t2"))
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
              mapper.writeValueAsString(body))).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200, s"expected-409:${resp.statusCode()}")
      }
      assert(err.getMessage.contains("expected-409:409"))
      // table state unchanged after the refused commit
      assert(IcebergRestClient.loadTable(spark, base, "db", "t2")
        .scan().count() === 150)
    } finally server.stop()
  }

  test("commitAt pins the base version: a stale base cannot overwrite") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc, Seq((1L, "a")).toDF("id", "v"))
    // reader A loads and validates against this version...
    val (m, base) = IcebergMetadata.loadVersioned(loc)
    // ...writer B commits in between
    IcebergWrite.append(spark, loc, Seq((2L, "b")).toDF("id", "v"))
    // A's commit against the superseded base must FAIL, not overwrite
    assert(!IcebergMetadata.commitAt(loc, m, base))
    // B's snapshot is intact
    assert(IcebergTable.load(spark, loc).scan().count() === 2)
  }

  test("identity partition on timestamp column round-trips dir values") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-03-02 11:30:00")))
      .toDF("id", "ts")
    val t = IcebergWrite.create(spark, loc, df, partitionCols = Seq("ts"))
    assert(t.scan().count() === 2)
    val parts = t.plannedFiles().map(_._1.partition)
    assert(parts.forall(_.get("ts").exists(_ != null)))
  }

  test("timestamp and date bounds decode to canonical stat strings") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    val df = Seq(
      (1L, java.sql.Date.valueOf("2024-01-15"),
        java.sql.Timestamp.valueOf("2024-01-15 10:30:00")),
      (2L, java.sql.Date.valueOf("2024-06-30"),
        java.sql.Timestamp.valueOf("2024-06-30 23:59:59")))
      .toDF("id", "d", "ts")
    IcebergWrite.create(spark, loc, df.coalesce(1))
    val t = IcebergTable.load(spark, loc)
    val (_, stats, _) = t.plannedFiles().head
    assert(stats("d").min === "2024-01-15")
    assert(stats("d").max === "2024-06-30")
    assert(stats("ts").min === "2024-01-15 10:30:00")
    assert(stats("ts").max === "2024-06-30 23:59:59")
  }

  test("foreign Iceberg table as a streaming source: snapshot-tail ingest") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val loc = tmp()
    val df1 = (1L to 40L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1)
    IcebergWrite.create(spark, loc, df1)

    val out = loc + "-out"; val ckpt = loc + "-ckpt"
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(loc)
        .writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    drain()
    assert(spark.read.parquet(out).count() === 40L)

    // two more foreign appends; the resumed stream emits ONLY the tail
    IcebergWrite.append(spark, loc,
      (41L to 60L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    IcebergWrite.append(spark, loc,
      (61L to 70L).map(i => (i, s"c$i")).toDF("k", "v").coalesce(1))
    drain()
    val ks = spark.read.parquet(out).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks === (1L to 70L))
  }

  test("foreign stream admission control: one snapshot drains in bounded batches") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val loc = tmp()
    // one append snapshot carrying 8 files
    IcebergWrite.create(spark, loc,
      (1L to 80L).map(i => (i, s"a$i")).toDF("k", "v").repartition(8))
    val out = loc + "-out"
    val q = spark.readStream.format("graft")
      .option("maxFilesPerTrigger", "2").load(loc)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", loc + "-ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val ks = spark.read.parquet(out).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks === (1L to 80L))
    // the 8-file snapshot split into >= 4 checkpoint-resumable batches
    val commits = new java.io.File(loc + "-ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 4, s"expected >=4 bounded batches, got $commits")
  }

  test("foreign stream fails loudly on an overwrite snapshot") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val loc = tmp()
    val df1 = (1L to 20L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1)
    IcebergWrite.create(spark, loc, df1)
    val out = loc + "-out"; val ckpt = loc + "-ckpt"
    val q1 = spark.readStream.format("graft").load(loc)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q1.awaitTermination(120000)
    assert(spark.read.parquet(out).count() === 20L)

    (100L to 110L).map(i => (i, s"z$i")).toDF("k", "v").coalesce(1)
      .write.format("graft").mode("overwrite").save(loc)
    val q2 = spark.readStream.format("graft").load(loc)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => c.getMessage != null &&
        c.getMessage.contains("append-only streams cannot represent")))
  }

  test("rewrite compacts a foreign table and folds MoR deletes in") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    // many small files across two snapshots + an equality delete
    IcebergWrite.create(spark, loc,
      (1L to 400L).map(i => (i, s"a$i")).toDF("k", "v").repartition(6))
    IcebergWrite.append(spark, loc,
      (401L to 800L).map(i => (i, s"b$i")).toDF("k", "v").repartition(6))
    IcebergWrite.deleteEquality(spark, loc,
      Seq(5L, 700L).toDF("k"), Seq("k"))
    val t0 = IcebergTable.load(spark, loc)
    val preSnap = t0.meta.currentSnapshotId.get
    val want = t0.scan().count()
    assert(want === 798L)
    assert(t0.plannedFiles().size === 12)

    val (_, n) = IcebergWrite.rewrite(spark, loc)
    val t = IcebergTable.load(spark, loc)
    // row-preserving: same content, far fewer files
    assert(t.scan().count() === want)
    assert(t.scan().agg(sum("k")).collect()(0).getLong(0) ===
      (1L to 800L).sum - 5L - 700L)
    assert(t.plannedFiles().size === n && n < 12)
    // the replace snapshot absorbed the delete files: no delete
    // manifests remain in the new manifest list
    val ml = IcebergAvro.readManifestList(
      new org.apache.hadoop.fs.Path(t.meta.currentSnapshot.get.manifestList))
    assert(ml.forall(_.content === 0))
    assert(t.meta.currentSnapshot.get.operation === "replace")
    // older snapshots still time-travel (pre-rewrite content intact)
    assert(t.timeTravel(preSnap).count() === want)
  }

  test("CALL maintenance procedures reach an adopted real-format table") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 400L).map(i => (i, s"a$i")).toDF("k", "v").repartition(4))
    IcebergWrite.append(spark, loc,
      (401L to 800L).map(i => (i, s"b$i")).toDF("k", "v").repartition(2))
    IcebergWrite.deleteEquality(spark, loc, Seq(5L, 700L).toDF("k"), Seq("k"))

    val wh2 = Files.createTempDirectory("graft-icewh").toString
    spark.conf.set("spark.sql.catalog.ice_wh", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_wh.warehouse", wh2)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_wh.m")
    spark.sql(s"CALL ice_wh.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    // reads route through the pointer to the real-format reader
    assert(spark.sql("SELECT count(*) FROM ice_wh.m.t")
      .collect()(0).getLong(0) === 798L)

    // fold the outstanding equality delete into the data files
    val folded = spark.sql(
      "CALL ice_wh.system.rewrite_delete_files(table => 'm.t')").collect()
    assert(folded(0).getInt(0) === 1)
    val afterFold = IcebergTable.load(spark, loc)
    assert(afterFold.deleteEntries().isEmpty)
    assert(afterFold.scan().count() === 798L)
    val keptSnap = afterFold.meta.currentSnapshotId.get
    val nSnaps = afterFold.meta.snapshots.size
    assert(nSnaps === 4) // create, append, delete, replace

    // expire everything but the replace tip; retained still time-travels
    val exp = spark.sql("CALL ice_wh.system.expire_snapshots(" +
      "table => 'm.t', keep_last => 1)").collect()
    assert(exp(0).getInt(0) === 4 && exp(0).getInt(1) === 1)
    val expired = IcebergTable.load(spark, loc)
    assert(expired.meta.snapshots.map(_.snapshotId) === Seq(keptSnap))
    assert(expired.timeTravel(keptSnap).count() === 798L)

    // vacuum deletes the files only expired snapshots referenced:
    // 6 pre-rewrite data files + 1 delete file
    val removed = spark.sql("CALL ice_wh.system.vacuum(" +
      "table => 'm.t', older_than_ms => 0)").collect()
    assert(removed(0).getInt(0) === 7)
    // a real-format reader still opens the table and sees every row
    val after = IcebergTable.load(spark, loc)
    assert(after.scan().count() === 798L)
    assert(after.scan().agg(sum("k")).collect()(0).getLong(0) ===
      (1L to 800L).sum - 5L - 700L)
    // the expired snapshots' manifest lists + manifests are now
    // orphaned avro files: dry_run lists them, a real run sweeps them
    val dry = spark.sql("CALL ice_wh.system.remove_orphan_files(" +
      "table => 'm.t', older_than_ms => 0, dry_run => true)")
      .collect().map(_.getString(0))
    assert(dry.nonEmpty && dry.forall(p =>
      p.startsWith("metadata/") && p.endsWith(".avro")))
    spark.sql("CALL ice_wh.system.remove_orphan_files(" +
      "table => 'm.t', older_than_ms => 0, dry_run => false)").collect()
    assert(spark.sql("CALL ice_wh.system.remove_orphan_files(" +
      "table => 'm.t', older_than_ms => 0, dry_run => true)")
      .collect().isEmpty)
    // and the swept table still reads end to end
    assert(IcebergTable.load(spark, loc).scan().count() === 798L)

    // branch/tag/fast-forward work on foreign tables (metadata refs)
    spark.sql("CALL ice_wh.system.create_branch(" +
      "table => 'm.t', branch => 'dev')").collect()
    spark.sql(s"CALL ice_wh.system.create_tag(" +
      s"table => 'm.t', tag => 'v1', snapshot_id => $keptSnap)").collect()
    val mRefs = IcebergMetadata.load(loc).refs
    assert(mRefs.get("dev") === Some(keptSnap) &&
      mRefs.get("v1") === Some(keptSnap))
    spark.sql("CALL ice_wh.system.fast_forward(" +
      "table => 'm.t', branch => 'audit2', to => 'main')").collect()
    assert(IcebergMetadata.load(loc).refs.get("audit2") === Some(keptSnap))

    // cherrypick: stage an append, roll main back, re-apply it
    IcebergWrite.append(spark, loc,
      Seq((9001L, "x"), (9002L, "y")).toDF("k", "v"))
    val staged = IcebergMetadata.load(loc).currentSnapshotId.get
    spark.sql(s"CALL ice_wh.system.rollback_to_snapshot(" +
      s"table => 'm.t', snapshot_id => $keptSnap)").collect()
    assert(IcebergTable.load(spark, loc).scan().count() === 798L)
    spark.sql(s"CALL ice_wh.system.cherrypick_snapshot(" +
      s"table => 'm.t', snapshot_id => $staged)").collect()
    val afterPick = IcebergTable.load(spark, loc)
    assert(afterPick.scan().count() === 800L)
    assert(afterPick.scan().filter(col("k") > 9000L).count() === 2L)

    // rewrite_manifests consolidates the append-per-commit manifest
    // pileup into one data manifest per spec, metadata-only: same
    // rows, same data files, older snapshots still time-travel
    val filesBefore = IcebergTable.load(spark, loc).plannedFiles()
      .map(_._1.filePath).toSet
    val mfsBefore = IcebergAvro.readManifestList(new HPath(
      IcebergMetadata.load(loc).currentSnapshot.get.manifestList))
      .count(_.content == 0)
    assert(mfsBefore > 1) // the history above appended several times
    val rewritten = spark.sql(
      "CALL ice_wh.system.rewrite_manifests(table => 'm.t')").collect()
    assert(rewritten.head.getInt(0) === mfsBefore)
    val mAfterRm = IcebergMetadata.load(loc)
    val mfsAfter = IcebergAvro.readManifestList(new HPath(
      mAfterRm.currentSnapshot.get.manifestList)).filter(_.content == 0)
    assert(mfsAfter.size === 1)
    val tAfterRm = IcebergTable.load(spark, loc)
    assert(tAfterRm.scan().count() === 800L)
    assert(tAfterRm.plannedFiles().map(_._1.filePath).toSet === filesBefore)
    // the pre-consolidation snapshot still reads through its own list
    assert(tAfterRm.scan(Some(staged)).count() === 800L)
    // and a second call is a no-op (already one manifest)
    assert(spark.sql("CALL ice_wh.system.rewrite_manifests(table => 'm.t')")
      .collect().head.getInt(0) === 0)
  }

  test("CALL rewrite_data_files compacts an adopted real-format table") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 600L).map(i => (i, s"a$i")).toDF("k", "v").repartition(6))
    val wh2 = Files.createTempDirectory("graft-icewh2").toString
    spark.conf.set("spark.sql.catalog.ice_wh2", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_wh2.warehouse", wh2)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_wh2.m")
    spark.sql(s"CALL ice_wh2.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    val rw = spark.sql(
      "CALL ice_wh2.system.rewrite_data_files(table => 'm.t')").collect()
    assert(rw(0).getInt(0) === 6 && rw(0).getInt(1) === 1)
    val t = IcebergTable.load(spark, loc)
    assert(t.plannedFiles().size === 1)
    assert(t.scan().count() === 600L)
    // rollback works on foreign tables too (pure metadata)
    val preSnap = t.meta.snapshots.map(_.snapshotId).min
    spark.sql(s"CALL ice_wh2.system.rollback_to_snapshot(" +
      s"table => 'm.t', snapshot_id => $preSnap)").collect()
    assert(IcebergTable.load(spark, loc).plannedFiles().size === 6)
    // sort-order evolution lands as real-format metadata the write
    // paths cluster by
    spark.sql("CALL ice_wh2.system.set_sort_order(" +
      "table => 'm.t', order => 'k')").collect()
    val mSo = IcebergMetadata.load(loc)
    assert(mSo.defaultSortOrderId > 0 &&
      mSo.defaultSortFields.map(_.direction) === Seq("asc"))
    // zorder has no foreign path: clear refusal
    val ex = intercept[Exception] {
      spark.sql("CALL ice_wh2.system.rewrite_data_files(" +
        "table => 'm.t', strategy => 'zorder', sort_columns => 'k')").collect()
    }
    def causes(t2: Throwable): Seq[Throwable] =
      if (t2 == null) Seq.empty else t2 +: causes(t2.getCause)
    assert(causes(ex).exists(c => c.getMessage != null &&
      c.getMessage.contains("not supported on")))
  }

  test("CALL add_files and analyze_table on an adopted real-format table") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 100L).map(i => (i, s"a${i % 7}")).toDF("k", "v"))
    // foreign id-less parquet written by a plain Spark job
    val src = Files.createTempDirectory("graft-import").toString + "/files"
    (101L to 160L).map(i => (i, s"b${i % 7}")).toDF("k", "v")
      .repartition(3).write.parquet(src)

    val wh4 = Files.createTempDirectory("graft-icewh4").toString
    spark.conf.set("spark.sql.catalog.ice_wh4", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_wh4.warehouse", wh4)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_wh4.m")
    spark.sql(s"CALL ice_wh4.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    val added = spark.sql(s"CALL ice_wh4.system.add_files(" +
      s"table => 'm.t', source_dir => '$src')").collect()
    assert(added(0).getLong(0) === 3L && added(0).getLong(1) === 60L)

    val t = IcebergTable.load(spark, loc)
    assert(t.scan().count() === 160L)
    assert(t.scan().agg(sum("k")).collect()(0).getLong(0) === (1L to 160L).sum)
    // footer stats made it into the manifests: a key predicate prunes
    // the imported files (k >= 101 lives only there)
    assert(t.plannedFiles(filters = Seq(("k", ">", "100"))).size === 3)
    // the name mapping for id-less footers is recorded per the spec
    assert(IcebergMetadata.load(loc)
      .properties("schema.name-mapping.default").contains("\"field-id\":1"))
    // the import commits as an ordinary append: the changelog sees it
    val ch = t.changesBetween(None).collect()
    assert(ch.count(_.getString(2) == "insert") === 160)

    val ndv = spark.sql("CALL ice_wh4.system.analyze_table(table => 'm.t')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(ndv.keySet === Set("k", "v"))
    assert(ndv("k") > 140L && ndv("k") < 180L) // approx NDV of 160
    assert(ndv("v") === 14L) // a0..a6 ++ b0..b6
  }

  test("metadata tables serve adopted real-format tables through SQL") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 40L).map(i => (i, s"a$i")).toDF("k", "v").repartition(2))
    IcebergWrite.append(spark, loc,
      (41L to 60L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    IcebergWrite.deleteEquality(spark, loc, Seq(5L).toDF("k"), Seq("k"))
    val wh5 = Files.createTempDirectory("graft-icewh5").toString
    spark.conf.set("spark.sql.catalog.ice_wh5", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_wh5.warehouse", wh5)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_wh5.m")
    spark.sql(s"CALL ice_wh5.system.register_table(table => 'm.t', " +
      s"location => '$loc')")

    // files: the table's live data files + 1 equality-delete file
    val nData = IcebergTable.load(spark, loc).plannedFiles().size
    val files = spark.sql("SELECT * FROM ice_wh5.m.t.files").collect()
    assert(files.count(_.getInt(3) == 0) === nData)
    assert(files.count(_.getInt(3) == 2) === 1)
    assert(files.forall(_.getLong(5) > 0L))
    // snapshots: create, append, delete in commit order; the two
    // appends added every live data file between them
    val snaps = spark.sql(
      "SELECT operation, added_files FROM ice_wh5.m.t.snapshots " +
      "ORDER BY committed_at, snapshot_id").collect()
    assert(snaps.map(_.getString(0)).toSeq === Seq("append", "append", "delete"))
    assert(snaps.take(2).map(_.getInt(1)).sum === nData)
    assert(snaps(2).getInt(1) === 1) // the delete file
    // history: all three on the current ancestry
    assert(spark.sql("SELECT * FROM ice_wh5.m.t.history " +
      "WHERE is_current_ancestor").count() === 3L)
    // refs + delete_files + manifests render
    assert(spark.sql("SELECT * FROM ice_wh5.m.t.refs " +
      "WHERE name = 'main'").count() === 1L)
    val dels = spark.sql("SELECT equality_columns FROM " +
      "ice_wh5.m.t.delete_files").collect()
    assert(dels.length === 1 && dels(0).getString(0) === "k")
    assert(spark.sql("SELECT * FROM ice_wh5.m.t.manifests").count() >= 3L)
    val log = spark.sql("SELECT version, latest_snapshot_id FROM " +
      "ice_wh5.m.t.metadata_log_entries ORDER BY version").collect()
    assert(log.length >= 3)
    assert(log.last.getLong(1) ===
      IcebergMetadata.load(loc).currentSnapshotId.get)
    // entries + all_files agree on the live data population
    assert(spark.sql("SELECT * FROM ice_wh5.m.t.all_files WHERE live")
      .count() === nData.toLong + 1L)
    assert(spark.sql(
      "SELECT sum(records) FROM ice_wh5.m.t.entries " +
      "WHERE status = 1 AND content = 0").collect()(0).getLong(0) === 60L)
  }

  test("changelog over an adopted real-format table emits net changes") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 10L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    val s1 = IcebergMetadata.load(loc).currentSnapshotId.get
    IcebergWrite.append(spark, loc,
      (11L to 20L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    val s2 = IcebergMetadata.load(loc).currentSnapshotId.get
    IcebergWrite.deleteEquality(spark, loc, Seq(5L, 15L).toDF("k"), Seq("k"))
    val s3 = IcebergMetadata.load(loc).currentSnapshotId.get
    IcebergWrite.rewrite(spark, loc) // replace: row-preserving, silent
    val s4 = IcebergMetadata.load(loc).currentSnapshotId.get
    // positional delete of slot 0 of the rewritten file
    val rewritten = IcebergTable.load(spark, loc).plannedFiles().head._1.filePath
    IcebergWrite.deletePositional(spark, loc,
      Seq((rewritten, 0L)).toDF("file_path", "pos"))
    val s5 = IcebergMetadata.load(loc).currentSnapshotId.get
    // CoW overwrite replaces the whole content
    (100L to 104L).map(i => (i, s"c$i")).toDF("k", "v").coalesce(1)
      .write.format("graft").mode("overwrite").save(loc)

    val t = IcebergTable.load(spark, loc)
    val ch = t.changesBetween(None).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // per-commit slices
    assert(ch.count(x => x._3 == "insert" && x._4 == s1) === 10)
    assert(ch.count(x => x._3 == "insert" && x._4 == s2) === 10)
    assert(ch.filter(x => x._4 == s3).map(x => (x._1, x._3)).sorted.toSeq
      === Seq((5L, "delete"), (15L, "delete")))
    assert(!ch.exists(_._4 == s4), "the replace rewrite emitted changes")
    assert(ch.filter(_._4 == s5).map(_._3).toSeq === Seq("delete"))
    // exceptAll oracle: replaying the changelog rebuilds the table
    val replayed = ch.filter(_._3 == "insert").map(x => (x._1, x._2))
      .diff(ch.filter(_._3 == "delete").map(x => (x._1, x._2)).toSeq)
    assert(replayed.sorted.toSeq === t.scan().collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq)

    // bounded sub-range sees only its commits
    assert(t.changesBetween(Some(s2), Some(s4)).collect()
      .map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
      === Seq((5L, "delete"), (15L, "delete")))
    // a non-ancestor start refuses
    val ex = intercept[IllegalArgumentException] {
      t.changesBetween(Some(999999L)).collect()
    }
    assert(ex.getMessage.contains("not an ancestor"))

    // ... and the same surface through CALL create_changelog_view on
    // a REGISTERED foreign table
    val wh3 = Files.createTempDirectory("graft-icewh3").toString
    spark.conf.set("spark.sql.catalog.ice_wh3", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_wh3.warehouse", wh3)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_wh3.m")
    spark.sql(s"CALL ice_wh3.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    val res = spark.sql("CALL ice_wh3.system.create_changelog_view(" +
      "table => 'm.t', view_name => 'foreign_changes')").collect()
    assert(res(0).getLong(1) === ch.length.toLong)
    assert(spark.sql(
      "SELECT count(*) FROM foreign_changes WHERE _change_type = 'delete'")
      .collect()(0).getLong(0) === ch.count(_._3 == "delete").toLong)
  }

  test("SQL DELETE / UPDATE / MERGE on an adopted real-format table") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 100L).map(i => (i, s"a$i", i * 10L)).toDF("k", "v", "amt")
        .repartition(3))
    IcebergWrite.append(spark, loc,
      (101L to 200L).map(i => (i, s"b$i", i * 10L)).toDF("k", "v", "amt")
        .repartition(2))
    val wh = Files.createTempDirectory("graft-icerl").toString
    spark.conf.set("spark.sql.catalog.ice_rl", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_rl.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_rl.m")
    spark.sql(s"CALL ice_rl.system.register_table(table => 'm.t', " +
      s"location => '$loc')")

    // --- DELETE: merge-on-read position deletes, one real snapshot
    spark.sql("DELETE FROM ice_rl.m.t WHERE k % 10 = 0")
    assert(spark.sql("SELECT count(*) FROM ice_rl.m.t")
      .collect()(0).getLong(0) === 180L)
    val t1 = IcebergTable.load(spark, loc)
    // the binary interop reader (a walk any engine could do) folds the
    // delete manifest: same count, the hidden keys gone
    assert(t1.scan().count() === 180L)
    assert(t1.scan().filter(col("k") % 10 === 0).count() === 0L)
    val sDel = t1.meta.currentSnapshotId.get
    assert(t1.meta.currentSnapshot.get.operation === "delete")
    val mlDel = IcebergAvro.readManifestList(
      new HPath(t1.meta.currentSnapshot.get.manifestList))
    assert(mlDel.exists(_.content === 1),
      "DELETE must commit a v2 delete manifest")
    assert(mlDel.count(_.content === 0) === 2,
      "the previous data manifests (one per append snapshot) carry forward")
    // the changelog emits exactly the hidden rows
    val chDel = t1.changesBetween(None).collect()
      .filter(r => r.getAs[Long]("_commit_snapshot_id") == sDel)
    assert(chDel.length === 20 &&
      chDel.forall(r => r.getAs[String]("_change_type") == "delete" &&
        r.getAs[Long]("k") % 10 == 0))

    // --- UPDATE: position-delete old slots + new rows, ONE snapshot
    spark.sql("UPDATE ice_rl.m.t SET v = 'upd', amt = amt + 1 WHERE k <= 5")
    assert(spark.sql("SELECT count(*) FROM ice_rl.m.t")
      .collect()(0).getLong(0) === 180L)
    assert(spark.sql(
      "SELECT count(*) FROM ice_rl.m.t WHERE k <= 5 AND v = 'upd'")
      .collect()(0).getLong(0) === 5L)
    val t2 = IcebergTable.load(spark, loc)
    // IcebergTable.meta reloads per access: compare CAPTURED counts
    assert(t2.meta.snapshots.size === 4,
      "UPDATE must land as one snapshot (create+append+delete+update)")
    assert(t2.meta.currentSnapshot.get.operation === "overwrite")
    val mlUpd = IcebergAvro.readManifestList(
      new HPath(t2.meta.currentSnapshot.get.manifestList))
    val own = mlUpd.filter(_.addedSnapshotId == t2.meta.currentSnapshotId.get)
    assert(own.exists(_.content === 0) && own.exists(_.content === 1),
      "UPDATE snapshot must add a data manifest AND a delete manifest")
    // interop reader sees the updated values
    assert(t2.scan().filter(col("k") <= 5)
      .agg(sum("amt")).collect()(0).getLong(0) ===
      (1L to 5L).map(_ * 10L + 1L).sum)
    assert(t2.scan().count() === 180L)

    // --- MERGE: matched rows update, unmatched insert — one snapshot
    Seq((7L, 777L), (300L, 3000L), (301L, 3010L)).toDF("k", "namt")
      .createOrReplaceTempView("rl_merge_src")
    spark.sql("""MERGE INTO ice_rl.m.t t USING rl_merge_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET amt = s.namt
      WHEN NOT MATCHED THEN INSERT (k, v, amt) VALUES (s.k, 'ins', s.namt)""")
    assert(spark.sql("SELECT count(*) FROM ice_rl.m.t")
      .collect()(0).getLong(0) === 182L)
    assert(spark.sql("SELECT amt FROM ice_rl.m.t WHERE k = 7")
      .collect()(0).getLong(0) === 777L)
    assert(spark.sql(
      "SELECT count(*) FROM ice_rl.m.t WHERE v = 'ins'")
      .collect()(0).getLong(0) === 2L)
    val t3 = IcebergTable.load(spark, loc)
    assert(t3.scan().count() === 182L)
    assert(t3.meta.snapshots.size === 5,
      "MERGE must land as one snapshot")

    // --- full metadata walk another engine could do: every snapshot
    // chains, the version-hint resolves, all manifests open
    val m = IcebergMetadata.load(loc)
    assert(m.currentSnapshotId === m.refs.get("main"))
    m.snapshots.foreach { s =>
      IcebergAvro.readManifestList(new HPath(s.manifestList)).foreach { mf =>
        assert(IcebergAvro.readManifest(new HPath(mf.path)).nonEmpty)
      }
    }
    // a concurrent appender interleaving with row-level commits keeps
    // every snapshot (the CAS'd commitRetry path)
    IcebergWrite.append(spark, loc,
      Seq((400L, "z", 4000L)).toDF("k", "v", "amt"))
    assert(IcebergTable.load(spark, loc).scan().count() === 183L)
  }

  test("row-level SQL routes new rows through transforms on a partitioned adopted table") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    // identity-partitioned on a string dim — the delta writer must
    // route replacement rows into partition dirs and the manifests
    // must carry the typed partition structs
    IcebergWrite.createWithSpec(spark, loc,
      (1L to 60L).map(i => (i, s"d${i % 3}", i * 10L)).toDF("k", "d", "amt"),
      Seq("d" -> "identity"))
    val wh = Files.createTempDirectory("graft-icerlp").toString
    spark.conf.set("spark.sql.catalog.ice_rlp", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_rlp.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_rlp.m")
    spark.sql(s"CALL ice_rlp.system.register_table(table => 'm.t', " +
      s"location => '$loc')")

    spark.sql("UPDATE ice_rlp.m.t SET amt = amt * 100 WHERE k % 20 = 0")
    assert(spark.sql("SELECT count(*) FROM ice_rlp.m.t")
      .collect()(0).getLong(0) === 60L)
    assert(spark.sql("SELECT sum(amt) FROM ice_rlp.m.t WHERE k % 20 = 0")
      .collect()(0).getLong(0) === Seq(20L, 40L, 60L).map(_ * 1000L).sum)
    val t = IcebergTable.load(spark, loc)
    assert(t.scan().count() === 60L)
    // the UPDATE's own data manifest carries typed partition values
    val snap = t.meta.currentSnapshot.get
    val ml = IcebergAvro.readManifestList(new HPath(snap.manifestList))
    val ownData = ml.filter(mf =>
      mf.addedSnapshotId == t.meta.currentSnapshotId.get && mf.content == 0)
    assert(ownData.nonEmpty)
    val entries = ownData.flatMap(mf =>
      IcebergAvro.readManifest(new HPath(mf.path)))
    assert(entries.nonEmpty && entries.forall(e =>
      e.partition.get("d").exists(v => v != null &&
        String.valueOf(v).startsWith("d"))),
      s"partition structs missing: ${entries.map(_.partition)}")
    // partition pruning still bites after the row-level commit
    val pruned = t.plannedFiles(None, Seq(("d", "=", "d0")))
    assert(pruned.size < t.plannedFiles().size)
    // the delta's delete manifest references a REAL unpartitioned spec
    // (registered on demand): stamping the partitioned default spec id
    // on an empty partition struct would make foreign readers decode
    // the manifest against the wrong partition type
    val meta1 = IcebergMetadata.load(loc)
    val unpart = meta1.specs.filter(_.fields.isEmpty)
    assert(unpart.size === 1, s"expected one unpartitioned spec, " +
      s"got ${meta1.specs.map(sp => (sp.specId, sp.fields.size))}")
    val delMfs = IcebergAvro.readManifestList(
      new HPath(meta1.currentSnapshot.get.manifestList))
      .filter(_.content == 1)
    assert(delMfs.nonEmpty &&
      delMfs.forall(_.specId == unpart.head.specId),
      s"delete manifests must carry the unpartitioned spec id, " +
        s"got ${delMfs.map(_.specId)} want ${unpart.head.specId}")
    // DELETE on the partitioned table folds through the same reader
    spark.sql("DELETE FROM ice_rlp.m.t WHERE d = 'd1'")
    assert(spark.sql("SELECT count(*) FROM ice_rlp.m.t")
      .collect()(0).getLong(0) === 40L)
    assert(IcebergTable.load(spark, loc).scan().count() === 40L)
  }

  test("copy-on-write row-level SQL swaps exactly the candidate files on an adopted table") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    // files hold disjoint key ranges, so the UPDATE's candidate set is
    // a strict subset — the CoW swap must leave the others untouched
    IcebergWrite.create(spark, loc,
      (1L to 300L).map(i => (i, s"a$i", i * 10L)).toDF("k", "v", "amt")
        .repartitionByRange(6, col("k")))
    // opt into Iceberg's CoW mode via the table property
    IcebergMetadata.commitRetry(loc)(m => m.copy(properties =
      m.properties + ("write.update.mode" -> "copy-on-write")
        + ("write.delete.mode" -> "copy-on-write")))
    val wh = Files.createTempDirectory("graft-icecow").toString
    spark.conf.set("spark.sql.catalog.ice_cow", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_cow.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_cow.m")
    spark.sql(s"CALL ice_cow.system.register_table(table => 'm.t', " +
      s"location => '$loc')")

    val before = IcebergTable.load(spark, loc).plannedFiles()
      .map(_._1.filePath).toSet
    assert(before.size === 6)

    spark.sql("UPDATE ice_cow.m.t SET amt = amt + 1 WHERE k <= 50")
    val t1 = IcebergTable.load(spark, loc)
    val after = t1.plannedFiles().map(_._1.filePath).toSet
    // no delete manifests: CoW rewrote the candidates instead
    assert(t1.deleteEntries().isEmpty,
      "copy-on-write must not commit delete files")
    assert(t1.meta.currentSnapshot.get.operation === "overwrite")
    // untouched files survive by identity; candidates were swapped
    val kept = before.intersect(after)
    assert(kept.nonEmpty && kept.size < before.size,
      s"expected a partial swap, kept=${kept.size} of ${before.size}")
    // content exact through the binary interop reader
    assert(t1.scan().count() === 300L)
    assert(t1.scan().filter(col("k") <= 50)
      .agg(sum("amt")).collect()(0).getLong(0) ===
      (1L to 50L).map(_ * 10L + 1L).sum)
    assert(t1.scan().filter(col("k") > 50)
      .agg(sum("amt")).collect()(0).getLong(0) ===
      (51L to 300L).map(_ * 10L).sum)

    // CoW DELETE drops whole rows by rewriting candidates, no deletes
    spark.sql("DELETE FROM ice_cow.m.t WHERE k > 280")
    val t2 = IcebergTable.load(spark, loc)
    assert(t2.deleteEntries().isEmpty)
    assert(t2.scan().count() === 280L)
    assert(spark.sql("SELECT count(*) FROM ice_cow.m.t")
      .collect()(0).getLong(0) === 280L)
    // time travel still serves the pre-CoW content
    val firstSnap = t2.meta.snapshots.head.snapshotId
    assert(t2.timeTravel(firstSnap).count() === 300L)
    // changelog over the CoW commits emits NET changes only
    val ch = t2.changesBetween(None).collect()
    val updSnap = t2.meta.snapshots.find(_.operation == "overwrite").get
    val updChanges = ch.filter(r =>
      r.getAs[Long]("_commit_snapshot_id") == updSnap.snapshotId)
    assert(updChanges.forall(r => r.getAs[Long]("k") <= 50),
      "carryover rows of rewritten files must cancel in the changelog")

    // CoW MERGE: matched rows update and unmatched rows insert through
    // the same candidate-file swap, still with no delete files
    IcebergMetadata.commitRetry(loc)(m => m.copy(properties =
      m.properties + ("write.merge.mode" -> "copy-on-write")))
    spark.sql("MERGE INTO ice_cow.m.t t USING (SELECT id AS k, " +
      "concat('m', id) AS v, id * 100 AS amt FROM range(271, 302)) s " +
      "ON t.k = s.k WHEN MATCHED THEN UPDATE SET amt = s.amt " +
      "WHEN NOT MATCHED THEN INSERT *")
    val t3 = IcebergTable.load(spark, loc)
    assert(t3.deleteEntries().isEmpty,
      "copy-on-write MERGE must not commit delete files")
    assert(t3.meta.currentSnapshot.get.operation === "overwrite")
    assert(t3.scan().count() === 301L)
    assert(t3.scan().agg(sum("amt")).collect()(0).getLong(0) ===
      (1L to 50L).map(_ * 10L + 1L).sum + (51L to 270L).map(_ * 10L).sum +
        (271L to 301L).map(_ * 100L).sum)
  }

  test("pure-equality SQL DELETE on an adopted table commits metadata-only") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 200L).map(i => (i, s"d${i % 4}", i * 10L)).toDF("k", "d", "amt")
        .repartition(4))
    val wh = Files.createTempDirectory("graft-iceeq").toString
    spark.conf.set("spark.sql.catalog.ice_eq", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_eq.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_eq.m")
    spark.sql(s"CALL ice_eq.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    val dataFilesBefore = IcebergTable.load(spark, loc)
      .plannedFiles().map(_._1.filePath).toSet

    // IN-list: one EQUALITY delete file, no data scan, no data write
    spark.sql("DELETE FROM ice_eq.m.t WHERE k IN (5, 50, 500)")
    val t1 = IcebergTable.load(spark, loc)
    val dels1 = t1.deleteEntries()
    assert(dels1.map(_._1).count(_.content == 2) === 1,
      "IN-list DELETE must commit one equality delete file")
    assert(t1.plannedFiles().map(_._1.filePath).toSet === dataFilesBefore,
      "metadata-only delete must not touch data files")
    assert(t1.meta.currentSnapshot.get.operation === "delete")
    assert(t1.scan().count() === 198L) // 5 and 50 exist, 500 does not
    assert(spark.sql("SELECT count(*) FROM ice_eq.m.t")
      .collect()(0).getLong(0) === 198L)

    // multi-column AND = a single multi-column tuple
    spark.sql("DELETE FROM ice_eq.m.t WHERE k = 8 AND d = 'd0'")
    val t2 = IcebergTable.load(spark, loc)
    assert(t2.scan().count() === 197L)
    assert(t2.deleteEntries().map(_._1).count(_.content == 2) === 2)
    // ...and a non-matching tuple deletes nothing (8 is d0, not d1)
    spark.sql("DELETE FROM ice_eq.m.t WHERE k = 12 AND d = 'd1'")
    assert(IcebergTable.load(spark, loc).scan().count() === 197L)

    // rows appended AFTER an equality delete keep their keys visible
    // (the delete is sequence-scoped to earlier data)
    spark.sql("INSERT INTO ice_eq.m.t VALUES (5, 'd1', 51)")
    assert(spark.sql("SELECT count(*) FROM ice_eq.m.t WHERE k = 5")
      .collect()(0).getLong(0) === 1L)

    // an untranslatable condition still deletes through the row-level
    // path (position deletes), results exact
    spark.sql("DELETE FROM ice_eq.m.t WHERE k % 7 = 0 AND amt > 100")
    val want = (1L to 200L).filterNot(Set(5L, 50L, 8L))
      .count(k => !(k % 7 == 0 && k * 10 > 100)) + 1 // +1 re-inserted k=5
    assert(spark.sql("SELECT count(*) FROM ice_eq.m.t")
      .collect()(0).getLong(0) === want.toLong)
  }

  test("concurrent SQL INSERT and delta DELETE on an adopted table keep every snapshot") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v").repartition(2))
    val wh = Files.createTempDirectory("graft-icecc").toString
    spark.conf.set("spark.sql.catalog.ice_cc", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_cc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_cc.m")
    spark.sql(s"CALL ice_cc.system.register_table(table => 'm.t', " +
      s"location => '$loc')")

    // 4 inserts race 4 delta deletes (length() keeps the condition off
    // the metadata path, so each delete runs scan -> position-delete
    // commit); the CAS'd commitRetry must serialize them without a
    // lost snapshot in either direction
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ins = new Thread(() => try {
      (1 to 4).foreach { i =>
        spark.sql(s"INSERT INTO ice_cc.m.t VALUES (${1000 + i}, 'ins$i')")
      }
    } catch { case t: Throwable => errors.add(t) })
    val del = new Thread(() => try {
      (0 until 4).foreach { i =>
        val lo = i * 50 + 1; val hi = i * 50 + 10
        spark.sql(s"DELETE FROM ice_cc.m.t WHERE k >= $lo AND k <= $hi " +
          "AND length(v) >= 1")
      }
    } catch { case t: Throwable => errors.add(t) })
    ins.start(); del.start(); ins.join(120000); del.join(120000)
    assert(errors.isEmpty, s"concurrent commit failed: ${errors.peek()}")

    val m = IcebergMetadata.load(loc)
    // create + 4 appends + 4 deletes, no snapshot lost to a race
    assert(m.snapshots.size === 9, s"expected 9 snapshots, got " +
      s"${m.snapshots.map(s => (s.snapshotId, s.operation))}")
    // single parent chain from the tip back to the create
    val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
    var cur = m.currentSnapshotId
    var chain = 0
    while (cur.isDefined) { chain += 1; cur = byId(cur.get).parentId }
    assert(chain === 9, "parent chain must cover every commit")
    // content: 200 - 40 deleted + 4 inserted; deletes hid the right keys
    val t = IcebergTable.load(spark, loc)
    assert(t.scan().count() === 164L)
    assert(spark.sql("SELECT count(*) FROM ice_cc.m.t WHERE k > 1000")
      .collect()(0).getLong(0) === 4L)
    assert(t.scan().filter(col("k") % 50 === 5).count() === 0L)
  }

  test("rewrite_position_deletes consolidates MoR delete files on an adopted table") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 120L).map(i => (i, s"v$i", i * 10L)).toDF("k", "v", "amt")
        .repartition(3))
    val wh = Files.createTempDirectory("graft-iceprw").toString
    spark.conf.set("spark.sql.catalog.ice_prw", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_prw.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_prw.m")
    spark.sql(s"CALL ice_prw.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    // three delta statements -> three position-delete files; plus one
    // EQUALITY delete, which consolidation must leave alone
    spark.sql("DELETE FROM ice_prw.m.t WHERE k % 10 = 1 AND length(v) >= 1")
    spark.sql("UPDATE ice_prw.m.t SET amt = amt + 1 WHERE k % 10 = 2")
    spark.sql("DELETE FROM ice_prw.m.t WHERE k % 10 = 3 AND length(v) >= 1")
    spark.sql("DELETE FROM ice_prw.m.t WHERE k IN (44, 55)") // equality
    val t0 = IcebergTable.load(spark, loc)
    val pos0 = t0.deleteEntries().map(_._1).filter(_.content == 1)
    val eq0 = t0.deleteEntries().map(_._1).filter(_.content == 2)
    // one delete parquet PER WRITE TASK per statement (3 single-file
    // scan partitions x 3 statements) — the accumulation this
    // procedure exists to fold
    assert(pos0.size >= 3 && eq0.size === 1)
    val want = t0.scan().select("k", "amt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val dataBefore = t0.plannedFiles().map(_._1.filePath).toSet

    val res = spark.sql(
      "CALL ice_prw.system.rewrite_position_deletes(table => 'm.t')")
      .collect()
    assert(res(0).getInt(0) === pos0.size && res(0).getInt(1) === 1)
    val t1 = IcebergTable.load(spark, loc)
    val pos1 = t1.deleteEntries().map(_._1).filter(_.content == 1)
    val eq1 = t1.deleteEntries().map(_._1).filter(_.content == 2)
    assert(pos1.size === 1, "three position-delete files fold into one")
    assert(eq1.map(_.filePath) === eq0.map(_.filePath),
      "equality delete files must be untouched")
    assert(t1.plannedFiles().map(_._1.filePath).toSet === dataBefore,
      "data files must be untouched (metadata+delete-scale only)")
    assert(t1.meta.currentSnapshot.get.operation === "replace")
    // content identical through BOTH readers
    assert(t1.scan().select("k", "amt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === want.toSeq)
    assert(spark.sql("SELECT count(*) FROM ice_prw.m.t")
      .collect()(0).getLong(0) === want.length.toLong)
    // the changelog is silent for the row-preserving replace
    val ch = t1.changesBetween(None).collect()
    assert(!ch.exists(r => r.getAs[Long]("_commit_snapshot_id") ==
      t1.meta.currentSnapshotId.get))
    // idempotent: a second call is a no-op (no new snapshot)
    val snaps = t1.meta.snapshots.size
    val res2 = spark.sql(
      "CALL ice_prw.system.rewrite_position_deletes(table => 'm.t')")
      .collect()
    assert(res2(0).getInt(0) === 0)
    assert(IcebergTable.load(spark, loc).meta.snapshots.size === snaps)
  }

  test("position_deletes metadata table serves adopted real-format tables") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 60L).map(i => (i, s"v$i")).toDF("k", "v").repartition(2))
    val wh = Files.createTempDirectory("graft-icepdm").toString
    spark.conf.set("spark.sql.catalog.ice_pdm", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_pdm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_pdm.m")
    spark.sql(s"CALL ice_pdm.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    spark.sql("DELETE FROM ice_pdm.m.t WHERE k % 5 = 0 AND length(v) >= 1")
    // the content table: one row per hidden slot, stamped with its
    // source delete file; distributed single-file-partition read
    val rows = spark.sql(
      "SELECT file_path, pos, delete_file FROM ice_pdm.m.t.position_deletes")
      .collect()
    assert(rows.length === 12, s"expected 12 hidden slots, got ${rows.length}")
    assert(rows.forall(_.getString(2).nonEmpty))
    assert(rows.map(_.getString(0)).toSet.size === 2,
      "slots span both data files")
    // row count matches what the MoR scan hides
    assert(spark.sql("SELECT count(*) FROM ice_pdm.m.t")
      .collect()(0).getLong(0) === 48L)
  }

  test("ALTER TABLE on an adopted table: add column, set properties") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    val wh = Files.createTempDirectory("graft-icealt").toString
    spark.conf.set("spark.sql.catalog.ice_alt", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_alt.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_alt.m")
    spark.sql(s"CALL ice_alt.system.register_table(table => 'm.t', " +
      s"location => '$loc')")

    // SET TBLPROPERTIES flips the row-level mode to copy-on-write
    spark.sql("ALTER TABLE ice_alt.m.t SET TBLPROPERTIES(" +
      "'write.update.mode'='copy-on-write')")
    assert(IcebergMetadata.load(loc).properties
      .get("write.update.mode").contains("copy-on-write"))
    spark.sql("UPDATE ice_alt.m.t SET v = 'upd' WHERE k <= 5")
    val t1 = IcebergTable.load(spark, loc)
    assert(t1.deleteEntries().isEmpty,
      "after the property flip, UPDATE must run copy-on-write")
    assert(spark.sql(
      "SELECT count(*) FROM ice_alt.m.t WHERE v = 'upd'")
      .collect()(0).getLong(0) === 5L)
    spark.sql("ALTER TABLE ice_alt.m.t UNSET TBLPROPERTIES(" +
      "'write.update.mode')")
    assert(!IcebergMetadata.load(loc).properties.contains("write.update.mode"))

    // ADD COLUMN: evolved schema, old files null-fill, inserts carry it
    spark.sql("ALTER TABLE ice_alt.m.t ADD COLUMN score BIGINT")
    assert(spark.sql("SELECT count(*) FROM ice_alt.m.t WHERE score IS NULL")
      .collect()(0).getLong(0) === 40L)
    spark.sql("INSERT INTO ice_alt.m.t VALUES (100, 'n', 7)")
    assert(spark.sql("SELECT score FROM ice_alt.m.t WHERE k = 100")
      .collect()(0).getLong(0) === 7L)
    // the binary interop reader agrees on the evolved shape
    val t2 = IcebergTable.load(spark, loc)
    assert(t2.scan().schema.fieldNames.contains("score"))
    assert(t2.scan().filter(col("score").isNotNull).count() === 1L)
  }

  test("CoW keeps files whose bounds matched but no row did (group-filter sync)") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    // three files with disjoint bounds; the DELETE's IN-list contains
    // one key inside file-1 and one key inside file-3's BOUNDS that no
    // row carries — so static stat pruning keeps files 1 and 3 while
    // the runtime group filter (built from the matched rows) would
    // narrow the scan to file 1 alone. The replaced set must stay in
    // sync with what the replacement write actually read: file 3's
    // rows must survive intact.
    val part1 = (1L to 10L).map(i => (i, s"v$i"))
    val part3 = ((490L to 494L) ++ (496L to 510L)).map(i => (i, s"v$i"))
    IcebergWrite.create(spark, loc, part1.toDF("k", "v").coalesce(1))
    IcebergWrite.append(spark, loc,
      (100L to 200L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    IcebergWrite.append(spark, loc, part3.toDF("k", "v").coalesce(1))
    IcebergMetadata.commitRetry(loc)(m => m.copy(properties =
      m.properties + ("write.delete.mode" -> "copy-on-write")))
    val wh = Files.createTempDirectory("graft-icegf").toString
    spark.conf.set("spark.sql.catalog.ice_gf", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_gf.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_gf.m")
    spark.sql(s"CALL ice_gf.system.register_table(table => 'm.t', " +
      s"location => '$loc')")

    // length() keeps the condition off the metadata-delete path, so
    // the statement runs the group-based CoW operation; 495 is inside
    // file 3's [490, 510] bounds but absent from its rows
    spark.sql("DELETE FROM ice_gf.m.t " +
      "WHERE k IN (5, 495) AND length(v) >= 1")
    val t = IcebergTable.load(spark, loc)
    assert(t.deleteEntries().isEmpty, "CoW must not write delete files")
    assert(t.scan().count() === (10 - 1) + 101 + 20L)
    assert(t.scan().filter(col("k") >= 490 && col("k") <= 510).count() === 20L,
      "the no-match candidate file's rows must survive the swap")
    assert(t.scan().filter(col("k") === 5).count() === 0L)
    assert(spark.sql("SELECT count(*) FROM ice_gf.m.t")
      .collect()(0).getLong(0) === 130L)
  }

  // the graft leg commits through GraftTable.commitStagedDelta, which
  // staged SQL merge-on-read writes of the graft dialect also land in
  for (format <- Seq("iceberg", "graft"))
  test("a delta commit refuses when its referenced data files were rewritten" +
      (if (format == "graft") " [graft]" else "")) {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    val iceberg = format == "iceberg"
    val rows = (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1)
    // each format's position deletes name the file the way its scans do
    val target =
      if (iceberg) {
        IcebergWrite.create(spark, loc, rows)
        IcebergTable.load(spark, loc).plannedFiles().head._1.filePath
      } else {
        graft.table.GraftTable.create(spark, loc, rows.schema).append(rows)
        TableIO.qualified(new HPath(TableIO.path(loc, "data"),
          graft.table.Meta.load(loc).liveFiles(None).head.path))
      }
    def stageDelta(): (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) = {
      val ds = TableIO.path(loc, s"stage-t-${System.nanoTime()}")
      val del = TableIO.path(loc, s"stage-td-${System.nanoTime()}")
      TableIO.mkdirs(ds)
      Seq((target, 0L)).toDF("file_path", "pos")
        .coalesce(1).write.parquet(del.toString)
      (ds, del)
    }
    def commitDelta(ds: HPath, del: HPath): Unit =
      if (iceberg) graft.table.iceberg.IcebergWrite.commitDelta(spark, loc, ds, del)
      else graft.table.GraftTable.load(spark, loc).commitStagedDelta(ds, del)
    def count(): Long =
      if (iceberg) IcebergTable.load(spark, loc).scan().count()
      else graft.table.GraftTable.load(spark, loc).scan().count()
    // the happy path commits (references still live)
    val (ds1, del1) = stageDelta()
    commitDelta(ds1, del1)
    assert(count() === 49L)

    // a compaction replaces every data file; a delta staged against
    // the OLD files must refuse instead of committing dead references
    // (the write-skew the reference's validateDataFilesExist prevents)
    val (ds2, del2) = stageDelta()
    if (iceberg) IcebergWrite.rewrite(spark, loc)
    else graft.table.GraftTable.load(spark, loc).applyDeletes()
    val ex = intercept[java.util.ConcurrentModificationException] {
      commitDelta(ds2, del2)
    }
    if (iceberg) {
      assert(ex.getMessage.contains("position deletes reference"))
      // nothing committed: content and delete set unchanged
      val t = IcebergTable.load(spark, loc)
      assert(t.scan().count() === 49L)
      assert(t.deleteEntries().isEmpty, "rewrite folded the old delete; " +
        "the refused delta must not add one")
    } else {
      assert(ex.getMessage.contains("were rewritten or removed"))
      assert(count() === 49L)
      assert(graft.table.Meta.load(loc).liveDeleteFiles(None).isEmpty,
        "applyDeletes folded the old delete; the refused delta must not add one")
    }
  }

  test("consolidation preserves foreign manifest columns it does not model") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    IcebergWrite.append(spark, loc, Seq((3L, "c")).toDF("k", "v"))
    IcebergWrite.append(spark, loc, Seq((4L, "d")).toDF("k", "v"))
    // simulate another engine's manifests: extend TWO manifests' entry
    // schema with an optional stats field our DataFileEntry model does
    // not carry (value_counts) and stamp values — identical extended
    // schemas, so consolidation must MERGE them (not group-skip) and
    // the unmodeled column must ride through the merged write
    val m0 = IcebergMetadata.load(loc)
    val mfs0 = IcebergAvro.readManifestList(new HPath(
      m0.currentSnapshot.get.manifestList)).filter(_.content == 0)
    assert(mfs0.size === 3)
    def extendSchema(schema: org.apache.avro.Schema): org.apache.avro.Schema = {
      import org.apache.avro.Schema
      import scala.jdk.CollectionConverters._
      val df0 = schema.getField("data_file").schema()
      val dfExt = Schema.createRecord(df0.getName, null, null, false)
      val extra = new Schema.Field("value_counts",
        Schema.createUnion(Schema.create(Schema.Type.NULL),
          Schema.create(Schema.Type.STRING)),
        null, Schema.Field.NULL_DEFAULT_VALUE)
      dfExt.setFields((df0.getFields.asScala.map(f =>
        new Schema.Field(f.name(), f.schema(), f.doc(), f.defaultVal()))
        .toSeq :+ extra).asJava)
      val top = Schema.createRecord(schema.getName, null, null, false)
      top.setFields(schema.getFields.asScala.map { f =>
        if (f.name() == "data_file")
          new Schema.Field("data_file", dfExt, f.doc(), f.defaultVal())
        else new Schema.Field(f.name(), f.schema(), f.doc(), f.defaultVal())
      }.toSeq.asJava)
      top
    }
    var stampedEntries = 0
    def stampForeign(target: HPath): Unit = {
      val (schema, fileMeta, records) = IcebergAvro.readManifestRaw(target)
      val extended = extendSchema(schema)
      val stamped = records.map { r =>
        val e = new org.apache.avro.generic.GenericData.Record(extended)
        e.put("status", r.get("status"))
        e.put("snapshot_id", r.get("snapshot_id"))
        e.put("sequence_number", r.get("sequence_number"))
        e.put("file_sequence_number", r.get("file_sequence_number"))
        val d0 = r.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
        val d = new org.apache.avro.generic.GenericData.Record(
          extended.getField("data_file").schema())
        d0.getSchema.getFields.forEach(f => d.put(f.name(), d0.get(f.name())))
        d.put("value_counts", "foreign-engine-stat")
        e.put("data_file", d)
        e: org.apache.avro.generic.GenericRecord
      }
      stampedEntries += stamped.size
      IcebergAvro.writeManifestRaw(target, extended, fileMeta, stamped)
    }
    stampForeign(new HPath(mfs0(0).path))
    stampForeign(new HPath(mfs0(1).path))

    val (before, after) = IcebergWrite.rewriteManifests(loc)
    assert(before === 3)
    // the two foreign-shaped manifests share a writer schema and MERGE;
    // the native-shape one stays its own group
    assert(after === 2)
    val mfsAfter = IcebergAvro.readManifestList(new HPath(
      IcebergMetadata.load(loc).currentSnapshot.get.manifestList))
      .filter(_.content == 0)
    assert(mfsAfter.size === 2)
    val carried = mfsAfter.map(mf =>
      IcebergAvro.readManifestRaw(new HPath(mf.path))).flatMap(_._3)
      .flatMap { r =>
        val d = r.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
        if (d.getSchema.getField("value_counts") != null)
          Option(d.get("value_counts")).map(String.valueOf)
        else None
      }
    assert(carried.size === stampedEntries &&
      carried.forall(_ == "foreign-engine-stat"),
      s"unmodeled stats column lost in the merge: $carried")
    // and the table still reads
    assert(IcebergTable.load(spark, loc).scan().count() === 4L)
  }

  test("appends race manifest consolidation without losing rows") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc, Seq((0L, "z")).toDF("k", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val appenders = (0 until 2).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            for (i <- 0 until 5) {
              val base = t * 1000 + i * 10
              IcebergWrite.append(spark, loc,
                Seq((base + 1L, s"t$t-$i"), (base + 2L, s"t$t-$i"))
                  .toDF("k", "v").coalesce(1))
            }
        })
      }
      val consolidator =
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            for (_ <- 0 until 5) {
              // CAS-retried: a racing append between the manifest-list
              // read and the commit re-runs the consolidation against
              // fresh metadata rather than dropping the new files
              IcebergWrite.rewriteManifests(loc)
              Thread.sleep(50)
            }
        })
      (appenders :+ consolidator).foreach(_.get())
    } finally pool.shutdown()
    val t = IcebergTable.load(spark, loc)
    assert(t.scan().count() === (1 + 2 * 5 * 2).toLong)
    // every appended batch survived every interleaved consolidation
    val got = t.scan().select("v").collect().map(_.getString(0))
      .groupBy(identity).view.mapValues(_.length).toMap
    for (th <- 0 until 2; i <- 0 until 5)
      assert(got.getOrElse(s"t$th-$i", 0) === 2, s"lost batch t$th-$i")
    // single parent chain (CAS serialized appends and replaces)
    t.meta.snapshots.sortBy(_.snapshotId).sliding(2).foreach {
      case Seq(a, b) => assert(b.parentId.contains(a.snapshotId))
      case _ =>
    }
    // and a final consolidation lands the steady state: one data manifest
    IcebergWrite.rewriteManifests(loc)
    val mfs = IcebergAvro.readManifestList(new HPath(
      IcebergMetadata.load(loc).currentSnapshot.get.manifestList))
    assert(mfs.count(_.content == 0) === 1)
    assert(IcebergTable.load(spark, loc).scan().count() === 21L)
  }

  test("rewrite on a sorted table keeps the target file count") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 400L).map(i => ((i * 2654435761L) % 4000L, s"a$i"))
        .toDF("k", "v").repartition(6))
    IcebergWrite.append(spark, loc,
      (401L to 800L).map(i => ((i * 40503L) % 4000L, s"b$i"))
        .toDF("k", "v").repartition(6))
    // make the table sorted-by-k AFTER the scattered writes, so the
    // rewrite below must range-cluster while honoring its target count
    val m0 = IcebergMetadata.load(loc)
    val kId = m0.schema.fields.find(_.name == "k").get.id
    IcebergMetadata.writeNext(loc, m0.copy(
      sortOrders = m0.sortOrders :+ IcebergMetadata.IceSortOrder(1,
        Seq(IcebergMetadata.IceSortField(kId, "identity", "asc", "nulls-first"))),
      defaultSortOrderId = 1))

    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(coalesceKey)
    // AQE coalescing would fold this tiny write into one file and mask
    // a discarded target count (the bug emitted shuffle.partitions files)
    spark.conf.set(coalesceKey, "false")
    val n = try {
      val total = IcebergTable.load(spark, loc)
        .plannedFiles().map(_._1.fileSizeBytes).sum
      IcebergWrite.rewrite(spark, loc, targetFileSizeBytes = total / 3)._2
    } finally prior match {
      case Some(v) => spark.conf.set(coalesceKey, v)
      case None => spark.conf.unset(coalesceKey)
    }
    val t = IcebergTable.load(spark, loc)
    // the committed layout matches the returned count and is nowhere
    // near spark.sql.shuffle.partitions (the anti-compaction failure)
    assert(t.plannedFiles().size === n)
    assert(n >= 2 && n <= 6, s"expected a small compacted layout, got $n")
    assert(t.scan().count() === 800L)
    // and the files are genuinely range-clustered: disjoint k bounds
    val ranges = t.plannedFiles().map(_._2)
      .map(st => (st("k").min.toLong, st("k").max.toLong)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2,
        s"overlapping rewritten file bounds: $ranges")
      case _ =>
    }
  }

  test("branch lifecycle over REST: set ref, repoint, remove, CAS races") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergRestServer, IcebergRestClient => C}
    val wh = Files.createTempDirectory("graft-rest-ref").toString
    val server = new IcebergRestServer(wh).start()
    try {
      val base = s"http://127.0.0.1:${server.port}"
      C.createNamespace(base, "db")
      val loc = s"$wh/db/t"
      IcebergWrite.create(spark, loc,
        (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"))
      val snap1 = IcebergMetadata.load(loc).currentSnapshotId.get

      // stage an audit branch at the current snapshot
      assert(C.setSnapshotRef(base, "db", "t", "audit", snap1, None) === 200)
      assert(IcebergMetadata.load(loc).refs.get("audit") === Some(snap1))
      // a second create-if-absent loses: the ref exists now
      assert(C.setSnapshotRef(base, "db", "t", "audit", snap1, None) === 409)

      // new commit; repoint the branch CAS-guarded
      IcebergWrite.append(spark, loc,
        (11L to 20L).map(i => (i, s"w$i")).toDF("k", "v"))
      val snap2 = IcebergMetadata.load(loc).currentSnapshotId.get
      assert(C.setSnapshotRef(base, "db", "t", "audit", snap2,
        Some(snap1)) === 200)

      // the WAP cleanup: a STALE remove 409s, the correct one lands
      assert(C.removeSnapshotRef(base, "db", "t", "audit",
        Some(snap1)) === 409)
      assert(IcebergMetadata.load(loc).refs.contains("audit"))
      assert(C.removeSnapshotRef(base, "db", "t", "audit",
        Some(snap2)) === 200)
      val m = IcebergMetadata.load(loc)
      assert(!m.refs.contains("audit"))
      // only the REF is gone: snapshots and main survive
      assert(m.snapshots.map(_.snapshotId).toSet === Set(snap1, snap2))
      assert(m.refs.get("main") === Some(snap2))
      assert(IcebergTable.load(spark, loc).scan().count() === 20L)
    } finally server.stop()
  }

  test("REST requirement asserts validate against live metadata") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergRestServer, IcebergRestClient => C}
    val wh = Files.createTempDirectory("graft-rest-req").toString
    val server = new IcebergRestServer(wh).start()
    try {
      val base = s"http://127.0.0.1:${server.port}"
      C.createNamespace(base, "db")
      val loc = s"$wh/db/t"
      IcebergWrite.create(spark, loc,
        (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"))
      val m = IcebergMetadata.load(loc)
      // a strict client's full guard set, all matching -> commit lands
      val guards = Seq(
        C.requireInt("assert-last-assigned-field-id",
          "last-assigned-field-id", m.lastColumnId),
        C.requireInt("assert-current-schema-id",
          "current-schema-id", m.currentSchemaId),
        C.requireInt("assert-default-spec-id",
          "default-spec-id", m.defaultSpecId),
        C.requireInt("assert-last-assigned-partition-id",
          "last-assigned-partition-id", m.lastPartitionId),
        C.requireInt("assert-default-sort-order-id",
          "default-sort-order-id", m.defaultSortOrderId))
      assert(C.commitTransaction(base, Seq(C.TableChange("db", "t",
        guards, Seq(C.setPropertiesUpdate(Map("audited" -> "true")))))) === 204)
      assert(IcebergMetadata.load(loc).properties("audited") === "true")

      // one mismatched guard -> 409, nothing applied
      assert(C.commitTransaction(base, Seq(C.TableChange("db", "t",
        Seq(C.requireInt("assert-current-schema-id",
          "current-schema-id", m.currentSchemaId + 7)),
        Seq(C.setPropertiesUpdate(Map("audited" -> "false")))))) === 409)
      assert(IcebergMetadata.load(loc).properties("audited") === "true")

      // assert-create always loses against an existing table
      assert(C.commitTransaction(base, Seq(C.TableChange("db", "t",
        Seq(C.requireInt("assert-create", "ignored", 0)),
        Seq(C.setPropertiesUpdate(Map("x" -> "y")))))) === 409)

      // set-location round-trips through the commit protocol
      assert(C.commitTransaction(base, Seq(C.TableChange("db", "t",
        Seq(C.requireUuid(m.tableUuid)),
        Seq(C.setLocationUpdate(loc + "-moved"))))) === 204)
      assert(IcebergMetadata.load(loc).location === loc + "-moved")

      // add-sort-order: a replay of the identical order is an
      // idempotent no-op; a CONFLICTING order or the reserved id 0
      // are clean 400s, not opaque server errors
      val kId = m.schema.fields.find(_.name == "k").get.id
      val vId = m.schema.fields.find(_.name == "v").get.id
      def soChange(u: com.fasterxml.jackson.databind.node.ObjectNode) =
        Seq(C.TableChange("db", "t", Seq.empty, Seq(u)))
      assert(C.commitTransaction(base,
        soChange(C.addSortOrderUpdate(1, Seq(kId -> "asc")))) === 204)
      assert(C.commitTransaction(base,
        soChange(C.addSortOrderUpdate(1, Seq(kId -> "asc")))) === 204)
      val after = IcebergMetadata.load(loc)
      assert(after.sortOrders.count(_.orderId == 1) === 1)
      assert(C.commitTransaction(base,
        soChange(C.addSortOrderUpdate(1, Seq(vId -> "desc")))) === 400)
      assert(C.commitTransaction(base,
        soChange(C.addSortOrderUpdate(0, Seq(kId -> "asc")))) === 400)
    } finally server.stop()
  }

  test("sort-order evolution over REST clusters subsequent writes") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergRestServer, IcebergRestClient => C}
    val wh = Files.createTempDirectory("graft-rest-so").toString
    val server = new IcebergRestServer(wh).start()
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(coalesceKey)
    // keep the range shuffle's partition count observable (AQE would
    // fold this tiny test write into one file)
    spark.conf.set(coalesceKey, "false")
    try {
      val base = s"http://127.0.0.1:${server.port}"
      C.createNamespace(base, "db")
      val loc = s"$wh/db/t"
      // interleaved keys: an unsorted write scatters every key range
      val df = (1L to 4000L).map(i => ((i * 2654435761L) % 4000L, s"v$i"))
        .toDF("k", "v").repartition(4)
      IcebergWrite.create(spark, loc, df)

      C.updateSortOrder(base, "db", "t", Seq("k" -> "asc"))
      val m = IcebergMetadata.load(loc)
      assert(m.defaultSortOrderId > 0)
      assert(m.defaultSortFields.map(f => (f.direction, f.transform)) ===
        Seq(("asc", "identity")))
      // the order round-trips the metadata.json write/parse cycle
      assert(IcebergMetadata.fromJson(IcebergMetadata.toJson(m))
        .defaultSortFields === m.defaultSortFields)

      // a post-evolution append range-clusters: its files hold
      // pairwise-DISJOINT k ranges, so a key predicate prunes files
      val df2 = (1L to 4000L).map(i => ((i * 40503L) % 4000L + 10000L, s"w$i"))
        .toDF("k", "v").repartition(4)
      IcebergWrite.append(spark, loc, df2)
      val t = IcebergTable.load(spark, loc)
      val newRanges = t.plannedFiles().map(_._2)
        .filter(_("k").min.toLong >= 10000L)
        .map(st => (st("k").min.toLong, st("k").max.toLong))
        .sortBy(_._1)
      assert(newRanges.size > 1, s"expected several clustered files, got $newRanges")
      newRanges.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => assert(hi < lo2,
          s"overlapping sorted-write file bounds: $newRanges")
        case _ =>
      }
      // pre-evolution files overlap (sanity that the data would scatter)
      val oldRanges = t.plannedFiles().map(_._2)
        .filter(_("k").min.toLong < 10000L)
        .map(st => (st("k").min.toLong, st("k").max.toLong)).sortBy(_._1)
      assert(oldRanges.exists { case (lo, hi) => hi - lo > 1000L })
      // nothing lost
      assert(t.scan().count() === 8000L)
    } finally {
      prior match {
        case Some(v) => spark.conf.set(coalesceKey, v)
        case None => spark.conf.unset(coalesceKey)
      }
      server.stop()
    }
  }

  test("schema evolution on an adopted table: rename / promote / drop") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    // int k (promotable), float amt (promotable, NOT a partition
    // source), decimal d (precision growth), string gone (droppable)
    val mk = (r: Range, tag: String) => r.map(i =>
      (i, s"$tag$i", i * 1.5f, BigDecimal(i).setScale(2), s"g$i"))
      .toDF("k", "v", "amt", "d", "gone")
      .select(col("k").cast("int").as("k"), col("v"),
        col("amt"), col("d").cast("decimal(6,2)").as("d"), col("gone"))
    IcebergWrite.create(spark, loc, mk(1 to 100, "a").repartition(2))
    val s1 = IcebergTable.load(spark, loc).meta.currentSnapshotId.get
    IcebergWrite.append(spark, loc, mk(101 to 200, "b").repartition(2))
    // an EQUALITY delete keyed on v, written under the ORIGINAL name:
    // after the rename below, the old delete parquet still carries
    // column "v" — the id-carrying key schema must keep it applying
    IcebergWrite.deleteEquality(spark, loc,
      Seq("a5", "b105").toDF("v"), Seq("v"))
    assert(IcebergTable.load(spark, loc).scan().count() === 198L)

    val wh = Files.createTempDirectory("graft-iceevo").toString
    spark.conf.set("spark.sql.catalog.ice_evo", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_evo.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_evo.m")
    spark.sql(s"CALL ice_evo.system.register_table(table => 'm.t', " +
      s"location => '$loc')")

    val idOfK = IcebergMetadata.load(loc).schema.fieldId("k").get
    val idOfV = IcebergMetadata.load(loc).schema.fieldId("v").get

    // --- RENAME: identity is the field id, the name is a label
    spark.sql("ALTER TABLE ice_evo.m.t RENAME COLUMN k TO id")
    spark.sql("ALTER TABLE ice_evo.m.t RENAME COLUMN v TO label")
    // --- PROMOTE: int->long, float->double, decimal(6,2)->(12,2)
    spark.sql("ALTER TABLE ice_evo.m.t ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE ice_evo.m.t ALTER COLUMN amt TYPE DOUBLE")
    spark.sql("ALTER TABLE ice_evo.m.t ALTER COLUMN d TYPE DECIMAL(12,2)")
    // --- DROP: id retired, never reused
    spark.sql("ALTER TABLE ice_evo.m.t DROP COLUMN gone")

    val m2 = IcebergMetadata.load(loc)
    // ids survive the rename; the dropped field's id is gone from the
    // CURRENT schema but lastColumnId still covers it (never reused)
    assert(m2.schema.fieldId("id").get === idOfK)
    assert(m2.schema.fieldId("label").get === idOfV)
    assert(m2.schema.fieldId("gone").isEmpty)
    assert(m2.schema.fields.map(_.name).toSet ===
      Set("id", "label", "amt", "d"))
    assert(m2.lastColumnId >= 5)
    // every historical schema is still registered (old snapshots pin
    // their schema-id), and the current one reflects the promotions
    assert(m2.schemas.size >= 5)
    assert(m2.schema.fields.find(_.name == "id").get.tpe === "long")
    assert(m2.schema.fields.find(_.name == "amt").get.tpe === "double")
    assert(m2.schema.fields.find(_.name == "d").get.tpe === "decimal(12, 2)")

    // --- catalog SQL reads: old files (written as int/float/dec(6,2)
    // under old names) read under the NEW names and WIDENED types,
    // with the pre-rename equality delete still applying
    val viaSql = spark.sql(
      "SELECT count(*) AS n, sum(id) AS sk, round(sum(amt),2) AS sa " +
        "FROM ice_evo.m.t").collect()(0)
    assert(viaSql.getLong(0) === 198L)
    val expSk = (1L to 200L).sum - 5L - 105L
    assert(viaSql.getLong(1) === expSk)
    assert(viaSql.getDouble(2) === (1 to 200).map(_ * 1.5d).sum - 7.5 - 157.5)

    // --- binary interop reader agrees (the walk any engine could do)
    val t2 = IcebergTable.load(spark, loc)
    assert(t2.scan().count() === 198L)
    assert(t2.scan().schema.fieldNames.toSet === Set("id", "label", "amt", "d"))
    assert(t2.scan().filter(col("label") === "a5").count() === 0L)

    // --- old snapshots keep their OWN shape: names, types, dropped
    // column all as written (schema-id pinned per snapshot)
    val old = t2.scan(Some(s1))
    assert(old.schema.fieldNames.toSet === Set("k", "v", "amt", "d", "gone"))
    assert(old.schema("k").dataType.typeName === "integer")
    assert(old.count() === 100L)

    // --- stats pruning through a promoted column stays sound: the
    // bounds in old manifests are 4-byte ints, decoded by length —
    // file pruning must not lose matching rows
    assert(t2.scan(None, Seq(("id", ">=", "150")))
      .filter(col("id") >= 150).count() ===
      t2.scan().filter(col("id") >= 150).count())

    // --- writes AFTER evolution: new rows under the new schema mix
    // with old-era files
    spark.sql("INSERT INTO ice_evo.m.t VALUES (201, 'c201', 301.5, 201.00)")
    assert(spark.sql("SELECT count(*) FROM ice_evo.m.t")
      .collect()(0).getLong(0) === 199L)
    // row-level DELETE keyed on the RENAMED column (old files matched
    // through id resolution)
    spark.sql("DELETE FROM ice_evo.m.t WHERE id = 7 AND length(label) >= 1")
    assert(spark.sql("SELECT count(*) FROM ice_evo.m.t")
      .collect()(0).getLong(0) === 198L)
    assert(IcebergTable.load(spark, loc).scan()
      .filter(col("id") === 7).count() === 0L)

    // --- guards: unsafe promotion, collision, eq-delete-keyed drop
    // narrowing is refused — by Spark's analyzer when it catches it,
    // and by the interop guard for cases the analyzer lets through
    val exPromo = intercept[Exception] {
      spark.sql("ALTER TABLE ice_evo.m.t ALTER COLUMN id TYPE INT") }
    assert(exPromo.getMessage.toLowerCase.contains("promotion") ||
      exPromo.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"))
    val exPromo2 = intercept[Exception] {
      graft.table.iceberg.IcebergWrite.updateColumnType(loc, "id",
        org.apache.spark.sql.types.IntegerType) }
    assert(exPromo2.getMessage.toLowerCase.contains("promotion"))
    val exCol = intercept[Exception] {
      spark.sql("ALTER TABLE ice_evo.m.t RENAME COLUMN amt TO label") }
    assert(exCol.getMessage.contains("exists") ||
      exCol.getMessage.contains("label"))
    val exDrop = intercept[Exception] {
      spark.sql("ALTER TABLE ice_evo.m.t DROP COLUMN label") }
    assert(exDrop.getMessage.contains("equality"))
  }

  test("equality delete keyed under the narrow type survives promotion") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1 to 100).map(i => (i, s"v$i")).toDF("k", "v")
        .select(col("k").cast("int").as("k"), col("v")).repartition(2))
    val cat = s"evotw_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft-evotw").toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    spark.sql(s"CALL $cat.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    // the delete parquet stores INT32 key values...
    spark.sql(s"DELETE FROM $cat.m.t WHERE k IN (5, 17)")
    // ...and the schema then widens: the MoR fold must promote the
    // delete file's int values into the long key space, in BOTH the
    // catalog reader and the binary interop reader
    spark.sql(s"ALTER TABLE $cat.m.t ALTER COLUMN k TYPE BIGINT")
    assert(spark.sql(s"SELECT count(*) FROM $cat.m.t")
      .collect()(0).getLong(0) === 98L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.m.t WHERE k IN (5, 17)")
      .collect()(0).getLong(0) === 0L)
    val t = IcebergTable.load(spark, loc)
    assert(t.scan().count() === 98L)
    assert(t.scan().filter(col("k").isin(5L, 17L)).count() === 0L)
    // post-promotion writes live in the widened space: a key beyond
    // int range inserts and equality-deletes cleanly
    spark.sql(s"INSERT INTO $cat.m.t VALUES (3000000000, 'big')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.m.t")
      .collect()(0).getLong(0) === 99L)
    spark.sql(s"DELETE FROM $cat.m.t WHERE k IN (3000000000)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.m.t")
      .collect()(0).getLong(0) === 98L)
  }

  test("changelog across a rename reads every era under end-era labels") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    val s1 = IcebergTable.load(spark, loc).meta.currentSnapshotId.get
    IcebergWrite.renameColumn(loc, "v", "label")
    IcebergWrite.append(spark, loc,
      (31L to 40L).map(i => (i, s"w$i")).toDF("k", "label").coalesce(1))
    IcebergWrite.deleteEquality(spark, loc, Seq(5L).toDF("k"), Seq("k"))

    val ch = IcebergTable.load(spark, loc).changesBetween(Some(s1))
    // the changelog binds to the END era's labels...
    assert(ch.schema.fieldNames.contains("label") &&
      !ch.schema.fieldNames.contains("v"))
    val rows = ch.select("k", "label", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // ...and the delete of an era-1 row carries that row's VALUE read
    // from a pre-rename file (name-based binding would null it)
    assert(rows.toSet.contains((5L, "v5", "delete")))
    assert(rows.filter(_._3 == "insert").map(_._1).sorted.toSeq ===
      (31L to 40L))
    assert(rows.forall(_._2 != null))
  }

  test("update_by_key matches old-era files under renamed labels") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 100L).map(i => (i, s"v$i", i * 10L)).toDF("k", "v", "w")
        .repartition(2))
    val cat = s"ubkr_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft-ubkrwh").toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    spark.sql(s"CALL $cat.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    // every data file predates BOTH renames: the keyed fetch (isin
    // pushdown + semi join) and the assignment expression must bind
    // to the old-era columns through field-id resolution
    spark.sql(s"ALTER TABLE $cat.m.t RENAME COLUMN k TO id")
    spark.sql(s"ALTER TABLE $cat.m.t RENAME COLUMN w TO amt")
    val updated = spark.sql(s"CALL $cat.system.update_by_key(" +
      s"table => 'm.t', key_column => 'id', key_values => '7, 9', " +
      s"assignments => 'amt = amt * 2')").collect()(0).getLong(0)
    assert(updated === 2L)
    assert(spark.sql(s"SELECT sum(amt) FROM $cat.m.t")
      .collect()(0).getLong(0) === (1L to 100L).map(_ * 10L).sum + 70L + 90L)
    assert(spark.sql(s"SELECT amt FROM $cat.m.t WHERE id = 7")
      .collect()(0).getLong(0) === 140L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.m.t")
      .collect()(0).getLong(0) === 100L)
    // the interop reader agrees (the delete side of the commit is an
    // equality delete whose key column is the RENAMED id)
    val t = IcebergTable.load(spark, loc)
    assert(t.scan().filter(col("id") === 9L).select("amt")
      .collect()(0).getLong(0) === 180L)
  }

  test("catalog VERSION AS OF pins the snapshot's era schema") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 20L).map(i => (i, s"v$i", s"g$i")).toDF("k", "v", "gone")
        .coalesce(1))
    val s1 = IcebergTable.load(spark, loc).meta.currentSnapshotId.get
    val cat = s"vaof_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft-vaofwh").toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    spark.sql(s"CALL $cat.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    spark.sql(s"ALTER TABLE $cat.m.t RENAME COLUMN k TO id")
    spark.sql(s"ALTER TABLE $cat.m.t ALTER COLUMN id TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.m.t DROP COLUMN gone")
    spark.sql(s"INSERT INTO $cat.m.t VALUES (21, 'x')")
    // current read: new labels, dropped column absent
    assert(spark.sql(s"SELECT * FROM $cat.m.t").schema.fieldNames.toSeq ===
      Seq("id", "v"))
    // VERSION AS OF the pre-evolution snapshot: era labels, era types,
    // the since-dropped column present WITH its values — the same
    // pinned-schema rule as the graft dialect and the interop reader
    val old = spark.sql(s"SELECT * FROM $cat.m.t VERSION AS OF $s1")
    assert(old.schema.fieldNames.toSeq === Seq("k", "v", "gone"))
    assert(old.schema("k").dataType.typeName === "long" ||
      old.schema("k").dataType.typeName === "integer")
    assert(old.count() === 20L)
    assert(old.filter(col("k") === 5L).select("gone")
      .collect()(0).getString(0) === "g5")
  }

  test("MERGE INTO after renames binds all three branches by field id") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 50L).map(i => (i, s"v$i", i * 10L)).toDF("k", "v", "amt")
        .repartition(2))
    val cat = s"mrn_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft-mrnwh").toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    spark.sql(s"CALL $cat.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    // every data file predates the renames; the merge's ON clause,
    // branch conditions, assignments, and the delta commit's
    // position-delete scan all run under the NEW labels
    spark.sql(s"ALTER TABLE $cat.m.t RENAME COLUMN k TO id")
    spark.sql(s"ALTER TABLE $cat.m.t RENAME COLUMN amt TO total")
    Seq((5L, "del", 0L), (7L, "upd", 100L),
      (60L, "new60", 600L), (61L, "new61", 610L))
      .toDF("id", "v", "total").createOrReplaceTempView("mrn_src")
    spark.sql(
      s"""MERGE INTO $cat.m.t t USING mrn_src s
          ON t.id = s.id
          WHEN MATCHED AND s.v = 'del' THEN DELETE
          WHEN MATCHED THEN
            UPDATE SET total = t.total + s.total, v = s.v
          WHEN NOT MATCHED THEN
            INSERT (id, v, total) VALUES (s.id, s.v, s.total)""")
    assert(spark.sql(s"SELECT count(*) FROM $cat.m.t")
      .collect()(0).getLong(0) === 51L) // 50 - 1 deleted + 2 inserted
    assert(spark.sql(s"SELECT count(*) FROM $cat.m.t WHERE id = 5")
      .collect()(0).getLong(0) === 0L)
    val r7 = spark.sql(s"SELECT v, total FROM $cat.m.t WHERE id = 7")
      .collect()(0)
    assert(r7.getString(0) === "upd" && r7.getLong(1) === 170L)
    // interop reader folds the same delta commit
    val t = IcebergTable.load(spark, loc)
    assert(t.scan().count() === 51L)
    assert(t.scan().filter(col("id") === 60L).select("total")
      .collect()(0).getLong(0) === 600L)
  }

  test("struct-typed ADD COLUMN allocates nested field ids and reads back") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    val cat = s"nst_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft-nstwh").toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    spark.sql(s"CALL $cat.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    val lastIdBefore = IcebergMetadata.load(loc).lastColumnId
    spark.sql(
      s"ALTER TABLE $cat.m.t ADD COLUMN meta STRUCT<a: BIGINT, b: STRING>")
    // the struct AND its leaves consume ids above the old counter —
    // the spec's no-reuse rule covers nested fields too
    val m = IcebergMetadata.load(loc)
    assert(m.lastColumnId >= lastIdBefore + 3,
      s"struct + 2 leaves must allocate 3 ids, lastColumnId=${m.lastColumnId}")
    spark.sql(s"INSERT INTO $cat.m.t VALUES " +
      "(21, 'x', named_struct('a', 7L, 'b', 'inner'))")
    // old rows null-fill the struct; the new row's leaves project
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.m.t WHERE meta IS NOT NULL")
      .collect()(0).getLong(0) === 1L)
    assert(spark.sql(s"SELECT meta.a, meta.b FROM $cat.m.t WHERE k = 21")
      .collect()(0).toSeq === Seq(7L, "inner"))
    // rename of the struct COLUMN keeps the leaves resolving
    spark.sql(s"ALTER TABLE $cat.m.t RENAME COLUMN meta TO info")
    assert(spark.sql(s"SELECT info.b FROM $cat.m.t WHERE k = 21")
      .collect()(0).getString(0) === "inner")
    val t = IcebergTable.load(spark, loc)
    assert(t.scan().filter(col("k") === 21L).select("info.a")
      .collect()(0).getLong(0) === 7L)
  }

  test("schema evolution races DML commits without losing either") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1 to 200).map(i => (i, s"v$i", i * 10L)).toDF("k", "v", "w")
        .select(col("k").cast("int").as("k"), col("v"), col("w"))
        .repartition(2))
    val cat = s"evorace_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft-evoracewh").toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    spark.sql(s"CALL $cat.system.register_table(table => 'm.t', " +
      s"location => '$loc')")

    // evolution commits (metadata-version CAS, no snapshots) race DML
    // commits (snapshot CAS): neither side may lose an update. The
    // DML thread touches only k and w, never the columns in flight.
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val evo = new Thread(() => try {
      for (stmt <- Seq(
          s"ALTER TABLE $cat.m.t RENAME COLUMN v TO v1",
          s"ALTER TABLE $cat.m.t ADD COLUMN a1 BIGINT",
          s"ALTER TABLE $cat.m.t ALTER COLUMN k TYPE BIGINT",
          s"ALTER TABLE $cat.m.t RENAME COLUMN v1 TO v2",
          s"ALTER TABLE $cat.m.t ADD COLUMN a2 STRING",
          s"ALTER TABLE $cat.m.t DROP COLUMN a1"))
        spark.sql(stmt)
    } catch { case t: Throwable => errors.add(t) })
    val dml = new Thread(() => try {
      for (i <- 0 until 4) {
        spark.sql(s"DELETE FROM $cat.m.t " +
          s"WHERE k IN (${i * 40 + 1}, ${i * 40 + 2})") // equality
        spark.sql(
          s"UPDATE $cat.m.t SET w = w + 1 WHERE k = ${i * 40 + 10}")
      }
    } catch { case t: Throwable => errors.add(t) })
    evo.start(); dml.start(); evo.join(180000); dml.join(180000)
    assert(errors.isEmpty, s"racing commit failed: ${errors.peek()}")

    val m = IcebergMetadata.load(loc)
    // create + 4 eq deletes + 4 updates; evolution adds NO snapshots
    assert(m.snapshots.size === 9,
      s"expected 9 snapshots, got ${m.snapshots.map(_.operation)}")
    val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
    var cur = m.currentSnapshotId; var chain = 0
    while (cur.isDefined) { chain += 1; cur = byId(cur.get).parentId }
    assert(chain === 9, "parent chain must cover every DML commit")
    // every evolution commit survived the races too
    assert(m.schema.fields.map(_.name).toSet === Set("k", "v2", "w", "a2"))
    assert(m.schema.fields.find(_.name == "k").get.tpe === "long")
    // content: 200 - 8 eq-deleted; each updated key bumped exactly once
    assert(spark.sql(s"SELECT count(*) FROM $cat.m.t")
      .collect()(0).getLong(0) === 192L)
    val ws = spark.sql(s"SELECT k, w FROM $cat.m.t " +
      s"WHERE k % 40 = 10 AND k <= 160").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ws === (0 until 4).map(i => (i * 40 + 10).toLong ->
      ((i * 40 + 10) * 10L + 1L)).toMap)
  }

  test("promoting a bucket partition source keeps transform pruning") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    val df = (1 to 400).map(i => (i, s"v$i")).toDF("k", "v")
      .select(col("k").cast("int").as("k"), col("v"))
    IcebergWrite.createWithSpec(spark, loc, df.repartition(4),
      Seq("k" -> "bucket[8]"))
    IcebergWrite.updateColumnType(loc, "k",
      org.apache.spark.sql.types.LongType)
    val t = IcebergTable.load(spark, loc)
    // bucket hashes int and long identically by spec design, so
    // equality pruning through the transform still plans the right
    // files — and the result is exact
    assert(t.scan(None, Seq(("k", "=", "123")))
      .filter(col("k") === 123L).count() === 1L)
    assert(t.scan().count() === 400L)
    // a partitioned-source FLOAT widening is refused (rendered-string
    // partition compare would be unsound under double). Graft's own
    // writer can't create a float partition source, so model a
    // FOREIGN-written table by registering the spec at metadata level
    val loc2 = tmp()
    val df2 = (1 to 10).map(i => (i * 1.5f, s"v$i")).toDF("f", "v")
    IcebergWrite.create(spark, loc2, df2)
    val fid = IcebergMetadata.load(loc2).schema.fieldId("f").get
    IcebergMetadata.commitRetry(loc2)(m => m.copy(specs = m.specs :+
      IcebergMetadata.IceSpec(99, Seq(IcebergMetadata.IcePartitionField(
        fid, 1001, "f_part", "identity")))))
    val ex = intercept[Exception] {
      IcebergWrite.updateColumnType(loc2, "f",
        org.apache.spark.sql.types.DoubleType) }
    assert(ex.getMessage.contains("float"))
  }


  test("rewrite_delete_files mode 'convert' on an adopted table") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 120L).map(i => (i, s"v$i", i * 10L)).toDF("k", "v", "amt")
        .repartition(3))
    val wh = Files.createTempDirectory("graft-iceeqrw").toString
    spark.conf.set("spark.sql.catalog.ice_eqrw", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_eqrw.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_eqrw.m")
    spark.sql(s"CALL ice_eqrw.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    // two metadata-only EQUALITY deletes (different key shapes), one
    // POSITION delete, then a re-insert of a deleted key — the later
    // sequence must survive conversion (strict eq scoping)
    spark.sql("DELETE FROM ice_eqrw.m.t WHERE k IN (44, 55)")
    spark.sql("DELETE FROM ice_eqrw.m.t WHERE v = 'v77'")
    spark.sql("DELETE FROM ice_eqrw.m.t WHERE k % 10 = 3 AND length(v) >= 1")
    spark.sql("INSERT INTO ice_eqrw.m.t VALUES (44, 'v44-again', 440)")
    val t0 = IcebergTable.load(spark, loc)
    val eq0 = t0.deleteEntries().map(_._1).filter(_.content == 2)
    val pos0 = t0.deleteEntries().map(_._1).filter(_.content == 1)
    assert(eq0.size === 2 && pos0.nonEmpty)
    val want = t0.scan().select("k", "amt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(want.contains((44L, 440L)))
    val dataBefore = t0.plannedFiles().map(_._1.filePath).toSet

    val res = spark.sql(
      "CALL ice_eqrw.system.rewrite_delete_files(table => 'm.t', " +
        "mode => 'convert')").collect()
    assert(res(0).getInt(0) === 2)
    val t1 = IcebergTable.load(spark, loc)
    assert(t1.deleteEntries().map(_._1).count(_.content == 2) === 0,
      "equality delete files must be gone")
    assert(t1.deleteEntries().map(_._1).count(_.content == 1) ===
      pos0.size + 1, "one materialized position file added")
    assert(t1.plannedFiles().map(_._1.filePath).toSet === dataBefore,
      "data files must be untouched")
    assert(t1.meta.currentSnapshot.get.operation === "replace")
    // content identical through BOTH readers
    assert(t1.scan().select("k", "amt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === want.toSeq)
    assert(spark.sql("SELECT count(*) FROM ice_eqrw.m.t")
      .collect()(0).getLong(0) === want.length.toLong)
    // changelog silent for the row-preserving replace — and the
    // earlier delete-eq slices bind columns correctly even though one
    // key ("v") is not the leading column (regression: the slice
    // union is by NAME; positional union cast v into k)
    val ch = t1.changesBetween(None).collect()
    assert(!ch.exists(r => r.getAs[Long]("_commit_snapshot_id") ==
      t1.meta.currentSnapshotId.get))
    assert(ch.exists(r => r.getAs[Long]("k") == 55L &&
      r.getAs[String]("_change_type") == "delete"))
    assert(ch.exists(r => r.getAs[Long]("k") == 77L &&
      r.getAs[String]("v") == "v77" &&
      r.getAs[String]("_change_type") == "delete"))
    // idempotent: nothing left to convert, no new snapshot
    val snaps = t1.meta.snapshots.size
    val res2 = spark.sql(
      "CALL ice_eqrw.system.rewrite_delete_files(table => 'm.t', " +
        "mode => 'convert')").collect()
    assert(res2(0).getInt(0) === 0)
    assert(IcebergTable.load(spark, loc).meta.snapshots.size === snaps)
    // position consolidation now folds EVERYTHING into one file
    spark.sql("CALL ice_eqrw.system.rewrite_position_deletes(table => 'm.t')")
    val t2 = IcebergTable.load(spark, loc)
    assert(t2.deleteEntries().size === 1)
    assert(t2.scan().select("k", "amt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === want.toSeq)
  }

  test("update_by_key commits O(matches): one eq delete + only modified rows") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      (1L to 300L).map(i => (i, s"v$i", i * 1.0)).toDF("k", "v", "w")
        .repartition(3))
    val wh = Files.createTempDirectory("graft-iceupd").toString
    spark.conf.set("spark.sql.catalog.ice_upd", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_upd.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_upd.m")
    spark.sql(s"CALL ice_upd.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    val t0 = IcebergTable.load(spark, loc)
    val dataBefore = t0.plannedFiles().map(_._1.filePath).toSet
    val snapsBefore = t0.meta.snapshots.size

    val res = spark.sql(
      "CALL ice_upd.system.update_by_key(table => 'm.t', " +
        "key_column => 'k', key_values => '7, 8, 9', " +
        "assignments => \"w = w * 10, v = concat(v, '!')\")").collect()
    assert(res(0).getLong(0) === 3L)

    val t1 = IcebergTable.load(spark, loc)
    // commit IO proportional to MATCHES: exactly one new snapshot,
    // the new data footprint is 3 rows, candidate files untouched
    assert(t1.meta.snapshots.size === snapsBefore + 1)
    val newData = t1.plannedFiles().map(_._1)
      .filterNot(e => dataBefore.contains(e.filePath))
    assert(newData.map(_.recordCount).sum === 3L,
      "only the modified rows may be written")
    assert(t1.plannedFiles().map(_._1.filePath).toSet
      .intersect(dataBefore) === dataBefore,
      "candidate data files must never be rewritten")
    val eqDel = t1.deleteEntries().map(_._1).filter(_.content == 2)
    assert(eqDel.size === 1 && eqDel.head.recordCount === 3L,
      "one equality delete file holding just the key tuples")
    // semantics through BOTH readers
    assert(spark.sql("SELECT count(*) FROM ice_upd.m.t")
      .collect()(0).getLong(0) === 300L)
    val updated = spark.sql(
      "SELECT k, v, w FROM ice_upd.m.t WHERE k IN (7, 8, 9) ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(updated.toSeq === Seq((7L, "v7!", 70.0), (8L, "v8!", 80.0),
      (9L, "v9!", 90.0)))
    assert(t1.scan().filter(col("k") === 8L).select("w")
      .collect()(0).getDouble(0) === 80.0)
    // a second keyed update of one of the SAME keys layers correctly
    // (the newer rows carry a higher sequence, so the newer delete
    // hides the round-1 versions, not round-2's)
    val res2 = spark.sql(
      "CALL ice_upd.system.update_by_key(table => 'm.t', " +
        "key_column => 'k', key_values => '8', " +
        "assignments => \"w = w + 0.5\")").collect()
    assert(res2(0).getLong(0) === 1L)
    assert(spark.sql("SELECT w FROM ice_upd.m.t WHERE k = 8")
      .collect()(0).getDouble(0) === 80.5)
    assert(spark.sql("SELECT count(*) FROM ice_upd.m.t")
      .collect()(0).getLong(0) === 300L)
    // no-match update commits NOTHING
    val snaps2 = IcebergTable.load(spark, loc).meta.snapshots.size
    val res3 = spark.sql(
      "CALL ice_upd.system.update_by_key(table => 'm.t', " +
        "key_column => 'k', key_values => '9999', " +
        "assignments => \"w = 0\")").collect()
    assert(res3(0).getLong(0) === 0L)
    assert(IcebergTable.load(spark, loc).meta.snapshots.size === snaps2)
  }


  test("updateByKey guards: null keys refused, assignments see the OLD row") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("k", "a", "b"))
    // null key: an equality-delete tuple would hide null-keyed rows
    // without rewriting them — must refuse loudly
    val exNull = intercept[Exception] {
      IcebergWrite.updateByKey(spark, loc,
        Seq(Some(1L), None).toDF("k"), Seq("k"),
        Seq("a" -> org.apache.spark.sql.functions.lit(0L)))
    }
    assert(exNull.getMessage.contains("null key"))
    // swap semantics: every RHS evaluates against the OLD row
    val n = IcebergWrite.updateByKey(spark, loc,
      Seq(1L).toDF("k"), Seq("k"),
      Seq("a" -> org.apache.spark.sql.functions.col("b"),
        "b" -> org.apache.spark.sql.functions.col("a")))
    assert(n === 1L)
    val r = IcebergTable.load(spark, loc).scan()
      .filter(col("k") === 1L).select("a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1)) === ((100L, 10L)),
      "a = b, b = a must SWAP (old-row semantics), not copy b twice")
    // summary labels the delete kind correctly
    val sum = IcebergTable.load(spark, loc).meta.currentSnapshot.get.summary
    assert(sum.get("added-equality-deletes").contains("1"))
    assert(!sum.contains("added-position-deletes"))
  }

  test("null equality-delete keys hide null rows in BOTH readers") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      Seq((1L, Some("x")), (2L, None), (3L, None), (4L, Some("y")))
        .toDF("k", "v"))
    // an equality delete file with a NULL key value (valid per spec):
    // null-safe probe semantics hide the null-keyed rows
    IcebergWrite.deleteEquality(spark, loc,
      Seq(Option.empty[String], Some("x")).toDF("v"), Seq("v"))
    val t = IcebergTable.load(spark, loc)
    // driver reader (anti-join) and SQL reader (executor probe) agree
    assert(t.scan().select("k").collect().map(_.getLong(0)).sorted
      === Array(4L))
    val cat = s"ice_nk_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft-nkwh").toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    spark.sql(s"CALL $cat.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    assert(spark.sql(s"SELECT k FROM $cat.m.t").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(4L))
    // ... and conversion preserves exactly that visible set
    spark.sql(s"CALL $cat.system.rewrite_delete_files(table => 'm.t', " +
      "mode => 'convert')")
    val t2 = IcebergTable.load(spark, loc)
    assert(t2.deleteEntries().map(_._1).count(_.content == 2) === 0)
    assert(t2.scan().select("k").collect().map(_.getLong(0)).sorted
      === Array(4L))
  }

  test("changelog reconciles a NULL-keyed equality delete with the " +
      "snapshot diff (null-safe delete slice)") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc,
      Seq((1L, Some("x")), (2L, Option.empty[String]),
        (3L, Option.empty[String]), (4L, Some("y"))).toDF("k", "v")
        .coalesce(1))
    val t0 = IcebergTable.load(spark, loc)
    val s1 = t0.meta.currentSnapshotId.get
    IcebergWrite.deleteEquality(spark, loc,
      Seq(Option.empty[String], Some("x")).toDF("v"), Seq("v"))
    val t = IcebergTable.load(spark, loc)
    // the scan hides 1 (x) AND 2,3 (null-keyed, null-safe probe)
    assert(t.scan().select("k").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(4L))
    // the changelog must report the SAME rows as deletes — a
    // name-based USING semi-join would silently drop the null-keyed
    // ones and the changelog would stop reconciling
    val ch = t.changesBetween(Some(s1)).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    assert(ch.sorted.toSeq === Seq(
      (1L, "delete"), (2L, "delete"), (3L, "delete")))
  }

  test("ref retention policies: set via SQL, preserved through " +
      "commits, honored by expire (real format)") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    (2 to 6).foreach(i =>
      IcebergWrite.append(spark, loc, Seq((i.toLong, "x")).toDF("k", "v")))
    val m0 = IcebergMetadata.load(loc)
    assert(m0.snapshots.size === 6)
    val chain = m0.snapshots.sortBy(_.sequenceNumber)
    val mid = chain(2).snapshotId

    val wh = Files.createTempDirectory("graft-iceret").toString
    spark.conf.set("spark.sql.catalog.ice_ret", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_ret.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_ret.m")
    spark.sql("CALL ice_ret.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    // SnapshotRetention through the SQL surface (foreign dialect):
    // a branch floor deeper than the global keep, an already-aged tag,
    // and a policy-free tag that pins forever
    spark.sql("CALL ice_ret.system.create_branch(table => 'm.t', " +
      "branch => 'dev', min_snapshots_to_keep => 4)").collect()
    spark.sql("CALL ice_ret.system.create_tag(table => 'm.t', " +
      s"tag => 'oldtag', snapshot_id => $mid, max_ref_age_ms => 1)")
      .collect()
    spark.sql("CALL ice_ret.system.create_tag(table => 'm.t', " +
      s"tag => 'keeptag', snapshot_id => $mid)").collect()

    // the policies survive an unrelated commit: the refs entries are
    // re-serialized with their retention fields intact
    IcebergWrite.append(spark, loc, Seq((7L, "y")).toDF("k", "v"))
    val m1 = IcebergMetadata.load(loc)
    assert(m1.refRetention.get("dev")
      .flatMap(_.minSnapshotsToKeep).contains(4))
    assert(m1.refRetention.get("oldtag").flatMap(_.maxRefAgeMs).contains(1L))
    assert(m1.refTypes.get("keeptag").contains("tag"))
    // ...and as BYTES: a strict reader sees the kebab-case fields
    val hint = java.nio.file.Files.readString(java.nio.file.Paths.get(
      loc, "metadata", "version-hint.text")).trim.toInt
    val mj = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(
        loc, "metadata", s"v$hint.metadata.json")))
    assert(mj.get("refs").get("dev").get("min-snapshots-to-keep")
      .asInt === 4)
    assert(mj.get("refs").get("oldtag").get("max-ref-age-ms").asLong === 1L)
    assert(mj.get("refs").get("oldtag").get("type").asText === "tag")
    // the refs metadata table surfaces the policy columns
    val refRows = spark.sql("SELECT name, type, min_snapshots_to_keep " +
      "FROM ice_ret.m.t.refs ORDER BY name").collect()
    assert(refRows.find(_.getString(0) == "dev")
      .exists(r => r.getString(1) == "branch" && r.getInt(2) == 4))
    assert(refRows.find(_.getString(0) == "keeptag")
      .exists(_.getString(1) == "tag"))

    // expire at global keepLast=1: oldtag's target predates its
    // 1 ms ref age so the REF disappears; keeptag still pins mid; dev
    // keeps its declared 4-ancestor floor over the global 1
    val (before, after) =
      graft.table.iceberg.IcebergMaintenance.expireSnapshots(loc, 1)
    assert(before === 7)
    val m2 = IcebergMetadata.load(loc)
    assert(!m2.refs.contains("oldtag"))
    assert(!m2.refRetention.contains("oldtag"))
    assert(m2.refs.get("keeptag").contains(mid))
    assert(m2.refTypes.get("keeptag").contains("tag"))
    // dev tip = chain(5); floor of 4 keeps seq 3..6; main keeps its
    // tip (the 7th); keeptag pins exactly mid (the 3rd) — 5 kept, and
    // mid is double-counted by dev's floor
    assert(after === 5)
    assert(m2.snapshots.map(_.snapshotId).toSet ===
      (chain.drop(2).map(_.snapshotId) :+
        m1.currentSnapshotId.get).toSet)
    // the time-travel read at the tag's pin still folds correctly
    assert(IcebergTable.load(spark, loc).timeTravel(mid).count() === 3L)

    // max-snapshot-age-ms: a branch window keeps everything younger
    // than the bound even past the floor — and ages out with nowMs
    val loc2 = tmp()
    IcebergWrite.create(spark, loc2, Seq((1L, "a")).toDF("k", "v"))
    (2 to 4).foreach(i =>
      IcebergWrite.append(spark, loc2, Seq((i.toLong, "x")).toDF("k", "v")))
    graft.table.iceberg.IcebergMaintenance.setRef(loc2, "window",
      IcebergMetadata.load(loc2).currentSnapshotId.get,
      retention = Some(IcebergMetadata.IceRefRetention(
        maxSnapshotAgeMs = Some(3600000L))))
    val (b2, a2) =
      graft.table.iceberg.IcebergMaintenance.expireSnapshots(loc2, 1)
    assert(b2 === 4 && a2 === 4, "everything is younger than the window")
    val (_, a3) = graft.table.iceberg.IcebergMaintenance.expireSnapshots(
      loc2, 1, nowMs = System.currentTimeMillis() + 7200000L)
    assert(a3 === 1, "an aged-out window falls back to the keep floor")
  }

  test("snapshot-log / metadata-log maintained at every commit: " +
      "append, bound, rollback re-append, expire trim") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    (2 to 4).foreach(i =>
      IcebergWrite.append(spark, loc, Seq((i.toLong, "x")).toDF("k", "v")))
    val m0 = IcebergMetadata.load(loc)
    // one snapshot-log entry per current move (create + 3 appends),
    // tail = current; one metadata-log entry per replaced version
    assert(m0.snapshotLog.size === 4)
    assert(m0.snapshotLog.last.snapshotId === m0.currentSnapshotId.get)
    // create = v1 (schema only) + v2 (initial data), appends v3..v5:
    // four replaced versions in the log
    assert(m0.metadataLog.size === 4)
    assert(m0.metadataLog.map(_.metadataFile)
      .forall(_.endsWith(".metadata.json")))

    // write.metadata.previous-versions-max bounds the metadata log
    IcebergMetadata.commitRetry(loc)(m => m.copy(properties =
      m.properties + ("write.metadata.previous-versions-max" -> "2")))
    (5 to 6).foreach(i =>
      IcebergWrite.append(spark, loc, Seq((i.toLong, "x")).toDF("k", "v")))
    assert(IcebergMetadata.load(loc).metadataLog.size === 2,
      "previous-versions-max must bound the kept entries")

    // a rollback RE-appends the older id: the change record shows the
    // current pointer moving back
    val firstAppend = m0.snapshotLog(1).snapshotId
    graft.table.iceberg.IcebergMaintenance.rollbackTo(loc, firstAppend)
    val m1 = IcebergMetadata.load(loc)
    assert(m1.snapshotLog.last.snapshotId === firstAppend)
    assert(m1.snapshotLog.count(_.snapshotId == firstAppend) === 2)

    // TIMESTAMP AS OF resolves through the log: "now" reads the
    // ROLLED-BACK state (what is current), not the latest-committed
    // snapshot a raw timestamp scan would pick
    val whL = Files.createTempDirectory("graft-icelog").toString
    spark.conf.set("spark.sql.catalog.ice_log", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.ice_log.warehouse", whL)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_log.m")
    spark.sql("CALL ice_log.system.register_table(table => 'm.t', " +
      s"location => '$loc')")
    val nowTs = new java.sql.Timestamp(System.currentTimeMillis()).toString
    assert(spark.sql("SELECT count(*) FROM ice_log.m.t " +
      s"TIMESTAMP AS OF '$nowTs'").collect()(0).getLong(0) === 2L,
      "time travel to now must see the rolled-back current state")

    // expire trims the log to ids still in history
    graft.table.iceberg.IcebergMaintenance.expireSnapshots(loc, 1)
    val m2 = IcebergMetadata.load(loc)
    val retained = m2.snapshots.map(_.snapshotId).toSet
    assert(m2.snapshotLog.nonEmpty)
    assert(m2.snapshotLog.forall(e => retained.contains(e.snapshotId)),
      "expired snapshots must leave the snapshot-log")
    assert(IcebergTable.load(spark, loc).scan().count() === 2L)
  }

  test("add_files refuses tables with renamed columns") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    IcebergWrite.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    IcebergWrite.renameColumn(loc, "v", "label")
    val src = Files.createTempDirectory("graft-afrn").toString
    Seq((2L, "b")).toDF("k", "label").write.mode("overwrite").parquet(src)
    val ex = intercept[Exception] {
      IcebergWrite.addFiles(loc, src)
    }
    assert(ex.getMessage.contains("renamed"))
    // pre-rename data still resolves by id after the refusal
    assert(IcebergTable.load(spark, loc).scan().select("label")
      .collect()(0).getString(0) === "a")
  }

  test("SQL INSERT routes rows by identity(timestamp) and day(timestamp_ntz)") {
    val spark0 = spark
    import spark0.implicits._
    val cat = s"tsp_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft-tspwh").toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    def register(name: String, loc: String): Unit =
      spark.sql(s"CALL $cat.system.register_table(table => 'm.$name', " +
        s"location => '$loc')")

    // identity over a zoned timestamp: an inserted row at an existing
    // value lands in that value's partition
    val zoned = tmp()
    IcebergWrite.createWithSpec(spark, zoned, Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-03-02 11:30:00"))).toDF("id", "ts"),
      Seq("ts" -> "identity"))
    register("zoned", zoned)
    spark.sql(s"INSERT INTO $cat.m.zoned VALUES " +
      "(3, TIMESTAMP '2024-03-01 10:00:00'), (4, TIMESTAMP '2024-03-05 08:15:30.5')")
    val z = IcebergTable.load(spark, zoned)
    assert(z.scan().count() === 4L)
    assert(z.plannedFiles().map(_._1.partition("ts")).toSet.size === 3)
    assert(z.plannedFiles(None, Seq(("ts", "=", "2024-03-01 10:00:00")))
      .map(_._1.partition("ts")).toSet.size === 1)
    assert(spark.sql(s"SELECT id FROM $cat.m.zoned " +
      "WHERE ts = TIMESTAMP '2024-03-01 10:00:00' ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 3L))

    // day over an Iceberg `timestamp` (no zone), which loads as
    // timestamp_ntz: values are epoch days of the local date
    val local = tmp()
    IcebergWrite.createWithSpec(spark, local, Seq(
      (1L, java.time.LocalDateTime.parse("2024-03-01T10:00:00")),
      (2L, java.time.LocalDateTime.parse("2024-03-02T11:30:00"))).toDF("id", "ts"),
      Seq("ts" -> "day"))
    register("local", local)
    spark.sql(s"INSERT INTO $cat.m.local VALUES " +
      "(3, TIMESTAMP_NTZ '2024-03-01 23:59:59'), (4, TIMESTAMP_NTZ '2024-03-05 00:00:00')")
    val l = IcebergTable.load(spark, local)
    assert(l.scan().count() === 4L)
    assert(l.plannedFiles().map(_._1.partition("ts_day"))
      .map(String.valueOf(_).toInt).toSet ===
      Set("2024-03-01", "2024-03-02", "2024-03-05")
        .map(java.time.LocalDate.parse(_).toEpochDay.toInt))
    assert(spark.sql(s"SELECT id FROM $cat.m.local " +
      "WHERE ts < TIMESTAMP_NTZ '2024-03-02 00:00:00' ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 3L))
  }

  test("a batch overwrite refuses when its branch moved after planning") {
    val spark0 = spark
    import spark0.implicits._
    val loc = tmp()
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v")
    IcebergWrite.create(spark, loc, df)
    // stage one row the way the executors do, against the head the
    // target loaded; `moved` lands a commit before the overwrite does
    def overwrite(moved: Boolean): Unit = {
      val target = new graft.spark.IcebergWriteTarget(loc)
      val staging = TableIO.path(loc, s"stage-${java.util.UUID.randomUUID()}")
      val w = target.writerFactory(df.schema, staging.toString).createWriter(0, 0L)
      w.write(org.apache.spark.sql.catalyst.InternalRow(
        100L, org.apache.spark.unsafe.types.UTF8String.fromString("x")))
      w.commit()
      if (moved) IcebergWrite.append(spark, loc, Seq((11L, "v11")).toDF("k", "v"))
      target.commitWrite(staging, truncate = true, "main", None)
    }
    intercept[java.util.ConcurrentModificationException](overwrite(moved = true))
    assert(IcebergTable.load(spark, loc).scan().count() === 11L)
    overwrite(moved = false)
    assert(IcebergTable.load(spark, loc).scan().select("k")
      .as[Long].collect().toSeq === Seq(100L))
  }
}
