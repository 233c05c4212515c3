package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.table.{GraftTable, Meta, Views}
import java.nio.file.Files

/** GraftTable: Iceberg table semantics as Spark jobs (SURVEY.md §2.C). */
class TableSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    Files.createTempDirectory("graft-table").toString + "/t"

  private def li = Tables.lineitem(spark, sf)

  test("create + append + scan round-trips rows exactly") {
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema)
    t.append(li)
    assert(t.scan().count() === li.count())
    val a = t.scan().agg(sum("l_quantity")).collect()(0).getDouble(0)
    val b = li.agg(sum("l_quantity")).collect()(0).getDouble(0)
    assert(math.abs(a - b) < 1e-6)
  }

  // each format reads footers on a driver pool at or below
  // spark.graft.stats.driverFooterThreshold and through a no-shuffle
  // sc.parallelize job above it — same stats either way
  for (format <- Seq("graft", "iceberg"))
  test("footer stats agree between the driver-pool and distributed paths" +
      (if (format == "iceberg") " [iceberg]" else "")) {
    val dir = Files.createTempDirectory("graft-footers").toString + "/files"
    val rows = li.limit(3000)
    rows.repartition(3, col("l_orderkey")).write.parquet(dir)
    val paths = graft.table.TableIO.listFilesRecursive(
        new org.apache.hadoop.fs.Path(dir))
      .map(_._1.toString).filter(_.endsWith(".parquet"))
    assert(paths.size === 3)
    def withThreshold[A](th: String)(f: => A): A = {
      val prev = spark.conf.getOption("spark.graft.stats.driverFooterThreshold")
      spark.conf.set("spark.graft.stats.driverFooterThreshold", th)
      try f
      finally prev match {
        case Some(v) => spark.conf.set("spark.graft.stats.driverFooterThreshold", v)
        case None => spark.conf.unset("spark.graft.stats.driverFooterThreshold")
      }
    }
    if (format == "graft") {
      val prunable = Set("l_orderkey", "l_shipdate", "l_quantity")
      def byPath(th: String) = withThreshold(th)(graft.table.FooterStats
        .collect(spark, paths, prunable).map(f => f.path -> f).toMap)
      val pooled = byPath("64")      // 3 <= 64: driver pool
      val jobbed = byPath("1")       // 3 > 1: distributed branch
      assert(pooled.keySet === jobbed.keySet)
      pooled.foreach { case (p, f) =>
        assert(f.records === jobbed(p).records)
        assert(f.stats === jobbed(p).stats)
        assert(f.stats.keySet === prunable) // every prunable column got bounds
        assert(f.columns === jobbed(p).columns)
      }
      assert(pooled.values.map(_.records).sum === 3000L)
    } else {
      val ice = graft.table.iceberg.IcebergMetadata.schemaFromSpark(rows.schema)
      // (records, lower, upper, nulls) with the encoded bounds as lists
      // so the two sides compare by value
      def byPath(th: String) = withThreshold(th)(graft.table.iceberg.IcebergWrite
        .collectFooterStats(spark, paths.map(new org.apache.hadoop.fs.Path(_)),
          rows.schema, ice)).map { case (p, (n, lo, hi, nulls)) =>
            p -> (n, lo.map(e => e._1 -> e._2.toList), hi.map(e => e._1 -> e._2.toList),
              nulls)
          }
      val pooled = byPath("64")
      val jobbed = byPath("1")
      assert(pooled === jobbed)
      assert(pooled.size === 3)
      assert(pooled.values.map(_._1).sum === 3000L)
      // every column got bounds
      pooled.values.foreach(f => assert(f._2.keySet === ice.fields.map(_.id).toSet))
    }
  }

  test("manifest-known scans expose the commit timestamp as file mtime") {
    // scans plan from manifest-known (path, size) — no re-stat — so the
    // fabricated FileStatus carries the latest commit's timestamp, and
    // that is what `_metadata.file_modification_time` observes (an
    // upper bound on when any live file became visible; never 1970)
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema)
    val before = System.currentTimeMillis()
    t.append(li.limit(100))
    val after = System.currentTimeMillis()
    val mt = t.scan()
      .select(col("_metadata.file_modification_time").cast("long") * 1000L)
      .distinct().collect().map(_.getLong(0))
    assert(mt.length === 1, s"expected one distinct mtime, got ${mt.toSeq}")
    assert(mt.head >= before - 1000 && mt.head <= after + 1000,
      s"mtime ${mt.head} outside commit window [$before, $after]")
  }

  test("table works with an explicit file:/// Hadoop URI root") {
    val root = "file://" + tmp()
    val t = GraftTable.create(spark, root, li.schema)
    t.append(li.limit(500))
    assert(t.scan().count() === 500)
    t.deleteWhereMoR(col("l_orderkey") === 1L, Seq("l_orderkey"))
    assert(t.scan().filter(col("l_orderkey") === 1L).count() === 0)
    // connector read over the same URI root
    assert(spark.read.format("graft").load(root).count() ===
      t.scan().count())
  }

  test("snapshots accumulate and time travel replays the chain") {
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema)
    val batch1 = li.filter(col("l_orderkey") % 2 === 0)
    val batch2 = li.filter(col("l_orderkey") % 2 =!= 0)
    t.append(batch1)
    val s1 = t.meta.currentSnapshotId.get
    t.append(batch2)
    assert(t.scan().count() === li.count())
    assert(t.timeTravel(s1).count() === batch1.count())
    assert(t.snapshotsDF.count() === 2)
  }

  test("stats pruning skips files a predicate cannot match") {
    val root = tmp()
    // write ordered by orderkey so files have disjoint key ranges
    val t = GraftTable.create(spark, root, li.schema)
    t.append(li.repartitionByRange(8, col("l_orderkey")))
    val all = t.plannedFiles(Seq.empty)
    val maxKey = li.agg(max("l_orderkey")).collect()(0).getLong(0)
    val pruned = t.plannedFiles(Seq(t.StatFilter("l_orderkey", ">", (maxKey - 10).toString)))
    assert(all.size === 8)
    assert(pruned.size < all.size, s"pruned=${pruned.size} all=${all.size}")
    // soundness: pruned scan returns exactly the matching rows
    val got = t.scan(Seq(t.StatFilter("l_orderkey", ">", (maxKey - 10).toString)))
      .filter(col("l_orderkey") > maxKey - 10).count()
    val want = li.filter(col("l_orderkey") > maxKey - 10).count()
    assert(got === want)
  }

  test("manifest-first pruning skips whole spilled groups without reading them") {
    val root = tmp()
    // inline-limit 0: every append spills its manifest to a side file
    // and records aggregate group bounds
    val t = GraftTable.create(spark, root, li.schema,
      properties = Map("manifest.inline-limit" -> "0"))
    t.append(li.filter(col("l_orderkey") <= 1000L)
      .repartitionByRange(4, col("l_orderkey")))
    t.append(li.filter(col("l_orderkey") > 1000L)
      .repartitionByRange(4, col("l_orderkey")))
    val m = t.meta
    val spilled = m.snapshots.filter(_.manifestGroups.nonEmpty)
    assert(spilled.size === 2)
    assert(spilled.forall(_.manifestGroups.forall(
      _.stats.get("l_orderkey").exists(st =>
        st.min.nonEmpty && st.max.nonEmpty))))
    // the predicate admits only the second snapshot; the first
    // snapshot's group manifest files are DELETED first, so resolving
    // any of them would throw — surviving proves the groups were
    // pruned bounds-first
    val firstGroups = spilled.minBy(_.snapshotId).manifestGroups
    val planned = {
      val baks = firstGroups.map { g =>
        val p = java.nio.file.Paths.get(
          g.path.stripPrefix("file:").replaceAll("^/+", "/"))
        val saved = java.nio.file.Files.readAllBytes(p)
        java.nio.file.Files.delete(p)
        (p, saved)
      }
      try t.plannedFiles(Seq(t.StatFilter("l_orderkey", ">", "1000")))
      finally baks.foreach { case (p, saved) =>
        java.nio.file.Files.write(p, saved) }
    }
    assert(planned.nonEmpty)
    val lo = planned.flatMap(_.stats.get("l_orderkey")).map(_.min.toLong)
    assert(lo.forall(_ > 1000L - 1), s"planned mins=$lo")
    // soundness: the filtered scan still returns exactly the right rows
    val got = t.scan(Seq(t.StatFilter("l_orderkey", ">", "1000")))
      .filter(col("l_orderkey") > 1000L).count()
    assert(got === li.filter(col("l_orderkey") > 1000L).count())
  }

  test("partitioned write produces partition dirs and partition pruning") {
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema,
      spec = Seq(Meta.PartitionField("l_shipdate", "month", "_p_month")))
    t.append(li)
    val files = t.plannedFiles(Seq.empty)
    assert(files.forall(_.partitionValues.contains("_p_month")))
    assert(files.map(_.partitionValues("_p_month")).distinct.size > 1)
    // rows survive partitioned write intact, source column preserved
    assert(t.scan().count() === li.count())
    assert(t.scan().columns.contains("l_shipdate"))
  }

  test("partition-spec evolution: per-file spec-ids, both eras prune") {
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema,
      spec = Seq(Meta.PartitionField("l_shipdate", "month", "_p_month")))
    t.append(li.filter(col("l_orderkey") % 2 === 0))
    t.setDefaultSpec(Seq(Meta.PartitionField("l_shipdate", "day", "_p_day")))
    t.append(li.filter(col("l_orderkey") % 2 =!= 0))
    val m = t.meta
    assert(m.specs.size === 2)
    assert(m.defaultSpecId === 1)
    val files = m.liveFiles(None)
    // both eras present, each stamped with its own spec id and carrying
    // that spec's partition field
    assert(files.exists(_.specId === 0) && files.exists(_.specId === 1))
    assert(files.filter(_.specId === 0).forall(_.partitionValues.contains("_p_month")))
    assert(files.filter(_.specId === 1).forall(_.partitionValues.contains("_p_day")))
    // re-setting an identical spec reuses its id (idempotent evolution)
    t.setDefaultSpec(Seq(Meta.PartitionField("l_shipdate", "month", "_p_month")))
    assert(t.meta.defaultSpecId === 0)
    assert(t.meta.specs.size === 2)
    t.setDefaultSpec(Seq(Meta.PartitionField("l_shipdate", "day", "_p_day")))
    // pruning: a one-month window must skip files in BOTH eras
    // (month-era by _p_month, day-era by _p_day), and stay sound
    val all = t.plannedFiles(Seq.empty)
    val mLo = "312" // 1996-01 in months-from-epoch
    val dLo = "9496"; val dHi = "9526" // 1996-01 in days-from-epoch
    val pruned = t.plannedFiles(Seq(
      t.StatFilter("_p_month", ">=", mLo), t.StatFilter("_p_month", "<=", mLo),
      t.StatFilter("_p_day", ">=", dLo), t.StatFilter("_p_day", "<=", dHi)))
    assert(pruned.filter(_.specId === 0).size <
      all.filter(_.specId === 0).size, "month era did not prune")
    assert(pruned.filter(_.specId === 1).size <
      all.filter(_.specId === 1).size, "day era did not prune")
    val got = t.scan(Seq(
        t.StatFilter("_p_month", ">=", mLo), t.StatFilter("_p_month", "<=", mLo),
        t.StatFilter("_p_day", ">=", dLo), t.StatFilter("_p_day", "<=", dHi)))
      .filter(year(col("l_shipdate")) === 1996 && month(col("l_shipdate")) === 1)
      .count()
    val want = li.filter(year(col("l_shipdate")) === 1996 &&
      month(col("l_shipdate")) === 1).count()
    assert(got === want)
    // metadata survives a JSON round-trip (spec list + per-file ids)
    val reloaded = Meta.load(root)
    assert(reloaded.specs === t.meta.specs)
    assert(reloaded.liveFiles(None).map(f => f.path -> f.specId).toMap ===
      files.map(f => f.path -> f.specId).toMap)
  }

  test("sort-order evolution: new writes cluster by the evolved order") {
    val root = tmp()
    // era 1: unclustered round-robin — key ranges overlap across files
    val t = GraftTable.create(spark, root, li.schema)
    t.append(li.repartition(8))
    val maxKey = li.agg(max("l_orderkey")).collect()(0).getLong(0)
    val flt = Seq(t.StatFilter("l_orderkey", ">", (maxKey - 10).toString))
    val era1Planned = t.plannedFiles(flt).size
    val era1All = t.plannedFiles(Seq.empty).size
    assert(era1Planned === era1All, "round-robin files should not prune")
    // evolve the write clustering; future writes range-cluster on the key
    t.setSortOrder(Seq("l_orderkey"))
    assert(graft.table.Meta.load(root).sortOrder === Seq("l_orderkey"))
    // clustering comes from the table, not the input layout (AQE off so
    // the range shuffle keeps multiple partitions on this tiny input)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try t.append(li.repartition(8))
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val all = t.plannedFiles(Seq.empty)
    val planned = t.plannedFiles(flt)
    // era-1 files all survive (overlapping ranges); era-2 files prune
    assert(all.size - planned.size > 0,
      s"evolved sort order did not enable pruning: ${planned.size}/${all.size}")
    // unknown sort column refused
    assertThrows[IllegalArgumentException](t.setSortOrder(Seq("nope")))
    // soundness across both eras
    val got = t.scan(flt).filter(col("l_orderkey") > maxKey - 10).count()
    assert(got === 2 * li.filter(col("l_orderkey") > maxKey - 10).count())
  }

  test("row-level commit aborts when a concurrent commit rewrote its files") {
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema)
    t.append(li.limit(1000).coalesce(1))
    // a row-level op scans these files...
    val scanned = t.meta.liveFiles(None).map(_.path)
    assert(scanned.nonEmpty)
    // ...then a concurrent writer rewrites them (CoW delete)
    val victim = li.limit(1).collect()(0).getLong(0)
    val expect = t.scan().filter(col("l_orderkey") =!= victim).count()
    t.delete(col("l_orderkey") === victim)
    assert(t.meta.liveFiles(None).map(_.path).intersect(scanned).isEmpty,
      "test setup: the delete should have rewritten every scanned file")
    // the stale op's commit must abort, not clobber the delete
    val staging = graft.table.TableIO.path(root, "stage-stale")
    li.limit(10).coalesce(1).write.parquet(staging.toString)
    assertThrows[java.util.ConcurrentModificationException] {
      t.commitStagedReplace(staging, scanned)
    }
    // the concurrent delete's result is intact
    assert(t.scan().count() === expect)
  }

  test("compaction preserves rows and reduces file count") {
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema)
    t.append(li.repartition(40))
    val before = t.filesDF.count()
    val rowsBefore = t.scan().count()
    val hashBefore = t.scan().agg(sum(hash(col("l_orderkey"), col("l_linenumber")).cast("long"))).collect()(0).getLong(0)
    t.compact(targetFileBytes = 512L * 1024 * 1024)
    val after = t.filesDF.count()
    assert(after < before, s"$after !< $before")
    assert(t.scan().count() === rowsBefore)
    val hashAfter = t.scan().agg(sum(hash(col("l_orderkey"), col("l_linenumber")).cast("long"))).collect()(0).getLong(0)
    assert(hashAfter === hashBefore, "row content changed in compaction")
  }

  test("branches isolate writes; refs move independently") {
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema)
    t.append(li.limit(100))
    val s1 = t.meta.currentSnapshotId.get
    t.setRef("dev", s1)
    t.append(li.limit(50), branch = "dev")  // dev gets +50
    t.append(li.limit(25))                   // main gets +25
    assert(t.scan(branch = Some("dev")).count() === 150)
    assert(t.scan().count() === 125)
  }

  test("schema evolution: new column null-filled for old files") {
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema)
    t.append(li.limit(100))
    t.addColumns(StructType(Seq(StructField("quality", DoubleType))))
    t.append(li.limit(50).withColumn("quality", lit(0.5)))
    val df = t.scan()
    assert(df.columns.contains("quality"))
    assert(df.filter(col("quality").isNull).count() === 100)
    assert(df.filter(col("quality") === 0.5).count() === 50)
    // appending a frame WITHOUT the added column must still work
    // (writers often lag a schema change); the rows null-fill
    t.append(li.limit(25))
    assert(t.scan().filter(col("quality").isNull).count() === 125)
  }

  test("float->double promotion never prunes files on imprecise float stats") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    // one tight file whose max is 0.3f — the float stat string "0.3"
    // parses to a double BELOW the widened cell value
    val df = Seq((1L, 0.1f), (2L, 0.2f), (3L, 0.3f)).toDF("k", "x").coalesce(1)
    val t = GraftTable.create(spark, root, df.schema)
    t.append(df)
    t.updateColumnType("x", DoubleType)
    assert(graft.table.Meta.load(root).statsUnprunable === Set("x"))
    // 0.3f widens to 0.30000001192092896 > 0.3 — the row must survive
    // even though the manifest's float-era max says "0.3"
    val got = t.scan(Seq(t.StatFilter("x", ">", "0.3")))
      .filter(col("x") > 0.3).count()
    assert(got === 1L, "float-era stats pruned a matching row")
    // metadata-only MAX over the promoted column must NOT be answered
    // from the (imprecise) manifest: the connector declines pushdown
    val viaConnector = spark.read.format("graft").load(root)
      .agg(max(col("x"))).collect()(0).getDouble(0)
    assert(viaConnector > 0.3, s"manifest answered imprecise max: $viaConnector")
  }

  test("ref retention: tags pin one snapshot, aged refs expire, main survives") {
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema)
    t.append(li.limit(100)) // s1
    val s1 = t.meta.currentSnapshotId.get
    t.append(li.limit(200)) // s2
    val s2 = t.meta.currentSnapshotId.get
    t.append(li.limit(50)) // s3
    t.setRef("rel-1.0", s1, Some(Meta.RefRetention(refType = "tag")))
    t.setRef("stale", s2, Some(Meta.RefRetention(maxRefAgeMs = Some(1L))))
    // "now" 10s in the future: the stale ref ages out (1ms policy),
    // the tag has no age policy and survives
    t.expireSnapshots(keepLast = 1, nowMs = System.currentTimeMillis() + 10000)
    val m2 = t.meta
    assert(!m2.refs.contains("stale"))
    assert(!m2.refRetention.contains("stale"))
    assert(m2.refs.contains("rel-1.0"))
    // the tag reads exactly its pinned content after the squash
    assert(t.scan(branch = Some("rel-1.0")).count() === 100)
    // main keeps reading the full current content
    assert(t.scan().count() === 350)
    // only the tag's snapshot and main's tip survive
    assert(m2.snapshots.map(_.snapshotId).toSet === Set(s1, m2.currentSnapshotId.get))
    // retention round-trips the metadata JSON
    assert(Meta.load(root).refRetention("rel-1.0").refType === "tag")
  }

  test("nested types: struct/array/map columns round-trip table and connector") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val df = Seq(
      (1L, ("a", 10), Seq(1.0, 2.0), Map("k1" -> 1L)),
      (2L, ("b", 20), Seq(3.0), Map("k2" -> 2L, "k3" -> 3L)))
      .toDF("id", "meta", "scores", "tags")
    val t = GraftTable.create(spark, root, df.schema)
    t.append(df)
    val got = t.scan().selectExpr("id", "meta._2", "size(scores)", "size(tags)")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(got === Set((1L, 10, 2, 1), (2L, 20, 1, 2)))
    // stats pruning on a TOP-LEVEL column still works alongside
    val planned = t.plannedFiles(Seq(t.StatFilter("id", ">", "1")))
    assert(planned.nonEmpty)
    // connector read, with pruning of nested columns
    val conn = spark.read.format("graft").load(root)
      .select(col("id"), col("meta._1").as("tag"), explode(col("scores")))
    assert(conn.count() === 3)
    // schema evolution still works next to nested columns
    t.addColumns(StructType(Seq(StructField("extra", StringType))))
    assert(t.scan().filter(col("extra").isNull).count() === 2)
  }

  test("delete-where rewrites only matching files") {
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema)
    t.append(li.repartitionByRange(8, col("l_orderkey")))
    val cut = li.agg(expr("percentile(l_orderkey, 0.9)")).collect()(0).getDouble(0).toLong
    t.delete(col("l_orderkey") > cut,
      touched = Seq(t.StatFilter("l_orderkey", ">", cut.toString)))
    assert(t.scan().filter(col("l_orderkey") > cut).count() === 0)
    val want = li.filter(col("l_orderkey") <= cut).count()
    assert(t.scan().count() === want)
    // untouched files carried over, not rewritten
    val lastOp = t.meta.snapshots.last
    assert(lastOp.operation === "delete")
    assert(lastOp.removedPaths.size < 8)
  }

  test("merge-on-read deletes: no data rewrite until applyDeletes") {
    val o = Tables.orders(spark, sf)
    val root = tmp()
    val t = GraftTable.create(spark, root, o.schema)
    t.append(o)
    val filesBefore = t.meta.liveFiles(None).map(_.path).toSet
    t.deleteWhereMoR(col("o_orderstatus") === "F", Seq("o_orderkey"))
    // data files untouched, scan already excludes the rows
    assert(t.meta.liveFiles(None).map(_.path).toSet === filesBefore)
    val want = o.filter(col("o_orderstatus") =!= "F").count()
    assert(t.scan().count() === want)
    assert(t.meta.liveDeleteFiles(None).nonEmpty)
    // folding in rewrites data and drops the delete files
    t.applyDeletes()
    assert(t.meta.liveDeleteFiles(None).isEmpty)
    assert(t.scan().count() === want)
    assert(t.scan().filter(col("o_orderstatus") === "F").count() === 0)
  }

  test("merge clears stale equality deletes so re-inserted keys survive") {
    val spark0 = spark
    import spark0.implicits._
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "amount")
    val t = GraftTable.create(spark, tmp(), base.schema)
    t.append(base)
    t.deleteWhereMoR(col("id") === 2L, Seq("id"))
    assert(t.scan().count() === 2)
    // merge re-inserts id=2: the old delete file must not re-apply
    t.merge(Seq((2L, 99.0)).toDF("id", "amount"),
      keyCols = Seq("id"), updateCols = Seq("amount"))
    val got = t.scan().orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.sameElements(Array((1L, 10.0), (2L, 99.0), (3L, 30.0))))
    assert(t.meta.liveDeleteFiles(None).isEmpty)
  }

  test("expire preserves delete files added by expired snapshots") {
    val o = Tables.orders(spark, sf)
    val t = GraftTable.create(spark, tmp(), o.schema)
    t.append(o)
    t.deleteWhereMoR(col("o_orderstatus") === "F", Seq("o_orderkey"))
    val want = t.scan().count()
    t.append(o.limit(0)) // advance the chain past the delete snapshot
    t.expireSnapshots(keepLast = 1)
    assert(t.meta.liveDeleteFiles(None).nonEmpty,
      "squash must carry the live delete files")
    assert(t.scan().count() === want, "deleted rows resurrected after expire")
    t.vacuum(0L)
    assert(t.scan().count() === want)
  }

  test("append after MoR delete is not hidden (sequence scoping)") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val t = GraftTable.create(spark, root, df.schema)
    t.append(df)
    t.deleteWhereMoR(col("id") === 2L, Seq("id"))
    assert(t.scan().count() === 2)
    // re-insert the deleted key AFTER the delete: the equality delete
    // has a smaller sequence number and must not apply to the new file
    t.append(Seq((2L, "b2")).toDF("id", "v"))
    val rows = t.scan().orderBy("id").collect()
    assert(rows.length === 3, "re-inserted key hidden by an older delete")
    assert(rows(1).getString(1) === "b2")
  }

  test("positional MoR delete drops exact row slots; later appends unaffected") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")
    val t = GraftTable.create(spark, root, df.schema)
    t.append(df.coalesce(1))
    t.deleteWhereMoRPositional(col("id") % 2L === 0L)
    assert(t.scan().select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    // re-insert one deleted value AFTER the positional delete: position
    // deletes target old row slots, never the new file
    t.append(Seq((2L, "b2")).toDF("id", "v"))
    assert(t.scan().select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    // connector read agrees (executor-side positional filtering)
    val conn = spark.read.format("graft").load(root)
    assert(conn.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    // filters still work with positional deletes live
    assert(conn.filter(col("id") > 1L).count() === 2)
    // stacking: equality delete on top of positional
    t.deleteWhereMoR(col("id") === 1L, Seq("id"))
    assert(t.scan().select("id").as[Long].collect().sorted.toSeq === Seq(2L, 3L))
    assert(spark.read.format("graft").load(root)
      .select("id").as[Long].collect().sorted.toSeq === Seq(2L, 3L))
    // fold everything in: rewrite clears both delete kinds
    t.applyDeletes()
    assert(t.meta.liveDeleteFiles(None).isEmpty)
    assert(t.scan().select("id").as[Long].collect().sorted.toSeq === Seq(2L, 3L))
  }

  test("MoR UPDATE rewrites matching rows via position delete + append") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val df = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "x")
    val t = GraftTable.create(spark, root, df.schema)
    t.append(df.coalesce(1))
    t.updateWhereMoR(col("id") >= 2L, Seq("x" -> (col("x") * 10)))
    val rows = t.scan().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows === Seq((1L, 10.0), (2L, 200.0), (3L, 300.0)))
    // connector read agrees; no data files were rewritten (MoR)
    assert(spark.read.format("graft").load(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq === rows)
    assert(t.meta.liveDeleteFiles(None).nonEmpty)
    // a later equality delete still reaches the updated rows
    t.deleteWhereMoR(col("id") === 2L, Seq("id"))
    assert(t.scan().select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
  }

  test("rollbackTo makes an earlier snapshot current again") {
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema)
    t.append(li.limit(100))
    val s1 = t.meta.currentSnapshotId.get
    t.append(li.limit(50))
    assert(t.scan().count() === 150)
    t.rollbackTo(s1)
    assert(t.scan().count() === 100)
    // rollback is reversible: the newer snapshot still exists
    assert(t.meta.snapshots.size === 2)
  }

  test("CoW delete keeps rows where the predicate is NULL") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val df = Seq((1L, Some(10.0)), (2L, None), (3L, Some(3.0)))
      .toDF("id", "x")
    val t = GraftTable.create(spark, root, df.schema)
    t.append(df)
    t.delete(col("x") > 5.0)
    val ids = t.scan().select("id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(2L, 3L), "NULL-predicate row must survive DELETE")
  }

  test("merge upserts matching keys and inserts new ones") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "amount")
    val t = GraftTable.create(spark, root, base.schema)
    t.append(base)
    val updates = Seq((2L, "b2", 99.0), (4L, "d", 40.0))
      .toDF("id", "name", "amount")
    t.merge(updates, keyCols = Seq("id"), updateCols = Seq("name", "amount"))
    val got = t.scan().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.sameElements(Array(
      (1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0))))
  }

  test("views resolve over current table state") {
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema)
    t.append(li.limit(500))
    val vroot = root + "-view"
    Views.createView(vroot, "qty_by_flag",
      "SELECT l_returnflag, count(*) AS n FROM li GROUP BY 1",
      Map("li" -> root))
    val before = Views.queryView(spark, vroot).agg(sum("n")).collect()(0).getLong(0)
    assert(before === 500)
    t.append(li.limit(100))
    val after = Views.queryView(spark, vroot).agg(sum("n")).collect()(0).getLong(0)
    assert(after === 600)
  }

  test("view representation evolution: dialects version forward") {
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema)
    t.append(li.limit(100))
    val vroot = root + "-view"
    Views.createView(vroot, "cnt", "SELECT count(*) AS n FROM src",
      Map("src" -> root))
    // add a duckdb representation: new version, spark execution unchanged
    val (_, v2) = Views.updateRepresentation(vroot, "duckdb",
      "SELECT count(*) AS n FROM read_parquet('src/**.parquet')")
    assert(v2 === 2)
    assert(Views.queryView(spark, vroot).collect()(0).getLong(0) === 100L)
    val (cur, ver) = Views.loadViewVersioned(vroot)
    assert(ver === 2)
    assert(cur.sqlFor("duckdb").exists(_.contains("read_parquet")))
    assert(cur.sqlFor("spark").exists(_.contains("FROM src")))
    // evolving the spark dialect moves what queryView executes...
    Views.updateRepresentation(vroot, "spark",
      "SELECT count(*) + 1 AS n FROM src")
    assert(Views.queryView(spark, vroot).collect()(0).getLong(0) === 101L)
    // ...and carries the other dialect forward
    assert(Views.loadView(vroot).sqlFor("duckdb").isDefined)
    // a commit against a superseded base loses (version CAS)
    assert(!Views.commitViewAt(vroot, Views.loadView(vroot), 2))
  }

  test("materialized view: staleness by lineage, full refresh") {
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema)
    t.append(li.limit(500))
    val mvroot = root + "-mv"
    val mv = Views.createMaterializedView(spark, mvroot, "flag_counts",
      "SELECT l_returnflag, count(*) AS n FROM li GROUP BY 1",
      Map("li" -> root))
    assert(!mv.isFresh) // never refreshed
    mv.refresh()
    assert(mv.isFresh)
    val n1 = mv.read.agg(sum("n")).collect()(0).getLong(0)
    assert(n1 === 500)
    t.append(li.limit(100)) // source moves → stale
    assert(!mv.isFresh)
    assert(mv.read.agg(sum("n")).collect()(0).getLong(0) === 500) // stale read
    mv.refresh()
    assert(mv.isFresh)
    assert(mv.read.agg(sum("n")).collect()(0).getLong(0) === 600)
  }

  test("stat comparator orders decimals by value, not lexicographically") {
    import org.apache.spark.sql.types.DecimalType
    val cmp = Meta.comparator(DecimalType(10, 2))
    assert(cmp("9.50", "10.20") < 0) // lexicographic would say 9.50 > 10.20
    assert(cmp("10.20", "9.50") > 0)
    assert(cmp("9.50", "9.5") === 0) // scale-insensitive equality
    assert(cmp("-2.00", "1.00") < 0)
  }

  test("field-id write flag is scoped: graft writes ids even when the user disables it") {
    val spark0 = spark
    import spark0.implicits._
    val key = "spark.sql.parquet.fieldId.write.enabled"
    val prior = spark.conf.getOption(key)
    // the user turns the (default-true) flag OFF for their own writes
    spark.conf.set(key, "false")
    try {
      val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      val root = tmp()
      val t = GraftTable.create(spark, root, df.schema)
      t.append(df)
      // graft's write still stamped ids (scoped conf, not the session):
      // a rename binds the old bytes by id, which only works with ids
      // in the footers
      t.renameColumn("v", "w")
      assert(GraftTable.load(spark, root).scan().select("w")
        .collect().map(_.getString(0)).sorted.toSeq === Seq("a", "b"))
      // and the user's session setting is untouched
      assert(spark.conf.get(key) === "false",
        "graft write overwrote the user's session write flag")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("nested leaf select resolves after a struct column rename") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.types._
    val root = tmp()
    val df = Seq((1L, (7L, "x")), (2L, (8L, "y"))).toDF("k", "meta")
    val t = GraftTable.create(spark, root, df.schema)
    t.append(df)
    // files carry the OLD top-level name; a leaf select after the
    // rename goes through nested-schema pruning, which rebuilds the
    // read schema WITHOUT parquet.field.id — the PruneBarrier in the
    // scan is what keeps the struct resolving by id
    t.renameColumn("meta", "info")
    val got = GraftTable.load(spark, root).scan()
      .select(col("k"), col("info._1").as("a")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === Seq((1L, 7L), (2L, 8L)))
    // whole-struct read agrees
    assert(GraftTable.load(spark, root).scan()
      .filter(col("k") === 2L).select("info")
      .collect()(0).getStruct(0).getString(1) === "y")
  }

  test("changesBetween: per-commit net changes, carryovers cancel") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val df1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val t = GraftTable.create(spark, root, df1.schema)
    t.append(df1)
    val s1 = t.meta.currentSnapshotId.get
    t.append(Seq((4L, "d"), (5L, "e")).toDF("k", "v"))
    val s2 = t.meta.currentSnapshotId.get
    // CoW delete rewrites the touched file: carryover rows (the
    // file's surviving rows) must NOT appear as changes
    t.delete(col("k") === 2L)
    val s3 = t.meta.currentSnapshotId.get

    val all = t.changesBetween(Some(s1)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(all.sorted.toSeq === Seq(
      (2L, "b", "delete", s3),
      (4L, "d", "insert", s2),
      (5L, "e", "insert", s2)))
    // full-history changelog replays the table
    val replay = t.changesBetween(None).collect()
    assert(replay.count(_.getString(2) == "insert") === 5)
    assert(replay.count(_.getString(2) == "delete") === 1)
    // bounded sub-range sees only its commits
    assert(t.changesBetween(Some(s2), Some(s3)).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq === Seq((2L, "delete")))
    // compaction is row-preserving: no changes emitted
    t.compact()
    assert(t.changesBetween(Some(s3)).count() === 0)
    // a MoR equality delete emits exactly its hidden rows
    t.deleteWhereMoR(col("k") === 4L, Seq("k"))
    assert(t.changesBetween(Some(s3)).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq === Seq((4L, "delete")))
    // positional MoR update emits the replaced slot + the new row
    val sMor = t.meta.currentSnapshotId.get
    t.updateWhereMoR(col("k") === 5L, Seq("v" -> lit("E")))
    assert(t.changesBetween(Some(sMor)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
      === Seq((5L, "E", "insert"), (5L, "e", "delete")))
    // incremental append scan between snapshots
    assert(t.scanAppendedBetween(Some(s1), Some(s2))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq === Seq(4L, 5L))
  }

  test("changelog over interleaved MoR and CoW history nets out") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val df1 = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    val t = GraftTable.create(spark, root, df1.schema)
    t.append(df1.coalesce(1)) // one file: the CoW below rewrites it
    t.deleteWhereMoR(col("k") <= 5L, Seq("k"))
    val sMor = t.meta.currentSnapshotId.get
    // CoW delete rewrites the file that still HOLDS the MoR-hidden
    // rows: they must not re-emit as a second deletion
    t.delete(col("k") > 90L)
    val sCow = t.meta.currentSnapshotId.get
    // folding is row-preserving for visible rows: emits nothing
    t.applyDeletes()
    val sFold = t.meta.currentSnapshotId.get

    val ch = t.changesBetween(None).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(ch.count(_._3 == "insert") === 100)
    val dels = ch.filter(_._3 == "delete")
    assert(dels.map(x => (x._1, x._4)).sorted.toSeq ===
      ((1L to 5L).map(k => (k, sMor)) ++ (91L to 100L).map(k => (k, sCow))))
    assert(!ch.exists(_._4 == sFold), "rewrite-fold emitted changes")
    // exceptAll oracle: replaying the changelog rebuilds the table
    val replayed = ch.filter(_._3 == "insert").map(x => (x._1, x._2))
      .diff(dels.map(x => (x._1, x._2)).toSeq)
    assert(replayed.sorted.toSeq === t.scan().collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq)
  }

  test("changelog over a mixed CoW+MoR commit folds its delete files") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val df1 = (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v")
    val t = GraftTable.create(spark, root, df1.schema)
    t.append(df1.coalesce(1))
    val snapIds = t.meta.snapshots.map(_.snapshotId)
    t.delete(col("k") > 8L)
    t.deleteWhereMoR(col("k") <= 2L, Seq("k"))
    // merge the CoW delete and the MoR delete into ONE snapshot — the
    // shape a foreign mixed-mode writer commits (rewrite + new delete
    // files together), which graft's own API never produces
    val m0 = GraftTable.load(spark, root).meta
    val Seq(s1, s2, s3) = m0.snapshots
    val mixed = s2.copy(addedDeleteFiles = s3.addedDeleteFiles.map(f =>
      f.copy(dataSequence = Some(s3.sequenceNumber))))
    graft.table.Meta.write(root, m0.copy(
      snapshots = Seq(s1, mixed),
      currentSnapshotId = Some(mixed.snapshotId),
      refs = m0.refs.map { case (n, id) =>
        n -> (if (id == s3.snapshotId) mixed.snapshotId else id) }))

    val t2 = GraftTable.load(spark, root)
    // visible state: 3..8 (CoW dropped 9,10; own eq delete hides 1,2)
    assert(t2.scan().select("k").collect().map(_.getLong(0)).sorted.toSeq
      === (3L to 8L))
    val ch = t2.changesBetween(None).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(ch.filter(_._3 == "insert").map(_._1).sorted.toSeq === (1L to 10L))
    assert(ch.filter(_._3 == "delete").map(x => (x._1, x._4)).sorted.toSeq
      === Seq(1L, 2L, 9L, 10L).map(k => (k, mixed.snapshotId)))
    // exceptAll oracle
    val replayed = ch.filter(_._3 == "insert").map(x => (x._1, x._2))
      .diff(ch.filter(_._3 == "delete").map(x => (x._1, x._2)).toSeq)
    assert(replayed.sorted.toSeq === t2.scan().collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq)
    assert(snapIds.size === 1)
  }

  test("changelog metadata IO is range-proportional, not table-age") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val df1 = Seq((0L, "z")).toDF("k", "v")
    // inline-limit 0: every snapshot's manifest spills to a side file,
    // so manifest reads are countable per snapshot
    val t = GraftTable.create(spark, root, df1.schema,
      properties = Map("manifest.inline-limit" -> "0"))
    for (i <- 1L to 10L)
      t.append(Seq((i, s"v$i")).toDF("k", "v").coalesce(1))
    val chain = t.meta.chainSnapshots(None)
    val sPrev = chain(chain.size - 2).snapshotId

    // changelog over the LAST commit only: loads that commit's
    // manifest group, none of the other nine (the old whole-history
    // fileByPath forced every spilled group in the table)
    val before = Meta.manifestReads.get()
    val rows = t.changesBetween(Some(sPrev)).collect()
    val delta = Meta.manifestReads.get() - before
    assert(rows.length === 1 && rows.head.getLong(0) === 10L)
    assert(delta <= 2, s"one-append changelog read $delta spilled manifests")

    // CoW delete of the newest row (stat-pruned to its one file): the
    // pre-range resolver walks ancestors newest-first and STOPS at the
    // adding snapshot — the range-end's lineage is never fully replayed
    t.delete(col("k") === 10L, Seq(t.StatFilter("k", "=", "10")))
    val sDel = t.meta.currentSnapshotId.get
    val before2 = Meta.manifestReads.get()
    val ch = t.changesBetween(Some(t.meta.snapshot(sDel).get.parentId.get))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    val delta2 = Meta.manifestReads.get() - before2
    assert(ch === Seq((10L, "delete")))
    assert(delta2 <= 4, s"one-commit CoW changelog read $delta2 spilled manifests")
  }

  test("add_files imports foreign id-less parquet in place") {
    val o = Tables.orders(spark, sf)
    val src = Files.createTempDirectory("graft-import").toString + "/src"
    val foreign = o.filter(col("o_orderkey") % 2 === 0)
    foreign.write.parquet(src) // plain write: no field ids in footers
    val native = o.filter(col("o_orderkey") % 2 =!= 0)
    val t = GraftTable.create(spark, tmp(), o.schema)
    t.append(native)
    val added = t.addFiles(src)
    assert(added.nonEmpty)
    // entries point at the SOURCE files (no copy) and carry stats
    assert(added.forall(_.path.contains(src)))
    assert(added.forall(_.stats.nonEmpty))
    assert(added.forall(_.nameMapping.exists(_.nonEmpty)))
    // mixed native + imported scan is exact
    assert(t.scan().count() === o.count())
    assert(t.scan().except(o).isEmpty && o.except(t.scan()).isEmpty)
    // manifest pruning works off the imported footer stats
    val maxK = o.agg(max("o_orderkey")).collect()(0).getLong(0)
    val all = t.plannedFiles(Seq.empty).size
    val some = t.plannedFiles(
      Seq(t.StatFilter("o_orderkey", ">", maxK.toString))).size
    assert(some < all, s"planned $some of $all")
    // RENAME after import: the pinned mapping keeps resolving the
    // foreign bytes under the import-time column name
    t.renameColumn("o_totalprice", "price")
    val wantSum = o.agg(sum("o_totalprice")).collect()(0).getDouble(0)
    val gotSum = t.scan().agg(sum("price")).collect()(0).getDouble(0)
    assert(math.abs(gotSum - wantSum) < 1e-4)
    // equality MoR delete applies across imported files too
    t.deleteWhereMoR(col("o_orderkey") === foreign
      .agg(min("o_orderkey")).collect()(0).getLong(0), Seq("o_orderkey"))
    assert(t.scan().count() === o.count() - 1)
    // vacuum never touches the foreign source files
    t.expireSnapshots(keepLast = 1)
    t.vacuum(0L)
    assert(t.scan().count() === o.count() - 1)
    assert(foreign.count() === spark.read.parquet(src).count())
  }

  test("add_files derives identity partition values from hive dirs") {
    val o = Tables.orders(spark, sf)
    val src = Files.createTempDirectory("graft-import-part").toString + "/src"
    o.write.partitionBy("o_orderstatus").parquet(src)
    // partitionBy MOVES the column into the path; the table schema
    // keeps it, so reads null-fill... import against the written shape
    val written = spark.read.parquet(src)
    val schema = StructType(written.schema.fields.map(_.copy(nullable = true)))
    val t = GraftTable.create(spark, tmp(), schema,
      spec = Seq(Meta.PartitionField("o_orderstatus", "identity", "_p_st")))
    val added = t.addFiles(src)
    assert(added.forall(_.partitionValues.contains("_p_st")))
    // partition pruning by the derived values
    val all = t.plannedFiles(Seq.empty).size
    val fOnly = t.plannedFiles(Seq(t.StatFilter("o_orderstatus", "=", "F"))).size
    assert(fOnly < all, s"planned $fOnly of $all")
    // hive layout strips the partition column from the data pages;
    // the read path fills the per-file dir constant back in
    assert(t.scan().count() === o.count())
    assert(t.scan().filter(col("o_orderstatus").isNull).count() === 0)
    val cols = o.columns.sorted.map(col).toIndexedSeq
    assert(t.scan().select(cols: _*).except(o.select(cols: _*)).isEmpty)
    assert(o.select(cols: _*).except(t.scan().select(cols: _*)).isEmpty)
  }

  test("changelog reconciles a NULL-keyed equality delete with the " +
      "snapshot diff (null-safe delete slice)") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val df = Seq((1L, Some("x")), (2L, Option.empty[String]),
      (3L, Option.empty[String]), (4L, Some("y"))).toDF("k", "v")
    val t = GraftTable.create(spark, root, df.schema)
    t.append(df)
    val s1 = t.meta.currentSnapshotId.get
    // the delete predicate matches a null-keyed row, so the equality
    // delete file carries a NULL key tuple (valid per spec)
    t.deleteWhereMoR(col("v").isNull || col("v") === "x", Seq("v"))
    assert(t.scan().select("k").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(4L))
    // the changelog must report the SAME rows as deletes (null-safe
    // key match) or it stops reconciling with the snapshot diff
    val ch = t.changesBetween(Some(s1)).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    assert(ch.sorted.toSeq === Seq(
      (1L, "delete"), (2L, "delete"), (3L, "delete")))
  }
}
