package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.table.GraftTable
import java.nio.file.Files

class MaintenanceSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    Files.createTempDirectory("graft-maint").toString + "/t"

  test("expire + vacuum drops unreferenced files, live scans unchanged") {
    val li = Tables.lineitem(spark, sf)
    val t = GraftTable.create(spark, tmp(), li.schema)
    t.append(li.limit(100))
    t.append(li.limit(200))
    t.overwrite(li.limit(300)) // makes the first two snapshots' files orphanable
    val rowsBefore = t.scan().count()
    t.expireSnapshots(keepLast = 1)
    assert(t.meta.snapshots.size === 1)
    val removed = t.vacuum(0L)
    assert(removed.nonEmpty, "overwritten files should be orphaned")
    assert(t.scan().count() === rowsBefore)
  }

  test("expire keeps branch ancestry") {
    val li = Tables.lineitem(spark, sf)
    val t = GraftTable.create(spark, tmp(), li.schema)
    t.append(li.limit(100))
    t.setRef("dev", t.meta.currentSnapshotId.get)
    t.append(li.limit(50))
    t.append(li.limit(25))
    t.expireSnapshots(keepLast = 1)
    // dev's tip snapshot must survive because the ref points at it
    assert(t.scan(branch = Some("dev")).count() === 100)
    assert(t.scan().count() === 175)
    t.vacuum(0L)
    assert(t.scan(branch = Some("dev")).count() === 100)
  }

  test("expire_snapshots older_than_ms keeps young history past the " +
      "keep_last floor; an aged-out bound falls back to the floor") {
    val spark0 = spark
    import spark0.implicits._
    val t = GraftTable.create(spark, tmp(), Seq(1L).toDF("k").schema)
    (1 to 3).foreach(i => t.append(Seq(i.toLong).toDF("k")))
    // everything is younger than the hour bound: nothing expires even
    // though the floor is 1
    t.expireSnapshots(keepLast = 1, maxAgeMs = Some(3600000L))
    assert(t.meta.snapshots.size === 3)
    // two hours later the bound keeps nothing extra: floor of 1 wins
    t.expireSnapshots(keepLast = 1,
      nowMs = System.currentTimeMillis() + 7200000L,
      maxAgeMs = Some(3600000L))
    assert(t.meta.snapshots.size === 1)
    assert(t.scan().count() === 3L)
  }

  test("prune_stream_props drops only retired high-water properties, " +
      "and only once history provably spans the window") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val t = GraftTable.create(spark, root, Seq(1L).toDF("k").schema)
    def epoch(qid: String, eid: Long, rows: Seq[Long]): Unit = {
      val staging = new org.apache.hadoop.fs.Path(root, s"stage-$qid-$eid")
      rows.toDF("k").coalesce(1).write.parquet(staging.toString)
      t.commitStagedWrite(staging, overwrite = false,
        summaryExtra = Map("streaming-query-id" -> qid,
          "streaming-epoch-id" -> eid.toString),
        propsExtra = Map(s"graft.streaming.epoch.$qid" -> eid.toString))
    }
    epoch("qa", 3L, Seq(1L, 2L)) // the pipeline that will be retired
    t.append(Seq(3L).toDF("k"))
    t.append(Seq(4L).toDF("k"))
    epoch("qb", 7L, Seq(5L)) // the live pipeline (stamp stays newest)
    // both guards present while both queries' stamps are in history;
    // nothing is prune-eligible
    assert(t.removeOrphanFiles(0L, dryRun = true, pruneStreamProps = true)
      .count(_.startsWith("property:")) === 0)
    // expire drops qa's stamped snapshot from history (squash);
    // qb's stamp survives as the newest snapshot
    t.expireSnapshots(keepLast = 2)
    val m = t.meta
    assert(!m.snapshots.exists(
      _.summary.get("streaming-query-id").contains("qa")))
    assert(m.snapshots.exists(
      _.summary.get("streaming-query-id").contains("qb")))
    // dry run REPORTS the retired guard but drops nothing
    val dry = t.removeOrphanFiles(0L, dryRun = true, pruneStreamProps = true)
    assert(dry.contains("property:graft.streaming.epoch.qa"), dry.toString)
    assert(t.meta.properties.contains("graft.streaming.epoch.qa"))
    // a window the retained history does NOT span keeps the guard —
    // an aggressive expire right after qa's last epoch must not make
    // a possibly-live query's guard look retired
    assert(t.removeOrphanFiles(3600000L, dryRun = false,
        pruneStreamProps = true).count(_.startsWith("property:")) === 0)
    assert(t.meta.properties.contains("graft.streaming.epoch.qa"))
    // window spanned (0ms): qa's guard drops, qb's stays
    val swept = t.removeOrphanFiles(0L, dryRun = false,
      pruneStreamProps = true)
    assert(swept.contains("property:graft.streaming.epoch.qa"))
    assert(!t.meta.properties.contains("graft.streaming.epoch.qa"))
    assert(t.meta.properties.get("graft.streaming.epoch.qb").contains("7"))
    assert(t.scan().count() === 5L)
  }

  test("sort order clusters files into disjoint key ranges") {
    val li = Tables.lineitem(spark, sf)
    val t = GraftTable.create(spark, tmp(), li.schema,
      sortOrder = Seq("l_orderkey"))
    // AQE coalesces this small input to one partition (correct at
    // scale); disable to observe multi-file clustering
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try t.append(li)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val files = t.plannedFiles(Seq.empty)
    assert(files.size > 1, "want multiple files to check clustering")
    val ranges = files.map(f =>
      (f.stats("l_orderkey").min.toLong, f.stats("l_orderkey").max.toLong))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, max1), (min2, _)) =>
        assert(max1 <= min2, s"overlapping file ranges: $ranges")
      case _ =>
    }
    // pruning now selects a strict subset for a point-ish predicate
    val mid = ranges(ranges.size / 2)._1.toString
    val planned = t.plannedFiles(Seq(t.StatFilter("l_orderkey", "=", mid)))
    assert(planned.size < files.size)
  }

  test("compaction on a sorted table honors the bin-pack target AND re-clusters") {
    val li = Tables.lineitem(spark, sf)
    val t = GraftTable.create(spark, tmp(), li.schema,
      sortOrder = Seq("l_orderkey"))
    // many small unclustered-ish appends
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try (0 until 4).foreach(i =>
      t.append(li.filter(col("l_orderkey") % 4 === i)))
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val before = t.plannedFiles(Seq.empty)
    assert(before.size >= 4)
    t.compact() // default 128 MB target: everything fits one bin
    val after = t.plannedFiles(Seq.empty)
    // the bin-pack target governs the file count — NOT the shuffle
    // partition default the range-clustering shuffle would pick
    assert(after.size === 1,
      s"sorted compaction must respect targetN, got ${after.size} files")
    assert(t.scan().count() === li.count())
    // multi-bin case keeps files range-disjoint (clustering preserved)
    val t2 = GraftTable.create(spark, tmp(), li.schema,
      sortOrder = Seq("l_orderkey"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try (0 until 4).foreach(i =>
      t2.append(li.filter(col("l_orderkey") % 4 === i)))
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val smallTarget = t2.plannedFiles(Seq.empty).map(_.fileSizeBytes).sum / 3
    t2.compact(smallTarget)
    val files2 = t2.plannedFiles(Seq.empty)
    assert(files2.size > 1 && files2.size < 8)
    val ranges = files2.map(f =>
      (f.stats("l_orderkey").min.toLong, f.stats("l_orderkey").max.toLong))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, max1), (min2, _)) =>
        assert(max1 <= min2, s"compaction lost clustering: $ranges")
      case _ =>
    }
    assert(t2.scan().count() === li.count())
  }

  test("multi-group manifest spill: group-granular pruning, round-trip, rewrite") {
    val li = Tables.lineitem(spark, sf)
    val root = tmp()
    // no table sort order: the write preserves the incoming 32
    // range-disjoint partitions; the spill's own sort key (first
    // stats-bearing column) must still produce tight groups
    val t = GraftTable.create(spark, root, li.schema,
      properties = Map("manifest.inline-limit" -> "8"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try t.append(li.repartitionByRange(32, col("l_orderkey")))
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // one append of 32 range-disjoint files spills into 4 sorted groups
    val m = graft.table.Meta.load(root)
    val groups = m.snapshots.head.manifestGroups
    assert(groups.size === 4, s"expected 4 groups, got ${groups.size}")
    // groups carry tight, pairwise-disjoint l_orderkey bounds
    val bounds = groups.map(g => (g.stats("l_orderkey").min.toLong,
      g.stats("l_orderkey").max.toLong)).sortBy(_._1)
    bounds.sliding(2).foreach {
      case Seq((_, max1), (min2, _)) =>
        assert(max1 <= min2, s"overlapping group bounds: $bounds")
      case _ =>
    }
    // a high-key predicate plans exactly the matching files and the
    // result set is exact
    val cut = bounds.last._1.toString
    val planned = t.plannedFiles(Seq(t.StatFilter("l_orderkey", ">=", cut)))
    assert(planned.size <= 8 && planned.nonEmpty)
    assert(t.scan(Seq(t.StatFilter("l_orderkey", ">=", cut)))
      .filter(col("l_orderkey") >= cut.toLong).count() ===
      li.filter(col("l_orderkey") >= cut.toLong).count())
    assert(t.scan().count() === li.count())

    // legacy single-file manifest (pre-multi-group tables): simulate,
    // then rewrite_manifests re-spills it into sorted groups
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val merged = mapper.createArrayNode()
    groups.foreach { g =>
      mapper.readTree(new java.io.File(g.path)).elements()
        .forEachRemaining(n => merged.add(n))
    }
    val legacyPath = s"${root}/metadata/manifests/legacy.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(legacyPath),
      mapper.writeValueAsString(merged).getBytes)
    val legacySnap = m.snapshots.head.copy(
      manifestPath = Some(legacyPath), manifestGroups = Seq.empty)
    graft.table.Meta.write(root, m.copy(snapshots = Seq(legacySnap)))
    val t2 = GraftTable.load(spark, root)
    assert(t2.meta.snapshots.head.manifestPath.isDefined)
    assert(t2.rewriteManifests() === 1)
    val again = t2.meta.snapshots.head.manifestGroups
    assert(again.size === 4 && t2.meta.snapshots.head.manifestPath.isEmpty)
    assert(t2.scan().count() === li.count())

    // the de-referenced legacy manifest is orphan-GC'd; live group
    // manifests survive the sweep
    val swept = t2.removeOrphanFiles(0L)
    assert(swept.exists(_.contains("legacy.json")), s"swept=$swept")
    assert(!new java.io.File(legacyPath).exists())
    assert(again.forall(g => new java.io.File(
      new org.apache.hadoop.fs.Path(g.path).toUri.getPath).exists()))
    assert(t2.scan().count() === li.count())
  }

  test("sort-strategy rewrite restores clustering over interleaved history") {
    val li = Tables.lineitem(spark, sf)
    // table written WITHOUT clustering: interleaved modulo appends
    val t = GraftTable.create(spark, tmp(), li.schema)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try (0 until 4).foreach(i =>
      t.append(li.filter(col("l_orderkey") % 4 === i)))
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    def overlaps(files: Seq[graft.table.Meta.DataFile]): Boolean = {
      val rs = files.map(f =>
        (f.stats("l_orderkey").min.toLong, f.stats("l_orderkey").max.toLong))
        .sortBy(_._1)
      rs.sliding(2).exists {
        case Seq((_, max1), (min2, _)) => max1 > min2
        case _ => false
      }
    }
    assert(overlaps(t.plannedFiles(Seq.empty)),
      "modulo appends should produce overlapping key ranges")
    // adopt a sort order, then apply it to history with a target that
    // forces multiple bins
    t.setSortOrder(Seq("l_orderkey"))
    val target = t.plannedFiles(Seq.empty).map(_.fileSizeBytes).sum / 3
    t.rewriteSort(target)
    val after = t.plannedFiles(Seq.empty)
    assert(after.size > 1 && !overlaps(after),
      s"sort rewrite must leave range-disjoint files")
    assert(t.scan().count() === li.count())
    // pruning bites again: a point predicate plans a strict subset
    val mid = after.map(_.stats("l_orderkey").min.toLong).sorted
      .apply(after.size / 2).toString
    assert(t.plannedFiles(
      Seq(t.StatFilter("l_orderkey", "=", mid))).size < after.size)
    // MoR deletes fold in: delete file dropped, rows gone
    val t2 = GraftTable.load(spark, t.root)
    t2.deleteWhereMoR(col("l_linestatus") === "F", Seq("l_linestatus"))
    assert(t2.meta.liveDeleteFiles(None).nonEmpty)
    t2.rewriteSort(target)
    assert(t2.meta.liveDeleteFiles(None).isEmpty)
    assert(t2.scan().count() === li.filter(col("l_linestatus") =!= "F").count())
  }

  test("z-order clustering prunes on both dimensions") {
    val o = Tables.orders(spark, sf)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (zt, lt) = try {
      val zt = GraftTable.create(spark, tmp(), o.schema,
        sortOrder = Seq("zorder(o_custkey, o_orderkey)"))
      zt.append(o)
      val lt = GraftTable.create(spark, tmp(), o.schema,
        sortOrder = Seq("o_custkey"))
      lt.append(o)
      (zt, lt)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(zt.meta.liveFiles(None).size > 1)
    // predicate on the SECOND dimension: the linear sort gives every
    // file the full o_orderkey range; z-order gives narrow ranges
    val maxK = o.agg(max("o_orderkey")).collect()(0).getLong(0)
    val cut = (maxK / 8).toString
    val zPlanned = zt.plannedFiles(Seq(zt.StatFilter("o_orderkey", "<", cut))).size
    val lPlanned = lt.plannedFiles(Seq(lt.StatFilter("o_orderkey", "<", cut))).size
    assert(zPlanned < lPlanned,
      s"zorder planned $zPlanned vs linear $lPlanned of ${zt.meta.liveFiles(None).size}")
    // correctness under the pruned scan
    val want = o.filter(col("o_orderkey") < cut.toLong).count()
    val got = zt.scan(Seq(zt.StatFilter("o_orderkey", "<", cut)))
      .filter(col("o_orderkey") < cut.toLong).count()
    assert(got === want)
  }

  test("zorder clusters full-width long keys beyond the int range") {
    // keys offset past 2^31 with a narrow spread: a 32-bit truncation
    // (wrap OR top-bits-only) collapses every key to the same value
    // and silently stops pruning — the binary z-key keeps all 64 bits
    import spark.implicits._
    val bx = 3000000000L // > Int.MaxValue
    val by = 7000000000L
    val df = (0 until 4096).map { i =>
      (bx + (i % 64).toLong * 1000L, by + (i / 64).toLong * 1000L)
    }.toDF("x", "y")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val t = try {
      val t = GraftTable.create(spark, tmp(), df.schema,
        sortOrder = Seq("zorder(x, y)"))
      t.append(df.repartition(8))
      t
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val total = t.meta.liveFiles(None).size
    assert(total > 1)
    // prune on EACH dimension: a z-clustered layout gives narrow
    // per-file ranges in both
    val px = t.plannedFiles(
      Seq(t.StatFilter("x", "<", (bx + 8000L).toString))).size
    val py = t.plannedFiles(
      Seq(t.StatFilter("y", "<", (by + 8000L).toString))).size
    assert(px < total, s"x-pruning: planned $px of $total")
    assert(py < total, s"y-pruning: planned $py of $total")
    assert(t.scan().count() === 4096)
  }

  test("rewriteZOrder restores two-dimensional clustering in place") {
    val o = Tables.orders(spark, sf)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val t = try {
      // table has NO sort order; appended pre-sorted by custkey only
      val t = GraftTable.create(spark, tmp(), o.schema)
      t.append(o.sort("o_custkey").coalesce(1))
      t.rewriteZOrder(Seq("o_custkey", "o_orderkey"),
        targetFileBytes = 8 * 1024)
      t
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val total = t.meta.liveFiles(None).size
    assert(total > 1, s"rewrite should split into several files, got $total")
    // sort order unchanged (zorder was a one-shot layout op)
    assert(t.meta.sortOrder.isEmpty)
    val maxK = o.agg(max("o_orderkey")).collect()(0).getLong(0)
    val planned = t.plannedFiles(
      Seq(t.StatFilter("o_orderkey", "<", (maxK / 8).toString))).size
    assert(planned < total,
      s"o_orderkey pruning after zorder rewrite: planned $planned of $total")
    // row preservation, bit-for-bit
    assert(t.scan().count() === o.count())
    assert(t.scan().except(o).isEmpty && o.except(t.scan()).isEmpty)
  }

  test("zorder kernel is order-preserving per dimension") {
    import graft.functions.ZOrderKeys
    // fixing one dimension, z-values must be monotonic in the other
    val fixed = 12345
    val zs = Seq(Int.MinValue, -10, 0, 7, 1000, Int.MaxValue)
      .map(v => ZOrderKeys.zOrder2(v, fixed))
    assert(zs === zs.sorted)
    val zs2 = Seq(Int.MinValue, -10, 0, 7, 1000, Int.MaxValue)
      .map(v => ZOrderKeys.zOrder2(fixed, v))
    assert(zs2 === zs2.sorted)
  }

  // a rewrite computed from a base that a concurrent delete has since
  // changed must refuse, not retry onto the new base with copies of the
  // deleted rows
  for (strategy <- Seq("binpack", "sort", "zorder"))
  test(s"a $strategy rewrite that loses a race to a delete refuses to commit") {
    val spark0 = spark
    import spark0.implicits._
    def rows(from: Long) =
      (from until from + 100L).map(k => (k, k * 7 % 13)).toDF("k", "v").coalesce(1)
    val t = GraftTable.create(spark, tmp(), rows(0L).schema)
    Seq(0L, 100L, 200L).foreach(from => t.append(rows(from)))
    if (strategy == "sort") t.setSortOrder(Seq("k"))
    val m0 = t.meta
    t.delete(col("k") < 50)
    intercept[java.util.ConcurrentModificationException](strategy match {
      case "binpack" => t.compact(current = m0)
      case "sort" => t.rewriteSort(current = m0)
      case "zorder" => t.rewriteZOrder(Seq("k", "v"), current = m0)
    })
    assert(t.scan().count() === 250L)
  }

  test("concurrent appends from independent handles both commit") {
    val li = Tables.lineitem(spark, sf)
    val root = tmp()
    GraftTable.create(spark, root, li.schema)
    // two independent table handles racing on the same root: the
    // rename-CAS in Meta.write serializes them; the loser retries
    val t1 = GraftTable.load(spark, root)
    val t2 = GraftTable.load(spark, root)
    val th1 = new Thread(() => t1.append(li.limit(100)))
    val th2 = new Thread(() => t2.append(li.limit(200)))
    th1.start(); th2.start(); th1.join(120000); th2.join(120000)
    val t = GraftTable.load(spark, root)
    assert(t.meta.snapshots.size === 2, t.meta.snapshots.map(_.snapshotId))
    assert(t.scan().count() === 300)
  }

  test("rewritePositionDeletes consolidates graft MoR delete files") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files
      .createTempDirectory("graft-posrw").toString + "/t"
    val df = (1L to 120L).map(i => (i, s"v$i")).toDF("k", "v")
    val t = graft.table.GraftTable.create(spark, root, df.schema)
    t.append(df.repartition(3))
    // three positional MoR statements -> three delete files
    t.deleteWhereMoRPositional(col("k") % 10 === 1)
    t.updateWhereMoR(col("k") % 10 === 2, Seq("v" -> lit("u")))
    t.deleteWhereMoRPositional(col("k") % 10 === 3)
    val pos0 = t.meta.liveDeleteFiles(None).filter(_.content == 1)
    assert(pos0.size >= 3)
    val want = t.scan().select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    val dataBefore = t.meta.liveFiles(None).map(_.path).toSet

    val (before, after) = t.rewritePositionDeletes()
    assert(before === pos0.size && after === 1)
    val m = t.meta
    assert(m.liveDeleteFiles(None).count(_.content == 1) === 1)
    assert(m.liveFiles(None).map(_.path).toSet === dataBefore,
      "data files must be untouched")
    assert(t.scan().select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq === want.toSeq)
    // row-preserving: the changelog stays silent for this commit
    val snap = m.currentSnapshotId.get
    val ch = t.changesBetween(None).collect()
    assert(!ch.exists(_.getAs[Long]("_commit_snapshot_id") == snap))
    // idempotent
    assert(t.rewritePositionDeletes() === (1, 1))
    assert(t.meta.currentSnapshotId.get === snap)
    // vacuum reclaims the replaced delete files
    t.expireSnapshots(keepLast = 1)
    t.vacuum(0L)
    assert(t.scan().count() === want.length.toLong)
  }

  test("SQL registry exposes the custom expressions") {
    graft.functions.Registry.register(spark)
    Tables.orders(spark, sf).createOrReplaceTempView("orders_reg")
    val r = spark.sql(
      """SELECT iceberg_bucket(o_orderkey, 16) AS b,
         iceberg_bucket(o_orderpriority, 4) AS pb
         FROM orders_reg LIMIT 5""").collect()
    assert(r.forall(x => x.getInt(0) >= 0 && x.getInt(0) < 16))
    Tables.documents(spark, sf).createOrReplaceTempView("docs_reg")
    val h = spark.sql(
      "SELECT simhash64(text) AS s, doc_fingerprint(text) AS f FROM docs_reg LIMIT 3")
      .collect()
    assert(h.forall(x => x.getLong(0) != 0 || x.getLong(1) != 0))
    val c = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 1.0D)) AS c").collect()
    assert(math.abs(c(0).getDouble(0) - 0.7071067811865475) < 1e-12)
  }

  test("convertEqualityDeletes materializes equality deletes as position slots") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files
      .createTempDirectory("graft-eqrw").toString + "/t"
    val df = (1L to 120L).map(i => (i, s"v$i")).toDF("k", "v")
    val t = graft.table.GraftTable.create(spark, root, df.schema)
    t.append(df.repartition(3))
    // two equality deletes with DIFFERENT key column sets
    t.deleteWhereMoR(col("k") % 10 === 1, Seq("k"))
    t.deleteWhereMoR(col("v") === "v42", Seq("v"))
    // rows appended AFTER the deletes — matching keys in a LATER
    // sequence must survive (strict eq-delete scoping), both before
    // and after the conversion
    t.append(Seq((1L, "late1"), (301L, "v42")).toDF("k", "v"))
    val eq0 = t.meta.liveDeleteFiles(None).filter(_.content == 2)
    assert(eq0.size === 2)
    val want = t.scan().select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(want.contains((1L, "late1")) && want.contains((301L, "v42")))
    assert(!want.exists(_._2 == "v42") || want.count(_._2 == "v42") == 1)
    val dataBefore = t.meta.liveFiles(None).map(_.path).toSet

    val (converted, created) = t.convertEqualityDeletes()
    assert(converted === 2 && created === 1)
    val m = t.meta
    assert(m.liveDeleteFiles(None).count(_.content == 2) === 0,
      "equality delete files must be gone")
    assert(m.liveDeleteFiles(None).count(_.content == 1) === 1)
    assert(m.liveFiles(None).map(_.path).toSet === dataBefore,
      "data files must be untouched")
    assert(t.scan().select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq === want.toSeq)
    // row-preserving: changelog silent for the conversion commit
    val snap = m.currentSnapshotId.get
    val ch = t.changesBetween(None).collect()
    assert(!ch.exists(_.getAs[Long]("_commit_snapshot_id") == snap))
    // ... and the earlier delete-eq slice binds columns correctly even
    // though its key ("v") is not the leading column (regression: the
    // changelog union is by NAME — a positional union cast v into k)
    assert(ch.exists(r => r.getAs[Long]("k") == 42L &&
      r.getAs[String]("v") == "v42" &&
      r.getAs[String]("_change_type") == "delete"))
    // idempotent: nothing left to convert
    assert(t.convertEqualityDeletes() === (0, 0))
    assert(t.meta.currentSnapshotId.get === snap)
    // ... and via CALL rewrite_delete_files(mode => 'convert') —
    // graft-dialect branch of the procedure
    val root2 = java.nio.file.Files
      .createTempDirectory("graft-eqrw2").toString
    spark.conf.set("spark.sql.catalog.eqrw_cat", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.eqrw_cat.warehouse", root2)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS eqrw_cat.m")
    spark.sql("CREATE TABLE eqrw_cat.m.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO eqrw_cat.m.t SELECT id, concat('v', id) FROM range(50)")
    val gt = graft.table.GraftTable.load(spark,
      root2 + "/m/t")
    gt.deleteWhereMoR(col("k") < 5, Seq("k"))
    val res = spark.sql(
      "CALL eqrw_cat.system.rewrite_delete_files(table => 'm.t', " +
        "mode => 'convert')").collect()
    assert(res(0).getInt(0) === 1)
    assert(spark.sql("SELECT count(*) FROM eqrw_cat.m.t")
      .collect()(0).getLong(0) === 45L)
    assert(graft.table.GraftTable.load(spark, root2 + "/m/t")
      .meta.liveDeleteFiles(None).count(_.content == 2) === 0)
  }

  test("updateByKey (graft dialect) commits O(matches) in one snapshot") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files
      .createTempDirectory("graft-updk").toString + "/t"
    val df = (1L to 200L).map(i => (i, s"v$i", i * 1.0)).toDF("k", "v", "w")
    val t = graft.table.GraftTable.create(spark, root, df.schema)
    t.append(df.repartition(4))
    val filesBefore = t.meta.liveFiles(None).map(_.path).toSet
    val snapsBefore = t.meta.snapshots.size

    val n = t.updateByKey(Seq(5L, 6L).toDF("k"), Seq("k"),
      Seq("w" -> (col("w") * 100)))
    assert(n === 2L)
    val m = t.meta
    assert(m.snapshots.size === snapsBefore + 1, "exactly one commit")
    val newFiles = m.liveFiles(None).filter(f =>
      f.content == 0 && !filesBefore.contains(f.path))
    assert(newFiles.map(_.recordCount).sum === 2L,
      "only the modified rows may be written")
    assert(m.liveFiles(None).filter(_.content == 0).map(_.path).toSet
      .intersect(filesBefore) === filesBefore,
      "candidate data files must never be rewritten")
    assert(m.liveDeleteFiles(None).count(_.content == 2) === 1)
    assert(t.scan().count() === 200L)
    assert(t.scan().filter(col("k") === 5L).select("w")
      .collect()(0).getDouble(0) === 500.0)
    assert(t.scan().filter(col("k") === 7L).select("w")
      .collect()(0).getDouble(0) === 7.0)
    // changelog nets the update into delete+insert of the touched keys
    val ch = t.changesBetween(Some(m.snapshots.sortBy(_.snapshotId)
      .apply(snapsBefore - 1).snapshotId)).collect()
    assert(ch.count(_.getAs[String]("_change_type") == "insert") === 2)
    assert(ch.count(_.getAs[String]("_change_type") == "delete") === 2)
    // no-match: zero rows, zero commits
    assert(t.updateByKey(Seq(9999L).toDF("k"), Seq("k"),
      Seq("w" -> lit(0.0))) === 0L)
    assert(t.meta.snapshots.size === snapsBefore + 1)
  }


  test("update_by_key assignment parsing: escaped quotes and nested commas") {
    val split = graft.spark.GraftProcedures.splitTopLevel _
    assert(split("a = 1, b = 2") === Seq("a = 1", "b = 2"))
    assert(split("v = concat(a, b), w = 1") ===
      Seq("v = concat(a, b)", "w = 1"))
    assert(split("w = 'x,y', z = 2") === Seq("w = 'x,y'", "z = 2"))
    // backslash-escaped quote inside a literal must not close it
    assert(split("v = 'a\\',b', w = 1") === Seq("v = 'a\\',b'", "w = 1"))
    assert(split("m = map('k,1', 2), n = array(1, 2)") ===
      Seq("m = map('k,1', 2)", "n = array(1, 2)"))
  }

  test("updateByKey (graft) refuses null keys, swaps with old-row semantics") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files
      .createTempDirectory("graft-updg").toString + "/t"
    val df = Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("k", "a", "b")
    val t = graft.table.GraftTable.create(spark, root, df.schema)
    t.append(df)
    val ex = intercept[Exception] {
      t.updateByKey(Seq(Some(1L), None).toDF("k"), Seq("k"),
        Seq("a" -> lit(0L)))
    }
    assert(ex.getMessage.contains("null key"))
    assert(t.updateByKey(Seq(1L).toDF("k"), Seq("k"),
      Seq("a" -> col("b"), "b" -> col("a"))) === 1L)
    val r = t.scan().filter(col("k") === 1L).select("a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1)) === ((100L, 10L)))
  }

  test("updateByKey enforces the bounded-key-set contract on both dialects") {
    import graft.table.iceberg.{IcebergTable, IcebergWrite}
    val spark0 = spark
    import spark0.implicits._
    val df = (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v")
    val t = GraftTable.create(spark, tmp(), df.schema)
    t.append(df)
    val loc = Files.createTempDirectory("graft-cap").toString + "/t"
    IcebergWrite.create(spark, loc, df)
    spark.conf.set("graft.update.maxKeys", "5")
    try {
      val bigKeys = (1L to 6L).toDF("k")
      val exG = intercept[IllegalArgumentException] {
        t.updateByKey(bigKeys, Seq("k"), Seq("v" -> lit("x")))
      }
      assert(exG.getMessage.contains("graft.update.maxKeys"))
      val exI = intercept[IllegalArgumentException] {
        IcebergWrite.updateByKey(spark, loc, bigKeys, Seq("k"),
          Seq("v" -> lit("x")))
      }
      assert(exI.getMessage.contains("graft.update.maxKeys"))
      // within the cap still works on both
      assert(t.updateByKey((1L to 5L).toDF("k"), Seq("k"),
        Seq("v" -> lit("y"))) === 5L)
      assert(IcebergWrite.updateByKey(spark, loc, (1L to 5L).toDF("k"),
        Seq("k"), Seq("v" -> lit("y"))) === 5L)
      assert(IcebergTable.load(spark, loc).scan()
        .filter(col("v") === "y").count() === 5L)
    } finally spark.conf.unset("graft.update.maxKeys")
  }

  test("convert recovers an eq key DROPPED from the current schema " +
      "(adopted table) and aborts on an unresolvable id") {
    import graft.table.iceberg.{IcebergMetadata, IcebergTable, IcebergWrite}
    val spark0 = spark
    import spark0.implicits._
    val loc = Files.createTempDirectory("graft-eqdrop").toString + "/t"
    IcebergWrite.create(spark, loc,
      (1L to 50L).map(i => (i, s"v${i % 7}", i * 10L)).toDF("k", "v", "w")
        .repartition(2))
    // equality delete keyed on v while v is still current
    IcebergWrite.deleteEquality(spark, loc,
      Seq("v1", "v3").toDF("v"), Seq("v"))
    val visBefore = IcebergTable.load(spark, loc).scan()
      .select("k").collect().map(_.getLong(0)).sorted
    assert(visBefore.length < 50)
    // a FOREIGN writer drops v (graft's own dropColumn refuses while
    // a live equality delete keys on it): new schema era without v
    val m0 = IcebergMetadata.load(loc)
    val vId = m0.schema.fields.find(_.name == "v").get.id
    val dropped = IcebergMetadata.IceSchema(
      m0.schemas.map(_.schemaId).max + 1,
      m0.schema.fields.filterNot(_.id == vId))
    IcebergMetadata.writeNext(loc, m0.copy(
      schemas = m0.schemas :+ dropped,
      currentSchemaId = dropped.schemaId))
    // the scan still hides the deleted rows (missingEq recovery)
    assert(IcebergTable.load(spark, loc).scan()
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
      === visBefore.toSeq)
    // conversion must resolve the key from the HISTORICAL era —
    // dropping it silently would position-delete rows the equality
    // delete never hid
    val (conv, created) = IcebergWrite.convertEqualityDeletes(spark, loc)
    assert(conv === 1 && created === 1)
    val after = IcebergTable.load(spark, loc)
    assert(after.deleteEntries().count(_._1.content == 2) === 0)
    assert(after.scan().select("k").collect().map(_.getLong(0)).sorted.toSeq
      === visBefore.toSeq, "visible rows must be UNCHANGED by conversion")
    // unresolvable id in EVERY era -> loud abort, no commit
    val loc2 = Files.createTempDirectory("graft-eqdrop2").toString + "/t"
    IcebergWrite.create(spark, loc2,
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    IcebergWrite.deleteEquality(spark, loc2, Seq("v3").toDF("v"), Seq("v"))
    val m2 = IcebergMetadata.load(loc2)
    val vId2 = m2.schema.fields.find(_.name == "v").get.id
    // corrupt-adoption shape: every era loses the keyed field
    IcebergMetadata.writeNext(loc2, m2.copy(
      schemas = m2.schemas.map(s =>
        s.copy(fields = s.fields.filterNot(_.id == vId2))),
      currentSchemaId = m2.currentSchemaId))
    val snaps = IcebergMetadata.load(loc2).snapshots.size
    val ex = intercept[IllegalArgumentException] {
      IcebergWrite.convertEqualityDeletes(spark, loc2)
    }
    assert(ex.getMessage.contains("no schema era"))
    assert(IcebergMetadata.load(loc2).snapshots.size === snaps,
      "aborted conversion must not commit")
  }

}
