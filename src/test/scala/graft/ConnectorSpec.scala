package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.table.GraftTable
import graft.table.iceberg.{IcebergTable, IcebergWrite}
import java.nio.file.Files

/** DataSource V2 connector: format("graft") reads with manifest
  * pruning and vectorized parquet. */
class ConnectorSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    Files.createTempDirectory("graft-conn").toString + "/t"

  test("format(graft) round-trips rows and schema") {
    val li = Tables.lineitem(spark, sf)
    val root = tmp()
    GraftTable.create(spark, root, li.schema).append(li)
    val df = spark.read.format("graft").load(root)
    // names/types/nullability round-trip; the connector additionally
    // exposes the table's field-id metadata, which the source lacked
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq
    assert(shape(df.schema) === shape(li.schema))
    assert(df.count() === li.count())
    val a = df.agg(round(sum("l_extendedprice"), 2)).collect()(0).getDouble(0)
    val b = li.agg(round(sum("l_extendedprice"), 2)).collect()(0).getDouble(0)
    assert(a === b)
  }

  test("corrupt graft metadata throws its own error, not a reroute") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    Seq((1L, "a")).toDF("k", "v").write.format("graft").save(root)
    // clobber the current metadata with structurally-unrecognizable
    // JSON: the dialect sniff must THROW, not silently reroute the
    // table to the binary real-format Iceberg reader
    val dir = graft.table.Meta.metadataDir(root)
    val v = graft.table.TableIO.readString(
      new org.apache.hadoop.fs.Path(dir, "version-hint.text")).trim
    val mf = new org.apache.hadoop.fs.Path(dir, s"v$v.metadata.json")
    graft.table.TableIO.writeString(mf, """{"zzz": 1}""")
    val ex = intercept[Exception] {
      spark.read.format("graft").load(root).count()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.getMessage != null &&
      c.getMessage.contains("matches neither")), s"got: ${ex.getMessage}")
    assert(!causes(ex).exists(c => c.getMessage != null &&
      c.getMessage.contains("real-format Iceberg table")))
  }

  test("filters prune files at planning time and prune columns") {
    val li = Tables.lineitem(spark, sf)
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema, sortOrder = Seq("l_orderkey"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try t.append(li)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(t.filesDF.count() > 1)

    val maxKey = li.agg(max("l_orderkey")).collect()(0).getLong(0)
    val df = spark.read.format("graft").load(root)
      .filter(col("l_orderkey") > maxKey - 5)
      .select(col("l_orderkey"), col("l_quantity"))
    // correctness under pruning
    val want = li.filter(col("l_orderkey") > maxKey - 5).count()
    assert(df.count() === want)
    // the scan plans fewer tasks than a full read would
    val full = spark.read.format("graft").load(root)
      .queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputRDD.getNumPartitions
    val pruned = df.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputRDD.getNumPartitions
    assert(pruned <= full)
    assert(df.queryExecution.executedPlan.toString.contains("GraftScan"))
  }

  test("df.write.format(graft) appends and overwrites as snapshots") {
    val li = Tables.lineitem(spark, sf)
    val root = tmp()
    li.limit(100).write.format("graft").mode("append").save(root)
    li.limit(50).write.format("graft").mode("append").save(root)
    assert(spark.read.format("graft").load(root).count() === 150)
    li.limit(20).write.format("graft").mode("overwrite").save(root)
    assert(spark.read.format("graft").load(root).count() === 20)
    val t = GraftTable.load(spark, root)
    assert(t.meta.snapshots.map(_.operation) === Seq("append", "append", "overwrite"))
  }

  test("V2 batch write: append to an existing table goes through executors") {
    val li = Tables.lineitem(spark, sf)
    val root = tmp()
    GraftTable.create(spark, root, li.schema).append(li.limit(10))
    // table exists → BATCH_WRITE capability → V2 path
    li.limit(90).write.format("graft").mode("append").save(root)
    assert(spark.read.format("graft").load(root).count() === 100)
    li.limit(40).write.format("graft").mode("overwrite").save(root)
    assert(spark.read.format("graft").load(root).count() === 40)
    val sum1 = spark.read.format("graft").load(root)
      .agg(round(sum("l_extendedprice"), 2)).collect()(0).getDouble(0)
    val sum2 = li.limit(40).agg(round(sum("l_extendedprice"), 2)).collect()(0).getDouble(0)
    assert(sum1 === sum2)
  }

  test("V2 append to a sort-ordered table range-clusters on the executors") {
    val li = Tables.lineitem(spark, sf)
    val root = tmp()
    GraftTable.create(spark, root, li.schema,
      sortOrder = Seq("l_orderkey")).append(li.limit(10))
    // the write declares the sort order as required distribution +
    // ordering, so executors range-shuffle + sort and the commit
    // ingests the staged files AS-IS — disjoint per-file key ranges
    // prove the clustering happened executor-side, not via a
    // driver-side re-write
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try li.write.format("graft").mode("overwrite").save(root)
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", parts0)
    }
    val t = GraftTable.load(spark, root)
    val bounds = t.meta.liveFiles(None)
      .flatMap(_.stats.get("l_orderkey").map(s => (s.min.toLong, s.max.toLong)))
      .sortBy(_._1)
    assert(bounds.size > 1, s"expected multiple files, got ${bounds.size}")
    bounds.sliding(2).foreach {
      case Seq((_, max1), (min2, _)) =>
        assert(max1 <= min2, s"files overlap on the sort key: $bounds")
      case _ =>
    }
    assert(t.scan().count() === li.count())
    // pruning bites: a narrow key slice plans a strict file subset
    val cut = bounds.last._1.toString
    val planned = t.plannedFiles(Seq(t.StatFilter("l_orderkey", ">=", cut)))
    assert(planned.size < bounds.size)
  }

  test("write.distribution-mode=none skips the exchange, keeps local sort") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val df = (1L to 600L).map(i => ((i * 7) % 601, i)).toDF("key", "v")
    GraftTable.create(spark, root, df.schema,
      properties = Map("write.distribution-mode" -> "none"),
      sortOrder = Seq("key")).append(df.limit(1))
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try df.repartition(6).write.format("graft").mode("overwrite").save(root)
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", parts0)
    }
    val t = GraftTable.load(spark, root)
    // no exchange: one file per INPUT partition (6), not per shuffle
    // partition (4)
    assert(t.meta.liveFiles(None).size === 6)
    assert(t.scan().count() === 600L)
    // the local sort still ran: every file is internally ordered, so
    // its stats are usable even though file ranges overlap
    assert(t.meta.liveFiles(None).forall(_.stats.contains("key")))
  }

  test("branch write option: batch and streaming commits land on the branch") {
    val spark0 = spark
    import spark0.implicits._
    val df = (1L to 40L).map(i => (i, s"a$i")).toDF("k", "v")
    def leg(iceberg: Boolean): Unit = {
      val root = tmp()
      if (iceberg) {
        IcebergWrite.create(spark, root, df)
        // Iceberg starts a missing branch empty; graft forks it from main
        graft.table.iceberg.IcebergMaintenance.setRef(root, "audit",
          graft.table.iceberg.IcebergMetadata.load(root).currentSnapshotId.get)
      } else GraftTable.create(spark, root, df.schema).append(df)

      // write-audit-publish staging: the audit branch advances, main
      // stays pinned
      (41L to 60L).map(i => (i, s"b$i")).toDF("k", "v")
        .write.format("graft").option("branch", "audit")
        .mode("append").save(root)
      assert(spark.read.format("graft").load(root).count() === 40L)
      assert(spark.read.format("graft").option("branch", "audit")
        .load(root).count() === 60L)

      // a branch overwrite truncates the BRANCH, not main
      (100L to 104L).map(i => (i, s"c$i")).toDF("k", "v")
        .write.format("graft").option("branch", "audit")
        .mode("overwrite").save(root)
      assert(spark.read.format("graft").option("branch", "audit")
        .load(root).count() === 5L)
      assert(spark.read.format("graft").load(root).count() === 40L)

      // streaming epochs can target a branch too
      val srcRoot = tmp()
      val s2 = GraftTable.create(spark, srcRoot, df.schema)
      s2.append((200L to 219L).map(i => (i, s"d$i")).toDF("k", "v"))
      val q = spark.readStream.format("graft").load(srcRoot)
        .writeStream.outputMode("append").format("graft")
        .option("path", root).option("branch", "audit")
        .option("checkpointLocation", root + "-bckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      assert(spark.read.format("graft").option("branch", "audit")
        .load(root).count() === 25L)
      assert(spark.read.format("graft").load(root).count() === 40L)
      // a missing Iceberg branch holds no rows: reading it is an error,
      // not main's head
      if (iceberg) intercept[IllegalArgumentException] {
        spark.read.format("graft").option("branch", "no_such").load(root).count()
      }
    }
    leg(iceberg = false)
    leg(iceberg = true)
  }

  test("connector applies merge-on-read deletes at scan") {
    val o = Tables.orders(spark, sf)
    val root = tmp()
    val t = GraftTable.create(spark, root, o.schema)
    t.append(o)
    t.deleteWhereMoR(col("o_orderstatus") === "F", Seq("o_orderkey"))
    val want = o.filter(col("o_orderstatus") =!= "F").count()
    val df = spark.read.format("graft").load(root)
    assert(df.count() === want)
    // even when the key column is pruned away, deletes still apply
    assert(df.select("o_totalprice").count() === want)
    assert(df.filter(col("o_orderstatus") === "F").count() === 0)
  }

  test("equality-delete key bounds prune delete reads for disjoint files") {
    val li = Tables.lineitem(spark, sf)
    val root = tmp()
    // range-clustered files → disjoint per-file l_orderkey bounds
    val t = GraftTable.create(spark, root, li.schema,
      sortOrder = Seq("l_orderkey"))
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try t.append(li)
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", parts0)
    }
    val keys = li.select("l_orderkey").distinct()
      .orderBy("l_orderkey").limit(50)
      .collect().map(_.getLong(0))
    t.deleteWhereMoR(col("l_orderkey") <= keys.max, Seq("l_orderkey"))

    // the delete file recorded its key bounds
    val del = t.meta.liveDeleteFiles(None).head
    assert(del.stats.get("l_orderkey").exists(_.max.toLong <= keys.max))

    // a scan over files disjoint from the deleted range must never
    // open the delete file: remove it from disk and survive
    val highCut = t.meta.liveFiles(None)
      .flatMap(_.stats.get("l_orderkey")).map(_.min.toLong).max
    val delPath = new java.io.File(s"$root/data/${del.path}")
    val saved = java.nio.file.Files.readAllBytes(delPath.toPath)
    java.nio.file.Files.delete(delPath.toPath)
    val high =
      try spark.read.format("graft").load(root)
        .filter(col("l_orderkey") >= highCut).count()
      finally java.nio.file.Files.write(delPath.toPath, saved)
    assert(high === li.filter(col("l_orderkey") >= highCut).count())

    // soundness: the full merge-on-read scan applies the delete
    assert(spark.read.format("graft").load(root).count() ===
      li.filter(col("l_orderkey") > keys.max).count())
  }

  test("pos-deleted files read raw; clean files keep pushed filters") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val a = (1L to 50L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1)
    val b = (51L to 100L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1)
    val t = GraftTable.create(spark, root, a.schema)
    t.append(a); t.append(b)
    t.deleteWhereMoRPositional(col("k") <= 5L)
    // the filter spans a pos-deleted file (a) and a clean file (b):
    // a's reader counts raw positions, b's reader keeps the pushed
    // filter — both must agree with the logical answer
    val got = spark.read.format("graft").load(root)
      .filter(col("k") between (3L, 60L)).select("k")
      .as[Long].collect().sorted.toSeq
    assert(got === (6L to 60L))
    assert(spark.read.format("graft").load(root).count() === 95L)
  }

  test("connector sequence-scopes deletes: later appends are not filtered") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val t = GraftTable.create(spark, root, df.schema)
    t.append(df)
    t.deleteWhereMoR(col("id") === 2L, Seq("id"))
    t.append(Seq((2L, "b2")).toDF("id", "v"))
    val read = spark.read.format("graft").load(root)
    assert(read.count() === 3, "re-inserted key hidden by an older delete")
    assert(read.filter(col("id") === 2L).select("v").as[String].collect()
      .toSeq === Seq("b2"))
    // pruned-column read still applies scoped deletes
    assert(read.select("v").count() === 3)
  }

  test("ungrouped count/min/max answer from manifest stats without data IO") {
    val li = Tables.lineitem(spark, sf)
    val root = tmp()
    GraftTable.create(spark, root, li.schema).append(li)
    val df = spark.read.format("graft").load(root)
      .agg(count(lit(1)).as("n"), min("l_orderkey").as("mn"),
        max("l_orderkey").as("mx"))
    // the metadata LocalScan plans as a LocalTableScan over the agg
    // schema — no BatchScan (no data file is opened)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan [f0") && !plan.contains("BatchScan"),
      plan.take(800))
    val r = df.collect()(0)
    assert(r.getLong(0) === li.count())
    assert(r.getLong(1) === li.agg(min("l_orderkey")).collect()(0).getLong(0))
    assert(r.getLong(2) === li.agg(max("l_orderkey")).collect()(0).getLong(0))
    // a filtered aggregate must NOT use the metadata path
    val filtered = spark.read.format("graft").load(root)
      .filter(col("l_quantity") > 10).agg(count(lit(1)))
    assert(filtered.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(filtered.collect()(0).getLong(0) ===
      li.filter(col("l_quantity") > 10).count())
    // merge-on-read deletes also disable it, and counts stay correct
    val t = GraftTable.load(spark, root)
    t.deleteWhereMoR(col("l_orderkey") % 2 === 0, Seq("l_orderkey", "l_linenumber"))
    val afterDel = spark.read.format("graft").load(root).agg(count(lit(1)))
    assert(afterDel.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(afterDel.collect()(0).getLong(0) === t.scan().count())
  }

  test("runtime filtering prunes fact files from the join build side") {
    val li = Tables.lineitem(spark, sf)
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema, sortOrder = Seq("l_orderkey"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try t.append(li)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(t.filesDF.count() > 1)
    // tiny dim: a few low order keys → the runtime IN-filter envelope
    // should prune the high-key files of the sorted fact table
    val spark0 = spark
    import spark0.implicits._
    val dim = li.select(col("l_orderkey")).distinct()
      .orderBy(col("l_orderkey")).limit(3)
      .collect().map(_.getLong(0)).toSeq.toDF("k")
    val fact = spark.read.format("graft").load(root)
    val joined = fact.join(broadcast(dim), col("l_orderkey") === col("k"))
    val want = li.join(broadcast(dim), col("l_orderkey") === col("k")).count()
    assert(joined.count() === want)
  }

  test("storage-partitioned join: co-partitioned tables join without shuffle") {
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf)
    val r1 = tmp(); val r2 = tmp()
    GraftTable.create(spark, r1, o.schema,
      spec = Seq(graft.table.Meta.PartitionField("o_custkey", "identity", "_p_ck")))
      .append(o.filter(col("o_custkey") < 40))
    GraftTable.create(spark, r2, c.schema,
      spec = Seq(graft.table.Meta.PartitionField("c_custkey", "identity", "_p_ck")))
      .append(c.filter(col("c_custkey") < 40))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val fo = spark.read.format("graft").load(r1)
      val fc = spark.read.format("graft").load(r2)
      val joined = fo.join(fc, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must not introduce a shuffle: the only allowed
      // Exchange is the one ABOVE the join for the final aggregation
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, plan.take(1500))
      val belowJoin = plan.substring(joinIdx)
      assert(!belowJoin.contains("Exchange"),
        "shuffle below the join:\n" + plan.take(2500))
      // correctness vs plain join
      val want = o.filter(col("o_custkey") < 40)
        .join(c.filter(col("c_custkey") < 40), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .collect().map(_.toString).sorted
      assert(joined.collect().map(_.toString).sorted.sameElements(want))
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("manifest statistics drive broadcast of a small graft side") {
    val n = Tables.nation(spark, sf)
    val o = Tables.orders(spark, sf)
    val root = tmp()
    GraftTable.create(spark, root, n.schema).append(n)
    val dim = spark.read.format("graft").load(root)
    // optimizer statistics must reflect actual file bytes, not the
    // unknown-source default (which would force a shuffle join)
    val stats = dim.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > 0 &&
      stats.sizeInBytes < 10L * 1024 * 1024,
      s"graft relation reported ${stats.sizeInBytes} bytes")
    assert(stats.rowCount.exists(_.toLong === n.count()))
    val joined = o.join(dim, o("o_custkey") % 25 === dim("n_nationkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected statistics-driven broadcast, got:\n$plan")
  }

  test("snapshot and branch options select table versions") {
    val li = Tables.lineitem(spark, sf)
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema)
    t.append(li.limit(100))
    val s1 = t.meta.currentSnapshotId.get
    t.setRef("dev", s1)
    t.append(li.limit(50), branch = "dev")
    t.append(li.limit(200))
    assert(spark.read.format("graft").load(root).count() === 300)
    assert(spark.read.format("graft").option("snapshot", s1.toString)
      .load(root).count() === 100)
    assert(spark.read.format("graft").option("branch", "dev")
      .load(root).count() === 150)
  }

  test("incremental batch read: (start, end] appends only, pruned, safe") {
    val li = Tables.lineitem(spark, sf)
    val root = tmp()
    val t = GraftTable.create(spark, root, li.schema)
    t.append(li.filter(col("l_orderkey") <= 1000))
    val s1 = t.meta.currentSnapshotId.get
    t.append(li.filter(col("l_orderkey") > 1000 && col("l_orderkey") <= 2000))
    val s2 = t.meta.currentSnapshotId.get
    t.append(li.filter(col("l_orderkey") > 2000))
    // (s1, s2]: exactly the second append's rows
    val mid = spark.read.format("graft")
      .option("start-snapshot-id", s1.toString)
      .option("end-snapshot-id", s2.toString).load(root)
    val want = li.filter(col("l_orderkey") > 1000 && col("l_orderkey") <= 2000)
    assert(mid.count() === want.count())
    assert(mid.agg(sum("l_orderkey")).collect()(0).getLong(0) ===
      want.agg(sum("l_orderkey")).collect()(0).getLong(0))
    // open end = everything appended after s1
    assert(spark.read.format("graft").option("start-snapshot-id", s1.toString)
      .load(root).count() ===
      want.count() + li.filter(col("l_orderkey") > 2000).count())
    // filters still prune within the range
    assert(spark.read.format("graft").option("start-snapshot-id", s1.toString)
      .option("end-snapshot-id", s2.toString).load(root)
      .filter(col("l_orderkey") > 1500).count() ===
      li.filter(col("l_orderkey") > 1500 && col("l_orderkey") <= 2000).count())
    // a row-changing snapshot in range must refuse, not lose rows
    t.delete(col("l_orderkey") === 1500)
    val ex = intercept[Exception] {
      spark.read.format("graft").option("start-snapshot-id", s1.toString)
        .load(root).count()
    }
    assert(ex.getMessage.contains("append-only"))
    // a bounded range BEFORE the delete still reads fine
    assert(spark.read.format("graft")
      .option("start-snapshot-id", s1.toString)
      .option("end-snapshot-id", s2.toString).load(root).count() === want.count())
  }

  // end-snapshot-id alone pins that snapshot on both formats; a range
  // start reads only later appends on graft and is refused on Iceberg,
  // never silently answered with the whole table
  for (format <- Seq("graft", "iceberg"))
  test("end-snapshot-id pins a snapshot; start-snapshot-id reads or refuses" +
      (if (format == "iceberg") " [iceberg]" else "")) {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val iceberg = format == "iceberg"
    val first = (1L to 10L).toDF("k")
    if (iceberg) IcebergWrite.create(spark, root, first)
    else GraftTable.create(spark, root, first.schema).append(first)
    def head = graft.spark.TableFormat.resolve(root).get.currentSnapshotId.get
    val s1 = head
    val more = (11L to 15L).toDF("k")
    if (iceberg) IcebergWrite.append(spark, root, more)
    else GraftTable.load(spark, root).append(more)
    assert(head !== s1)
    def read = spark.read.format("graft")
    assert(read.load(root).count() === 15)
    assert(read.option("end-snapshot-id", s1.toString).load(root).count() === 10)
    if (iceberg) {
      val ex = intercept[Exception] {
        read.option("start-snapshot-id", s1.toString).load(root).count()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(ex).exists(c => c.getMessage != null &&
        c.getMessage.contains("start-snapshot-id")), s"got: ${ex.getMessage}")
    } else
      assert(read.option("start-snapshot-id", s1.toString).load(root)
        .as[Long].collect().sorted.toSeq === (11L to 15L))
  }

  test("bloom-filter table property builds blooms on both write paths") {
    def bloomCols(root: String): Set[String] = {
      import scala.jdk.CollectionConverters._
      val dir = new java.io.File(s"$root/data")
      val parquets = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
      assert(parquets.nonEmpty, s"no parquet files under $dir")
      parquets.flatMap { f =>
        val in = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath),
            new org.apache.hadoop.conf.Configuration()))
        try in.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala
          .filter(_.getBloomFilterOffset >= 0)
          .map(_.getPath.toDotString)).toSet
        finally in.close()
      }.toSet
    }
    val spark0 = spark
    import spark0.implicits._
    val df = (1L to 500L).map(i => (i, s"u$i")).toDF("id", "name")
    // driver write path (GraftTable.append)
    val r1 = tmp()
    GraftTable.create(spark, r1, df.schema, properties =
      Map("write.parquet.bloom-filter-enabled.column.id" -> "true"))
      .append(df)
    assert(bloomCols(r1) === Set("id"))
    // V2 executor write path (SQL INSERT through the catalog)
    val wh = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    spark.conf.set("spark.sql.catalog.bw", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.bw.warehouse", wh)
    spark.sql("CREATE NAMESPACE bw.db")
    spark.sql(
      """CREATE TABLE bw.db.t (id BIGINT, name STRING) TBLPROPERTIES (
         'write.parquet.bloom-filter-enabled.column.name'='true')""")
    df.createOrReplaceTempView("bloom_src")
    spark.sql("INSERT INTO bw.db.t SELECT * FROM bloom_src")
    assert(bloomCols(s"$wh/db/t") === Set("name"))
    // reads stay exact with the point predicate the bloom serves
    assert(spark.read.format("graft").load(r1)
      .filter(col("id") === 123L).count() === 1)
  }

  test("analyze() NDV lands in V2 columnStats for the CBO") {
    val c = Tables.customer(spark, sf)
    val root = tmp()
    val t = GraftTable.create(spark, root, c.schema)
    t.append(c)
    val ndv = t.analyze(Seq("c_custkey", "c_mktsegment"))
    val exactSeg = c.select("c_mktsegment").distinct().count()
    // approx_count_distinct is within a few percent at this scale
    assert(math.abs(ndv("c_mktsegment") - exactSeg) <= exactSeg / 10 + 1)
    // the scan reports the stats through the V2 Statistics surface
    val scan = new graft.spark.TableScanBuilder(new graft.spark.GraftScanSource(root)).build()
    val stats = scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    val byName = stats.columnStats().entrySet().iterator()
    var found = Map.empty[String, Long]
    while (byName.hasNext) {
      val e = byName.next()
      if (e.getValue.distinctCount().isPresent)
        found += e.getKey.fieldNames()(0) -> e.getValue.distinctCount().getAsLong
    }
    assert(found("c_custkey") === ndv("c_custkey"))
    assert(found("c_mktsegment") === ndv("c_mktsegment"))
    assert(stats.numRows().getAsLong === c.count())
  }

  // the Iceberg leg counts live files from the manifest list's
  // added + existing file counts
  for (format <- Seq("graft", "iceberg"))
  test("scan reports planning metrics: live/planned/pruned files, deletes" +
      (if (format == "iceberg") " [iceberg]" else "")) {
    val spark0 = spark
    import spark0.implicits._
    val li = Tables.lineitem(spark, sf)
    val root = tmp()
    val iceberg = format == "iceberg"
    // key-range-clustered files, then a delete of key 1
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      if (iceberg)
        IcebergWrite.create(spark, root, li.repartitionByRange(8, col("l_orderkey")))
      else GraftTable.create(spark, root, li.schema,
        sortOrder = Seq("l_orderkey")).append(li)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    def liveFiles(): Long =
      if (iceberg) IcebergTable.load(spark, root).plannedFiles().size
      else GraftTable.load(spark, root).meta.liveFiles(None).size
    assert(liveFiles() > 1)
    if (iceberg)
      IcebergWrite.deleteEquality(spark, root, Seq(1L).toDF("l_orderkey"), Seq("l_orderkey"))
    else GraftTable.load(spark, root)
      .deleteWhereMoR(col("l_orderkey") === 1L, Seq("l_orderkey"))
    val mid = li.agg(percentile_approx(col("l_orderkey"), lit(0.5), lit(100)))
      .collect()(0).getLong(0)
    val sb = new graft.spark.TableScanBuilder(
      if (iceberg) new graft.spark.IcebergScanSource(root)
      else new graft.spark.GraftScanSource(root))
    sb.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThan("l_orderkey", mid)))
    val scan = sb.build()
    assert(scan.supportedCustomMetrics().map(_.name()).toSet ===
      Set("liveDataFiles", "plannedDataFiles", "prunedDataFiles",
        "plannedBytes", "deleteFilesApplied"))
    // metrics appear only after planning
    assert(scan.reportDriverMetrics().isEmpty)
    scan.toBatch.planInputPartitions()
    val m = scan.reportDriverMetrics()
      .map(tm => tm.name() -> tm.value()).toMap
    assert(m("liveDataFiles") === liveFiles())
    assert(m("plannedDataFiles") > 0)
    assert(m("prunedDataFiles") > 0) // the sort-clustered bottom half
    assert(m("plannedDataFiles") + m("prunedDataFiles") ===
      m("liveDataFiles"))
    assert(m("plannedBytes") > 0)
    assert(m("deleteFilesApplied") === 1)
  }

  // k = 5 moves to a new file between building a scan and planning it:
  // the scan must read the snapshot its builder loaded, never a mix
  // of that snapshot's deletes and a later snapshot's files
  for (format <- Seq("graft", "iceberg"))
  test("a built scan plans against the metadata its builder loaded" +
      (if (format == "iceberg") " [iceberg]" else "")) {
    val spark0 = spark
    import spark0.implicits._
    val root = tmp()
    val iceberg = format == "iceberg"
    val rows = (1L to 100L).toDF("k").coalesce(1)
    if (iceberg) IcebergWrite.create(spark, root, rows)
    else GraftTable.create(spark, root, rows.schema).append(rows)
    val table = graft.spark.GraftSparkTable.at(root)
    val scan = table.newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
    if (iceberg) {
      IcebergWrite.deleteEquality(spark, root, Seq(5L).toDF("k"), Seq("k"))
      IcebergWrite.append(spark, root, Seq(5L).toDF("k"))
    } else {
      val t = GraftTable.load(spark, root)
      t.deleteWhereMoRPositional(col("k") === 5L)
      t.append(Seq(5L).toDF("k"))
    }
    val parts = scan.toBatch.planInputPartitions()
    val factory = scan.toBatch.createReaderFactory()
    val read = parts.map { p =>
      var n = 0L
      if (factory.supportColumnarReads(p)) {
        val r = factory.createColumnarReader(p)
        try while (r.next()) n += r.get().numRows() finally r.close()
      } else {
        val r = factory.createReader(p)
        try while (r.next()) n += 1 finally r.close()
      }
      n
    }.sum
    assert(read === 100L)
  }

  test("write reports rows/files task metrics") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "v")
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "metrics"
      override def schema(): org.apache.spark.sql.types.StructType = df.schema
      override def options() =
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
    }
    def leg(target: String => graft.spark.WriteTarget,
        create: String => Unit): Unit = {
      val root = tmp()
      create(root)
      val write = new graft.spark.TableWriteBuilder(target(root), info).build()
      assert(write.supportedCustomMetrics().map(_.name()).toSet ===
        Set("rowsWritten", "filesWritten"))
      val bw = write.toBatch
      val factory = bw.createBatchWriterFactory(
        new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
          override def numPartitions(): Int = 1
        })
      val w = factory.createWriter(0, 0L)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](7L, 7.5))
      w.write(row); w.write(row)
      val tm = w.currentMetricsValues().map(m => m.name() -> m.value()).toMap
      assert(tm("rowsWritten") === 2L && tm("filesWritten") === 1L)
      w.abort()
      bw.abort(Array.empty)
    }
    leg(new graft.spark.GraftWriteTarget(_),
      GraftTable.create(spark, _, df.schema))
    leg(new graft.spark.IcebergWriteTarget(_),
      IcebergWrite.create(spark, _, df.limit(0)))
  }
}
