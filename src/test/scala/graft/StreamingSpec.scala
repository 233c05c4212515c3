package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams

/** Structured Streaming twins (SURVEY.md §2.E): the same event logic,
  * executed incrementally with watermarks/state, must agree with the
  * batch operators.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private def eventsSchema = Tables.events(spark, sf).schema

  /** A table format the shared stream source serves, for the legs that
    * run over both. The graft legs keep their original test names. */
  private sealed trait Fmt {
    def suffix: String
    def create(root: String, df: org.apache.spark.sql.DataFrame): Unit
    def append(root: String, df: org.apache.spark.sql.DataFrame): Unit
    def snapshotIds(root: String): Seq[Long]
    /** read URIs of the files the current snapshot added */
    def headFiles(root: String): Seq[String]
    /** the stream `readStream` builds over the table, all columns */
    def stream(root: String): graft.spark.TableMicroBatchStream
  }
  private object GraftFmt extends Fmt {
    import graft.table.{GraftTable, Meta}
    val suffix = ""
    def create(root: String, df: org.apache.spark.sql.DataFrame): Unit =
      GraftTable.create(spark, root, df.schema).append(df)
    def append(root: String, df: org.apache.spark.sql.DataFrame): Unit =
      GraftTable.load(spark, root).append(df)
    def snapshotIds(root: String): Seq[Long] =
      Meta.load(root).snapshots.map(_.snapshotId)
    def headFiles(root: String): Seq[String] = {
      val m = Meta.load(root)
      m.currentSnapshotId.flatMap(m.snapshot).get.files.map(f =>
        new org.apache.hadoop.fs.Path(
          graft.table.TableIO.path(root, "data"), f.path).toString)
    }
    def stream(root: String): graft.spark.TableMicroBatchStream =
      graft.spark.TableMicroBatchStream.graft(root, Meta.load(root).schema)
  }
  private object IcebergFmt extends Fmt {
    import graft.table.iceberg.{IcebergMetadata, IcebergTable, IcebergWrite}
    val suffix = " [iceberg]"
    def create(root: String, df: org.apache.spark.sql.DataFrame): Unit = {
      IcebergWrite.create(spark, root, df); ()
    }
    def append(root: String, df: org.apache.spark.sql.DataFrame): Unit =
      IcebergWrite.append(spark, root, df)
    def snapshotIds(root: String): Seq[Long] =
      IcebergMetadata.load(root).snapshots.map(_.snapshotId)
    def headFiles(root: String): Seq[String] = {
      val t = IcebergTable.load(spark, root)
      t.plannedFiles().map(e =>
        graft.table.TableIO.qualified(t.resolvePath(e._1.filePath)))
    }
    def stream(root: String): graft.spark.TableMicroBatchStream =
      graft.spark.TableMicroBatchStream.iceberg(root,
        IcebergMetadata.load(root).schema.toSpark)
  }
  private val formats = Seq(GraftFmt, IcebergFmt)

  test("streaming windowed agg matches the batch groupBy") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toFile
    dir.deleteOnExit()
    // stage the events as a file-source directory
    Tables.events(spark, sf).write.mode("overwrite").parquet(dir + "/in")

    val stream = spark.readStream
      .schema(Tables.events(spark, sf).schema)
      .parquet(dir + "/in")
    val q = EventStreams.windowedAgg(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    // watermark append-mode only emits windows sealed by the watermark;
    // compare those against the batch result
    val got = spark.table("win_out")
      .select(col("hour"), col("event_type"), col("n"), col("total_value"))
      .collect().map(_.toString).toSet
    val batch = EventStreams.windowedAgg(Tables.events(spark, sf))
      .collect().map(_.toString).toSet
    assert(got.nonEmpty, "stream emitted nothing")
    assert(got.subsetOf(batch), "stream emitted a window batch disagrees with")
  }

  test("streaming KMV sketch merges across micro-batches to the batch estimate") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kmv-stream").toFile
    dir.deleteOnExit()
    // 4 input files + maxFilesPerTrigger=1 → the sketch state must
    // merge across micro-batches, not just within one
    Tables.events(spark, sf).repartition(4)
      .write.mode("overwrite").parquet(dir + "/in")
    val kmv = udaf(graft.functions.KmvDistinct)
    val stream = spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/in")
    val q = stream
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(kmv(col("user_id")), 4).as("kmv_uniques"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("kmv_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("kmv_out").collect()
      .map(r => r.getDate(0).toString -> r.getDouble(1)).toMap
    val batch = ops.Events.evKmvUniques(spark, sf).collect()
      .map(r => r.getDate(0).toString -> r.getDouble(2)).toMap
    assert(got.nonEmpty)
    assert(got === batch,
      "incrementally-merged sketch disagrees with the batch sketch")
  }

  test("streaming CMS sketch accumulates across micro-batches to the batch sketch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cms-stream").toFile
    dir.deleteOnExit()
    // 4 input files + maxFilesPerTrigger=1 → cell counts must
    // accumulate across micro-batches (cell-wise addition IS the
    // sketch merge); complete mode re-emits the whole sketch
    Tables.events(spark, sf).repartition(4)
      .write.mode("overwrite").parquet(dir + "/in")
    val stream = spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/in")
    val q = ops.Events.cmsSketch(stream.select(col("user_id")))
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("cms_out").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = ops.Events.cmsSketch(
      Tables.events(spark, sf).select(col("user_id"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    assert(got === batch,
      "incrementally-accumulated CMS disagrees with the batch sketch")
  }

  test("streaming Bloom ingestion: per-batch probes equal the batch dedup") {
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-stream").toFile
    dir.deleteOnExit()
    val docs = Tables.documents(spark, sf)
      .withColumn("grp", substring(col("source"), 4, 9).cast("int"))
    // history builds the filter ONCE; new docs arrive over 4
    // micro-batches and probe the same broadcast bits — the ingestion
    // shape the operator exists for
    val bits = ops.Dedup.bloomBits(docs.filter(col("grp") < 10))
      .localCheckpoint()
    docs.filter(col("grp") >= 10).select("doc_id", "text")
      .repartition(4).write.mode("overwrite").parquet(dir + "/in")

    val flagged = scala.collection.mutable.Set[Long]()
    val seen = scala.collection.mutable.Set[Long]()
    val stream = spark.readStream
      .schema(docs.select("doc_id", "text").schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/in")
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen ++= batch.select("doc_id").as[Long].collect()
        flagged ++= ops.Dedup.bloomProbe(batch, bits)
          .select("doc_id").as[Long].collect()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val batchOut = ops.Dedup.ddBloomIncr(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the operator only emits docs long enough to carry a window, so
    // the stream covers a superset of the batch output's doc set
    assert(seen.nonEmpty && batchOut.keySet.subsetOf(seen),
      "stream did not cover the new-doc set")
    // per-batch probe flags must equal the batch operator's bloom_hit
    assert(flagged === batchOut.filter(_._2 == 1).keySet,
      "incremental Bloom probes disagree with the batch dedup")
  }

  test("graft table as a streaming source: snapshots arrive as micro-batches") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.GraftTable
    val root = java.nio.file.Files.createTempDirectory("graft-src-stream")
      .toString + "/t"
    val df1 = (1L to 40L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1)
    val t = GraftTable.create(spark, root, df1.schema)
    t.append(df1)

    // batch 1: the existing snapshot (parquet sink: checkpoint-recoverable)
    val out = root + "-out"
    val q1 = spark.readStream.format("graft").load(root)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", root + "-ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q1.awaitTermination(120000)
    assert(spark.read.parquet(out).count() === 40L)

    // two more snapshots + a compaction (rewrite must NOT re-emit rows)
    t.append((41L to 60L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    t.append((61L to 70L).map(i => (i, s"c$i")).toDF("k", "v").coalesce(1))
    t.compact(targetFileBytes = 512L * 1024 * 1024)
    val q2 = spark.readStream.format("graft").load(root)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", root + "-ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination(120000)
    val ks = spark.read.parquet(out).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    // exactly 1..70, each once: checkpoint resumed past snapshot 1 and
    // the rewrite snapshot contributed nothing
    assert(ks === (1L to 70L))
  }

  test("graft table as a streaming sink: exactly-once epoch commits") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.GraftTable
    val base = java.nio.file.Files.createTempDirectory("graft-sink-stream")
      .toString
    val src = base + "/src"; val dst = base + "/dst"
    val ckpt = base + "/ckpt"
    val df1 = (1L to 40L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1)
    val s = GraftTable.create(spark, src, df1.schema)
    s.append(df1)
    GraftTable.create(spark, dst, df1.schema)

    def run(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.outputMode("append").format("graft")
        .option("path", dst).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    run()
    val d1 = GraftTable.load(spark, dst)
    assert(d1.scan().count() === 40L)
    val stamp1 = d1.meta.snapshots.last.summary
    assert(stamp1.get("streaming-query-id").exists(_.nonEmpty))
    assert(stamp1.get("streaming-epoch-id").contains("0"))

    // a second snapshot arrives; the resumed query appends exactly it
    s.append((41L to 70L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    run()
    val d2 = GraftTable.load(spark, dst)
    assert(d2.scan().select("k").as[Long].collect().sorted.toSeq ===
      (1L to 70L))
    // restarts share the stable query id (what makes replay dedup work)
    assert(d2.meta.snapshots.last.summary.get("streaming-query-id") ===
      stamp1.get("streaming-query-id"))

    // recovery replay: drop the final commit marker so the restarted
    // query re-executes the last epoch — the (query-id, epoch-id)
    // snapshot stamp must drop the duplicate commit
    val commits = new java.io.File(ckpt + "/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParentFile,
      "." + commits.last.getName + ".crc")
    commits.last.delete(); crc.delete()
    val snapsBefore = GraftTable.load(spark, dst).meta.snapshots.size
    run()
    val d3 = GraftTable.load(spark, dst)
    assert(d3.meta.snapshots.size === snapsBefore,
      "replayed epoch committed a duplicate snapshot")
    assert(d3.scan().count() === 70L)
  }

  test("streaming sink partition-routes rows on a spec'd table") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.{GraftTable, Meta}
    val base = java.nio.file.Files.createTempDirectory("graft-sink-part")
      .toString
    val src = base + "/src"; val dst = base + "/dst"
    val df = (1L to 80L).map(i => (i, i % 4)).toDF("k", "cat")
    val s = GraftTable.create(spark, src, df.schema)
    s.append(df)
    val d = GraftTable.create(spark, dst, df.schema,
      spec = Seq(Meta.PartitionField("cat", "identity", "_p_cat")))

    val q = spark.readStream.format("graft").load(src)
      .writeStream.outputMode("append").format("graft")
      .option("path", dst).option("checkpointLocation", base + "/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    assert(d.scan().count() === 80L)
    // rows were routed into partition dirs on the executors, so the
    // files carry partition values and a cat predicate prunes files
    val planned = d.plannedFiles(Seq(d.StatFilter("cat", "=", "2")))
    assert(planned.nonEmpty &&
      planned.forall(_.partitionValues.get("_p_cat").contains("2")))
    assert(d.scan().filter(col("cat") === 2L).count() === 20L)
  }

  test("streaming sink epochs range-cluster into a sort-ordered table") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.GraftTable
    val base = java.nio.file.Files.createTempDirectory("graft-sink-sorted")
      .toString
    val src = base + "/src"; val dst = base + "/dst"
    val df = (1L to 400L).map(i => ((i * 131) % 997, i)).toDF("key", "v")
    val s = GraftTable.create(spark, src, df.schema)
    s.append(df)
    val d = GraftTable.create(spark, dst, df.schema,
      sortOrder = Seq("key"))

    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.outputMode("append").format("graft")
        .option("path", dst).option("checkpointLocation", base + "/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", parts0)
    }
    assert(d.scan().count() === 400L)
    // micro-batch planning applied the write's required distribution
    // and ordering: the epoch's files carry disjoint sort-key ranges
    // even though the commit ingested them without a driver re-write
    val bounds = d.meta.liveFiles(None)
      .flatMap(_.stats.get("key").map(st => (st.min.toLong, st.max.toLong)))
      .sortBy(_._1)
    assert(bounds.size > 1, s"expected multiple files, got $bounds")
    bounds.sliding(2).foreach {
      case Seq((_, max1), (min2, _)) =>
        assert(max1 <= min2, s"epoch files overlap on the sort key: $bounds")
      case _ =>
    }
  }

  test("streaming source fails loudly on replace snapshots, ignores branches") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.GraftTable
    val root = java.nio.file.Files.createTempDirectory("graft-src-guard")
      .toString + "/t"
    val df1 = (1L to 20L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1)
    val t = GraftTable.create(spark, root, df1.schema)
    t.append(df1)
    // a branch append must NOT leak into the main-table stream
    t.setRef("dev", t.meta.currentSnapshotId.get)
    t.append((100L to 120L).map(i => (i, s"d$i")).toDF("k", "v").coalesce(1),
      branch = "dev")
    val out = root + "-out"
    val q1 = spark.readStream.format("graft").load(root)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", root + "-ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q1.awaitTermination(120000)
    val ks = spark.read.parquet(out).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks === (1L to 20L), s"branch rows leaked: $ks")
    // a replace snapshot (SQL UPDATE-style rewrite) fails the stream
    // rather than silently dropping replaced rows
    t.delete(col("k") === 1L) // CoW delete commits a "delete" snapshot
    val q2 = spark.readStream.format("graft").load(root)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", root + "-ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination(120000)
    }
    assert(ex.getMessage.contains("append-only streams") ||
      Option(ex.getCause).exists(_.getMessage.contains("append-only streams")))
  }

  for (fmt <- formats)
  test("admission control: maxFilesPerTrigger drains a backlog in bounded batches" +
      fmt.suffix) {
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-src-admission")
      .toString + "/t"
    // 10-snapshot backlog, one file per snapshot
    val df1 = (1L to 10L).map(i => (i, s"s0-$i")).toDF("k", "v").coalesce(1)
    fmt.create(root, df1)
    (1 to 9).foreach { s =>
      fmt.append(root, (1L to 10L).map(i => (s * 10 + i, s"s$s-$i"))
        .toDF("k", "v").coalesce(1))
    }
    assert(fmt.snapshotIds(root).size === 10)

    // cap at 3 files per micro-batch: 10 one-file snapshots need >= 4
    // batches; AvailableNow must still drain the WHOLE backlog
    val out = root + "-out"
    val q1 = spark.readStream.format("graft")
      .option("maxFilesPerTrigger", "3")
      .load(root)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", root + "-ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q1.awaitTermination(120000)
    assert(spark.read.parquet(out).count() === 100L)
    val progress = q1.recentProgress.filter(_.numInputRows > 0)
    assert(progress.length >= 4,
      s"expected >=4 bounded batches, got ${progress.length}")
    assert(progress.forall(_.numInputRows <= 30),
      s"a batch exceeded the 3-file cap: ${progress.map(_.numInputRows).toSeq}")

    // checkpoint resume: new snapshots drain from the checkpoint, still
    // bounded — this leg caps by BYTES (each one-file snapshot is well
    // over 1 byte, so the cap admits exactly one snapshot per batch)
    fmt.append(root, (101L to 110L).map(i => (i, s"x$i")).toDF("k", "v").coalesce(1))
    fmt.append(root, (111L to 120L).map(i => (i, s"y$i")).toDF("k", "v").coalesce(1))
    val q2 = spark.readStream.format("graft")
      .option("maxBytesPerTrigger", "1")
      .load(root)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", root + "-ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination(120000)
    val ks = spark.read.parquet(out).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks === (1L to 120L), "resume missed or duplicated rows")
    val progress2 = q2.recentProgress.filter(_.numInputRows > 0)
    assert(progress2.length === 2,
      s"expected 2 one-snapshot batches, got ${progress2.length}")
  }

  for (fmt <- formats)
  test("startingSnapshotId: a fresh stream skips history before the pin" +
      fmt.suffix) {
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-src-start")
      .toString + "/t"
    val df1 = (1L to 20L).map(i => (i, s"old$i")).toDF("k", "v").coalesce(1)
    fmt.create(root, df1)
    val pin = fmt.snapshotIds(root).last
    fmt.append(root, (21L to 30L).map(i => (i, s"new$i")).toDF("k", "v").coalesce(1))
    val out = root + "-out"
    val q = spark.readStream.format("graft")
      .option("startingSnapshotId", pin.toString)
      .load(root)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", root + "-ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val ks = spark.read.parquet(out).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks === (21L to 30L), s"pre-pin history leaked: $ks")
  }

  for (fmt <- formats)
  test("startingSnapshotId off the timeline fails loudly" + fmt.suffix) {
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-src-badpin")
      .toString + "/t"
    fmt.create(root, (1L to 20L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    // a pin past every snapshot used to skip the whole table, now and
    // after every later append, without a word
    def drain(): Unit = spark.readStream.format("graft")
      .option("startingSnapshotId", "999").load(root)
      .writeStream.outputMode("append")
      .format("memory").queryName(s"badpin_${java.util.UUID.randomUUID().toString.take(6)}")
      .option("checkpointLocation", root + "-ckpt")
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination(120000)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain())
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("startingSnapshotId 999"), msgs)
  }

  test("expire squash: resumed streams fail loudly, fresh streams read the base") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.GraftTable
    val root = java.nio.file.Files.createTempDirectory("graft-src-squash")
      .toString + "/t"
    val df1 = (1L to 20L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1)
    val t = GraftTable.create(spark, root, df1.schema)
    t.append(df1)
    // consume snapshot 1, checkpointing the offset
    val out = root + "-out"
    val q1 = spark.readStream.format("graft").load(root)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", root + "-ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q1.awaitTermination(120000)
    assert(spark.read.parquet(out).count() === 20L)
    // more appends, then expire squashes everything into one base
    t.append((21L to 30L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    t.append((31L to 40L).map(i => (i, s"c$i")).toDF("k", "v").coalesce(1))
    t.expireSnapshots(keepLast = 1)
    assert(t.meta.snapshots.size === 1)
    // the checkpointed snapshot is gone: resuming must fail loudly,
    // never duplicate or drop rows silently
    val q2 = spark.readStream.format("graft").load(root)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", root + "-ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination(120000)
    }
    assert(ex.getMessage.contains("squash") ||
      Option(ex.getCause).exists(_.getMessage.contains("squash")))
    // a FRESH stream reads the squashed base: the full live set, once
    val out2 = root + "-out2"
    val q3 = spark.readStream.format("graft").load(root)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out2)
      .option("checkpointLocation", root + "-ckpt2")
      .trigger(Trigger.AvailableNow())
      .start()
    q3.awaitTermination(120000)
    val ks = spark.read.parquet(out2).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks === (1L to 40L), s"fresh stream over squashed base: $ks")
  }

  // inputs: table format x cap (maxFilesPerTrigger, or a
  // maxBytesPerTrigger budget of ten of the largest files)
  for (fmt <- formats; byBytes <- Seq(false, true))
  test("sub-snapshot admission: one 100-file snapshot drains in bounded, resumable batches" +
      fmt.suffix + (if (byBytes) " [maxBytesPerTrigger]" else "")) {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import org.apache.spark.sql.execution.datasources.FilePartition
    val root = java.nio.file.Files.createTempDirectory("graft-subsnap")
      .toString + "/t"
    val df = (1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
    fmt.create(root, df.repartition(100)) // ONE snapshot, 100 files
    val headFiles = fmt.headFiles(root)
    assert(headFiles.size === 100)
    val budget = 10 * headFiles.map(f =>
      new java.io.File(new java.net.URI(f).getPath).length).max
    val (capOption, capValue) =
      if (byBytes) ("maxBytesPerTrigger", budget) else ("maxFilesPerTrigger", 10L)

    // drive the MicroBatchStream protocol like the engine would, with
    // a checkpoint round-trip (serialize/deserialize) at every step
    val stream = fmt.stream(root)
    val limit =
      if (byBytes) ReadLimit.maxBytes(capValue) else ReadLimit.maxFiles(capValue.toInt)
    var offset = stream.initialOffset()
    var batches = 0
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    var done = false
    while (!done && batches < 50) {
      val next = stream.latestOffset(offset, limit)
      if (next.json() == offset.json()) done = true
      else {
        val parts = stream.planInputPartitions(offset, next)
        val files = parts.toSeq.flatMap(_.asInstanceOf[FilePartition].files.toSeq)
        if (byBytes) assert(files.map(_.length).sum <= budget,
          s"batch $batches exceeded the byte budget")
        seen ++= files.map(_.filePath.toString)
        batches += 1
        // checkpoint round-trip: the next batch starts from the
        // DESERIALIZED offset, as a restarted query would
        offset = stream.deserializeOffset(next.json())
      }
    }
    if (byBytes) assert(batches >= 2 && batches <= 10,
      s"a ten-file byte budget must split 100 files into 2..10 batches, got $batches")
    else assert(batches === 10,
      s"100 files at 10/trigger must take 10 batches, got $batches")
    assert(seen.size === 100 && seen.distinct.size === 100,
      "every file exactly once across batches")
    assert(seen.toSet === headFiles.toSet)

    // end-to-end: the same drain through a real query, exactly-once rows
    val out = root + "-out"
    val q = spark.readStream.format("graft")
      .option(capOption, capValue.toString).load(root)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", root + "-ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    assert(spark.read.parquet(out).count() === 1000L)
    assert(spark.read.parquet(out).select("k").distinct().count() === 1000L)
    // a second append resumes from the checkpoint without replaying
    fmt.append(root, Seq((2000L, "new")).toDF("k", "v").coalesce(1))
    val q2 = spark.readStream.format("graft")
      .option(capOption, capValue.toString).load(root)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", root + "-ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination(180000)
    assert(spark.read.parquet(out).count() === 1001L)
  }

  for (fmt <- formats)
  test("stream file-list memo holds only the snapshot a partial offset points into" +
      fmt.suffix) {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val root = java.nio.file.Files.createTempDirectory("graft-memo")
      .toString + "/t"
    // 8 snapshots of 3 files each, drained 2 files per batch: most
    // batches end inside a snapshot
    fmt.create(root, (1L to 30L).map(i => (i, s"a$i")).toDF("k", "v").repartition(3))
    (1 to 7).foreach(s => fmt.append(root,
      (1L to 30L).map(i => (s * 100 + i, s"b$i")).toDF("k", "v").repartition(3)))
    val stream = fmt.stream(root)
    stream.prepareForTriggerAvailableNow()
    val limit = ReadLimit.maxFiles(2)
    var offset = stream.initialOffset()
    var batches = 0
    var partials = 0
    var done = false
    while (!done && batches < 50) {
      val next = stream.latestOffset(offset, limit)
      if (next.json() == offset.json()) done = true
      else {
        stream.planInputPartitions(offset, next)
        stream.commit(next)
        batches += 1
        // a partial offset serializes as id:pos:hash
        val partialId = next.json().split(":") match {
          case Array(id, _, _) => partials += 1; Set(id.toLong)
          case _ => Set.empty[Long]
        }
        assert(stream.memoized.subsetOf(partialId),
          s"after batch $batches the memo holds ${stream.memoized}, " +
            s"offset ${next.json()}")
        offset = next
      }
    }
    assert(batches === 12 && partials > 0, s"batches=$batches partials=$partials")
    assert(stream.memoized.isEmpty)
  }

  test("expire squash above a tag-pinned checkpoint: resume fails loudly") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.{GraftTable, Meta}
    val root = java.nio.file.Files.createTempDirectory("graft-src-squash2")
      .toString + "/t"
    val df1 = (1L to 20L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1)
    val t = GraftTable.create(spark, root, df1.schema)
    t.append(df1)
    val snap1 = t.meta.currentSnapshotId.get
    // consume snapshot 1, checkpointing the offset
    val out = root + "-out"
    val q1 = spark.readStream.format("graft").load(root)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", root + "-ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q1.awaitTermination(120000)
    assert(spark.read.parquet(out).count() === 20L)
    // a TAG keeps the checkpointed snapshot alive through expire while
    // the chain ABOVE it is squashed into a parent-less base carrying
    // the full live set
    t.setRef("pin", snap1, Some(Meta.RefRetention(refType = "tag")))
    t.append((21L to 30L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    t.append((31L to 40L).map(i => (i, s"c$i")).toDF("k", "v").coalesce(1))
    t.expireSnapshots(keepLast = 1)
    val m = t.meta
    assert(m.snapshot(snap1).isDefined, "tag must keep the checkpoint")
    assert(m.currentSnapshotId.flatMap(m.snapshot).exists(_.parentId.isEmpty),
      "main tip must be an expire-squashed base")
    // the naive resume would emit the base WHOLESALE — 40 rows on top
    // of the 20 already written. It must fail loudly instead.
    val q2 = spark.readStream.format("graft").load(root)
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", root + "-ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination(120000)
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .take(6).map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("squash"), s"expected squash failure, got: $msgs")
    // and no duplicates were written
    assert(spark.read.parquet(out).count() === 20L)
  }

  test("streaming dedup: dropDuplicates within watermark matches batch distinct") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-stream").toFile
    dir.deleteOnExit()
    val ev = Tables.events(spark, sf)
    // duplicate the stream on purpose
    ev.unionByName(ev).write.mode("overwrite").parquet(dir + "/in")
    val stream = spark.readStream.schema(ev.schema).parquet(dir + "/in")
    val q = stream
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(spark.table("dedup_out").count() === ev.count())
  }

  test("stream-stream join: purchases join clicks within the event-time bound") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ssj").toFile
    dir.deleteOnExit()
    val ev = Tables.events(spark, sf)
    ev.write.mode("overwrite").parquet(dir + "/in")
    def side(t: String) = spark.readStream.schema(ev.schema).parquet(dir + "/in")
      .filter(col("event_type") === t)
      .select(col("event_id").as(s"${t}_id"), col("user_id").as(s"${t}_user"),
        col("ts").as(s"${t}_ts"))
      .withWatermark(s"${t}_ts", "1 hour")
    val joined = side("purchase").join(side("click"),
      expr("""purchase_user = click_user AND
              click_ts BETWEEN purchase_ts - INTERVAL 10 MINUTES AND purchase_ts"""))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ssj_out").count()
    // batch equivalent over the same frames
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"), col("ts").as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    val want = p.join(c, col("pu") === col("cu") &&
      col("cts").between(col("pts") - expr("INTERVAL 10 MINUTES"), col("pts"))).count()
    assert(got === want, s"stream=$got batch=$want")
  }

  test("stateful sessionization agrees with the batch gap logic on closed sessions") {
    val spark0 = spark
    import spark0.implicits._
    val ds = Tables.events(spark, sf).as[EventStreams.Event]
    // batch run through the same stateful function (single "micro-batch")
    val sessions = EventStreams.sessionize(ds).collect()
    assert(sessions.nonEmpty)
    // compare session counts: stateful emits only closed sessions; the
    // batch window query counts all sessions. closed <= all, and
    // closed + open-per-user == all.
    val batchSessions = ops.Events.evSessionize(spark, sf).collect()
    val users = batchSessions.map(_.getLong(0)).distinct.length
    assert(sessions.length + users === batchSessions.length,
      s"closed=${sessions.length} users=$users batch=${batchSessions.length}")
  }

  test("iceberg stream replay resolves pre-rename files by field id") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val loc = java.nio.file.Files
      .createTempDirectory("graft-icern-stream").toString + "/t"
    // era 1 written under the OLD column name, then a rename, then era
    // 2 under the new name: a stream replaying from the start must
    // resolve BOTH eras (name-based resolution would null-fill era 1)
    graft.table.iceberg.IcebergWrite.create(spark, loc,
      (1L to 30L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    graft.table.iceberg.IcebergWrite.renameColumn(loc, "v", "label")
    graft.table.iceberg.IcebergWrite.append(spark, loc,
      (31L to 50L).map(i => (i, s"b$i")).toDF("k", "label").coalesce(1))
    val q = spark.readStream.format("graft").load(loc)
      .writeStream.outputMode("append")
      .format("memory").queryName("ice_rn_replay")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("ice_rn_replay")
    assert(got.count() === 50L)
    assert(got.filter(org.apache.spark.sql.functions.col("label").isNull)
      .count() === 0L, "pre-rename files must resolve by field id")
    assert(got.filter(org.apache.spark.sql.functions.col("k") === 5L)
      .select("label").collect()(0).getString(0) === "a5")
  }

  test("iceberg stream replay null-fills pre-add files for added columns") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    val loc = java.nio.file.Files
      .createTempDirectory("graft-iceadd-stream").toString + "/t"
    // era 1 lacks the column entirely; a replay from the start must
    // null-fill era 1 (the added field id is absent from its footers)
    // while reading real values from era 2
    graft.table.iceberg.IcebergWrite.create(spark, loc,
      (1L to 25L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    graft.table.iceberg.IcebergWrite.addColumns(loc,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.LongType))))
    graft.table.iceberg.IcebergWrite.append(spark, loc,
      (26L to 40L).map(i => (i, s"b$i", i * 2L)).toDF("k", "v", "score")
        .coalesce(1))
    val q = spark.readStream.format("graft").load(loc)
      .writeStream.outputMode("append")
      .format("memory").queryName("ice_add_replay")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("ice_add_replay")
    assert(got.count() === 40L)
    assert(got.filter(col("k") <= 25L && col("score").isNotNull)
      .count() === 0L, "pre-add files must null-fill the added column")
    assert(got.filter(col("k") > 25L)
      .filter(col("score") =!= col("k") * 2L).count() === 0L)
    assert(got.filter(col("v").isNull).count() === 0L)
  }


  test("iceberg streaming sink: exactly-once epochs into an adopted table") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergMetadata, IcebergWrite}
    val base = java.nio.file.Files.createTempDirectory("ice-sink").toString
    val src = base + "/wh/db/src"; val ckpt = base + "/ckpt"
    val cat = s"isink_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base + "/wh")
    try {
      spark.sql(s"CREATE NAMESPACE $cat.db")
      val s0 = graft.table.GraftTable.create(spark, src,
        (1L to 30L).map(i => (i, s"a$i")).toDF("k", "v").schema)
      s0.append((1L to 30L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
      // the sink is a REAL-format table the catalog serves as adopted
      val dstLoc = base + "/wh/db/icet"
      IcebergWrite.create(spark, dstLoc,
        Seq.empty[(Long, String)].toDF("k", "v"))

      def run(): Unit = {
        val q = spark.readStream.format("graft").load(src)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .toTable(s"$cat.db.icet")
        q.awaitTermination(120000)
      }
      run()
      assert(spark.table(s"$cat.db.icet").count() === 30L)
      val m1 = IcebergMetadata.load(dstLoc)
      val stamp1 = m1.snapshots.last.summary
      assert(stamp1.get("streaming-query-id").exists(_.nonEmpty))
      assert(stamp1.get("streaming-epoch-id").contains("0"))

      // second snapshot arrives; the resumed query appends exactly it
      s0.append((31L to 50L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
      run()
      assert(spark.table(s"$cat.db.icet").select("k").as[Long]
        .collect().sorted.toSeq === (1L to 50L))
      assert(IcebergMetadata.load(dstLoc).snapshots.last.summary
        .get("streaming-query-id") === stamp1.get("streaming-query-id"))

      // recovery replay: drop the final commit marker so the restarted
      // query re-executes the last epoch — the (query-id, epoch-id)
      // stamp must drop the duplicate commit
      val commits = new java.io.File(ckpt + "/commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
      assert(commits.nonEmpty)
      new java.io.File(commits.last.getParentFile,
        "." + commits.last.getName + ".crc").delete()
      commits.last.delete()
      val snapsBefore = IcebergMetadata.load(dstLoc).snapshots.size
      run()
      assert(IcebergMetadata.load(dstLoc).snapshots.size === snapsBefore,
        "replayed epoch committed a duplicate snapshot")
      assert(spark.table(s"$cat.db.icet").count() === 50L)
      // no staging residue under the table root
      val residue = new java.io.File(dstLoc).listFiles()
        .map(_.getName).filter(_.startsWith("stage-stream-"))
      assert(residue.isEmpty, s"leaked: ${residue.toSeq}")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("iceberg streaming sink partition-routes epochs through the spec") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergMetadata, IcebergWrite}
    val base = java.nio.file.Files.createTempDirectory("ice-sink-part").toString
    val src = base + "/wh/db/src"
    val cat = s"ipart_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base + "/wh")
    try {
      spark.sql(s"CREATE NAMESPACE $cat.db")
      val df = (1L to 60L).map(i => (i, i % 3)).toDF("k", "cat")
      val s0 = graft.table.GraftTable.create(spark, src, df.schema)
      s0.append(df)
      val dstLoc = base + "/wh/db/icep"
      IcebergWrite.createWithSpec(spark, dstLoc,
        df.limit(0), Seq("cat" -> "identity"))
      val q = spark.readStream.format("graft").load(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", base + "/ckpt")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.icep")
      q.awaitTermination(120000)
      assert(spark.table(s"$cat.db.icep").count() === 60L)
      // the epoch's files carry manifest partition values: a filtered
      // scan plans only the matching partition's files
      val parts = spark.sql(
        s"SELECT partition FROM $cat.db.icep.files").collect()
        .map(_.getString(0))
      assert(parts.nonEmpty &&
        parts.forall(p => p != null && p.contains("cat")),
        s"epoch files lack manifest partition values: ${parts.toSeq}")
      assert(spark.table(s"$cat.db.icep")
        .filter(col("cat") === 1L).count() === 20L)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("iceberg streaming sink Complete mode truncates per epoch") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergMetadata, IcebergWrite}
    val base = java.nio.file.Files.createTempDirectory("ice-sink-cm").toString
    val cat = s"icm_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base + "/wh")
    try {
      spark.sql(s"CREATE NAMESPACE $cat.db")
      val dstLoc = base + "/wh/db/agg"
      IcebergWrite.create(spark, dstLoc,
        Seq.empty[(Long, Long)].toDF("k", "n"))
      val mem = org.apache.spark.sql.execution.streaming
        .runtime.MemoryStream[Long](spark)
      mem.addData(1L, 2L, 2L, 3L)
      val q = mem.toDF().withColumnRenamed("value", "k")
        .groupBy("k").agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", base + "/ckpt")
        .toTable(s"$cat.db.agg")
      q.processAllAvailable()
      assert(spark.table(s"$cat.db.agg").count() === 3L)
      // second epoch: the WHOLE result replaces the first epoch's
      mem.addData(2L, 9L)
      q.processAllAvailable()
      q.stop()
      val got = spark.table(s"$cat.db.agg").orderBy("k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === Seq((1L, 1L), (2L, 3L), (3L, 1L), (9L, 1L)),
        s"complete mode must serve exactly the latest result: $got")
      // each epoch was an 'overwrite' snapshot, not an append pile-up
      val ops = IcebergMetadata.load(dstLoc).snapshots.map(_.operation)
      assert(ops.count(_ == "overwrite") >= 2, s"ops: $ops")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("iceberg streaming sink over REST: epoch commits ride the protocol") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergMetadata, IcebergRestServer}
    val base = java.nio.file.Files.createTempDirectory("ice-sink-rest").toString
    val rwh = base + "/rwh"
    val server = new IcebergRestServer(rwh).start()
    val uri = s"http://127.0.0.1:${server.port}"
    val cat = s"irest_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.uri", uri)
    try {
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.sink (k BIGINT, v STRING)")
      val src = base + "/src"
      val s0 = graft.table.GraftTable.create(spark, src,
        (1L to 25L).map(i => (i, s"x$i")).toDF("k", "v").schema)
      s0.append((1L to 25L).map(i => (i, s"x$i")).toDF("k", "v").coalesce(1))
      val verBefore = IcebergMetadata.loadVersioned(s"$rwh/db/sink")._2
      val q = spark.readStream.format("graft").load(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", base + "/ckpt")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.sink")
      q.awaitTermination(120000)
      assert(spark.table(s"$cat.db.sink").count() === 25L)
      // the epoch's snapshot arrived as a SERVER-side metadata version
      // (the commit rode the update-table protocol, not a local CAS)
      val (m2, verAfter) = IcebergMetadata.loadVersioned(s"$rwh/db/sink")
      assert(verAfter > verBefore, "commit bypassed the REST protocol")
      assert(m2.snapshots.last.summary.get("streaming-epoch-id")
        .contains("0"))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.uri")
      graft.table.iceberg.IcebergRestCommit.deregisterBase(uri)
      server.stop()
    }
  }

  test("iceberg streaming sink vs maintenance: compaction/expire/rival between epochs; replay dedup survives expire") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergMetadata, IcebergWrite}
    val base = java.nio.file.Files.createTempDirectory("ice-sink-mx").toString
    val src = base + "/wh/db/src"; val ckpt = base + "/ckpt"
    val cat = s"imx_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base + "/wh")
    try {
      spark.sql(s"CREATE NAMESPACE $cat.db")
      val s0 = graft.table.GraftTable.create(spark, src,
        (1L to 20L).map(i => (i, s"a$i")).toDF("k", "v").schema)
      s0.append((1L to 20L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
      val dstLoc = base + "/wh/db/mx"
      IcebergWrite.create(spark, dstLoc,
        Seq.empty[(Long, String)].toDF("k", "v"))
      def run(): Unit = {
        val q = spark.readStream.format("graft").load(src)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .toTable(s"$cat.db.mx")
        q.awaitTermination(120000)
      }
      def ks(): Seq[Long] = spark.table(s"$cat.db.mx")
        .select("k").as[Long].collect().sorted.toSeq

      run() // epoch 0: 1..20
      // rival batch INSERT lands between epochs — the next epoch's
      // commit must CAS-rebase on top of it, losing nothing
      spark.sql(s"INSERT INTO $cat.db.mx VALUES (1001, 'r1'), (1002, 'r2')")
      s0.append((21L to 35L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
      run() // epoch 1 rebases over the rival
      assert(ks() === ((1L to 35L) ++ Seq(1001L, 1002L)),
        "epoch rebase over a rival insert lost rows")

      // compaction between epochs: the stream's next epoch rebases
      // over the rewritten file set
      spark.sql(s"CALL $cat.system.rewrite_data_files('db.mx')")
      s0.append((36L to 40L).map(i => (i, s"c$i")).toDF("k", "v").coalesce(1))
      run() // epoch 2
      assert(ks() === ((1L to 40L) ++ Seq(1001L, 1002L)),
        "epoch rebase over compaction lost rows")
      val stamped = IcebergMetadata.load(dstLoc).snapshots
        .filter(_.summary.contains("streaming-epoch-id"))
      assert(stamped.map(_.summary("streaming-epoch-id")).sorted
        === Seq("0", "1", "2"))

      // maintenance AFTER the last epoch: another compaction makes the
      // CURRENT snapshot unstamped, then expire drops every stamped
      // snapshot from history — the per-snapshot dedup anchor is gone
      spark.sql(s"CALL $cat.system.rewrite_data_files('db.mx')")
      spark.sql(s"CALL $cat.system.expire_snapshots('db.mx', keep_last => 1)")
      val mExp = IcebergMetadata.load(dstLoc)
      assert(!mExp.snapshots.exists(_.summary.contains("streaming-epoch-id")),
        "fixture broke: expire was supposed to drop every stamped snapshot")
      // the high-water property committed with each epoch survives
      val hw = mExp.properties.collect {
        case (k, v) if k.startsWith("graft.streaming.epoch.") => v }
      assert(hw.toSeq === Seq("2"),
        s"high-water epoch property missing after expire: ${mExp.properties}")

      // delayed recovery replay of epoch 2 (drop its commit marker):
      // with the stamped snapshots expired, ONLY the property blocks a
      // duplicate commit
      val commits = new java.io.File(ckpt + "/commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
      new java.io.File(commits.last.getParentFile,
        "." + commits.last.getName + ".crc").delete()
      commits.last.delete()
      val snapsBefore = IcebergMetadata.load(dstLoc).snapshots.size
      run() // replays epoch 2
      assert(IcebergMetadata.load(dstLoc).snapshots.size === snapsBefore,
        "replayed epoch after expire committed a duplicate snapshot")
      assert(ks() === ((1L to 40L) ++ Seq(1001L, 1002L)),
        "replay after expire duplicated rows")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("iceberg streaming sink: maintenance races a RUNNING query between epochs") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergMetadata, IcebergWrite}
    val base = java.nio.file.Files.createTempDirectory("ice-sink-live").toString
    val cat = s"ilive_${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base + "/wh")
    try {
      spark.sql(s"CREATE NAMESPACE $cat.db")
      val dstLoc = base + "/wh/db/live"
      IcebergWrite.create(spark, dstLoc, Seq.empty[Long].toDF("k"))
      val mem = org.apache.spark.sql.execution.streaming
        .runtime.MemoryStream[Long](spark)
      val q = mem.toDF().withColumnRenamed("value", "k")
        .writeStream.outputMode("append")
        .option("checkpointLocation", base + "/ckpt")
        .toTable(s"$cat.db.live")
      try {
        mem.addData(1L to 10L: _*); q.processAllAvailable()
        // maintenance + a rival commit while the query is LIVE: the
        // next epoch's CAS rebases over both, losing nothing
        spark.sql(s"INSERT INTO $cat.db.live VALUES (1001)")
        spark.sql(s"CALL $cat.system.rewrite_data_files('db.live')")
        mem.addData(11L to 20L: _*); q.processAllAvailable()
        spark.sql(s"CALL $cat.system.expire_snapshots('db.live', keep_last => 1)")
        mem.addData(21L to 25L: _*); q.processAllAvailable()
      } finally q.stop()
      assert(spark.table(s"$cat.db.live").select("k").as[Long]
        .collect().sorted.toSeq === ((1L to 25L) :+ 1001L),
        "maintenance racing a live stream lost or duplicated rows")
      // dedup anchors are in place for a later delayed replay even
      // though expire ran mid-stream
      val m = IcebergMetadata.load(dstLoc)
      assert(m.properties.exists { case (k, v) =>
        k.startsWith("graft.streaming.epoch.") && v == "2" },
        s"high-water property missing: ${m.properties}")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("graft sink skipIf: a commit whose idempotence guard fires adds no snapshot") {
    // the zombie shape, driven directly: commitStagedWrite with a
    // skipIf that observes the epoch already committed must back off
    // inside the retry loop — no snapshot, no property regression
    val spark0 = spark
    import spark0.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-skipif").toString
    val root = base + "/t"
    val t = graft.table.GraftTable.create(spark, root,
      Seq(1L).toDF("k").schema)
    t.append(Seq(1L, 2L).toDF("k"))
    val staging = new org.apache.hadoop.fs.Path(base, "stage-epoch")
    spark.createDataset(Seq(3L)).toDF("k").coalesce(1)
      .write.parquet(staging.toString)
    val before = graft.table.Meta.load(root)
    def dataFiles(): Int = Option(new java.io.File(root + "/data")
      .listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    val filesBefore = dataFiles()
    t.commitStagedWrite(staging, overwrite = false,
      propsExtra = Map("graft.streaming.epoch.q1" -> "4"),
      skipIf = _ => true)
    val after = graft.table.Meta.load(root)
    assert(after.snapshots.size === before.snapshots.size,
      "a skipped commit must add no snapshot")
    assert(!after.properties.contains("graft.streaming.epoch.q1"),
      "a skipped commit must not apply its property updates")
    assert(t.scan().count() === 2L)
    // the epoch's just-ingested files are reclaimed immediately (the
    // Iceberg commitStagedWrite's replayedInside behavior), not orphans
    // for remove_orphan_files
    assert(dataFiles() === filesBefore,
      "a skipped commit must reclaim the files it ingested")
  }

  test("streaming staged file names are collision-proof across replaying runs") {
    // the zombie-vs-winner hazard: two runs of the same query replay
    // the same epoch with the same (partitionId, taskId) — task ids
    // restart from 0 in a fresh JVM — so deterministic part-<p>-<t>
    // names would collide at the ingest destination, and the loser's
    // rename would silently overwrite the winner's committed epoch
    // file before the skipIf reclaim deleted it
    val dir = java.nio.file.Files.createTempDirectory("graft-nametag").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    val conf = org.apache.spark.sql.execution.datasources.GraftConnectorShim
      .prepareParquetWriteConf(spark, schema)
    def staged(run: String): String = {
      val w = graft.spark.GraftWriterFactory(dir + "/" + run, conf)
        .createWriter(0, 0L, 7L)
      w.commit() match {
        case graft.spark.GraftCommitMessage(p, _) => new java.io.File(p).getName
      }
    }
    val p1 = staged("run1")
    val p2 = staged("run2")
    assert(p1 !== p2,
      "identical (partition, task, epoch) across runs must not stage " +
        "colliding file names")
    assert(p1.matches("part-0-0-[0-9a-f]{8}\\.parquet"), p1)
  }

  test("skipIf reclaim never deletes a path the committed metadata references") {
    // defense-in-depth behind the name tags: if a skipped commit's
    // just-ingested file name ever DID collide with a committed file
    // (hand-adopted files, pre-r17 tables), reclaiming it would hole
    // the winner's published snapshot
    val spark0 = spark
    import spark0.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-reclaim").toString
    val root = base + "/t"
    val t = graft.table.GraftTable.create(spark, root,
      Seq(1L).toDF("k").schema)
    def stageFixed(sub: String): org.apache.hadoop.fs.Path = {
      // a staging dir holding ONE parquet file under a FIXED name —
      // the deterministic-name shape the real writers no longer produce
      val tmp = new java.io.File(base, "tmp-" + sub)
      // stamp the table's field id so the staged file scans like one
      // the real writers produced
      Seq(42L).toDF("k")
        .select(col("k").as("k",
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", 1L).build()))
        .coalesce(1).write.parquet(tmp.toString)
      val staging = new java.io.File(base, sub)
      staging.mkdirs()
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      assert(part.renameTo(new java.io.File(staging, "epoch.parquet")))
      new org.apache.hadoop.fs.Path(staging.toString)
    }
    t.commitStagedWrite(stageFixed("s1"), overwrite = false) // winner
    assert(new java.io.File(root + "/data/epoch.parquet").exists())
    // loser replays the epoch under the SAME file name; its skipIf
    // fires — the reclaim must spare the committed path
    t.commitStagedWrite(stageFixed("s2"), overwrite = false,
      skipIf = _ => true)
    assert(new java.io.File(root + "/data/epoch.parquet").exists(),
      "the skipped commit's reclaim deleted a file the winner's " +
        "published snapshot references")
    assert(t.scan().as[Long].collect().toSeq === Seq(42L))
  }

  test("iceberg sink recovery semantics: a stale high-water on a " +
      "rebuilt table skips as documented; a fresh query-id or property " +
      "reset re-arms; corrupted stamps read as absent") {
    val spark0 = spark
    import spark0.implicits._
    import graft.table.iceberg.{IcebergMetadata, IcebergMaintenance,
      IcebergTable, IcebergWrite}
    val base = java.nio.file.Files.createTempDirectory("ice-recov").toString
    val loc = base + "/t"
    IcebergWrite.create(spark, loc, Seq.empty[Long].toDF("k"))
    var n = 0
    def epoch(q: String, e: Long, rows: Seq[Long]): Boolean = {
      n += 1
      val dir = new org.apache.hadoop.fs.Path(base, s"stage$n")
      rows.toDF("k").coalesce(1).write.parquet(dir.toString)
      IcebergWrite.commitStagedWrite(spark, loc, dir, truncate = false,
        epoch = Some(graft.table.StreamEpoch(q, e)))
    }
    def ks(): Seq[Long] = IcebergTable.load(spark, loc).scan()
      .select("k").as[Long].collect().sorted.toSeq
    assert(epoch("qA", 0, Seq(1L, 2L)))
    assert(epoch("qA", 1, Seq(3L)))
    assert(ks() === Seq(1L, 2L, 3L))

    // REBUILD the table's content; the high-water property survives
    // the overwrite — the documented checkpoint-reuse hazard: a query
    // resuming the old checkpoint (same query-id) cannot re-land
    // epochs <= the stale high-water
    Seq.empty[Long].toDF("k").write.format("graft").mode("overwrite").save(loc)
    assert(IcebergMetadata.load(loc).properties
      .get("graft.streaming.epoch.qA") === Some("1"))
    assert(!epoch("qA", 1, Seq(3L)),
      "epochs <= the stale high-water skip silently (README documents it)")
    assert(ks() === Seq.empty, "the skipped epoch landed nothing")

    // documented remedy 1: a FRESH checkpoint = a new query-id
    assert(epoch("qB", 0, Seq(3L)), "a new query-id is unaffected")
    assert(ks() === Seq(3L))

    // documented remedy 2: UNSET the stale property AND expire the
    // stamped snapshots (both dedup anchors must go)
    IcebergMetadata.commitRetry(loc)(m =>
      m.copy(properties = m.properties - "graft.streaming.epoch.qA"))
    IcebergMaintenance.expireSnapshots(loc, keepLast = 1)
    assert(epoch("qA", 1, Seq(9L)),
      "after property reset + expire, the replayed epoch re-lands")
    assert(ks() === Seq(3L, 9L))

    // a corrupted (hand-edited) stamp reads as ABSENT rather than
    // permanently failing every commit of that query with an NFE
    IcebergMetadata.commitRetry(loc)(m => m.copy(properties =
      m.properties + ("graft.streaming.epoch.qC" -> "not-a-number")))
    assert(epoch("qC", 0, Seq(20L)),
      "an unparseable stamp must not fail the query")
    assert(ks() === Seq(3L, 9L, 20L))
  }

  test("graft streaming sink: replay dedup survives expireSnapshots") {
    val spark0 = spark
    import spark0.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-sink-exp").toString
    val src = base + "/src"; val dst = base + "/dst"; val ckpt = base + "/ckpt"
    val s0 = graft.table.GraftTable.create(spark, src,
      (1L to 10L).map(i => (i, s"a$i")).toDF("k", "v").schema)
    s0.append((1L to 10L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    graft.table.GraftTable.create(spark, dst,
      (1L to 10L).map(i => (i, s"a$i")).toDF("k", "v").schema)
    def run(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.outputMode("append").format("graft")
        .option("checkpointLocation", ckpt)
        .option("path", dst)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    run() // epoch 0
    s0.append((11L to 15L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    run() // epoch 1
    val t = graft.table.GraftTable.load(spark, dst)
    assert(t.scan().count() === 15L)
    // maintenance: a compacting rewrite + expire drops the stamped
    // epoch snapshots; the high-water property must carry the dedup
    t.compact()
    t.expireSnapshots(keepLast = 1)
    assert(!graft.table.Meta.load(dst).snapshots
      .exists(_.summary.contains("streaming-epoch-id")),
      "fixture broke: stamped snapshots were supposed to expire")
    val commits = new java.io.File(ckpt + "/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    new java.io.File(commits.last.getParentFile,
      "." + commits.last.getName + ".crc").delete()
    commits.last.delete()
    val snapsBefore = graft.table.Meta.load(dst).snapshots.size
    run() // replays epoch 1
    assert(graft.table.Meta.load(dst).snapshots.size === snapsBefore,
      "graft-sink replay after expire committed a duplicate")
    assert(graft.table.GraftTable.load(spark, dst).scan().count() === 15L)
  }
}
