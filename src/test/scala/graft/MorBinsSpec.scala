package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Merge-on-read scans on both table formats pack position-deleted
  * files, and the row-id scans of DELETE and MERGE, into multi-file
  * tasks; positions stay exact because each file of a bin is read by
  * its own inner reader. Seeded: the deleted keys and the MERGE source
  * come from `Seed`, and every step is checked against a plain-Scala
  * model of the table. */
class MorBinsSpec extends AnyFunSuite {
  import SparkTestSession._

  private val Seed = 20261018L
  private val Files48 = 48
  private val RowsPerFile = 100

  private lazy val wh = {
    val dir = Files.createTempDirectory("graft-morbins").toString
    spark.conf.set("spark.sql.catalog.graft_mb", "graft.spark.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.graft_mb.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_mb.db")
    dir
  }

  private def norm(uri: String): String = new Path(uri).toUri.getPath

  for (format <- Seq("graft", "iceberg"))
  test("merge-on-read scans pack position-deleted files into multi-file bins" +
      (if (format == "iceberg") " [iceberg]" else "")) {
    val spark0 = spark
    import spark0.implicits._
    val iceberg = format == "iceberg"
    val name = s"bins_$format"
    val table = s"graft_mb.db.$name"
    val root = s"$wh/db/$name"
    val rnd = new scala.util.Random(Seed)

    // 48 files of 100 consecutive keys each
    val n = Files48 * RowsPerFile
    val model = scala.collection.mutable.Map[Long, (String, Double)]()
    (1L to n).foreach(k => model(k) = (s"v$k", k * 0.5))
    val rows = (1L to n).map(k => (k, s"v$k", k * 0.5)).toDF("k", "v", "amt")
      .repartitionByRange(Files48, $"k")
    if (iceberg) graft.table.iceberg.IcebergWrite.create(spark, root, rows)
    else {
      spark.sql(s"CREATE TABLE $table (k BIGINT, v STRING, amt DOUBLE) TBLPROPERTIES (" +
        "'write.delete.mode'='merge-on-read', 'write.merge.mode'='merge-on-read')")
      rows.createOrReplaceTempView("morbins_src")
      spark.sql(s"INSERT INTO $table SELECT * FROM morbins_src")
    }

    def source = if (iceberg) new graft.spark.IcebergScanSource(root)
      else new graft.spark.GraftScanSource(root)
    /** the files of each input partition a scan plans, as URI paths */
    def bins(rowIds: Boolean): Seq[Seq[String]] = {
      val src = source
      val b = new graft.spark.TableScanBuilder(src)
      if (rowIds) b.pruneColumns(StructType(src.schema.fields ++ Seq(
        StructField(graft.spark.GraftSparkTable.FileColName, StringType),
        StructField(graft.spark.GraftSparkTable.PosColName, LongType))))
      b.build().toBatch.planInputPartitions().toSeq.map(
        _.asInstanceOf[FilePartition].files.toSeq.map(f => norm(f.filePath.toString)))
    }
    def liveDataFiles: Int = source.plan(Seq.empty)._1.size
    def check(step: String): Unit = {
      val got = spark.sql(s"SELECT k, v, amt FROM $table").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toSeq
      assert(got.size === got.map(_._1).distinct.size, s"$step: a key read twice (seed $Seed)")
      val (gotRows, want) = (got.toSet, model.toSet)
      val diff = (gotRows -- want).map("read " + _) ++ (want -- gotRows).map("model " + _)
      if (diff.nonEmpty)
        fail(s"$step: ${diff.size} rows differ from the model (seed $Seed): ${diff.take(6)}")
    }
    assert(liveDataFiles >= 40)
    check("insert")

    // k merge-on-read DELETEs over the first half of the files: the
    // modulus is not a source filter, so each runs as a row-level
    // delta over a row-id scan and writes position deletes
    val mods = rnd.shuffle((0 until 97).toList).take(3)
    mods.foreach { i =>
      spark.sql(s"DELETE FROM $table WHERE k % 97 = $i AND k <= ${n / 2}")
      model.keys.filter(k => k % 97 == i && k <= n / 2).toList.foreach(model.remove)
      check(s"DELETE k % 97 = $i")
    }
    val posDeletes = source.deletes.filter(_.content == 1)
    assert(posDeletes.nonEmpty, "the DELETEs wrote no position-delete file")
    // a DELETE task writes positions in read order; the Iceberg spec
    // wants each position-delete file sorted by (file_path, pos)
    posDeletes.foreach { d =>
      val rows = spark.read.parquet(d.uri).select("file_path", "pos").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows === rows.sorted, s"${d.uri} is not sorted by (file_path, pos)")
    }
    val touched = spark.read.parquet(posDeletes.map(_.uri): _*)
      .select("file_path").distinct().collect().map(r => norm(r.getString(0))).toSet

    // a full scan packs files under position deletes into multi-file
    // bins, and some bin mixes files the deletes name with untouched ones
    val full = bins(rowIds = false)
    assert(full.size < liveDataFiles,
      s"${full.size} input partitions for $liveDataFiles live data files")
    assert(full.exists(b => b.exists(touched) && b.exists(f => !touched(f))),
      s"no bin mixes position-deleted and untouched files: $full")
    // so does the row-id scan a delta write reads
    val rowIdBins = bins(rowIds = true)
    assert(rowIdBins.exists(_.size > 1), s"row-id scan bins: $rowIdBins")

    // one merge-on-read MERGE: its updates take (_file, _pos) from the
    // row-id scan, in files at every place of their bins
    val matched = rnd.shuffle(model.keys.toList.sorted).take(300)
    val fileOf = spark.sql(s"SELECT k, _file FROM $table").collect()
      .map(r => r.getLong(0) -> norm(r.getString(1))).toMap
    val firstInBin = rowIdBins.flatMap(_.headOption).toSet
    assert(matched.count(k => !firstInBin(fileOf(k))) > 250,
      "the MERGE must update rows of files that are not first in their bin")
    val fresh = (n + 1 to n + 20).map(_.toLong)
    val mergeRows = matched.map(k => (k, s"m$k", -k.toDouble)) ++
      fresh.map(k => (k, s"n$k", k.toDouble))
    mergeRows.toDF("k", "v", "amt").createOrReplaceTempView(s"morbins_merge_$format")
    spark.sql(
      s"""MERGE INTO $table t USING morbins_merge_$format s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v, amt = s.amt
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    mergeRows.foreach { case (k, v, amt) => model(k) = (v, amt) }
    check("MERGE")
  }
}
