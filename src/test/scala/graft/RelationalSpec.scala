package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.file.impl", "graft.hadoop.FastLocalFileSystem")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every relational query runs and returns rows at sf0.001") {
    ops.Relational.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("q01 aggregates over all flag/status groups") {
    val rows = ops.Relational.q01PricingSummary(spark, sf).collect()
    assert(rows.length >= 3)
    val flags = rows.map(_.getString(0)).toSet
    assert(flags.subsetOf(Set("A", "N", "R")))
  }

  test("q03 is a descending top-10 by revenue") {
    val rev = ops.Relational.q03JoinAggTopn(spark, sf)
      .collect().map(_.getDouble(2))
    assert(rev.length <= 10)
    assert(rev.sameElements(rev.sorted(Ordering[Double].reverse)))
  }

  test("q09 emits at most 3 rows per customer, ranked") {
    val rows = ops.Relational.q09WindowTopn(spark, sf).collect()
    val perCust = rows.groupBy(_.getLong(0))
    assert(perCust.values.forall(_.length <= 3))
    perCust.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length))
    }
  }

  test("every oracle key has a matching query key") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracle-only keys: ${os.diff(qs)}")
  }

  test("a new input path's schema is read on the driver, as Spark infers it") {
    import org.apache.spark.sql.execution.datasources.GraftConnectorShim
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // a directory as Spark writes one: part files beside _SUCCESS
    val written = java.nio.file.Files.createTempDirectory("graft-footer").toString +
      "/documents.parquet"
    spark.range(5).selectExpr("id AS doc_id", "cast(id AS string) AS text")
      .repartition(2).write.parquet(written)
    val testdata = new java.io.File(sf).getParent
    val paths = Seq("sf0.001", "sf0.01", "sf0.1").flatMap(f =>
      Tables.names.map(t => s"$testdata/$f/$t.parquet")) :+ written
    spark.sparkContext.addSparkListener(listener)
    try {
      paths.foreach { p =>
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        jobs.set(0)
        val mine = GraftConnectorShim.inferParquetSchema(spark, p)
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        assert(jobs.get === 0, s"$p: reading the schema ran a job")
        assert(mine === Some(spark.read.parquet(p).schema), p)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q04 plan broadcasts the part dim") {
    val plan = ops.Relational.q04BroadcastJoin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }
}
