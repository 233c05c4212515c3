package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.GraftConnectorShim
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Each table is a single parquet file under the scale-factor dir. At
  * cluster scale these would be directories of many files (or GraftTable
  * roots); nothing below assumes single-file inputs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema cache, keyed per (session, path): a bare
    * spark.read.parquet re-INFERS the schema on every call (a listing,
    * a footer read and a one-task Spark job), but these tables' schemas
    * are static metadata a production deployment would carry in its
    * catalog/manifests, not re-derive per query. A path not seen before
    * gets the same schema from one footer read on the driver, with no
    * job (`GraftConnectorShim.inferParquetSchema`). No DATA is cached —
    * only the StructType; the scan itself recomputes from parquet on
    * every invocation. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String),
      org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (System.identityHashCode(spark), path)
    val schema = schemaCache.computeIfAbsent(key,
      _ => GraftConnectorShim.inferParquetSchema(spark, path)
        .getOrElse(spark.read.parquet(path).schema))
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** Some testdata generations store events.ts as TIMESTAMP(NANOS),
    * which Spark's vectorized reader rejects; with nanosAsLong those
    * read as long, and we floor-convert to micros (integer `div` — a
    * double division would lose precision above 2^53), matching
    * DuckDB's truncating NANOS→micros read. Other generations store
    * plain micros, which need no conversion — branch on the read type. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // session tz is pinned UTC, so NTZ→LTZ keeps wall-clock values;
        // LTZ is what watermarks/windows require (and what the NANOS
        // path above always produced)
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Spread a few-partition local read across the executor cores
    * before CPU-bound per-row work (hashing, cosine kernels). A no-op
    * when input splits already provide parallelism — so at cluster
    * scale, where a 100 TB corpus arrives as thousands of splits, NO
    * full-table shuffle is added; locally, where a table is one small
    * file, the tiny shuffle is the equalizer. */
  def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val want = s.sparkContext.defaultParallelism
    val threshold = math.max(2, want / 2)
    val files = df.inputFiles
    if (files.length >= threshold) return df
    // few files can still split into many input partitions: estimate
    // splits from bytes (metadata-scale — at most `threshold` status
    // calls). This deliberately avoids the old `df.rdd` probe, which
    // forced an eager physical plan -> RDD conversion per call and
    // read the pre-AQE partitioning.
    val maxBytes = math.max(1L, s.sessionState.conf.filesMaxPartitionBytes)
    val splits = files.iterator.map { f =>
      val len =
        try graft.table.TableIO.size(new org.apache.hadoop.fs.Path(f))
        catch { case _: Exception => 0L }
      math.max(1L, (len + maxBytes - 1) / maxBytes)
    }.sum
    if (splits >= threshold) df else df.repartition(want)
  }

  /** spread, but hash-partitioned on `cols` instead of round-robin:
    * a keyless repartition(n) pays a local SORT of its input first
    * (spark.sql.execution.sortBeforeRepartition, on since
    * SPARK-23207 so retried tasks reproduce the same row-to-partition
    * assignment) — measured at ~1.0 s for the 600k-row lineitem
    * fixture, i.e. the sort costs as much as the work the spread
    * parallelizes. Hash partitioning on a deterministic key needs no
    * such sort and is retry-safe by construction (guide §2.5). Same
    * no-op-at-scale guard as spread. */
  def spreadBy(s: SparkSession, df: DataFrame,
      cols: Seq[org.apache.spark.sql.Column],
      maxN: Int = Int.MaxValue): DataFrame = {
    val want = math.min(s.sparkContext.defaultParallelism, maxN)
    val threshold = math.max(2, want / 2)
    val files = df.inputFiles
    if (files.length >= threshold) return df
    val maxBytes = math.max(1L, s.sessionState.conf.filesMaxPartitionBytes)
    val splits = files.iterator.map { f =>
      val len =
        try graft.table.TableIO.size(new org.apache.hadoop.fs.Path(f))
        catch { case _: Exception => 0L }
      math.max(1L, (len + maxBytes - 1) / maxBytes)
    }.sum
    if (splits >= threshold) df else df.repartition(want, cols: _*)
  }

  /** Collapse to ONE output partition (one file per append) at any
    * scale, picking the cheaper physical form by input size (guide
    * §2: scale-adaptive partitioning, not a constant tuned for one
    * mode). Small inputs: coalesce(1) — it fuses the read into the
    * single task, but a serial read of a few MB is cheaper than
    * shuffling the rows. Large inputs: a 1-partition HASH exchange
    * (no SPARK-23207 sort) keeps the scan parallel and serializes
    * only the encode — measured 11.4 → 9.7 s on the sf1 two-append
    * key vs coalesce. Threshold conf'd
    * (spark.graft.write.serialReadMaxBytes, default 64 MB ≈ half a
    * default filesMaxPartitionBytes split — past that the fused read
    * is doing multiple tasks' work serially). */
  def oneFile(s: SparkSession, df: DataFrame,
      key: org.apache.spark.sql.Column): DataFrame = {
    val threshold = s.conf.getOption("spark.graft.write.serialReadMaxBytes")
      .flatMap(_.toLongOption).getOrElse(64L * 1024 * 1024)
    val bytes = df.inputFiles.iterator.map { f =>
      try graft.table.TableIO.size(new org.apache.hadoop.fs.Path(f))
      catch { case _: Exception => 0L }
    }.sum
    if (bytes <= threshold) df.coalesce(1) else df.repartition(1, key)
  }
}
