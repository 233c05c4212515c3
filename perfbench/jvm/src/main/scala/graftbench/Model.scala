package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The expected table state, kept by applying the op log to the
  * generated inputs with plain Spark DataFrames. No graft code runs
  * here: this is the reference the table workloads are checked
  * against. */
final class Model(spark: SparkSession, inputs: String) {
  import Model._

  private val batches = spark.read.parquet(s"$inputs/batches.parquet")
  private lazy val merges = spark.read.parquet(s"$inputs/merges.parquet")
  private var pending = 0
  var state: DataFrame = spark.read.parquet(s"$inputs/base.parquet")

  /** Apply one write op; reads and maintenance leave the state alone. */
  def apply(op: Map[String, Any]): Unit = {
    op("kind") match {
      case "insert" =>
        state = state.unionByName(batchRows(batches, long(op, "batch")))
      case "delete" =>
        state = state.where(not(predicate(op)))
      case "merge" =>
        val src = merges.where(col("m") === long(op, "source")).drop("m")
        val upd = src.select(Keys.map(col) ++ Seq(
          col("l_quantity").as("s_q"), col("l_extendedprice").as("s_p")): _*)
        val updated = state.join(upd, Keys, "left")
          .withColumn("l_quantity", coalesce(col("s_q"), col("l_quantity")))
          .withColumn("l_extendedprice", coalesce(col("s_p"), col("l_extendedprice")))
          .drop("s_q", "s_p")
        state = updated.unionByName(src.join(state.select(Keys.map(col): _*), Keys, "left_anti"))
          .select(Columns.map(col): _*)
      case _ =>
    }
    pending += 1
    // cut the lineage now and then: plans over a long op chain get slow
    if (pending >= 8) materialize()
  }

  def materialize(): Unit = if (pending > 0) {
    state = state.coalesce(1).localCheckpoint(eager = true)
    pending = 0
  }
}

object Model {
  val Keys = Seq("l_orderkey", "l_linenumber")
  val Columns = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")

  def long(op: Map[String, Any], k: String): Long = op(k).asInstanceOf[Long]

  def months(op: Map[String, Any]): (Long, Long) = op("months") match {
    case Seq(a, b) => (a.asInstanceOf[Long], b.asInstanceOf[Long])
  }

  /** First day of month index m (0 = 1992-01) as a SQL timestamp literal
    * body, in the canonical form graft's stats use. */
  def monthStart(m: Long): String =
    java.time.LocalDate.of(1992, 1, 1).plusMonths(m).toString + " 00:00:00"

  def rangeSql(op: Map[String, Any]): String = {
    val (a, b) = months(op)
    s"l_shipdate >= TIMESTAMP'${monthStart(a)}' AND l_shipdate < TIMESTAMP'${monthStart(b)}'"
  }

  /** The DELETE predicate: a month range and one residue of the key. */
  def predicateSql(op: Map[String, Any]): String =
    s"${rangeSql(op)} AND l_orderkey % ${long(op, "mod")} = ${long(op, "rem")}"

  def predicate(op: Map[String, Any]): Column = expr(predicateSql(op))

  def batchRows(batches: DataFrame, b: Long): DataFrame =
    batches.where(col("b") === b).select(Columns.map(col): _*)
}
