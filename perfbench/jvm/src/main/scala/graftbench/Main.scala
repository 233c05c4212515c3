package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** Runs one workload: set up several times, then a timed closed loop
  * over the op log that ends on the first cycle boundary after the
  * deadline and after two whole cycles, then the output checks. Writes a result record
  * (JSON) that `perfbench/run.py` turns into metrics.
  *
  * Usage: Main <workload> <inputs dir> <work dir> <seconds> <trace 0|1>
  *             <setup reps> <result.json> [corrupt]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(name, inputs, work, secondsArg, traceArg, repsArg, resultPath) = args.take(7)
    val corrupt = args.drop(7).contains("corrupt")
    val jvmStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.hadoop.fs.file.impl", "graft.hadoop.FastLocalFileSystem")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session", jvmStart)
    try run(spark, name, inputs, work, secondsArg.toDouble, traceArg == "1",
      repsArg.toInt, resultPath, corrupt)
    finally spark.stop()
  }

  private def run(spark: SparkSession, name: String, inputs: String, work: String,
      seconds: Double, trace: Boolean, reps: Int, resultPath: String,
      corrupt: Boolean): Unit = {
    val ops = Json.readOps(s"$inputs/oplog.json")
    val workload: Workload =
      if (name == "llm_pipeline") new PipelineWorkload(spark, inputs, work)
      else new TableWorkload(spark, name, inputs, work)
    try {
      // session warm-up common to every workload, before any timing
      var p = System.nanoTime()
      spark.range(1000000).selectExpr("sum(id)").collect()
      p = phase("warm", p)
      val setupS = (0 until reps).map { r =>
        val t0 = System.nanoTime()
        workload.setup(r)
        (System.nanoTime() - t0) / 1e9
      }
      p = phase("setup", p)
      workload.warm(ops)
      p = phase("warm_pass", p)
      val tracer = if (trace) Some(new Tracer(spark)) else None

      val done = ArrayBuffer[(Map[String, Any], Boolean, Seq[Row])]()
      val records = ArrayBuffer[Map[String, Any]]()
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      // the window holds whole cycles only, and at least two: the first
      // cycle after the warm-up runs slower than later ones, so a window
      // of one cycle would read slower than a window of two
      def cycle(i: Int) = ops(i)("cycle").asInstanceOf[Long]
      def windowEnds(i: Int) = System.nanoTime() >= deadline && cycle(i) >= MinCycles &&
        cycle(i) != cycle(i - 1)
      var i = 0
      while (i < ops.size && !windowEnds(i)) {
        val op = ops(i)
        var rows = Seq.empty[Row]
        var error: Option[String] = None
        val s = System.nanoTime()
        val layers = try {
          tracer match {
            case Some(t) => t.around(op, workload) { rows = workload.run(op, tracer) }
            case None => rows = workload.run(op, None); Map.empty[String, Double]
          }
        } catch {
          case e: Exception =>
            error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
            Map.empty[String, Double]
        }
        val ms = (System.nanoTime() - s) / 1e6
        done += ((op, error.isEmpty, rows))
        records += Map("i" -> op("i"), "kind" -> op("kind"), "ms" -> ms,
          "ok" -> error.isEmpty, "error" -> error, "layers" -> layers)
        i += 1
      }
      val windowS = (System.nanoTime() - t0) / 1e9
      p = phase("window", t0)
      val heapMb = liveHeapMb()
      val (checks, failedChecks, notes) = workload.check(done.toSeq, corrupt)
      p = phase("check", p)
      val (bytes, rows) = workload.stored()
      p = phase("stored", p)
      tracer.foreach(_.writeSpans(s"$work/spans.jsonl"))
      val passes = workload match {
        case p: PipelineWorkload => p.passes
        case _ => Nil
      }
      val record = Map(
        "workload" -> name, "setup_s" -> setupS, "window_s" -> windowS,
        "ops" -> records, "ops_in_log" -> ops.size,
        "checks" -> checks, "failed_checks" -> failedChecks, "check_notes" -> notes,
        "live_heap_mb" -> heapMb, "stored_bytes" -> bytes, "live_rows" -> rows,
        "passes" -> passes, "phases_s" -> phases,
        "oracle_sql" -> graft.SparkEntry.oracleSql.filter(kv => Gen.PipelineKeys.contains(kv._1)))
      val w = new java.io.PrintWriter(resultPath)
      try w.print(Json.write(record)) finally w.close()
    } finally workload.close()
  }

  private val MinCycles = 2

  /** Wall time of the driver's own phases, for tuning the run length. */
  private val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
  private def phase(name: String, since: Long): Long = {
    val now = System.nanoTime()
    phases(name) = (now - since) / 1e9
    now
  }

  /** Heap in use after a full collection, in MB. Spark's ContextCleaner
    * drops the broadcasts and shuffles of finished queries only after a
    * GC has found them unreachable, so collect, let it run, collect
    * again: what remains is what the program keeps alive. */
  private def liveHeapMb(): Double = {
    for (_ <- 0 until 3) {
      System.gc()
      Thread.sleep(200)
    }
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
