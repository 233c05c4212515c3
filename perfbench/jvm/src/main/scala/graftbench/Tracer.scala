package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The traced run's instruments, all outside the program: Spark's query
  * phases (QueryPlanningTracker, via a QueryExecutionListener), Spark
  * jobs and tasks (a SparkListener), Hadoop FileSystem statistics for
  * `file`, the REST client's public counters, GC beans, and timed calls
  * into the table layer beside each op. Spans stay in memory and are
  * written when the run ends. */
final class Tracer(spark: SparkSession) {
  import Tracer.Span

  private val spans = ArrayBuffer[Span]()
  private var opSpan = -1
  private var opId = -1L

  // (category, startMs, endMs), filled on the listener bus thread
  private val intervals = new ConcurrentLinkedQueue[(String, Long, Long)]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new AtomicLong()
  private val tasks = new AtomicLong()
  private val shuffleWrite = new AtomicLong()
  private val spill = new AtomicLong()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      jobStarts.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => intervals.add(("job", s, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        intervals.add((phase, s.startTimeMs, s.endTimeMs))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  })

  private def span(name: String, s: Long, e: Long, parent: Int): Int = {
    spans += Span(spans.size, name, s, e, parent, opId)
    spans.size - 1
  }

  /** A span inside the current op, for calls the workload makes itself
    * (one per operator call in the pipeline). */
  def child[A](name: String)(body: => A): A = {
    val s = System.currentTimeMillis()
    try body finally span(name, s, System.currentTimeMillis(), opSpan)
  }

  private def fsStats: Map[String, Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Map("fs.bytes_read" -> st.map(_.getBytesRead).sum,
      "fs.bytes_written" -> st.map(_.getBytesWritten).sum,
      "fs.read_ops" -> st.map(s => s.getReadOps.toLong + s.getLargeReadOps).sum,
      "fs.write_ops" -> st.map(_.getWriteOps.toLong).sum)
  }

  private def counters: Map[String, Long] = {
    val rest = graft.table.iceberg.IcebergRestClient
    fsStats ++ Map(
      "spark.jobs" -> jobs.get, "spark.tasks" -> tasks.get,
      "spark.shuffle_write_bytes" -> shuffleWrite.get, "spark.spill_bytes" -> spill.get,
      "catalog.requests" -> rest.requestCount.get,
      "catalog.request_ns" -> rest.requestNanos.get,
      "jvm.gc_ms" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum) ++
      rest.requestsByEndpoint.asScala.map { case (k, v) => s"catalog.requests.$k" -> v.get }
  }

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  private def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    for ((s0, e0) <- xs.map { case (s, e) => (s max lo, e min hi) }.filter(x => x._2 > x._1).sortBy(_._1)) {
      val s = s0 max end
      if (e0 > s) { total += e0 - s; end = e0 }
    }
    total
  }

  private var lastListing: Option[(Map[String, Long], Map[String, Long])] = None

  /** Run one op inside a span and return its layer facts. */
  def around(op: Map[String, Any], w: Workload)(body: => Unit): Map[String, Double] = {
    opId = op("i").asInstanceOf[Long]
    val p0 = System.currentTimeMillis()
    val probe = w.probe(op)
    span("table.probe", p0, System.currentTimeMillis(), -1)
    val before = lastListing.getOrElse(w.listing())
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    intervals.clear()
    val c0 = counters
    val s = System.currentTimeMillis()
    opSpan = span(op("kind").toString, s, s, -1)
    try body finally {
      val e = System.currentTimeMillis()
      spans(opSpan) = spans(opSpan).copy(endMs = e)
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val c1 = counters
      val after = w.listing()
      lastListing = Some(after)
      val iv = intervals.asScala.toSeq
      for ((cat, a, b) <- iv if b > s && a < e) span(s"spark.$cat", a max s, b min e, opSpan)
      def cov(cat: String) = covered(iv.filter(_._1 == cat).map(x => (x._2, x._3)), s, e)
      val all = covered(iv.map(x => (x._2, x._3)), s, e)
      val delta = (c1.keySet ++ c0.keySet).toSeq
        .map(k => k -> (c1.getOrElse(k, 0L) - c0.getOrElse(k, 0L)).toDouble).toMap
      val newData = after._1.keySet -- before._1.keySet
      val newMeta = after._2.keySet -- before._2.keySet
      lastOp = probe ++ delta ++ Map(
        "op.wall_ms" -> (e - s).toDouble,
        "spark.analysis_ms" -> cov("analysis").toDouble,
        "spark.optimization_ms" -> cov("optimization").toDouble,
        "spark.planning_ms" -> cov("planning").toDouble,
        "spark.job_ms" -> cov("job").toDouble,
        // self time: the op's wall time not covered by any Spark phase or
        // job; by construction never negative
        "graft.driver_other_ms" -> (e - s - all).toDouble,
        "catalog.request_ms" -> delta.getOrElse("catalog.request_ns", 0.0) / 1e6,
        "table.data_files_added" -> newData.size.toDouble,
        "table.metadata_files_added" -> newMeta.size.toDouble,
        "table.metadata_bytes_added" -> newMeta.toSeq.map(after._2).sum.toDouble) -
        "catalog.request_ns" ++
        spans.filter(x => x.parent == opSpan && x.name.startsWith("ops."))
          .groupBy(_.name).map { case (n, xs) => s"${n}_ms" -> xs.map(x => x.endMs - x.startMs).sum.toDouble }
      opSpan = -1
    }
    lastOp
  }
  private var lastOp = Map.empty[String, Double]

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.foreach { s =>
      w.println(Json.write(Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent, "op" -> s.op)))
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, name: String, startMs: Long, endMs: Long,
      parent: Int, op: Long)
}

/** Table-layer facts read beside an op through the table layer's public
  * functions: metadata load time, live data and delete files, and the
  * files planned for the op's predicate with the planning time. */
object TableProbe {
  import Model._

  private val scans = Set("range", "point", "agg", "join", "asof", "delete", "merge")

  private def filters(op: Map[String, Any]): Seq[(String, String, String)] =
    op("kind") match {
      case "range" | "join" | "delete" =>
        val (a, b) = months(op)
        Seq(("l_shipdate", ">=", monthStart(a)), ("l_shipdate", "<", monthStart(b)))
      case "point" => Seq(("l_orderkey", "=", long(op, "orderkey").toString))
      case _ => Seq.empty
    }

  private def ms[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def probe(spark: SparkSession, root: String, rest: Boolean,
      op: Map[String, Any]): Map[String, Double] = {
    val (live, deletes, loadMs) =
      if (rest) {
        val (m, t) = ms(graft.table.iceberg.IcebergMetadata.load(root))
        val tbl = graft.table.iceberg.IcebergTable.load(spark, root)
        (tbl.plannedFiles().size, tbl.deleteEntries().size, t)
      } else {
        val (m, t) = ms(graft.table.Meta.load(root))
        (m.liveFiles(None).size, m.liveDeleteFiles(None).size, t)
      }
    val base = Map("table.meta_load_ms" -> loadMs, "table.files_live" -> live.toDouble,
      "table.delete_files_live" -> deletes.toDouble)
    if (!scans(op("kind").toString)) base
    else {
      val f = filters(op)
      val (planned, planMs) =
        if (rest) ms(graft.table.iceberg.IcebergTable.load(spark, root)
          .plannedFiles(None, f).size)
        else {
          val t = graft.table.GraftTable.load(spark, root)
          ms(t.plannedFiles(f.map { case (c, o, v) => t.StatFilter(c, o, v) }).size)
        }
      base ++ Map("table.plan_ms" -> planMs, "table.files_planned" -> planned.toDouble,
        "table.prune_ratio" -> (if (live == 0) 1.0 else planned.toDouble / live))
    }
  }
}
