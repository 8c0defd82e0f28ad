package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional), the
  * clock Spark's listener events carry, so spans and jobs share one axis. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** The benchmark's tracer. Off by default: `op` and `span` then only run
  * their body. On, each call records a [[Span]] in memory; the spans of one
  * timed operation share its op id. Spans are written out when the run ends
  * ([[writeTo]]). Only the benchmark's own code opens spans, around its
  * calls into each engine layer. */
object Trace {
  @volatile var on = false
  private val base = System.currentTimeMillis() - System.nanoTime() / 1e6
  def now(): Double = base + System.nanoTime() / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var curOp = 0
  private var nextId = 1

  private def record[T](name: String, newOp: Boolean)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      if (newOp) curOp = id
      val parent = stack.headOption.getOrElse(0)
      val op = curOp
      stack = id :: stack
      val t0 = now()
      try body
      finally {
        val t1 = now()
        stack = stack.tail
        if (newOp) curOp = 0
        spans += Span(id, parent, op, name, t0, t1)
      }
    }

  /** A timed operation of the workload (the unit the end-to-end metrics
    * count); `name` is its class, e.g. `op.night`. */
  def op[T](name: String)(body: => T): T = record(name, newOp = true)(body)

  /** A call into one engine layer; `name` is `<layer>.<call>`. */
  def span[T](name: String)(body: => T): T = record(name, newOp = false)(body)

  /** Self time per span name: duration minus the union of its children. */
  def selfTimes: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        s.ms - Stats.unionLength(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)).toSeq)
      }.sum
    }
  }

  def writeTo(path: String): Unit = {
    val lines = spans.map(s => Stats.json(Map("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)))
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** One Spark job: its interval (epoch ms), whether it is a file-listing
  * job, and its stage count. */
final case class Job(id: Int, start: Double, var end: Double, listing: Boolean, stages: Int)

/** One finished task's metrics. */
final case class Task(stage: Int, ms: Double, cpuMs: Double, shRead: Long, shWrite: Long,
    in: Long, out: Long, spill: Long)

/** One finished SQL execution: Catalyst phase times (ms) and the files each
  * of its file scans read. */
final case class Exec(analysis: Double, optimization: Double, planning: Double,
    scans: Seq[Long]) {
  def catalystMs: Double = analysis + optimization + planning
}

/** Spark-side counters, registered in traced runs only: job intervals, task
  * metrics per stage, Catalyst phase times and scan-node file counts. */
final class Listeners(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  val jobs = mutable.ArrayBuffer[Job]()
  val tasks = mutable.ArrayBuffer[Task]()
  val execs = mutable.ArrayBuffer[Exec]()
  private val jobById = mutable.Map[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    val j = Job(e.jobId, e.time.toDouble, Double.NaN,
      desc.startsWith("Listing leaf files"), e.stageInfos.size)
    jobs += j
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null)
      tasks += Task(e.stageId, info.duration.toDouble, m.executorCpuTime / 1e6,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def phase(n: String): Double = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val scans = try {
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }
    } catch { case _: Throwable => Nil }
    synchronized {
      execs += Exec(phase("analysis"), phase("optimization"), phase("planning"), scans)
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Waits until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.perfbenchbridge.ListenerDrain.drain(spark.sparkContext)

  /** Everything recorded since the previous call, after draining the bus:
    * the caller attributes it to the operation that just ended. */
  def take(): (Seq[Job], Seq[Task], Seq[Exec]) = {
    drain()
    synchronized {
      val r = (jobs.toSeq, tasks.toSeq, execs.toSeq)
      jobs.clear(); tasks.clear(); execs.clear()
      r
    }
  }
}
