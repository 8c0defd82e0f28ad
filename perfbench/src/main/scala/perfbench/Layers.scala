package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** The engine-wide per-layer metrics of a traced run (spark.*, catalyst.*,
  * jvm.*), computed from what the listeners attributed to each timed op.
  * Counts and times are per op (the mean over the run's ops), so a faster
  * run that fits more ops in its time does not read as more work. */
object Layers {

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** (catalyst ms, union-of-jobs ms, driver gap ms) of one op. */
  def split(o: OpRecord): (Double, Double, Double) = o.spark match {
    case Some((jobs, _, execs)) =>
      val cat = execs.map(_.catalystMs).sum
      val job = Stats.unionLength(jobs.filterNot(_.end.isNaN).map(j => (j.start, j.end)))
      (cat, job, math.max(0.0, o.wallS * 1000 - job - cat))
    case None => (0.0, 0.0, 0.0)
  }

  def common(ctx: Ctx, gcMs: Double): Map[String, (Double, String)] = {
    val ops = ctx.ops.filter(_.spark.isDefined).toSeq
    val n = math.max(1, ops.size).toDouble
    val jobs = ops.flatMap(_.spark.get._1)
    val tasks = ops.flatMap(_.spark.get._2)
    val execs = ops.flatMap(_.spark.get._3)
    val splits = ops.map(split)
    val skews = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val ms = ts.map(_.ms)
      ms.max / math.max(1.0, Stats.median(ms))
    }.toSeq
    def per(x: Double) = x / n
    Map(
      "spark.jobs" -> (per(jobs.size), "count"),
      "spark.stages" -> (per(jobs.map(_.stages).sum), "count"),
      "spark.tasks" -> (per(tasks.size), "count"),
      "spark.job_ms" -> (per(splits.map(_._2).sum), "ms"),
      "spark.task_ms" -> (per(tasks.map(_.ms).sum), "ms"),
      "spark.task_cpu_ms" -> (per(tasks.map(_.cpuMs).sum), "ms"),
      "spark.driver_gap_ms" -> (per(splits.map(_._3).sum), "ms"),
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews), "ratio"),
      "spark.shuffle_read_bytes" -> (per(tasks.map(_.shRead).sum.toDouble), "bytes"),
      "spark.shuffle_write_bytes" -> (per(tasks.map(_.shWrite).sum.toDouble), "bytes"),
      "spark.input_bytes" -> (per(tasks.map(_.in).sum.toDouble), "bytes"),
      "spark.output_bytes" -> (per(tasks.map(_.out).sum.toDouble), "bytes"),
      "spark.spill_bytes" -> (per(tasks.map(_.spill).sum.toDouble), "bytes"),
      "catalyst.analysis_ms" -> (per(execs.map(_.analysis).sum), "ms"),
      "catalyst.optimization_ms" -> (per(execs.map(_.optimization).sum), "ms"),
      "catalyst.planning_ms" -> (per(execs.map(_.planning).sum), "ms"),
      "catalyst.executions" -> (per(execs.size), "count"),
      "jvm.heap_peak_mb" -> (heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB"),
      "jvm.gc_ms" -> (gcMs, "ms"))
  }

  /** Traced over untraced op time: the sum over op classes seen both ways
    * of their median traced wall, over the same sum untraced. */
  def overhead(ctx: Ctx): Double = {
    val ok = ctx.ops.filter(_.ok)
    val both = ok.groupBy(_.cls).values.filter(os => os.exists(_.traced) && os.exists(!_.traced))
    def sum(traced: Boolean) =
      both.map(os => Stats.median(os.filter(_.traced == traced).map(_.wallS).toSeq)).sum
    if (both.isEmpty) 0.0 else sum(true) / sum(false)
  }

  /** Per op class: op count and the median wall / Catalyst / Spark-job /
    * driver-gap milliseconds. */
  def opSplit(ctx: Ctx): Map[String, Map[String, Double]] =
    ctx.ops.filter(_.spark.isDefined).groupBy(_.cls).map { case (cls, os) =>
      val s = os.map(split).toSeq
      cls -> Map(
        "n" -> os.size.toDouble,
        "wall_ms" -> Stats.median(os.map(_.wallS * 1000).toSeq),
        "catalyst_ms" -> Stats.median(s.map(_._1)),
        "spark_job_ms" -> Stats.median(s.map(_._2)),
        "driver_gap_ms" -> Stats.median(s.map(_._3)))
    }
}
