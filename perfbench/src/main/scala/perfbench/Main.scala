package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation as the harness saw it. `spark` holds what the
  * listeners attributed to it (traced runs only). */
final case class OpRecord(cls: String, wallS: Double, ok: Boolean, traced: Boolean,
    spark: Option[(Seq[Job], Seq[Task], Seq[Exec])])

/** What a workload hands the harness: its generation + warm-up, one
  * closed-loop step, and its final checks and metrics. */
trait Workload {
  /** Writes the run's inputs under `dir`. */
  def generate(ctx: Ctx, dir: Path): Unit
  /** Warm-up on the generated inputs, before the first timed op. */
  def warmUp(ctx: Ctx): Unit
  /** One iteration of the closed loop; times its ops through `ctx.timed`. */
  def step(ctx: Ctx): Unit
  /** Checks made once at the end: (name, passed). */
  def finalChecks(ctx: Ctx): Seq[(String, Boolean)]
  /** The workload's end-to-end metrics, by name, with units. */
  def endToEnd(ctx: Ctx): Map[String, (Double, String)]
  /** The workload's own layer metrics for a traced run; the harness adds
    * the spark.*, catalyst.* and jvm.* groups. */
  def layers(ctx: Ctx): Map[String, (Double, String)]
}

final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traced: Boolean, val work: Path) {
  val ops = mutable.ArrayBuffer[OpRecord]()
  val notes = mutable.LinkedHashMap[String, Any]()
  var listeners: Option[Listeners] = None
  private var deadline = Long.MaxValue

  def startClock(): Unit = deadline = System.nanoTime() + seconds * 1000000000L
  def timeLeft: Boolean = System.nanoTime() < deadline

  /** Runs one timed op of class `cls`; `check` is applied to its result
    * outside the timed region. A throw or a failed check marks it failed. */
  def timed[T](cls: String)(body: => T)(check: T => Boolean): Option[T] = {
    listeners.foreach(_.take())
    val t0 = System.nanoTime()
    val r = try Right(Trace.op(cls)(body)) catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    val attributed = listeners.map(_.take())
    val ok = r match {
      case Right(v) =>
        try check(v) catch { case e: Throwable =>
          System.err.println(s"[perfbench] check of $cls threw: $e"); false
        }
      case Left(e) =>
        System.err.println(s"[perfbench] $cls failed: $e")
        false
    }
    if (!ok) System.err.println(s"[perfbench] $cls returned a wrong result")
    ops += OpRecord(cls, dt, ok, Trace.on, attributed)
    r.toOption
  }

  /** Wall times of the untraced, successful ops of class `cls`. */
  def walls(cls: String): Seq[Double] =
    ops.filter(o => o.cls == cls && o.ok && !o.traced).map(_.wallS).toSeq

  /** The successful ops that end-to-end metrics count: the untraced ones. */
  def timedOps: Seq[OpRecord] = ops.filter(o => o.ok && !o.traced).toSeq
}

object Main {

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(k, v) if k == name => v }

  /** One client's session: `local[4]` (the host's 4 cores; `graft.Bench`
    * runs the registry the same way). */
  def session(work: Path): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
    val s = graft.functions.GraftExtensions.sessionDefaults(b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").getOrElse("1").toLong
    val seconds = arg(args, "--seconds").getOrElse("10").toInt
    val traced = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work required")))
      .toAbsolutePath
    val spanFile = arg(args, "--span-file")
    Files.createDirectories(work)

    val w: Workload = workload match {
      case "radar_ingest" => new RadarIngest
      case "lake_mixed" => new LakeMixed
      case "query_registry" =>
        new QueryRegistry(Paths.get(arg(args, "--refs").getOrElse(sys.error("--refs required"))))
      case other => sys.error(s"unknown workload $other")
    }
    val tStart = System.nanoTime()
    val spark = session(work)
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val sessionS = (System.nanoTime() - tStart) / 1e9
    val ctx = new Ctx(spark, seed, seconds, traced, work)

    val tGen = System.nanoTime()
    w.generate(ctx, work.resolve("input"))
    val genS = (System.nanoTime() - tGen) / 1e9
    val tWarm = System.nanoTime()
    w.warmUp(ctx)
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = sessionS + genS + warmS

    // a traced run alternates traced and untraced steps (at least one of
    // each): per-layer metrics come from the traced ones, and the tracing
    // overhead is the traced ops' time over the untraced ones' on the same
    // seed and in the same JVM
    val lst = if (traced) Some(new Listeners(spark)) else None
    Layers.resetHeapPeak()
    val gc0 = gcMs()
    ctx.startClock()
    var steps = 0
    while (ctx.timeLeft || (traced && steps < 2)) {
      val on = traced && steps % 2 == 0
      if (on) lst.foreach(_.register())
      ctx.listeners = if (on) lst else None
      Trace.on = on
      w.step(ctx)
      Trace.on = false
      if (on) lst.foreach(_.unregister())
      steps += 1
    }
    ctx.listeners = None
    val gcRun = gcMs() - gc0

    val checks = w.finalChecks(ctx)
    checks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] final check failed: ${c._1}"))
    val attempted = ctx.ops.size + checks.size
    val failed = ctx.ops.count(!_.ok) + checks.count(!_._2)

    val e2e = w.endToEnd(ctx) ++ Map(
      "setup_s" -> (setupS, "s"),
      "ops_failed_ratio" -> (failed.toDouble / math.max(1, attempted), "fraction"))
    val layers: Map[String, (Double, String)] =
      if (traced) Layers.common(ctx, gcRun) ++ w.layers(ctx) +
        ("trace.overhead_ratio" -> (Layers.overhead(ctx), "ratio"))
      else Map.empty
    spanFile.foreach(Trace.writeTo)

    val report = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "setup_parts_s" -> Map("session" -> sessionS, "generate" -> genS, "warm_up" -> warmS),
      "ops" -> ctx.ops.groupBy(_.cls).map { case (c, os) => c -> os.size },
      "op_walls_s" -> ctx.ops.map(o => Seq(o.cls, o.wallS, o.ok, o.traced)),
      "notes" -> ctx.notes,
      "op_split" -> (if (traced) Layers.opSplit(ctx) else Nil))
    println("PERFBENCH-REPORT " + Stats.json(report))
    def asJson(m: Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "end_to_end" -> asJson(e2e),
      "per_layer" -> asJson(layers))
    println("PERFBENCH-RESULT " + Stats.json(result))
    spark.stop()
  }

  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
  }
}
