package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.jobs.IngestJob
import graft.ops.RadarOps
import graft.parse.ReportParser

/** `radar_ingest`: the nightly job. Before each night the generator lands
  * about 100 reports (templates 1/2/3, a few corrupt and unknown-layout
  * files, a few re-deliveries of loaded reports); the timed op is
  * `IngestJob.run` with an archive dir, then `RadarOps.completenessAudit`
  * and `IngestJob.backfillTasks` over the ledger. Every night's outputs are
  * checked against the generator's model outside the timed region. */
final class RadarIngest extends Workload {

  private val nEquip = 110
  private val start = LocalDate.of(2024, 1, 1)

  // run state, reset by generate
  private var r: Random = _
  private var equips: IndexedSeq[String] = _
  private var landing, archive = ""
  private var lake: IngestJob.Lake = _
  private var night = 0
  private var pending: Seq[RadarGen.Report] = Nil
  private var equipDf: DataFrame = _

  // the generator's model of the lake
  private val loaded = mutable.LinkedHashSet[(String, LocalDate)]()
  private val badKeys = mutable.LinkedHashSet[String]()
  private val archived = mutable.LinkedHashSet[String]()
  private var flowRows = 0L

  // counters
  private var landedFiles = 0L
  private var filesSeen, filesNew = 0L
  private val parseMs = mutable.ArrayBuffer[Double]()
  private var parseBytes = 0L
  private val rejectedPerNight = mutable.ArrayBuffer[Int]()
  private var parseMismatches = 0
  private val lakeGrowth = mutable.ArrayBuffer[(Long, Long, Long)]() // files, bytes, input bytes

  def generate(ctx: Ctx, dir: Path): Unit = {
    r = new Random(ctx.seed)
    equips = RadarGen.equipments(nEquip, ctx.seed)
    landing = dir.resolve("landing").toString
    archive = dir.resolve("archive").toString
    lake = IngestJob.Lake(dir.resolve("lake").toString)
    night = 0
    loaded.clear(); badKeys.clear(); archived.clear(); flowRows = 0
    land()
    import ctx.spark.implicits._
    equipDf = equips.toDF("equipment")
  }

  /** Generates the next night and writes it into the landing dir. */
  private def land(): Unit = {
    val date = start.plusDays(night.toLong)
    // fixed counts (seeds vary which radars, layouts and bins, not how
    // much work a night is): 92 valid, 3 bad, 5 re-delivered files
    val shuffled = r.shuffle(equips)
    val valid = shuffled.take(92)
    val bad = shuffled.slice(92, 95)
    val again = r.shuffle(loaded.toSeq).take(5)
    pending = RadarGen.night(r, date, valid, bad, again)
    pending.foreach { rep =>
      val p = java.nio.file.Paths.get(landing, rep.key)
      Files.createDirectories(p.getParent)
      Files.write(p, rep.bytes)
    }
  }

  private type NightOut = (IngestJob.IngestReport, Array[Row], Array[Row])

  private def runNight(ctx: Ctx): NightOut = {
    val spark = ctx.spark
    val date = start.plusDays(night.toLong)
    val report = Trace.span("jobs.ingest") {
      IngestJob.run(spark, landing, lake, Some(archive))
    }
    val audit = Trace.span("jobs.audit") {
      RadarOps.completenessAudit(IngestJob.readLedger(spark, lake),
        lit(start.toString), lit(date.toString), nEquip).collect()
    }
    val backfill = Trace.span("jobs.backfill") {
      IngestJob.backfillTasks(spark, lake, equipDf, start.toString, date.toString).collect()
    }
    (report, audit, backfill)
  }

  /** Checks one night against the model, then advances the model. */
  private def check(ctx: Ctx, out: NightOut): Boolean = {
    val spark = ctx.spark
    val (rep, audit, backfill) = out
    val date = start.plusDays(night.toLong)
    val good = pending.filter(_.expect.isDefined)
    val bad = pending.filter(_.expect.isEmpty)
    val fresh = good.filterNot(g => loaded.contains((g.equipment, g.date)))
    val newRows = fresh.map(_.expect.get._2.toLong).sum
    badKeys ++= bad.map(_.key)
    loaded ++= fresh.map(g => (g.equipment, g.date))
    archived ++= good.map(_.key)
    flowRows += newRows

    val fails = mutable.ArrayBuffer[String]()
    def need(ok: Boolean, what: => String): Unit = if (!ok) fails += what
    need(rep.filesSeen == good.size + badKeys.size, s"filesSeen ${rep.filesSeen}")
    need(rep.filesParsed == good.size, s"filesParsed ${rep.filesParsed}")
    need(rep.filesFailed == badKeys.size, s"filesFailed ${rep.filesFailed}")
    need(rep.filesNew == fresh.size, s"filesNew ${rep.filesNew} != ${fresh.size}")
    need(rep.flowRowsAppended == newRows, s"flowRowsAppended ${rep.flowRowsAppended} != $newRows")

    val ledger = IngestJob.readLedger(spark, lake)
    val lr = ledger.agg(count(lit(1)), countDistinct(col("pubdate"), col("equipment"))).head()
    need(lr.getLong(0) == loaded.size && lr.getLong(1) == loaded.size,
      s"ledger rows ${lr.getLong(0)} distinct ${lr.getLong(1)} model ${loaded.size}")
    val flows = IngestJob.readFlows(spark, lake).count()
    need(flows == flowRows, s"flow rows $flows model $flowRows")
    val errSources =
      if (!Files.exists(java.nio.file.Paths.get(lake.errorsDir))) Set.empty[String]
      else spark.read.parquet(lake.errorsDir).select("source").collect()
        .map(_.getString(0).split("/").takeRight(2).mkString("/")).toSet
    need(errSources == badKeys.toSet, s"error sources ${errSources.size} model ${badKeys.size}")
    need(listed(landing) == badKeys.toSet, "landing dir holds other than the bad files")
    need(listed(archive) == archived.toSet, "archive dir differs from the parsed files")

    val perDate = loaded.toSeq.groupBy(_._2).map { case (d, xs) => d -> xs.size }
    val days = (0 to night).map(i => start.plusDays(i.toLong))
    val wantAudit = days.map(d => d -> perDate.getOrElse(d, 0)).filter(_._2 < nEquip).toMap
    val gotAudit = audit.map(x => x.getDate(0).toLocalDate -> x.getLong(1).toInt).toMap
    need(gotAudit == wantAudit, s"audit ${gotAudit.size} dates, model ${wantAudit.size}")
    val wantTasks = (for (d <- days; e <- equips if !loaded.contains((e, d))) yield (e, d)).toSet
    val gotTasks = backfill.map(x =>
      (x.getAs[String]("equipment"), x.getAs[java.sql.Date]("pubdate").toLocalDate)).toSet
    need(gotTasks == wantTasks, s"backfill ${gotTasks.size} tasks, model ${wantTasks.size}")
    if (fails.nonEmpty) System.err.println(s"[perfbench] night $date: ${fails.mkString("; ")}")
    fails.isEmpty
  }

  private def listed(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) Set.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".xlsx"))
      .map(p => root.relativize(p).toString).toSet
  }

  private def dirStats(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val fs = Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }
  }

  /** Traced runs only: `ReportParser.parse` timed on this night's bytes. */
  private def measureParse(): Unit = {
    var rejected = 0
    pending.foreach { rep =>
      val t0 = System.nanoTime()
      val res = Trace.span("parse.ReportParser.parse") { ReportParser.parse(rep.key, rep.bytes) }
      parseMs += (System.nanoTime() - t0) / 1e6
      parseBytes += rep.bytes.length
      res match {
        case Left(_) => rejected += 1
        case Right(p) => if (!rep.expect.contains((p.template, p.rows.size))) parseMismatches += 1
      }
    }
    if (rejected != pending.count(_.expect.isEmpty)) parseMismatches += 1
    rejectedPerNight += rejected
  }

  private def nightStep(ctx: Ctx, timed: Boolean): Unit = {
    val before = if (Trace.on) Seq(lake.flowsDir, lake.ledgerDir, lake.errorsDir).map(dirStats)
      else Nil
    val inputBytes = pending.map(_.bytes.length.toLong).sum
    if (Trace.on) measureParse()
    if (timed) {
      if (!Trace.on) landedFiles += pending.size
      ctx.timed("op.night")(runNight(ctx)) { out =>
        filesSeen += out._1.filesSeen
        filesNew += out._1.filesNew
        check(ctx, out)
      }
    } else require(check(ctx, runNight(ctx)), "warm-up night failed its checks")
    if (Trace.on) {
      val after = Seq(lake.flowsDir, lake.ledgerDir, lake.errorsDir).map(dirStats)
      lakeGrowth += ((after.map(_._1).sum - before.map(_._1).sum,
        after.map(_._2).sum - before.map(_._2).sum, inputBytes))
    }
    night += 1
    land()
  }

  /** One untimed night, the cold one (class loading, code generation). */
  def warmUp(ctx: Ctx): Unit = nightStep(ctx, timed = false)

  def step(ctx: Ctx): Unit = nightStep(ctx, timed = true)

  def finalChecks(ctx: Ctx): Seq[(String, Boolean)] =
    if (ctx.traced) Seq("parser accepts the valid and rejects the bad files" -> (parseMismatches == 0))
    else Nil

  def endToEnd(ctx: Ctx): Map[String, (Double, String)] = {
    val nights = ctx.walls("op.night")
    val (pct, tailV) = Stats.tail(nights)
    ctx.notes("night_tail_percentile") = pct
    ctx.notes("night_samples") = nights.size
    val filesPerS =
      landedFiles / ctx.ops.filter(o => o.cls == "op.night" && !o.traced).map(_.wallS).sum
    Map(
      "ingest_files_per_s" -> (filesPerS, "files/s"),
      "ingest_night_p50_s" -> (Stats.median(nights), "s"),
      "ingest_night_tail_s" -> (tailV, "s"),
      "op_p50_s" -> (Stats.median(nights), "s"),
      "op_tail_s" -> (tailV, "s"),
      "throughput" -> (filesPerS, "1/s"))
  }

  def layers(ctx: Ctx): Map[String, (Double, String)] = {
    val spans = Trace.spans.toSeq
    def perNight(name: String) = {
      val xs = spans.filter(_.name == name).map(_.ms)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val inBytes = lakeGrowth.map(_._3).sum.toDouble
    Map(
      "parse.ms_per_file" -> (Stats.mean(parseMs.toSeq), "ms"),
      "parse.mb_per_s" -> (parseBytes / 1048576.0 / (parseMs.sum / 1000), "MB/s"),
      "parse.rejected" -> (Stats.mean(rejectedPerNight.map(_.toDouble).toSeq), "count"),
      "jobs.ingest_ms" -> (perNight("jobs.ingest"), "ms"),
      "jobs.audit_ms" -> (perNight("jobs.audit"), "ms"),
      "jobs.backfill_ms" -> (perNight("jobs.backfill"), "ms"),
      "jobs.new_ratio" -> (filesNew.toDouble / math.max(1L, filesSeen), "ratio"),
      "jobs.lake_files" -> (Stats.mean(lakeGrowth.map(_._1.toDouble).toSeq), "count"),
      "jobs.lake_bytes_per_input_byte" -> (lakeGrowth.map(_._2).sum / math.max(1.0, inBytes), "ratio"))
  }
}
