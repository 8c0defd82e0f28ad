package perfbench

import java.nio.file.{Files, Path}
import java.sql.Date
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.analytics.SpeedHistogram
import graft.sources.CommitLog

/** One radar-flows row as the lake stores it, plus its sequence number. */
final case class FlowRow(pubdate: Date, equipment: String, direction: String,
    time_range: String, initial_time: String, end_time: String,
    speed_00_10: Int, speed_11_20: Int, speed_21_30: Int, speed_31_40: Int,
    speed_41_50: Int, speed_51_60: Int, speed_61_70: Int, speed_71_80: Int,
    speed_81_90: Int, speed_91_100: Int, speed_100_up: Int, total: Int, seq: Long) {
  def key: (Date, String, String, String) = (pubdate, equipment, direction, time_range)
}

/** Seeded generator of flows upserts: one night of flows per batch, plus
  * re-delivered reports of earlier nights, as corrections (a newer
  * sequence number, so they win) or stale copies (an older sequence
  * number, so they must lose). The fleet is the reference's: 99 radars
  * (`TOTAL_EQUIP`, BASELINE.md), one 96-slot report each a night. */
object FlowsGen {
  val radars: IndexedSeq[String] = (1 to 99).map(i => f"FS$i%03dLAK")
  private val directions = Seq("Norte", "Sul")

  private def slot(i: Int): (String, String, String) = {
    def hm(m: Int) = f"${(m / 60) % 24}%02d:${m % 60}%02d"
    val (s, e) = (hm(i * 15), hm(((i + 1) * 15) % 1440))
    (s"$s as $e", s, e)
  }

  def row(r: Random, d: LocalDate, eq: String, dir: String, i: Int, seq: Long): FlowRow = {
    val b = Seq.tabulate(11)(j => r.nextInt(if (j >= 3 && j <= 6) 30 else 5))
    val (tr, s, e) = slot(i)
    FlowRow(Date.valueOf(d), eq, dir, tr, s, e, b(0), b(1), b(2), b(3), b(4), b(5), b(6),
      b(7), b(8), b(9), b(10), b.sum, seq)
  }

  /** One radar's report of one night: every quarter-hour slot, in one
    * direction (alternating between radars). */
  def report(r: Random, d: LocalDate, k: Int, seq: Long): Seq[FlowRow] =
    (0 until 96).map(i => row(r, d, radars(k), directions(k % 2), i, seq))

  def nightRows(r: Random, d: LocalDate, seq: Long): Seq[FlowRow] =
    radars.indices.flatMap(k => report(r, d, k, seq))
}

/** `lake_mixed`: a commit-logged radar-flows table with streaming writes
  * beside batch reads. Each cycle runs one streaming trigger (a
  * `MemoryStream` into `writeStream.format("graft-lake")`, update mode,
  * keyed on the flows natural key, partitioned by `pubdate`, with a
  * sequence column) carrying one night plus re-delivered reports, then
  * four reads through `spark.read.format("graft-lake")`: a point lookup, a
  * one-radar week scan, a `SpeedHistogram.dailyProfile` rollup and a
  * `versionAsOf` read. Every result is checked against the generator's
  * last-sequence-wins model at that version. The end-to-end op is the
  * whole cycle, so commit and read time both count in proportion. */
final class LakeMixed extends Workload {

  // 36 nights make 36 `pubdate` partitions, past Spark's 32-path
  // parallel-listing threshold from the first read
  private val initialNights = 36
  // re-delivered reports per trigger, as radar_ingest's 5 of ~100 files a
  // night: 4 corrections and 1 stale copy
  private val corrections = 4
  private val staleCopies = 1
  private val start = LocalDate.of(2024, 1, 1)
  private val keyCols = "pubdate,equipment,direction,time_range"

  private var r: Random = _
  private var dir = ""
  private var chk = ""
  private var nights = 0
  private var seq = 0L
  private var stream: MemoryStream[FlowRow] = _
  private var query: StreamingQuery = _

  // model: key -> row (last sequence wins), and per-version aggregates
  private val model = mutable.HashMap[(Date, String, String, String), FlowRow]()
  private val history = mutable.HashMap[Long, (Long, Long, Long)]() // version -> rows, total, bin4
  private var version = -1L
  private var firstVersion = 0L

  // traced counters
  private val latestMs = mutable.ArrayBuffer[Double]()
  private val progress = mutable.ArrayBuffer[Map[String, Double]]()
  private val reads = mutable.ArrayBuffer[(Long, Long, Int)]() // files read, files total, listing jobs
  private val writes = mutable.ArrayBuffer[(Long, Long)]() // bytes written, batch bytes
  private val cycles = mutable.ArrayBuffer[(Int, Int)]() // a timed cycle's ops in ctx.ops

  private def aggregates: (Long, Long, Long) =
    (model.size.toLong, model.valuesIterator.map(_.total.toLong).sum,
      model.valuesIterator.map(_.speed_41_50.toLong).sum)

  private var initial: Seq[FlowRow] = Nil

  /** The table's first nights, in memory; [[warmUp]] writes them. */
  def generate(ctx: Ctx, dir0: Path): Unit = {
    r = new Random(ctx.seed)
    dir = dir0.resolve("flows_lake").toString
    chk = dir0.resolve("checkpoint").toString
    initial = (0 until initialNights).flatMap(n =>
      FlowsGen.nightRows(r, start.plusDays(n.toLong), 0L))
  }

  private def read(ctx: Ctx): DataFrame = ctx.spark.read.format("graft-lake").load(dir)

  /** The next trigger's batch: a new night, and re-delivered reports of
    * earlier nights (distinct radar-nights): corrections, and stale copies
    * that the sequence column must reject. */
  private def nextBatch(): Seq[FlowRow] = {
    seq += 1
    val night = FlowsGen.nightRows(r, start.plusDays(nights.toLong), seq)
    nights += 1
    val picked = Iterator.continually(
      (start.plusDays(r.nextInt(nights - 1).toLong), r.nextInt(FlowsGen.radars.size)))
      .distinct.take(corrections + staleCopies).toSeq
    val (fix, stale) = picked.splitAt(corrections)
    night ++ fix.flatMap { case (d, k) => FlowsGen.report(r, d, k, seq) } ++
      stale.flatMap { case (d, k) =>
        FlowsGen.report(r, d, k, 0L).map(x => x.copy(seq = model(x.key).seq - 1))
      }
  }

  private def applyToModel(batch: Seq[FlowRow]): Unit = batch.foreach { x =>
    if (model.get(x.key).forall(_.seq <= x.seq)) model(x.key) = x
  }

  private def cycle(ctx: Ctx, timed: Boolean): Unit = {
    val spark = ctx.spark
    val firstOp = ctx.ops.size
    val batch = nextBatch()
    def commit(): Long = {
      Trace.span("streaming.trigger") {
        stream.addData(batch)
        query.processAllAvailable()
      }
      Trace.span("sources.CommitLog.latest") { CommitLog.latest(spark, dir).get.version }
    }
    def checkCommit(v: Long): Boolean = {
      applyToModel(batch)
      val ok = v == version + 1
      version = v
      history(v) = aggregates
      if (!ok) System.err.println(s"[perfbench] commit landed version $v, expected ${version}")
      ok
    }
    if (timed) ctx.timed("op.commit")(commit())(checkCommit)
    else require(checkCommit(commit()), "warm-up commit failed")
    if (Trace.on) tracedCommitCounters(ctx, batch)

    val day = Date.valueOf(start.plusDays(r.nextInt(nights).toLong))
    val radar = FlowsGen.radars(r.nextInt(FlowsGen.radars.size))
    val weekStart = start.plusDays(r.nextInt(nights - 6).toLong)
    val weekEnd = weekStart.plusDays(6)
    val past = math.max(firstVersion, version - 1 - r.nextInt(5))

    def sameRows(x: Any, p: FlowRow => Boolean): Boolean = {
      val got = x.asInstanceOf[Array[FlowRow]]
      val want = model.valuesIterator.filter(p).toSet
      got.length == want.size && got.toSet == want
    }
    val ops: Seq[(String, () => Any, Any => Boolean)] = Seq(
      ("op.read.point",
        () => Trace.span("sources.read") {
          read(ctx).filter(col("equipment") === radar && col("pubdate") === lit(day))
            .as[FlowRow](org.apache.spark.sql.Encoders.product[FlowRow]).collect()
        },
        (x: Any) => sameRows(x, f => f.equipment == radar && f.pubdate == day)),
      ("op.read.week",
        () => Trace.span("sources.read") {
          read(ctx).filter(col("equipment") === radar &&
            col("pubdate").between(lit(Date.valueOf(weekStart)), lit(Date.valueOf(weekEnd))))
            .as[FlowRow](org.apache.spark.sql.Encoders.product[FlowRow]).collect()
        },
        (x: Any) => sameRows(x, f => f.equipment == radar &&
          !f.pubdate.toLocalDate.isBefore(weekStart) && !f.pubdate.toLocalDate.isAfter(weekEnd))),
      ("op.read.rollup",
        () => Trace.span("sources.read") {
          SpeedHistogram.dailyProfile(read(ctx))
            .select("equipment", "direction", "pubdate", "total", "speed_41_50").collect()
        },
        (x: Any) => {
          val got = x.asInstanceOf[Array[Row]].map(r =>
            (r.getString(0), r.getString(1), r.getDate(2).toString) ->
              (r.getLong(3), r.getLong(4))).toMap
          val want = model.valuesIterator.toSeq.groupBy(f => (f.equipment, f.direction,
            f.pubdate.toString)).map { case (k, fs) =>
            k -> (fs.map(_.total.toLong).sum, fs.map(_.speed_41_50.toLong).sum)
          }
          got == want
        }),
      ("op.read.version",
        () => Trace.span("sources.read") {
          val h = spark.read.format("graft-lake").option("versionAsOf", past).load(dir)
            .agg(count(lit(1)), sum("total"), sum("speed_41_50")).head()
          (h.getLong(0), h.getLong(1), h.getLong(2))
        },
        (x: Any) => history.get(past).contains(x)))
    ops.foreach { case (name, body, ok) =>
      if (timed) ctx.timed(name)(body())(ok)
      else require(ok(body()), s"warm-up $name failed")
      if (Trace.on) tracedReadCounters(ctx)
    }
    if (timed) cycles += ((firstOp, ctx.ops.size))
  }

  private def tracedCommitCounters(ctx: Ctx, batch: Seq[FlowRow]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val t0 = System.nanoTime()
    CommitLog.latest(spark, dir)
    latestMs += (System.nanoTime() - t0) / 1e6
    Option(query.lastProgress).foreach { p =>
      progress += p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap +
        ("jobs" -> ctx.ops.lastOption.flatMap(_.spark).map(_._1.size.toDouble).getOrElse(0.0))
    }
    val sized = ctx.work.resolve(s"batch-bytes-$seq").toString
    batch.toDS().repartition(1).write.parquet(sized)
    val inBytes = Files.walk(java.nio.file.Paths.get(sized)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(Files.size).sum
    val outBytes = ctx.ops.lastOption.flatMap(_.spark).map(_._2.map(_.out).sum).getOrElse(0L)
    writes += ((outBytes, inBytes))
  }

  private def tracedReadCounters(ctx: Ctx): Unit =
    ctx.ops.lastOption.flatMap(_.spark).foreach { case (jobs, _, execs) =>
      val total = CommitLog.latest(ctx.spark, dir).get.files.size.toLong
      reads += ((execs.flatMap(_.scans).sum, total, jobs.count(_.listing)))
    }

  /** Creates the table from the generated nights (batch appends of six
    * nights each, so the log holds 6 versions before the first trigger and
    * grows with each cycle), starts the streaming query and runs one
    * untimed cycle (the cold one). */
  def warmUp(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    model.clear(); history.clear()
    initial.foreach(x => model(x.key) = x)
    nights = initialNights
    seq = 0L
    initial.grouped(6 * FlowsGen.radars.size * 96).foreach { nights6 =>
      nights6.toDS().repartition(4).write.format("graft-lake").mode("append")
        .partitionBy("pubdate").save(dir)
    }
    version = CommitLog.latest(spark, dir).get.version
    firstVersion = version
    history(version) = aggregates
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    stream = MemoryStream[FlowRow]
    query = stream.toDS().writeStream.format("graft-lake")
      .outputMode("update")
      .option("keyColumns", keyCols)
      .option("partitionColumn", "pubdate")
      .option("sequenceColumn", "seq")
      .option("checkpointLocation", chk)
      .start(dir)
    cycle(ctx, timed = false)
  }

  def step(ctx: Ctx): Unit = cycle(ctx, timed = true)

  def finalChecks(ctx: Ctx): Seq[(String, Boolean)] = {
    query.stop()
    val spark = ctx.spark
    import spark.implicits._
    val snap = spark.read.format("graft-lake").load(dir).as[FlowRow].collect()
    Seq("final snapshot equals the model" ->
      (snap.length == model.size && snap.forall(x => model.get(x.key).contains(x))))
  }

  private def walls(ctx: Ctx, p: String => Boolean) =
    ctx.timedOps.filter(o => p(o.cls)).map(_.wallS)

  def endToEnd(ctx: Ctx): Map[String, (Double, String)] = {
    val commits = walls(ctx, _ == "op.commit")
    val reads = walls(ctx, _.startsWith("op.read."))
    // untraced cycles whose every op succeeded
    val whole = cycles.toSeq.map { case (a, b) => ctx.ops.slice(a, b).toSeq }
      .filter(_.forall(o => o.ok && !o.traced)).map(_.map(_.wallS).sum)
    val (cp, ct) = Stats.tail(commits)
    val (rp, rt) = Stats.tail(reads)
    val (ap, at) = Stats.tail(whole)
    ctx.notes ++= Seq("commit_tail_percentile" -> cp, "commit_samples" -> commits.size,
      "read_tail_percentile" -> rp, "read_samples" -> reads.size,
      "cycle_tail_percentile" -> ap, "cycle_samples" -> whole.size, "log_version" -> version)
    Map(
      "lake_commit_p50_s" -> (Stats.median(commits), "s"),
      "lake_commit_tail_s" -> (ct, "s"),
      "lake_read_p50_s" -> (Stats.median(reads), "s"),
      "lake_read_tail_s" -> (rt, "s"),
      "op_p50_s" -> (Stats.median(whole), "s"),
      "op_tail_s" -> (at, "s"),
      "throughput" -> (whole.size / whole.sum, "1/s"))
  }

  def layers(ctx: Ctx): Map[String, (Double, String)] = {
    def prog(k: String) = Stats.mean(progress.map(_.getOrElse(k, 0.0)).toSeq)
    val filesRead = Stats.mean(reads.map(_._1.toDouble).toSeq)
    val filesTotal = Stats.mean(reads.map(_._2.toDouble).toSeq)
    Map(
      "sources.latest_ms" -> (Stats.mean(latestMs.toSeq), "ms"),
      "sources.log_versions" -> (version + 1.0, "count"),
      "sources.files_read" -> (filesRead, "count"),
      "sources.files_total" -> (filesTotal, "count"),
      "sources.prune_ratio" -> (if (filesTotal > 0) 1 - filesRead / filesTotal else 0.0, "ratio"),
      "sources.listing_jobs" -> (Stats.mean(reads.map(_._3.toDouble).toSeq), "count"),
      "sources.bytes_written_per_input_byte" ->
        (writes.map(_._1).sum.toDouble / math.max(1L, writes.map(_._2).sum), "ratio"),
      "sources.live_files" ->
        (CommitLog.latest(ctx.spark, dir).map(_.files.size.toDouble).getOrElse(0.0), "count"),
      "streaming.trigger_ms" -> (prog("triggerExecution"), "ms"),
      "streaming.add_batch_ms" -> (prog("addBatch"), "ms"),
      "streaming.wal_commit_ms" -> (prog("walCommit"), "ms"),
      "streaming.planning_ms" -> (prog("queryPlanning"), "ms"),
      "streaming.latest_offset_ms" -> (prog("latestOffset"), "ms"),
      "streaming.jobs_per_trigger" -> (prog("jobs"), "count"))
  }
}
