package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.jobs.IngestJob
import graft.parse.{ReportFixtures, Xlsx}

class StreamingIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("windowed flow totals: 15-min tumbling windows close past the watermark") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, String, Int)]
    val flows = stream.toDF().toDF("slot_ts", "equipment", "direction", "total")
    val agg = StreamingIngest.windowedFlowTotals(flows)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wft").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      stream.addData(
        (ts("2021-03-01 00:00:30"), "E1", "Norte", 10),
        (ts("2021-03-01 00:05:00"), "E1", "Norte", 5),
        (ts("2021-03-01 00:16:00"), "E1", "Norte", 7))
      q.processAllAvailable()
      // advance the event-time watermark (1 day) far enough to close day 1
      stream.addData((ts("2021-03-03 00:00:00"), "E2", "Sul", 1))
      q.processAllAvailable()
      stream.addData((ts("2021-03-05 00:00:00"), "E2", "Sul", 1))
      q.processAllAvailable()
      val out = spark.table("wft")
        .select(concat_ws("|", $"equipment",
          date_format($"slot_start", "yyyy-MM-dd HH:mm")).as("slot"), $"vehicles")
        .as[(String, Long)].collect().toMap
      assert(out("E1|2021-03-01 00:00") == 15L) // two rows in the first window
      assert(out("E1|2021-03-01 00:15") == 7L)
    } finally q.stop()
  }

  test("sliding windows: each event lands in exactly two closed windows") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String)]
    val events = stream.toDF().toDF("ts", "event_type")
    val agg = StreamingIngest.slidingEventCounts(events)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("slide").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      stream.addData(
        (ts("2021-03-01 00:05:00"), "view"),   // windows 23:45 and 00:00
        (ts("2021-03-01 00:20:00"), "view"),   // windows 00:00 and 00:15
        (ts("2021-03-01 00:20:30"), "click"))  // windows 00:00 and 00:15
      q.processAllAvailable()
      // push the watermark (1h delay) past every window end above
      stream.addData((ts("2021-03-01 03:00:00"), "view"))
      q.processAllAvailable()
      val out = spark.table("slide")
        .select(concat_ws("|", date_format($"w_start", "HH:mm"), $"event_type"),
          $"n")
        .as[(String, Long)].collect().toMap
      assert(out("23:45|view") == 1L)
      assert(out("00:00|view") == 2L) // 00:05 and 00:20 share the 00:00 window
      assert(out("00:15|view") == 1L)
      assert(out("00:00|click") == 1L && out("00:15|click") == 1L)
    } finally q.stop()
  }

  test("streaming ingest drains landing files exactly once across restarts") {
    val work = Files.createTempDirectory("stream-spec").toString
    val lake = IngestJob.Lake(s"$work/lake")
    val landing = s"$work/landing"
    def drop(e: String, d: String): Unit = {
      val p = java.nio.file.Paths.get(s"$landing/$e/$d.xlsx")
      Files.createDirectories(p.getParent)
      Files.write(p, Xlsx.write(ReportFixtures.workbook(1, e, d)))
      ()
    }
    drop("E1", "2021-03-01")
    val q1 = StreamingIngest.start(spark, landing, lake, s"$work/chk")
    q1.processAllAvailable(); q1.stop()
    assert(IngestJob.readFlows(spark, lake).count() == 96)

    // restart from the same checkpoint; add one more file — only it loads
    drop("E2", "2021-03-01")
    val q2 = StreamingIngest.start(spark, landing, lake, s"$work/chk")
    q2.processAllAvailable(); q2.stop()
    assert(IngestJob.readFlows(spark, lake).count() == 192)
    assert(IngestJob.readLedger(spark, lake).count() == 2)
  }

  test("streaming upsert maintains the incremental view batch-by-batch") {
    import graft.sources.{CommitLog, IncrementalView}
    val work = Files.createTempDirectory("stream-view-spec").toString
    // 2 versions of 20 keys over 4 partitions, split across 3 files so
    // versions of a key cross micro-batch boundaries
    val rows = spark.range(0, 20).select(
      col("id").as("k"), (col("id") % 4).cast("int").as("p"),
      lit(1L).as("seq"), (col("id") * 10).as("v"))
    val rows2 = rows.withColumn("seq", lit(2L))
      .withColumn("v", col("v") + 1)
    rows.unionByName(rows2).repartition(3).write.parquet(s"$work/landing")
    val defn = IncrementalView.Definition(
      s"$work/lake", s"$work/view", "p", Seq("p"),
      Seq(count(lit(1)).as("n"), sum("v").as("sv"), max("seq").as("mx")))
    val updates = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$work/landing")
    val q = StreamingIngest.upsertStreamMaintainingView(
      updates, defn, keyCols = Seq("k"), seqCol = "seq",
      checkpointDir = s"$work/chk")
    try q.processAllAvailable() finally q.stop()

    // the view equals the from-scratch aggregate of the converged lake
    val direct = CommitLog.read(spark, defn.baseDir).groupBy("p")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"), max("seq").as("mx"))
      .collect().map(_.toString).sorted.toSeq
    val view = IncrementalView.read(spark, defn).select("p", "n", "sv", "mx")
      .collect().map(_.toString).sorted.toSeq
    assert(view === direct)
    // every key converged to its seq=2 version
    assert(IncrementalView.read(spark, defn)
      .agg(min("mx")).collect().head.getLong(0) === 2L)
    // the stream left the view FRESH: a manual catch-up is a no-op
    assert(IncrementalView.refresh(spark, defn).isEmpty)
  }

  test("stateful running totals accumulate across micro-batches") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[StatefulOps.EquipmentUpdate]
    val totals = StatefulOps.runningTotals(spark, stream.toDS())
    val q = totals.writeStream.outputMode("append")
      .format("memory").queryName("totals").start()
    try {
      stream.addData(StatefulOps.EquipmentUpdate("E1", 10),
        StatefulOps.EquipmentUpdate("E1", 5), StatefulOps.EquipmentUpdate("E2", 3))
      q.processAllAvailable()
      stream.addData(StatefulOps.EquipmentUpdate("E1", 7))
      q.processAllAvailable()
      val rows = spark.table("totals")
        .as[StatefulOps.EquipmentTotal].collect()
      val e1 = rows.filter(_.equipment == "E1").map(_.totalVehicles).toSet
      assert(e1 == Set(15L, 22L)) // batch 1 emission, then batch 2 cumulative
      assert(rows.filter(_.equipment == "E2").map(_.totalVehicles).toSet == Set(3L))
    } finally q.stop()
  }

  test("streaming funnel: cross-batch stage progression with strict ordering") {
    implicit val ctx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val stream = MemoryStream[StatefulOps.FunnelEvent]
    val conv = StatefulOps.funnelProgress(spark, stream.toDS(),
      Seq("view", "click", "purchase"))
    val q = conv.writeStream.outputMode("append")
      .format("memory").queryName("funnel").start()
    try {
      // batch 1: u1 views; u2 clicks with NO view (must not advance);
      // u3 view+click at the SAME instant (strict > rejects the click)
      stream.addData(
        StatefulOps.FunnelEvent(1L, "view", ts("2024-01-08 01:00:00")),
        StatefulOps.FunnelEvent(2L, "click", ts("2024-01-08 01:00:00")),
        StatefulOps.FunnelEvent(3L, "view", ts("2024-01-08 02:00:00")),
        StatefulOps.FunnelEvent(3L, "click", ts("2024-01-08 02:00:00")))
      q.processAllAvailable()
      // batch 2: u1 clicks then purchases IN THE SAME BATCH (intra-batch
      // multi-stage advancement); u2's late view doesn't resurrect the
      // batch-1 click
      stream.addData(
        StatefulOps.FunnelEvent(1L, "purchase", ts("2024-01-08 04:00:00")),
        StatefulOps.FunnelEvent(1L, "click", ts("2024-01-08 03:00:00")),
        StatefulOps.FunnelEvent(2L, "view", ts("2024-01-08 03:00:00")))
      q.processAllAvailable()
      val rows = spark.table("funnel")
        .as[StatefulOps.FunnelConversion].collect()
        .map(c => (c.user_id, c.stage, c.step)).toSet
      assert(rows == Set(
        (1L, 1, "view"), (1L, 2, "click"), (1L, 3, "purchase"),
        (2L, 1, "view"),
        (3L, 1, "view")))
    } finally q.stop()
  }

  test("streaming contamination alerts flag eval-overlapping arrivals") {
    implicit val ctx = spark.sqlContext
    val evalSet = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF().toDF("doc_id", "text")
    val alerts = StatefulOps.contaminationAlerts(docs, evalSet, "doc_id", "text")
    val q = alerts.writeStream.outputMode("append")
      .format("memory").queryName("contam").start()
    try {
      stream.addData(
        (100L, "intro words then alpha beta gamma delta epsilon appears"),
        (101L, "a perfectly clean training document with no overlap"))
      q.processAllAvailable()
      stream.addData((102L, "late arrival alpha beta gamma delta epsilon zeta end"))
      q.processAllAvailable()
      val flagged = spark.table("contam").select($"doc_id").as[Long]
        .collect().toSet
      assert(flagged == Set(100L, 102L))
    } finally q.stop()
  }

  test("stream-stream interval join pairs purchases with recent clicks only") {
    implicit val ctx = spark.sqlContext
    val clickS = MemoryStream[(Timestamp, Long, Long)]
    val buyS = MemoryStream[(Timestamp, Long, Long)]
    val clicks = clickS.toDF().toDF("ts", "event_id", "user_id")
    val buys = buyS.toDF().toDF("ts", "event_id", "user_id")
    val joined = StatefulOps.purchasesWithRecentClicks(buys, clicks)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      clickS.addData(
        (ts("2021-03-01 00:00:00"), 1L, 7L),   // before the 15-min lookback
        (ts("2021-03-01 00:20:00"), 2L, 7L),   // inside [00:10, 00:25]
        (ts("2021-02-28 23:00:00"), 3L, 7L),   // far too old
        (ts("2021-03-01 00:10:00"), 4L, 8L))   // other user
      buyS.addData((ts("2021-03-01 00:25:00"), 100L, 7L))
      q.processAllAvailable()
      // advance both watermarks so buffered state can emit/evict
      clickS.addData((ts("2021-03-01 02:00:00"), 9L, 1L))
      buyS.addData((ts("2021-03-01 02:00:00"), 99L, 1L))
      q.processAllAvailable()
      val got = spark.table("ssjoin")
        .filter($"purchase_id" === 100L)
        .select($"click_id").as[Long].collect().toSet
      assert(got == Set(2L)) // only the click within [00:10, 00:25]
    } finally q.stop()
  }

  test("streaming dedup drops watermark-window copies, keeps first arrivals") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long, String)]
    val docs = stream.toDF().toDF("ts", "doc_id", "text")
    val deduped = StatefulOps.dedupedDocStream(docs, "ts", "text", delay = "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("sdedup").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      stream.addData(
        (ts("2021-03-01 00:00:00"), 1L, "the quick brown fox"),
        (ts("2021-03-01 00:00:05"), 2L, "THE quick  brown fox"), // same content
        (ts("2021-03-01 00:00:10"), 3L, "something else entirely"))
      q.processAllAvailable()
      stream.addData( // next batch, still inside the watermark window
        (ts("2021-03-01 00:02:00"), 4L, "the quick brown fox"))
      q.processAllAvailable()
      val kept = spark.table("sdedup").select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 3L)) // 2 (same batch) and 4 (later batch) dropped
    } finally q.stop()
  }

  test("streaming near-dup alerts: LSH bucket state flags arrivals, horizon evicts") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long, String)]
    val docs = stream.toDF().toDF("ts", "doc_id", "text")
    val alerts = StatefulOps.nearDupAlerts(
      docs, "doc_id", "ts", "text", delayMinutes = 10, simThreshold = 0.5)
    val q = alerts.writeStream.outputMode("append")
      .format("memory").queryName("sneardup").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      val base = "the quick brown fox jumps over the lazy dog near the riverbank " * 4
      stream.addData(
        (ts("2021-03-01 00:00:00"), 1L, base),
        (ts("2021-03-01 00:00:10"), 2L, "completely unrelated text about spark physical plans and shuffles"))
      q.processAllAvailable()
      stream.addData( // next batch, inside the horizon: one-word edit of doc 1
        (ts("2021-03-01 00:03:00"), 3L, base.replaceFirst("lazy", "sleepy")))
      q.processAllAvailable()
      val hits = spark.table("sneardup")
        .select($"id", $"dup_of").as[(Long, Long)].collect().toSet
      assert(hits == Set((3L, 1L)), s"expected exactly (3,1), got $hits")
      // a pair shares MANY bands at this similarity; cross-band copies
      // must have been collapsed to one row by the chained dedup
      assert(spark.table("sneardup").count() == 1)
      // advance the watermark past the horizon, then replay doc 1's text:
      // bucket state evicted -> fresh start, no alert
      stream.addData((ts("2021-03-01 01:00:00"), 50L, "watermark pusher text"))
      q.processAllAvailable()
      stream.addData((ts("2021-03-01 01:00:30"), 51L, base))
      q.processAllAvailable()
      val after = spark.table("sneardup")
        .select($"id").as[Long].collect().toSet
      assert(!after.contains(51L), s"evicted state must not alert: $after")
    } finally q.stop()
  }

  test("streaming unique visitors: dedup-then-count per closed window") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long)]
    val events = stream.toDF().toDF("ts", "user_id")
    val uv = StatefulOps.uniqueVisitors(events, "ts", "user_id",
      windowMinutes = 60, graceMinutes = 30)
    val q = uv.writeStream.outputMode("append")
      .format("memory").queryName("suv").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      stream.addData(
        (ts("2021-03-01 00:05:00"), 7L),
        (ts("2021-03-01 00:10:00"), 7L), // same user, same window: once
        (ts("2021-03-01 00:20:00"), 8L))
      q.processAllAvailable()
      // advance the watermark between the two visits of user 7 — with a
      // bare-grace watermark the dedup state would already be evicted
      // and the 00:55 revisit would double-count
      stream.addData((ts("2021-03-01 01:10:00"), 99L))
      q.processAllAvailable()
      stream.addData((ts("2021-03-01 00:55:00"), 7L)) // far-apart dup
      q.processAllAvailable()
      // push the watermark far enough to close both hours
      stream.addData((ts("2021-03-01 05:00:00"), 9L))
      q.processAllAvailable()
      stream.addData((ts("2021-03-01 09:00:00"), 9L))
      q.processAllAvailable()
      val out = spark.table("suv")
        .select(date_format($"window_start", "HH:mm"), $"unique_visitors")
        .as[(String, Long)].collect().toMap
      assert(out("00:00") == 2L) // users 7, 8 — the 00:55 revisit deduped
      assert(out("01:00") == 1L) // user 99
    } finally q.stop()
  }

  /** The keyed streaming upsert with no hook: the native sink in
    * update mode, keyed on `id`, sequenced by `seq`. */
  private def keyedUpsert(updates: org.apache.spark.sql.DataFrame,
      lake: String, chk: String) =
    updates.writeStream.format("graft-lake")
      .outputMode("update")
      .option("keyColumns", "id")
      .option("partitionColumn", "day")
      .option("sequenceColumn", "seq")
      .option("checkpointLocation", chk)
      .start(lake)

  test("streaming upsert: last writer per key lands, partitions accumulate") {
    implicit val ctx = spark.sqlContext
    val work = Files.createTempDirectory("upsert-stream").toString
    val lake = s"$work/lake"
    val stream = MemoryStream[(Long, String, Long, String)]
    val updates = stream.toDF().toDF("id", "day", "seq", "payload")
    val q = keyedUpsert(updates, lake, s"$work/chk")
    try {
      stream.addData((1L, "d1", 1L, "a"), (2L, "d1", 1L, "b"))
      q.processAllAvailable()
      // batch 2: id 1 arrives TWICE (seq 2 then 3 — only 3 may land),
      // id 3 opens partition d2; id 2 untouched
      stream.addData((1L, "d1", 3L, "a3"), (1L, "d1", 2L, "a2"), (3L, "d2", 1L, "c"))
      q.processAllAvailable()
      val got = graft.sources.CommitLog.read(spark, lake)
        .select($"id", $"day", $"seq", $"payload")
        .as[(Long, String, Long, String)].collect().sortBy(_._1)
      assert(got.toSeq == Seq(
        (1L, "d1", 3L, "a3"), (2L, "d1", 1L, "b"), (3L, "d2", 1L, "c")))
    } finally q.stop()
  }

  test("streaming upsert: ledger skips replays; an older cross-batch seq never regresses") {
    implicit val ctx = spark.sqlContext
    val work = Files.createTempDirectory("upsert-eo").toString
    val lake = s"$work/lake"
    val stream = MemoryStream[(Long, String, Long, String)]
    val updates = stream.toDF().toDF("id", "day", "seq", "payload")
    def startQ() = keyedUpsert(updates, lake, s"$work/chk")
    def state() = graft.sources.CommitLog.read(spark, lake)
      .select($"id", $"day", $"seq", $"payload")
      .as[(Long, String, Long, String)].collect().sortBy(_._1).toSeq
    var q = startQ()
    try {
      stream.addData((1L, "d1", 5L, "v5"))
      q.processAllAvailable()
      // cross-batch reordering: a genuinely NEW batch carries an OLDER seq
      // for key 1 — the version-aware merge must keep the seq-5 row
      stream.addData((1L, "d1", 3L, "v3"), (2L, "d1", 1L, "b"))
      q.processAllAvailable()
      assert(state() == Seq((1L, "d1", 5L, "v5"), (2L, "d1", 1L, "b")))
      val before = graft.sources.CommitLog.latest(spark, lake).get.version
      // crash window: the upsert for batch 1 committed but the streaming
      // commit log never recorded it. Simulate by dropping the commit
      // record and restarting — Spark replays batch 1 from the offset log;
      // the query's ledger entry in the table log already has it, so the
      // replay is a no-op (regardless of the batch's seq values).
      q.stop()
      assert(Files.deleteIfExists(java.nio.file.Paths.get(s"$work/chk/commits/1")),
        "streaming commit-log layout changed; replay simulation broken")
      // the local FS keeps a checksum sidecar; it must go with the record
      // or the replayed commit write fails on the stale CRC
      Files.deleteIfExists(java.nio.file.Paths.get(s"$work/chk/commits/.1.crc"))
      q = startQ()
      q.processAllAvailable()
      assert(state() == Seq((1L, "d1", 5L, "v5"), (2L, "d1", 1L, "b")))
      assert(graft.sources.CommitLog.latest(spark, lake).get.version == before,
        "a replayed batch minted a new log version")
    } finally q.stop()
  }

  test("logged streaming upsert: ledger rides the commit, replay is a no-op, history travels") {
    import graft.sources.CommitLog
    implicit val ctx = spark.sqlContext
    val work = Files.createTempDirectory("upsert-logged").toString
    val lake = s"$work/lake"
    val stream = MemoryStream[(Long, String, Long, String)]
    val updates = stream.toDF().toDF("id", "day", "seq", "payload")
    def startQ() = StreamingIngest.upsertStreamLogged(
      updates, lake, keyCols = Seq("id"), partitionCol = "day",
      seqCol = "seq", checkpointDir = s"$work/chk", statsCols = Seq("id"))
    def state() = CommitLog.read(spark, lake)
      .select($"id", $"day", $"seq", $"payload")
      .as[(Long, String, Long, String)].collect().sortBy(_._1).toSeq
    var q = startQ()
    try {
      // batch 0 BOOTSTRAPS the log; intra-batch versions collapse
      stream.addData((1L, "d1", 2L, "v2"), (1L, "d1", 1L, "v1"))
      q.processAllAvailable()
      assert(state() == Seq((1L, "d1", 2L, "v2")))
      // batch 1: older cross-batch seq never regresses; new partition opens
      stream.addData((1L, "d1", 1L, "stale"), (2L, "d2", 1L, "b"))
      q.processAllAvailable()
      assert(state() == Seq((1L, "d1", 2L, "v2"), (2L, "d2", 1L, "b")))
      // the exactly-once ledger is IN the commit, not a sidecar: the
      // query's own entry records its last batch
      val snap = CommitLog.latest(spark, lake).get
      assert(snap.props.get(s"graft.txn.${q.id}").contains("1"),
        s"ledger: ${snap.props}")
      assert(!new java.io.File(s"$lake/_graft_commits").exists(),
        "logged sink must not write the legacy marker sidecar")
      // crash window: drop Spark's OWN commit record for batch 1 so the
      // restart replays it — the batch id in the log makes it a no-op
      q.stop()
      assert(Files.deleteIfExists(java.nio.file.Paths.get(s"$work/chk/commits/1")))
      Files.deleteIfExists(java.nio.file.Paths.get(s"$work/chk/commits/.1.crc"))
      q = startQ()
      q.processAllAvailable()
      assert(state() == Seq((1L, "d1", 2L, "v2"), (2L, "d2", 1L, "b")))
      assert(CommitLog.latest(spark, lake).get.version == snap.version,
        "a replayed batch minted a new version")
      // history: version 1 is exactly the bootstrap batch (time travel)
      assert(CommitLog.readAt(spark, lake, 1L)
        .select($"id", $"seq").as[(Long, Long)].collect().toSeq ==
        Seq((1L, 2L)))
      // and the stats snapshot committed with every batch → pruning works
      val (_, (read, total)) = CommitLog.scanRange(spark, lake, "id", 5L, 9L)
      assert(total > 0 && read == 0, s"stats not riding the commit: $read/$total")
    } finally q.stop()
  }

  test("txn fanout stream: each micro-batch pins BOTH tables as one family " +
      "cut; a crash-replayed batch is a manifest-ledger no-op; every " +
      "retained cut is cross-table consistent") {
    import graft.sources.{CommitLog, LakeTxn}
    implicit val ctx = spark.sqlContext
    val work = Files.createTempDirectory("txn-fanout").toString
    val fact = s"$work/fact"; val state = s"$work/state"
    val txn = s"$work/txn"
    val base = Seq((1L, "a", 1L, 10L), (2L, "a", 1L, 20L),
      (3L, "b", 1L, 30L), (4L, "b", 1L, 40L))
      .toDF("id", "part", "seq", "payload_len")
    base.write.partitionBy("part").parquet(fact)
    CommitLog.init(spark, fact)
    base.write.partitionBy("part").parquet(state)
    CommitLog.init(spark, state)
    LakeTxn.commit(spark, txn, Map(fact -> 1L, state -> 1L)) // t1
    val stream = MemoryStream[(Long, String, Long, Long)]
    val updates = stream.toDF().toDF("id", "part", "seq", "payload_len")
    def startQ() = StreamingIngest.txnFanoutStream(updates, txn, b => Seq(
      LakeTxn.TxnAppend(fact, b),
      LakeTxn.TxnUpsert(state, b, Seq("id"), "part", Some("seq"))),
      s"$work/chk")
    var q = startQ()
    try {
      stream.addData((1L, "a", 2L, 11L), (3L, "b", 2L, 31L)) // batch 0 → t2
      q.processAllAvailable()
      stream.addData((2L, "a", 2L, 21L)) // batch 1 → t3
      q.processAllAvailable()
      val head = LakeTxn.latest(spark, txn).get
      assert(head.txn == 3L && head.batches == Seq(0L, 1L), s"$head")
      assert(LakeTxn.pinOf(spark, txn, fact) == 3L &&
        LakeTxn.pinOf(spark, txn, state) == 3L, "both tables pinned per cut")
      // crash window: drop Spark's OWN commit record for batch 1, so the
      // restart re-delivers it under the SAME id — the family's manifest
      // ledger must make the whole multi-table replay a no-op
      q.stop()
      assert(Files.deleteIfExists(
        java.nio.file.Paths.get(s"$work/chk/commits/1")),
        "streaming commit-log layout changed; replay simulation broken")
      Files.deleteIfExists(java.nio.file.Paths.get(s"$work/chk/commits/.1.crc"))
      q = startQ()
      q.processAllAvailable()
      val replayed = LakeTxn.latest(spark, txn).get
      assert(replayed.txn == head.txn && replayed.pins == head.pins,
        s"replayed batch moved the family: $replayed")
      assert(LakeTxn.read(spark, txn, fact).count() == 7L,
        "audit fact = 4 base + 3 streamed, each exactly once")
      assert(LakeTxn.read(spark, txn, state)
        .select($"id", $"payload_len").as[(Long, Long)]
        .collect().sorted.toSeq ==
        Seq((1L, 11L), (2L, 21L), (3L, 31L), (4L, 40L)),
        "serving state = newest seq per key")
      // per-cut atomicity: state payload drift == fact row growth at
      // EVERY retained manifest — a torn (fact-new, state-old) pin breaks it
      (1L to replayed.txn).foreach { t =>
        val fRows = LakeTxn.readAt(spark, txn, t, fact).count()
        val sSum = LakeTxn.readAt(spark, txn, t, state)
          .agg(sum($"payload_len")).head.getLong(0)
        assert(sSum - 100L == fRows - 4L,
          s"torn cut t$t: state drift ${sSum - 100L}, fact growth ${fRows - 4L}")
      }
    } finally q.stop()
  }
}
