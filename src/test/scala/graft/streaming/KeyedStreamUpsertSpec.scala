package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.{CommitLog, IncrementalView}

/** The keyed streaming upsert's two contracts, on every path that lands
  * a keyed micro-batch:
  *
  *  - a batch carrying several versions of one key lands ONE row per
  *    key (the greatest sequence wins) even where no committed row
  *    competes: the batch that bootstraps the table, and a batch that
  *    opens only new partitions;
  *  - the exactly-once ledger is keyed by the streaming query, so a
  *    query restarted on a FRESH checkpoint (batch ids restarting at 0)
  *    against an existing table lands its first batches instead of
  *    being skipped as replays of another query's ids. */
class KeyedStreamUpsertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def work(): String = {
    val d = Files.createTempDirectory("graft_keyed_")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def state(dir: String): Seq[(Long, String, Long, String)] =
    CommitLog.read(spark, dir)
      .select($"id", $"day", $"seq", $"payload")
      .as[(Long, String, Long, String)].collect().sortBy(_._1).toSeq

  /** An update-mode `graft-lake` sink keyed on `id`, sequenced by
    * `seq`, whose batch columns put the key in neither first nor last
    * place (so a reordering of the bootstrap's columns shows). */
  private def keyedSink(w: String, stream: MemoryStream[(Long, String, Long, String)]) =
    stream.toDF().toDF("id", "day", "seq", "payload")
      .select("payload", "seq", "id", "day")
      .writeStream.format("graft-lake")
      .outputMode("update")
      .option("keyColumns", "id")
      .option("partitionColumn", "day")
      .option("sequenceColumn", "seq")
      .option("checkpointLocation", s"$w/chk")
      .start(s"$w/lake")

  test("update-mode sink: the bootstrap batch lands one row per key, " +
    "the greatest seq wins, in the batch's column order") {
    implicit val ctx = spark.sqlContext
    val w = work()
    val stream = MemoryStream[(Long, String, Long, String)]
    val q = keyedSink(w, stream)
    try {
      stream.addData((1L, "d1", 1L, "a1"), (1L, "d1", 2L, "a2"),
        (2L, "d1", 1L, "b1"))
      q.processAllAvailable()
      assert(state(s"$w/lake") == Seq((1L, "d1", 2L, "a2"), (2L, "d1", 1L, "b1")))
      assert(CommitLog.read(spark, s"$w/lake").columns.toSeq ==
        Seq("payload", "seq", "id", "day"))
    } finally q.stop()
  }

  test("update-mode sink: a batch opening only new partitions lands one " +
    "row per key, the greatest seq wins") {
    implicit val ctx = spark.sqlContext
    val w = work()
    val stream = MemoryStream[(Long, String, Long, String)]
    val q = keyedSink(w, stream)
    try {
      stream.addData((1L, "d1", 1L, "a1"))
      q.processAllAvailable()
      // no committed row of partition d2 competes with the batch
      stream.addData((5L, "d2", 1L, "e1"), (5L, "d2", 3L, "e3"),
        (5L, "d2", 2L, "e2"))
      q.processAllAvailable()
      assert(state(s"$w/lake") == Seq((1L, "d1", 1L, "a1"), (5L, "d2", 3L, "e3")))
    } finally q.stop()
  }

  test("upsertStreamLogged on a fresh checkpoint against an existing " +
    "table lands its first batches") {
    implicit val ctx = spark.sqlContext
    val w = work(); val lake = s"$w/lake"
    def run(chk: String, rows: (Long, String, Long, String)*): Unit = {
      val stream = MemoryStream[(Long, String, Long, String)]
      val q = StreamingIngest.upsertStreamLogged(
        stream.toDF().toDF("id", "day", "seq", "payload"), lake,
        keyCols = Seq("id"), partitionCol = "day", seqCol = "seq",
        checkpointDir = chk)
      try { stream.addData(rows); q.processAllAvailable() } finally q.stop()
    }
    run(s"$w/chkA", (1L, "d1", 1L, "a"))
    // a second query, its OWN checkpoint: its batch 0 is new data
    run(s"$w/chkB", (2L, "d1", 1L, "b"))
    assert(state(lake).map(_._1) == Seq(1L, 2L),
      s"the fresh query's batch 0 was skipped: ${state(lake)}")
  }

  test("upsertStreamMaintainingView on a fresh checkpoint against an " +
    "existing table lands its first batches and refreshes the view") {
    implicit val ctx = spark.sqlContext
    val w = work()
    val defn = IncrementalView.Definition(
      s"$w/lake", s"$w/view", "day", Seq("day"),
      Seq(count(lit(1)).as("n"), max("seq").as("mx")))
    def run(chk: String, rows: (Long, String, Long, String)*): Unit = {
      val stream = MemoryStream[(Long, String, Long, String)]
      val q = StreamingIngest.upsertStreamMaintainingView(
        stream.toDF().toDF("id", "day", "seq", "payload"), defn,
        keyCols = Seq("id"), seqCol = "seq", checkpointDir = chk)
      try { stream.addData(rows); q.processAllAvailable() } finally q.stop()
    }
    run(s"$w/chkA", (1L, "d1", 1L, "a"))
    run(s"$w/chkB", (2L, "d1", 1L, "b"), (2L, "d1", 2L, "b2"))
    assert(state(defn.baseDir) == Seq((1L, "d1", 1L, "a"), (2L, "d1", 2L, "b2")))
    assert(IncrementalView.read(spark, defn).select("day", "n", "mx")
      .as[(String, Long, Long)].collect().toSeq == Seq(("d1", 2L, 2L)))
  }
}
