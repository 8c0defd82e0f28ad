package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Batch `format("graft-lake")`: the read must serve EXACTLY the
  * committed snapshot through a real file-scan plan (pushdown +
  * pruning + codegen, no directory listing) in the common case, fall
  * back to the commit log's exact read path when row-level semantics
  * demand it (deletion vectors, renames), and the write modes must
  * land the same commits as the Scala verbs. */
class LakeBatchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(): String =
    Files.createTempDirectory("graft_batch_").toString + "/lake"

  private def df(lo: Long, hi: Long) =
    spark.range(lo, hi).select($"id".as("k"), ($"id" % 7).as("v"),
      concat(lit("d"), ($"id" % 3)).as("pd"))

  test("create-by-write round-trips; the read serves the LOG's files, " +
    "not the directory listing") {
    val dir = fresh()
    df(0, 300).write.format("graft-lake").partitionBy("pd").save(dir)
    val got = spark.read.format("graft-lake").load(dir)
    assert(got.count() == 300L)
    assert(got.columns.toSeq == Seq("k", "v", "pd")) // partition col last
    // an uncommitted straggler file is INVISIBLE — the file index comes
    // from the commit log, never a listing
    df(900, 950).filter($"pd" === "d0").drop("pd")
      .write.mode("append").parquet(s"$dir/pd=d0")
    assert(spark.read.format("graft-lake").load(dir).count() == 300L)
  }

  test("fast path is a real file scan: filters push down, partitions " +
    "prune, no RDD boundary") {
    val dir = fresh()
    df(0, 300).write.format("graft-lake").partitionBy("pd").save(dir)
    val q = spark.read.format("graft-lake").load(dir)
      .filter($"k" > 250L && $"pd" === "d1").select($"k")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,250)"),
      s"filter did not reach the parquet scan:\n$plan")
    assert(plan.contains("PartitionFilters: [isnotnull(pd"),
      s"partition pruning did not engage:\n$plan")
    assert(!plan.contains("ExistingRDD"), s"fast path hit the RDD boundary:\n$plan")
    assert(q.as[Long].collect().toSet ==
      (251L until 300L).filter(_ % 3 == 1).toSet)
  }

  test("versionAsOf / timestampAsOf options time-travel the read") {
    val dir = fresh()
    df(0, 100).write.format("graft-lake").save(dir)
    val v1 = CommitLog.latest(spark, dir).get
    df(100, 150).write.format("graft-lake").mode(SaveMode.Append).save(dir)
    assert(spark.read.format("graft-lake")
      .option("versionAsOf", v1.version.toString).load(dir)
      .count() == 100L)
    assert(spark.read.format("graft-lake")
      .option("timestampAsOf", v1.committedAt.toString).load(dir)
      .count() == 100L)
    assert(spark.read.format("graft-lake").load(dir).count() == 150L)
  }

  test("write modes: append adds, overwrite replaces, ErrorIfExists " +
    "throws, Ignore is a no-op on an existing table") {
    val dir = fresh()
    df(0, 100).write.format("graft-lake").partitionBy("pd").save(dir)
    df(100, 150).write.format("graft-lake").mode(SaveMode.Append).save(dir)
    assert(spark.read.format("graft-lake").load(dir).count() == 150L)
    df(0, 10).write.format("graft-lake").mode(SaveMode.Ignore).save(dir)
    assert(spark.read.format("graft-lake").load(dir).count() == 150L)
    intercept[IllegalStateException](
      df(0, 10).write.format("graft-lake").save(dir))
    df(0, 10).write.format("graft-lake").mode(SaveMode.Overwrite).save(dir)
    assert(spark.read.format("graft-lake").load(dir)
      .select($"k").as[Long].collect().toSet == (0L until 10L).toSet)
    // a partitionBy conflicting with the committed layout fails loudly
    intercept[IllegalArgumentException](
      df(0, 10).write.format("graft-lake").partitionBy("v")
        .mode(SaveMode.Append).save(dir))
  }

  test("outstanding deletion vectors fall back to the exact path; " +
    "compaction returns the table to the file scan") {
    val dir = fresh()
    df(0, 300).write.format("graft-lake").partitionBy("pd").save(dir)
    CommitLog.deleteVectors(spark, dir, col("k") % 10 === 3L)
    val got = spark.read.format("graft-lake").load(dir)
    assert(got.filter($"k" % 10 === 3L).count() == 0L)
    assert(got.count() == 270L)
    // pruning still reaches the inner scan through the V1 boundary
    assert(got.select($"v").columns.toSeq == Seq("v"))
    CommitLog.compact(spark, dir, 2)
    val fast = spark.read.format("graft-lake").load(dir)
    assert(fast.count() == 270L)
    assert(fast.queryExecution.executedPlan.toString.contains("FileScan"),
      "compacted table should return to the file-scan fast path")
  }

  test("renamed columns fall back to the exact aliasing path") {
    val dir = fresh()
    df(0, 50).write.format("graft-lake").save(dir)
    CommitLog.renameColumn(spark, dir, "v", "val7")
    val got = spark.read.format("graft-lake").load(dir)
    assert(got.columns.contains("val7") && !got.columns.contains("v"))
    assert(got.filter($"val7" === 3L).count() == df(0, 50)
      .filter($"v" === 3L).count())
  }

  test("overwrite options: replaceWhere is one atomic predicate-scoped " +
    "swap; partitionOverwriteMode=dynamic replaces only touched " +
    "partitions") {
    val dir = fresh()
    df(0, 300).write.format("graft-lake").partitionBy("pd").save(dir)
    // replaceWhere: rows under the predicate swap for the incoming set
    Seq((1000L, 0L, "d0"), (1001L, 1L, "d0"))
      .toDF("k", "v", "pd")
      .write.format("graft-lake").mode(SaveMode.Overwrite)
      .option("replaceWhere", "pd = 'd0'").save(dir)
    val afterRw = spark.read.format("graft-lake").load(dir)
    assert(afterRw.filter($"pd" === "d0").select($"k").as[Long]
      .collect().toSet == Set(1000L, 1001L))
    assert(afterRw.filter($"pd" =!= "d0").count() == 200L) // untouched
    // dynamic partition overwrite: only d1 (the touched partition)
    // replaces; d0 and d2 keep their rows
    Seq((2000L, 0L, "d1")).toDF("k", "v", "pd")
      .write.format("graft-lake").mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic").save(dir)
    val afterDyn = spark.read.format("graft-lake").load(dir)
    assert(afterDyn.filter($"pd" === "d1").select($"k").as[Long]
      .collect().toSet == Set(2000L))
    assert(afterDyn.filter($"pd" === "d0").count() == 2L)
    assert(afterDyn.filter($"pd" === "d2").count() == 100L)
  }

  test("batch change-data-feed read: readChangeFeed + version range " +
    "labels the range's churn") {
    val dir = fresh()
    df(0, 100).write.format("graft-lake").partitionBy("pd").save(dir)
    val v1 = CommitLog.latest(spark, dir).get.version
    CommitLog.upsert(spark,
      Seq((5L, 99L, "d2")).toDF("k", "v", "pd"), dir, Seq("k"), "pd")
    CommitLog.delete(spark, dir, col("k") === 7L)
    val feed = spark.read.format("graft-lake")
      .option("readChangeFeed", "true")
      .option("startingVersion", v1.toString)
      .option("keyColumns", "k").load(dir)
    val types = feed.groupBy($"_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(types.get("delete").contains(1L))
    assert(types.get("update_postimage").contains(1L))
    assert(feed.filter($"_change_type" === "update_postimage")
      .select($"v").as[Long].head() == 99L)
    // column pruning through the exact-path relation
    assert(feed.select($"k").columns.toSeq == Seq("k"))
  }

  test("CDF read at the cursor head (startingVersion = latest) returns " +
    "an EMPTY shaped feed, not an error — the incremental poller's " +
    "steady state") {
    val dir = fresh()
    df(0, 50).write.format("graft-lake").partitionBy("pd").save(dir)
    val head = CommitLog.latest(spark, dir).get.version
    val feed = spark.read.format("graft-lake")
      .option("readChangeFeed", "true")
      .option("startingVersion", head.toString)
      .option("keyColumns", "k").load(dir)
    assert(feed.count() == 0L)
    assert(feed.columns.contains("_change_type") &&
      feed.columns.contains("k"))
  }

  test("declared schema order differing from the partition NESTING " +
    "order still attributes partition values correctly on the fast path") {
    val dir = fresh()
    // declared (a, p2, p1) but nested p1=/p2= — the two orders differ
    CommitLog.create(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("p2",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("p1",
          org.apache.spark.sql.types.StringType))),
      partCols = Seq("p1", "p2"))
    CommitLog.append(spark,
      Seq((1L, "two", "one")).toDF("a", "p2", "p1"), dir)
    val got = spark.read.format("graft-lake").load(dir)
      .select($"a", $"p1", $"p2").as[(Long, String, String)]
      .collect().toSet
    assert(got == Set((1L, "one", "two")),
      s"partition values misattributed: $got")
  }

  test("append rejects overwrite-scoped options loudly") {
    val dir = fresh()
    df(0, 10).write.format("graft-lake").save(dir)
    val e = intercept[IllegalArgumentException](
      df(10, 20).write.format("graft-lake")
        .mode(SaveMode.Append).option("replaceWhere", "k < 5").save(dir))
    assert(e.getMessage.contains("Overwrite-mode"))
  }

  test("idempotent appends: a replayed (txnAppId, txnVersion) is a " +
    "no-op; a higher version applies") {
    val dir = fresh()
    df(0, 10).write.format("graft-lake").save(dir)
    def put(lo: Long, hi: Long, v: Long): Unit =
      df(lo, hi).write.format("graft-lake").mode(SaveMode.Append)
        .option("txnAppId", "etl-a").option("txnVersion", v.toString)
        .save(dir)
    put(10, 20, 1L)
    put(10, 20, 1L) // the manual retry: replayed, must not duplicate
    assert(spark.read.format("graft-lake").load(dir).count() == 20L)
    put(20, 30, 2L)
    put(10, 20, 1L) // a LATE replay below the high-water mark: no-op
    assert(spark.read.format("graft-lake").load(dir).count() == 30L)
    // a different app's ledger is independent
    df(30, 35).write.format("graft-lake").mode(SaveMode.Append)
      .option("txnAppId", "etl-b").option("txnVersion", "1")
      .save(dir)
    assert(spark.read.format("graft-lake").load(dir).count() == 35L)
    intercept[IllegalArgumentException](
      df(0, 5).write.format("graft-lake").mode(SaveMode.Append)
        .option("txnAppId", "etl-a").save(dir))
  }

  test("idempotency holds for the CREATING write: the txn identity " +
    "rides the init commit, so a post-create replay is a no-op") {
    val dir = fresh()
    def put(): Unit = df(0, 10).write.format("graft-lake")
      .mode(SaveMode.Append)
      .option("txnAppId", "boot").option("txnVersion", "1").save(dir)
    put() // creates the table
    assert(CommitLog.latest(spark, dir).get.props
      .get("graft.txn.boot").contains("1"),
      "the creating write did not record its txn identity")
    put() // the driver-crashed-after-init replay
    assert(spark.read.format("graft-lake").load(dir).count() == 10L)
  }

  test("replaceWhere rejects incoming rows outside the predicate " +
    "(Delta's constraint) instead of silently inserting them") {
    val dir = fresh()
    df(0, 30).write.format("graft-lake").partitionBy("pd").save(dir)
    val e = intercept[IllegalArgumentException](
      df(0, 30).write.format("graft-lake").mode(SaveMode.Overwrite)
        .option("replaceWhere", "pd = 'd0'").save(dir)) // carries d1/d2
    assert(e.getMessage.contains("must satisfy the predicate"))
    assert(spark.read.format("graft-lake").load(dir).count() == 30L)
  }

  test("empty and non-empty CDF polls return the same column order, " +
    "even when a partition column is declared first") {
    val dir = fresh()
    CommitLog.create(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pd",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))),
      partCols = Seq("pd"))
    val v1 = CommitLog.latest(spark, dir).get.version
    CommitLog.append(spark, Seq(("d0", 1L)).toDF("pd", "k"), dir)
    def feed(from: Long) = spark.read.format("graft-lake")
      .option("readChangeFeed", "true")
      .option("startingVersion", from.toString)
      .option("keyColumns", "k").load(dir)
    val nonEmpty = feed(v1)
    val empty = feed(CommitLog.latest(spark, dir).get.version)
    assert(nonEmpty.count() == 1L && empty.count() == 0L)
    assert(empty.columns.toSeq == nonEmpty.columns.toSeq,
      s"schema flipped between polls: ${empty.columns.toSeq} vs " +
        s"${nonEmpty.columns.toSeq}")
  }

  test("vacuum dry run reports without deleting") {
    val dir = fresh()
    df(0, 100).write.format("graft-lake").partitionBy("pd").save(dir)
    df(0, 10).write.format("graft-lake").mode(SaveMode.Overwrite).save(dir)
    val would = spark.sql(s"CALL graft_vacuum_dry_run('$dir', 1, -1)")
      .head().getLong(0)
    assert(would > 0L)
    // nothing moved: the pre-overwrite version still reads
    assert(CommitLog.readAt(spark, dir, 1L).count() == 100L)
    // the real vacuum then reclaims exactly that report
    val dropped = CommitLog.vacuum(spark, dir, 1, staleStagingMs = -1L)
    assert(dropped.size.toLong == would)
  }

  test("a branch target reads its own state through format()") {
    val dir = fresh()
    df(0, 100).write.format("graft-lake").partitionBy("pd").save(dir)
    CommitLog.createBranch(spark, dir, "dev")
    df(100, 120).write.format("graft-lake").mode(SaveMode.Append)
      .save(s"$dir@dev")
    assert(spark.read.format("graft-lake").load(s"$dir@dev")
      .count() == 120L)
    assert(spark.read.format("graft-lake").load(dir).count() == 100L)
  }

  test("fallback path prunes FILES: partition conjuncts select only the " +
    "matching partitions' files, zone-map conjuncts cut by the " +
    "committed manifest, and results stay exact through the DV") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
    val dir = fresh()
    // k clustered into file ranges (repartitionByRange) under pd=k/100,
    // stats declared on k so the manifest carries per-file zone maps
    spark.range(0, 300).select($"id".as("k"), ($"id" % 7).as("v"),
      concat(lit("d"), ($"id" / 100).cast("long")).as("pd"))
      .repartitionByRange(3, $"k")
      .write.partitionBy("pd").parquet(dir)
    CommitLog.init(spark, dir, Seq("k"))
    CommitLog.deleteVectors(spark, dir, $"k" === 5L) // forces fallback
    val s = CommitLog.latest(spark, dir).get
    assert(s.dvs.nonEmpty)
    // partition pruning: pd = 'd1' keeps only pd=d1 files
    val sel = CommitLog.selectFilesForFilters(spark, dir, s,
      Seq(EqualTo("pd", "d1")))
    assert(sel.nonEmpty && sel.forall(_.startsWith("pd=d1/")),
      s"partition selection leaked: $sel")
    assert(sel.size < s.files.size, "selection must actually prune")
    // zone-map pruning: k >= 250 keeps strictly fewer files
    val sel2 = CommitLog.selectFilesForFilters(spark, dir, s,
      Seq(GreaterThanOrEqual("k", 250L)))
    assert(sel2.size < s.files.size,
      s"zone maps pruned nothing: ${sel2.size} of ${s.files.size}")
    // end-to-end: the filtered read is exact, the filter reaches the
    // relation (PushedFilters on the V1 scan), the DV'd row stays gone
    val q = spark.read.format("graft-lake").load(dir)
      .filter($"pd" === "d1" && $"k" >= 150L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"),
      s"fallback scan advertises no pushdown:\n$plan")
    assert(q.select($"k").as[Long].collect().toSet ==
      (150L until 200L).toSet)
    assert(spark.read.format("graft-lake").load(dir).count() == 299L)
    assert(spark.read.format("graft-lake").load(dir)
      .filter($"k" < 10L).count() == 9L) // DV'd k=5 absent in-range too
  }

  test("fallback path prunes by BLOOM filters: an equality conjunct on " +
    "a declared bloom column opens only the possible files") {
    import org.apache.spark.sql.sources.EqualTo
    val dir = fresh()
    // k range-clustered so each file's bloom holds a distinct slice;
    // blooms declared, NO zone maps — the pruning below is bloom's alone
    spark.range(0, 3000).select($"id".as("k"), ($"id" % 7).as("v"))
      .repartitionByRange(6, $"k")
      .write.parquet(dir)
    CommitLog.init(spark, dir, bloomCols = Seq("k"), bloomExpect = 1000L)
    CommitLog.deleteVectors(spark, dir, $"k" === 5L) // forces fallback
    val s = CommitLog.latest(spark, dir).get
    val sel = CommitLog.selectFilesForFilters(spark, dir, s,
      Seq(EqualTo("k", 1234L)))
    assert(sel.size < s.files.size,
      s"bloom pruned nothing: ${sel.size} of ${s.files.size}")
    // exactness: the filtered read finds the row, the DV'd one is gone
    val got = spark.read.format("graft-lake").load(dir)
      .filter($"k" === 1234L).select($"v").as[Long].collect().toSeq
    assert(got == Seq(1234L % 7))
    assert(spark.read.format("graft-lake").load(dir)
      .filter($"k" === 5L).count() == 0L)
  }

  test("fallback path reports real statistics: a small DV-carrying " +
    "lake table still BROADCASTS in a join") {
    val dir = fresh()
    df(0, 50).write.format("graft-lake").save(dir)
    CommitLog.deleteVectors(spark, dir, $"k" === 1L)
    val small = spark.read.format("graft-lake").load(dir)
    val big = spark.range(0, 10000)
      .select($"id".as("k"), ($"id" * 2).as("x"))
    val j = big.join(small, "k")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small lake side did not broadcast on the fallback path:\n$plan")
    assert(j.count() == 49L)
  }

  /** 64 files, one contiguous 1000-id slice each, zone maps on `id`. */
  private def sixtyFourFiles(): String = {
    val dir = fresh()
    spark.range(0, 64000, 1, 64).select($"id", ($"id" % 7).as("v"))
      .write.parquet(dir)
    CommitLog.init(spark, dir, statsCols = Seq("id"))
    assert(CommitLog.latest(spark, dir).get.files.size == 64)
    dir
  }

  private def fileScans(q: org.apache.spark.sql.DataFrame) =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(q.queryExecution.executedPlan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }

  test("a point filter through spark.read opens ONE of 64 files: the " +
    "scan node's numFiles metric counts the snapshot index's selection") {
    val dir = sixtyFourFiles()
    val q = spark.read.format("graft-lake").load(dir).filter($"id" === 12345L)
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((12345L, 12345L % 7)))
    val scans = fileScans(q)
    assert(scans.size == 1, s"expected one file scan:\n${q.queryExecution.executedPlan}")
    assert(scans.head.metrics("numFiles").value == 1L,
      s"zone maps did not prune in the scan node: " +
        s"${scans.head.metrics("numFiles").value} of 64 files")
  }

  test("planning a pruned read launches no Spark job: no listing job, " +
    "the manifest is read on the driver") {
    val dir = sixtyFourFiles()
    var read = -1
    val jobs = TestSpark.countJobs {
      val q = spark.read.format("graft-lake").load(dir)
        .filter($"id" === 42000L)
      read = SnapshotFileIndex.filesScanned(q)
    }
    assert(read == 1, s"planned scan selected $read of 64 files")
    assert(jobs == 0, s"planning launched $jobs Spark job(s)")
  }

  test("a committed data file deleted out of band fails the read " +
    "loudly instead of returning fewer rows") {
    val dir = fresh()
    df(0, 300).write.format("graft-lake").partitionBy("pd").save(dir)
    val victim = CommitLog.latest(spark, dir).get.files.head
    Files.delete(java.nio.file.Paths.get(s"$dir/$victim"))
    val e = intercept[java.io.FileNotFoundException](
      spark.read.format("graft-lake").load(dir).count())
    assert(e.getMessage.contains(victim), e.getMessage)
    intercept[java.io.FileNotFoundException](
      CommitLog.read(spark, dir).count())
  }

  test("outstanding deletion vectors: the same rows with and without " +
    "a pruning filter, and the filter still prunes files") {
    val dir = fresh()
    spark.range(0, 6000, 1, 6).select($"id".as("k"), ($"id" % 7).as("v"))
      .write.parquet(dir)
    CommitLog.init(spark, dir, statsCols = Seq("k"))
    CommitLog.deleteVectors(spark, dir, $"k" % 10 === 3L)
    def inBox(k: Long) = k >= 2500L && k < 3500L
    val all = spark.read.format("graft-lake").load(dir)
      .select($"k", $"v").as[(Long, Long)].collect()
    assert(all.length == 5400)
    val want = all.filter(r => inBox(r._1)).toSet
    assert(want.size == 900)
    val viaProvider = spark.read.format("graft-lake").load(dir)
      .filter($"k" >= 2500L && $"k" < 3500L)
      .select($"k", $"v").as[(Long, Long)].collect().toSet
    assert(viaProvider == want)
    val (viaVerb, (read, total)) = CommitLog.scanRange(spark, dir, "k",
      2500L, 3499L)
    assert(viaVerb.select($"k", $"v").as[(Long, Long)].collect().toSet == want)
    assert(total == 6 && read == 2,
      s"zone maps should keep the 2 overlapping files: $read/$total")
  }
}
