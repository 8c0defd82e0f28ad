package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LakeMaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("compact collapses small files, preserves rows, swaps atomically") {
    val dir = Files.createTempDirectory("compact").toString + "/t"
    // 10 appends of 100 rows → many small files
    (0 until 10).foreach { i =>
      (i * 100 until (i + 1) * 100).toDF("v")
        .repartition(4).write.mode("append").parquet(dir)
    }
    val stats = LakeMaintenance.compact(spark, dir, targetPartitions = 2)
    assert(stats.rows == 1000)
    assert(stats.filesBefore >= 20 && stats.filesAfter <= 2,
      s"unexpected compaction: $stats")
    val back = spark.read.parquet(dir)
    assert(back.count() == 1000)
    assert(back.agg(org.apache.spark.sql.functions.sum($"v")).as[Long].head() ==
      (0 until 1000).sum.toLong)
    assert(!new java.io.File(dir + "__old").exists())
    assert(!new java.io.File(dir + "__compacting").exists())
  }

  test("compact preserves hive partition layout and the commit-ledger sidecar") {
    import org.apache.spark.sql.functions._
    val lake = Files.createTempDirectory("compact-part").toString + "/lake"
    // 5 fragmented appends across 2 partitions → ≥10 small files
    (0 until 5).foreach { i =>
      Seq((i, "d1", s"a$i"), (i + 100, "d2", s"b$i")).toDF("id", "day", "v")
        .repartition(3).write.partitionBy("day").mode("append").parquet(lake)
    }
    // a `_`-prefixed commit-ledger sidecar (one marker file per batch)
    val ledger = new java.io.File(s"$lake/_graft_commits")
    assert(ledger.mkdirs() && new java.io.File(ledger, "7").createNewFile())

    val stats = LakeMaintenance.compact(spark, lake, targetPartitions = 2)
    assert(stats.rows == 10)
    // layout survived: partition dirs, one file per partition value
    assert(new java.io.File(s"$lake/day=d1").isDirectory)
    assert(new java.io.File(s"$lake/day=d2").isDirectory)
    val perPart = spark.read.parquet(lake)
      .select($"day", input_file_name().as("f")).distinct()
      .groupBy($"day").agg(count(lit(1)).as("nf"))
      .as[(String, Long)].collect().toMap
    assert(perPart == Map("d1" -> 1L, "d2" -> 1L), s"files per partition: $perPart")
    // the ledger survived — a replayed micro-batch must still see marker 7
    assert(new java.io.File(s"$lake/_graft_commits/7").exists(),
      "commit ledger lost in compaction: replays would re-apply")
  }

  test("compact refreshes the zone-map manifest (no silent permanent fallback)") {
    val dir = Files.createTempDirectory("compact-manifest").toString + "/t"
    (0 until 4).foreach { i =>
      spark.range(i * 250, (i + 1) * 250).select($"id".as("v"))
        .repartition(3).write.mode("append").parquet(dir)
    }
    DataSkipping.buildManifest(spark, dir, Seq("v"))
    LakeMaintenance.compact(spark, dir, targetPartitions = 2)
    // a fresh manifest answers an out-of-range probe with ZERO files;
    // a stale one (compaction replaced every file) would fall back and
    // open everything — permanently, until a manual rebuild
    val (_, (probeRead, probeTotal)) =
      DataSkipping.scanRange(spark, dir, "v", 50000L, 60000L)
    assert(probeTotal > 0 && probeRead == 0,
      s"manifest stale after compact: opened $probeRead/$probeTotal")
    val (df, (_, total)) = DataSkipping.scanRange(spark, dir, "v", 0L, 249L)
    assert(total <= 2, s"compaction left $total files")
    assert(df.count() == 250L)
  }

  test("compact rejects a bucketed table's directory loudly") {
    import graft.tables.Tables
    val dir = Files.createTempDirectory("bucketed-reject").toString
    BucketedLake.writeBucketed(
      Tables.nation(spark, "/root/testdata/sf0.001"),
      "reject_nation", s"$dir/n", "n_nationkey", 4)
    try {
      val e = intercept[IllegalArgumentException] {
        LakeMaintenance.compact(spark, s"$dir/n", targetPartitions = 1)
      }
      assert(e.getMessage.contains("compactBucketed"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS reject_nation")
  }

  test("compactBucketed collapses files AND the co-located join stays shuffle-free") {
    import org.apache.spark.sql.functions._
    import graft.tables.Tables
    val dir = Files.createTempDirectory("bucketed-compact").toString
    val sf = "/root/testdata/sf0.001"
    // fragment the write: 8 tasks × 8 buckets → up to 64 files per table
    BucketedLake.writeBucketed(
      Tables.lineitem(spark, sf).repartition(8), "c_lineitem", s"$dir/li",
      "l_orderkey", 8)
    BucketedLake.writeBucketed(
      Tables.orders(spark, sf).repartition(8), "c_orders", s"$dir/o",
      "o_orderkey", 8)
    DataSkipping.buildManifest(spark, s"$dir/li", Seq("l_orderkey"))
    try {
      val stats = LakeMaintenance.compactBucketed(spark, "c_lineitem")
      assert(stats.rows == 6000L, s"rows drifted: $stats")
      assert(stats.filesAfter <= 8 && stats.filesAfter < stats.filesBefore,
        s"expected ≤1 file per bucket: $stats")
      // the zone-map manifest rode the swap and was refreshed: an
      // out-of-range probe opens zero files instead of falling back
      val (_, (probeRead, probeTotal)) = DataSkipping.scanRange(
        spark, s"$dir/li", "l_orderkey", 50000000L, 60000000L)
      assert(probeTotal > 0 && probeRead == 0,
        s"manifest stale after compactBucketed: $probeRead/$probeTotal")
      // location must not have moved; no staging residue
      assert(!new java.io.File(s"$dir/li__old").exists())
      assert(!new java.io.File(s"$dir/li__compacting").exists())
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = BucketedLake.table(spark, "c_lineitem")
          .join(BucketedLake.table(spark, "c_orders"),
            col("l_orderkey") === col("o_orderkey"))
        assert(j.count() == 6000L)
        val joinSection = j.queryExecution.executedPlan.toString()
          .split("SortMergeJoin").last
        assert(!joinSection.contains("Exchange hashpartitioning"),
          "compaction destroyed the co-located join")
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    } finally {
      spark.sql("DROP TABLE IF EXISTS c_lineitem")
      spark.sql("DROP TABLE IF EXISTS c_orders")
    }
  }

  test("training shards: disjoint contiguous id ranges, sorted within shard") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("shards").toString + "/corpus"
    val docs = (0L until 997L).map(i => (i * 7 % 1000, s"doc$i")).toDF("id", "text")
    LakeMaintenance.writeTrainingShards(docs, "id", nShards = 4, dir = dir)
    val files = spark.read.parquet(dir)
      .select(input_file_name().as("f"), $"id")
    // every row lands somewhere, 4 shards, ranges don't interleave
    assert(files.count() == 997)
    val ranges = files.groupBy($"f")
      .agg(min($"id").as("lo"), max($"id").as("hi"))
      .select($"lo", $"hi").as[(Long, Long)].collect().sortBy(_._1)
    assert(ranges.length == 4)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2, "shard ranges overlap")
      case _ =>
    }
  }

  test("vacuum's DISTRIBUTED delete path (≥256 dead files) reclaims " +
    "everything the dry run promised") {
    val dir = Files.createTempDirectory("vac_dist").toString + "/lake"
    spark.range(0, 3000).toDF("v")
      .repartition(300).write.parquet(dir)
    CommitLog.init(spark, dir)
    CommitLog.overwrite(spark,
      spark.range(0, 10).toDF("v").coalesce(1), dir, Nil)
    val promised = CommitLog.vacuum(spark, dir, keepLast = 1,
      staleStagingMs = -1L, dryRun = true)
    assert(promised.size >= 256,
      s"fixture must cross the distributed threshold: ${promised.size}")
    val dropped = CommitLog.vacuum(spark, dir, keepLast = 1,
      staleStagingMs = -1L)
    assert(dropped.toSet == promised.toSet)
    promised.foreach { r =>
      assert(!new java.io.File(s"$dir/$r").exists(), s"$r survived")
    }
    assert(CommitLog.read(spark, dir).count() == 10L)
  }
}
