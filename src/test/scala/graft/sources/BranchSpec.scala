package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Zero-copy branches: an independent commit log over the SAME data
  * directory. The contract under test — branching moves no data,
  * branch and main commit through separate CAS domains without
  * conflicting, vacuum on either side never reclaims what the other
  * still references, pre-fork history stays time-travelable through
  * the branch, and fast-forward adopts the branch head only when the
  * main line has not diverged. */
class BranchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Partitioned table with stats on k (so branch commits exercise the
    * manifest path too). */
  private def freshLake(statsCols: Seq[String] = Seq("k")): String = {
    val dir = Files.createTempDirectory("graft_branch_").toString + "/lake"
    spark.range(0, 300)
      .select($"id".as("k"), ($"id" % 7).as("v"),
        concat(lit("d"), ($"id" / 100).cast("long")).as("pd"))
      .repartitionByRange(3, $"k")
      .write.partitionBy("pd").parquet(dir)
    CommitLog.init(spark, dir, statsCols)
    dir
  }

  private def dataFileCount(dir: String): Int = {
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = f.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    var n = 0
    while (it.hasNext) {
      val p = it.next().getPath.toUri.getPath
      if (p.endsWith(".parquet") && !p.contains("/_")) n += 1
    }
    n
  }

  private def rows(target: String): Set[(Long, Long)] =
    CommitLog.read(spark, target).select($"k", $"v")
      .as[(Long, Long)].collect().toSet

  test("createBranch is zero-copy and the branch reads the fork state") {
    val dir = freshLake()
    val before = dataFileCount(dir)
    CommitLog.createBranch(spark, dir, "dev")
    assert(dataFileCount(dir) == before, "branching moved data files")
    val t = CommitLog.branchTarget(dir, "dev")
    assert(rows(t) == rows(dir))
    assert(CommitLog.listBranches(spark, dir).map(_._1) == Seq("dev"))
  }

  test("branch and main are isolated: each side's commits are invisible " +
    "to the other, and their writers never conflict") {
    val dir = freshLake()
    CommitLog.createBranch(spark, dir, "dev")
    val t = CommitLog.branchTarget(dir, "dev")
    // interleaved writes on both sides — separate CAS domains, so no
    // rebase, no conflict
    CommitLog.append(spark,
      Seq((1000L, 1L, "d0")).toDF("k", "v", "pd"), t)
    CommitLog.append(spark,
      Seq((2000L, 2L, "d0")).toDF("k", "v", "pd"), dir)
    CommitLog.append(spark,
      Seq((1001L, 1L, "d1")).toDF("k", "v", "pd"), t)
    val main = rows(dir)
    val branch = rows(t)
    assert(main.contains((2000L, 2L)) && !main.contains((1000L, 1L)) &&
      !main.contains((1001L, 1L)))
    assert(branch.contains((1000L, 1L)) && branch.contains((1001L, 1L)) &&
      !branch.contains((2000L, 2L)))
  }

  test("branch DML: upsert + COW delete + MoR delete mutate only the " +
    "branch; compaction on the branch materializes its own vectors") {
    val dir = freshLake()
    CommitLog.createBranch(spark, dir, "dev")
    val t = CommitLog.branchTarget(dir, "dev")
    CommitLog.upsert(spark,
      Seq((10L, 99L, "d0")).toDF("k", "v", "pd"), t, Seq("k"), "pd")
    CommitLog.delete(spark, t, col("k") === 11L)
    CommitLog.deleteVectors(spark, t, col("k") === 12L)
    val branch = rows(t)
    assert(branch.contains((10L, 99L)))
    assert(!branch.exists(_._1 == 11L) && !branch.exists(_._1 == 12L))
    assert(branch.size == 298)
    // main never changed
    val main = rows(dir)
    assert(main.size == 300 && main.contains((10L, 3L)) &&
      main.exists(_._1 == 11L) && main.exists(_._1 == 12L))
    // compacting the BRANCH materializes its deletion vectors and
    // commits to the branch log only
    val mainV = CommitLog.latest(spark, dir).get.version
    CommitLog.compact(spark, t, 2)
    assert(CommitLog.latest(spark, t).get.dvs.isEmpty)
    assert(rows(t) == branch)
    assert(CommitLog.latest(spark, dir).get.version == mainV)
  }

  test("pre-fork history resolves through the branch: readAt, " +
    "versionAsOf, and a version-spanning changeFeed") {
    val dir = freshLake()
    val v1 = CommitLog.latest(spark, dir).get.version
    CommitLog.append(spark,
      Seq((500L, 5L, "d0")).toDF("k", "v", "pd"), dir)
    val forkV = CommitLog.latest(spark, dir).get.version
    CommitLog.createBranch(spark, dir, "dev")
    val t = CommitLog.branchTarget(dir, "dev")
    CommitLog.append(spark,
      Seq((600L, 6L, "d0")).toDF("k", "v", "pd"), t)
    // pre-fork version through the branch = main's history
    assert(CommitLog.readAt(spark, t, v1).count() == 300L)
    // AS OF a pre-fork commit stamp resolves through the branch
    val ts1 = CommitLog.snapshotAt(spark, dir, v1).committedAt
    assert(CommitLog.versionAsOf(spark, t, ts1) == v1)
    // a change range spanning the fork: main's append then the branch's
    val feed = CommitLog.changeFeed(spark, t, v1, forkV + 1, Seq("k"))
      .filter(col("_change_type") === "insert")
      .select($"k").as[Long].collect().toSet
    assert(feed == Set(500L, 600L))
    // a version the branch never had (newer than its head) is absent
    CommitLog.append(spark,
      Seq((700L, 7L, "d0")).toDF("k", "v", "pd"), dir)
    CommitLog.append(spark,
      Seq((701L, 7L, "d0")).toDF("k", "v", "pd"), dir)
    val mainHead = CommitLog.latest(spark, dir).get.version
    assert(mainHead > CommitLog.latest(spark, t).get.version)
    val e = intercept[IllegalArgumentException](
      CommitLog.snapshotAt(spark, t, mainHead))
    assert(e.getMessage.contains("does not exist"))
  }

  test("vacuum on the main line never reclaims files a branch still " +
    "reads — and vice versa") {
    val dir = freshLake()
    CommitLog.createBranch(spark, dir, "dev")
    val t = CommitLog.branchTarget(dir, "dev")
    val branchState = rows(t)
    // main rewrites everything: the fork files leave main's live set
    CommitLog.overwrite(spark,
      Seq((9000L, 9L, "d0")).toDF("k", "v", "pd"), dir)
    CommitLog.vacuum(spark, dir, keepLast = 1, staleStagingMs = -1L)
    assert(rows(t) == branchState,
      "main vacuum reclaimed files the branch references")
    assert(rows(dir) == Set((9000L, 9L)))
    // branch rewrites everything too, then vacuums: main's current
    // files (and its own fork references) must survive
    CommitLog.overwrite(spark,
      Seq((9100L, 91L, "d0")).toDF("k", "v", "pd"), t)
    CommitLog.vacuum(spark, t, keepLast = 1, staleStagingMs = -1L)
    assert(rows(dir) == Set((9000L, 9L)),
      "branch vacuum reclaimed the main line's files")
    assert(rows(t) == Set((9100L, 91L)))
  }

  test("fastForward adopts the branch head when main is at the fork, " +
    "rehomes branch-minted metadata, and the branch can then be dropped") {
    val dir = freshLake()
    CommitLog.createBranch(spark, dir, "dev")
    val t = CommitLog.branchTarget(dir, "dev")
    CommitLog.upsert(spark,
      Seq((10L, 99L, "d0")).toDF("k", "v", "pd"), t, Seq("k"), "pd")
    CommitLog.deleteVectors(spark, t, col("k") === 12L) // branch-minted DV
    val branchState = rows(t)
    val adopted = CommitLog.fastForward(spark, dir, "dev")
    assert(adopted.op == "fastForward")
    assert(rows(dir) == branchState)
    // rehomed: the adopted snapshot references nothing under the
    // branch's log dir, so dropping the branch is safe
    assert(!adopted.dvs.exists(_.startsWith("branches/")) &&
      !adopted.manifest.exists(_.startsWith("branches/")))
    CommitLog.dropBranch(spark, dir, "dev")
    assert(CommitLog.listBranches(spark, dir).isEmpty)
    assert(rows(dir) == branchState)
    // the rehomed metadata still answers after the drop: compaction
    // materializes the adopted deletion vectors (reading them from
    // their rehomed location), then the manifest serves stats
    CommitLog.compact(spark, dir, 2)
    assert(rows(dir) == branchState)
    assert(CommitLog.statsAggByPartition(spark, dir, Seq("k")).count() > 0)
  }

  test("fastForward fails loudly when the main line diverged") {
    val dir = freshLake()
    CommitLog.createBranch(spark, dir, "dev")
    val t = CommitLog.branchTarget(dir, "dev")
    CommitLog.append(spark, Seq((1L, 1L, "d0")).toDF("k", "v", "pd"), t)
    CommitLog.append(spark, Seq((2L, 2L, "d0")).toDF("k", "v", "pd"), dir)
    val e = intercept[CommitLog.DivergedException](
      CommitLog.fastForward(spark, dir, "dev"))
    assert(e.getMessage.contains("diverged"))
  }

  test("dropBranch + vacuum reclaims branch-only files; guards reject " +
    "branches of branches, init/create/tag on branch targets") {
    val dir = freshLake()
    CommitLog.createBranch(spark, dir, "dev")
    val t = CommitLog.branchTarget(dir, "dev")
    CommitLog.append(spark,
      Seq((1000L, 1L, "d0")).toDF("k", "v", "pd"), t)
    val before = dataFileCount(dir)
    CommitLog.dropBranch(spark, dir, "dev")
    val dropped = CommitLog.vacuum(spark, dir, keepLast = 10,
      staleStagingMs = -1L)
    assert(dropped.nonEmpty && dataFileCount(dir) < before,
      "the dropped branch's files were not reclaimed")
    assert(rows(dir).size == 300)
    // guards
    assert(intercept[IllegalArgumentException](
      CommitLog.createBranch(spark, t, "dev2")).getMessage
      .contains("branches of branches"))
    assert(intercept[IllegalArgumentException](
      CommitLog.init(spark, t)).getMessage.contains("branch target"))
    assert(intercept[IllegalArgumentException](
      LakeRefs.tag(spark, t, "x", 1L)).getMessage
      .contains("main-line"))
    assert(intercept[IllegalArgumentException](
      CommitLog.createBranch(spark, dir, "bad name")).getMessage
      .contains("branch name"))
  }

  test("two racing creators of the same branch resolve to one winner") {
    val dir = freshLake()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempts = Seq(
      Future(try { CommitLog.createBranch(spark, dir, "race"); 1 }
        catch { case _: IllegalStateException => 0 }),
      Future(try { CommitLog.createBranch(spark, dir, "race"); 1 }
        catch { case _: IllegalStateException => 0 }))
    val won = Await.result(Future.sequence(attempts), 2.minutes).sum
    assert(won >= 1, "no creator won")
    assert(CommitLog.listBranches(spark, dir).map(_._1) == Seq("race"))
    // regardless of how the race interleaved, the branch is readable
    assert(rows(CommitLog.branchTarget(dir, "race")).size == 300)
  }

  test("Lake API + SQL surface: branch/onBranch/fastForward, " +
    "CALL graft_branch, and the graft_lake TVF on a branch target") {
    val dir = freshLake()
    val lake = graft.api.Graft.lake(spark, dir)
    val dev = lake.branch("dev")
    dev.append(Seq((5000L, 5L, "d0")).toDF("k", "v", "pd"))
    assert(lake.read.count() == 300L && dev.read.count() == 301L)
    assert(lake.branches.map(_._1) == Seq("dev"))
    lake.fastForward("dev")
    assert(lake.read.count() == 301L)
    lake.dropBranch("dev")
    // SQL: CALL verbs + the TVF addressing a branch target
    spark.sql(s"CALL graft_branch('$dir', 'sqlb')").collect()
    assert(spark.sql(s"SELECT * FROM graft_lake_branches('$dir')")
      .select($"branch").as[String].collect().toSeq == Seq("sqlb"))
    spark.sql(
      s"INSERT INTO graft_lake('$dir@sqlb') VALUES (6000, 6, 'd0')")
    assert(spark.sql(s"SELECT count(*) c FROM graft_lake('$dir@sqlb')")
      .head().getLong(0) == 302L)
    assert(spark.sql(s"SELECT count(*) c FROM graft_lake('$dir')")
      .head().getLong(0) == 301L)
    assert(spark.sql(s"CALL graft_branch_ff('$dir', 'sqlb')")
      .head().getLong(0) > 0L)
    assert(spark.sql(s"SELECT count(*) c FROM graft_lake('$dir')")
      .head().getLong(0) == 302L)
    spark.sql(s"CALL graft_branch_drop('$dir', 'sqlb')").collect()
    assert(graft.api.Graft.lake(spark, dir).branches.isEmpty)
  }

  test("after a branch vacuum drops the seed, the branch's OWN vacuumed " +
    "versions fail loudly instead of silently resolving to main-line " +
    "history; pre-fork versions still resolve") {
    val dir = freshLake() // main v1
    CommitLog.append(spark,
      Seq((500L, 5L, "d0")).toDF("k", "v", "pd"), dir) // main v2 = fork
    CommitLog.createBranch(spark, dir, "dev")
    val t = CommitLog.branchTarget(dir, "dev")
    (0 until 3).foreach(i => CommitLog.append(spark,
      Seq((600L + i, 6L, "d0")).toDF("k", "v", "pd"), t)) // branch v3..v5
    // main advances too: its v3 holds DIFFERENT data than branch v3
    CommitLog.append(spark,
      Seq((9999L, 9L, "d0")).toDF("k", "v", "pd"), dir)
    CommitLog.vacuum(spark, t, keepLast = 1, staleStagingMs = -1L)
    // branch v3 was vacuumed; main's v3 file exists — resolving it
    // there would silently serve another history's data
    val e = intercept[IllegalArgumentException](
      CommitLog.snapshotAt(spark, t, 3L))
    assert(e.getMessage.contains("vacuumed"))
    intercept[IllegalArgumentException](CommitLog.readAt(spark, t, 4L))
    // at or below the fork the main log IS the branch's history
    assert(CommitLog.readAt(spark, t, 1L).count() == 300L)
    assert(CommitLog.readAt(spark, t, 2L).count() == 301L)
    // the head still reads
    assert(rows(t).size == 304)
  }

  test("the row-level CDC stream source follows a BRANCH's changes only") {
    val dir = freshLake()
    CommitLog.createBranch(spark, dir, "cdc")
    val t = CommitLog.branchTarget(dir, "cdc")
    val base = CommitLog.latest(spark, t).get.version
    CommitLog.upsert(spark,
      Seq((10L, 99L, "d0")).toDF("k", "v", "pd"), t, Seq("k"), "pd")
    CommitLog.append(spark, // main-line churn: NOT branch history
      Seq((7777L, 7L, "d0")).toDF("k", "v", "pd"), dir)
    val out = Files.createTempDirectory("graft_branch_cdc_").toString
    val q = spark.readStream.format("graft-lake")
      .option("readChangeFeed", "true")
      .option("keyColumns", "k")
      .option("startingVersion", base.toString).load(t)
      .writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$out/data")
      .select($"k", $"_change_type").as[(Long, String)].collect().toSet
    assert(got.contains((10L, "update_postimage")) &&
      !got.exists(_._1 == 7777L),
      s"branch CDC followed the wrong history: $got")
  }

  test("fastForward adopts a branch head that was COMPACTED on the " +
    "branch — the rewritten files and rebuilt manifest travel") {
    val dir = freshLake()
    CommitLog.createBranch(spark, dir, "cmp")
    val t = CommitLog.branchTarget(dir, "cmp")
    CommitLog.deleteVectors(spark, t, col("k") === 5L)
    CommitLog.compact(spark, t, 2) // materializes the DV on the branch
    val branchState = rows(t)
    val adopted = CommitLog.fastForward(spark, dir, "cmp")
    assert(rows(dir) == branchState && adopted.dvs.isEmpty)
    CommitLog.dropBranch(spark, dir, "cmp")
    // main still reads, and its manifest (branch-minted, rehomed)
    // still answers
    assert(rows(dir) == branchState)
    assert(CommitLog.statsAggByPartition(spark, dir, Seq("k")).count() > 0)
  }

  test("a legacy branch (seed without marker) is still detected as " +
    "existing — no foreign seed interleaves into its history") {
    val dir = freshLake()
    CommitLog.append(spark, Seq((1L, 1L, "d0")).toDF("k", "v", "pd"), dir)
    CommitLog.createBranch(spark, dir, "old")
    // simulate a pre-marker-era log: the seed exists, the marker does not
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir,
      "_graft_log/branches/old/_branch"), false)
    // main advances so a new create would fork at a DIFFERENT version
    CommitLog.append(spark, Seq((2L, 2L, "d0")).toDF("k", "v", "pd"), dir)
    val before = CommitLog.latest(spark,
      CommitLog.branchTarget(dir, "old")).get.version
    val e = intercept[IllegalArgumentException](
      CommitLog.createBranch(spark, dir, "old"))
    assert(e.getMessage.contains("already exists"))
    assert(CommitLog.latest(spark,
      CommitLog.branchTarget(dir, "old")).get.version == before)
  }

  test("a seedless branch (creator crashed between marker and seed) is " +
    "reported and recoverable via dropBranch") {
    val dir = freshLake()
    CommitLog.createBranch(spark, dir, "ghost")
    val t = CommitLog.branchTarget(dir, "ghost")
    // simulate the crash: seed gone, marker left
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lp = new org.apache.hadoop.fs.Path(dir,
      "_graft_log/branches/ghost")
    f.listStatus(lp).filter(_.getPath.getName.endsWith(".json"))
      .foreach(st => f.delete(st.getPath, false))
    val e = intercept[IllegalArgumentException](
      CommitLog.createBranch(spark, dir, "ghost"))
    assert(e.getMessage.contains("seedless"))
    assert(CommitLog.listBranches(spark, dir).isEmpty) // unreadable = unlisted
    CommitLog.dropBranch(spark, dir, "ghost", force = true)
    CommitLog.createBranch(spark, dir, "ghost")
    assert(rows(t).size == 300)
  }

  test("randomized interleaving property: branch and main each equal " +
    "their own replayed expectation under mixed appends, deletes, " +
    "upserts, and vacuums") {
    for (seed <- Seq(11, 23, 37)) {
      val rnd = new scala.util.Random(seed)
      val dir = freshLake()
      CommitLog.createBranch(spark, dir, "p")
      val t = CommitLog.branchTarget(dir, "p")
      // model state per side: the expected (k -> v) map
      val exp = Map(dir -> scala.collection.mutable.Map[Long, Long](),
        t -> scala.collection.mutable.Map[Long, Long]())
      (0L until 300L).foreach(k => exp(dir)(k) = k % 7)
      (0L until 300L).foreach(k => exp(t)(k) = k % 7)
      var nextK = 1000L
      (1 to 12).foreach { _ =>
        val side = if (rnd.nextBoolean()) dir else t
        rnd.nextInt(4) match {
          case 0 => // append a fresh key
            val k = nextK; nextK += 1
            CommitLog.append(spark,
              Seq((k, k % 7, s"d${k / 100}")).toDF("k", "v", "pd"), side)
            exp(side)(k) = k % 7
          case 1 => // COW delete a key range
            val lo = rnd.nextInt(300).toLong
            CommitLog.delete(spark, side,
              col("k") >= lo && col("k") < lo + 20)
            (lo until lo + 20).foreach(exp(side).remove)
          case 2 => // keyed upsert
            val k = rnd.nextInt(300).toLong
            CommitLog.upsert(spark,
              Seq((k, 99L, s"d${k / 100}")).toDF("k", "v", "pd"),
              side, Seq("k"), "pd")
            exp(side)(k) = 99L
          case 3 => // vacuum under the other side's feet
            CommitLog.vacuum(spark, side, keepLast = 1,
              staleStagingMs = -1L)
        }
      }
      for (side <- Seq(dir, t))
        assert(rows(side) ==
          exp(side).map { case (k, v) => (k, v) }.toSet,
          s"seed $seed: $side diverged from its model")
    }
  }

  test("the native streaming sink writes into an EXISTING branch — " +
    "exactly-once on the branch's own ledger, main untouched") {
    val dir = freshLake()
    CommitLog.createBranch(spark, dir, "ing")
    val t = CommitLog.branchTarget(dir, "ing")
    val work = Files.createTempDirectory("graft_branch_sink2_").toString
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String)]
    src.addData((5000L, 5L, "d0"), (5001L, 5L, "d1"))
    val q = src.toDF().toDF("k", "v", "pd")
      .writeStream.format("graft-lake")
      .option("checkpointLocation", s"$work/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(t)
    q.awaitTermination(120000)
    assert(rows(t).contains((5000L, 5L)) && rows(t).size == 302)
    assert(rows(dir).size == 300)
  }

  test("a streaming table read subscribes to a branch and follows only " +
    "its commits") {
    val dir = freshLake()
    CommitLog.createBranch(spark, dir, "dev")
    val t = CommitLog.branchTarget(dir, "dev")
    val out = Files.createTempDirectory("graft_branch_sink_").toString
    val q = spark.readStream.format("graft-lake").load(t)
      .writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(s"$out/data").count() == 300L)
    // a main-line commit is NOT branch history; a branch commit is
    CommitLog.append(spark,
      Seq((1000L, 1L, "d0")).toDF("k", "v", "pd"), dir)
    CommitLog.append(spark,
      Seq((2000L, 2L, "d0")).toDF("k", "v", "pd"), t)
    val q2 = spark.readStream.format("graft-lake").load(t)
      .writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(120000)
    val got = spark.read.parquet(s"$out/data")
      .select($"k").as[Long].collect().toSet
    assert(got.contains(2000L) && !got.contains(1000L))
  }

  test("branch retention report names the stale branch and the bytes " +
    "only it retains") {
    val dir = freshLake()
    CommitLog.createBranch(spark, dir, "fresh")
    CommitLog.createBranch(spark, dir, "stale")
    // the stale branch rewrites d0 AND MoR-deletes a row: its
    // post-image files and its deletion vector are referenced by no
    // other log — exactly what dropBranch + vacuum would free
    CommitLog.upsert(spark,
      Seq((10L, 1L, "d0")).toDF("k", "v", "pd"),
      CommitLog.branchTarget(dir, "stale"), Seq("k"), "pd")
    CommitLog.deleteVectors(spark,
      CommitLog.branchTarget(dir, "stale"), col("k") === 120L)
    val rep = spark.sql(s"SELECT * FROM graft_lake_branch_report('$dir')")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    assert(rep.keySet == Set("fresh", "stale"))
    val (_, staleAge, staleFiles, staleBytes, staleLogFiles,
      staleLogBytes) = rep("stale")
    assert(staleFiles > 0L && staleBytes > 0L,
      s"stale branch's sole retention not reported: $rep")
    // the MoR vector (a parquet DIRECTORY under the branch's log) must
    // report real content bytes, not a directory inode size
    assert(staleLogFiles > 0L && staleLogBytes > 100L,
      s"stale branch's log artifacts not reported: $rep")
    assert(staleAge >= 0L)
    // the fresh branch (seed only — every reference shared with main)
    // retains nothing of its own
    assert(rep("fresh")._3 == 0L && rep("fresh")._4 == 0L,
      s"seed-only branch must retain no sole bytes: $rep")
    // and the reclaim actually happens: drop + vacuum frees ≥ the
    // reported bytes' files
    CommitLog.dropBranch(spark, dir, "stale")
    val dropped = CommitLog.vacuum(spark, dir, keepLast = 100,
      staleStagingMs = -1L)
    assert(dropped.size.toLong >= staleFiles,
      s"vacuum freed ${dropped.size}, report promised $staleFiles")
  }

  test("vacuum DRY-RUN surfaces each branch's sole-retained bytes at " +
    "the reclaim decision point — without knowing the report TVF exists") {
    val dir = freshLake()
    CommitLog.createBranch(spark, dir, "stale")
    // branch-only churn: a partition rewrite whose post-image only the
    // branch references — the bytes a dropBranch+vacuum would free
    CommitLog.upsert(spark,
      Seq((10L, 1L, "d0")).toDF("k", "v", "pd"),
      CommitLog.branchTarget(dir, "stale"), Seq("k"), "pd")
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    try {
      System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
      spark.sql(s"CALL graft_vacuum_dry_run('$dir', 100)").collect()
    } finally System.setErr(saved)
    val out = buf.toString("UTF-8")
    assert(out.contains("branch 'stale'"),
      s"dry-run must name the stale branch:\n$out")
    val line = out.linesIterator.find(_.contains("branch 'stale'")).get
    assert(line.contains("pins") && line.contains("only it retains"),
      s"dry-run line must carry the retention nudge: $line")
    // the pinned byte count is real (the rewritten d0 post-image)
    val bytes = "pins (\\d+) data files / (\\d+) bytes".r
      .findFirstMatchIn(line).map(m => (m.group(1).toLong, m.group(2).toLong))
    assert(bytes.exists { case (files, b) => files > 0L && b > 0L },
      s"dry-run must report non-zero sole-retained bytes: $line")
  }

  test("mergeBranch keeps the higher graft.txn.* entry of main and the " +
      "branch: a branch at 7 never lowers main's 10") {
    val dir = freshLake(Nil)
    def batch(k: Long, pd: String) = Seq((k, 0L, pd)).toDF("k", "v", "pd")
    CommitLog.append(spark, batch(1000L, "d0"), dir, txn = Some(("app", 6L)))
    CommitLog.createBranch(spark, dir, "dev")
    val t = CommitLog.branchTarget(dir, "dev")
    CommitLog.append(spark, batch(2000L, "d0"), t, txn = Some(("app", 7L)))
    (8L to 10L).foreach(b => CommitLog.append(spark, batch(3000L + b, "d2"),
      dir, txn = Some(("app", b))))
    CommitLog.mergeBranch(spark, dir, "dev")
    assert(CommitLog.latest(spark, dir).get.props.get("graft.txn.app")
      .contains("10"), "the merge lowered main's txn entry")
    val n = CommitLog.read(spark, dir).count()
    assert(n == 305L)
    CommitLog.append(spark, batch(3008L, "d2"), dir, txn = Some(("app", 8L)))
    assert(CommitLog.read(spark, dir).count() == n,
      "main's batch 8 re-applied after the merge")
  }
}
