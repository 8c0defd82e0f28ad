package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[CommitLog]]: a reader must see a complete pre- or post-commit
  * snapshot — never a torn mix — across upsert, compaction, and the
  * stats snapshot riding the commit; the single-writer contract must be
  * ENFORCED by the version-file CAS, not just documented.
  */
class CommitLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 3 partitions × disjoint id ranges, logged with stats on k. */
  private def freshLake(statsCols: Seq[String] = Seq("k")): String = {
    val dir = Files.createTempDirectory("graft_log_").toString + "/lake"
    spark.range(0, 3000)
      .select($"id".as("k"), ($"id" % 7).as("v"),
        concat(lit("d"), ($"id" / 1000).cast("long")).as("pd"))
      .repartitionByRange(6, $"k")
      .write.partitionBy("pd").parquet(dir)
    CommitLog.init(spark, dir, statsCols)
    dir
  }

  private def state(dir: String): Set[(Long, Long, String)] =
    CommitLog.read(spark, dir).select($"k", $"v", $"pd")
      .as[(Long, Long, String)].collect().toSet

  test("init + read round-trips; an uncommitted file is invisible") {
    val dir = freshLake()
    assert(CommitLog.read(spark, dir).count() == 3000L)
    // a crashed writer left a data file no version references — a torn
    // mix would surface its rows; the log must not see them
    spark.range(90000, 90100)
      .select($"id".as("k"), lit(0L).as("v"))
      .coalesce(1).write.mode("append").parquet(s"$dir/pd=d0")
    assert(CommitLog.read(spark, dir).count() == 3000L,
      "uncommitted file leaked into the snapshot")
  }

  test("upsert is copy-on-write: old version still readable, new merged") {
    val dir = freshLake()
    val v1 = CommitLog.latest(spark, dir).get
    val updates = spark.range(1000, 1100)
      .select($"id".as("k"), lit(99L).as("v"), lit("d1").as("pd"))
    val v2 = CommitLog.upsert(spark, updates, dir, Seq("k"), "pd")
    assert(v2.version == v1.version + 1)
    // post-state: merged
    val got = state(dir)
    assert(got.count(_._2 == 99L) == 100)
    assert(got.size == 3000)
    // pre-state: version 1 reads EXACTLY the original rows (no deletes)
    assert(CommitLog.readAt(spark, dir, v1.version)
      .filter($"v" === 99L).count() == 0L)
    assert(CommitLog.readAt(spark, dir, v1.version).count() == 3000L)
    // untouched partitions keep their exact files in the new snapshot
    val v1Files = v1.files.filterNot(_.startsWith("pd=d1/")).toSet
    assert(v1Files.subsetOf(v2.files.toSet), "untouched partition was rewritten")
    assert(v2.files.filter(_.startsWith("pd=d1/")).toSet
      .intersect(v1.files.toSet).isEmpty, "touched partition kept stale files")
  }

  test("a crashed writer's version file blocks the CAS loudly, log intact") {
    val dir = freshLake()
    val v1 = CommitLog.latest(spark, dir).get
    // a crashed writer left an unreadable version file squatting on the
    // next version number — our writer must exhaust its rebase retries
    // and fail WITHOUT overwriting the residue, reader state unchanged
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val racing = new org.apache.hadoop.fs.Path(
      s"$dir/_graft_log", f"v${v1.version + 1}%020d.json")
    val out = f.create(racing, false)
    out.write("""{"version":2,"files":["pd=""".getBytes("UTF-8")) // mid-crash
    out.close()
    val updates = Seq((1L, 555L, "d0")).toDF("k", "v", "pd")
    val staged = CommitLog.stageUpsert(spark, updates, dir, Seq("k"), "pd").get
    val e = intercept[IllegalStateException] {
      CommitLog.commitStaged(spark, dir, staged, maxRetries = 2)
    }
    assert(e.getMessage.contains("blocking the log"), e.getMessage)
    // the reader still sees the consistent PRE-state: full table, none
    // of the failed writer's rows
    assert(CommitLog.read(spark, dir).count() == 3000L)
    assert(CommitLog.read(spark, dir).filter($"v" === 555L).count() == 0L)
  }

  test("disjoint concurrent writers both commit: the loser rebases") {
    val dir = freshLake()
    val v1 = CommitLog.latest(spark, dir).get
    // writer A stages against v1 (files on disk, invisible) ...
    val ours = spark.range(2000, 2020)
      .select($"id".as("k"), lit(88L).as("v"), lit("d2").as("pd"))
    val staged = CommitLog.stageUpsert(spark, ours, dir, Seq("k"), "pd").get
    // ... then writer B wins the race to v2 on a DIFFERENT partition
    val theirs = spark.range(0, 10)
      .select($"id".as("k"), lit(77L).as("v"), lit("d0").as("pd"))
    val v2 = CommitLog.upsert(spark, theirs, dir, Seq("k"), "pd")
    assert(v2.version == v1.version + 1)
    // A's commit loses the CAS at v2, detects the disjoint partitions,
    // rebases on top of B, and lands as v3 — nobody's rows are lost
    val v3 = CommitLog.commitStaged(spark, dir, staged)
    assert(v3.version == v1.version + 2)
    val got = state(dir)
    assert(got.count(_._2 == 77L) == 10, "rebase dropped the winner's rows")
    assert(got.count(_._2 == 88L) == 20, "rebase lost the rebased writer's rows")
    assert(got.size == 3000)
    // and the intermediate version is exactly B-only (time travel)
    val atV2 = CommitLog.readAt(spark, dir, v2.version)
    assert(atV2.filter($"v" === 88L).count() == 0L)
    assert(atV2.filter($"v" === 77L).count() == 10L)
  }

  test("overlapping concurrent writers: the loser aborts loudly, log intact") {
    val dir = freshLake()
    val ours = spark.range(0, 20)
      .select($"id".as("k"), lit(88L).as("v"), lit("d0").as("pd"))
    val staged = CommitLog.stageUpsert(spark, ours, dir, Seq("k"), "pd").get
    // B commits to the SAME partition first — A's merge is now stale and
    // a rebase would silently drop B's rows; it must abort instead
    val theirs = spark.range(10, 30)
      .select($"id".as("k"), lit(77L).as("v"), lit("d0").as("pd"))
    CommitLog.upsert(spark, theirs, dir, Seq("k"), "pd")
    val e = intercept[IllegalStateException] {
      CommitLog.commitStaged(spark, dir, staged)
    }
    assert(e.getMessage.contains("conflict") && e.getMessage.contains("pd=d0"),
      e.getMessage)
    // B's commit is the visible state; A's staged rows never surface
    val got = state(dir)
    assert(got.count(_._2 == 77L) == 20 && got.count(_._2 == 88L) == 0)
    // and vacuum reclaims the abandoned staged files — with the age
    // fence dropped to zero (operator knows no writer is live); the
    // default fence would rightly keep these seconds-old files
    assert(CommitLog.vacuum(spark, dir, keepLast = 10,
        staleStagingMs = 0L).nonEmpty,
      "the aborted writer's staged files were not reclaimable")
    assert(state(dir) == got)
  }

  test("vacuum age fence: a staged-but-uncommitted upsert survives a " +
      "concurrent vacuum and still commits") {
    val dir = freshLake()
    val ours = spark.range(0, 20)
      .select($"id".as("k"), lit(99L).as("v"), lit("d0").as("pd"))
    val staged = CommitLog.stageUpsert(spark, ours, dir, Seq("k"), "pd").get
    // vacuum runs while the writer is in flight (staged, pre-CAS): the
    // default age fence must not reclaim its young published files
    CommitLog.vacuum(spark, dir, keepLast = 1)
    val snap = CommitLog.commitStaged(spark, dir, staged)
    assert(snap.version > 1L)
    val got = state(dir)
    assert(got.count(_._2 == 99L) == 20,
      "the vacuumed-over staged files lost rows — the fence failed")
    // the same residue, aged past the fence, IS reclaimed: simulate with
    // an explicit zero floor after abandoning a second stage
    val staged2 = CommitLog.stageUpsert(spark,
      spark.range(0, 5).select($"id".as("k"), lit(7L).as("v"),
        lit("d0").as("pd")), dir, Seq("k"), "pd").get
    assert(staged2.added.nonEmpty)
    assert(CommitLog.vacuum(spark, dir, keepLast = 1,
      staleStagingMs = 0L).nonEmpty)
    assert(state(dir) == got, "vacuum changed the visible table")
  }

  test("thread race: two writers on disjoint partitions both succeed") {
    val dir = freshLake()
    val v1 = CommitLog.latest(spark, dir).get
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Any]()
    def writer(name: String, lo: Long, v: Long, pd: String): Thread = {
      val t = new Thread(() => {
        try {
          val updates = spark.range(lo, lo + 10)
            .select($"id".as("k"), lit(v).as("v"), lit(pd).as("pd"))
          val staged =
            CommitLog.stageUpsert(spark, updates, dir, Seq("k"), "pd").get
          barrier.await() // both staged against v1 — now race the commit
          results.put(name, CommitLog.commitStaged(spark, dir, staged))
        } catch { case e: Throwable => results.put(name, e) }
      })
      t.start(); t
    }
    val a = writer("a", 0L, 101L, "d0")
    val b = writer("b", 2000L, 202L, "d2")
    a.join(120000); b.join(120000)
    Seq("a", "b").foreach { n =>
      results.get(n) match {
        case e: Throwable => fail(s"writer $n failed", e)
        case _ => ()
      }
    }
    val versions = Seq("a", "b")
      .map(n => results.get(n).asInstanceOf[CommitLog.Snapshot].version)
    assert(versions.toSet == Set(v1.version + 1, v1.version + 2),
      s"expected serialized versions, got $versions")
    val got = state(dir)
    assert(got.count(_._2 == 101L) == 10 && got.count(_._2 == 202L) == 10,
      "a racing writer's rows were lost")
    assert(got.size == 3000)
  }

  test("a batch id committed mid-flight turns the staged commit into a no-op") {
    val dir = freshLake()
    val ours = spark.range(0, 10)
      .select($"id".as("k"), lit(88L).as("v"), lit("d0").as("pd"))
    val staged = CommitLog.stageUpsert(spark, ours, dir, Seq("k"), "pd",
      txn = Some(("w", 9L))).get
    // another worker lands the SAME micro-batch (at-least-once delivery)
    val theirs = spark.range(0, 10)
      .select($"id".as("k"), lit(77L).as("v"), lit("d0").as("pd"))
    val v2 = CommitLog.upsert(spark, theirs, dir, Seq("k"), "pd",
      txn = Some(("w", 9L)))
    val after = CommitLog.commitStaged(spark, dir, staged)
    assert(after.version == v2.version, "replayed batch double-applied")
    assert(state(dir).count(_._2 == 77L) == 10)
    assert(state(dir).count(_._2 == 88L) == 0)
  }

  test("changesBetween feeds incremental consumers: data commits only") {
    val dir = freshLake()
    val v1 = CommitLog.latest(spark, dir).get
    // v2: upsert into pd=d1 (100 updated keys -> partition post-image)
    val up = spark.range(1000, 1100)
      .select($"id".as("k"), lit(99L).as("v"), lit("d1").as("pd"))
    val v2 = CommitLog.upsert(spark, up, dir, Seq("k"), "pd")
    // v3: compaction — republishes everything, changes NOTHING
    val v3 = CommitLog.compact(spark, dir, targetPartitions = 2)
    // v4: append-only commit into a brand-new partition
    val nw = spark.range(9000, 9050)
      .select($"id".as("k"), lit(5L).as("v"), lit("d9").as("pd"))
    val v4 = CommitLog.upsert(spark, nw, dir, Seq("k"), "pd")

    // upsert delta: the touched partition's post-image, nothing else
    val d12 = CommitLog.changesBetween(spark, dir, v1.version, v2.version)
    assert(d12.count() == 1000L, "expected pd=d1's post-image")
    assert(d12.filter($"v" === 99L).count() == 100L)
    assert(d12.select($"pd").distinct().as[String].collect().toSeq == Seq("d1"))
    // compaction published no data change
    assert(CommitLog.changesBetween(spark, dir, v2.version, v3.version)
      .count() == 0L)
    // spanning range: post-image + the new partition, compact still absent
    val d14 = CommitLog.changesBetween(spark, dir, v1.version, v4.version)
    assert(d14.count() == 1050L)
    assert(d14.filter($"pd" === "d9").count() == 50L)
    intercept[IllegalArgumentException] {
      CommitLog.changesBetween(spark, dir, v2.version, v2.version)
    }
  }

  test("append: pure adds, no rewrite, exact in the change feed, " +
    "never clashes with a racing writer") {
    val dir = freshLake()
    val v1 = CommitLog.latest(spark, dir).get
    val batch = spark.range(50000, 50100)
      .select($"id".as("k"), lit(1L).as("v"), lit("d1").as("pd"))
    val v2 = CommitLog.append(spark, batch, dir)
    assert(v2.op == "append")
    assert(v1.files.toSet.subsetOf(v2.files.toSet),
      "append must not rewrite or drop any existing file")
    assert(CommitLog.read(spark, dir).count() == 3100L)
    // EXACT in the change feed: the 100 new rows, not d1's post-image
    assert(CommitLog.changesBetween(spark, dir, v1.version, v2.version)
      .count() == 100L)
    // replayed batch id is a no-op
    val v3 = CommitLog.append(spark, batch, dir, txn = Some(("w", 7L)))
    assert(CommitLog.append(spark, batch, dir, txn = Some(("w", 7L)))
      .version == v3.version)
    // an append staged before a racing delete commits must still land:
    // stage via the public verb against a base the delete then moves
    val pre = CommitLog.latest(spark, dir).get
    CommitLog.delete(spark, dir, $"k" < 100 && $"pd" === "d0")
    // (append re-reads latest internally; simulate the race by checking
    // the rebase path accepts a moved base — touchedParts is empty)
    val v5 = CommitLog.append(spark, batch, dir)
    assert(v5.version > pre.version + 1)
    // schema guard: missing columns rejected loudly
    intercept[IllegalArgumentException] {
      CommitLog.append(spark, spark.range(3).select($"id".as("k")), dir)
    }
  }

  test("changeFeed: exact row-level CDF — inserts, deletes, update " +
    "pairs; republished-unchanged rows suppressed") {
    val dir = freshLake()
    val v1 = CommitLog.latest(spark, dir).get.version
    // delete 10 keys (COW — rewrites files, republishing survivors)
    CommitLog.delete(spark, dir, $"k" < 10)
    // update 5 keys via whole-partition upsert (republishes the rest)
    val upd = spark.range(100, 105)
      .select($"id".as("k"), lit(42L).as("v"), lit("d0").as("pd"))
    CommitLog.upsert(spark, upd, dir, Seq("k"), "pd")
    // MoR delete 3 keys — no files change, only a vector
    CommitLog.deleteVectors(spark, dir, $"k" >= 200 && $"k" < 203)
    // append 7 brand-new keys
    val app = spark.range(90000, 90007)
      .select($"id".as("k"), lit(1L).as("v"), lit("d9").as("pd"))
    val v5 = CommitLog.append(spark, app, dir)
    val cdf = CommitLog.changeFeed(spark, dir, v1, v5.version, Seq("k"))
      .select($"_change_type", $"k", $"v").as[(String, Long, Long)]
      .collect().toSet
    val expected =
      (90000L until 90007L).map(k => ("insert", k, 1L)).toSet ++
      (0L until 10L).map(k => ("delete", k, k % 7)).toSet ++
      (200L until 203L).map(k => ("delete", k, k % 7)).toSet ++
      (100L until 105L).map(k => ("update_preimage", k, k % 7)).toSet ++
      (100L until 105L).map(k => ("update_postimage", k, 42L)).toSet
    assert(cdf == expected,
      "CDF must be the exact delta — republished rows must not leak")
    // additive evolution: a column born in-range reads null pre-image
    val evolved = spark.range(100, 101)
      .select($"id".as("k"), lit(43L).as("v"), lit("d0").as("pd"),
        lit("x").as("note"))
    val v6 = CommitLog.upsert(spark, evolved, dir, Seq("k"), "pd")
    val row = CommitLog.changeFeed(spark, dir, v5.version, v6.version,
      Seq("k")).filter($"_change_type" === "update_preimage")
      .select($"k", $"note").as[(Long, Option[String])].collect().toSeq
    assert(row.contains((100L, None)))
  }

  test("changeFeed: a table with columns named _pre/_post classifies " +
    "correctly (markers are collision-proof)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdf_c_")
      .toString + "/lake"
    spark.range(0, 20)
      .select($"id".as("k"), lit(false).as("_pre"), lit(false).as("_post"))
      .write.parquet(dir)
    val v1 = CommitLog.init(spark, dir).version
    CommitLog.delete(spark, dir, $"k" < 5)
    val app = spark.range(100, 103)
      .select($"id".as("k"), lit(true).as("_pre"), lit(true).as("_post"))
    val v3 = CommitLog.append(spark, app, dir).version
    val cdf = CommitLog.changeFeed(spark, dir, v1, v3, Seq("k"))
      .select($"_change_type", $"k", $"_pre").as[(String, Long, Boolean)]
      .collect().toSet
    assert(cdf ==
      ((0L until 5L).map(k => ("delete", k, false)) ++
        (100L until 103L).map(k => ("insert", k, true))).toSet,
      "user _pre/_post columns must flow through untouched")
  }

  test("changesBetween: a mid-range compaction cannot swallow a change") {
    val dir = freshLake()
    val v1 = CommitLog.latest(spark, dir).get
    // v2: MoR delete in pd=d0 — adds NO files, only a deletion vector
    val v2 = CommitLog.deleteVectors(spark, dir, $"k" < 50 && $"pd" === "d0")
    // v3: compaction rewrites EVERY file (v2's DV'd file included), so
    // both the upsert-style file diff and the DV'd-file re-emit point
    // at files that are dead at toV
    val v3 = CommitLog.compact(spark, dir, targetPartitions = 2)
    val d13 = CommitLog.changesBetween(spark, dir, v1.version, v3.version)
    // the touched partition's post-image AS OF v3 must still surface
    assert(d13.select($"pd").distinct().as[String].collect().toSeq ==
      Seq("d0"), "mid-range compaction swallowed the MoR delete's change")
    assert(d13.count() == 950L, "post-image must be d0 minus tombstones")
    assert(d13.filter($"k" < 50).count() == 0L)
    assert(v3.op == "compact")
  }

  test("a valid racing commit serializes: the writer builds on it, not over it") {
    val dir = freshLake()
    val v1 = CommitLog.latest(spark, dir).get
    // the racer COMMITTED v2 before our writer started: our writer must
    // read v2 and commit v3 on top — serialized, no conflict, no loss
    val racerUpdates = spark.range(0, 10)
      .select($"id".as("k"), lit(77L).as("v"), lit("d0").as("pd"))
    CommitLog.upsert(spark, racerUpdates, dir, Seq("k"), "pd")
    val ourUpdates = spark.range(2000, 2010)
      .select($"id".as("k"), lit(88L).as("v"), lit("d2").as("pd"))
    val v3 = CommitLog.upsert(spark, ourUpdates, dir, Seq("k"), "pd")
    assert(v3.version == v1.version + 2)
    val got = state(dir)
    assert(got.count(_._2 == 77L) == 10 && got.count(_._2 == 88L) == 10,
      "a serialized commit lost the racer's rows")
  }

  test("a corrupt newest version file degrades to the previous version") {
    val dir = freshLake()
    val v1 = CommitLog.latest(spark, dir).get
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = new org.apache.hadoop.fs.Path(
      s"$dir/_graft_log", f"v${v1.version + 1}%020d.json")
    val out = f.create(torn, false)
    out.write("""{"version":2,"files":["pd=""".getBytes("UTF-8")) // truncated
    out.close()
    val s = CommitLog.latest(spark, dir).get
    assert(s.version == v1.version, "corrupt version file was not skipped")
    assert(CommitLog.read(spark, dir).count() == 3000L)
  }

  test("a committed batch id replays as a no-op (ledger rides the commit)") {
    val dir = freshLake()
    val updates = spark.range(0, 50)
      .select($"id".as("k"), lit(7L).as("v"), lit("d0").as("pd"))
    val v2 = CommitLog.upsert(spark, updates, dir, Seq("k"), "pd",
      txn = Some(("w", 42L)))
    assert(CommitLog.txnVersion(v2, "w").contains(42L))
    val replay = CommitLog.upsert(spark, updates, dir, Seq("k"), "pd",
      txn = Some(("w", 42L)))
    assert(replay.version == v2.version, "replayed batch produced a new commit")
    assert(state(dir) == state(dir)) // and reads stay stable
  }

  test("seqCol: a stale update cannot regress a committed row") {
    val dir = Files.createTempDirectory("graft_log_seq_").toString + "/lake"
    Seq((1L, 5L, "v5", "d1"), (2L, 1L, "b1", "d1"))
      .toDF("k", "seq", "v", "pd").write.partitionBy("pd").parquet(dir)
    CommitLog.init(spark, dir)
    val stale = Seq((1L, 3L, "v3", "d1"), (3L, 1L, "c", "d1"))
      .toDF("k", "seq", "v", "pd")
    CommitLog.upsert(spark, stale, dir, Seq("k"), "pd", seqCol = Some("seq"))
    val got = CommitLog.read(spark, dir)
      .select($"k", $"seq", $"v").as[(Long, Long, String)].collect().toSet
    assert(got == Set((1L, 5L, "v5"), (2L, 1L, "b1"), (3L, 1L, "c")))
  }

  test("compact shrinks files, preserves rows, keeps history readable") {
    val dir = freshLake()
    val v1 = CommitLog.latest(spark, dir).get
    val v2 = CommitLog.compact(spark, dir, targetPartitions = 1)
    assert(v2.files.size < v1.files.size,
      s"no compaction: ${v1.files.size} -> ${v2.files.size}")
    assert(state(dir).size == 3000)
    assert(CommitLog.readAt(spark, dir, v1.version).count() == 3000L)
    // hive layout survived the copy-on-write rewrite
    assert(v2.files.forall(_.startsWith("pd=")), v2.files.mkString(","))
  }

  test("clustered compaction restores zone-map pruning on an arrival-ordered table") {
    val dir = Files.createTempDirectory("graft_log_").toString + "/lake"
    // arrival order: k is hash-shuffled across 8 files, so every file's
    // zone-map interval spans ~the whole key range and a selective range
    // scan opens everything — stats-correct, pruning useless
    spark.range(0, 4000)
      .select($"id".as("k"), ($"id" % 7).as("v"),
        hash($"id".cast("int")).as("shuf"))
      .repartition(8, $"shuf").drop("shuf")
      .write.parquet(dir)
    CommitLog.init(spark, dir, statsCols = Seq("k"))
    val (dfB, (readB, totalB)) = CommitLog.scanRange(spark, dir, "k", 100L, 300L)
    val rowsBefore = dfB.select($"k", $"v").as[(Long, Long)].collect().toSet
    assert(readB == totalB, s"shuffled layout should prune nothing: $readB/$totalB")

    val snap = CommitLog.compactClustered(spark, dir, 8, Seq("k"))
    assert(snap.op == "compact")
    val (dfA, (readA, totalA)) = CommitLog.scanRange(spark, dir, "k", 100L, 300L)
    // identical rows, but a ~5% range now opens ≤2 of 8 files
    assert(dfA.select($"k", $"v").as[(Long, Long)].collect().toSet === rowsBefore)
    assert(totalA == 8 && readA <= 2, s"pruning did not engage: $readA/$totalA")
  }

  test("table properties merge on set and ride every subsequent commit") {
    val dir = freshLake()
    CommitLog.setProps(spark, dir, Map("owner" -> "etl"))
    CommitLog.upsert(spark,
      spark.range(0, 10).select($"id".as("k"), lit(1L).as("v"),
        lit("d0").as("pd")), dir, Seq("k"), "pd")
    CommitLog.compact(spark, dir, targetPartitions = 2)
    assert(CommitLog.latest(spark, dir).get.props === Map("owner" -> "etl"))
    CommitLog.setProps(spark, dir, Map("tier" -> "gold"))
    assert(CommitLog.latest(spark, dir).get.props ===
      Map("owner" -> "etl", "tier" -> "gold"))
    // setting nothing new is a no-op commit-wise
    val v = CommitLog.latest(spark, dir).get.version
    CommitLog.setProps(spark, dir, Map("tier" -> "gold"))
    assert(CommitLog.latest(spark, dir).get.version === v)
  }

  test("history reports the lifecycle; fragmentation gate compacts only over budget") {
    val dir = freshLake()
    CommitLog.upsert(spark,
      spark.range(100, 150).select($"id".as("k"), lit(42L).as("v"),
        lit("d0").as("pd")),
      dir, Seq("k"), "pd", txn = Some(("w", 7L)))
    val h1 = CommitLog.history(spark, dir)
      .orderBy($"version").collect()
    assert(h1.map(_.getString(1)).toSeq === Seq("init", "upsert"))
    assert(h1.last.getLong(3) === 1L, "txn entry count missing") // n_batches
    assert(h1.last.getLong(4) > 0L, "upsert added no files")        // files_added
    assert(h1.last.getTimestamp(6).getTime > 0L, "commit stamp missing")

    // within budget: metadata check only, no rewrite
    assert(CommitLog.compactIfFragmented(spark, dir,
      maxFiles = 1000, targetPartitions = 2, Seq("k")).isEmpty)
    // over budget: clustered rewrite fires, rows intact, history grows
    val before = state(dir)
    val snap = CommitLog.compactIfFragmented(spark, dir,
      maxFiles = 1, targetPartitions = 2, Seq("k"))
    assert(snap.exists(_.op == "compact"))
    assert(state(dir) === before)
    val ops = CommitLog.history(spark, dir).orderBy($"version")
      .collect().map(_.getString(1)).toSeq
    assert(ops === Seq("init", "upsert", "compact"))
  }

  test("stats ride the commit: pruning works after upsert AND compact, no rebuild call") {
    val dir = freshLake(statsCols = Seq("k"))
    val updates = spark.range(1000, 1100)
      .select($"id".as("k"), lit(99L).as("v"), lit("d1").as("pd"))
    CommitLog.upsert(spark, updates, dir, Seq("k"), "pd")
    val (d0, (read1, total1)) = CommitLog.scanRange(spark, dir, "k", 0L, 999L)
    assert(read1 < total1, s"no pruning after upsert: $read1/$total1")
    assert(d0.count() == 1000L)
    // the merged slice is visible through the committed stats
    val (d1, _) = CommitLog.scanRange(spark, dir, "k", 1000L, 1099L)
    assert(d1.filter($"v" === 99L).count() == 100L)
    CommitLog.compact(spark, dir, targetPartitions = 2)
    val (_, (probeRead, probeTotal)) =
      CommitLog.scanRange(spark, dir, "k", 5000000L, 6000000L)
    assert(probeTotal > 0 && probeRead == 0,
      s"stats stale after compact: $probeRead/$probeTotal")
    val (d0b, (read2, total2)) = CommitLog.scanRange(spark, dir, "k", 0L, 999L)
    assert(read2 <= total2 && d0b.count() == 1000L)
  }

  test("additive schema evolution: new columns commit, old rows read null") {
    val dir = freshLake()
    val v1 = CommitLog.latest(spark, dir).get
    // updates carry a NEW column; the merged partition's old rows and
    // every untouched partition's rows must surface it as null
    val updates = spark.range(1000, 1010)
      .select($"id".as("k"), lit(99L).as("v"), lit("d1").as("pd"),
        lit("fresh").as("note"))
    CommitLog.upsert(spark, updates, dir, Seq("k"), "pd")
    val got = CommitLog.read(spark, dir)
    assert(got.columns.contains("note"))
    assert(got.filter($"note" === "fresh").count() == 10L)
    assert(got.filter($"note".isNull).count() == 2990L,
      "old rows must read the evolved column as null")
    // untouched partition d0 was NOT rewritten to add the column
    val v2 = CommitLog.latest(spark, dir).get
    assert(v1.files.filter(_.startsWith("pd=d0/")).toSet
      .subsetOf(v2.files.toSet), "evolution rewrote untouched files")
    // time travel: version 1 still reads with its own committed schema
    assert(!CommitLog.readAt(spark, dir, v1.version).columns.contains("note"))
    // a later upsert WITHOUT the evolved column is a partial-column
    // write — rejected loudly, not silently nulled
    val partial = spark.range(0, 5)
      .select($"id".as("k"), lit(1L).as("v"), lit("d0").as("pd"))
    val e = intercept[IllegalArgumentException] {
      CommitLog.upsert(spark, partial, dir, Seq("k"), "pd")
    }
    assert(e.getMessage.contains("additive"), e.getMessage)
    // and a type change is rejected
    val retyped = spark.range(0, 5)
      .select($"id".as("k"), lit("x").as("v"), lit("d0").as("pd"),
        lit("n").as("note"))
    val e2 = intercept[IllegalArgumentException] {
      CommitLog.upsert(spark, retyped, dir, Seq("k"), "pd")
    }
    assert(e2.getMessage.contains("changes type"), e2.getMessage)
  }

  test("copy-on-write delete rewrites only the files that hold matches") {
    val dir = freshLake()
    val v1 = CommitLog.latest(spark, dir).get
    // k < 100 lives in one range-partitioned file of pd=d0
    val v2 = CommitLog.delete(spark, dir, $"k" < 100)
    assert(v2.version == v1.version + 1 && v2.op == "delete")
    assert(CommitLog.read(spark, dir).count() == 2900L)
    assert(CommitLog.read(spark, dir).filter($"k" < 100).count() == 0L)
    // files with no matching rows carried over bit for bit
    val carried = v1.files.toSet.intersect(v2.files.toSet)
    assert(carried.nonEmpty, "delete rewrote every file")
    assert((v1.files.toSet -- v2.files.toSet).size < v1.files.size,
      "delete should rewrite a strict subset of files")
    // pre-image intact (time travel), and a no-match delete is a no-op
    assert(CommitLog.readAt(spark, dir, v1.version).count() == 3000L)
    val v3 = CommitLog.delete(spark, dir, $"k" === -1L)
    assert(v3.version == v2.version, "no-match delete minted a version")
    // incremental consumers see the touched files' post-image
    val d = CommitLog.changesBetween(spark, dir, v1.version, v2.version)
    assert(d.filter($"k" < 100).count() == 0L && d.count() > 0L)
  }

  test("a staged upsert rebases over a concurrent delete on other partitions") {
    val dir = freshLake()
    val ours = spark.range(2000, 2010)
      .select($"id".as("k"), lit(88L).as("v"), lit("d2").as("pd"))
    val staged = CommitLog.stageUpsert(spark, ours, dir, Seq("k"), "pd").get
    CommitLog.delete(spark, dir, $"k" < 100) // lands first, touches pd=d0
    val v3 = CommitLog.commitStaged(spark, dir, staged)
    val got = state(dir)
    assert(got.size == 2900 && got.count(_._2 == 88L) == 10)
    assert(got.count(_._1 < 100) == 0)
    assert(v3.op == "upsert")
  }

  test("manifest sketches answer quantiles from metadata, fresh through upsert+compact") {
    val dir = Files.createTempDirectory("graft_log_kll_").toString + "/lake"
    spark.range(0, 20000)
      .select($"id".as("k"), ($"id" % 1000).cast("double").as("x"),
        concat(lit("d"), ($"id" / 10000).cast("long")).as("pd"))
      .repartitionByRange(4, $"k")
      .write.partitionBy("pd").parquet(dir)
    CommitLog.init(spark, dir, statsCols = Seq("k"), sketchCols = Seq("x"))
    def rankOf(v: Double): Double =
      CommitLog.read(spark, dir).filter($"x" <= v).count().toDouble /
        CommitLog.read(spark, dir).count()
    // global estimate, zero data files opened
    val Seq(p50, p95) = CommitLog.quantiles(spark, dir, "x", Seq(0.5, 0.95)).get
    assert(math.abs(rankOf(p50) - 0.5) <= 0.03, s"p50=$p50 rank=${rankOf(p50)}")
    assert(math.abs(rankOf(p95) - 0.95) <= 0.03)
    // partition-restricted: only pd=d1's sketches merge
    val d1p50 = CommitLog.quantiles(spark, dir, "x", Seq(0.5),
      partitionPrefix = Some("pd=d1")).get.head
    val d1 = CommitLog.read(spark, dir).filter($"pd" === "d1")
    val d1rank = d1.filter($"x" <= d1p50).count().toDouble / d1.count()
    assert(math.abs(d1rank - 0.5) <= 0.03, s"pd=d1 p50=$d1p50 rank=$d1rank")
    // upsert shifts pd=d0's distribution; the sketches ride the commit —
    // no rebuild call, the new estimate must see the shift
    val updates = spark.range(0, 10000)
      .select($"id".as("k"), lit(5000.0).as("x"), lit("d0").as("pd"))
    CommitLog.upsert(spark, updates, dir, Seq("k"), "pd")
    val shifted = CommitLog.quantiles(spark, dir, "x", Seq(0.9)).get.head
    assert(shifted == 5000.0, // half the rows are now the constant 5000
      s"post-upsert p90=$shifted did not see the rewritten partition")
    // compaction rewrites every file; estimates survive unchanged-ish
    CommitLog.compact(spark, dir, targetPartitions = 1)
    val afterCompact = CommitLog.quantiles(spark, dir, "x", Seq(0.9)).get.head
    assert(afterCompact == 5000.0, s"post-compact p90=$afterCompact")
    // no matching partition → None; untracked column → loud require
    assert(CommitLog.quantiles(spark, dir, "x", Seq(0.5),
      partitionPrefix = Some("pd=nope")).isEmpty)
    intercept[IllegalArgumentException] {
      CommitLog.quantiles(spark, dir, "k", Seq(0.5))
    }
  }

  test("a table that empties out stays readable and maintainable " +
      "(zero-file snapshot)") {
    val dir = freshLake()
    CommitLog.delete(spark, dir, lit(true)) // every row matches
    val snap = CommitLog.latest(spark, dir).get
    assert(snap.files.isEmpty, "delete-all left files in the snapshot")
    assert(snap.partCols == Seq("pd"), "layout lost with the files")
    // reads see zero rows under the committed schema, not a crash
    val empty = CommitLog.read(spark, dir)
    assert(empty.count() == 0L)
    assert(empty.columns.contains("k") && empty.columns.contains("pd"))
    // maintenance verbs still work: rows come back via replaceWhere into
    // the PERSISTED partition layout
    val back = spark.range(0, 7)
      .select($"id".as("k"), lit(1L).as("v"), lit("d0").as("pd"))
    CommitLog.replaceWhere(spark, dir, lit(false), back)
    assert(state(dir).size == 7)
    assert(CommitLog.latest(spark, dir).get.files
      .forall(_.startsWith("pd=")), "re-added files ignored the layout")
  }

  test("restore rolls the table back as a NEW auditable commit; the " +
      "ledger is not rewound; vacuumed history refuses loudly") {
    val dir = freshLake()
    val v1 = CommitLog.latest(spark, dir).get
    val before = state(dir)
    CommitLog.upsert(spark,
      spark.range(0, 500).select($"id".as("k"), lit(999L).as("v"),
        lit("d0").as("pd")),
      dir, Seq("k"), "pd", txn = Some(("w", 42L)))
    assert(state(dir) != before, "fixture: upsert must change the table")
    val snap = CommitLog.restore(spark, dir, v1.version)
    assert(snap.op == "restore" && snap.version > v1.version + 1,
      "restore must be a NEW commit, not a version-file rewind")
    assert(state(dir) == before, "restore did not reproduce version 1")
    // history keeps the undone version readable (append-only MVCC)
    assert(CommitLog.readAt(spark, dir, v1.version + 1)
      .filter($"v" === 999L).count() == 500L)
    // the ledger survives: the un-published batch is still a no-op
    assert(CommitLog.txnVersion(snap, "w").contains(42L))
    CommitLog.upsert(spark,
      spark.range(0, 500).select($"id".as("k"), lit(999L).as("v"),
        lit("d0").as("pd")),
      dir, Seq("k"), "pd", txn = Some(("w", 42L)))
    assert(state(dir) == before, "a replayed undone batch re-applied")
    // stats pruning works off the restored manifest
    val (_, (r, t)) = CommitLog.scanRange(spark, dir, "k", 5000000L, 6000000L)
    assert(t > 0 && r == 0)
    // restore past vacuumed history fails loudly
    CommitLog.vacuum(spark, dir, keepLast = 1, staleStagingMs = 0L)
    val e = intercept[IllegalArgumentException] {
      CommitLog.restore(spark, dir, v1.version + 1)
    }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
  }

  test("one txn entry per app after N ids; every earlier id replays " +
      "as a no-op") {
    val dir = freshLake()
    for (app <- Seq("a", "b"); b <- 1L to 5L)
      CommitLog.upsert(spark,
        spark.range(b, b + 1).select($"id".as("k"), lit(b).as("v"),
          lit("d0").as("pd")),
        dir, Seq("k"), "pd", txn = Some((app, b)))
    val s = CommitLog.latest(spark, dir).get
    assert(s.props.keys.filter(_.startsWith("graft.txn.")).toSet ==
      Set("graft.txn.a", "graft.txn.b"), s"ledger not bounded: ${s.props}")
    assert(CommitLog.txnVersion(s, "a").contains(5L) &&
      CommitLog.txnVersion(s, "b").contains(5L))
    val before = state(dir)
    // a replay of every earlier id of either app no-ops
    for (app <- Seq("a", "b"); b <- 1L to 5L) {
      CommitLog.upsert(spark,
        spark.range(0, 500).select($"id".as("k"), lit(999L).as("v"),
          lit("d0").as("pd")),
        dir, Seq("k"), "pd", txn = Some((app, b)))
      assert(state(dir) == before, s"replayed $app#$b re-applied")
    }
    assert(CommitLog.latest(spark, dir).get.version == s.version)
  }

  test("scanBox survivors read under the committed schema after " +
      "additive evolution") {
    val dir = freshLake()
    // evolve: add a column via an upsert touching ONE partition — the
    // other partitions' files predate the evolution
    CommitLog.upsert(spark,
      spark.range(0, 10).select($"id".as("k"), lit(1L).as("v"),
        lit("d0").as("pd"), lit("x").as("tag")),
      dir, Seq("k"), "pd")
    // a range inside d1 only: every survivor is a PRE-evolution file
    val (df, (read, total)) = CommitLog.scanRange(spark, dir, "k", 1500L, 1600L)
    assert(read < total)
    assert(df.columns.contains("tag"),
      "pruned read lost the evolved column (raw-schema divergence)")
    assert(df.filter($"tag".isNull).count() == df.count())
  }

  test("vacuum tolerates a corrupt version file instead of blocking " +
      "reclamation forever") {
    val dir = freshLake()
    CommitLog.upsert(spark,
      spark.range(0, 10).select($"id".as("k"), lit(5L).as("v"),
        lit("d0").as("pd")),
      dir, Seq("k"), "pd")
    CommitLog.compact(spark, dir, targetPartitions = 1)
    // simulate a crashed writer's truncated version file in the DROPPED
    // range
    val log = new java.io.File(s"$dir/_graft_log")
    val vf = log.listFiles.filter(_.getName.matches("v\\d{20}\\.json"))
      .sortBy(_.getName).head
    java.nio.file.Files.write(vf.toPath,
      "{\"version\":1,\"files\":[\"trunca".getBytes)
    new java.io.File(log, s".${vf.getName}.crc").delete()
    val before = state(dir)
    val dead = CommitLog.vacuum(spark, dir, keepLast = 1, staleStagingMs = 0L)
    assert(dead.nonEmpty, "vacuum reclaimed nothing past the corrupt file")
    assert(state(dir) == before)
  }

  test("overwrite with expectedVersion aborts when the table moved") {
    val dir = freshLake()
    val v = CommitLog.latest(spark, dir).get.version
    CommitLog.setProps(spark, dir, Map("k" -> "v")) // someone else commits
    intercept[IllegalStateException] {
      CommitLog.overwrite(spark,
        CommitLog.read(spark, dir).limit(1), dir, Seq("pd"),
        expectedVersion = Some(v))
    }
    assert(CommitLog.read(spark, dir).count() == 3000L, "table mutated")
  }

  test("timestamp time travel resolves the newest version at-or-before") {
    val dir = freshLake()
    val t1 = CommitLog.latest(spark, dir).get.committedAt
    assert(t1 > 0L, "commits must carry a wall-clock stamp")
    Thread.sleep(5)
    val before = state(dir)
    CommitLog.upsert(spark,
      spark.range(0, 10).select($"id".as("k"), lit(77L).as("v"),
        lit("d0").as("pd")),
      dir, Seq("k"), "pd")
    val t2 = CommitLog.latest(spark, dir).get.committedAt
    assert(t2 > t1)
    // as-of between the commits → version 1's state; as-of now → latest
    assert(CommitLog.readAsOf(spark, dir, t2 - 1)
      .select($"k", $"v", $"pd").as[(Long, Long, String)]
      .collect().toSet == before)
    assert(CommitLog.readAsOf(spark, dir, t2).filter($"v" === 77L)
      .count() == 10L)
    // predating the log fails loudly
    intercept[IllegalArgumentException] {
      CommitLog.versionAsOf(spark, dir, t1 - 1000000L)
    }
  }

  test("vacuum deletes only unreferenced files; latest survives") {
    val dir = freshLake()
    val v1 = CommitLog.latest(spark, dir).get
    val updates = spark.range(0, 10)
      .select($"id".as("k"), lit(3L).as("v"), lit("d0").as("pd"))
    CommitLog.upsert(spark, updates, dir, Seq("k"), "pd")
    CommitLog.compact(spark, dir, targetPartitions = 1)
    val before = state(dir)
    // the default age fence keeps these seconds-old dropped files (a
    // concurrent restore may be about to re-reference them)...
    assert(CommitLog.vacuum(spark, dir, keepLast = 1).isEmpty,
      "the default fence deleted young files")
    // ...the explicit zero floor (operator knows no writer is live)
    // reclaims them
    val dead = CommitLog.vacuum(spark, dir, keepLast = 1,
      staleStagingMs = 0L)
    assert(dead.nonEmpty, "vacuum found nothing to delete")
    assert(state(dir) == before, "vacuum changed the visible table")
    // dropped versions are gone
    intercept[IllegalArgumentException] {
      CommitLog.readAt(spark, dir, v1.version)
    }
    // and pruning still works off the kept stats snapshot
    val (_, (r, t)) = CommitLog.scanRange(spark, dir, "k", 5000000L, 6000000L)
    assert(t > 0 && r == 0)
  }
}
