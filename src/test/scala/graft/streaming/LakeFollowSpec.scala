package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.CommitLog

/** [[LakeFollow]]: the streaming CDC mirror must converge to the
  * source's committed state across upserts and deletes, survive a
  * restart by resuming from the replica's own follow entry, and treat
  * a replayed range as a no-op.
  */
class LakeFollowSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def work(): String = {
    val d = Files.createTempDirectory("graft_follow_")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def seed(dir: String): Unit = {
    spark.range(0, 60).select($"id".as("k"), lit(1L).as("v"),
      concat(lit("d"), ($"id" % 3)).as("pd"))
      .write.partitionBy("pd").parquet(dir)
    CommitLog.init(spark, dir)
  }

  private def state(dir: String): Set[(Long, Long, String)] =
    CommitLog.read(spark, dir).select($"k", $"v", $"pd")
      .as[(Long, Long, String)].collect().toSet

  private def awaitConverged(src: String, dst: String,
      timeoutMs: Long = 30000): Unit = {
    val t0 = System.currentTimeMillis()
    val want = CommitLog.latest(spark, src).get.version
    while (CommitLog.latest(spark, dst)
        .flatMap(CommitLog.txnVersion(_, LakeFollow.followAppId(src)))
        .getOrElse(-1L) < want) {
      if (System.currentTimeMillis() - t0 > timeoutMs)
        fail(s"mirror did not reach source version $want in ${timeoutMs}ms")
      Thread.sleep(100)
    }
  }

  test("mirror converges across upserts and deletes; replay no-ops; " +
      "restart resumes from the replica's ledger") {
    val w = work()
    val src = s"$w/src"; val dst = s"$w/dst"
    seed(src)
    LakeFollow.bootstrapMirror(spark, src, dst, "pd")
    assert(state(dst) == state(src), "bootstrap must copy the cut")

    val q = LakeFollow.mirror(spark, src, dst, "pd",
      checkpointDir = s"$w/chk1")
    try {
      CommitLog.upsert(spark,
        spark.range(0, 10).select($"id".as("k"), lit(7L).as("v"),
          lit("d0").as("pd")),
        src, Seq("k"), "pd")
      CommitLog.delete(spark, src, $"k" >= 50L)
      awaitConverged(src, dst)
      assert(state(dst) == state(src),
        "mirror diverged from the source after upsert+delete")
      // merge-on-read delete: the commit adds NO files — only a
      // deletion vector — yet the replica must still drop the
      // tombstoned rows (partsBetween surfaces the DV'd partitions,
      // readPartitionDirsAt applies the vectors)
      CommitLog.deleteVectors(spark, src, $"k" % 10L === 3L)
      awaitConverged(src, dst)
      assert(state(dst) == state(src),
        "mirror diverged from the source after a MoR delete")
      assert(!state(dst).exists(_._1 % 10 == 3),
        "replica retained tombstoned rows after a MoR delete")
    } finally q.stop()

    // replay: re-applying the converged range is a ledger no-op
    val vDst = CommitLog.latest(spark, dst).get.version
    val toV = CommitLog.latest(spark, src).get.version
    val dirs = CommitLog.partsBetween(spark, src, 1L, toV).get
    CommitLog.replacePartitions(spark,
      CommitLog.readPartitionDirsAt(spark, src, toV, dirs), dst, "pd",
      dirs.toSeq.sorted.map(_.stripPrefix("pd=")),
      txn = Some((LakeFollow.followAppId(src), toV)))
    assert(CommitLog.latest(spark, dst).get.version == vDst,
      "a replayed range moved the replica")

    // restart: new mirror instance picks the cursor from the ledger and
    // catches up changes that landed while no mirror was running
    CommitLog.upsert(spark,
      spark.range(20, 25).select($"id".as("k"), lit(9L).as("v"),
        lit("d1").as("pd")),
      src, Seq("k"), "pd")
    val q2 = LakeFollow.mirror(spark, src, dst, "pd",
      checkpointDir = s"$w/chk2")
    try {
      awaitConverged(src, dst)
      assert(state(dst) == state(src),
        "restarted mirror missed the offline gap")
    } finally q2.stop()
  }

  test("followChanges delivers each new range's post-image once per toV") {
    val w = work()
    val src = s"$w/src"
    seed(src)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val q = LakeFollow.followChanges(spark, src, s"$w/chk") {
      (df, fromV, toV) => got.add((fromV, toV, df.count())); ()
    }
    try {
      // keys already resident in pd=d2 (k ≡ 2 mod 3): the post-image
      // stays partition-sized
      CommitLog.upsert(spark,
        spark.range(0, 5).select(($"id" * 3 + 2).as("k"), lit(2L).as("v"),
          lit("d2").as("pd")),
        src, Seq("k"), "pd")
      val t0 = System.currentTimeMillis()
      while (got.isEmpty && System.currentTimeMillis() - t0 < 30000)
        Thread.sleep(100)
    } finally q.stop()
    assert(!got.isEmpty, "follower saw no changes")
    val (fromV, toV, n) = got.peek()
    assert(fromV == 1L && toV == 2L)
    // post-image granularity: the touched partition's full post-state
    assert(n == 20L, s"expected partition post-image (20 rows), got $n")
  }

  test("followCdf streams the row-level feed: exact labeled deltas") {
    val w = work()
    val src = s"$w/src"
    seed(src)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      Set[(String, Long, Long)]]()
    val q = LakeFollow.followCdf(spark, src, Seq("k"),
      checkpointDir = s"$w/chk") { (cdf, _, _) =>
      got.add(cdf.select($"_change_type", $"k", $"v")
        .as[(String, Long, Long)].collect().toSet); ()
    }
    try {
      // one upsert touching 2 keys + one delete of 1 key, same range
      CommitLog.upsert(spark,
        spark.range(0, 2).select(($"id" * 3).as("k"), lit(5L).as("v"),
          lit("d0").as("pd")), src, Seq("k"), "pd")
      CommitLog.delete(spark, src, $"k" === 7L)
      val t0 = System.currentTimeMillis()
      def union() = got.toArray(Array.empty[Set[(String, Long, Long)]])
        .foldLeft(Set.empty[(String, Long, Long)])(_ ++ _)
      while (!union().contains(("delete", 7L, 1L)) &&
          System.currentTimeMillis() - t0 < 30000)
        Thread.sleep(100)
    } finally q.stop()
    assert(!got.isEmpty, "follower saw no CDF")
    // the union of delivered deltas equals the exact labeled change set
    val all = got.toArray(Array.empty[Set[(String, Long, Long)]])
      .foldLeft(Set.empty[(String, Long, Long)])(_ ++ _)
    assert(all == Set(("update_preimage", 0L, 1L),
      ("update_postimage", 0L, 5L), ("update_preimage", 3L, 1L),
      ("update_postimage", 3L, 5L), ("delete", 7L, 1L)))
  }

  test("keyed CDC replica: re-partitioned layout converges across " +
      "update/delete/MoR/append; replay no-ops; moved key refuses") {
    val w = work()
    val src = s"$w/src"; val dst = s"$w/dst"
    seed(src)
    import org.apache.spark.sql.DataFrame
    val derive = (df: DataFrame) =>
      df.withColumn("bucket", pmod($"k", lit(4L)))
    LakeFollow.bootstrapMirrorKeyed(spark, src, dst, "bucket", derive)
    // source churn: update, COW delete, MoR delete, pure append
    CommitLog.upsert(spark,
      spark.range(10, 15).select($"id".as("k"), lit(9L).as("v"),
        concat(lit("d"), ($"id" % 3)).as("pd")), src, Seq("k"), "pd")
    CommitLog.delete(spark, src, $"k" < 5)
    CommitLog.deleteVectors(spark, src, $"k" >= 55)
    CommitLog.append(spark,
      spark.range(900, 905).select($"id".as("k"), lit(7L).as("v"),
        lit("d0").as("pd")), src)
    val toV = LakeFollow.applyCdf(spark, src, dst, Seq("k"), "bucket",
      derive)
    assert(toV == CommitLog.latest(spark, src).get.version)
    val srcState = state(src)
    assert(state(dst) == srcState, "keyed replica must converge")
    // the replica really is bucket-partitioned and prunable
    assert(CommitLog.read(spark, dst)
      .filter($"bucket" === pmod($"k", lit(4L))).count() ==
      srcState.size.toLong)
    // replayed range: ledger no-op (same toV, nothing moves)
    val v0 = CommitLog.latest(spark, dst).get.version
    assert(LakeFollow.applyCdf(spark, src, dst, Seq("k"), "bucket",
      derive) == toV)
    assert(CommitLog.latest(spark, dst).get.version == v0)
    // a derive that moves a key's partition on update refuses loudly
    CommitLog.upsert(spark,
      spark.range(20, 21).select($"id".as("k"), lit(11L).as("v"),
        lit("d2").as("pd")), src, Seq("k"), "pd")
    val badDerive = (df: DataFrame) =>
      df.withColumn("bucket", pmod($"k" + $"v", lit(4L)))
    val e = intercept[IllegalArgumentException] {
      LakeFollow.applyCdf(spark, src, dst, Seq("k"), "bucket", badDerive)
    }
    assert(e.getMessage.contains("stable"))
  }
}
