package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Deep clone: a byte-exact, fully independent materialization of one
  * snapshot. Contract under test — the clone reads exactly the source
  * version (including MoR deletes and manifest-served stats), either
  * side's later writes and vacuums never touch the other, a mid-flight
  * failure publishes nothing, and cloning a branch target yields a
  * standalone table. */
class CloneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshLake(): String = {
    val dir = Files.createTempDirectory("graft_clone_").toString + "/lake"
    spark.range(0, 300)
      .select($"id".as("k"), ($"id" % 7).as("v"),
        concat(lit("d"), ($"id" % 3)).as("pd"))
      .repartitionByRange(3, $"k")
      .write.partitionBy("pd").parquet(dir)
    CommitLog.init(spark, dir, statsCols = Seq("k"))
    dir
  }

  private def rows(t: String): Set[(Long, Long)] =
    CommitLog.read(spark, t).select($"k", $"v")
      .as[(Long, Long)].collect().toSet

  test("clone at a version is exact — including deletion vectors and " +
    "the stats manifest — and the sides are independent") {
    val src = freshLake()
    CommitLog.deleteVectors(spark, src, col("k") % 10 === 3L)
    val vDel = CommitLog.latest(spark, src).get.version
    CommitLog.append(spark,
      Seq((900L, 9L, "d0")).toDF("k", "v", "pd"), src)
    val dst = Files.createTempDirectory("graft_clone_dst_").toString + "/t"
    val snap = CommitLog.cloneTable(spark, src, dst, Some(vDel))
    assert(snap.version == 1L && snap.op == "clone")
    // exact at the cloned version: MoR delete applied, later append absent
    assert(rows(dst) == rows(src).filterNot(_._1 == 900L))
    assert(CommitLog.read(spark, dst).filter($"k" % 10 === 3L).count() == 0)
    // the manifest traveled: metadata-plane stats serve on the clone
    // (compact first: stats refuse outstanding DVs, same as the source)
    CommitLog.compact(spark, dst, 2)
    assert(CommitLog.statsAggByPartition(spark, dst, Seq("k")).count() > 0)
    // independence: mutate + vacuum each side, the other is untouched
    CommitLog.overwrite(spark,
      Seq((1L, 1L, "d0")).toDF("k", "v", "pd"), src)
    CommitLog.vacuum(spark, src, keepLast = 1, staleStagingMs = -1L)
    assert(rows(dst).size == 270)
    CommitLog.overwrite(spark,
      Seq((2L, 2L, "d0")).toDF("k", "v", "pd"), dst)
    CommitLog.vacuum(spark, dst, keepLast = 1, staleStagingMs = -1L)
    assert(rows(src) == Set((1L, 1L)))
    assert(rows(dst) == Set((2L, 2L)))
    // fresh identity: the clone is a new table for exactly-once purposes
    assert(!snap.props.keys.exists(_.startsWith("graft.txn.")))
    assert(snap.props("graft.clone.version") == vDel.toString)
  }

  test("cloning a branch target yields a standalone table with plain " +
    "metadata rels") {
    val src = freshLake()
    CommitLog.createBranch(spark, src, "dev")
    val t = CommitLog.branchTarget(src, "dev")
    CommitLog.deleteVectors(spark, t, col("k") === 5L) // branch-minted DV
    CommitLog.append(spark, Seq((800L, 8L, "d0")).toDF("k", "v", "pd"), t)
    val dst = Files.createTempDirectory("graft_clone_dst_").toString + "/t"
    val snap = CommitLog.cloneTable(spark, t, dst)
    assert(rows(dst) == rows(t))
    assert(!snap.dvs.exists(_.startsWith("branches/")) &&
      !snap.manifest.exists(_.startsWith("branches/")))
    assert(!snap.props.contains("graft.branch.name"))
    // dropping the branch cannot orphan the clone
    CommitLog.dropBranch(spark, src, "dev")
    assert(rows(dst).size == 300) // 299 live + the append
  }

  test("the clone's exactly-once ledger starts empty: batches AND the " +
    "per-query txn props reset") {
    val src = freshLake()
    CommitLog.setProps(spark, src, Map(
      "graft.txn.some-query-id" -> "500", "user.prop" -> "kept"))
    val dst = Files.createTempDirectory("graft_clone_txn_").toString + "/t"
    val snap = CommitLog.cloneTable(spark, src, dst)
    assert(!snap.props.keys.exists(_.startsWith("graft.txn.")),
      "the source's sink replay ledger leaked into the clone — " +
        "re-pointed sinks would silently swallow replayed epochs")
    assert(snap.props.get("user.prop").contains("kept"))
    // a writer re-pointed at the clone lands its replayed id
    val n = rows(dst).size
    CommitLog.append(spark, Seq((900L, 9L, "d0")).toDF("k", "v", "pd"), dst,
      txn = Some(("some-query-id", 500L)))
    assert(rows(dst).size == n + 1)
  }

  test("clone refuses an existing target; CALL graft_clone and " +
    "Lake.cloneTo round-trip") {
    val src = freshLake()
    intercept[IllegalArgumentException](
      CommitLog.cloneTable(spark, src, src))
    val work = Files.createTempDirectory("graft_clone_sql_").toString
    spark.sql(s"CALL graft_clone('$src', '$work/sqlclone')").collect()
    assert(spark.sql(s"SELECT count(*) c FROM graft_lake('$work/sqlclone')")
      .head().getLong(0) == 300L)
    val lk = graft.api.Graft.lake(spark, src).cloneTo(s"$work/apiclone")
    assert(lk.read.count() == 300L)
  }
}
