package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.LakeFollow

/** One exactly-once identity per lake table: every idempotent write
  * keys on its writer's `(appId, version)` entry (`graft.txn.<appId>`),
  * so writers whose ids overlap never skip each other, and a mirror's
  * resume cursor is its own entry, not the greatest id any writer left.
  */
class TxnIdentitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def work(): String = {
    val d = Files.createTempDirectory("graft_txnid_")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def state(dir: String): Set[(Long, Long, String)] =
    CommitLog.read(spark, dir).select($"k", $"v", $"pd")
      .as[(Long, Long, String)].collect().toSet

  private def rows(ks: Range, v: Long, pd: String) =
    ks.map(k => (k.toLong, v, pd)).toDF("k", "v", "pd")

  private def mirrored(src: String, dst: String): Long =
    CommitLog.latest(spark, dst)
      .flatMap(CommitLog.txnVersion(_, LakeFollow.followAppId(src)))
      .getOrElse(-1L)

  private def awaitMirrored(src: String, dst: String): Unit = {
    val want = CommitLog.latest(spark, src).get.version
    val t0 = System.currentTimeMillis()
    while (mirrored(src, dst) < want) {
      if (System.currentTimeMillis() - t0 > 30000L)
        fail(s"mirror did not reach source version $want")
      Thread.sleep(100)
    }
  }

  test("a mirror replica another writer also writes, with an " +
      "overlapping id, holds every source version after a restart") {
    val w = work()
    val src = s"$w/src"; val dst = s"$w/dst"
    rows(0 until 30, 1L, "d0").union(rows(30 until 60, 1L, "d1"))
      .union(rows(60 until 90, 1L, "d2"))
      .write.partitionBy("pd").parquet(src)
    CommitLog.init(spark, src)
    LakeFollow.bootstrapMirror(spark, src, dst, "pd")
    val q1 = LakeFollow.mirror(spark, src, dst, "pd",
      checkpointDir = s"$w/chk1")
    try {
      CommitLog.upsert(spark, rows(0 until 5, 2L, "d0"), src, Seq("k"), "pd")
      awaitMirrored(src, dst) // the mirror applied source v2
    } finally q1.stop()
    // a second writer lands in the replica's own partition under id 3 —
    // the number of a source version the mirror has not applied yet
    CommitLog.append(spark, rows(900 until 903, 0L, "x"), dst,
      txn = Some(("side-loader", 3L)))
    CommitLog.upsert(spark, rows(30 until 35, 3L, "d1"), src, Seq("k"), "pd")
    CommitLog.upsert(spark, rows(60 until 65, 4L, "d2"), src, Seq("k"), "pd")
    val q2 = LakeFollow.mirror(spark, src, dst, "pd",
      checkpointDir = s"$w/chk2")
    try awaitMirrored(src, dst) finally q2.stop()
    assert(state(dst).filterNot(_._3 == "x") == state(src),
      "the restarted mirror skipped a source version")
    assert(state(dst).count(_._3 == "x") == 3,
      "the second writer's rows are gone")
  }

  test("two writers with overlapping ids both land; each replay no-ops") {
    val dir = s"${work()}/lake"
    rows(0 until 10, 0L, "d0").write.partitionBy("pd").parquet(dir)
    CommitLog.init(spark, dir)
    val a = rows(100 until 103, 1L, "d0")
    val b = rows(200 until 204, 2L, "d1")
    CommitLog.append(spark, a, dir, txn = Some(("writer-a", 1L)))
    CommitLog.append(spark, b, dir, txn = Some(("writer-b", 1L)))
    assert(CommitLog.read(spark, dir).count() == 17L,
      "the second writer's id 1 was taken for the first writer's")
    val v = CommitLog.latest(spark, dir).get.version
    CommitLog.append(spark, a, dir, txn = Some(("writer-a", 1L)))
    CommitLog.append(spark, b, dir, txn = Some(("writer-b", 1L)))
    assert(CommitLog.latest(spark, dir).get.version == v,
      "a replay committed a new version")
    assert(CommitLog.read(spark, dir).count() == 17L)
    val s = CommitLog.latest(spark, dir).get
    assert(CommitLog.txnVersion(s, "writer-a").contains(1L) &&
      CommitLog.txnVersion(s, "writer-b").contains(1L))
  }

  test("a version file carrying the retired batches/batchFloor fields " +
      "still parses and reads; its ids are not honoured") {
    val dir = s"${work()}/lake"
    rows(0 until 10, 0L, "d0").write.partitionBy("pd").parquet(dir)
    CommitLog.init(spark, dir)
    val log = Paths.get(dir, "_graft_log")
    val v1 = new String(
      Files.readAllBytes(log.resolve(f"v${1L}%020d.json")), UTF_8)
    val legacy = v1.replaceFirst("^\\{\"version\":1,",
      "{\"version\":2,\"batches\":[5,6],\"batchFloor\":4,")
    assert(legacy != v1, s"unexpected version-file head: ${v1.take(40)}")
    Files.write(log.resolve(f"v${2L}%020d.json"), legacy.getBytes(UTF_8))
    assert(CommitLog.latest(spark, dir).get.version == 2L)
    assert(state(dir) == rows(0 until 10, 0L, "d0").as[(Long, Long, String)]
      .collect().toSet)
    // id 5 was in the legacy set; a writer keyed on it still lands
    CommitLog.append(spark, rows(10 until 12, 0L, "d0"), dir,
      txn = Some(("w", 5L)))
    assert(CommitLog.read(spark, dir).count() == 12L)
    val v3 = new String(
      Files.readAllBytes(log.resolve(f"v${3L}%020d.json")), UTF_8)
    assert(!v3.contains("\"batches\"") && !v3.contains("batchFloor"),
      s"a new version file still writes the retired fields: $v3")
  }
}
