package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The commit protocol's three conflict rules, each driven through a
  * REAL lost CAS: a racing [[LogStore]] registered for the `file`
  * scheme lands one racer commit into a chosen log directory just
  * before the verb's own CAS, then delegates to the POSIX default — so
  * the verb's CAS always loses exactly once.
  *
  *  - rebase (`append`): lands on top of the racer, both rows present;
  *  - abort (`compact`, `setProps`): throws "lost the commit race" and
  *    the log stays at the racer's version;
  *  - re-derive (`sinkOverwrite`, `fenceBranch`, `LakeTxn.commit`):
  *    re-reads and lands on top of the racer.
  */
class CommitProtocolSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Fires `racer` once, at the first CAS into `logDir`, then behaves
    * exactly like the default store. The racer's own commit goes
    * through this store too, after it has disarmed. */
  private final class RacingStore(logDir: String, racer: () => Unit)
      extends LogStore {
    @volatile private var armed = true
    @volatile var fired = false
    override def casWrite(f: FileSystem, p: Path, text: String): Unit = {
      if (armed && p.getParent.toUri.getPath == logDir) {
        armed = false
        racer()
        fired = true
      }
      AtomicCreateLogStore.casWrite(f, p, text)
    }
  }

  /** Run `body` with a racer armed on `logDir`; asserts it fired. */
  private def racing[A](logDir: String)(racer: => Unit)(body: => A): A = {
    val store = new RacingStore(
      new Path(logDir).toUri.getPath.stripSuffix("/"), () => racer)
    LogStore.register("file", store)
    try {
      val out = body
      assert(store.fired, s"the racer never fired on $logDir")
      out
    } finally LogStore.unregister("file")
  }

  private def freshLake(): String = {
    val dir = Files.createTempDirectory("graft_proto_").toString + "/lake"
    spark.range(0, 40)
      .select($"id".as("k"), ($"id" % 7).as("v"),
        concat(lit("d"), ($"id" / 20).cast("long")).as("pd"))
      .write.partitionBy("pd").parquet(dir)
    CommitLog.init(spark, dir, Seq("k"))
    dir
  }

  private def logOf(dir: String) = s"$dir/_graft_log"
  private def version(dir: String) = CommitLog.latest(spark, dir).get.version
  private def keys(dir: String): Set[Long] =
    CommitLog.read(spark, dir).select($"k").as[Long].collect().toSet

  private def racerAppend(dir: String, k: Long, pd: String): Unit =
    CommitLog.append(spark, Seq((k, 1L, pd)).toDF("k", "v", "pd"), dir)

  test("rebase: append loses its CAS, rebases and lands on top") {
    val dir = freshLake()
    val v0 = version(dir)
    val snap = racing(logOf(dir))(racerAppend(dir, 9001L, "d0")) {
      CommitLog.append(spark,
        Seq((9002L, 2L, "d1")).toDF("k", "v", "pd"), dir)
    }
    assert(snap.version == v0 + 2, s"expected v${v0 + 2}, got v${snap.version}")
    assert(version(dir) == v0 + 2)
    assert(Set(9001L, 9002L).subsetOf(keys(dir)), "a row went missing")
    assert(keys(dir).size == 42)
  }

  test("abort: compact throws 'lost the commit race', log at the racer") {
    val dir = freshLake()
    val v0 = version(dir)
    val e = intercept[IllegalStateException] {
      racing(logOf(dir))(racerAppend(dir, 9001L, "d0")) {
        CommitLog.compact(spark, dir, 1)
      }
    }
    assert(e.getMessage.contains("lost the commit race"), e.getMessage)
    assert(version(dir) == v0 + 1, "the log must stay at the racer's version")
    assert(CommitLog.latest(spark, dir).get.op != "compact")
    assert(keys(dir).size == 41)
  }

  test("abort: setProps throws 'lost the commit race', log at the racer") {
    val dir = freshLake()
    val v0 = version(dir)
    val e = intercept[IllegalStateException] {
      racing(logOf(dir))(CommitLog.setProps(spark, dir, Map("racer" -> "1"))) {
        CommitLog.setProps(spark, dir, Map("mine" -> "1"))
      }
    }
    assert(e.getMessage.contains("lost the commit race"), e.getMessage)
    val head = CommitLog.latest(spark, dir).get
    assert(head.version == v0 + 1)
    assert(head.props.get("racer").contains("1"))
    assert(!head.props.contains("mine"))
  }

  test("re-derive: sinkOverwrite re-stages on the racer's snapshot") {
    val dir = freshLake()
    val v0 = version(dir)
    val replacement = Seq((1L, 5L, "d0"), (2L, 5L, "d1")).toDF("k", "v", "pd")
    val snap = racing(logOf(dir))(racerAppend(dir, 9001L, "d0")) {
      CommitLog.sinkOverwrite(spark, replacement, dir, Seq("pd"), "q1", 0L)
    }
    assert(snap.version == v0 + 2)
    assert(keys(dir) == Set(1L, 2L), "the overwrite must replace the racer's rows")
    assert(CommitLog.latest(spark, dir).get.props.get("graft.txn.q1")
      .contains("0"), "the txn ledger entry must ride the overwrite")
    // the ledger entry landed with the data: a replay is a no-op
    CommitLog.sinkOverwrite(spark, replacement, dir, Seq("pd"), "q1", 0L)
    assert(version(dir) == v0 + 2)
  }

  test("re-derive: fenceBranch retries on top of a racing branch write") {
    val dir = freshLake()
    CommitLog.createBranch(spark, dir, "exp")
    val t = CommitLog.branchTarget(dir, "exp")
    val v0 = version(t)
    val stamp = racing(s"${logOf(dir)}/branches/exp")(
        racerAppend(t, 9001L, "d1")) {
      CommitLog.fenceBranch(spark, dir, "exp", "cafe0001@0")
    }
    assert(stamp.version == v0 + 2)
    val head = CommitLog.latest(spark, t).get
    assert(head.props.get(CommitLog.FenceProp).contains("cafe0001@0"))
    assert(keys(t).contains(9001L), "the fence must carry the racer's write")
    CommitLog.unfenceBranch(spark, dir, "exp")
  }

  test("re-derive: LakeTxn.commit retries on top of a racing manifest") {
    val w = Files.createTempDirectory("graft_proto_txn_").toString
    val a = freshLake()
    val b = freshLake()
    val txn = s"$w/txn"
    LakeTxn.commit(spark, txn, Map(a -> version(a)), batchId = Some(0L))
    val st = racing(txn)(
        LakeTxn.commit(spark, txn, Map(b -> version(b)), batchId = Some(1L))) {
      LakeTxn.commit(spark, txn, Map(a -> version(a)), batchId = Some(2L))
    }
    assert(st.txn == 3L, s"expected manifest t3, got t${st.txn}")
    assert(st.batches.toSet == Set(0L, 1L, 2L))
    assert(LakeTxn.pinOf(spark, txn, a) == version(a))
    assert(LakeTxn.pinOf(spark, txn, b) == version(b))
  }
}
