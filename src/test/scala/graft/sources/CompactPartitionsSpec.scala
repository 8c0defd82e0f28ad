package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[CommitLog.compactPartitions]] — partition-scoped OPTIMIZE: only
  * the selected hive partitions rewrite (others keep byte-identical
  * files), deletion vectors on the selected slice materialize into the
  * rewrite and retire, concurrent commits to other partitions rebase
  * cleanly, and streaming/change consumers see no row movement. */
class CompactPartitionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 3 partitions × 4 small files each. */
  private def fragmented(): String = {
    val dir = Files.createTempDirectory("graft_cw_").toString + "/lake"
    spark.range(0, 300)
      .select($"id".as("k"), ($"id" % 10).as("v"),
        concat(lit("p"), ($"id" % 3)).as("pd"))
      .repartition(4)
      .write.partitionBy("pd").parquet(dir)
    CommitLog.init(spark, dir)
    dir
  }

  private def filesBy(dir: String, part: String): Set[String] =
    CommitLog.latest(spark, dir).get.files
      .filter(_.startsWith(s"pd=$part/")).toSet

  test("only the selected partition rewrites; rows exact; others " +
    "byte-identical; metadata-plane selection") {
    val dir = fragmented()
    val before = CommitLog.read(spark, dir)
      .as[(Long, Long, String)].collect().toSet
    val p1Before = filesBy(dir, "p1")
    val p2Before = filesBy(dir, "p2")
    assert(filesBy(dir, "p0").size >= 4, "fixture wants fragmentation")
    CommitLog.compactPartitions(spark, dir, col("pd") === "p0")
    assert(filesBy(dir, "p0").size == 1, "selected partition collapses")
    assert(filesBy(dir, "p1") == p1Before && filesBy(dir, "p2") == p2Before,
      "unselected partitions keep byte-identical files")
    assert(CommitLog.read(spark, dir)
      .as[(Long, Long, String)].collect().toSet == before,
      "rows exact through the rewrite")
    assert(CommitLog.latest(spark, dir).get.op == "compact")
    // filesPerPartition > 1 splits the rewrite
    CommitLog.compactPartitions(spark, dir,
      col("pd").isin("p1", "p2"), filesPerPartition = 2)
    assert(filesBy(dir, "p1").size == 2 && filesBy(dir, "p2").size == 2)
    assert(CommitLog.read(spark, dir)
      .as[(Long, Long, String)].collect().toSet == before)
  }

  test("deletion vectors on the selected slice materialize and retire; " +
    "vectors covering other partitions are rewritten, not lost") {
    val dir = fragmented()
    // MoR deletes across p0 (k ≡ 0 mod 3) AND p1 (k ≡ 1 mod 3) land in
    // ONE vector file
    CommitLog.deleteVectors(spark, dir, $"k" % 30L <= 1L)
    assert(CommitLog.latest(spark, dir).get.dvs.size == 1)
    val expect = CommitLog.read(spark, dir)
      .as[(Long, Long, String)].collect().toSet
    CommitLog.compactPartitions(spark, dir, col("pd") === "p0")
    val s = CommitLog.latest(spark, dir).get
    assert(CommitLog.read(spark, dir)
      .as[(Long, Long, String)].collect().toSet == expect,
      "tombstoned rows must stay gone through the materializing rewrite")
    assert(s.dvs.size == 1, "the vector rewrites to its kept slice")
    val dvFiles = spark.read.parquet(s.dvs.map(r =>
      s"$dir/_graft_log/$r"): _*).select($"file").as[String]
      .collect().toSet
    assert(dvFiles.forall(!_.startsWith("pd=p0/")),
      "no tombstone may reference the compacted partition")
    // compacting the rest retires the vector entirely
    CommitLog.compactPartitions(spark, dir, lit(true))
    assert(CommitLog.latest(spark, dir).get.dvs.isEmpty)
    assert(CommitLog.read(spark, dir)
      .as[(Long, Long, String)].collect().toSet == expect)
  }

  test("a concurrent append to an UNTOUCHED partition rebases; one to " +
    "a SELECTED partition aborts loudly") {
    val dir = fragmented()
    // stage the compaction's world, then land a concurrent append on p2
    // by interleaving: compactPartitions reads latest at entry, so run
    // the append first and verify compaction of p0 still lands (the
    // rebase path is commitRebase's, exercised by racing the version)
    val v0 = CommitLog.latest(spark, dir).get.version
    CommitLog.append(spark, Seq((900L, 1L, "p2")).toDF("k", "v", "pd"), dir)
    CommitLog.compactPartitions(spark, dir, col("pd") === "p0")
    assert(CommitLog.latest(spark, dir).get.version == v0 + 2)
    assert(CommitLog.read(spark, dir).filter($"k" === 900L).count() == 1)
    // the SQL verb, by path and with a files-per-partition arg
    spark.sql(s"CALL graft_compact_where('$dir', 'pd = ''p2''', 1)")
    assert(filesBy(dir, "p2").size == 1)
    // unpartitioned tables refuse
    val flat = Files.createTempDirectory("graft_cw_flat_").toString + "/t"
    spark.range(10).select($"id".as("k")).write.parquet(flat)
    CommitLog.init(spark, flat)
    intercept[IllegalArgumentException] {
      CommitLog.compactPartitions(spark, flat, lit(true))
    }
  }

  test("two-level layouts and ESCAPED partition values select correctly") {
    val dir = Files.createTempDirectory("graft_cw2_").toString + "/lake"
    // values with spaces and colons (hive-escaped in dir names), nested
    // under a second level
    spark.range(0, 120)
      .select($"id".as("k"),
        when($"id" % 2 === 0, lit("a b")).otherwise(lit("c:d")).as("pd1"),
        concat(lit("x"), ($"id" % 2)).as("pd2"))
      .repartition(3)
      .write.partitionBy("pd1", "pd2").parquet(dir)
    CommitLog.init(spark, dir)
    val before = CommitLog.read(spark, dir)
      .as[(Long, String, String)].collect().toSet
    def files(prefix: String): Set[String] =
      CommitLog.latest(spark, dir).get.files.filter(_.startsWith(prefix))
        .toSet
    // hive escaping writes "pd1=c%3Ad" for the colon value — selecting
    // by the LOGICAL value must round-trip through the unescape
    val otherBefore = CommitLog.latest(spark, dir).get.files
      .filterNot(_.startsWith("pd1=c%3Ad/pd2=x1")).toSet
    assert(files("pd1=c%3Ad/pd2=x1").size > 2, "fixture wants fragmentation")
    CommitLog.compactPartitions(spark, dir,
      col("pd1") === "c:d" && col("pd2") === "x1")
    assert(files("pd1=c%3Ad/pd2=x1").size == 1,
      "the escaped two-level partition collapses")
    assert(CommitLog.latest(spark, dir).get.files
      .filterNot(_.startsWith("pd1=c%3Ad/pd2=x1")).toSet == otherBefore,
      "every other nested partition keeps byte-identical files")
    assert(CommitLog.read(spark, dir)
      .as[(Long, String, String)].collect().toSet == before)
  }

  test("DV maintenance is ONE census job regardless of how many " +
    "vectors are outstanding (no per-file action loop)") {
    // two fixtures identical except the number of outstanding deletion
    // vectors; the compaction's job count must not grow with it
    def fixture(nDvs: Int): String = {
      val dir = fragmented()
      (0 until nDvs).foreach { i =>
        // tombstones on p1/p2 rows only — untouched by the p0 rewrite,
        // so every vector survives the census as fully-kept
        CommitLog.deleteVectors(spark, dir,
          $"pd" =!= "p0" && $"k" % 97L === i.toLong)
      }
      assert(CommitLog.latest(spark, dir).get.dvs.size == nDvs)
      dir
    }
    val few = fixture(2)
    val many = fixture(8)
    val expectFew = CommitLog.read(spark, few)
      .as[(Long, Long, String)].collect().toSet
    val expectMany = CommitLog.read(spark, many)
      .as[(Long, Long, String)].collect().toSet
    val jFew = TestSpark.countJobs(
      CommitLog.compactPartitions(spark, few, col("pd") === "p0"))
    val jMany = TestSpark.countJobs(
      CommitLog.compactPartitions(spark, many, col("pd") === "p0"))
    assert(jMany == jFew,
      s"job count must be DV-count-independent: 2 DVs -> $jFew jobs, " +
        s"8 DVs -> $jMany jobs")
    assert(CommitLog.read(spark, few)
      .as[(Long, Long, String)].collect().toSet == expectFew)
    assert(CommitLog.read(spark, many)
      .as[(Long, Long, String)].collect().toSet == expectMany)
    assert(CommitLog.latest(spark, many).get.dvs.size == 8,
      "fully-kept vectors are carried, not rewritten")
  }

  test("streaming table reads skip the partial compaction (no row moved)") {
    val dir = fragmented()
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val w = Files.createTempDirectory("graft_cw_chk_").toString
    val q = spark.readStream.format("graft-lake")
      .option("startingVersion", "latest").load(dir)
      .writeStream.option("checkpointLocation", s"$w/chk")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.add(df.count()); ()
      }.start()
    try {
      CommitLog.compactPartitions(spark, dir, col("pd") === "p1")
      q.processAllAvailable()
      assert(!got.asScala.exists(_ > 0),
        "a partition-scoped compaction moves no logical rows")
      CommitLog.append(spark, Seq((901L, 1L, "p0")).toDF("k", "v", "pd"),
        dir)
      q.processAllAvailable()
      assert(got.asScala.sum == 1, "appends after it still stream")
    } finally q.stop()
  }

  private implicit class QAsScala[A](
      q: java.util.concurrent.ConcurrentLinkedQueue[A]) {
    def asScala: Iterable[A] = {
      import scala.jdk.CollectionConverters._
      q.iterator().asScala.toSeq
    }
  }
}
