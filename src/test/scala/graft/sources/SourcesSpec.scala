package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.RadarOps

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("equipment CSV: explicit schema, prunable projection") {
    val dir = Files.createTempDirectory("src-spec").toString
    Files.writeString(Paths.get(s"$dir/equip.csv"),
      """equipment,latitude,longitude,address,bus_lane,bike_lane,parking_lane,number_lanes
        |FS551JOI,-26.30,-48.84,Rua Blumenau,false,true,false,2
        |FS552JOI,-26.31,-48.85,Rua XV,true,false,false,3
        |""".stripMargin)
    val dim = Sources.equipmentCsv(spark, s"$dir/equip.csv")
    assert(dim.count() == 2)
    val row = dim.filter($"equipment" === "FS551JOI")
      .select($"bike_lane", $"number_lanes").as[(Boolean, Int)].head()
    assert(row == ((true, 2)))
    // projection prunes to one CSV column (the reference's usecols)
    val ids = dim.select("equipment").as[String].collect().toSet
    assert(ids == Set("FS551JOI", "FS552JOI"))
  }

  test("equipment JSON (Portuguese keys) + loadEquipments normalization") {
    val dir = Files.createTempDirectory("src-spec2").toString
    Files.writeString(Paths.get(s"$dir/equip.json"),
      """[{"equipamento":"FS551JOI","latitude":-26.3,"longitude":-48.8,
        |"endereco":"Rua Blumenau","endereco_alterado":"x","ciclofaixa":1,
        |"corredor":0,"estacionamento":0,"n_faixa_carro_sentido":2,
        |"radar_2_sentidos":"S"}]""".stripMargin)
    val dim = RadarOps.loadEquipments(Sources.equipmentJson(spark, s"$dir/equip.json"))
    assert(dim.columns.contains("equipment") && dim.columns.contains("bike_lane"))
    val row = dim.select($"equipment", $"bike_lane", $"bus_lane").as[(String, Boolean, Boolean)].head()
    assert(row == (("FS551JOI", true, false)))
  }

  // The keyed lake upsert is CommitLog.upsert; its merge, untouched-
  // partition file identity and replay cases live in CommitLogSpec
  // ("upsert is copy-on-write…", "a committed batch id replays as a
  // no-op…") and its zone-map freshness in "stats ride the commit…".

  test("CommitLog.upsert: a null partition value merges the null slice, never deletes it") {
    val dir = Files.createTempDirectory("upsert-null").toString + "/t"
    val base = Seq((1L, "a", Some("d1")), (2L, "b", None), (3L, "c", None))
      .toDF("k", "v", "pd")
    CommitLog.upsertOrCreate(spark, base, dir, Seq("k"), "pd")
    // update key 2 inside the null partition; key 3 must SURVIVE even
    // though isin(null) is three-valued
    val updates = Seq((2L, "b2", None: Option[String])).toDF("k", "v", "pd")
    CommitLog.upsert(spark, updates, dir, Seq("k"), "pd")
    val got = CommitLog.read(spark, dir)
      .select($"k", $"v", $"pd").as[(Long, String, Option[String])].collect().toSet
    assert(got == Set(
      (1L, "a", Some("d1")), (2L, "b2", None), (3L, "c", None)))
  }

  test("CommitLog.upsert with seqCol: stale updates lose, ties prefer the update") {
    val dir = Files.createTempDirectory("upsert-seq").toString + "/t"
    val base = Seq((1L, 5L, "v5", "d1"), (2L, 1L, "b1", "d1"))
      .toDF("k", "seq", "v", "pd")
    CommitLog.upsertOrCreate(spark, base, dir, Seq("k"), "pd", seqCol = Some("seq"))
    val updates = Seq(
      (1L, 3L, "v3", "d1"),  // stale: must NOT regress the seq-5 row
      (2L, 1L, "b1b", "d1"), // seq tie: the update wins
      (3L, 1L, "c", "d1"))   // plain insert
      .toDF("k", "seq", "v", "pd")
    CommitLog.upsert(spark, updates, dir, Seq("k"), "pd", seqCol = Some("seq"))
    val got = CommitLog.read(spark, dir)
      .select($"k", $"seq", $"v", $"pd").as[(Long, Long, String, String)]
      .collect().toSet
    assert(got == Set(
      (1L, 5L, "v5", "d1"), (2L, 1L, "b1b", "d1"), (3L, 1L, "c", "d1")))
  }

  test("flows CSV sink partitions by pubdate") {
    val dir = Files.createTempDirectory("src-spec3").toString
    val df = Seq(("2021-03-01", "E1", 5), ("2021-03-02", "E1", 7))
      .toDF("pubdate", "equipment", "total")
    Sources.flowsCsv(df, s"$dir/flows")
    assert(new java.io.File(s"$dir/flows/pubdate=2021-03-01").exists())
    val back = spark.read.option("header", "true").csv(s"$dir/flows")
    assert(back.count() == 2)
  }

  test("ORC lake round-trips with partition pruning and pushed filters") {
    val dir = Files.createTempDirectory("src-spec4").toString
    val df = Seq(("2021-03-01", "E1", 5), ("2021-03-02", "E1", 7),
      ("2021-03-02", "E2", 9))
      .toDF("pubdate", "equipment", "total")
    Sources.flowsOrc(df, s"$dir/flows")
    assert(new java.io.File(s"$dir/flows/pubdate=2021-03-02").exists())
    val back = Sources.orcTable(spark, s"$dir/flows")
      .filter($"pubdate" === "2021-03-02" && $"total" > 5)
    assert(back.select($"equipment", $"total").as[(String, Int)]
      .collect().toSet == Set(("E1", 7), ("E2", 9)))
    // partition pruning: only the matching pubdate directory is scanned
    val plan = back.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters: [IsNotNull(total), GreaterThan(total,5)]"),
      s"orc filter not pushed:\n$plan")
  }
}
