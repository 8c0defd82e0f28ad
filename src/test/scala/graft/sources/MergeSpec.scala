package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[CommitLog.merge]]: the three-clause conditional MERGE must apply
  * delete-then-update on matched rows, insert-only-when on unmatched
  * source rows, keep every unmatched target row, stay file-pruned to the
  * source's partitions, and honor the same ledger/duplicate-key/schema
  * contracts as the upsert path — all in one atomic commit. */
class MergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** k ∈ [0, 300), v = k % 100, pd = p0/p1/p2 by thirds. */
  private def freshLake(): String = {
    val dir = Files.createTempDirectory("graft_merge_").toString + "/lake"
    spark.range(0, 300)
      .select($"id".as("k"), ($"id" % 100).as("v"),
        concat(lit("p"), ($"id" / 100).cast("long")).as("pd"))
      .write.partitionBy("pd").parquet(dir)
    CommitLog.init(spark, dir)
    dir
  }

  private def state(dir: String): Map[Long, (Long, String)] =
    CommitLog.read(spark, dir).select($"k", $"v", $"pd")
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  test("update/delete/insert clauses fire by condition; unmatched target rows survive") {
    val dir = freshLake()
    // source: keys 50..149 (50..99 in p0, 100..149 in p1) with v' = v + 1000,
    // plus brand-new keys 900..909 landing in p1
    val src = spark.range(50, 150)
      .select($"id".as("k"), ($"id" % 100 + 1000).as("v"),
        concat(lit("p"), ($"id" / 100).cast("long")).as("pd"))
      .unionByName(spark.range(900, 910)
        .select($"id".as("k"), lit(7L).as("v"), lit("p1").as("pd")))
    CommitLog.merge(spark, dir, src, Seq("k"), "pd",
      updateWhen = Some("s.v < 1080"),          // matched, new v under 1080 → update
      deleteWhen = Some("t.v >= 90"),           // matched, old v ≥ 90 → delete
      insertWhen = Some("s.k % 2 = 0"))         // unmatched → insert evens only
    val st = state(dir)
    // matched keys 90..99 and 190..199? no — source covers 50..149: t.v ≥ 90 ⇔ k%100 ≥ 90 ⇔ k ∈ 90..99 (p0 slice only, 100..149 have v 0..49)
    (90 to 99).foreach(k => assert(!st.contains(k.toLong), s"k=$k should be deleted"))
    // matched k ∈ 50..89: old v 50..89, new v 1050..1089; update fires only when new v < 1080 ⇔ k ≤ 79
    (50 to 79).foreach(k => assert(st(k.toLong)._1 == k + 1000L, s"k=$k should be updated"))
    (80 to 89).foreach(k => assert(st(k.toLong)._1 == k.toLong, s"k=$k kept (update cond false)"))
    // matched k ∈ 100..149: old v 0..49, new v 1000..1049 < 1080 → all updated
    (100 to 149).foreach(k => assert(st(k.toLong)._1 == (k % 100) + 1000L))
    // unmatched target rows unchanged
    (0 to 49).foreach(k => assert(st(k.toLong)._1 == k.toLong))
    (150 to 299).foreach(k => assert(st(k.toLong)._1 == (k % 100).toLong))
    // inserts: evens of 900..909 only
    (900 to 909).foreach { k =>
      if (k % 2 == 0) assert(st(k.toLong) == (7L, "p1"), s"k=$k should be inserted")
      else assert(!st.contains(k.toLong), s"k=$k insert condition false")
    }
  }

  test("delete is evaluated before update when both conditions hold") {
    val dir = freshLake()
    val src = spark.range(10, 20)
      .select($"id".as("k"), ($"id" + 5000).as("v"), lit("p0").as("pd"))
    CommitLog.merge(spark, dir, src, Seq("k"), "pd",
      updateWhen = Some("true"), deleteWhen = Some("true"))
    val st = state(dir)
    (10 to 19).foreach(k => assert(!st.contains(k.toLong), s"k=$k delete must win"))
    assert(st.size == 290)
  }

  test("untouched partitions keep byte-identical files (COW pruning)") {
    val dir = freshLake()
    def filesOf(part: String): Set[String] =
      CommitLog.latestFiles(spark, dir).get._2
        .filter(_.contains(s"pd=$part")).toSet
    val p2Before = filesOf("p2")
    val src = Seq((5L, 9999L, "p0")).toDF("k", "v", "pd")
    CommitLog.merge(spark, dir, src, Seq("k"), "pd")
    assert(filesOf("p2") == p2Before, "p2 files must not be rewritten")
    assert(state(dir)(5L)._1 == 9999L)
  }

  test("a replayed batchId is a no-op; duplicate source keys fail loudly") {
    val dir = freshLake()
    val src = Seq((5L, 111L, "p0")).toDF("k", "v", "pd")
    val v1 = CommitLog.merge(spark, dir, src, Seq("k"), "pd",
      txn = Some(("w", 42L))).version
    val v2 = CommitLog.merge(spark, dir,
      Seq((5L, 222L, "p0")).toDF("k", "v", "pd"), Seq("k"), "pd",
      txn = Some(("w", 42L))).version
    assert(v1 == v2 && state(dir)(5L)._1 == 111L, "replay must not double-apply")
    val dup = Seq((7L, 1L, "p0"), (7L, 2L, "p0")).toDF("k", "v", "pd")
    val e = intercept[IllegalArgumentException] {
      CommitLog.merge(spark, dir, dup, Seq("k"), "pd")
    }
    assert(e.getMessage.contains("duplicate keys"))
  }

  test("null clause conditions fire nothing (three-valued logic)") {
    val dir = freshLake()
    // t.v = null comparison — condition is NULL for every row; no clause
    // may fire on null, so the merge must change nothing but run clean
    val src = Seq((5L, 111L, "p0")).toDF("k", "v", "pd")
    CommitLog.merge(spark, dir, src, Seq("k"), "pd",
      updateWhen = Some("t.v < cast(null as long)"),
      deleteWhen = Some("s.v > cast(null as long)"),
      insertWhen = Some("cast(null as boolean)"))
    assert(state(dir)(5L)._1 == 5L)
  }

  test("merge carries additive schema evolution; old rows read null") {
    val dir = freshLake()
    val src = Seq((5L, 111L, "p0", "tagged")).toDF("k", "v", "pd", "note")
    CommitLog.merge(spark, dir, src, Seq("k"), "pd")
    val out = CommitLog.read(spark, dir)
    assert(out.columns.contains("note"))
    assert(out.filter($"k" === 5L).select($"note").as[String].head() == "tagged")
    assert(out.filter($"note".isNotNull).count() == 1L)
  }

  test("whenNotMatchedBySource delete fires across ALL partitions, gated per row") {
    val dir = freshLake()
    // source names only keys 50..99 (partition p0); the sync clause must
    // judge unmatched rows in EVERY partition, not just the source's
    val src = spark.range(50, 100)
      .select($"id".as("k"), ($"id" % 100 + 1000).as("v"), lit("p0").as("pd"))
    CommitLog.merge(spark, dir, src, Seq("k"), "pd",
      updateWhen = Some("true"),
      notMatchedBySourceDeleteWhen = Some("t.v % 2 = 0"))
    val st = state(dir)
    (50 to 99).foreach(k => assert(st(k.toLong)._1 == k + 1000L, s"k=$k updated"))
    ((0 to 49) ++ (100 to 299)).foreach { k =>
      if (k % 100 % 2 == 0) assert(!st.contains(k.toLong), s"k=$k sync-deleted")
      else assert(st(k.toLong)._1 == (k % 100).toLong, s"k=$k survives (odd v)")
    }
    assert(st.size == 50 + 25 + 100)
  }

  test("without the not-matched-by-source clause, untouched partitions are never read or rewritten") {
    // negative control for the full-table opt-in: the plain three-clause
    // merge keeps partition pruning (already pinned by the COW test) and
    // the sync clause alone forces the wide read
    val dir = freshLake()
    def files(): Set[String] =
      CommitLog.latestFiles(spark, dir).get._2.toSet
    val before = files().filter(_.contains("pd=p2"))
    CommitLog.merge(spark, dir,
      Seq((5L, 1L, "p0")).toDF("k", "v", "pd"), Seq("k"), "pd",
      notMatchedBySourceDeleteWhen = Some("t.k = 250"))
    assert(!state(dir).contains(250L), "sync delete must reach p2")
    assert(files().filter(_.contains("pd=p2")) != before,
      "the sync clause rewrites the partitions it judged")
  }

  test("property: merge ≡ a row-at-a-time reference model across random tables and clause draws") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // condition templates paired with their Scala mirrors (t.v, s.v)
    type Cond = (Option[String], (Option[Long], Option[Long]) => Boolean)
    val never: Cond = (None, (_, _) => false)
    val always: Cond = (Some("true"), (_, _) => true)
    val sLow: Cond = (Some("s.v < 50"), (_, s) => s.exists(_ < 50))
    val sBeatsT: Cond = (Some("s.v > t.v"),
      (t, s) => (for { a <- s; b <- t } yield a > b).getOrElse(false))
    val tHigh: Cond = (Some("t.v >= 80"), (t, _) => t.exists(_ >= 80))
    val sEven: Cond = (Some("s.v % 2 = 0"), (_, s) => s.exists(_ % 2 == 0))
    val tTiny: Cond = (Some("t.v < 10"), (t, _) => t.exists(_ < 10))
    val rowsGen = Gen.mapOf(Gen.zip(Gen.choose(0L, 29L), Gen.choose(0L, 99L)))
    val caseGen = for {
      target <- rowsGen.suchThat(_.nonEmpty)
      source <- rowsGen
      upd <- Gen.oneOf[Cond](never, always, sLow, sBeatsT)
      del <- Gen.oneOf[Cond](never, tHigh, sBeatsT)
      ins <- Gen.oneOf[Cond](never, always, sEven)
      nmbs <- Gen.oneOf[Cond](never, tTiny)
    } yield (target, source, upd, del, ins, nmbs)
    val cases = (0 until 8).flatMap(i =>
      caseGen.apply(Gen.Parameters.default, Seed(1234L + i)))
    cases.zipWithIndex.foreach {
      case ((target, source, upd, del, ins, nmbs), i) =>
        val dir = Files.createTempDirectory(s"graft_merge_prop$i").toString + "/lake"
        def pd(k: Long) = s"p${k / 10}"
        target.toSeq.map { case (k, v) => (k, v, pd(k)) }
          .toDF("k", "v", "pd").write.partitionBy("pd").parquet(dir)
        CommitLog.init(spark, dir)
        CommitLog.merge(spark, dir,
          source.toSeq.map { case (k, v) => (k, v, pd(k)) }
            .toDF("k", "v", "pd"),
          Seq("k"), "pd", updateWhen = upd._1, deleteWhen = del._1,
          insertWhen = ins._1, notMatchedBySourceDeleteWhen = nmbs._1)
        // the reference model, one row at a time
        val expected: Map[Long, Long] =
          target.flatMap { case (k, tv) =>
            source.get(k) match {
              case Some(sv) =>
                if (del._2(Some(tv), Some(sv))) None
                else if (upd._2(Some(tv), Some(sv))) Some(k -> sv)
                else Some(k -> tv)
              case None =>
                if (nmbs._2(Some(tv), None)) None else Some(k -> tv)
            }
          } ++ source.collect {
            case (k, sv) if !target.contains(k) && ins._2(None, Some(sv)) =>
              k -> sv
          }
        val got = state(dir).map { case (k, (v, _)) => k -> v }
        assert(got == expected,
          s"case $i: upd=${upd._1} del=${del._1} ins=${ins._1} " +
            s"nmbs=${nmbs._1}\n target=$target\n source=$source")
    }
  }

  test("insert-only merge into empty partitions stages new files; source-only rows respect insertWhen") {
    val dir = freshLake()
    val src = Seq((1000L, 1L, "p9"), (1001L, 2L, "p9")).toDF("k", "v", "pd")
    CommitLog.merge(spark, dir, src, Seq("k"), "pd",
      insertWhen = Some("s.v = 1"))
    val st = state(dir)
    assert(st(1000L) == (1L, "p9"))
    assert(!st.contains(1001L))
    assert(st.size == 301)
  }

  test("mergeClauses: an ordered chain of conditional clauses — first " +
    "match wins, any number of updates/deletes/inserts") {
    val dir = freshLake()
    // matched chain: tiny delta → +delta; big delta → halve; else delete.
    // not-matched chain: delta = 1 → insert doubled; else insert as-is.
    val src = Seq(
      (10L, 1L, "p0"),   // matched, delta <= 3      → v + 1
      (20L, 50L, "p0"),  // matched, delta > 3       → v / 2 (v=20 → 10)
      (30L, 999L, "p0"), // matched, delta = 999     → DELETE
      (900L, 1L, "p0"),  // unmatched, delta = 1     → insert 2 * delta
      (901L, 7L, "p0"))  // unmatched, fallthrough   → insert delta
      .toDF("k", "delta", "pd")
    CommitLog.mergeClauses(spark, dir, src, Seq("k"), "pd",
      matched = Seq(
        CommitLog.MergeMatched("s.delta = 999", delete = true),
        CommitLog.MergeMatched("s.delta <= 3",
          set = Some(Map("v" -> "t.v + s.delta"))),
        CommitLog.MergeMatched("true",
          set = Some(Map("v" -> "CAST(t.v / 2 AS BIGINT)")))),
      notMatched = Seq(
        CommitLog.MergeNotMatched("s.delta = 1", values = Some(Map(
          "k" -> "s.k", "v" -> "s.delta * 2", "pd" -> "s.pd"))),
        CommitLog.MergeNotMatched("true", values = Some(Map(
          "k" -> "s.k", "v" -> "s.delta", "pd" -> "s.pd")))))
    val st = state(dir)
    assert(st(10L) == (10L + 1L, "p0"))
    assert(st(20L) == (10L, "p0"), "second matched clause fires")
    assert(!st.contains(30L), "delete clause fires first for delta=999")
    assert(st(900L) == (2L, "p0"), "first insert clause wins")
    assert(st(901L) == (7L, "p0"), "fallthrough insert clause")
    assert(st.size == 300 - 1 + 2)
  }

  test("SQL MERGE with a multi-clause chain (two conditional updates + " +
    "delete; two conditional inserts)") {
    val dir = freshLake()
    spark.sql(
      s"""MERGE INTO graft_lake('$dir') AS t
         |USING (SELECT 10L AS k, 1L AS delta, 'p0' AS pd
         |  UNION ALL SELECT 20L, 50L, 'p0'
         |  UNION ALL SELECT 30L, 999L, 'p0'
         |  UNION ALL SELECT 900L, 1L, 'p0'
         |  UNION ALL SELECT 901L, 7L, 'p0') AS s
         |ON t.k = s.k
         |WHEN MATCHED AND s.delta = 999 THEN DELETE
         |WHEN MATCHED AND s.delta <= 3 THEN UPDATE SET v = t.v + s.delta
         |WHEN MATCHED THEN UPDATE SET v = CAST(t.v / 2 AS BIGINT)
         |WHEN NOT MATCHED AND s.delta = 1 THEN INSERT (k, v, pd)
         |  VALUES (s.k, s.delta * 2, s.pd)
         |WHEN NOT MATCHED THEN INSERT (k, v, pd)
         |  VALUES (s.k, s.delta, s.pd)""".stripMargin)
    val st = state(dir)
    assert(st(10L) == (11L, "p0") && st(20L) == (10L, "p0"))
    assert(!st.contains(30L))
    assert(st(900L) == (2L, "p0") && st(901L) == (7L, "p0"))
  }

  test("column-level UPDATE SET: expressions over t/s, unmentioned " +
    "columns keep target values, slim source allowed") {
    val dir = freshLake()
    // slim delta source: just key + partition + the delta column — no v
    val src = Seq((10L, 5L, "p0"), (110L, 7L, "p1"))
      .toDF("k", "delta", "pd")
    CommitLog.merge(spark, dir, src, Seq("k"), "pd",
      updateWhen = Some("true"), insertWhen = None,
      updateSet = Some(Map("v" -> "t.v + s.delta")))
    val st = state(dir)
    assert(st(10L) == (10L + 5L, "p0"), "v = t.v + s.delta")
    assert(st(110L) == (10L + 7L, "p1"))
    assert(st.size == 300, "no schema evolution from the slim source")
    assert(CommitLog.read(spark, dir).columns.toSeq == Seq("k", "v", "pd"),
      "clause-input columns must not widen the table")
  }

  test("column-level INSERT (cols) VALUES: unmentioned columns null; " +
    "key/partition assignment enforced") {
    val dir = freshLake()
    // widen first so there is a column to leave unmentioned
    CommitLog.addColumns(spark, dir, org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType))))
    val src = Seq((5000L, 3L, "p1")).toDF("k", "v", "pd")
    CommitLog.merge(spark, dir, src, Seq("k"), "pd",
      updateWhen = None, insertWhen = Some("true"),
      insertValues = Some(Map(
        "k" -> "s.k", "v" -> "s.v * 100", "pd" -> "s.pd")))
    val row = CommitLog.read(spark, dir).filter($"k" === 5000L)
      .select($"v", $"pd", $"note").as[(Long, String, Option[String])]
      .head()
    assert(row == ((300L, "p1", None)))
    // guards: reassigning the key in UPDATE, or omitting it in INSERT
    intercept[IllegalArgumentException] {
      CommitLog.merge(spark, dir, src, Seq("k"), "pd",
        updateWhen = Some("true"),
        updateSet = Some(Map("k" -> "s.k + 1")))
    }
    intercept[IllegalArgumentException] {
      CommitLog.merge(spark, dir, src, Seq("k"), "pd",
        insertWhen = Some("true"),
        insertValues = Some(Map("v" -> "s.v")))
    }
    intercept[IllegalArgumentException] {
      CommitLog.merge(spark, dir, src, Seq("k"), "pd",
        updateWhen = Some("true"),
        updateSet = Some(Map("nope" -> "s.v")))
    }
  }

  test("write-side schema evolution: column-level assignments to NEW " +
    "columns auto-ADD them under the opt-in; off by default") {
    val dir = freshLake()
    val src = Seq((10L, "hot", "p0"), (8000L, "cold", "p1"))
      .toDF("k", "tag", "pd")
    // default: unknown assignment is a loud typo guard naming the opt-in
    val e = intercept[IllegalArgumentException] {
      CommitLog.merge(spark, dir, src, Seq("k"), "pd",
        updateWhen = Some("true"), insertWhen = Some("true"),
        updateSet = Some(Map("note" -> "s.tag")),
        insertValues = Some(Map("k" -> "s.k", "pd" -> "s.pd",
          "note" -> "s.tag")))
    }
    assert(e.getMessage.contains("note") &&
      e.getMessage.contains("evolveSchema"))
    // opted in: 'note' is added (string, from the expression type);
    // matched k=10 gets its tag, inserted k=8000 gets its tag + null v,
    // every untouched row reads null note
    CommitLog.merge(spark, dir, src, Seq("k"), "pd",
      updateWhen = Some("true"), insertWhen = Some("true"),
      updateSet = Some(Map("note" -> "s.tag")),
      insertValues = Some(Map("k" -> "s.k", "pd" -> "s.pd",
        "note" -> "s.tag")),
      evolveSchema = true)
    val out = CommitLog.read(spark, dir)
    assert(out.columns.toSeq == Seq("k", "v", "note", "pd"),
      "evolved column lands before the hive partition column")
    val notes = out.select($"k", $"note").as[(Long, Option[String])]
      .collect().toMap
    assert(notes(10L).contains("hot") && notes(8000L).contains("cold"))
    assert(notes(11L).isEmpty, "untouched rows read null for the new column")
    assert(out.filter($"k" === 8000L).select($"v").head().isNullAt(0))
    // the session-wide conf is the same opt-in (SQL front door path)
    val src2 = Seq((12L, 5L, "p0")).toDF("k", "delta", "pd")
    spark.conf.set("spark.graft.merge.schemaEvolution", "true")
    try CommitLog.merge(spark, dir, src2, Seq("k"), "pd",
      updateWhen = Some("true"), insertWhen = None,
      updateSet = Some(Map("bonus" -> "t.v + s.delta")))
    finally spark.conf.unset("spark.graft.merge.schemaEvolution")
    val row = CommitLog.read(spark, dir).filter($"k" === 12L)
      .select($"bonus").as[Option[Long]].head()
    assert(row.contains(17L), "evolved column from a t/s expression")
  }

  test("column-level INSERT into an all-new partition keeps the " +
    "COMMITTED schema (assignments not in the source survive; " +
    "clause-input columns are not persisted)") {
    val dir = freshLake()
    // slim source into a partition no file covers: carries a clause-input
    // column `delta` and does NOT carry `v` — yet assigns v via s.delta.
    // Pre-fix, the empty target slice took the SOURCE's shape, so the
    // committed files carried (k, delta, pd): v silently read back NULL
    // and delta leaked into the schema.
    val src = Seq((7000L, 42L, "p9"), (7001L, 43L, "p9"))
      .toDF("k", "delta", "pd")
    CommitLog.merge(spark, dir, src, Seq("k"), "pd",
      updateWhen = None, insertWhen = Some("true"),
      insertValues = Some(Map(
        "k" -> "s.k", "v" -> "s.delta * 2", "pd" -> "s.pd")))
    val out = CommitLog.read(spark, dir)
    assert(out.columns.toSeq == Seq("k", "v", "pd"),
      "clause-input columns must not reach the committed schema")
    val st = state(dir)
    assert(st(7000L) == (84L, "p9") && st(7001L) == (86L, "p9"),
      "INSERT assignment to a column absent from the source must persist")
    assert(st.size == 302)
  }
}
