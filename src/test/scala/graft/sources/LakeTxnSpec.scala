package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[LakeTxn]]: a reader resolving a table FAMILY through the
  * transaction manifest must never observe a torn pair — corpus at
  * version N with the index still at state < N — no matter where a
  * writer crashed between the per-table commits. Pins are monotone,
  * replay is exactly-once, and participant vacuum keeps the pinned
  * history readable.
  */
class LakeTxnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def work(): String = {
    val d = Files.createTempDirectory("graft_txn_")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def docsV1 = Seq(
    (1L, "spark filter join", "en"),
    (2L, "hash merge window", "en"),
    (3L, "row scan batch", "de")
  ).toDF("doc_id", "text", "part")

  /** Corpus + index + manifest at a consistent cut. */
  private def family(w: String): (String, String, String) = {
    val corpus = s"$w/corpus"
    val index = s"$w/index"
    val txn = s"$w/txn"
    docsV1.write.partitionBy("part").parquet(corpus)
    CommitLog.init(spark, corpus)
    graft.text.InvertedIndex.build(spark,
      CommitLog.read(spark, corpus).select($"doc_id", $"text"),
      "doc_id", "text", index, numFiles = 2)
    LakeTxn.commit(spark, txn, Map(
      corpus -> CommitLog.latest(spark, corpus).get.version,
      index -> CommitLog.latest(spark, index).get.version),
      batchId = Some(0L))
    (corpus, index, txn)
  }

  private def servedScores(index: String, txn: String): Map[Long, Double] = {
    val q = Seq((0L, "spark", 0), (0L, "merge", 1))
      .toDF("query_id", "term", "pos")
    graft.text.InvertedIndex.searchAt(spark, index,
        LakeTxn.pinOf(spark, txn, index), q, k = 10, arity = 2)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
  }

  test("a reader through the manifest never sees corpus N with index < N") {
    val w = work()
    val (corpus, index, txn) = family(w)
    val beforeCorpus = LakeTxn.read(spark, txn, corpus)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSet
    val beforeScores = servedScores(index, txn)

    // the writer commits the CORPUS side of batch 1... and crashes
    // before the index update and the manifest pin
    CommitLog.upsert(spark,
      Seq((1L, "spark spark spark changed", "en"))
        .toDF("doc_id", "text", "part"),
      corpus, Seq("doc_id"), "part")
    assert(CommitLog.latest(spark, corpus).get.version >
      LakeTxn.pinOf(spark, txn, corpus), "fixture: corpus must be ahead")

    // manifest readers still see the PREVIOUS consistent cut, on both
    // sides — not the new corpus beside the old index
    assert(LakeTxn.read(spark, txn, corpus)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSet
      == beforeCorpus, "reader saw the half-committed corpus")
    assert(servedScores(index, txn) == beforeScores,
      "index serving moved without its corpus pin")

    // the replayed batch heals forward: index catches up, manifest pins
    // the new cut atomically
    val post = CommitLog.read(spark, corpus)
      .filter($"doc_id" === 1L).select($"doc_id", $"text")
    graft.text.InvertedIndex.update(spark, index, post)
    LakeTxn.commit(spark, txn, Map(
      corpus -> CommitLog.latest(spark, corpus).get.version,
      index -> CommitLog.latest(spark, index).get.version),
      batchId = Some(1L))
    val afterCorpus = LakeTxn.read(spark, txn, corpus)
      .filter($"doc_id" === 1L).select($"text").as[String].head()
    assert(afterCorpus == "spark spark spark changed")
    assert(servedScores(index, txn) != beforeScores,
      "the new cut must serve the new scores")
  }

  test("manifest replay is exactly-once; pins never move backward") {
    val w = work()
    val (corpus, index, txn) = family(w)
    val t1 = LakeTxn.latest(spark, txn).get
    // replay of batch 0 is a no-op
    val replay = LakeTxn.commit(spark, txn, Map(corpus -> 999L),
      batchId = Some(0L))
    assert(replay.txn == t1.txn && replay.pins == t1.pins)
    // a backward pin aborts loudly
    val e = intercept[IllegalStateException] {
      LakeTxn.commit(spark, txn,
        Map(corpus -> (t1.pins.values.min - 1L)), batchId = Some(7L))
    }
    assert(e.getMessage.contains("BACKWARD"), e.getMessage)
    assert(LakeTxn.latest(spark, txn).get.txn == t1.txn)
  }

  test("participant vacuum keeps the pinned version readable") {
    val w = work()
    val (corpus, index, txn) = family(w)
    // corpus moves two versions past the pin (writer mid-family-commit)
    CommitLog.upsert(spark,
      Seq((2L, "hash merge window v2", "en")).toDF("doc_id", "text", "part"),
      corpus, Seq("doc_id"), "part")
    CommitLog.upsert(spark,
      Seq((3L, "row scan batch v3", "de")).toDF("doc_id", "text", "part"),
      corpus, Seq("doc_id"), "part")
    val pinnedBefore = LakeTxn.read(spark, txn, corpus).count()
    LakeTxn.vacuumParticipant(spark, txn, corpus)
    // the pinned read still works after the vacuum
    assert(LakeTxn.read(spark, txn, corpus).count() == pinnedBefore)
    // ...whereas a naive keepLast=1 vacuum would have dropped it: prove
    // the guard computed keepLast > 1 by checking the pinned version file
    // survived while some older history may be gone
    assert(LakeTxn.pinOf(spark, txn, corpus) <
      CommitLog.latest(spark, corpus).get.version)
  }

  test("PLAIN vacuum on a pinned participant preserves the pinned " +
    "version — family pins are enforced by vacuum itself, not opt-in " +
    "vacuumParticipant knowledge") {
    val w = work()
    val (corpus, index, txn) = family(w)
    // the corpus moves two versions past the family pin (a writer
    // mid-family-commit, or simply direct per-table traffic)
    CommitLog.upsert(spark,
      Seq((2L, "hash merge window v2", "en")).toDF("doc_id", "text", "part"),
      corpus, Seq("doc_id"), "part")
    CommitLog.upsert(spark,
      Seq((3L, "row scan batch v3", "de")).toDF("doc_id", "text", "part"),
      corpus, Seq("doc_id"), "part")
    val pin = LakeTxn.pinOf(spark, txn, corpus)
    assert(pin < CommitLog.latest(spark, corpus).get.version,
      "fixture: the pin must be behind the head")
    val servedBefore = LakeTxn.read(spark, txn, corpus)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSet
    // dry-run REPORTS the family pin (the operator's what-if surface)
    val report = LakeTxn.familyReport(spark, corpus)
    assert(report.exists { case (fam, vs) =>
      graft.plans.ConstraintCatalog.normalize(fam) ==
        graft.plans.ConstraintCatalog.normalize(txn) && vs.contains(pin)
    }, s"family report must name the pin: $report")
    // the naive vacuum an operator who never heard of vacuumParticipant
    // runs — before this round it silently broke every family reader
    CommitLog.vacuum(spark, corpus, keepLast = 1, staleStagingMs = 0)
    assert(LakeTxn.read(spark, txn, corpus)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSet
      == servedBefore,
      "plain vacuum reclaimed the family-pinned version")
    // and the index side serves unchanged too (its pin is also enforced)
    CommitLog.vacuum(spark, index, keepLast = 1, staleStagingMs = 0)
    assert(servedScores(index, txn).nonEmpty)
  }

  test("the age fence covers young VERSION FILES on family participants: " +
    "a version committed moments ago (an in-flight writeAll leg whose " +
    "manifest has not landed) survives a concurrent plain vacuum") {
    val w = work()
    val (corpus, _, txn) = family(w)
    // an in-flight family transaction just committed this leg — its pin
    // is INVISIBLE to familyPins until the family manifest CAS lands
    CommitLog.upsert(spark,
      Seq((2L, "hash merge window v2", "en")).toDF("doc_id", "text", "part"),
      corpus, Seq("doc_id"), "part")
    val inFlight = CommitLog.latest(spark, corpus).get.version
    // direct traffic lands on top, so keepLast=1 targets the in-flight
    // version for reclamation
    CommitLog.append(spark,
      Seq((9L, "tail traffic", "en")).toDF("doc_id", "text", "part"), corpus)
    // DEFAULT fence: the young unpinned version must NOT be reclaimed —
    // before this fix the version FILE was dropped immediately (only
    // data files honored the fence), breaking the family the moment its
    // manifest landed
    CommitLog.vacuum(spark, corpus, keepLast = 1)
    assert(CommitLog.readAt(spark, corpus, inFlight).count() == 3L,
      "plain vacuum reclaimed the in-flight leg's young version file")
    // ...and the manifest CAS can now land pinning it; family reads serve
    LakeTxn.commit(spark, txn, Map(corpus -> inFlight), batchId = Some(1L))
    assert(LakeTxn.read(spark, txn, corpus).count() == 3L)
    // the operator-asserted zero floor keeps the immediate semantics
    // (no writer is live): a young unpinned version goes at once
    CommitLog.append(spark,
      Seq((10L, "drop me", "en")).toDF("doc_id", "text", "part"), corpus)
    val droppable = CommitLog.latest(spark, corpus).get.version
    CommitLog.append(spark,
      Seq((11L, "keep me", "en")).toDF("doc_id", "text", "part"), corpus)
    CommitLog.vacuum(spark, corpus, keepLast = 1, staleStagingMs = 0)
    intercept[IllegalArgumentException] {
      CommitLog.readAt(spark, corpus, droppable)
    }
    // the family-pinned cut is untouched by the zero-floor pass
    assert(LakeTxn.read(spark, txn, corpus).count() == 3L)
  }

  test("manifest dirs map: graft_txn_pins resolves latest_version " +
    "through the ORIGINAL dir; legacy manifests without dirs still " +
    "parse and fall back to the key") {
    val w = work()
    val fact = s"$w/fact"; val txn = s"$w/txn8"
    Seq((1L, 10.0)).toDF("k", "amt").write.parquet(fact)
    CommitLog.init(spark, fact)
    CommitLog.append(spark, Seq((2L, 20.0)).toDF("k", "amt"), fact)
    // hand-crafted manifest: the pin KEY is deliberately unresolvable
    // (the off-default-filesystem shape), the dirs entry carries the
    // real path — latest_version must come from dirs, not the key
    val key = "/nonexistent/bucket/fact"
    val json = s"""{"txn":1,"pins":{"$key":1},"batches":[0],""" +
      s""""floor":-1,"dirs":{"$key":"$fact"}}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(txn))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(txn, "t" + "0" * 19 + "1.json"),
      json.getBytes("UTF-8"))
    val rows = spark.sql(s"SELECT * FROM graft_txn_pins('$txn')")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((key, 1L, 2L)),
      s"latest_version must resolve through dirs: ${rows.mkString(",")}")
    // a LEGACY manifest (no dirs field) parses with dirs empty and the
    // TVF falls back to the key — -1 here because the key is fake
    val legacy = s"$w/txn9"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(legacy))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(legacy, "t" + "0" * 19 + "1.json"),
      s"""{"txn":1,"pins":{"$key":1},"batches":[0]}""".getBytes("UTF-8"))
    assert(LakeTxn.latest(spark, legacy).get.dirs.isEmpty)
    val legacyRows = spark.sql(s"SELECT * FROM graft_txn_pins('$legacy')")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(legacyRows.toSeq == Seq((key, 1L, -1L)), legacyRows.mkString(","))
  }

  test("family time travel: readAt serves a HISTORICAL cut exactly; " +
    "every retained cut survives a plain keepLast=1 vacuum; the " +
    "families TVF names the pins; a dropped manifest is a loud miss") {
    val w = work()
    val fact = s"$w/fact"; val txn = s"$w/txnH"
    Seq((1L, 10.0)).toDF("k", "amt").write.parquet(fact)
    CommitLog.init(spark, fact)
    LakeTxn.commit(spark, txn, Map(fact -> 1L), batchId = Some(0L)) // t1
    CommitLog.append(spark, Seq((2L, 20.0)).toDF("k", "amt"), fact)
    LakeTxn.commit(spark, txn, Map(fact -> 2L), batchId = Some(1L)) // t2
    CommitLog.append(spark, Seq((3L, 30.0)).toDF("k", "amt"), fact)
    LakeTxn.commit(spark, txn, Map(fact -> 3L), batchId = Some(2L)) // t3
    assert(LakeTxn.readAt(spark, txn, 1L, fact).count() == 1L)
    assert(spark.sql(
      s"SELECT count(*) FROM graft_txn_read_at('$txn', 2, '$fact')")
      .head.getLong(0) == 2L)
    // plain keepLast=1 vacuum: every RETAINED manifest's pin survives,
    // so the historical cuts stay readable end to end
    CommitLog.vacuum(spark, fact, keepLast = 1, staleStagingMs = 0)
    assert(LakeTxn.readAt(spark, txn, 1L, fact)
      .select($"k").as[Long].collect().toSet == Set(1L))
    assert(LakeTxn.readAt(spark, txn, 2L, fact).count() == 2L)
    val fams = spark.sql(s"SELECT * FROM graft_txn_families('$fact')")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(fams.map(_._2).toSet == Set(1L, 2L, 3L), fams.mkString(","))
    // the family's own retention bounds the horizon — past it, loud
    LakeTxn.vacuumManifests(spark, txn, keepLast = 1)
    val e = intercept[IllegalArgumentException](
      LakeTxn.readAt(spark, txn, 1L, fact))
    assert(e.getMessage.contains("no manifest"), e.getMessage)
  }

  test("changesBetween: the cut-to-cut diff is exactly the moved " +
    "participant's churn; an unmoved participant diffs to an EMPTY " +
    "feed, not an error") {
    val w = work()
    val (corpus, index, txn) = family(w)
    // cut t2 moves ONLY the corpus (doc 2 rewritten)
    CommitLog.upsert(spark,
      Seq((2L, "hash merge window v2", "en")).toDF("doc_id", "text", "part"),
      corpus, Seq("doc_id"), "part")
    LakeTxn.commit(spark, txn, Map(
      corpus -> CommitLog.latest(spark, corpus).get.version,
      index -> LakeTxn.pinOf(spark, txn, index)), batchId = Some(1L))
    val got = LakeTxn.changesBetween(spark, txn, 1L, 2L, corpus,
        Seq("doc_id"))
      .select($"_change_type", $"doc_id", $"text")
      .as[(String, Long, String)].collect().toSet
    assert(got == Set(
      ("update_preimage", 2L, "hash merge window"),
      ("update_postimage", 2L, "hash merge window v2")),
      s"the diff must be exactly the rewritten row's pair: $got")
    // index pin unchanged between the cuts → empty feed, CDC schema
    val idle = LakeTxn.changesBetween(spark, txn, 1L, 2L, index,
      Seq("term"))
    assert(idle.columns.contains("_change_type"))
    assert(idle.count() == 0L,
      "an unmoved participant must diff to nothing")
    // the SQL twin serves the same rows
    val viaSql = spark.sql(
      s"SELECT _change_type, doc_id FROM " +
        s"graft_txn_changes('$txn', 1, 2, '$corpus', 'doc_id')")
      .as[(String, Long)].collect().toSet
    assert(viaSql == Set(("update_preimage", 2L), ("update_postimage", 2L)))
  }

  test("thread race: two committers serialize through the manifest CAS; " +
      "both cuts land") {
    val w = work()
    val (corpus, index, txn) = family(w)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def committer(batch: Long, pin: Long): Thread = {
      val t = new Thread(() => {
        try {
          barrier.await()
          LakeTxn.commit(spark, txn, Map(corpus -> pin),
            batchId = Some(batch))
        } catch { case e: Throwable => errs.add(e) }
      })
      t.start(); t
    }
    val basePin = LakeTxn.pinOf(spark, txn, corpus)
    val ts = Seq(committer(201L, basePin), committer(202L, basePin))
    ts.foreach(_.join(30000))
    assert(errs.isEmpty, s"racing committers failed: ${errs.asScalaString}")
    val st = LakeTxn.latest(spark, txn).get
    assert(st.batches.contains(201L) && st.batches.contains(202L),
      s"a racing commit was lost: ${st.batches}")
    assert(st.txn == 3L, s"expected two new manifests, got txn ${st.txn}")
  }

  private implicit class QShow(
      q: java.util.concurrent.ConcurrentLinkedQueue[Throwable]) {
    def asScalaString: String = {
      val it = q.iterator(); val b = new StringBuilder
      while (it.hasNext) b.append(it.next().getMessage).append("; ")
      b.toString
    }
  }

  test("manifest retention keeps the latest cut readable") {
    val w = work()
    val (corpus, index, txn) = family(w)
    // a few more cuts
    (1 to 3).foreach { i =>
      CommitLog.upsert(spark,
        Seq((1L, s"spark text v$i", "en")).toDF("doc_id", "text", "part"),
        corpus, Seq("doc_id"), "part")
      LakeTxn.commit(spark, txn, Map(
        corpus -> CommitLog.latest(spark, corpus).get.version),
        batchId = Some(100L + i))
    }
    val latestBefore = LakeTxn.latest(spark, txn).get
    val dropped = LakeTxn.vacuumManifests(spark, txn, keepLast = 2)
    assert(dropped.nonEmpty)
    assert(LakeTxn.latest(spark, txn).get == latestBefore)
    assert(LakeTxn.read(spark, txn, corpus).count() == 3L)
  }

  test("streamed family maintenance through the manifest: every batch " +
      "publishes a consistent (corpus, index) cut") {
    val w = work()
    val corpus = s"$w/corpus"; val index = s"$w/index"; val txn = s"$w/txn"
    val v1 = docsV1.select($"doc_id", $"part", lit(1L).as("seq"), $"text")
    val v2 = docsV1.select($"doc_id", $"part", lit(2L).as("seq"),
      concat($"text", lit(" v2")).as("text"))
    v1.unionByName(v2).repartition(2).write.parquet(s"$w/landing")
    val updates = spark.readStream.schema(v1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$w/landing")
    val q = graft.streaming.StreamingIngest.upsertStreamMaintainingIndex(
      updates, corpus, index, "doc_id", "text", "seq", "part",
      checkpointDir = s"$w/chk", txnDir = Some(txn))
    try q.processAllAvailable() finally q.stop()
    val st = LakeTxn.latest(spark, txn).get
    // both batches pinned exactly once; the final pins are the tables'
    // latest versions (converged family)
    assert(st.batches == Seq(0L, 1L))
    assert(LakeTxn.pinOf(spark, txn, corpus) ==
      CommitLog.latest(spark, corpus).get.version)
    assert(LakeTxn.pinOf(spark, txn, index) ==
      CommitLog.latest(spark, index).get.version)
    // served-at-pin equals served-at-latest on the converged family
    val queries = Seq((0L, "spark", 0)).toDF("query_id", "term", "pos")
    val atPin = graft.text.InvertedIndex.searchAt(spark, index,
      LakeTxn.pinOf(spark, txn, index), queries, k = 5, arity = 1).collect()
    val atLatest = graft.text.InvertedIndex.search(spark, index,
      queries, k = 5, arity = 1).collect()
    assert(atPin.sameElements(atLatest))
  }

  test("appendAll: a dim+fact dual append is atomic through the " +
    "manifest — both-or-neither, heal-forward across the crash window, " +
    "replay a full no-op") {
    val w = work()
    val dim = s"$w/dim"; val fact = s"$w/fact"; val txn = s"$w/txn2"
    Seq((1L, "a"), (2L, "b")).toDF("k", "name")
      .write.parquet(dim)
    CommitLog.init(spark, dim)
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "amt")
      .write.parquet(fact)
    CommitLog.init(spark, fact)
    LakeTxn.commit(spark, txn, Map(dim -> 1L, fact -> 1L))
    val dimRows = Seq((3L, "c")).toDF("k", "name")
    val factRows = Seq((3L, 30.0)).toDF("k", "amt")
    // a FOREIGN writer's raw batch id 9 already in the fact's log
    // must NOT swallow this family's append (the identity is
    // family-namespaced)
    CommitLog.append(spark, Seq((99L, 99.0)).toDF("k", "amt"),
      fact, Some(("foreign", 9L)))
    // crash window: the dim committed (under the family identity), the
    // manifest never landed — family readers must still see the OLD
    // cut on BOTH tables
    CommitLog.append(spark, dimRows, dim,
      txn = Some((LakeTxn.txnAppId(txn), 9L)))
    assert(LakeTxn.read(spark, txn, dim).count() == 2L,
      "manifest reader saw the torn pair")
    // heal-forward: dim no-ops via its ledger, fact commits, ONE
    // manifest publishes both
    LakeTxn.appendAll(spark, txn, Seq(dim -> dimRows, fact -> factRows),
      batchId = 9L)
    assert(CommitLog.latest(spark, dim).get.version == 2L,
      "the replayed dim append must no-op, not double-apply")
    assert(LakeTxn.read(spark, txn, dim).count() == 3L)
    // 2 base + the foreign row + THIS family's row: the colliding raw
    // batch id must not have swallowed the family append
    assert(LakeTxn.read(spark, txn, fact).count() == 4L)
    // replay of the COMPLETED batch: nothing moves anywhere
    val before = (CommitLog.latest(spark, dim).get.version,
      CommitLog.latest(spark, fact).get.version,
      LakeTxn.latest(spark, txn).get.txn)
    LakeTxn.appendAll(spark, txn, Seq(dim -> dimRows, fact -> factRows),
      batchId = 9L)
    assert(before == (CommitLog.latest(spark, dim).get.version,
      CommitLog.latest(spark, fact).get.version,
      LakeTxn.latest(spark, txn).get.txn))
    // a second transaction still flows (ids are per-family monotone
    // facts, not a cap)
    LakeTxn.appendAll(spark, txn,
      Seq(dim -> Seq((4L, "d")).toDF("k", "name"),
        fact -> Seq((4L, 40.0)).toDF("k", "amt")), batchId = 10L)
    assert(LakeTxn.read(spark, txn, dim).count() == 4L)
    assert(LakeTxn.read(spark, txn, fact).count() == 5L)
  }

  test("writeAll mixes verbs atomically: fact append + dim keyed " +
    "upsert land under one manifest, replay is a no-op") {
    val w = work()
    val dim = s"$w/dim"; val fact = s"$w/fact"; val txn = s"$w/txn3"
    Seq((1L, "a", "p0"), (2L, "b", "p0")).toDF("k", "name", "pd")
      .write.partitionBy("pd").parquet(dim)
    CommitLog.init(spark, dim)
    Seq((1L, 10.0)).toDF("k", "amt").write.parquet(fact)
    CommitLog.init(spark, fact)
    LakeTxn.commit(spark, txn, Map(dim -> 1L, fact -> 1L))
    def tx(b: Long) = LakeTxn.writeAll(spark, txn, Seq(
      LakeTxn.TxnAppend(fact, Seq((2L, 20.0)).toDF("k", "amt")),
      LakeTxn.TxnUpsert(dim,
        Seq((1L, "a2", "p0")).toDF("k", "name", "pd"),
        keyCols = Seq("k"), partitionCol = "pd")), batchId = b)
    tx(5L)
    assert(LakeTxn.read(spark, txn, fact).count() == 2L)
    val names = LakeTxn.read(spark, txn, dim)
      .select($"k", $"name").as[(Long, String)].collect().toMap
    assert(names == Map(1L -> "a2", 2L -> "b"),
      s"dim upsert must replace by key: $names")
    // replay: versions and pins all frozen
    val before = (CommitLog.latest(spark, dim).get.version,
      CommitLog.latest(spark, fact).get.version,
      LakeTxn.latest(spark, txn).get.txn)
    tx(5L)
    assert(before == (CommitLog.latest(spark, dim).get.version,
      CommitLog.latest(spark, fact).get.version,
      LakeTxn.latest(spark, txn).get.txn))
    // a FRESH id below the family watermark must fail LOUDLY: the
    // per-table identity is high-water, so proceeding would no-op
    // every write while the manifest recorded the batch as committed
    // — rows lost under a success return
    val e = intercept[IllegalStateException](tx(3L))
    assert(e.getMessage.contains("MONOTONE"), e.getMessage)
    assert(before == (CommitLog.latest(spark, dim).get.version,
      CommitLog.latest(spark, fact).get.version,
      LakeTxn.latest(spark, txn).get.txn),
      "the rejected batch must publish nothing")
  }

  test("writeAll with one failing verb rethrows only after every " +
    "sibling verb has settled (no commit racing the caller)") {
    val w = work()
    val slow = s"$w/slow"; val bad = s"$w/bad"; val txn = s"$w/txnf"
    Seq((1L, 10.0)).toDF("k", "amt").write.parquet(slow)
    CommitLog.init(spark, slow)
    Seq((1L, "a")).toDF("k", "note").write.parquet(bad)
    CommitLog.init(spark, bad)
    LakeTxn.commit(spark, txn, Map(slow -> 1L, bad -> 1L))
    val cut0 = LakeTxn.latest(spark, txn).get.txn
    val v0 = CommitLog.latest(spark, slow).get.version
    // the slow leg's rows take seconds to compute; the bad leg fails at
    // once (its predicate names no column of the table)
    val nap = udf((k: Long) => { Thread.sleep(3000); k })
    val e = intercept[Exception](LakeTxn.writeAll(spark, txn, Seq(
      LakeTxn.TxnAppend(slow,
        Seq((2L, 20.0)).toDF("k", "amt").withColumn("k", nap($"k"))),
      LakeTxn.TxnDelete(bad, col("no_such_column") === 1L)),
      batchId = 3L))
    assert(e.getMessage.contains("no_such_column"), e.getMessage)
    // the slow verb had COMMITTED by the time writeAll threw
    assert(CommitLog.latest(spark, slow).get.version == v0 + 1,
      "writeAll returned while a sibling verb was still committing")
    assert(LakeTxn.latest(spark, txn).get.txn == cut0,
      "a failed writeAll must publish no manifest")
  }

  test("writeAll delete leg: fact-append + retention delete is one " +
    "family cut; the crash window heals forward; replay no-ops by " +
    "LEDGER even when the predicate would re-match newer rows") {
    val w = work()
    val fact = s"$w/fact"; val audit = s"$w/audit"; val txn = s"$w/txn4"
    Seq((1L, 10.0), (2L, 20.0), (3L, 5.0)).toDF("k", "amt")
      .write.parquet(fact)
    CommitLog.init(spark, fact)
    Seq((100L, "init")).toDF("k", "note").write.parquet(audit)
    CommitLog.init(spark, audit)
    LakeTxn.commit(spark, txn, Map(fact -> 1L, audit -> 1L))
    val appId = LakeTxn.txnAppId(txn)
    // CRASH WINDOW: the retention delete committed under the family
    // identity, the audit append and the manifest never happened —
    // family readers still see the old cut WITH the purged rows
    CommitLog.delete(spark, fact, col("amt") < 15.0,
      txn = Some((appId, 7L)))
    assert(CommitLog.read(spark, fact).count() == 1L, "delete landed")
    assert(LakeTxn.read(spark, txn, fact).count() == 3L,
      "manifest reader saw the torn purge")
    // heal-forward replay: the delete no-ops via the ledger, the audit
    // append commits, ONE manifest publishes the consistent pair
    def purge(b: Long) = LakeTxn.writeAll(spark, txn, Seq(
      LakeTxn.TxnDelete(fact, col("amt") < 15.0),
      LakeTxn.TxnAppend(audit,
        Seq((101L, "purged")).toDF("k", "note"))), batchId = b)
    purge(7L)
    assert(LakeTxn.read(spark, txn, fact)
      .select($"k").as[Long].collect().toSet == Set(2L))
    assert(LakeTxn.read(spark, txn, audit).count() == 2L)
    // a LATER transaction appends rows the old predicate WOULD match…
    LakeTxn.writeAll(spark, txn, Seq(
      LakeTxn.TxnAppend(fact, Seq((4L, 1.0)).toDF("k", "amt"))),
      batchId = 8L)
    // …and the replayed old delete must NOT purge them: ledger, not
    // predicate luck, is the replay guard
    purge(7L)
    assert(LakeTxn.read(spark, txn, fact)
      .select($"k").as[Long].collect().toSet == Set(2L, 4L),
      "a replayed delete re-matched a newer row — ledger guard broken")
  }

  test("writeAll replaceWhere leg: partition restatement + fact append " +
    "land under one manifest; replay is a full no-op") {
    val w = work()
    val sales = s"$w/sales"; val fact = s"$w/fact"; val txn = s"$w/txn5"
    Seq((1L, 10.0, "jan"), (2L, 20.0, "jan"), (3L, 30.0, "feb"))
      .toDF("k", "amt", "mon").write.partitionBy("mon").parquet(sales)
    CommitLog.init(spark, sales)
    Seq((1L, 1.0)).toDF("k", "amt").write.parquet(fact)
    CommitLog.init(spark, fact)
    LakeTxn.commit(spark, txn, Map(sales -> 1L, fact -> 1L))
    def restate(b: Long) = LakeTxn.writeAll(spark, txn, Seq(
      LakeTxn.TxnReplaceWhere(sales, col("mon") === "jan",
        Seq((1L, 11.0, "jan"), (9L, 90.0, "jan"))
          .toDF("k", "amt", "mon")),
      LakeTxn.TxnAppend(fact, Seq((2L, 2.0)).toDF("k", "amt"))),
      batchId = 3L)
    restate(3L)
    val jan = LakeTxn.read(spark, txn, sales)
      .select($"k", $"amt").as[(Long, Double)].collect().toSet
    assert(jan == Set((1L, 11.0), (9L, 90.0), (3L, 30.0)),
      s"jan must be restated, feb untouched: $jan")
    assert(LakeTxn.read(spark, txn, fact).count() == 2L)
    val before = (CommitLog.latest(spark, sales).get.version,
      CommitLog.latest(spark, fact).get.version,
      LakeTxn.latest(spark, txn).get.txn)
    restate(3L)
    assert(before == (CommitLog.latest(spark, sales).get.version,
      CommitLog.latest(spark, fact).get.version,
      LakeTxn.latest(spark, txn).get.txn))
  }

  test("SQL front door: graft_txn_read serves the pinned family cut " +
    "(torn writes invisible) and graft_txn_pins reports drift") {
    val w = work()
    val fact = s"$w/fact"; val txn = s"$w/txn7"
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "amt").write.parquet(fact)
    CommitLog.init(spark, fact)
    LakeTxn.commit(spark, txn, Map(fact -> 1L))
    // a bare per-table commit OUTSIDE the manifest: the torn window
    CommitLog.append(spark, Seq((3L, 30.0)).toDF("k", "amt"), fact)
    assert(spark.sql(
      s"SELECT count(*) FROM graft_txn_read('$txn', '$fact')")
      .head.getLong(0) == 2L,
      "SQL family reader saw a torn write")
    // pins report: fact pinned at 1 while its log is at 2 — the drift
    val pins = spark.sql(s"SELECT * FROM graft_txn_pins('$txn')")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(pins.length == 1 &&
      pins.head._2 == 1L && pins.head._3 == 2L, pins.mkString(","))
    // publish the cut: the SQL reader follows the new pin
    LakeTxn.commit(spark, txn,
      Map(fact -> 2L), batchId = Some(1L))
    assert(spark.sql(
      s"SELECT count(*) FROM graft_txn_read('$txn', '$fact')")
      .head.getLong(0) == 3L)
  }

  test("a nothing-matched txn delete records its identity as PURE " +
    "metadata: same files, same manifest rel, one version bump") {
    val w = work(); val t = s"$w/t"
    spark.range(0, 10).select($"id".as("k"), ($"id" % 3).as("v"))
      .write.parquet(t)
    CommitLog.init(spark, t, Seq("k")) // stats on k → manifest exists
    val before = CommitLog.latest(spark, t).get
    assert(before.manifest.nonEmpty, "fixture needs a manifest")
    val after = CommitLog.delete(spark, t, col("k") > 100L,
      txn = Some(("gq-ledger", 1L)))
    assert(after.version == before.version + 1)
    assert(after.files == before.files)
    assert(after.manifest == before.manifest,
      "an all-miss delete must not rewrite the stats manifest")
    // …and the identity took: the replay no-ops at the same version
    assert(CommitLog.delete(spark, t, col("k") > 100L,
      txn = Some(("gq-ledger", 1L))).version == after.version)
    // predicate-luck guard: rows arriving AFTER the recorded identity
    // survive its replay even though they match
    CommitLog.append(spark, Seq((200L, 1L)).toDF("k", "v"), t)
    CommitLog.delete(spark, t, col("k") > 100L,
      txn = Some(("gq-ledger", 1L)))
    assert(CommitLog.read(spark, t).count() == 11L,
      "a replayed all-miss delete re-matched newer rows")
  }

  test("manifest ledger compaction: past LedgerKeep the oldest ids fold " +
    "into the floor; folded ids still replay as no-ops; the monotone " +
    "check consults the floor") {
    val w = work()
    val fact = s"$w/fact"; val txn = s"$w/txn6"
    Seq((0L, 0.0)).toDF("k", "amt").write.parquet(fact)
    CommitLog.init(spark, fact)
    LakeTxn.commit(spark, txn, Map(fact -> 1L))
    val saved = CommitLog.LedgerKeep
    try {
      CommitLog.LedgerKeep = 4
      // commit ids 1..8 and 10 — 9 stays a NEVER-committed gap below
      // the final watermark
      ((1L to 8L) :+ 10L).foreach { b =>
        LakeTxn.writeAll(spark, txn, Seq(
          LakeTxn.TxnAppend(fact, Seq((b, b.toDouble)).toDF("k", "amt"))),
          batchId = b)
      }
      val st = LakeTxn.latest(spark, txn).get
      assert(st.batches.size <= 4,
        s"ledger must stay bounded: ${st.batches}")
      assert(st.floor >= 5L, s"oldest ids must fold: floor=${st.floor}")
      assert(st.watermark == 10L)
      // the floor itself was a committed id — it replays as a no-op
      assert(st.committed(st.floor))
      val before = (CommitLog.latest(spark, fact).get.version, st.txn)
      LakeTxn.writeAll(spark, txn, Seq(
        LakeTxn.TxnAppend(fact, Seq((5L, 5.0)).toDF("k", "amt"))),
        batchId = st.floor)
      assert(before == (CommitLog.latest(spark, fact).get.version,
        LakeTxn.latest(spark, txn).get.txn),
        "the floor id must replay as a no-op")
      // an id STRICTLY BELOW the floor is ambiguous — committed-or-lost
      // is no longer provable after the fold — so it must fail LOUDLY
      // (a silent "replay skip" would drop a never-committed batch's
      // writes under a success return), naming both recoveries
      assert(!st.committed(2L) && st.foldedAway(2L))
      val ef = intercept[IllegalStateException](
        LakeTxn.writeAll(spark, txn, Seq(
          LakeTxn.TxnAppend(fact, Seq((2L, 2.0)).toDF("k", "amt"))),
          batchId = 2L))
      assert(ef.getMessage.contains("compaction floor"), ef.getMessage)
      assert(before == (CommitLog.latest(spark, fact).get.version,
        LakeTxn.latest(spark, txn).get.txn),
        "the rejected folded id must publish nothing")
      // a FRESH id in the gap below the watermark still fails loudly:
      // the monotone check survives compaction through the floor
      val e = intercept[IllegalStateException](
        LakeTxn.writeAll(spark, txn, Seq(
          LakeTxn.TxnAppend(fact, Seq((99L, 9.0)).toDF("k", "amt"))),
          batchId = 9L))
      assert(e.getMessage.contains("MONOTONE"), e.getMessage)
    } finally CommitLog.LedgerKeep = saved
  }
}
