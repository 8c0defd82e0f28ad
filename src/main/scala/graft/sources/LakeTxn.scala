package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-table atomic visibility for a FAMILY of [[CommitLog]] tables —
  * the transaction manifest.
  *
  * The gap it closes: each commit log is single-table. A pipeline that
  * maintains a corpus AND its derived indexes (inverted postings, IVFPQ
  * cells) commits them one after another, so a reader racing the writer
  * can see corpus version N next to an index still at N-1 — skewed
  * scores from a torn PAIR, even though each table is individually
  * consistent. The reference never has this problem because its ledger
  * and flows tables commit inside one Postgres transaction
  * (`/root/reference/src/clean_data.py:176-210`); this is that property
  * re-expressed for an immutable-file lake.
  *
  * Design — pins, not copies (the Iceberg/Delta "root pointer" shape):
  *
  *  - Participant tables keep committing through their own logs exactly
  *    as before; nothing about per-table write paths changes.
  *  - A transaction manifest directory holds `t<20-digit>.json` files,
  *    each pinning `{normalized table dir -> committed version}` for
  *    every participant, plus the batch ledger. The manifest file is
  *    created with create-no-overwrite — the SAME filesystem CAS as the
  *    per-table commit point — so a (corpus, index) pair becomes visible
  *    to manifest readers in one atomic step.
  *  - Readers resolve the LATEST manifest and time-travel each
  *    participant to its pinned version ([[read]] /
  *    [[graft.text.InvertedIndex.searchAt]]). Between the corpus commit
  *    and the manifest commit the new corpus version exists but is
  *    UNREFERENCED — manifest readers still see the previous, mutually
  *    consistent pair. A crash in that window leaves the family
  *    readable at the old cut; the replayed batch heals forward
  *    (per-table ledgers no-op the corpus, index update is idempotent,
  *    the manifest ledger no-ops the pin commit).
  *  - The manifest ledger makes the pin commit exactly-once per
  *    `batchId`, mirroring the per-table convention.
  *
  * Version pins only move FORWARD (enforced): a manifest can never
  * un-publish a table state, so reader-visible history is monotone.
  *
  * Retention: a participant's [[CommitLog.vacuum]] keeps the family's
  * pinned versions readable BY MECHANISM — [[commit]] registers a
  * reverse pointer on each participant ([[LakeRefs.registerFamily]])
  * and vacuum resolves the registered families' pins as a pin source
  * next to tags and the published pointer ([[familyPins]]), so even a
  * plain `vacuum(dir, keepLast=1)` preserves every pinned cut.
  * [[vacuumParticipant]] additionally keeps the contiguous pin→head
  * range for time-travel across the catch-up window.
  *
  * At 100 TB the manifest is metadata-plane: one tiny JSON per family
  * commit, independent of table size or count of files.
  */
object LakeTxn {

  /** One committed family cut: manifest sequence number, per-table
    * version pins (keyed by normalized table dir), committed batch ids.
    * `floor` is the ledger-compaction high-water: every id at or below
    * it is committed (its explicit entry was folded away once `batches`
    * outgrew [[CommitLog.LedgerKeep]]) — the same O(K)-per-manifest
    * bound the per-table logs enforce, so a per-batch streaming-style
    * family never republishes an unbounded id history on every commit.
    * `dirs` maps each normalized pin key back to the ORIGINAL dir the
    * committer supplied — normalization strips scheme/authority, so on
    * a non-default filesystem (s3a://…) the key alone is not a readable
    * path; observability surfaces ([[graft.sources.LakeTvf]]'s
    * `graft_txn_pins`) resolve through `dirs` and stay exact
    * everywhere. Additive: manifests written before the field existed
    * parse with `dirs` empty and readers fall back to the key. */
  final case class State(txn: Long, pins: Map[String, Long],
      batches: Seq[Long], floor: Long = -1L,
      dirs: Map[String, String] = Map.empty) {
    /** PROVABLY committed: an explicit ledger entry, or the floor
      * itself (the floor is always the LARGEST folded id, which was
      * committed by construction). Ids strictly BELOW the floor are
      * deliberately NOT "committed": the fold erased the ability to
      * distinguish an old replay from a batch that never committed,
      * and silently no-op'ing the latter would drop every table write
      * under a success return — [[writeAll]] fails those loudly
      * instead ("loud beats lost", the same contract as the monotone
      * watermark guard). */
    def committed(b: Long): Boolean = b == floor || batches.contains(b)
    /** True when `b` fell below the compaction floor — committed-or-
      * lost is no longer provable from the ledger. */
    def foldedAway(b: Long): Boolean = b < floor
    /** The family's monotone high-water mark. */
    def watermark: Long =
      if (batches.nonEmpty) math.max(floor, batches.max) else floor
  }

  private val TxnName = "^t(\\d{20})\\.json$".r

  private def txnFile(txnDir: String, t: Long) =
    new Path(txnDir, f"t$t%020d.json")

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def render(s: State): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(
      ("txn" -> s.txn) ~ ("pins" -> s.pins) ~ ("batches" -> s.batches) ~
        ("floor" -> s.floor) ~ ("dirs" -> s.dirs)))
  }

  private def parse(text: String): State = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(text)
    State((j \ "txn").extract[Long],
      (j \ "pins").extract[Map[String, Long]],
      (j \ "batches").extract[Seq[Long]],
      // manifests written before the floor existed parse as floor -1
      (j \ "floor").extractOpt[Long].getOrElse(-1L),
      // …and those written before dirs existed parse with dirs empty
      // (readers fall back to the normalized key)
      (j \ "dirs").extractOpt[Map[String, String]].getOrElse(Map.empty))
  }

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def txnNumbers(f: FileSystem, txnDir: String): Seq[Long] = {
    val p = new Path(txnDir)
    if (!f.exists(p)) return Nil
    f.listStatus(p).toSeq.flatMap(st => st.getPath.getName match {
      case TxnName(n) => Some(n.toLong)
      case _ => None
    }).sorted
  }

  /** Latest readable manifest (corrupt newest falls back like
    * [[CommitLog.latest]] — pre-commit state, never garbage). */
  def latest(spark: SparkSession, txnDir: String): Option[State] = {
    val f = fs(spark, txnDir)
    txnNumbers(f, txnDir).reverse.view.flatMap { t =>
      try Some(parse(readText(f, txnFile(txnDir, t))))
      catch { case e: Exception =>
        System.err.println(
          s"[laketxn] unreadable manifest $t in $txnDir (${e.getMessage}) " +
            "— falling back to the previous one")
        None
      }
    }.headOption
  }

  private def mustLatest(spark: SparkSession, txnDir: String): State =
    latest(spark, txnDir).getOrElse(throw new IllegalStateException(
      s"$txnDir holds no transaction manifest — commit one first"))

  /** The version the latest manifest pins `tableDir` to. */
  def pinOf(spark: SparkSession, txnDir: String, tableDir: String): Long = {
    val key = graft.plans.ConstraintCatalog.normalize(tableDir)
    mustLatest(spark, txnDir).pins.getOrElse(key,
      throw new IllegalArgumentException(
        s"$txnDir pins no version for $tableDir (pins: " +
          mustLatest(spark, txnDir).pins.keys.mkString(", ") + ")"))
  }

  /** Read a participant AT the latest manifest's pin — the consistent-
    * family read. The pinned version is vacuum-proof by mechanism
    * ([[familyPins]]). */
  def read(spark: SparkSession, txnDir: String, tableDir: String): DataFrame =
    CommitLog.readAt(spark, tableDir, pinOf(spark, txnDir, tableDir))

  /** The family cut with manifest sequence `t`, exactly — fails loudly
    * when that manifest was dropped by [[vacuumManifests]] or never
    * existed (no silent fallback: a historical CUT is a precise claim). */
  def stateAt(spark: SparkSession, txnDir: String, t: Long): State = {
    val f = fs(spark, txnDir)
    val p = txnFile(txnDir, t)
    require(f.exists(p),
      s"$txnDir holds no manifest t$t — family retention " +
        s"(vacuumManifests) may have dropped it; available: " +
        txnNumbers(f, txnDir).mkString(", "))
    parse(readText(f, p))
  }

  /** Read a participant AT a HISTORICAL family cut (manifest sequence
    * `t`) — time travel across family cuts, the multi-table analogue
    * of [[CommitLog.readAt]]. Every retained manifest's pins are
    * vacuum-proof ([[familyPins]] feeds ALL retained manifests into
    * the participant's vacuum), so any cut [[vacuumManifests]] keeps
    * is readable end to end: reproduce last week's (corpus, index)
    * pair exactly, not just the latest one. */
  def readAt(spark: SparkSession, txnDir: String, t: Long,
      tableDir: String): DataFrame = {
    val st = stateAt(spark, txnDir, t)
    val key = graft.plans.ConstraintCatalog.normalize(tableDir)
    val pin = st.pins.getOrElse(key, throw new IllegalArgumentException(
      s"$txnDir manifest t$t pins no version for $tableDir (pins: " +
        st.pins.keys.mkString(", ") + ")"))
    CommitLog.readAt(spark, tableDir, pin)
  }

  /** Keyed CDC for one participant BETWEEN FAMILY CUTS — "what changed
    * in `tableDir` from cut `fromT` to cut `toT`", the diff twin of
    * [[readAt]]'s time travel: resolve both cuts' pins and delegate to
    * [[CommitLog.changeFeed]] (insert / delete / update_pre/postimage
    * rows, rename-aware, churn-sized reads). A participant whose pin
    * did not move between the cuts yields an EMPTY feed with the exact
    * CDC schema — cuts that only moved OTHER tables diff to nothing
    * here, they don't error. `keyCols` must identify rows uniquely
    * (the [[CommitLog.changeFeed]] contract). Readable as far back as
    * BOTH retentions reach: [[vacuumManifests]] must keep the cuts and
    * the participant's own vacuum the versions between the pins. At
    * 100 TB this reads the touched partitions at two pinned versions —
    * never the lake. */
  def changesBetween(spark: SparkSession, txnDir: String,
      fromT: Long, toT: Long, tableDir: String,
      keyCols: Seq[String]): DataFrame = {
    require(fromT < toT,
      s"changesBetween needs fromT < toT, got $fromT >= $toT")
    val key = graft.plans.ConstraintCatalog.normalize(tableDir)
    def pinAt(t: Long): Long =
      stateAt(spark, txnDir, t).pins.getOrElse(key,
        throw new IllegalArgumentException(
          s"$txnDir manifest t$t pins no version for $tableDir"))
    val from = pinAt(fromT)
    val to = pinAt(toT)
    if (from == to)
      CommitLog.readAt(spark, tableDir, to).limit(0)
        .withColumn("_change_type",
          org.apache.spark.sql.functions.lit(""))
    else CommitLog.changeFeed(spark, tableDir, from, to, keyCols)
  }

  /** Atomically publish a new family cut: `pins` maps each participant
    * dir to the version this transaction made current. CAS on the next
    * manifest number; on a lost race, re-reads and retries on top of the
    * winner (pins are per-table monotone, so merging is just
    * re-publishing ours over the winner's — a LOWER pin than the
    * winner's aborts instead, it would un-publish state). With
    * `batchId`, replay is a no-op via the manifest ledger. */
  def commit(spark: SparkSession, txnDir: String,
      pins: Map[String, Long], batchId: Option[Long] = None,
      maxRetries: Int = 10): State = {
    val f = fs(spark, txnDir)
    f.mkdirs(new Path(txnDir))
    val normPins = pins.map { case (d, v) =>
      graft.plans.ConstraintCatalog.normalize(d) -> v
    }
    // the normalized pin key → the original dir, kept in the manifest
    // so observability reads resolve on the participant's own
    // FileSystem (normalization strips scheme/authority)
    val origDirs = pins.keys.map(d =>
      graft.plans.ConstraintCatalog.normalize(d) -> d).toMap
    // reverse pointers BEFORE the manifest CAS: by the time a pin is
    // live, the participant's vacuum can already see the family — a
    // crash in between leaves a ref resolving to no pins, which is
    // harmless residue, never a reclaimable pinned version
    pins.keys.foreach(d => LakeRefs.registerFamily(spark, d, txnDir))
    var attempt = 0
    while (true) {
      val cur = latest(spark, txnDir)
      if (batchId.exists(b => cur.exists(_.committed(b)))) {
        System.err.println(
          s"[laketxn] batch ${batchId.get} already committed to $txnDir — " +
            "replay skipped")
        return cur.get
      }
      batchId.filter(b => cur.exists(_.foldedAway(b))).foreach { b =>
        throw new IllegalStateException(
          s"txn commit on $txnDir: batch id $b is below the ledger " +
            s"compaction floor ${cur.get.floor} — the fold erased the " +
            "ability to tell a stale replay from a batch that never " +
            "committed, and proceeding either way risks silent loss or " +
            "double-apply. If this is a replay it committed long ago " +
            "(drop it); if its data never landed, reconcile manually " +
            "and re-issue above the watermark.")
      }
      val curPins = cur.map(_.pins).getOrElse(Map.empty)
      normPins.foreach { case (d, v) =>
        curPins.get(d).filter(_ > v).foreach { held =>
          throw new IllegalStateException(
            s"txn commit on $txnDir would move $d BACKWARD " +
              s"(pinned $held, proposed $v) — pins are monotone; " +
              "re-derive from the current family state")
        }
      }
      // ledger compaction, mirroring the per-table logs: once over
      // LedgerKeep ids, the oldest fold into the floor — replay checks
      // ([[State.committed]]) and the monotone watermark consult the
      // floor, so correctness survives the fold
      val allB = (cur.map(_.batches).getOrElse(Nil) ++ batchId)
        .distinct.sorted
      val prevFloor = cur.map(_.floor).getOrElse(-1L)
      val (floorB, keptB) =
        if (allB.size > CommitLog.LedgerKeep) {
          val cut = allB.size - CommitLog.LedgerKeep
          (math.max(allB(cut - 1), prevFloor), allB.drop(cut))
        } else (prevFloor, allB)
      val next = State(
        cur.map(_.txn + 1).getOrElse(1L),
        curPins ++ normPins,
        keptB, floorB,
        cur.map(_.dirs).getOrElse(Map.empty) ++ origDirs)
      val p = txnFile(txnDir, next.txn)
      // the SAME hardened CAS as the per-table commit point (O_EXCL on
      // local filesystems — Hadoop's local create-no-overwrite is
      // check-then-create and loses manifests under a tight race)
      val created =
        try { CommitLog.casWrite(f, p, render(next)); true }
        catch { case _: CommitLog.CommitConflict => false }
      if (created) return next
      attempt += 1
      if (attempt >= maxRetries) throw new IllegalStateException(
        s"txn commit on $txnDir lost the manifest race $maxRetries times — " +
          "if no live writer is active, a crashed run's manifest file is " +
          "blocking the sequence")
      Thread.sleep(20L * attempt)
    }
    throw new IllegalStateException("unreachable")
  }

  /** ATOMIC MULTI-TABLE WRITE — the dim+fact dual-append as ONE
    * transaction: append each table's rows through its own commit log
    * (all riding the SAME `batchId` in each per-table ledger), then
    * publish one manifest pinning every participant's new version.
    * Manifest readers ([[read]]) see ALL the appends or NONE — the
    * cross-table atomicity a single-log lake cannot express, the
    * reference's one Postgres-transaction property
    * (`clean_data.py:176-210`) completed for writes (the manifest
    * already gave reads atomic visibility).
    *
    * Crash/replay contract, window by window:
    *  - crash BEFORE any table commit: nothing visible, replay redoes
    *    everything;
    *  - crash BETWEEN table commits: committed tables' new versions
    *    exist but are UNREFERENCED by any manifest — family readers
    *    still see the old cut; the replayed batch no-ops the committed
    *    tables (their ledgers hold the id), commits the rest, then
    *    pins — heal-forward, each row exactly once;
    *  - crash AFTER the manifest commit: the manifest ledger no-ops
    *    the whole replay.
    * Requires a `batchId`: without an idempotency key the heal-forward
    * story does not exist, and a crashed multi-table write would need
    * manual repair — the same reason the streaming sink's epochs are
    * mandatory-keyed. The per-table ledger entry is NAMESPACED to this
    * family ([[txnAppId]] — the `(appId, version)` identity, high-water
    * semantics), never the raw shared batch ledger: a participant table
    * can belong to several families or take a streaming sink whose
    * batch ids collide, and an un-namespaced id would silently no-op
    * THIS family's append while the manifest still published — the
    * exact torn pair the verb exists to prevent. High-water semantics
    * mean a family's batch ids must be MONOTONE, the same contract as
    * streaming epochs.
    *
    * Direct per-table readers (plain [[CommitLog.read]]) bypass the
    * manifest by definition and can see a torn pair mid-write — route
    * consistency-critical reads through [[read]], the documented
    * family contract. At 100 TB the verb costs the appends themselves
    * (pure file adds, O(batch) each) plus one kilobyte manifest. */
  def appendAll(spark: SparkSession, txnDir: String,
      writes: Seq[(String, org.apache.spark.sql.DataFrame)],
      batchId: Long): State =
    writeAll(spark, txnDir,
      writes.map { case (d, rows) => TxnAppend(d, rows) }, batchId)

  /** One write of a multi-table transaction ([[writeAll]]). */
  sealed trait TxnWrite { def dir: String }
  /** Pure file adds — O(batch) at any table size, conflict-free. */
  final case class TxnAppend(dir: String,
      rows: org.apache.spark.sql.DataFrame) extends TxnWrite
  /** Keyed copy-on-write upsert of the touched partitions (the
    * streaming sink's update verb, same sequence-aware semantics). */
  final case class TxnUpsert(dir: String,
      rows: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
      partitionCol: String, seqCol: Option[String] = None)
    extends TxnWrite
  /** Predicate delete (copy-on-write of the hit files) — the retention/
    * GDPR leg of a fact-append + purge transaction. Replay-safe through
    * the same per-query ledger: a replayed delete no-ops even when the
    * predicate would now match rows a LATER transaction appended. */
  final case class TxnDelete(dir: String,
      cond: org.apache.spark.sql.Column) extends TxnWrite
  /** Atomic predicate overwrite — delete every row matching `cond` and
    * insert `additions` as one commit (the partition-restatement leg).
    * Unlike the provider's replaceWhere option, no incoming-rows-match
    * constraint is imposed here: the verb is the engine-level
    * restatement primitive and the caller owns the predicate/payload
    * contract. */
  final case class TxnReplaceWhere(dir: String,
      cond: org.apache.spark.sql.Column,
      additions: org.apache.spark.sql.DataFrame) extends TxnWrite

  /** [[appendAll]] generalized to MIXED verbs — the fact-append +
    * dim-upsert shape (new facts arrive while a dimension row's
    * attributes change, atomically), and the COMPLIANCE shape: a
    * fact-append paired with a retention [[TxnDelete]] or a
    * [[TxnReplaceWhere]] restatement, so "add this month, purge
    * expired rows" is one family cut instead of two commits with a
    * torn window between them. Same crash/replay contract as
    * [[appendAll]], window for window — every verb rides the per-query
    * txn ledger under the family app id ([[CommitLog.sinkUpsert]] /
    * [[CommitLog.delete]] / [[CommitLog.replaceWhere]] with `txn`), so
    * a replayed half-applied transaction no-ops the committed tables
    * and completes the rest before pinning. The delete leg's replay
    * guard is the LEDGER, never the predicate: a re-run whose
    * predicate would now match rows a LATER transaction appended still
    * no-ops. */
  def writeAll(spark: SparkSession, txnDir: String,
      writes: Seq[TxnWrite], batchId: Long): State = {
    require(writes.nonEmpty, "writeAll needs at least one write")
    require(writes.map(w => graft.plans.ConstraintCatalog.normalize(w.dir))
      .distinct.size == writes.size,
      "writeAll: one write per table — merge duplicate targets first")
    latest(spark, txnDir) match {
      case Some(cur) if cur.committed(batchId) =>
        System.err.println(
          s"[laketxn] writeAll batch $batchId already committed to " +
            s"$txnDir — replay skipped")
        return cur
      case Some(cur) if cur.foldedAway(batchId) =>
        // below the compaction floor, committed-or-lost is unprovable:
        // a silent "replay skip" here would drop a never-committed
        // batch's every table write under a success return (the exact
        // hole the monotone guard exists to close) — fail loudly with
        // both recoveries named
        throw new IllegalStateException(
          s"writeAll on $txnDir: batch id $batchId is below the ledger " +
            s"compaction floor ${cur.floor} — the fold erased the " +
            "ability to tell a stale replay from a batch that never " +
            "committed. If this is a replay it committed long ago " +
            "(drop it); if its data never landed, reconcile manually " +
            "and re-issue above the watermark.")
      case Some(cur) if batchId < cur.watermark =>
        // ENFORCED, not just documented: the per-table identity is
        // high-water (txnDone's >= rule), so a NEW id below the
        // family's watermark would silently no-op every table write
        // while the manifest still recorded the batch as committed —
        // rows lost everywhere under a success return. Loud beats lost.
        throw new IllegalStateException(
          s"writeAll on $txnDir: batch id $batchId is below the " +
            s"family's committed watermark ${cur.watermark} and was " +
            "never committed itself — family batch ids must be " +
            "MONOTONE (a replayed id is a no-op; a fresh one must " +
            "grow). Re-issue with an id above the watermark.")
      case _ =>
    }
    val appId = txnAppId(txnDir)
    def applyVerb(w: TxnWrite): (String, Long) = w match {
      case TxnAppend(d, rows) =>
        d -> CommitLog.append(spark, rows, d,
          txn = Some((appId, batchId))).version
      case TxnUpsert(d, rows, keyCols, pc, seqCol) =>
        d -> CommitLog.sinkUpsert(spark, rows, d, keyCols, pc, seqCol,
          appId, batchId).version
      case TxnDelete(d, cond) =>
        d -> CommitLog.delete(spark, d, cond,
          txn = Some((appId, batchId))).version
      case TxnReplaceWhere(d, cond, additions) =>
        d -> CommitLog.replaceWhere(spark, d, cond, additions,
          txn = Some((appId, batchId))).version
    }
    // The verbs target DISTINCT tables (enforced above) and each stages +
    // commits through its own per-table log, so until the manifest CAS
    // they are fully independent — run them CONCURRENTLY (guide §2.6:
    // overlap independent jobs). A streaming trigger's wall cost becomes
    // max(verb) instead of Σ(verb); Spark's scheduler back-fills the
    // tail of one verb's job with the other's tasks. Failure semantics
    // are the sequential path's heal-forward window exactly: some
    // subset of tables committed, no manifest — the replayed batch
    // no-ops the committed ones (their ledgers hold the id under this
    // family's appId), commits the rest, then pins once. A failed verb
    // surfaces only after EVERY verb has settled: rethrowing at the
    // first failure would return control while siblings still commit
    // in the background, racing the caller's own replay.
    val pins: Map[String, Long] =
      if (writes.size == 1) Map(applyVerb(writes.head))
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(writes.size, 4))
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        val settled =
          try Await.result(Future.sequence(writes.map(w =>
            Future(applyVerb(w)).transform(scala.util.Try(_)))), Duration.Inf)
          finally pool.shutdown()
        settled.map(_.get).toMap
      }
    commit(spark, txnDir, pins, Some(batchId))
  }

  /** The family-scoped idempotency app id [[appendAll]] rides each
    * participant's per-app ledger under — derived from the normalized
    * manifest directory, so two families sharing a table never collide
    * on raw batch numbers. */
  def txnAppId(txnDir: String): String =
    "laketxn:" + graft.plans.ConstraintCatalog.normalize(txnDir)

  /** Drop all but the newest `keepLast` manifests — the family's own
    * retention pass. Old manifests only serve readers pinned to
    * historical cuts; participants' [[CommitLog.vacuum]] bounds how far
    * back those cuts stay readable anyway, so keep the two retentions
    * aligned. Returns the dropped manifest sequence numbers. */
  def vacuumManifests(spark: SparkSession, txnDir: String,
      keepLast: Int = 8): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the latest manifest")
    val f = fs(spark, txnDir)
    val ts = txnNumbers(f, txnDir)
    val drop = ts.dropRight(keepLast)
    drop.foreach(t => f.delete(txnFile(txnDir, t), false))
    drop
  }

  /** Every version the registered families' RETAINED manifests pin for
    * `tableDir` — [[CommitLog.vacuum]]'s third pin source, next to tags
    * and the published pointer, so a plain `vacuum(participant,
    * keepLast=1)` run by an operator who has never heard of
    * [[vacuumParticipant]] can no longer reclaim the version every
    * family reader resolves through ([[read]] = `readAt(pin)`) —
    * enforced, the way the reference destroys source files only after
    * the durable reference exists (`/root/reference/src/scrape.py:112`).
    * ALL retained manifests contribute (not just the latest): readers
    * pinned to historical family cuts stay readable exactly as far back
    * as [[vacuumManifests]] keeps the cuts themselves — the two
    * retentions share one horizon. Cost: one listing plus K tiny JSON
    * reads per registered family; zero for the common no-family table
    * (one exists() check). */
  def familyPins(spark: SparkSession, tableDir: String): Set[Long] =
    familyReport(spark, tableDir).flatMap(_._2).toSet

  /** Per-family breakdown of [[familyPins]]: (family manifest dir,
    * versions its retained manifests pin for `tableDir`), families that
    * pin nothing for this table omitted. An unreadable manifest warns
    * and contributes nothing (same contract as [[latest]]); a deleted
    * family dir resolves to no pins — stale refs are inert. */
  def familyReport(spark: SparkSession, tableDir: String)
      : Seq[(String, Seq[Long])] = {
    val key = graft.plans.ConstraintCatalog.normalize(tableDir)
    LakeRefs.familiesOf(spark, tableDir).map { txnDir =>
      val f = fs(spark, txnDir)
      val pinsHere = txnNumbers(f, txnDir).flatMap { t =>
        (try Some(parse(readText(f, txnFile(txnDir, t))))
        catch { case e: Exception =>
          System.err.println(
            s"[laketxn] unreadable manifest $t in $txnDir " +
              s"(${e.getMessage}) — it contributes no retention pins")
          None
        }).flatMap(_.pins.get(key))
      }.distinct.sorted
      txnDir -> pinsHere
    }.filter(_._2.nonEmpty)
  }

  /** Vacuum a participant keeping the whole pin-forward RANGE readable:
    * every version from the current pin to latest (plus `extra` older
    * ones for long-running readers). [[CommitLog.vacuum]] already
    * enforces the pinned versions themselves via [[familyPins]] — this
    * wrapper is for operators who also want the versions BETWEEN pin
    * and head (time travel across the family's catch-up window).
    * Returns the reclaimed files. */
  def vacuumParticipant(spark: SparkSession, txnDir: String,
      tableDir: String, extra: Int = 0): Seq[String] = {
    val pinned = pinOf(spark, txnDir, tableDir)
    val latestV = CommitLog.latest(spark, tableDir).map(_.version)
      .getOrElse(return Nil)
    val keep = math.max(1L, latestV - pinned + 1L + extra)
    CommitLog.vacuum(spark, tableDir, keepLast = keep.toInt)
  }
}
