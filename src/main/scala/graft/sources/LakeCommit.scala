package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import CommitLog._

/** THE commit protocol of a graft-lake table — the one place a write
  * becomes visible. It is the optimistic-transaction shape of Delta
  * Lake's `OptimisticTransaction` (Armbrust et al., VLDB 2020) over the
  * version-file compare-and-swap, and the lake-format answer to the
  * reference's transactional load plus unique index
  * (`database/schema.sql:31-33`). Every attempt of [[run]]:
  *
  *  1. reads the latest snapshot once;
  *  2. returns it unchanged when the write's `(appId, version)`
  *     identity is already recorded ([[txnDone]]);
  *  3. checks the branch merge fence ([[assertUnfenced]]);
  *  4. asks the verb for its next snapshot (`None`: nothing to commit)
  *     and records the identity in it as `graft.txn.<appId>`;
  *  5. CASes the next version file ([[casWrite]]).
  *
  * A lost CAS ([[CommitLog.CommitConflict]]) is settled by the verb's
  * [[Rule]] — one of three:
  *
  *  - [[Abort]]: the work was derived from a snapshot that is now
  *    stale (whole-table rewrites, schema DDL, properties); throw "lost
  *    the commit race" with the log intact;
  *  - [[Rebase]]: staged files republish over intervening commits that
  *    touched none of the partitions this writer rewrote; a clash (or
  *    any intervening commit under a pinned base) is a typed
  *    [[CommitLog.WriteConflict]];
  *  - [[Rederive]]: the next snapshot is a pure function of the latest
  *    one; retry on the fresh snapshot.
  *
  * Retries back off through [[backoff]], and running out of attempts
  * throws [[CommitLog.CommitContention]] — both in [[retrying]], the one
  * retry loop, which the family manifest ([[LakeTxn.commit]]) and the
  * publish pointer ([[LakeRefs.publish]]) share for their own files.
  * The few sites that decide something other than retry-or-abort on a
  * lost CAS (branch creation, fast-forward, the merge's sync commit,
  * tags) call [[casWrite]] directly. */
private[sources] object LakeCommit extends Logging {

  /** How a verb settles a lost CAS. */
  sealed trait Rule
  case object Abort extends Rule
  final case class Rebase(staged: StagedUpsert, pinnedBase: Boolean)
      extends Rule
  case object Rederive extends Rule

  private val DefaultAttempts = 10

  /** The commit point: a concurrent writer that raced to the same path
    * fails HERE with [[CommitConflict]], the log unchanged. The
    * primitive is the path's [[LogStore]]: atomic create-no-overwrite
    * on POSIX/HDFS, a registered conditional-put backend on object
    * stores ([[ConditionalPutLogStore]]). */
  def casWrite(f: FileSystem, p: Path, text: String): Unit =
    LogStore.forPath(f, p).casWrite(f, p, text)

  /** Loud rejection of any non-merge commit against a fenced branch
    * head — step 3 of every [[run]] attempt, and the branch rebase's
    * own check. */
  def assertUnfenced(prev: Snapshot, dir: String): Unit =
    prev.props.get(FenceProp).foreach { epoch =>
      throw new IllegalStateException(
        s"$dir is FENCED for merge (fence $epoch): a mergeBranch is " +
          "adopting this branch into main — wait for its sync commit, " +
          "or if the merge crashed, clear the fence with " +
          "CommitLog.unfenceBranch and re-merge")
    }

  /** Step 2: is this write already recorded in `s`? Logs the skip. The
    * verbs also call it before staging, so a replay stages nothing. */
  def replayed(s: Snapshot, dir: String,
      txn: Option[(String, Long)]): Boolean =
    txn.exists { case (a, v) =>
      val hit = txnDone(s, a, v)
      if (hit) logInfo(s"txn $a#$v already committed to $dir — replay " +
        "skipped (any staged files are vacuum garbage)")
      hit
    }

  /** The metadata-only next snapshot: `s` one version on, stamped now. */
  def bump(s: Snapshot, op: String): Snapshot =
    s.copy(version = s.version + 1, op = op,
      committedAt = System.currentTimeMillis())

  def backoff(attempt: Int): Unit = Thread.sleep(20L * attempt)

  /** THE retry loop: evaluate `attempt` until it returns; a lost CAS
    * ([[CommitConflict]], or a fast-forward that found main advanced)
    * backs off and retries, up to `maxAttempts` attempts in all. */
  def retrying[A](what: => String, maxAttempts: Int = DefaultAttempts)(
      attempt: => A): A = {
    var n = 0
    while (true) {
      try return attempt
      catch {
        case e @ (_: CommitConflict | _: DivergedException) =>
          n += 1
          if (n >= maxAttempts) throw new CommitContention(
            s"$what lost the commit race $n times — if no live writer " +
              "is active, a crashed writer's version file is blocking " +
              s"the log (${e.getMessage})")
          // the winner's file becomes readable a moment after its
          // create; the next attempt re-reads past it
          backoff(n)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit one write to `dir` through the protocol (see the object
    * doc). `from` is the snapshot the verb already read, used for the
    * first attempt instead of a re-read; a version-0 seed there is a
    * table creation, whose lost race raises [[CreateRace]]. `fenced =
    * false` only for the verb that clears a fence. */
  def run(spark: SparkSession, dir: String, op: String, rule: Rule,
      from: Option[Snapshot] = None,
      txn: Option[(String, Long)] = None, fenced: Boolean = true,
      maxAttempts: Int = DefaultAttempts)(
      next: Snapshot => Option[Snapshot]): Snapshot = {
    var first = from
    retrying(s"$op on $dir", maxAttempts) {
      val s = first.getOrElse(mustLatest(spark, dir))
      first = None
      if (replayed(s, dir, txn)) s
      else {
        if (fenced) assertUnfenced(s, dir)
        rule match {
          case Rebase(st, pinned) if s.version != st.base.version =>
            checkRebase(spark, dir, op, st, s, pinned)
          case _ => ()
        }
        next(s).map(n => n.copy(props = n.props ++ txnProps(txn))) match {
          case None => s
          case Some(n) =>
            try casWrite(hadoopFs(spark, dir), versionFile(dir, n.version),
              render(n))
            catch { case e: CommitConflict if rule == Abort =>
              throw lostRace(op, dir, s, e)
            }
            n
        }
      }
    }
  }

  /** [[run]] with the [[Rebase]] rule: publish `staged`'s files on top
    * of whatever snapshot is latest at each attempt. */
  def rebase(spark: SparkSession, dir: String, staged: StagedUpsert,
      op: String, maxAttempts: Int = DefaultAttempts,
      pinnedBase: Boolean = false): Snapshot =
    run(spark, dir, op, Rebase(staged, pinnedBase), txn = staged.txn,
      maxAttempts = maxAttempts) { s =>
      Some(build(spark, dir, s, s.files.filterNot(staged.removed) ++
        staged.added, staged.added, op, staged.schemaJson, staged.propsDelta,
        if (staged.dvAppend.isEmpty && staged.dvDrop.isEmpty) None
        else Some(s.dvs.filterNot(staged.dvDrop) ++ staged.dvAppend)))
    }

  /** A pinned-base or version-pinned write whose base moved: the work
    * was DERIVED from `expected` and must be re-derived, never
    * rebased. */
  def requireVersion(op: String, dir: String, expected: Long,
      latest: Long): Unit =
    if (latest != expected) throw new WriteConflict(
      s"$op on $dir expected version $expected but latest is $latest — " +
        "re-derive from the current snapshot and re-run (staged files " +
        "are vacuum garbage)")

  /** The rebase rule against snapshot `s`, which moved past the staged
    * base: diff the file lists — the partitions whose files changed, or
    * that gained deletion vectors, are what the intervening commits
    * touched. Disjoint from the staged rewrite → rebase; overlapping →
    * a typed [[WriteConflict]]. A pinned base (its props were DERIVED
    * from the base snapshot) admits no intervening commit at all. */
  private def checkRebase(spark: SparkSession, dir: String, op: String,
      st: StagedUpsert, s: Snapshot, pinned: Boolean): Unit = {
    if (pinned) requireVersion(op, dir, st.base.version, s.version)
    val baseSet = st.base.files.toSet
    val nowSet = s.files.toSet
    // a delete-mor commit changes NO files — its partitions live in the
    // appended deletion vectors; without them a writer staged before
    // the vector landed would republish the partition from its pre-DV
    // image, silently resurrecting tombstoned rows
    val dvParts = dvTouchedParts(spark, dir,
      s.dvs.filterNot(st.base.dvs.toSet))
    val intervening =
      ((nowSet -- baseSet) ++ (baseSet -- nowSet)).map(partOf) ++ dvParts
    val clash = intervening.intersect(st.touchedParts)
    if (clash.nonEmpty) throw new WriteConflict(
      s"$op conflict on $dir: concurrent commits touched partition(s) " +
        s"${clash.toSeq.sorted.mkString(", ")} this writer rewrote — " +
        s"re-run the $op against the current snapshot " +
        "(staged files are vacuum garbage)")
  }

  private def lostRace(op: String, dir: String, s: Snapshot,
      e: CommitConflict): IllegalStateException =
    if (s.version == 0L) new CreateRace(
      s"$op on $dir lost the commit race — another writer created the " +
        s"table first (${e.getMessage}); re-invoke to land on top " +
        "(staged files are vacuum garbage)")
    else new IllegalStateException(
      s"$op on $dir lost the commit race (${e.getMessage}) — a " +
        "concurrent commit made this write stale; re-read and re-run " +
        "(staged files are vacuum garbage)")

  /** The next data snapshot after `prev`: `files` (+ stats) as
    * version `prev.version + 1`. The stats snapshot is incremental:
    * rows for files carried over from `prev` are reused; only `newRels`
    * are scanned. The manifest name carries a random suffix so two
    * racing committers never collide on it — the version file stays the
    * ONLY commit point (a manifest that lost its race is vacuum
    * garbage). */
  def build(spark: SparkSession, dir: String, prev: Snapshot,
      files: Seq[String], newRels: Seq[String], op: String,
      schemaJson: Option[String] = None,
      propsDelta: Map[String, String] = Map.empty,
      dvsNew: Option[Seq[String]] = None,
      /** REPLACE TABLE mode: `schemaJson` is the EXACT new schema (no
        * additive merge with the previous), the rename/drop
        * bookkeeping resets (the new files carry the new schema's own
        * names), and per-column stats/sketch/bloom/theta declarations
        * survive only for columns the new schema still carries (a
        * manifest builder asked for a vanished column would fail every
        * later commit). */
      schemaReplace: Boolean = false): Snapshot = {
    val v = prev.version + 1
    val keepCol: String => Boolean =
      if (!schemaReplace) _ => true
      else schemaJson.map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
          .fieldNames.toSet.contains _).getOrElse(_ => true)
    val statsCols = prev.statsCols.filter(keepCol)
    val sketchCols = prev.sketchCols.filter(keepCol)
    val bloomCols = prev.bloomCols.filter(keepCol)
    val thetaCols = prev.thetaCols.filter(keepCol)
    val manifestRel =
      if (statsCols.isEmpty && sketchCols.isEmpty &&
        bloomCols.isEmpty && thetaCols.isEmpty) None
      else {
        val tag = java.util.UUID.randomUUID.toString.take(8)
        val rel = relPrefix(dir) + f"manifest-v$v%020d-$tag.parquet"
        // carry-over filters by the REMOVED set (churn-sized), not the
        // kept set (table-sized): at a million files an In-list over the
        // kept files would put one literal per untouched file into the
        // plan of every commit
        val removedSet = prev.files.toSet -- files
        // a schema REPLACE references no prior file (and the old
        // manifest's column layout may no longer union with the new)
        val kept =
          if (schemaReplace) None
          else prev.manifest.map { m =>
            val df = spark.read.parquet(logFile(dir, m))
            if (removedSet.isEmpty) df
            else df.filter(!col("file").isInCollection(removedSet.toSeq))
          }
        val fresh =
          if (newRels.isEmpty) None
          else Some(relStats(spark, dir, newRels, statsCols,
            sketchCols, bloomCols, prev.bloomExpect,
            thetaCols, prev.thetaLgK))
        val parts = kept.toSeq ++ fresh
        if (parts.isEmpty) None
        else {
          val merged = parts.reduce(_ unionByName _)
          merged.coalesce(1).write.mode(SaveMode.ErrorIfExists)
            .parquet(logFile(dir, rel))
          Some(rel)
        }
      }
    Snapshot(v, files.sorted,
      statsCols, manifestRel, op, sketchCols,
      if (schemaReplace) schemaJson
      else mergeSchemaJson(prev.schemaJson, schemaJson),
      bloomCols, prev.bloomExpect, prev.props ++ propsDelta,
      // persist the layout so a later zero-file snapshot still knows it
      files.headOption.map(partColsFromRel).getOrElse(prev.partCols),
      // wall-clock stamp for AS-OF resolution only — never read by any
      // query result path, so clock skew costs time-travel precision,
      // not correctness
      System.currentTimeMillis(),
      thetaCols, prev.thetaLgK,
      // deletion vectors: an explicit override (delete-mor appends; a
      // whole-table rewrite clears; restore re-pins) else inherited —
      // entries naming files this commit removed match nothing and are
      // swept with the next whole-table rewrite
      dvsNew.getOrElse(prev.dvs),
      if (schemaReplace) Map.empty else prev.physNames,
      if (schemaReplace) Nil else prev.retired)
  }
}
