package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Constraints

/** Named refs over the commit log — tags and a published pointer — and
  * the write-audit-publish (WAP) workflow they enable.
  *
  * The version log is a linear history; [[CommitLog.readAt]] already
  * gives any pipeline a pin. What's missing for a production serving
  * path is INDIRECTION: a consumer should follow a NAME whose target
  * moves only when a human or an audit says so, not the head of a log
  * that every ingest advances. Two kinds of ref, both tiny metadata
  * files under `_graft_log/refs/`:
  *
  *  - '''tags''' — immutable name → version bindings
  *    (`refs/tags/<name>`), created with the same create-no-overwrite
  *    CAS as the commit point, so a tag can never be repointed — the
  *    reproducibility anchor ("train_v3 = version 17, forever").
  *  - '''published''' — a monotone pointer advanced by appending
  *    `refs/published/p<seq>.json` files (again CAS-created). The
  *    current published version is the content of the highest p-file;
  *    readers resolving it see a complete old or new value, never a torn
  *    one, and the publish series doubles as an audit trail of WHO went
  *    live WHEN. A backward publish aborts: consumers may cache
  *    "published only moves forward".
  *
  * WAP ([[publishAudited]]): ingest commits land in the log as normal —
  * visible to [[CommitLog.read]], invisible to [[readPublished]] — then
  * the candidate version runs the declarative constraint audit
  * ([[graft.ops.Constraints]]) and the pointer advances ONLY on a clean
  * report. A failing batch needs no rollback: the pointer simply never
  * moves, and the next good commit publishes past it. This is the
  * audit-branch / fast-forward workflow of modern table formats
  * re-expressed over the linear log, and the lake-native form of the
  * reference's staging-then-swap publish discipline
  * (`/root/reference/src/clean_data.py` writes to a staging table and
  * promotes only after row-count checks).
  *
  * At 100 TB: every operation here is metadata-plane — a ref is a
  * ~20-byte file; resolve cost is one directory listing of refs (not of
  * data), independent of table size. The audit reads the candidate
  * snapshot through the committed file list (one pass, row-local checks
  * fused into a single aggregate). */
object LakeRefs extends org.apache.spark.internal.Logging {

  /** Refs bind MAIN-line versions; [[tag]] and [[publish]] reject
    * branch targets loudly (a ref on a branch head would dangle when
    * the branch is dropped). Read paths resolve a branch target to the
    * table's one refs tree. */
  private def refsPath(dir: String, kind: String) =
    new Path(CommitLog.dataDir(dir), s"_graft_log/refs/$kind")

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def requireVersionExists(spark: SparkSession, dir: String,
      v: Long): Unit = {
    // throws with a clear message if v was never committed (or vacuumed)
    CommitLog.snapshotAt(spark, dir, v)
    ()
  }

  // -------------------------------------------------------------- tags

  /** Bind `name` to `version`, immutably. A second bind of the same name
    * fails loudly (CAS) — tags are reproducibility anchors, not mutable
    * pointers; use [[publish]] for a moving target. */
  def tag(spark: SparkSession, dir: String, name: String, version: Long): Unit = {
    require(CommitLog.branchOf(dir).isEmpty,
      s"tags bind main-line versions — got branch target $dir; " +
        "fast-forward the branch, then tag the adopted version")
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"tag name '$name' — use letters, digits, '_', '-', '.'")
    requireVersionExists(spark, dir, version)
    val f = fs(spark, dir)
    f.mkdirs(refsPath(dir, "tags"))
    // direct CAS: a lost race means the tag exists — immutable, no retry
    try LakeCommit.casWrite(f, new Path(refsPath(dir, "tags"), name),
      version.toString)
    catch { case e: CommitLog.CommitConflict =>
      throw new IllegalStateException(
        s"tag '$name' already exists on $dir (tags are immutable — " +
          s"pick a new name): ${e.getMessage}")
    }
  }

  /** The version a tag points at; fails loudly on an unknown tag. */
  def tagVersion(spark: SparkSession, dir: String, name: String): Long = {
    val p = new Path(refsPath(dir, "tags"), name)
    val f = fs(spark, dir)
    require(f.exists(p), s"no tag '$name' on $dir")
    readText(f, p).trim.toLong
  }

  /** The table as of a tag — sugar for readAt(tagVersion). */
  def readTag(spark: SparkSession, dir: String, name: String): DataFrame =
    CommitLog.readAt(spark, dir, tagVersion(spark, dir, name))

  /** All tags as (tag, version), sorted by name. */
  def tags(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val f = fs(spark, dir)
    val p = refsPath(dir, "tags")
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(s =>
      s.getPath.getName -> readText(f, s.getPath).trim.toLong)
      .sortBy(_._1)
  }

  // --------------------------------------------------------- published

  private val PubName = "^p(\\d{20})\\.json$".r

  private def pubSeqs(f: FileSystem, dir: String): Seq[Long] = {
    val p = refsPath(dir, "published")
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.flatMap(s => s.getPath.getName match {
      case PubName(n) => Some(n.toLong)
      case _ => None
    }).sorted
  }

  /** The currently published version, if any publish ever happened. A
    * truncated/corrupt newest pointer file (crash mid-create) degrades
    * to the previous publish with a stderr warning — same contract as
    * the version log itself. */
  def publishedVersion(spark: SparkSession, dir: String): Option[Long] = {
    val f = fs(spark, dir)
    val seqs = pubSeqs(f, dir)
    seqs.reverse.iterator.map { n =>
      val p = new Path(refsPath(dir, "published"), f"p$n%020d.json")
      try Some(readText(f, p).trim.toLong)
      catch { case _: Exception =>
        logWarning(s"unreadable publish pointer $p — degrading to the " +
          "previous publish")
        None
      }
    }.collectFirst { case Some(v) => v }
  }

  /** Advance the published pointer to `version`. Monotone: publishing a
    * version at or below the current one aborts (consumers may cache
    * "published only moves forward" — use [[CommitLog.restore]] +
    * publish of the NEW restore commit to roll back). Concurrent
    * publishers race on the CAS of the next pointer file; the loser
    * re-checks monotonicity against the winner and retries
    * ([[LakeCommit.retrying]]) or aborts. */
  def publish(spark: SparkSession, dir: String, version: Long): Unit = {
    require(CommitLog.branchOf(dir).isEmpty,
      s"publish binds main-line versions — got branch target $dir; " +
        "fast-forward the branch, then publish the adopted version")
    requireVersionExists(spark, dir, version)
    val f = fs(spark, dir)
    f.mkdirs(refsPath(dir, "published"))
    LakeCommit.retrying(s"publish($version) on $dir") {
      publishedVersion(spark, dir).filter(_ >= version).foreach { cur =>
        throw new IllegalStateException(
          s"publish($version) on $dir but $cur is already published — " +
            "the pointer only moves forward")
      }
      val next = pubSeqs(f, dir).lastOption.getOrElse(0L) + 1L
      LakeCommit.casWrite(f,
        new Path(refsPath(dir, "published"), f"p$next%020d.json"),
        version.toString)
    }
  }

  /** The table at the published pointer. A table never published serves
    * its latest snapshot (non-WAP tables behave as before); once a
    * publish exists, ONLY published data is served — later unpublished
    * commits are invisible here (that is the point of WAP). */
  def readPublished(spark: SparkSession, dir: String): DataFrame =
    publishedVersion(spark, dir) match {
      case Some(v) => CommitLog.readAt(spark, dir, v)
      case None => CommitLog.read(spark, dir)
    }

  /** The publish audit trail: every pointer advance as (seq, version),
    * oldest first. The p-file series is append-only, so this is the
    * "who went live when" record WAP workflows audit; unreadable (torn)
    * pointer files surface as null versions rather than vanishing. */
  def publishHistory(spark: SparkSession, dir: String): Seq[(Long, Option[Long])] = {
    val f = fs(spark, dir)
    pubSeqs(f, dir).map { n =>
      val p = new Path(refsPath(dir, "published"), f"p$n%020d.json")
      n -> (try Some(readText(f, p).trim.toLong)
        catch { case _: Exception => None })
    }
  }

  /** Every version a ref currently pins: all tags plus the CURRENT
    * published pointer. [[CommitLog.vacuum]] keeps these readable
    * regardless of `keepLast` — a ref is a promise. Superseded publish
    * pointers pin nothing (the monotone contract means no consumer may
    * still follow them). (Transaction-family pins are a third pin
    * source vacuum consults — [[LakeTxn.familyPins]], registered
    * through [[registerFamily]] below.) */
  def pinnedVersions(spark: SparkSession, dir: String): Set[Long] =
    (tags(spark, dir).map(_._2) ++ publishedVersion(spark, dir)).toSet

  // ---------------------------------------------------------- families

  /** Reverse pointers from a participant table to every
    * [[LakeTxn]] family that pins it, as tiny ref files under
    * `refs/families/<digest-of-family-dir>` whose CONTENT is the family
    * manifest directory (the original string, so the family resolves on
    * its own FileSystem). Written once per (participant, family) by
    * [[LakeTxn.commit]]; [[CommitLog.vacuum]] follows them to treat the
    * family's pinned versions as enforced pin sources — a plain
    * `vacuum(participant, keepLast=1)` can no longer reclaim the
    * version every family reader resolves through
    * ([[LakeTxn.read]] = `readAt(pin)`), the same promise a tag makes. */
  private def familyRef(dir: String, txnDir: String): Path = {
    val norm = graft.plans.ConstraintCatalog.normalize(txnDir)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val key = md.digest(norm.getBytes(UTF_8)).take(8)
      .map(b => f"$b%02x").mkString
    new Path(refsPath(dir, "families"), key)
  }

  /** Record that family `txnDir` pins versions of `participantDir`.
    * Idempotent (exists-check + CAS); a lost race means a twin
    * registered the same family. Metadata-plane: one ~40-byte file per
    * (participant, family), ever. */
  def registerFamily(spark: SparkSession, participantDir: String,
      txnDir: String): Unit = {
    val f = fs(spark, participantDir)
    val p = familyRef(participantDir, txnDir)
    if (f.exists(p)) return
    f.mkdirs(p.getParent)
    // direct CAS: a lost race means a twin registered the same family
    try LakeCommit.casWrite(f, p, txnDir)
    catch { case _: CommitLog.CommitConflict => () }
  }

  /** The family manifest dirs registered against `dir` (empty when the
    * table participates in no transaction family). */
  def familiesOf(spark: SparkSession, dir: String): Seq[String] = {
    val f = fs(spark, dir)
    val p = refsPath(dir, "families")
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(s => readText(f, s.getPath).trim)
      .filter(_.nonEmpty).sorted
  }

  /** Write-audit-publish: run the declarative constraint audit against
    * `version`'s snapshot and advance the published pointer only on a
    * clean report. Returns (published?, audit report rows). The report
    * is computed in one pass over the candidate (row-local checks fuse
    * into a single aggregate — [[graft.ops.Constraints.audit]]). */
  def publishAudited(spark: SparkSession, dir: String, version: Long,
      checks: Seq[Constraints.Check]): (Boolean, DataFrame) = {
    val report = Constraints.audit(
      CommitLog.readAt(spark, dir, version), checks)
    val failing = report.filter(org.apache.spark.sql.functions
      .col("violations") > 0L)
      .collect().map(_.getString(0)).toSeq // ≤ one row per check — small
    if (failing.isEmpty) { publish(spark, dir, version); (true, report) }
    else {
      logWarning(s"publish of $dir v$version BLOCKED by audit: " +
        failing.mkString("; "))
      (false, report)
    }
  }
}
