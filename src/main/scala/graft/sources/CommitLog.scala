package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Versioned commit log for a parquet lake — ONE metadata mechanism
  * replacing the uncoordinated sidecars that grew around the lake (the
  * zone-map `_graft_manifest` and compaction's rename swap), so a reader always
  * sees a complete pre- or post-commit snapshot and never a torn mix.
  * This is the lake-format answer to the reference's Postgres schema,
  * where the unique index + `equipment_files` ledger give writers
  * atomicity and readers consistency for free
  * (`/root/reference/database/schema.sql:22-33`).
  *
  * Design (single table, MVCC over immutable files):
  *  - Data files are IMMUTABLE and committing operations never delete
  *    them. `upsert` and `compact` write NEW files alongside the old
  *    (copy-on-write) and then publish a version file listing exactly
  *    the files that make up the new snapshot. Old versions stay
  *    readable ([[readAt]]) until [[vacuum]].
  *  - The version file `_graft_log/v<20-digit>.json` is the COMMIT
  *    POINT: it is created with create-no-overwrite (the filesystem's
  *    compare-and-swap), so two writers racing to the same version fail
  *    loudly on the second create — the single-writer contract is now
  *    ENFORCED, not just documented.
  *  - The version file carries everything that must change atomically
  *    with the data: the live file list, the table properties — among
  *    them each idempotent writer's exactly-once entry
  *    `graft.txn.<appId> = <last committed version>` (the table's ONE
  *    replay identity, Delta's `txn` action: the entry rides the commit,
  *    so a replayed `(appId, version)` is a no-op) — and a per-version
  *    zone-map stats snapshot (`manifest`). Because the stats are
  *    pinned to the version they describe, the skipping-manifest
  *    STALENESS failure mode is gone by construction — [[scanBox]]
  *    needs no freshness check at all.
  *  - Readers resolve the latest version file and read exactly its file
  *    list (`basePath` keeps hive partition columns). An uncommitted
  *    data file (a crashed writer's residue) is invisible: it is on
  *    disk but in no version. A truncated/corrupt latest version file
  *    (crash mid-create) degrades to the previous version with a stderr
  *    warning — pre-state, never a torn mix.
  *
  * At 100 TB: the per-commit metadata is one row per file (the same
  * planning-scale footprint any table format carries); an upsert reads
  * and rewrites only the touched partitions' files (pruned via the
  * `key=value` path components of the file list, no directory listing);
  * vacuum cost is one listing plus unlink of dead files.
  *
  * Multi-writer (optimistic concurrency): every verb commits through
  * ONE protocol, [[LakeCommit.run]] (read, replay check, fence check,
  * next snapshot, CAS; a lost CAS aborts, rebases or re-derives by the
  * verb's rule). [[upsert]] is staged ([[stageUpsert]]) and committed
  * ([[commitStaged]]) separately. The
  * staged files are invisible until the commit; when the CAS loses a
  * race, the committer re-reads the new latest snapshot, checks the
  * PARTITION-level conflict unit (did any intervening commit touch a
  * partition this writer rewrote?), and if disjoint REBASES — republishes
  * its files on top of the winner's snapshot at the next version — so two
  * writers on disjoint partitions both succeed, serialized by the log.
  * Overlapping writers (and compaction racing any data commit) abort
  * loudly with the log intact; the loser's staged files are unreferenced
  * garbage for [[vacuum]]. This is the optimistic-concurrency shape the
  * reference gets from Postgres row locks + the unique index
  * (`/root/reference/database/schema.sql:31-33`), re-expressed for an
  * immutable-file lake.
  *
  * Contract boundaries, stated loudly: the CAS relies on atomic
  * create-no-overwrite (HDFS/local semantics; an object store needs a
  * conditional-put equivalent), and [[vacuum]] breaks readers pinned to
  * the versions it drops — retain enough history for the longest query.
  * [[vacuum]] IS safe under concurrent in-flight writers: their staged
  * dirs and published-but-uncommitted files are protected by an age
  * fence (`staleStagingMs`) — only files unreferenced for longer than
  * the floor are reclaimed, so a live writer's work survives and a
  * crashed writer's residue ages out (the Delta-VACUUM retention shape).
  */
object CommitLog extends org.apache.spark.internal.Logging {
  import LakeCommit.{Abort, Rederive, assertUnfenced, bump, casWrite,
    replayed}

  private val LogDirName = "_graft_log"
  private val DefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  // ---------------------------------------------------------- branches
  /** ZERO-COPY BRANCHES: `<table dir>@<name>` addresses a BRANCH of the
    * table — an independent commit log (`_graft_log/branches/<name>/`)
    * sharing the table's one DATA directory. Branching is a metadata
    * operation at any table size: [[createBranch]] writes ONE version
    * file (a copy of the fork snapshot), and from there the branch and
    * the main line commit through separate CAS domains — writers on
    * different branches never conflict — while their data files land
    * side by side under writer-unique names. Every read/write/maintain
    * verb in this object accepts a branch target transparently; the
    * marker is split here, once, and every path constructed from a
    * target flows through [[dataDir]] (shared data) or [[logPath]]
    * (per-branch log). [[vacuum]] is branch-aware by UNION: a data
    * file, manifest, or deletion vector referenced by ANY log over the
    * data directory is live — which is exactly what makes the branch
    * zero-copy instead of merely cheap. Pre-fork history stays
    * time-travelable through the branch: [[snapshotAt]] falls back to
    * the main log for versions older than the fork.
    *
    * The `@` splits only when it follows the last `/` and the suffix is
    * a valid branch name, so URI authorities (`user@host`) and data
    * paths never mis-parse. A LITERAL table directory whose last
    * segment contains `@` (a table created before branches existed, or
    * a dataset layout the operator does not control) is addressed with
    * a trailing slash — `/data/events@2024/` — which puts the `@`
    * before the last `/` and defeats the branch parse; [[mustLatest]]
    * names this escape when a branch-parsed target has no branch but
    * the literal path holds a table. */
  private val BranchName = "^[A-Za-z0-9][A-Za-z0-9_.-]*$".r

  /** `(data directory, branch name)` of a target string. */
  private[graft] def splitBranch(target: String): (String, Option[String]) = {
    val at = target.lastIndexOf('@')
    if (at < 0 || at <= target.lastIndexOf('/')) (target, None)
    else {
      val (d, b) = (target.substring(0, at), target.substring(at + 1))
      if (BranchName.matches(b)) (d, Some(b)) else (target, None)
    }
  }

  /** The DATA directory of a target — identity for a plain table dir,
    * the marker-stripped dir for a branch target. Every data-file path,
    * scan basePath, and staging dir derives from this: branches share
    * one data directory by construction. */
  private[graft] def dataDir(target: String): String = splitBranch(target)._1

  private[graft] def branchOf(target: String): Option[String] =
    splitBranch(target)._2

  /** The addressable target string of `name`'s branch of `dir`. */
  def branchTarget(dir: String, name: String): String = {
    require(BranchName.matches(name),
      s"branch name '$name' — use letters, digits, '_', '-', '.'")
    s"${dataDir(dir)}@$name"
  }

  /** Log-tree rel prefix for artifacts MINTED by commits on this
    * target: branch commits mint `branches/<name>/manifest-…` so their
    * metadata lives inside the branch's own log dir while staying
    * resolvable from any log over the table ([[logFile]]). */
  private[sources] def relPrefix(target: String): String =
    branchOf(target).map(b => s"branches/$b/").getOrElse("")

  /** A committed log-tree rel (manifest / deletion vector) resolved
    * against the table's ONE log tree — rels are log-tree-relative, so
    * a branch snapshot can reference main-minted artifacts (its
    * inherited seed) and vice versa (a fast-forwarded branch commit). */
  private[sources] def logFile(target: String, rel: String): String =
    s"${dataDir(target)}/$LogDirName/$rel"

  /** One committed version: the live file list (dir-relative), the
    * zone-map stats snapshot (relative path of a parquet directory under
    * the log, if stats columns were declared at [[init]]), the
    * operation that produced it (`init` | `upsert` | `compact` —
    * [[changesBetween]] uses this to tell data commits from pure
    * rewrites), and the table properties, which carry each idempotent
    * writer's `graft.txn.<appId>` entry ([[txnVersion]]). Version files
    * written before the entries became the only replay identity also
    * carry a shared batch-id set and its compaction floor; they still
    * parse, and those ids are ignored. */
  final case class Snapshot(
      version: Long, files: Seq[String],
      statsCols: Seq[String], manifest: Option[String], op: String,
      sketchCols: Seq[String] = Nil, schemaJson: Option[String] = None,
      bloomCols: Seq[String] = Nil, bloomExpect: Long = 1L << 20,
      props: Map[String, String] = Map.empty,
      partCols: Seq[String] = Nil,
      committedAt: Long = 0L,
      thetaCols: Seq[String] = Nil,
      thetaLgK: Int = 14,
      dvs: Seq[String] = Nil,
      /** logical→PHYSICAL column names, entries only where they differ.
        * RENAME COLUMN is metadata-only: data files keep the column's
        * birth name forever; readers request the physical schema and
        * alias back, writers rename just before staging. */
      physNames: Map[String, String] = Map.empty,
      /** physical names of DROPPED columns, kept so a later ADD COLUMNS
        * of the same name mints a fresh physical name instead of
        * resurrecting the dropped column's values from old files. */
      retired: Seq[String] = Nil)

  /** How many batch ids a [[LakeTxn]] family manifest carries
    * verbatim. Family batch ids are monotone, so its ledger does not
    * need every id ever: once the list exceeds this cap the OLDEST ids
    * compact into the manifest's `floor` — "everything at or below this
    * id is committed" — keeping the manifest bounded (a ledger that
    * republished its whole history made per-commit metadata O(n) and
    * total log size O(n²) for a long-lived writer). Per-table replay
    * needs no cap: it is one `graft.txn.<appId>` entry per writer.
    * `var` only so specs can exercise the compaction without 10k
    * commits. */
  @volatile private[sources] var LedgerKeep: Int = 10000

  private def logPath(target: String) = splitBranch(target) match {
    case (d, None) => new Path(d, LogDirName)
    case (d, Some(b)) => new Path(d, s"$LogDirName/branches/$b")
  }
  private[sources] def versionFile(dir: String, v: Long) =
    new Path(logPath(dir), f"v$v%020d.json")
  private[sources] def hadoopFs(spark: SparkSession, dir: String): FileSystem =
    new Path(dataDir(dir))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------------- codec
  private[sources] def render(s: Snapshot): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(
      ("version" -> s.version) ~ ("files" -> s.files) ~
        ("statsCols" -> s.statsCols) ~
        ("manifest" -> s.manifest) ~ ("op" -> s.op) ~
        ("sketchCols" -> s.sketchCols) ~ ("schemaJson" -> s.schemaJson) ~
        ("bloomCols" -> s.bloomCols) ~ ("bloomExpect" -> s.bloomExpect) ~
        ("props" -> s.props) ~ ("partCols" -> s.partCols) ~
        ("committedAt" -> s.committedAt) ~
        ("thetaCols" -> s.thetaCols) ~ ("thetaLgK" -> s.thetaLgK) ~
        ("dvs" -> s.dvs) ~ ("physNames" -> s.physNames) ~
        ("retired" -> s.retired)))
  }

  private def parse(text: String): Snapshot = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(text)
    Snapshot(
      (j \ "version").extract[Long],
      (j \ "files").extract[Seq[String]],
      (j \ "statsCols").extract[Seq[String]],
      (j \ "manifest").extractOpt[String],
      (j \ "op").extractOpt[String].getOrElse("unknown"),
      (j \ "sketchCols").extractOpt[Seq[String]].getOrElse(Nil),
      (j \ "schemaJson").extractOpt[String],
      (j \ "bloomCols").extractOpt[Seq[String]].getOrElse(Nil),
      (j \ "bloomExpect").extractOpt[Long].getOrElse(1L << 20),
      (j \ "props").extractOpt[Map[String, String]].getOrElse(Map.empty),
      (j \ "partCols").extractOpt[Seq[String]].getOrElse(Nil),
      (j \ "committedAt").extractOpt[Long].getOrElse(0L),
      (j \ "thetaCols").extractOpt[Seq[String]].getOrElse(Nil),
      (j \ "thetaLgK").extractOpt[Int].getOrElse(14),
      (j \ "dvs").extractOpt[Seq[String]].getOrElse(Nil),
      (j \ "physNames").extractOpt[Map[String, String]].getOrElse(Map.empty),
      (j \ "retired").extractOpt[Seq[String]].getOrElse(Nil))
  }

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** A lost CAS: the version (or pointer/manifest) file this writer
    * tried to create already exists. Raised only by [[LogStore]];
    * [[LakeCommit.run]] settles it by the verb's rule — rebase,
    * re-derive, or abort with "lost the commit race". */
  final class CommitConflict(msg: String) extends IllegalStateException(msg)

  /** Typed RETRY EXHAUSTION: a rebase or re-derive verb lost every one
    * of its CAS attempts ([[LakeCommit.retrying]]) — contention, or a
    * crashed writer's version file squatting on the next version. Not a
    * true conflict: re-running the verb is safe. The message names both
    * ("lost the commit race", "blocking the log"). */
  final class CommitContention(msg: String) extends IllegalStateException(msg)

  /** Typed TRUE-CONFLICT signal: concurrent commits rewrote a
    * partition this writer also rewrote, so the write cannot rebase —
    * the documented recovery is re-running the verb against the
    * current snapshot. A TYPE (extending the documented
    * IllegalStateException) so retry harnesses classify it without
    * matching message text. Distinct from [[CommitConflict]], which is
    * the benign version-number race the protocol retries internally.
    * Also raised when a write pinned to an expected version finds the
    * table moved (its work was derived from the stale snapshot). */
  final class WriteConflict(msg: String) extends IllegalStateException(msg)

  /** Typed divergence signal: the branch's fork point is behind the
    * main head, so [[fastForward]]'s no-divergence precondition fails
    * (or its CAS lost to an advancing main). [[mergeBranch]] classifies
    * its retry loop on THIS TYPE — never on message text, which a
    * rewording would silently break. Extends IllegalStateException so
    * callers that only know the documented supertype still catch it. */
  final class DivergedException(msg: String) extends IllegalStateException(msg)

  /** Typed BOOTSTRAP-RACE signal: another writer created the table's
    * log first, so this writer's bootstrap commit lost. The sink verbs
    * classify it by TYPE and land on top of the winner's table; it
    * extends IllegalStateException so callers that only know the
    * documented supertype still catch it. */
  final class CreateRace(msg: String) extends IllegalStateException(msg)

  /** Branch MERGE FENCE property. While present on a branch head, every
    * non-merge commit to that branch fails loudly — [[mergeBranch]]
    * stamps it before rebasing and clears it with the final sync
    * commit, so the sync CAS can never lose to a racing branch writer
    * (the race that used to leave a stale fork marker and poison the
    * NEXT merge into a false conflict). The value is `epoch@millis` for
    * diagnostics; a crashed merge's fence is cleared with
    * [[unfenceBranch]]. Enforced, not documented discipline — the same
    * upgrade the reference gets from its unique-index idempotency
    * (reference: database/schema.sql:31-33). */
  private[graft] val FenceProp = "graft.branch.fence"

  // ----------------------------------------------------------- reading
  private val VersionName = "^v(\\d{20})\\.json$".r

  private def versionNumbers(f: FileSystem, dir: String): Seq[Long] = {
    val lp = logPath(dir)
    if (!f.exists(lp)) return Nil
    f.listStatus(lp).toSeq.flatMap(st => st.getPath.getName match {
      case VersionName(n) => Some(n.toLong)
      case _ => None
    }).sorted
  }

  /** Latest readable snapshot. A corrupt newest version file (a writer
    * crashed mid-create) falls back to the previous version with a
    * warning — the reader sees pre-commit state, never garbage. */
  def latest(spark: SparkSession, dir: String): Option[Snapshot] = {
    val f = hadoopFs(spark, dir)
    versionNumbers(f, dir).reverse.view.flatMap { v =>
      try Some(parse(readText(f, versionFile(dir, v))))
      catch { case e: Exception =>
        logWarning(
          s"unreadable version $v in $dir (${e.getMessage}) — " +
            "falling back to the previous version")
        None
      }
    }.headOption
  }

  private[sources] def mustLatest(spark: SparkSession, dir: String): Snapshot =
    latest(spark, dir).getOrElse {
      // a target that PARSED as a branch but has no branch log, while
      // the LITERAL path holds a table, is almost certainly a plain
      // directory whose name contains '@' — name the escape instead of
      // a bare "no commit log"
      val literal = branchOf(dir).isDefined && {
        val f = hadoopFs(spark, dir)
        f.exists(new Path(dir, LogDirName))
      }
      if (literal) throw new IllegalStateException(
        s"$dir parsed as branch '${branchOf(dir).get}' of " +
          s"${dataDir(dir)}, which has no such branch — but the literal " +
          s"path $dir holds a table. Address a literal '@' path with a " +
          s"trailing slash: $dir/")
      throw new IllegalStateException(
        s"$dir has no commit log — CommitLog.init it first")
    }

  /** Latest snapshot plus its data files as ABSOLUTE paths — the
    * metadata-plane identity [[graft.plans.RewriteAggregateOnView]]
    * matches a scan's file set against. */
  def latestFiles(spark: SparkSession, dir: String)
      : Option[(Snapshot, Seq[String])] =
    latest(spark, dir).map(s => (s, absolute(dir, s.files)))

  private def absolute(dir: String, rels: Seq[String]): Seq[String] = {
    val d = dataDir(dir)
    rels.map(r => s"$d/$r")
  }

  /** Read `files` under the snapshot's COMMITTED schema when one is
    * recorded: no per-file footer merging (at a million files the
    * footer pass IS the query), and files written before an additive
    * schema evolution surface the newer columns as null — the parquet
    * reader fills absent columns when the requested schema names them.
    * When the snapshot carries deletion vectors ([[deleteVectors]]),
    * deleted positions are filtered here — EVERY read path flows
    * through this method, so MoR deletes are invisible everywhere from
    * plain reads to upsert's old-slice merge. */
  private def readFiles(spark: SparkSession, dir: String, s: Snapshot,
      files: Seq[String]): DataFrame = {
    val raw = rawRead(spark, dir, s, files)
    val dvFree =
      if (s.dvs.isEmpty) raw
      else {
        val keep = raw.columns.map(col)
        withFilePos(spark, dir, raw)
          .join(broadcast(dvRows(spark, dir, s)),
            col("__dv_f") === col("__dv_file") &&
              col("__dv_p") === col("__dv_pos"),
            "left_anti")
          .select(keep: _*)
      }
    toLogical(s, dvFree)
  }

  /** Alias a physically-named read back to the LOGICAL schema —
    * identity when no column was ever renamed. `extra` columns (the
    * `__dv_*` identity pair) pass through unrenamed. */
  private def toLogical(s: Snapshot, df: DataFrame,
      extra: Seq[String] = Nil): DataFrame =
    if (s.physNames.isEmpty) df
    else {
      val physToLog = s.physNames.map(_.swap)
      df.select(df.columns.toIndexedSeq.map { c =>
        if (extra.contains(c)) col(c)
        else col(c).as(physToLog.getOrElse(c, c))
      }: _*)
    }

  /** Read `files` of snapshot `s` under its PHYSICAL schema (committed
    * logical schema with renamed columns mapped back to their on-file
    * birth names) through the snapshot's [[SnapshotFileIndex]] —
    * filters Catalyst pushes into the scan prune files there. Callers
    * that surface rows re-alias via [[toLogical]]. */
  private def rawRead(spark: SparkSession, dir: String, s: Snapshot,
      files: Seq[String]): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(SnapshotFileIndex.relation(spark, dir, s, files))

  /** The qualified data-directory prefix that turns a scan's file path
    * into a dir-relative rel. */
  private def relBase(spark: SparkSession, dir: String): String =
    hadoopFs(spark, dir).makeQualified(new Path(dataDir(dir)))
      .toUri.getPath.stripSuffix("/") + "/"

  /** Dir-relative files the rows of `df` (a filtered snapshot read)
    * come from — one collected row per file with a match. */
  private def filesOf(spark: SparkSession, dir: String,
      df: DataFrame): Set[String] = {
    val base = relBase(spark, dir)
    df.select(input_file_name().as("f")).distinct().collect()
      .map(r => DataSkipping.rawPath(r.getString(0)).stripPrefix(base)).toSet
  }

  /** Attach each row's physical identity — (dir-relative file, row
    * position) — from the file source's metadata struct. The position is
    * the parquet row index, stable for an immutable file by definition. */
  private def withFilePos(spark: SparkSession, dir: String,
      df: DataFrame): DataFrame = {
    val base = relBase(spark, dir)
    val toRel = udf((p: String) =>
      DataSkipping.rawPath(p).stripPrefix(base))
    df.withColumn("__dv_f", toRel(col("_metadata.file_path")))
      .withColumn("__dv_p", col("_metadata.row_index"))
  }

  /** All committed deletion-vector rows of the snapshot, under names no
    * DATA column can collide with — a table legitimately named `file`
    * or `pos` must not make the anti-join ambiguous. */
  private def dvRows(spark: SparkSession, dir: String,
      s: Snapshot): DataFrame =
    spark.read.parquet(s.dvs.map(r => logFile(dir, r)): _*)
      .select(col("file").as("__dv_file"), col("pos").as("__dv_pos"))

  /** Snapshot `s` as committed. A table CAN empty out legitimately
    * (churn removed the last rows with no additions) — it reads as zero
    * rows under the committed schema. */
  private[graft] def readSnapshot(spark: SparkSession, dir: String,
      s: Snapshot): DataFrame = readFiles(spark, dir, s, s.files)

  /** Hive partition columns encoded in a dir-relative file path — the
    * ONE decoder for the `key=value/.../file` shape, shared by the
    * commit-time persist and every maintenance verb's re-derivation. */
  private[sources] def partColsFromRel(rel: String): Seq[String] =
    rel.split('/').dropRight(1)
      .takeWhile(_.contains('=')).map(_.takeWhile(_ != '=')).toSeq

  /** The snapshot's hive partition columns: recovered from the committed
    * file paths when files exist, and from the PERSISTED `partCols`
    * field when the table has emptied out — so maintenance verbs keep
    * working on a zero-file snapshot instead of dying on `files.head`.
    * (Logs written before the field existed always have files.) */
  private[sources] def partColsOf(s: Snapshot): Seq[String] =
    s.files.headOption match {
      case Some(rel) => partColsFromRel(rel)
      case None => s.partCols
    }

  /** The table at its latest committed version. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readSnapshot(spark, dir, mustLatest(spark, dir))

  /** Time travel: the table exactly as version `v` committed it (works
    * until [[vacuum]] drops that version). */
  def readAt(spark: SparkSession, dir: String, v: Long): DataFrame =
    readSnapshot(spark, dir, snapshotAt(spark, dir, v))

  /** The data files ADDED by commit `v` alone (sorted) — the unit of
    * the streaming table read ([[graft.streaming.LakeStreamSource]]).
    * Append commits contribute their new files; compactions and
    * metadata commits add nothing; a CHANGE commit (file removals or new
    * deletion vectors — rewrites, deletes, replaces) aborts loudly, or
    * adds nothing under `skipChangeCommits` (the Delta contract for
    * streaming appends off a table that also takes updates).
    * `v = firstVersion` returns the snapshot's full file list — there
    * is no predecessor to diff against. Metadata-plane: two
    * version-file reads. */
  private[graft] def addedFilesAt(spark: SparkSession, dir: String,
      v: Long, skipChangeCommits: Boolean): Seq[String] = {
    val cur = snapshotAt(spark, dir, v)
    // only the table's GENUINE first commit has no predecessor — its
    // additions are the whole snapshot. Any later version missing its
    // predecessor means vacuum dropped it: returning the full list
    // here would silently re-deliver the ENTIRE table as one "append"
    // batch to a follower that fell behind retention. Fail with the
    // same "vacuumed" shape the streaming source converts into the
    // loud recovery-path error. (snapshotAt resolves a branch's
    // pre-fork predecessor against the main log, so a branch stream
    // pinned at the fork point diffs across it.)
    val prev =
      try snapshotAt(spark, dir, v - 1)
      catch {
        case e: IllegalArgumentException
            if Option(e.getMessage).exists(_.contains("vacuumed")) =>
          if (v <= 1L) return cur.files.sorted
          throw new IllegalArgumentException(
            s"version ${v - 1} of $dir does not exist (vacuumed?) — " +
              s"cannot diff the files version $v added", e)
      }
    if (cur.op == "compact") Nil
    else {
      val pf = prev.files.toSet
      val removed = pf.exists(x => !cur.files.contains(x))
      val dvAdded = cur.dvs.exists(r => !prev.dvs.contains(r))
      if (removed || dvAdded) {
        if (skipChangeCommits) Nil
        else throw new IllegalStateException(
          s"streaming read of $dir found a non-append commit at " +
            s"version $v (op=${cur.op}) — restart the stream from a " +
            "fresh snapshot, or set skipChangeCommits=true to stream " +
            "appends only")
      } else cur.files.filterNot(pf).sorted
    }
  }

  /** Rows of specific dir-relative `files` under version `v`'s
    * committed schema — WITHOUT `v`'s deletion vectors when
    * `applyDvs = false` (appended files of an append commit carry no
    * tombstones; a later MoR delete is a change commit the streaming
    * policy already judged). The chunked streaming read's batch
    * reader. */
  private[graft] def readRelFiles(spark: SparkSession, dir: String,
      v: Long, files: Seq[String], applyDvs: Boolean): DataFrame = {
    val s = snapshotAt(spark, dir, v)
    readFiles(spark, dir, if (applyDvs) s else s.copy(dvs = Nil), files)
  }

  /** The snapshot's full sorted file list and version (the chunked
    * streaming read's initial-snapshot pending list). */
  private[graft] def filesAt(spark: SparkSession, dir: String,
      v: Long): Seq[String] = snapshotAt(spark, dir, v).files.sorted

  /** Timestamp time travel: the table as of wall-clock `tsMillis` — the
    * newest version whose commit stamp is ≤ the timestamp (`TIMESTAMP AS
    * OF`, completing [[readAt]]'s `VERSION AS OF`). Resolution is
    * metadata-plane (version files only). Commit stamps are the
    * WRITER's clock at commit time; for logs written before stamps
    * existed, the version FILE's mtime stands in. Fails loudly when the
    * timestamp predates the log (or the readable history after vacuum). */
  def versionAsOf(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val f = hadoopFs(spark, dir)
    val own = versionNumbers(f, dir)
    // a branch's pre-fork history lives in the main log: candidate
    // versions at or before the RECORDED fork resolve there, so AS OF
    // a pre-fork timestamp works through the branch — bounded by the
    // fork marker, not the branch's remaining floor (see snapshotAt).
    // The fork version itself is candidated from BOTH logs: the
    // branch's seed is a content-identical copy stamped at branch
    // CREATION time, so for a timestamp between main's fork commit and
    // the branch's creation only the MAIN copy passes the gate — the
    // fork version's content existed then, and snapshotAt's convention
    // (pre-fork history is the main timeline) must resolve it
    val preFork = branchOf(dir) match {
      case Some(_) =>
        val fork = branchForkVersion(spark, dir)
        versionNumbers(f, dataDir(dir))
          .filter(v => fork.exists(fk =>
            v == fk || (v < fk && !own.contains(v))))
          .map(v => (v, dataDir(dir)))
      case None => Nil
    }
    val hit = (own.map(v => (v, dir)) ++ preFork).sortBy(-_._1)
      .view.flatMap { case (v, t) =>
      try {
        val s = parse(readText(f, versionFile(t, v)))
        val at =
          if (s.committedAt > 0L) s.committedAt
          else f.getFileStatus(versionFile(t, v)).getModificationTime
        if (at <= tsMillis) Some(v) else None
      } catch { case _: Exception => None }
    }.headOption
    hit.getOrElse(throw new IllegalArgumentException(
      s"$dir has no readable version committed at or before $tsMillis " +
        "(timestamp predates the log, or vacuum dropped that history)"))
  }

  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    readAt(spark, dir, versionAsOf(spark, dir, tsMillis))

  /** The committed metadata of version `v` (file list, props…) — the
    * snapshot-typed sibling of [[readAt]]. */
  def snapshotAt(spark: SparkSession, dir: String, v: Long): Snapshot = {
    val f = hadoopFs(spark, dir)
    val p = versionFile(dir, v)
    if (f.exists(p)) return parse(readText(f, p))
    // pre-fork history of a branch lives in the MAIN log — time travel
    // through a branch spans the fork. The fallback is bounded by the
    // RECORDED fork version (every branch snapshot inherits
    // graft.branch.fork from its seed), NOT by the branch's oldest
    // remaining file: after a branch vacuum drops the seed, a version
    // between the fork and the remaining floor is the branch's OWN
    // vacuumed history — resolving it against the main log would
    // silently serve a different table's data. (A version NEWER than
    // the branch head is genuinely absent too: the main log's later
    // commits are not branch history.)
    def vacuumed = throw new IllegalArgumentException(
      s"version $v of $dir does not exist (vacuumed?)")
    branchOf(dir) match {
      case Some(_) =>
        val fork = branchForkVersion(spark, dir).getOrElse(vacuumed)
        if (v > fork) vacuumed
        val mp = versionFile(dataDir(dir), v)
        require(f.exists(mp),
          s"version $v of $dir does not exist (vacuumed?)")
        parse(readText(f, mp))
      case _ => vacuumed
    }
  }

  /** The fork version of a branch target: `graft.branch.fork` from its
    * oldest readable snapshot (all branch commits inherit the seed's
    * marker). None when the branch has no readable snapshot. */
  private def branchForkVersion(spark: SparkSession,
      target: String): Option[Long] = {
    val f = hadoopFs(spark, target)
    versionNumbers(f, target).view.flatMap { bv =>
      try parse(readText(f, versionFile(target, bv)))
        .props.get("graft.branch.fork").map(_.toLong)
      catch { case _: Exception => None }
    }.headOption
  }

  /** Incremental read: every row published by the DATA commits in
    * `(fromV, toV]` — the files each `init`/`upsert` version added, read
    * directly (pure metadata planning: no diff join, no full-table
    * scan). `compact` versions are skipped: a compaction republishes
    * every row it read, so including its files would turn "what changed"
    * into "everything".
    *
    * Granularity contract, stated loudly: an upsert rewrites whole
    * partitions, so its added files are the POST-IMAGE of each touched
    * partition — a superset of the strictly-changed rows (append-only
    * commits are exact). That is the standard incremental-scan semantics
    * of a copy-on-write lake without per-row change tracking; consumers
    * that need exact deltas re-key against their own previous state.
    *
    * Merge-on-read deletes surface the same way: a delete-mor commit
    * adds no files, so its change is the appended deletion vectors, and
    * the feed re-emits the DV'd files — read at `toV` they carry those
    * files' SURVIVING rows (readFiles applies every vector in force),
    * i.e. the post-image of the touched unit, exactly as an upsert's
    * touched partitions. A keyed-upsert consumer cannot learn a
    * deletion from a post-image (same caveat as above); a
    * partition-replace consumer ([[graft.streaming.LakeFollow.mirror]])
    * converges exactly. Rows are always emitted AS OF `toV`: a file
    * added mid-range and rewritten by a later commit in the same range
    * is never read itself — its PARTITION's files at `toV` stand in for
    * it — so the feed never mixes a dead file's stale image into the
    * post-image, and a mid-range compaction (whose own commit is
    * skipped) cannot swallow an earlier commit's change.
    *
    * Works until [[vacuum]] drops a version inside the range. At 100 TB
    * this is THE way to feed downstream pipelines: each incremental run
    * reads only the partitions the day's upserts touched, never the
    * lake. */
  def changesBetween(spark: SparkSession, dir: String,
      fromV: Long, toV: Long): DataFrame = {
    require(fromV < toV, s"changesBetween needs fromV < toV, got $fromV >= $toV")
    val snaps = (fromV to toV).map(snapshotAt(spark, dir, _))
    val liveAtTo = snaps.last.files.toSet
    val added = snaps.sliding(2).flatMap { case Seq(prev, cur) =>
      if (cur.op == "compact") Nil
      else {
        val fileAdds = cur.files.filterNot(prev.files.toSet)
        fileAdds ++ dvTouchedFiles(spark, dir, cur.dvs.filterNot(prev.dvs.toSet))
      }
    }.toSeq.distinct
    // a file dead at toV was rewritten later in the range; its partition
    // still CHANGED, so emit that partition's post-image at toV (for a
    // later upsert those files are already in `live`; for a skipped
    // compaction this is the only carrier of the earlier change)
    val (live, dead) = added.partition(liveAtTo)
    val deadParts = dead.map(partOf).toSet
    val emit = (live ++ snaps.last.files.filter(f =>
      deadParts.contains(partOf(f)))).distinct.sorted
    readFiles(spark, dir, snaps.last, emit) // toV's committed schema
  }

  /** Row-level change data feed over `(fromV, toV]` for a KEYED table:
    * every changed row, labeled `_change_type` ∈ `insert` / `delete` /
    * `update_preimage` / `update_postimage`. [[changesBetween]] is the
    * file-granular feed (post-image supersets, zero joins); this is the
    * exact row delta for consumers that need real deletions and
    * before/after pairs — Delta's CDF shape — derived without any
    * per-commit change files: diff the pre- and post-images of ONLY the
    * touched partitions (both reads file-pruned off the committed
    * lists, so at 100 TB the feed costs two reads of the range's churn,
    * never the lake) with ONE key-partitioned full-outer join sized by
    * that churn. Rows bit-identical across the range (null-safe struct
    * compare) are not emitted — a compaction or a rewrite-heavy COW
    * update republishing untouched rows contributes nothing.
    *
    * Requires `keyCols` unique per row at both versions (the [[upsert]]
    * contract; duplicate-key [[append]] tables should consume
    * [[changesBetween]] instead). Additive schema evolution aligns:
    * columns born inside the range read null in the pre-image. Throws
    * when a version in the range was vacuumed — there is no pre-image
    * to diff against. */
  def changeFeed(spark: SparkSession, dir: String, fromV: Long, toV: Long,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "changeFeed needs at least one key column")
    val dirs = partsBetween(spark, dir, fromV, toV).getOrElse(
      throw new IllegalStateException(
        s"changeFeed($fromV, $toV) on $dir: a version in the range was " +
          "vacuumed — no pre-image to diff; re-bootstrap the consumer"))
    val post = readPartitionDirsAt(spark, dir, toV, dirs)
    keyCols.foreach(k => require(post.columns.contains(k),
      s"changeFeed on $dir: no key column '$k' in the committed schema"))
    val pre1 = readPartitionDirsAt(spark, dir, fromV, dirs)
    // a RENAME COLUMN inside the range must not read as drop+add (every
    // row would flag as updated): the same PHYSICAL name is the same
    // column, so align the pre-image onto the post-image's logical
    // names through each snapshot's mapping before diffing
    val (sFrom, sTo) = (snapshotAt(spark, dir, fromV),
      snapshotAt(spark, dir, toV))
    def physOf(s: Snapshot, c: String) = s.physNames.getOrElse(c, c)
    val renamed = pre1.columns.flatMap { pc =>
      val phys = physOf(sFrom, pc)
      post.columns.find(c => c != pc && physOf(sTo, c) == phys)
        .map(pc -> _)
    }.toMap
    val pre0 =
      if (renamed.isEmpty) pre1
      else pre1.toDF(pre1.columns.toIndexedSeq
        .map(c => renamed.getOrElse(c, c)): _*)
    val newCols = post.columns.filterNot(pre0.columns.contains)
    val pre = newCols.foldLeft(pre0)((df, c) =>
        df.withColumn(c, lit(null).cast(post.schema(c).dataType)))
      .select(post.columns.toIndexedSeq.map(col): _*)
    val dataCols = post.columns.filterNot(keyCols.contains).toIndexedSeq
    // collision-proof marker names: a table may legitimately carry a
    // column called _pre/_post, which a plain name would overwrite and
    // corrupt the insert/delete classification
    val preMark = "__graft_cdf_pre"
    val postMark = "__graft_cdf_post"
    require(!post.columns.contains(preMark) && !post.columns.contains(postMark),
      s"changeFeed on $dir: the schema uses the reserved internal " +
        s"column name $preMark/$postMark")
    val l = pre.withColumn(preMark, lit(true)).as("pre")
    val r = post.withColumn(postMark, lit(true)).as("post")
    val joined = l.join(r,
      keyCols.map(k => col(s"pre.$k") <=> col(s"post.$k")).reduce(_ && _),
      "full_outer")
    def image(side: String, tag: String) =
      post.columns.toIndexedSeq.map(c => col(s"$side.$c").as(c)) :+
        lit(tag).as("_change_type")
    val inserts = joined.filter(col(s"pre.$preMark").isNull)
      .select(image("post", "insert"): _*)
    val deletes = joined.filter(col(s"post.$postMark").isNull)
      .select(image("pre", "delete"): _*)
    val updatedPair = joined.filter(col(s"pre.$preMark").isNotNull &&
      col(s"post.$postMark").isNotNull &&
      (if (dataCols.isEmpty) lit(false)
       else !(struct(dataCols.map(c => col(s"pre.$c")): _*) <=>
         struct(dataCols.map(c => col(s"post.$c")): _*))))
    val updatesPre = updatedPair.select(image("pre", "update_preimage"): _*)
    val updatesPost = updatedPair.select(image("post", "update_postimage"): _*)
    inserts.union(deletes).union(updatesPre).union(updatesPost)
  }

  /** [[changeFeed]] with PER-COMMIT attribution: one feed per adjacent
    * version pair, each row tagged `_commit_version` — the audit-trail
    * shape (who changed this row, when) that a range-diff necessarily
    * collapses (a row updated twice inside the range appears once per
    * commit here, once end-to-end there). Cost is the sum of the
    * commits' churns: each step reads only its own touched partitions,
    * and no-data steps (compactions, props, refs) diff empty file sets
    * for pennies — so attributing a day of commits costs the day's
    * churn, never versions × table. */
  def changeFeedByCommit(spark: SparkSession, dir: String,
      fromV: Long, toV: Long, keyCols: Seq[String]): DataFrame = {
    require(fromV < toV,
      s"changeFeedByCommit needs fromV < toV, got $fromV >= $toV")
    (fromV until toV).map { v =>
      changeFeed(spark, dir, v, v + 1, keyCols)
        .withColumn("_commit_version", lit(v + 1))
    }.reduce(_ union _)
  }

  /** The table AT version `v`, restricted to the given partition
    * DIRECTORIES (the `key=value` strings [[partsBetween]] returns; ""
    * addresses an unpartitioned layout's root files). The pre-/
    * post-image reads behind [[IncrementalView]]'s invertible delta
    * refresh: both sides are file-pruned off the committed lists, so
    * the refresh reads only the touched partitions — at both versions —
    * never the lake. */
  def readPartitionDirsAt(spark: SparkSession, dir: String, v: Long,
      partDirs: Set[String]): DataFrame = {
    val s = snapshotAt(spark, dir, v)
    readFiles(spark, dir, s, s.files.filter(f => partDirs.exists(d =>
      if (d.isEmpty) !f.contains('/') else f.startsWith(d + "/"))))
  }

  /** The latest snapshot restricted to the given partition values — file
    * pruning straight off the committed file list's `key=value` path
    * components, no directory listing, no data read outside the
    * partitions. */
  def readPartitions(spark: SparkSession, dir: String,
      partitionCol: String, parts: Seq[Any]): DataFrame = {
    val s = mustLatest(spark, dir)
    val dirs = parts.map(partDirOf(partitionCol, _)).toSet
    readFiles(spark, dir, s,
      s.files.filter(f => dirs.exists(d => f.startsWith(d + "/"))))
  }

  /** Partition directories touched by the DATA commits in `(fromV, toV]`
    * (files added or removed; `compact` versions skipped — a compaction
    * moves every row without changing any). None when a version in the
    * range was vacuumed — the caller must fall back to a full pass. */
  def partsBetween(spark: SparkSession, dir: String,
      fromV: Long, toV: Long): Option[Set[String]] = {
    require(fromV < toV, s"partsBetween needs fromV < toV, got $fromV >= $toV")
    // resolved via snapshotAt so a branch target's pre-fork versions
    // fall back to the main log — a change range spanning the fork works
    val snaps =
      try (fromV to toV).map(snapshotAt(spark, dir, _))
      catch {
        case e: IllegalArgumentException
            if Option(e.getMessage).exists(_.contains("vacuumed")) =>
          return None
      }
    Some(snaps.sliding(2).flatMap { case Seq(prev, cur) =>
      val fileDiff: Iterable[String] =
        if (cur.op == "compact") Nil
        else {
          val p = prev.files.toSet
          val c = cur.files.toSet
          ((c -- p) ++ (p -- c)).map(partOf)
        }
      // a delete-mor commit changes NO files — its touched partitions
      // live in the appended deletion vectors. Without this, an
      // incremental view would mark itself fresh across the delete and
      // keep serving tombstoned rows through the transparent rewrite.
      fileDiff ++ dvTouchedParts(spark, dir, cur.dvs.filterNot(prev.dvs.contains))
    }.toSet)
  }

  /** Copy-on-write PARTITION REPLACE: after the commit, the given
    * partitions hold exactly `replacement`'s rows (a partition with no
    * replacement rows ends up empty). The primitive behind
    * [[IncrementalView]] refreshes — "recompute these slices" — and the
    * natural way to re-materialize any partition-aligned derivation.
    * Same conflict unit, rebase loop, `txn` identity, and additive
    * schema rules as [[upsert]]; `replacement` rows outside `parts` are
    * rejected loudly (they would silently vanish under the replace). */
  def replacePartitions(spark: SparkSession, replacement: DataFrame,
      dir: String, partitionCol: String, parts: Seq[Any],
      txn: Option[(String, Long)] = None): Snapshot =
    replacePartitionTuples(spark, replacement, dir, Seq(partitionCol),
      parts.map(Seq(_)), txn)

  /** Multi-column generalization of [[replacePartitions]]: each tuple
    * names one partition of the nested hive layout
    * (`c1=v1/c2=v2/...`, one value per `partitionCols` entry, in
    * layout order). After the commit those partitions hold exactly
    * `replacement`'s rows; the conflict unit is the touched nested
    * partition directories — concurrent commits to other partitions
    * rebase cleanly. This is the primitive behind multi-level dynamic
    * partition overwrite (`INSERT OVERWRITE ... PARTITION (a, b)`). */
  def replacePartitionTuples(spark: SparkSession, replacement: DataFrame,
      dir: String, partitionCols: Seq[String], tuples: Seq[Seq[Any]],
      txn: Option[(String, Long)] = None): Snapshot = {
    require(partitionCols.nonEmpty,
      "replacePartitionTuples needs at least one partition column")
    require(tuples.forall(_.length == partitionCols.length),
      s"each tuple must carry one value per partition column " +
        s"(${partitionCols.mkString(", ")})")
    val s = mustLatest(spark, dir)
    if (replayed(s, dir, txn)) return s
    val dirs = tuples.map(t =>
      partitionCols.zip(t).map { case (c, v) => partDirOf(c, v) }
        .mkString("/")).toSet
    val stray = replacement
      .filter(!concat_ws("/", partitionCols.map(partDirColumn): _*)
        .isInCollection(dirs.toSeq))
      .limit(1).count()
    require(stray == 0L,
      s"replacePartitions into $dir: replacement holds rows outside " +
        s"the ${dirs.size} replaced partition(s)")
    checkSchemaCompatible(s, replacement, dir)
    val removed = s.files.filter(f => dirs.exists(d => f.startsWith(d + "/")))
    val newRels = stageWrite(spark, dir, replacement, partitionCols,
      s.physNames)
    LakeCommit.rebase(spark, dir,
      StagedUpsert(s, dirs, removed.toSet, newRels,
        Some(replacement.schema.json), txn = txn),
      "replace")
  }

  /** The `key=value` dir-name a row's partition value maps to — must
    * mirror [[partDirOf]] (hive escaping, null sentinel) so the stray-row
    * check compares apples to apples. */
  private def partDirColumn(partitionCol: String): Column = {
    val escape = udf((v: String) =>
      if (v == null) s"$DefaultPartition"
      else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(v))
    concat(lit(partitionCol + "="), escape(col(partitionCol).cast("string")))
  }

  // ---------------------------------------------------------- writing
  /** Dir-relative paths of the current on-disk data files. */
  private def listRel(spark: SparkSession, dir: String): Set[String] = {
    val base = relBase(spark, dir)
    DataSkipping.dataFiles(spark, dataDir(dir)).map(_.stripPrefix(base)) // raw paths
  }

  /** Zone-map stats (+ per-file KLL sketches) for `rels`, keyed by
    * RELATIVE path so manifest rows join the snapshot's file list
    * directly. */
  private[sources] def relStats(spark: SparkSession, dir: String,
      rels: Seq[String], cols: Seq[String], sketchCols: Seq[String],
      bloomCols: Seq[String] = Nil, bloomExpect: Long = 1L << 20,
      thetaCols: Seq[String] = Nil, thetaLgK: Int = 14): DataFrame = {
    val base = hadoopFs(spark, dir).makeQualified(new Path(dataDir(dir))).toUri.getPath
    DataSkipping.fileStats(spark, dataDir(dir), absolute(dir, rels), cols,
      sketchCols,
        bloomCols, bloomExpect, thetaCols, thetaLgK)
      .withColumn("file", regexp_replace(col("file"),
        "^.*" + java.util.regex.Pattern.quote(base) + "/", ""))
  }

  /** Is `from` → `to` a SAFE type widening the parquet reader upcasts
    * natively (verified on this Spark: requesting the wider type over
    * files storing the narrower one returns exact values)? The commit
    * log's whole type-evolution story rests on this lattice — the
    * integral chain, float→double, and the DECIMAL edges (integral →
    * decimal with enough integer digits; decimal → decimal that grows
    * scale without shrinking integer digits — the Delta widening rule);
    * everything else is a loud reject. Float/double → decimal is NOT
    * here: binary fractions don't round-trip decimally. */
  private[sources] def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      // integral → decimal: the target needs every integer digit the
      // source can carry (3/5/10/20 — Long takes 19 digits; 20 is the
      // Delta-parity bound)
      case (ByteType, d: DecimalType) => d.precision - d.scale >= 3
      case (ShortType, d: DecimalType) => d.precision - d.scale >= 5
      case (IntegerType, d: DecimalType) => d.precision - d.scale >= 10
      case (LongType, d: DecimalType) => d.precision - d.scale >= 20
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale &&
          t.precision - t.scale >= f.precision - f.scale
      case _ => false
    }
  }

  /** Additive schema merge: `base`'s fields (WIDENED where `more`
    * carries a safely-wider type — the write-side half of type
    * evolution), then `more`'s new ones. */
  private[sources] def mergeSchemaJson(base: Option[String],
      more: Option[String]): Option[String] = (base, more) match {
    case (None, m) => m
    case (b, None) => b
    case (Some(bj), Some(mj)) =>
      import org.apache.spark.sql.types.{DataType, StructType}
      val bs = DataType.fromJson(bj).asInstanceOf[StructType]
      val ms = DataType.fromJson(mj).asInstanceOf[StructType]
      Some(StructType(bs.fields.map { bf =>
        ms.fields.find(_.name == bf.name) match {
          case Some(mf) if widens(bf.dataType, mf.dataType) =>
            bf.copy(dataType = mf.dataType)
          case _ => bf
        }
      } ++
        ms.fields.filterNot(f => bs.fieldNames.contains(f.name))).json)
  }

  /** Properties-only commit: merge `kv` into the table's property map
    * (a null/absent-safe upsert of each key) against the current file
    * set. Table properties are the log-resident catalog state — view
    * registrations, constraint declarations — that a fresh session
    * restores instead of relying on JVM-global registries; they ride
    * every subsequent commit unchanged. */
  def setProps(spark: SparkSession, dir: String,
      kv: Map[String, String]): Snapshot =
    LakeCommit.run(spark, dir, "setProps", Abort) { s =>
      val merged = s.props ++ kv
      if (merged == s.props) None
      else Some(bump(s, "props").copy(props = merged))
    }

  /** Schema-only DDL commit: declare new NULLABLE columns ahead of any
    * write that carries them (the explicit `ALTER TABLE` twin of the
    * implicit additive evolution a widening write performs). Pure
    * metadata — zero files touched at any table size; existing rows
    * read the new columns as null through the committed schema, exactly
    * as post-evolution reads already do. Rejects duplicates and
    * anything but top-level nullable columns (a NOT NULL add has no
    * legal fill for existing rows). */
  def addColumns(spark: SparkSession, dir: String,
      newCols: org.apache.spark.sql.types.StructType): Snapshot = {
    require(newCols.nonEmpty, "addColumns needs at least one column")
    LakeCommit.run(spark, dir, "addColumns", Abort) { s =>
      val base = s.schemaJson
        .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        .getOrElse(readSnapshot(spark, dir, s).schema)
      newCols.fieldNames.foreach(n => require(!base.fieldNames.contains(n),
        s"addColumns on $dir: column '$n' already exists"))
      newCols.fields.foreach(f => require(f.nullable,
        s"addColumns on $dir: '${f.name}' must be nullable — existing " +
          "rows have no value for it"))
      // physical-name hygiene: a new logical name whose physical twin is
      // already on disk (a retired DROP, or the birth name a RENAME moved
      // away from) must NOT read old files' values — mint a fresh
      // physical name so existing files surface null, as an add must
      val physInUse = base.fieldNames
        .map(n => s.physNames.getOrElse(n, n)).toSet ++ s.retired
      val mint = newCols.fieldNames.toSeq.collect {
        case n if physInUse.contains(n) =>
          n -> Iterator.from(s.version.toInt + 1)
            .map(i => s"${n}__r$i")
            .find(c => !physInUse.contains(c)).get
      }.toMap
      Some(bump(s, "schema").copy(
        schemaJson = mergeSchemaJson(Some(base.json), Some(newCols.json)),
        physNames = s.physNames ++ mint))
    }
  }

  /** The committed LOGICAL schema of the latest snapshot (the shape
    * every read surfaces and every write must carry). */
  private def logicalSchema(spark: SparkSession, dir: String,
      s: Snapshot): StructType =
    s.schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(readSnapshot(spark, dir, s).schema)

  /** Columns whose NAMES anchor persisted metadata — renaming or
    * dropping one would orphan partition directories, zone-map/sketch
    * manifests, or Bloom/theta stats keyed by the old name. Rejected
    * loudly; everything else renames/drops as pure metadata. */
  private def anchoredCols(s: Snapshot): Map[String, String] =
    (partColsOf(s).map(_ -> "a partition column") ++
      s.statsCols.map(_ -> "a zone-map stats column") ++
      s.sketchCols.map(_ -> "a quantile-sketch column") ++
      s.bloomCols.map(_ -> "a Bloom-filter column") ++
      s.thetaCols.map(_ -> "a theta-sketch column")).toMap

  /** RENAME COLUMN as a zero-file schema commit: the committed logical
    * schema changes; the files keep the column's PHYSICAL birth name
    * forever and every read aliases it back ([[rawRead]]/[[toLogical]]
    * — the Delta-column-mapping shape). O(1) at any table size. */
  def renameColumn(spark: SparkSession, dir: String,
      from: String, to: String): Snapshot =
    LakeCommit.run(spark, dir, "renameColumn", Abort) { s =>
      val base = logicalSchema(spark, dir, s)
      require(base.fieldNames.contains(from),
        s"renameColumn on $dir: no column '$from'")
      require(!base.fieldNames.contains(to),
        s"renameColumn on $dir: column '$to' already exists")
      anchoredCols(s).get(from).foreach(role =>
        throw new IllegalArgumentException(
          s"renameColumn on $dir: '$from' is $role — its name anchors " +
            "persisted metadata; rewrite the table instead"))
      val phys = s.physNames.getOrElse(from, from)
      val renamed = org.apache.spark.sql.types.StructType(
        base.fields.map(f => if (f.name == from) f.copy(name = to) else f))
      Some(bump(s, "schema").copy(schemaJson = Some(renamed.json),
        physNames = (s.physNames - from) ++
          (if (phys == to) Map.empty[String, String] else Map(to -> phys))))
    }

  /** DROP COLUMN as a zero-file schema commit: the column leaves the
    * committed logical schema (readers prune it at the parquet scan —
    * the bytes stay until the next rewrite, exactly Delta's logical
    * drop). Its PHYSICAL name is retired so a later ADD COLUMNS of the
    * same name cannot resurrect old values ([[addColumns]]'s mint). */
  def dropColumn(spark: SparkSession, dir: String, name: String): Snapshot =
    LakeCommit.run(spark, dir, "dropColumn", Abort) { s =>
      val base = logicalSchema(spark, dir, s)
      require(base.fieldNames.contains(name),
        s"dropColumn on $dir: no column '$name'")
      require(base.fields.length > 1,
        s"dropColumn on $dir: cannot drop the last column")
      anchoredCols(s).get(name).foreach(role =>
        throw new IllegalArgumentException(
          s"dropColumn on $dir: '$name' is $role — its name anchors " +
            "persisted metadata; rewrite the table instead"))
      val phys = s.physNames.getOrElse(name, name)
      val remaining = org.apache.spark.sql.types.StructType(
        base.fields.filterNot(_.name == name))
      Some(bump(s, "schema").copy(schemaJson = Some(remaining.json),
        physNames = s.physNames - name,
        retired = (s.retired :+ phys).distinct))
    }

  /** ALTER COLUMN TYPE as a zero-file schema commit: the committed
    * logical type widens along the safe lattice ([[widens]] — integral
    * chain, float→double); existing files keep their narrow physical
    * type and the parquet reader upcasts at the scan (verified native
    * behavior), so the DDL is pure metadata at any table size. The
    * implicit twin — a write carrying a wider type — lands the same
    * schema change ([[mergeSchemaJson]]). Anchored columns refuse:
    * their per-file stats/sketches/Blooms are typed by the column. */
  def alterColumnType(spark: SparkSession, dir: String, name: String,
      to: org.apache.spark.sql.types.DataType): Snapshot =
    LakeCommit.run(spark, dir, "alterColumnType", Abort) { s =>
      val base = logicalSchema(spark, dir, s)
      require(base.fieldNames.contains(name),
        s"alterColumnType on $dir: no column '$name'")
      val cur = base(name).dataType
      if (cur == to) None
      else {
        require(widens(cur, to),
          s"alterColumnType on $dir: ${cur.simpleString} -> " +
            s"${to.simpleString} is not a safe widening (supported: " +
            "byte<short<int<long, float<double, integral->decimal with " +
            "enough integer digits, decimal->wider decimal)")
        anchoredCols(s).get(name).foreach(role =>
          throw new IllegalArgumentException(
            s"alterColumnType on $dir: '$name' is $role — its persisted " +
              "metadata is typed; rewrite the table instead"))
        val widened = org.apache.spark.sql.types.StructType(
          base.fields.map(f =>
            if (f.name == name) f.copy(dataType = to) else f))
        Some(bump(s, "schema").copy(schemaJson = Some(widened.json)))
      }
    }

  /** Start the log: snapshot the directory's current files as version 1.
    * With `statsCols`, every subsequent commit also maintains the
    * zone-map stats snapshot for [[scanBox]]/[[scanRange]]; with
    * `sketchCols`, per-file KLL(200) quantile sketches ride the same
    * manifest so [[quantiles]] answers percentile queries from the
    * metadata plane alone. With `txn`, version 1 records that writer
    * identity (a derived table's cursor from birth). */
  def init(spark: SparkSession, dir: String,
      statsCols: Seq[String] = Nil,
      sketchCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomExpect: Long = 1L << 20,
      txn: Option[(String, Long)] = None,
      props: Map[String, String] = Map.empty,
      thetaCols: Seq[String] = Nil,
      thetaLgK: Int = 14,
      dvs: Seq[String] = Nil): Snapshot = {
    require(branchOf(dir).isEmpty,
      s"init takes a table directory, not a branch target ($dir) — " +
        "branches are created from an existing table via createBranch")
    val f = hadoopFs(spark, dir)
    require(versionNumbers(f, dir).isEmpty, s"$dir already has a commit log")
    f.mkdirs(logPath(dir))
    val rels = listRel(spark, dir).toSeq.sorted
    require(rels.nonEmpty, s"$dir holds no data files to snapshot")
    // the committed schema: the one place the table's shape lives from
    // here on — readers never merge footers again
    val schema = spark.read.option("basePath", dataDir(dir))
      .option("mergeSchema", "true")
      .parquet(absolute(dir, rels): _*).schema.json
    val seed = Snapshot(0L, Nil, statsCols, None, "init", sketchCols,
      None, bloomCols, bloomExpect, thetaCols = thetaCols,
      thetaLgK = thetaLgK)
    // props ride the FIRST commit: a derived table whose rows and summary
    // properties must exist together (an index's corpus globals) gets
    // both in one crash-atomic step instead of init + setProps
    LakeCommit.run(spark, dir, "init", Abort, from = Some(seed),
      txn = txn) { s =>
      Some(LakeCommit.build(spark, dir, s, rels, rels, "init",
        Some(schema), props))
    }
  }

  /** CREATE TABLE: start the log on an EMPTY directory with a declared
    * schema and partition layout — version 1 is pure metadata, zero
    * data files ([[init]] stays the snapshot-existing-files verb). The
    * version file is the CAS commit point, so two racing creators
    * resolve to one winner. Reads of the fresh table return zero rows
    * under the committed schema; the declared `partCols` persist in the
    * snapshot so the first [[append]] stages into the right layout. */
  def create(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil,
      props: Map[String, String] = Map.empty): Snapshot = {
    require(schema.nonEmpty, "create needs at least one column")
    partCols.foreach(p => require(schema.fieldNames.contains(p),
      s"create on $dir: partition column '$p' is not in the schema"))
    statsCols.foreach(c => require(schema.fieldNames.contains(c),
      s"create on $dir: stats column '$c' is not in the schema"))
    require(branchOf(dir).isEmpty,
      s"create takes a table directory, not a branch target ($dir) — " +
        "branches are created from an existing table via createBranch")
    val f = hadoopFs(spark, dir)
    require(versionNumbers(f, dir).isEmpty, s"$dir already has a commit log")
    f.mkdirs(logPath(dir))
    val seed = Snapshot(0L, Nil, statsCols, None, "create",
      schemaJson = Some(schema.json), props = props, partCols = partCols)
    LakeCommit.run(spark, dir, "create", Abort, from = Some(seed)) { s =>
      Some(bump(s, "create"))
    }
  }

  /** Catalog-facing metadata of a snapshot: (schema, partition columns,
    * properties). The schema comes from the committed schemaJson when
    * present (always, post-round-7) and falls back to reading the files
    * for pre-schema logs. */
  def tableMeta(spark: SparkSession, dir: String, s: Snapshot)
      : (StructType, Seq[String], Map[String, String]) =
    (logicalSchema(spark, dir, s), partColsOf(s), s.props)

  /** A staged-but-uncommitted upsert: the merged slice is ON DISK (new
    * files, invisible — no version references them) and everything
    * [[commitStaged]] needs to publish or rebase it is recorded. The
    * conflict unit is `touchedParts` (the partition directories this
    * writer rewrote). */
  final case class StagedUpsert(
      base: Snapshot, touchedParts: Set[String],
      removed: Set[String], added: Seq[String],
      schemaJson: Option[String] = None,
      propsDelta: Map[String, String] = Map.empty,
      dvAppend: Seq[String] = Nil,
      /** Deletion-vector files this commit RETIRES (their tombstones
        * were materialized into the rewrite, or rewritten into a
        * filtered file carried by `dvAppend`) — the partition-scoped
        * compaction's DV maintenance. */
      dvDrop: Set[String] = Set.empty,
      /** The writer's idempotent-write identity `(appId, version)` —
        * checked on every rebase attempt, so a concurrently-committed
        * replay turns this commit into a no-op (the mid-flight mirror
        * of [[txnDone]]), and recorded by the commit. */
      txn: Option[(String, Long)] = None)

  /** Partition directory of a dir-relative data file ("" for an
    * unpartitioned layout — there the whole table is one conflict unit). */
  private[sources] def partOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** Data files the given deletion vectors tombstone rows in.
    * Churn-sized: reads only the listed vectors. */
  private def dvTouchedFiles(spark: SparkSession, target: String,
      dvRels: Seq[String]): Set[String] =
    if (dvRels.isEmpty) Set.empty
    else spark.read
      .parquet(dvRels.map(r => logFile(target, r)): _*)
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).toSet

  /** Partition directories the given deletion vectors tombstone rows in
    * — the DV half of the commit-level conflict unit, shared by the
    * same-log rebase ([[LakeCommit.rebase]]), the cross-branch rebase
    * ([[rebaseBranch]]) and [[partsBetween]]. */
  private[sources] def dvTouchedParts(spark: SparkSession, target: String,
      dvRels: Seq[String]): Set[String] =
    dvTouchedFiles(spark, target, dvRels).map(partOf)

  /** `key=value` partition directory name for a partition value (hive
    * escaping, null → default-partition sentinel). */
  private[sources] def partDirOf(partitionCol: String, v: Any): String = v match {
    case null => s"$partitionCol=$DefaultPartition"
    case other => s"$partitionCol=" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(other.toString)
  }

  /** Write `df` into the table via a WRITER-PRIVATE staging directory
    * (`_staging/<uuid>` — underscore-prefixed, so invisible to readers
    * and listings), then move each data file into its partition
    * directory under a name prefixed with the writer's tag. Two
    * concurrent writers therefore never share a Hadoop `_temporary`
    * commit dir, never collide on a file name, and — because the moved
    * paths are returned directly — the new-file attribution needs NO
    * before/after directory diff (the old listing-based diff both raced
    * with concurrent writers and cost two full lake listings per
    * commit). */
  private def stageWrite(spark: SparkSession, dir: String, df0: DataFrame,
      partCols: Seq[String],
      physNames: Map[String, String] = Map.empty): Seq[String] = {
    // renamed columns write under their PHYSICAL birth name, so every
    // file of the table carries one name per column forever (readers
    // alias back in toLogical); positional toDF renames all at once —
    // no intermediate collision when a fresh column reuses a name
    val df =
      if (physNames.isEmpty) df0
      else df0.toDF(df0.columns.toIndexedSeq
        .map(c => physNames.getOrElse(c, c)): _*)
    val f = hadoopFs(spark, dir)
    val tag = java.util.UUID.randomUUID.toString.take(8)
    val staging = new Path(dataDir(dir), s"_staging/$tag")
    val writer =
      if (partCols.isEmpty) df.write
      else df.write.partitionBy(partCols: _*)
    writer.parquet(staging.toString)
    val moved = scala.collection.mutable.ArrayBuffer[String]()
    def walk(p: Path, rel: String): Unit =
      f.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) walk(st.getPath, if (rel.isEmpty) name else s"$rel/$name")
        else if (name.endsWith(".parquet")) {
          val relTarget =
            if (rel.isEmpty) s"$tag-$name" else s"$rel/$tag-$name"
          val target = new Path(dataDir(dir), relTarget)
          f.mkdirs(target.getParent)
          if (!f.rename(st.getPath, target))
            throw new IllegalStateException(
              s"could not publish staged file ${st.getPath} -> $target")
          moved += relTarget
        }
      }
    walk(staging, "")
    f.delete(staging, true)
    moved.toSeq.sorted
  }

  /** Additive schema evolution guard: incoming rows may ADD columns (old
    * rows read them as null through the committed schema) but must carry
    * every existing column — a partial-column write would silently null
    * out data under the seq-struct merge, so it is rejected loudly.
    * Types of shared columns must match (no widening). */
  private def checkSchemaCompatible(s: Snapshot,
      incoming: DataFrame, dir: String): Unit =
    s.schemaJson.foreach { j =>
      val bs = org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val missing = bs.fieldNames.filterNot(incoming.columns.contains)
      require(missing.isEmpty,
        s"write into $dir must carry every table column (additive " +
          s"evolution only); missing: ${missing.mkString(", ")}")
      bs.fields.filter(f => incoming.columns.contains(f.name)).foreach { f =>
        val ut = incoming.schema(f.name).dataType
        if (ut != f.dataType) {
          // TYPE WIDENING rides a write like column addition does: a
          // wider incoming type widens the committed schema (old files
          // upcast at the parquet scan); a NARROWER incoming type is
          // fine as-is (its files upcast under the committed schema).
          // Anything off the lattice is a loud reject. Stats/sketch/
          // bloom/theta columns refuse — their persisted per-file
          // artifacts hash or type by the column's committed type.
          require(widens(f.dataType, ut) || widens(ut, f.dataType),
            s"write into $dir changes type of '${f.name}' " +
              s"(${f.dataType.simpleString} -> ${ut.simpleString}) — " +
              "not a safe widening")
          anchoredCols(s).get(f.name).foreach(role =>
            throw new IllegalArgumentException(
              s"write into $dir widens '${f.name}', which is $role — " +
                "its persisted metadata is typed; rewrite the table " +
                "instead"))
        }
      }
      // implicit evolution must not reuse a physical name that old
      // files still carry (a dropped column, or the birth name a rename
      // moved away from) — the old values would resurrect; ALTER TABLE
      // ADD COLUMNS mints a fresh physical name for exactly this case
      val physTaken = bs.fieldNames
        .map(n => s.physNames.getOrElse(n, n)).toSet ++ s.retired
      incoming.columns.filterNot(bs.fieldNames.contains).foreach(c =>
        require(!physTaken.contains(c),
          s"write into $dir adds column '$c', whose physical name is " +
            "already on disk (dropped or renamed-away) — use ALTER " +
            "TABLE ADD COLUMNS, which assigns a fresh physical name"))
    }

  /** Keyed merge of `updates` over `old` rows. Without `seqCol` the
    * update wins unconditionally (anti-join shape). With `seqCol`, a
    * per-key argmax on (seq, source): greatest seq wins; on a tie the
    * update (source = 1) beats the lake row (source = 0). One shuffle
    * over the inputs. Unmatched lake rows survive as singleton groups;
    * several versions of one key inside `updates` collapse to the
    * newest. Null seq sorts lowest, so it never beats a real one. */
  private def mergeKeyed(old: DataFrame, updates: DataFrame,
      keyCols: Seq[String], seqCol: Option[String]): DataFrame =
    seqCol match {
      case None =>
        updates.unionByName(
          old.join(updates.select(keyCols.map(col): _*), keyCols, "left_anti"))
      case Some(sc) =>
        val dataCols = updates.columns.filterNot(keyCols.contains).toSeq
        val keys = keyCols.map(col)
        val ver = struct(
          col(sc) +: lit(0).as("__src") +: dataCols.filterNot(_ == sc).map(col): _*)
        updates.withColumn("__v", ver).withColumn("__v",
            col("__v").withField("__src", lit(1)))
          .unionByName(old.withColumn("__v", ver))
          .groupBy(keys: _*)
          .agg(max(col("__v")).as("__v"))
          .select(keys ++ dataCols.map(c => col(s"__v.$c").as(c)): _*)
    }

  /** What a keyed upsert lands where no committed row competes (the
    * bootstrap, partitions the table does not hold yet): with `seqCol`,
    * [[mergeKeyed]] against an empty slice, so a batch carrying several
    * versions of one key lands only the newest, in the batch's column
    * order; without one, the batch as it is. */
  private def newestPerKey(updates: DataFrame, keyCols: Seq[String],
      seqCol: Option[String]): DataFrame =
    if (seqCol.isEmpty) updates
    else mergeKeyed(updates.limit(0), updates, keyCols, seqCol)
      .select(updates.columns.toSeq.map(col): _*)

  /** Stage a keyed copy-on-write upsert against the CURRENT snapshot
    * ([[mergeKeyed]] semantics, including version-aware `seqCol`: per
    * key the newest row lands, also where the batch only opens new
    * partitions). Reads ONLY the touched partitions' files — pruned via
    * the `key=value` components of the snapshot's file list, no
    * directory listing — and writes the merged slice as new files.
    * Nothing is visible until [[commitStaged]]. Returns None when
    * `txn` is already recorded (an at-least-once replay — the whole
    * upsert is a no-op). */
  def stageUpsert(spark: SparkSession, updates: DataFrame, dir: String,
      keyCols: Seq[String], partitionCol: String,
      seqCol: Option[String] = None,
      txn: Option[(String, Long)] = None): Option[StagedUpsert] = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val s = mustLatest(spark, dir)
    if (replayed(s, dir, txn)) return None
    val parts = updates.select(col(partitionCol)).distinct().collect()
      .map(_.get(0)).toSeq // one value per touched partition — small
    val partDirs = parts.map(partDirOf(partitionCol, _)).toSet
    val (touched, _) =
      s.files.partition(f => partDirs.exists(d => f.startsWith(d + "/")))
    checkSchemaCompatible(s, updates, dir)
    val merged =
      if (touched.isEmpty) newestPerKey(updates, keyCols, seqCol)
      else {
        val old = readFiles(spark, dir, s, touched)
        // columns the updates add don't exist in the old slice yet
        val aligned = updates.columns.filterNot(old.columns.contains)
          .foldLeft(old) { (df, c) =>
            df.withColumn(c, lit(null).cast(updates.schema(c).dataType))
          }
        mergeKeyed(aligned, updates, keyCols, seqCol)
      }
    val newRels = stageWrite(spark, dir, merged, Seq(partitionCol),
      s.physNames)
    Some(StagedUpsert(s, partDirs, touched.toSet, newRels,
      Some(updates.schema.json), txn = txn))
  }

  /** Commit a staged upsert through [[LakeCommit]]'s REBASE rule: on a
    * lost race, the partitions whose files changed since the staged base
    * are what the intervening commits touched. Disjoint from ours →
    * republish our files on top of the winner's snapshot and retry;
    * overlapping (or a concurrent compaction, which rewrites every
    * partition) → a typed [[WriteConflict]] with the log intact — re-run
    * the upsert from the fresh snapshot. A `txn` that is recorded
    * mid-flight (another worker committed the same micro-batch) turns
    * the commit into a no-op instead of a double-apply. */
  def commitStaged(spark: SparkSession, dir: String, staged: StagedUpsert,
      maxRetries: Int = 10): Snapshot =
    LakeCommit.rebase(spark, dir, staged, "upsert", maxRetries)

  /** Append-only commit: stage `rows` under their partition directories
    * and commit them as pure file ADDS — no partition read, no rewrite,
    * O(batch) work regardless of table size. This is the write verb for
    * append-heavy ingestion at scale: the keyed [[upsert]] rewrites each
    * touched partition's post-image, an append rewrites nothing, so it
    * clashes with NO concurrent writer (its rebase is the
    * `removed = ∅, touchedParts = ∅` case — a racing delete/upsert/
    * compact serializes BEFORE the append, which is exactly SQL INSERT's
    * contract). Key uniqueness is the caller's responsibility, as in SQL
    * INSERT — duplicates land as rows. The change feed sees an append
    * EXACTLY: its added files are the delta, not a post-image superset.
    * `txn` is the IDEMPOTENT-WRITE identity `(appId, version)` (Delta's
    * `txnAppId`/`txnVersion` shape) every verb takes: a replay whose
    * version is at or below the app's recorded high-water mark is a
    * no-op — the manual-retry / foreachBatch-restart guard, riding the
    * same per-app entry as the streaming sink and checked again on
    * every rebase attempt. */
  def append(spark: SparkSession, rows: DataFrame, dir: String,
      txn: Option[(String, Long)] = None): Snapshot = {
    val s = mustLatest(spark, dir)
    if (replayed(s, dir, txn)) return s
    checkSchemaCompatible(s, rows, dir)
    val partCols = partColsOf(s)
    val missingP = partCols.filterNot(rows.columns.contains)
    require(missingP.isEmpty,
      s"append into $dir must carry partition column(s): " +
        missingP.mkString(", "))
    val rels = stageWrite(spark, dir, rows, partCols, s.physNames)
    if (rels.isEmpty) return s
    LakeCommit.rebase(spark, dir,
      StagedUpsert(s, Set.empty, Set.empty, rels, Some(rows.schema.json),
        txn = txn),
      "append")
  }

  /** Keyed copy-on-write upsert: [[stageUpsert]] + [[commitStaged]].
    * Safe under concurrent writers on disjoint partitions (the loser of
    * the version race rebases); overlapping writers fail loudly. With
    * `txn`, an identity already recorded makes the whole call a no-op,
    * so an at-least-once replay cannot double-apply. */
  def upsert(spark: SparkSession, updates: DataFrame, dir: String,
      keyCols: Seq[String], partitionCol: String,
      seqCol: Option[String] = None,
      txn: Option[(String, Long)] = None): Snapshot =
    stageUpsert(spark, updates, dir, keyCols, partitionCol, seqCol, txn)
      .map(commitStaged(spark, dir, _))
      .getOrElse(mustLatest(spark, dir))

  /** [[upsert]] into a table that may not exist yet: the first call
    * BOOTSTRAPS the log ([[bootstrap]] — version 1 = the newest row per
    * key of `updates`, with `statsCols` zone-map stats from birth); later
    * calls upsert normally. Two racing creators resolve to one winner —
    * the loser's call fails loudly with [[CreateRace]] (re-invoke to
    * upsert on top). Streams land through the sink verbs instead
    * ([[sinkUpsert]]), whose per-query ledger makes a replay a no-op. */
  def upsertOrCreate(spark: SparkSession, updates: DataFrame, dir: String,
      keyCols: Seq[String], partitionCol: String,
      seqCol: Option[String] = None,
      statsCols: Seq[String] = Nil): Snapshot =
    latest(spark, dir) match {
      case Some(_) =>
        upsert(spark, updates, dir, keyCols, partitionCol, seqCol)
      case None =>
        require(keyCols.nonEmpty, "upsert needs at least one key column")
        bootstrap(spark, dir, newestPerKey(updates, keyCols, seqCol),
          Seq(partitionCol), statsCols, None)
    }

  /** The ONE create-from-data path: a directory with no commit log
    * starts from `rows` — version 1 = the rows, with `statsCols`
    * zone-map stats from birth and `txn` (a sink's entry) riding the
    * same commit, so a crashed first write left nothing
    * visible and replays cleanly. The create is a CAS commit: two racing
    * creators resolve to one winner, the loser gets [[CreateRace]] and
    * its staged files are vacuum garbage. Empty `rows` are refused —
    * writers skip empty batches until the first row arrives. */
  private def bootstrap(spark: SparkSession, dir: String, rows: DataFrame,
      partCols: Seq[String], statsCols: Seq[String],
      txn: Option[(String, Long)]): Snapshot = {
    hadoopFs(spark, dir).mkdirs(logPath(dir))
    val rels = stageWrite(spark, dir, rows, partCols)
    if (rels.isEmpty)
      throw new IllegalStateException(
        s"cannot bootstrap $dir from an empty batch — skip empty batches " +
          "until the first row arrives")
    LakeCommit.run(spark, dir, "init", Abort,
      from = Some(Snapshot(0L, Nil, statsCols, None, "init")), txn = txn) {
      s => Some(LakeCommit.build(spark, dir, s, rels, rels, "init",
        Some(rows.schema.json)))
    }
  }

  // --------------------------------------------- exactly-once identity
  // The table's ONE replay identity: each idempotent writer names its
  // id space (`appId`) and its writes carry monotone versions; the
  // table property `graft.txn.<appId> = <last committed version>`
  // rides each commit atomically with its data ([[LakeCommit.run]]
  // records it), so `version <= recorded` IS the replay test
  // ([[txnDone]]) — the `(appId, version)` idempotence shape of Delta's
  // txn action. App ids in use: the streaming sink's query id (a
  // RE-CREATED query — fresh checkpoint, ids restart at 0 — gets a
  // fresh entry), a [[LakeTxn]] family's `laketxn:<dir>`, a mirror's
  // `follow:<source dir>` and an incremental view's `view:<base dir>`
  // (their version is the source version applied, so the entry is also
  // their resume cursor), and any caller's own `txnAppId`. Writers with
  // overlapping numbers never skip each other. One ~60-byte prop per
  // writer ever to write the table — planning metadata, not data-plane
  // state.

  private[sources] val TxnPrefix = "graft.txn."

  private[sources] def txnProps(txn: Option[(String, Long)])
      : Map[String, String] =
    txn.map { case (a, v) => (TxnPrefix + a) -> v.toString }.toMap

  /** The last version `appId` committed to the table at `s`, if any —
    * the writer's resume cursor. */
  def txnVersion(s: Snapshot, appId: String): Option[Long] =
    s.props.get(TxnPrefix + appId).map(_.toLong)

  /** The high-water rule: is `(appId, v)` already committed at `s`? */
  private[sources] def txnDone(s: Snapshot, appId: String,
      v: Long): Boolean =
    txnVersion(s, appId).exists(_ >= v)

  /** Identity-ONLY commit: record `txn = (appId, version)` as done with NO
    * file/dv/manifest churn — the setProps shape, NOT
    * [[LakeCommit.build]], which would reread and rewrite the table's
    * entire stats manifest to publish a ~60-byte prop. Used when a
    * txn-keyed write has nothing to write: [[delete]]/[[replaceWhere]]
    * with an all-miss predicate, or a derived table whose source range
    * moved no rows (a mirror or view catching up past pure
    * compactions). The identity must still land so a replay no-ops and
    * the cursor advances; a lost race re-derives. */
  def ledgerOnlyCommit(spark: SparkSession, dir: String,
      txn: (String, Long), op: String): Snapshot =
    LakeCommit.run(spark, dir, s"$op ledger commit", Rederive,
      txn = Some(txn)) { s => Some(bump(s, op)) }

  /** The sink verbs' shared entry. A directory with no commit log is
    * bootstrapped FROM `rows` ([[bootstrap]], with the txn entry riding
    * version 1; `rows` is by-name, so an existing table never
    * plans the bootstrap frame). Two streams bootstrapping one target:
    * the loser of the create race lands ON TOP of the winner's table —
    * the query must not die over a benign race. A replayed
    * `(queryId, batchId)` returns the snapshot unchanged; anything else
    * runs `onTable` against it. */
  private def sinkWrite(spark: SparkSession, rows: => DataFrame, dir: String,
      bootstrapPartCols: Seq[String], queryId: String, batchId: Long,
      statsCols: Seq[String] = Nil)(
      onTable: Snapshot => Snapshot): Snapshot =
    latest(spark, dir) match {
      case None =>
        try bootstrap(spark, dir, rows, bootstrapPartCols, statsCols,
          Some((queryId, batchId)))
        catch { case _: CreateRace =>
          sinkWrite(spark, rows, dir, bootstrapPartCols, queryId, batchId,
            statsCols)(onTable)
        }
      case Some(s0) if replayed(s0, dir, Some((queryId, batchId))) => s0
      case Some(s0) => onTable(s0)
    }

  /** The native streaming sink's APPEND verb (`OutputMode.Append`):
    * [[append]] semantics guarded by the per-query txn ledger. Pure
    * file adds — O(batch) at any table size, clashes with no
    * concurrent writer. Bootstraps a missing table from the first
    * non-empty batch (`bootstrapPartCols` = `writeStream.partitionBy`). */
  def sinkAppend(spark: SparkSession, rows: DataFrame, dir: String,
      queryId: String, batchId: Long,
      bootstrapPartCols: Seq[String] = Nil): Snapshot =
    sinkWrite(spark, rows, dir, bootstrapPartCols, queryId, batchId) { s0 =>
      checkSchemaCompatible(s0, rows, dir)
      val partCols = partColsOf(s0)
      val missingP = partCols.filterNot(rows.columns.contains)
      require(missingP.isEmpty,
        s"sink append into $dir must carry partition column(s): " +
          missingP.mkString(", "))
      val rels = stageWrite(spark, dir, rows, partCols, s0.physNames)
      if (rels.isEmpty) s0 // empty batch: nothing to make exactly-once
      else LakeCommit.rebase(spark, dir,
        StagedUpsert(s0, Set.empty, Set.empty, rels, Some(rows.schema.json),
          txn = Some((queryId, batchId))),
        "append")
    }

  /** The native streaming sink's keyed UPSERT verb
    * (`OutputMode.Update` + `keyColumns`): [[upsert]] semantics —
    * copy-on-write merge of the touched partitions, `seqCol`-aware (the
    * newest row per key lands, also from the bootstrap batch) — guarded
    * by the per-query txn ledger. Bootstraps a missing table from the
    * first non-empty batch, with `statsCols` zone-map stats from birth. */
  def sinkUpsert(spark: SparkSession, updates: DataFrame, dir: String,
      keyCols: Seq[String], partitionCol: String,
      seqCol: Option[String], queryId: String, batchId: Long,
      statsCols: Seq[String] = Nil): Snapshot = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    sinkWrite(spark, newestPerKey(updates, keyCols, seqCol), dir,
      Seq(partitionCol), queryId, batchId, statsCols) { _ =>
      upsert(spark, updates, dir, keyCols, partitionCol, seqCol,
        Some((queryId, batchId)))
    }
  }

  /** The native streaming sink's REPLACE verb (`OutputMode.Complete`:
    * each micro-batch carries the full result, e.g. a streaming
    * aggregate): an atomic whole-snapshot overwrite per batch, guarded
    * by the per-query txn ledger. A lost race RE-DERIVES: the
    * replacement is restaged against the new latest. History stays
    * time-travelable; old snapshots wait for vacuum. */
  def sinkOverwrite(spark: SparkSession, replacement: DataFrame,
      dir: String, partitionCols: Seq[String], queryId: String,
      batchId: Long): Snapshot =
    sinkWrite(spark, replacement, dir, partitionCols, queryId, batchId) { s0 =>
      LakeCommit.run(spark, dir, "sink overwrite", Rederive, from = Some(s0),
        txn = Some((queryId, batchId))) { s =>
        val pc = {
          val committed = partColsOf(s)
          if (committed.nonEmpty) committed else partitionCols
        }
        val rels = stageWrite(spark, dir, replacement, pc, s.physNames)
        Some(LakeCommit.build(spark, dir, s, rels, rels, "overwrite",
          Some(replacement.schema.json), dvsNew = Some(Nil)))
      }
    }

  /** General conditional MERGE — the full three-clause verb on top of
    * the same copy-on-write machinery as [[upsert]]/[[delete]], in ONE
    * atomic commit. Against the current snapshot, each target row that a
    * `source` row matches on `keyCols` is
    *
    *   1. DELETED      when `deleteWhen` holds (evaluated first),
    *   2. else UPDATED to the source row image when `updateWhen` holds
    *      (the reference's `ON CONFLICT DO UPDATE` shape — column-level
    *      `SET c = expr` is the caller precomputing `source`),
    *   3. else KEPT unchanged;
    *
    * and each source row with no match INSERTS when `insertWhen` holds.
    * Unmatched target rows survive — unless the optional
    * `notMatchedBySourceDeleteWhen` clause (Delta's sync/retention
    * family) fires on them; that clause judges rows the source does NOT
    * name, so it opts the merge into a full-table read and a
    * whole-table conflict unit, stated in its own doc below.
    * Conditions are SQL boolean
    * expressions over BOTH row images, referenced as `t.<col>` (target)
    * and `s.<col>` (source); a NULL condition is false (no silent
    * clause-fire on three-valued logic).
    *
    * Same contracts as [[upsert]]: `source` carries every table column
    * (additive evolution allowed — old rows read new columns as null),
    * `partitionCol` is a stable function of the key, and a `txn`
    * already recorded makes the whole call a replay no-op. A source
    * with duplicate keys fails loudly BEFORE any write (two clause
    * images for one target row is nondeterministic — the Delta-merge
    * multiple-matches rule). Source columns whose name starts with `__`
    * are CLAUSE-ONLY: visible to the `when` conditions as `s.__x` but
    * never written to the table and never merged into its schema — the
    * channel a CDC apply uses to carry its tombstone flag
    * ([[graft.streaming.LakeFollow]]). At 100 TB: only the source's
    * partitions are read and rewritten (file-pruned off the committed
    * list), and the matching is one equi-join on the keys — no second
    * pass per clause. */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
      keyCols: Seq[String], partitionCol: String,
      updateWhen: Option[String] = Some("true"),
      deleteWhen: Option[String] = None,
      insertWhen: Option[String] = Some("true"),
      txn: Option[(String, Long)] = None,
      notMatchedBySourceDeleteWhen: Option[String] = None,
      /** COLUMN-LEVEL update: target column → SQL expression over the
        * `t.`/`s.` namespaces (`UPDATE SET v = t.v + s.delta`).
        * Unmentioned columns KEEP the target value. None → whole-row
        * source image (`UPDATE SET *`). All expressions evaluate
        * against the pre-merge row pair, as SQL requires. */
      updateSet: Option[Map[String, String]] = None,
      /** COLUMN-LEVEL insert: target column → SQL expression over the
        * `s.` namespace (`INSERT (k, v) VALUES (s.k, s.v * 2)`).
        * Unmentioned columns insert NULL; key and partition columns
        * must be assigned. None → whole-row source image. */
      insertValues: Option[Map[String, String]] = None,
      /** See [[mergeClauses]]' `evolveSchema`. */
      evolveSchema: Boolean = false): Snapshot =
    // delete is evaluated BEFORE update whatever the argument order —
    // the documented contract of this arity; SQL clause order is the
    // caller's to express through [[mergeClauses]]' sequence
    mergeClauses(spark, dir, source, keyCols, partitionCol,
      matched = deleteWhen.map(d => MergeMatched(d, delete = true)).toSeq ++
        updateWhen.map(u => MergeMatched(u, set = updateSet)),
      notMatched = insertWhen.map(i => MergeNotMatched(i, insertValues)).toSeq,
      txn = txn,
      notMatchedBySourceDeleteWhen = notMatchedBySourceDeleteWhen,
      evolveSchema = evolveSchema)

  /** One MATCHED clause of a general MERGE. Clauses fire in SEQUENCE
    * order — the first whose `when` holds wins, exactly as SQL MERGE
    * specifies. `delete = true` drops the row; otherwise `set = None`
    * takes the whole source image (`UPDATE SET *`) and
    * `set = Some(col → expr)` the column-level image (expressions over
    * the `t.`/`s.` namespaces, evaluated against the PRE-merge pair;
    * unmentioned columns keep the target value). */
  final case class MergeMatched(when: String, delete: Boolean = false,
      set: Option[Map[String, String]] = None)

  /** One NOT MATCHED clause: insert the whole source image
    * (`values = None`) or the column list (`values = Some(col → expr)`
    * over the `s.` namespace; unmentioned columns insert NULL, key and
    * partition columns must be assigned). First matching clause wins. */
  final case class MergeNotMatched(when: String,
      values: Option[Map[String, String]] = None)

  /** General conditional MERGE: an ORDERED chain of matched clauses
    * (any mix of conditional updates — whole-row or column-level — and
    * deletes) plus an ordered chain of not-matched insert clauses, all
    * applied in ONE atomic commit with the same pruned read, duplicate
    * -key guard, `txn` identity, and rebase rules as [[merge]] (which is now
    * the ≤1-update + ≤1-delete special case of this verb). */
  def mergeClauses(spark: SparkSession, dir: String, source: DataFrame,
      keyCols: Seq[String], partitionCol: String,
      matched: Seq[MergeMatched], notMatched: Seq[MergeNotMatched],
      txn: Option[(String, Long)] = None,
      notMatchedBySourceDeleteWhen: Option[String] = None,
      /** WRITE-SIDE SCHEMA EVOLUTION opt-in (also enabled session-wide
        * by `spark.graft.merge.schemaEvolution=true`): column-level
        * assignments may name columns NOT in the committed schema —
        * they are auto-ADDED, typed by their expression, old rows read
        * null; clauses not assigning them insert/keep null. Same
        * physical-name-reuse refusal as every additive write. Off by
        * default: an unknown assignment is usually a typo, and a typo
        * that silently widens the table is the worst failure mode. */
      evolveSchema: Boolean = false): Snapshot = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val s = mustLatest(spark, dir)
    if (replayed(s, dir, txn)) return s
    val evolve = evolveSchema || spark.conf
      .getOption("spark.graft.merge.schemaEvolution").exists(_.toBoolean)
    // a whole-row clause needs the full target schema in the source (and
    // may evolve it additively); column-level clauses only need the key,
    // the partition column, and whatever their expressions reference
    val wholeRowClause = matched.exists(m => !m.delete && m.set.isEmpty) ||
      notMatched.exists(_.values.isEmpty)
    // columns column-level clauses ADD to the schema (evolve mode only),
    // in first-assignment order
    var evolveCols: Seq[String] = Nil
    if (wholeRowClause) checkSchemaCompatible(s, source, dir)
    else {
      (keyCols :+ partitionCol).foreach(k =>
        require(source.columns.contains(k),
          s"merge into $dir: column-level clauses still need '$k' in " +
            "the source (the key/partition routing)"))
      val targetSchema = logicalSchema(spark, dir, s)
      val allSets = matched.flatMap(_.set) ++ notMatched.flatMap(_.values)
      val unknown = allSets.flatMap(_.keys).distinct
        .filterNot(targetSchema.fieldNames.contains)
      if (!evolve) require(unknown.isEmpty,
        s"merge into $dir assigns unknown column(s): " +
          s"${unknown.mkString(", ")} — to auto-ADD them, pass " +
          "evolveSchema = true (or set " +
          "spark.graft.merge.schemaEvolution=true)")
      else {
        // additive evolution must not resurrect a physical name old
        // files still carry — same rule as checkSchemaCompatible
        val physTaken = targetSchema.fieldNames
          .map(n => s.physNames.getOrElse(n, n)).toSet ++ s.retired
        unknown.foreach(c => require(!physTaken.contains(c) &&
          !c.startsWith("__"),
          s"merge into $dir adds column '$c', whose physical name is " +
            "already on disk (dropped or renamed-away) — use ALTER " +
            "TABLE ADD COLUMNS, which assigns a fresh physical name"))
        evolveCols = unknown
      }
      matched.flatMap(_.set).foreach(m =>
        (keyCols :+ partitionCol).filter(m.contains).foreach(k =>
          throw new IllegalArgumentException(
            s"merge into $dir: UPDATE SET must not reassign key/" +
              s"partition column '$k' (rekeying is delete+insert)")))
      notMatched.flatMap(_.values).foreach(m =>
        (keyCols :+ partitionCol).filterNot(m.contains).foreach(k =>
          throw new IllegalArgumentException(
            s"merge into $dir: INSERT must assign key/partition " +
              s"column '$k'")))
    }
    val dup = source.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .limit(1).collect() // ≤1 row: existence probe only
    require(dup.isEmpty,
      s"merge into $dir: source has duplicate keys on " +
        s"(${keyCols.mkString(", ")}) — one target row would receive two " +
        "clause images; deduplicate the source first")
    val parts = source.select(col(partitionCol)).distinct().collect()
      .map(_.get(0)).toSeq // one value per touched partition — small
    val partDirs = parts.map(partDirOf(partitionCol, _)).toSet
    // the WHEN NOT MATCHED BY SOURCE clause (Delta's sync/retention
    // family: "delete every target row the source no longer carries",
    // gated by a t.*-only condition) judges rows the source does NOT
    // name — so partition pruning is unsound for it and the merge must
    // read the WHOLE table. The clause opts into that cost explicitly;
    // the three source-driven clauses keep the pruned read.
    val (touched, _) =
      if (notMatchedBySourceDeleteWhen.isDefined) (s.files, Nil)
      else s.files.partition(f => partDirs.exists(d => f.startsWith(d + "/")))
    // empty target slice: the zero-row frame must still carry the
    // COMMITTED schema under column-level clauses — deriving it from the
    // slim source would make outCols the source's columns (dropping
    // INSERT assignments to unmentioned target columns and persisting
    // clause-input columns). Whole-row clauses pass the source image by
    // contract (checkSchemaCompatible ran), so the source shape is right.
    val old0 =
      if (touched.isEmpty) {
        if (wholeRowClause)
          source.filter(lit(false)).drop(
            source.columns.filter(_.startsWith("__")).toIndexedSeq: _*)
        else
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            logicalSchema(spark, dir, s))
      } else readFiles(spark, dir, s, touched)
    // clause-only source columns (`__x`): joined for the conditions,
    // excluded from the written image and the committed schema. Under
    // column-level clauses NO source column widens the target — extra
    // source columns are clause inputs, not schema evolution.
    val aligned =
      if (!wholeRowClause) old0
      else source.columns
        .filterNot(c => old0.columns.contains(c) || c.startsWith("__"))
        .foldLeft(old0) { (df, c) =>
          df.withColumn(c, lit(null).cast(source.schema(c).dataType))
        }
    val outCols = aligned.columns.toSeq.filterNot(_.startsWith("__")) ++
      evolveCols // evolved columns append after the committed schema
    val t = aligned.withColumn("__t_present", lit(1)).as("t")
    val sv = source.withColumn("__s_present", lit(1)).as("s")
    val joinCond = keyCols.map(k => col(s"t.$k") === col(s"s.$k"))
      .reduce(_ && _)
    val tPresent = col("t.__t_present").isNotNull
    val sPresent = col("s.__s_present").isNotNull
    def fires(c: String): Column = coalesce(expr(c), lit(false))
    val isMatch = tPresent && sPresent
    // take: 0 = drop, 1 = keep target image, 10+i = matched clause i's
    // image, 100+j = not-matched clause j's image. The CASE chain IS
    // the clause order: the first matching clause wins, as SQL MERGE
    // specifies.
    val cases: Seq[(Column, Column)] =
      matched.zipWithIndex.map { case (m, i) =>
        (isMatch && fires(m.when),
          if (m.delete) lit(0) else lit(10 + i))
      } ++ Seq(
        (tPresent && !sPresent &&
          coalesce(notMatchedBySourceDeleteWhen.map(expr)
            .getOrElse(lit(false)), lit(false)), lit(0)),
        (tPresent, lit(1))) ++
        notMatched.zipWithIndex.map { case (n, j) =>
          (fires(n.when), lit(100 + j))
        }
    val take = cases.foldRight(lit(0): Column) { case ((p, v), els) =>
      when(p, v).otherwise(els)
    }
    // per-clause image of column c, each expression cast to the
    // committed type and evaluated against the PRE-merge (t, s) pair.
    // Only clauses that exist contribute a branch — an absent clause
    // must not force its image's source columns to resolve (a slim
    // column-level source has no s.<every-column>). An EVOLVED column
    // has no committed type yet (its expression's type stands) and no
    // target value (clauses not assigning it write null).
    def castTo(c: String)(e: Column): Column =
      if (aligned.columns.contains(c)) e.cast(aligned.schema(c).dataType)
      else e
    def keepOrNull(c: String): Column =
      if (aligned.columns.contains(c)) col(s"t.$c") else lit(null)
    def updImage(set: Option[Map[String, String]])(c: String): Column =
      set match {
        case None => col(s"s.$c")
        case Some(m) => m.get(c).map(e => castTo(c)(expr(e)))
          .getOrElse(keepOrNull(c))
      }
    def insImage(values: Option[Map[String, String]])(c: String): Column =
      values match {
        case None => col(s"s.$c")
        case Some(m) => m.get(c).map(e => castTo(c)(expr(e)))
          .getOrElse(if (aligned.columns.contains(c))
            lit(null).cast(aligned.schema(c).dataType) else lit(null))
      }
    val branches: Seq[(Int, String => Column)] =
      matched.zipWithIndex.collect {
        case (m, i) if !m.delete => (10 + i, updImage(m.set) _)
      } ++ notMatched.zipWithIndex.map { case (n, j) =>
        (100 + j, insImage(n.values) _)
      }
    val post = t.join(sv, joinCond, "full_outer")
      .withColumn("__take", take)
      .filter(col("__take") =!= 0)
      .select(outCols.map { c =>
        branches.foldRight(keepOrNull(c)) { case ((tk, img), els) =>
          when(col("__take") === tk, img(c)).otherwise(els)
        }.as(c)
      }: _*)
    evolveCols.foreach(c => require(
      post.schema(c).dataType != org.apache.spark.sql.types.NullType,
      s"merge into $dir cannot infer a type for evolved column '$c' — " +
        "every assignment to it is a bare NULL; cast one explicitly"))
    val newRels = stageWrite(spark, dir, post, Seq(partitionCol),
      s.physNames)
    // full-table clause ⇒ whole-table conflict unit (like compact): any
    // concurrent data commit invalidates the not-matched judgment
    val touchedParts =
      if (notMatchedBySourceDeleteWhen.isDefined)
        s.files.map(partOf).toSet ++ partDirs ++ newRels.map(partOf)
      else partDirs ++ newRels.map(partOf)
    LakeCommit.rebase(spark, dir,
      StagedUpsert(s, touchedParts, touched.toSet, newRels,
        // schema evolution through whole-row clauses (source image) or,
        // under the evolve opt-in, column-level assignments to new
        // columns (typed by the post projection, nullable — old rows
        // read null)
        if (wholeRowClause) Some(org.apache.spark.sql.types.StructType(
          source.schema.filterNot(_.name.startsWith("__"))).json)
        else if (evolveCols.nonEmpty) Some({
          // evolved columns slot BEFORE the hive partition columns —
          // the parquet read surfaces partition columns last, and the
          // committed order must match what every read returns
          val (partF, dataF) = logicalSchema(spark, dir, s).fields
            .partition(f => partColsOf(s).contains(f.name))
          org.apache.spark.sql.types.StructType(dataF ++
            evolveCols.map(c => post.schema(c).copy(nullable = true)) ++
            partF).json
        })
        else None,
        txn = txn),
      "merge")
  }

  /** The native streaming sink's CDC-APPLY verb (`OutputMode.Update` +
    * `applyChangeFeed=true`): consume a row-level change-feed batch —
    * the shape the `readChangeFeed` SOURCE emits
    * (`_change_type` ∈ insert | delete | update_preimage |
    * update_postimage over the row image) — and apply it to the target
    * as ONE atomic merge per micro-batch: inserts and update
    * post-images upsert by key, deletes delete, pre-images drop. With
    * the CDC source on the other end this closes table REPLICATION
    * WITH DELETES as pure Spark idiom (`readStream ... readChangeFeed`
    * → `writeStream ... applyChangeFeed`), no foreachBatch — the
    * tombstone rides a `__`-prefixed clause-only column through
    * [[mergeClauses]], so it is never written. A change-feed range is
    * a NET diff per key, so the merge's duplicate-key guard holds by
    * construction. Guarded by the same per-query txn ledger as every
    * sink verb; a missing target bootstraps from the batch's surviving
    * rows (a delete-only first batch fails loudly — there is nothing
    * to delete FROM). */
  def sinkApplyCdc(spark: SparkSession, changes: DataFrame, dir: String,
      keyCols: Seq[String], partitionCol: String, queryId: String,
      batchId: Long): Snapshot = {
    require(changes.columns.contains("_change_type"),
      "applyChangeFeed needs a _change_type column — is the source a " +
        "readChangeFeed stream?")
    val src = changes
      .filter(col("_change_type") =!= "update_preimage")
      .withColumn("__cdc_delete", col("_change_type") === "delete")
      .drop("_change_type")
    sinkWrite(spark, src.filter(!col("__cdc_delete")).drop("__cdc_delete"),
      dir, Seq(partitionCol), queryId, batchId) { _ =>
      mergeClauses(spark, dir, src, keyCols, partitionCol,
        matched = Seq(MergeMatched("s.__cdc_delete", delete = true),
          MergeMatched("true")),
        notMatched = Seq(MergeNotMatched("NOT s.__cdc_delete")),
        txn = Some((queryId, batchId)))
    }
  }

  /** Copy-on-write compaction: rewrite the CURRENT snapshot to
    * `targetPartitions` files per partition set and commit. No rename
    * swap, no crash window — a crash before the commit leaves only
    * unreferenced files for [[vacuum]]. Compaction rewrites EVERY
    * partition, so it cannot rebase: losing the version race to any
    * data commit aborts loudly (the rewrite was of stale data) — re-run
    * against the fresh snapshot; the abandoned files are vacuum garbage. */
  def compact(spark: SparkSession, dir: String,
      targetPartitions: Int): Snapshot = {
    val s = mustLatest(spark, dir)
    val df = readSnapshot(spark, dir, s)
    val partCols = partColsOf(s)
    val repartitioned =
      if (partCols.isEmpty) df.repartition(targetPartitions)
      else df.repartition(targetPartitions, partCols.map(col): _*)
    val newRels = stageWrite(spark, dir, repartitioned, partCols,
      s.physNames)
    rewriteAll(spark, dir, s, newRels, "compact")
  }

  /** [[compact]] that also CLUSTERS the rewrite: rows are
    * range-partitioned on `clusterCols` (after any hive partition
    * columns, so each hive partition's rows stay contiguous) and sorted
    * within files, so every rewritten file covers a NARROW
    * `[min, max]` interval of the cluster key — and because the commit
    * recomputes per-file stats for the new files atomically with the
    * file list, [[scanRange]]/[[scanBox]]/[[quantiles]] pruning engages
    * the moment the compaction lands.
    *
    * Why this exists: streaming upserts ([[graft.streaming
    * .StreamingIngest.upsertStreamLogged]]) land rows in ARRIVAL order,
    * so every file's zone-map interval spans the whole key range and a
    * selective range scan opens every file — stats-correct, pruning
    * useless. One clustered compaction restores the layout the
    * dominant read predicate wants; for 2-D predicates pass a
    * precomputed Morton column ([[graft.ops.GeoOps.zorderKey]]) as the
    * cluster key and query through [[scanBox]]. Same concurrency
    * contract as [[compact]]: rewrites everything, never rebases, a
    * lost race aborts loudly and the staged files are vacuum garbage. */
  def compactClustered(spark: SparkSession, dir: String,
      targetPartitions: Int, clusterCols: Seq[String]): Snapshot = {
    require(clusterCols.nonEmpty, "clusterCols must be non-empty")
    val s = mustLatest(spark, dir)
    val df = readSnapshot(spark, dir, s)
    val partCols = partColsOf(s)
    require(clusterCols.forall(c => !partCols.contains(c)),
      s"clusterCols ${clusterCols.mkString(",")} overlap partition " +
        s"columns ${partCols.mkString(",")}")
    val rangeCols = (partCols ++ clusterCols).map(col)
    val clustered = df
      .repartitionByRange(targetPartitions, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
    val newRels = stageWrite(spark, dir, clustered, partCols, s.physNames)
    rewriteAll(spark, dir, s, newRels, "compact")
  }

  /** PARTITION-SCOPED copy-on-write compaction (`OPTIMIZE ... WHERE`):
    * rewrite ONLY the hive partitions whose values satisfy
    * `partitionPredicate` (a Column over the partition columns),
    * collapsing each to `filesPerPartition` files and MATERIALIZING any
    * deletion vectors on them (the rewritten files carry no tombstones;
    * DV files are retired, or rewritten filtered when they also cover
    * untouched partitions' files).
    *
    * Unlike [[compact]] — whole-table, never rebases — this commits
    * with the SELECTED partitions as the conflict unit, so concurrent
    * commits to other partitions rebase cleanly: the 100 TB shape,
    * where yesterday's partition compacts while today's ingest keeps
    * appending. Partition selection is metadata-plane (values parsed
    * off the committed file paths; no listing, no data read). The
    * commit is op="compact": invisible to streaming table reads and
    * change-range consumers, because no logical row moves. */
  def compactPartitions(spark: SparkSession, dir: String,
      partitionPredicate: Column,
      filesPerPartition: Int = 1): Snapshot = {
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    val s = mustLatest(spark, dir)
    val partCols = partColsOf(s)
    require(partCols.nonEmpty,
      s"compactPartitions on $dir needs hive partitioning — use " +
        "compact for an unpartitioned table")
    val schema = logicalSchema(spark, dir, s)
    // distinct partition dirs → typed partition-value rows, evaluated
    // against the predicate driver-side (bounded by partition count)
    val dirsAll = s.files.map(partOf).distinct
    val parsed = dirsAll.map { d =>
      org.apache.spark.sql.Row.fromSeq(d +: partCols.zip(d.split('/'))
        .map { case (c, seg) =>
          val raw = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(
              seg.stripPrefix(c + "="))
          if (raw == DefaultPartition) null else raw
        })
    }
    import scala.jdk.CollectionConverters._
    val df0 = spark.createDataFrame(parsed.asJava,
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("__dir",
          org.apache.spark.sql.types.StringType) +:
          partCols.map(c => org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType))))
    val typed = partCols.foldLeft(df0)((acc, c) =>
      acc.withColumn(c, col(c).cast(
        schema.fields.find(_.name == c).map(_.dataType)
          .getOrElse(org.apache.spark.sql.types.StringType))))
    val selected = typed.filter(partitionPredicate)
      .select(col("__dir")).collect().map(_.getString(0)).toSet
    if (selected.isEmpty) return s
    compactSelected(spark, dir, s, partCols, selected, filesPerPartition)
  }

  /** The streaming sink's AUTO-COMPACTION policy: compact every hive
    * partition whose live file count reached `minFiles` down to
    * `filesPerPartition` — the standing answer to the small-files
    * accumulation a long-lived append stream creates (one-plus files
    * per partition per micro-batch; a day of minute-batches is
    * thousands of tiny files per partition, and scan planning cost
    * grows with file count). Selection is metadata-plane (a group-by
    * over the committed file list, driver-side, partition-count
    * bounded); the rewrite touches ONLY hot partitions and commits
    * with them as the conflict unit, so concurrent ingest to other
    * partitions rebases — callers treat a lost race as "try again
    * next batch". Returns the current snapshot when nothing is hot. */
  private[graft] def compactHotPartitions(spark: SparkSession,
      dir: String, minFiles: Int,
      filesPerPartition: Int = 1): Snapshot = {
    require(minFiles > filesPerPartition,
      s"auto-compact needs minFiles ($minFiles) > filesPerPartition " +
        s"($filesPerPartition) or every commit re-compacts")
    val s = mustLatest(spark, dir)
    val partCols = partColsOf(s)
    require(partCols.nonEmpty,
      s"auto-compact on $dir needs hive partitioning — compact the " +
        "unpartitioned table explicitly (CALL graft_compact)")
    val hot = s.files.groupBy(partOf)
      .collect { case (d, fs) if d.nonEmpty && fs.size >= minFiles => d }
      .toSet
    if (hot.isEmpty) s
    else compactSelected(spark, dir, s, partCols, hot, filesPerPartition)
  }

  /** Shared tail of [[compactPartitions]]/[[compactHotPartitions]]:
    * rewrite exactly `selected` partition directories of snapshot `s`
    * (DV-applied read, tombstones materialized), retire/rewrite the
    * deletion vectors they cover, and commit with the selected
    * partitions as the conflict unit. */
  private def compactSelected(spark: SparkSession, dir: String,
      s: Snapshot, partCols: Seq[String], selected: Set[String],
      filesPerPartition: Int): Snapshot = {
    val touchedFiles = s.files.filter(f => selected.contains(partOf(f)))
    val removedSet = touchedFiles.toSet
    // DV-applied read: the rewrite materializes the tombstones
    val rows = readFiles(spark, dir, s, touchedFiles)
    val rewritten =
      if (filesPerPartition == 1)
        // all rows of one hive partition share the hash key → exactly
        // one task (one file) per selected partition
        rows.repartition(selected.size, partCols.map(col): _*)
      else rows
        .withColumn("__salt", (rand(7) * filesPerPartition).cast("int"))
        .repartition(selected.size * filesPerPartition,
          (partCols :+ "__salt").map(col): _*)
        .drop("__salt")
    val newRels = stageWrite(spark, dir, rewritten, partCols, s.physNames)
    // DV maintenance: a vector file whose rows all reference removed
    // files retires outright; one that also covers kept files is
    // rewritten to its kept slice (tombstone-sized work). The
    // kept/total census for EVERY outstanding vector runs as ONE Spark
    // job (union all DV files, tagged by source, aggregate per tag) —
    // a per-file isEmpty+count loop paid up to two serialized job
    // launches per vector, hundreds of launches for a table with
    // hundreds of outstanding DVs inside a single OPTIMIZE.
    var dvDrop = Set.empty[String]
    var dvAppend = Seq.empty[String]
    if (s.dvs.nonEmpty) {
      // ONE multi-path read (a per-rel spark.read would pay a
      // schema-inference job per vector), tagged back to its vector by
      // the _graft_log/<rel>/ path segment
      // the rel may span path components (a branch-minted vector is
      // `branches/<b>/dv-…`), so capture everything between the log
      // root and the parquet part file
      val tagged = spark.read
        .parquet(s.dvs.map(rel => logFile(dir, rel)): _*)
        .select(col("file"),
          regexp_extract(input_file_name(),
            "_graft_log/(.+)/[^/]+$", 1).as("__rel"))
      val census = tagged.groupBy(col("__rel")).agg(
        count(lit(1)).as("total"),
        count(when(!col("file").isInCollection(removedSet.toSeq), 1))
          .as("kept"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      s.dvs.foreach { rel =>
        val (total, kept) = census.getOrElse(rel, (0L, 0L))
        if (kept == 0L) dvDrop += rel
        else if (kept < total) {
          val tag = java.util.UUID.randomUUID.toString.take(8)
          val newRel = relPrefix(dir) + f"dv-compact-$tag.parquet"
          spark.read.parquet(logFile(dir, rel))
            .filter(!col("file").isInCollection(removedSet.toSeq))
            .coalesce(1).write.mode(SaveMode.ErrorIfExists)
            .parquet(logFile(dir, newRel))
          dvDrop += rel
          dvAppend :+= newRel
        } // else: untouched vector, carried as-is
      }
    }
    LakeCommit.rebase(spark, dir,
      StagedUpsert(s, selected, removedSet, newRels,
        dvAppend = dvAppend, dvDrop = dvDrop),
      "compact")
  }

  /** [[compactClustered]] with a Z-ORDER (Morton) layout: rows sort on
    * the bit-interleaved key of `zCols`
    * ([[graft.functions.NativeZorder]]), so every rewritten file covers
    * a small hyper-rectangle of the multi-column value space and the
    * committed per-file min/max stats prune predicates on ANY of the
    * clustered columns — the lexicographic variant prunes only the
    * leading one. Use when queries filter on several independent
    * columns; the leading-column sharpness of [[compactClustered]] is
    * traded for balanced pruning across all of them. Same commit
    * mechanics as [[compact]] (whole-table rewrite, never rebases,
    * crash leaves vacuum garbage only). */
  def compactZordered(spark: SparkSession, dir: String,
      targetPartitions: Int, zCols: Seq[String]): Snapshot = {
    require(zCols.size >= 2,
      "compactZordered needs >= 2 columns (one column: compactClustered)")
    val s = mustLatest(spark, dir)
    val df = readSnapshot(spark, dir, s)
    val partCols = partColsOf(s)
    require(zCols.forall(c => !partCols.contains(c)),
      s"zCols ${zCols.mkString(",")} overlap partition " +
        s"columns ${partCols.mkString(",")}")
    val zKey = graft.functions.NativeZorder.zorder(zCols.map(col): _*)
    // staging column name chosen to miss the table's own columns — a
    // data column literally named __z must survive the rewrite intact
    val zc = Iterator.from(0).map(i => s"__graft_z$i")
      .find(n => !df.columns.contains(n)).get
    val rangeCols = partCols.map(col) :+ col(zc)
    val clustered = df.withColumn(zc, zKey)
      .repartitionByRange(targetPartitions, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .drop(zc)
    val newRels = stageWrite(spark, dir, clustered, partCols, s.physNames)
    rewriteAll(spark, dir, s, newRels, "compact")
  }

  /** Copy-on-write SNAPSHOT REPLACE: after the commit the table holds
    * exactly `replacement`'s rows. The natural verb for re-materializing
    * a small derived table — an [[IncrementalView]]'s rollup state —
    * in ONE atomic step; the `txn` identity rides the commit like
    * upsert's (a replayed `txn` is a no-op). Like [[compact]] it
    * replaces everything, so it never rebases: losing the version race
    * aborts loudly and the staged files are vacuum garbage. */
  def overwrite(spark: SparkSession, replacement: DataFrame, dir: String,
      partitionCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      expectedVersion: Option[Long] = None): Snapshot = {
    val s = mustLatest(spark, dir)
    if (replayed(s, dir, txn)) return s
    // same optimistic pin as replaceWhere's: a replacement DERIVED from
    // a snapshot (a view's fold of deltas onto its own prior state) must
    // abort when another writer moved the table in between — committing
    // it would double-apply the overlap
    expectedVersion.foreach(
      LakeCommit.requireVersion("overwrite", dir, _, s.version))
    val newRels = stageWrite(spark, dir, replacement, partitionCols,
      s.physNames)
    rewriteAll(spark, dir, s, newRels, "overwrite", txn,
      Some(replacement.schema.json))
  }

  /** Commit a WHOLE-TABLE rewrite of snapshot `s` (compaction,
    * overwrite): `newRels` replace every file and clear the deletion
    * vectors. It never rebases — the rewrite read `s`, so losing the
    * race to any commit aborts ([[LakeCommit.Abort]]). */
  private def rewriteAll(spark: SparkSession, dir: String, s: Snapshot,
      newRels: Seq[String], op: String, txn: Option[(String, Long)] = None,
      schemaJson: Option[String] = None): Snapshot =
    LakeCommit.run(spark, dir, op, Abort, from = Some(s), txn = txn) { s =>
      Some(LakeCommit.build(spark, dir, s, newRels, newRels, op, schemaJson,
        dvsNew = Some(Nil)))
    }

  /** The table's commit history as a DataFrame — one row per readable
    * version (op, file count, `n_batches` = the version's
    * `graft.txn.*` writer entries, files added/removed vs the previous
    * readable version). The operational `DESCRIBE HISTORY`
    * surface: metadata-plane only (version files, no data I/O), so it
    * answers "what happened to this table" at any lake size. Vacuumed
    * versions are simply absent; a corrupt version is skipped like
    * [[latest]] skips it. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val f = hadoopFs(spark, dir)
    val snaps = versionNumbers(f, dir).flatMap { v =>
      try Some(parse(readText(f, versionFile(dir, v))))
      catch { case _: Exception => None }
    }
    val rows = snaps.zip(None +: snaps.map(Some(_))).map {
      case (s, prevOpt) =>
        val prev = prevOpt.map(_.files.toSet).getOrElse(Set.empty[String])
        val cur = s.files.toSet
        (s.version, s.op, s.files.size.toLong,
          s.props.keys.count(_.startsWith(TxnPrefix)).toLong,
          (cur -- prev).size.toLong, (prev -- cur).size.toLong,
          // wall-clock commit stamp (0 for pre-stamp logs) — the
          // DESCRIBE HISTORY timestamp column
          new java.sql.Timestamp(s.committedAt))
    }
    import spark.implicits._
    rows.toDF("version", "op", "n_files", "n_batches",
      "files_added", "files_removed", "committed_at")
  }

  /** Per-file metadata of the LATEST snapshot as a DataFrame — one row
    * per data file: relative path, partition dir, on-disk bytes, and
    * (when the log tracks stats) the manifest's row count. The
    * `DESCRIBE DETAIL`-style operational surface behind the
    * `graft_lake_files` SQL table function: metadata-plane only (file
    * statuses + the kilobyte manifest), answers "where is this table's
    * size and skew" at any lake scale. */
  def filesReport(spark: SparkSession, dir: String): DataFrame = {
    val s = mustLatest(spark, dir)
    val f = hadoopFs(spark, dir)
    import spark.implicits._
    val base = s.files.map { r =>
      val bytes =
        try f.getFileStatus(new Path(dataDir(dir), r)).getLen
        catch { case _: java.io.FileNotFoundException => -1L }
      (r, partOf(r), bytes)
    }.toDF("file", "partition", "bytes")
    s.manifest match {
      case Some(m) =>
        val rows = spark.read.parquet(logFile(dir, m))
          .select(col("file"), col("rows"))
        base.join(rows, Seq("file"), "left")
      case None => base.withColumn("rows", lit(null).cast("long"))
    }
  }

  /** [[compactClustered]] gated on actual fragmentation: rewrites only
    * when the current snapshot holds more than `maxFiles` data files
    * (the streaming small-file problem — every micro-batch commit adds
    * files; at 100 TB an ungated nightly rewrite of every table is
    * itself the cost problem). Returns the new snapshot when it
    * compacted, None when the table is already within budget. The
    * check is metadata-plane (one version file). */
  def compactIfFragmented(spark: SparkSession, dir: String,
      maxFiles: Int, targetPartitions: Int,
      clusterCols: Seq[String]): Option[Snapshot] = {
    val s = mustLatest(spark, dir)
    if (s.files.size <= maxFiles) None
    else Some(compactClustered(spark, dir, targetPartitions, clusterCols))
  }

  /** Roll the table BACK to the state of version `v` — as a NEW commit
    * (op `restore`) whose file list is exactly `v`'s, so history stays
    * append-only and the rollback is itself time-travelable and
    * auditable (the Delta `RESTORE TABLE ... VERSION AS OF` shape). The
    * operational verb for "that ingest was bad, un-publish it": cost is
    * one version file, zero data movement — every file of `v` is still
    * on disk until [[vacuum]], which is also why a restore past vacuumed
    * history fails loudly listing what is missing.
    *
    * The batch LEDGER is NOT rewound: ids committed by the undone
    * versions stay recorded, so a late replay of an un-published batch
    * remains a no-op — restore un-publishes DATA, it does not re-open
    * the exactly-once window (re-applying the batch is an explicit new
    * upsert, not a replay). Incremental consumers see the restore as a
    * data commit whose added files are the restored state's — the
    * post-image contract [[changesBetween]] already documents. The
    * committed SCHEMA stays additive: a column added after `v` is not
    * un-evolved (schemas only grow), restored rows simply read it as
    * null — the same rule every other commit follows. */
  def restore(spark: SparkSession, dir: String, v: Long): Snapshot = {
    val cur = mustLatest(spark, dir)
    require(v < cur.version,
      s"restore target $v is not older than the current ${cur.version}")
    val old = snapshotAt(spark, dir, v)
    val f = hadoopFs(spark, dir)
    val missing = old.files.filterNot(r => f.exists(new Path(dataDir(dir), r)))
    require(missing.isEmpty,
      s"cannot restore $dir to version $v — vacuum reclaimed " +
        s"${missing.size} of its files (e.g. ${missing.take(3).mkString(", ")})")
    val missingDv = old.dvs.filterNot(r =>
      f.exists(new Path(logFile(dir, r))))
    require(missingDv.isEmpty,
      s"cannot restore $dir to version $v — vacuum reclaimed its " +
        s"deletion vector(s) ${missingDv.mkString(", ")}")
    val readded = old.files.filterNot(cur.files.toSet)
    LakeCommit.run(spark, dir, "restore", Abort, from = Some(cur)) { s =>
      Some(LakeCommit.build(spark, dir, s, old.files, readded, "restore",
        old.schemaJson, dvsNew = Some(old.dvs)))
    }
  }

  /** `REPLACE TABLE ... AS SELECT`'s storage verb: ONE atomic commit
    * that swaps the ENTIRE logical table — rows, schema (EXACT, no
    * additive merge), hive layout — while the pre-replace versions
    * stay time-travelable. Rename/drop bookkeeping resets (the new
    * files carry the new schema's own column names), deletion vectors
    * clear, and per-column stats/sketch/bloom/theta declarations
    * survive only where the new schema still carries the column. Like
    * [[overwrite]] it never rebases: losing the version race to any
    * concurrent commit aborts loudly (the replacement was derived
    * against a stale world); staged files are vacuum garbage. */
  def replaceTable(spark: SparkSession, replacement: DataFrame,
      dir: String, partitionCols: Seq[String] = Nil): Snapshot = {
    val s = mustLatest(spark, dir)
    val newRels = stageWrite(spark, dir, replacement, partitionCols)
    LakeCommit.run(spark, dir, "replaceTable", Abort, from = Some(s)) { s =>
      Some(LakeCommit.build(spark, dir, s, newRels, newRels, "overwrite",
        Some(replacement.schema.json), dvsNew = Some(Nil),
        schemaReplace = true))
    }
  }

  /** Fork a ZERO-COPY branch of the table at `atVersion` (default: the
    * latest version). One version file is written — a copy of the fork
    * snapshot under `_graft_log/branches/<name>/` — and NO data moves:
    * the branch references the table's files in place, and [[vacuum]]
    * counts every branch's references as live. From here the branch is
    * a full table at target `<dir>@<name>` ([[branchTarget]]): every
    * read, write, DML, maintenance, and streaming verb works on it,
    * committing through the branch's own CAS domain — writers on
    * different branches never conflict. Pre-fork time travel resolves
    * against the main log ([[snapshotAt]]). The experiment-on-100 TB
    * shape: fork, mutate, validate, then [[fastForward]] or
    * [[dropBranch]] — all metadata-plane.
    *
    * The seed carries `graft.branch.fork` (the fork version) and
    * `graft.branch.name` in its props; [[fastForward]] keys on the
    * former. Creation is CAS-atomic: two racing creators of the same
    * name resolve to one winner. Branches fork from the MAIN line only
    * (no branches of branches — a linear audit story). */
  def createBranch(spark: SparkSession, dir: String, name: String,
      atVersion: Option[Long] = None): Snapshot = {
    require(branchOf(dir).isEmpty,
      s"createBranch forks the main line — got branch target $dir " +
        "(branches of branches are not supported)")
    require(BranchName.matches(name),
      s"branch name '$name' — use letters, digits, '_', '-', '.'")
    val f = hadoopFs(spark, dir)
    val src = atVersion.map(snapshotAt(spark, dir, _))
      .getOrElse(mustLatest(spark, dir))
    val target = branchTarget(dir, name)
    // creation is serialized through ONE CAS on a fixed marker file —
    // the seed's own filename carries the fork VERSION, so two racing
    // creators reading different forks would CAS different paths and
    // both "win", leaving two seeds; the marker is the single commit
    // point regardless of fork. A creator that crashed between marker
    // and seed leaves a seedless branch: recover with dropBranch, then
    // recreate.
    val marker = new Path(logPath(target), "_branch")
    // a branch exists if it has the marker OR any seed (a log made by a
    // pre-marker code version has seeds only — it must not silently
    // gain a second, foreign seed)
    require(versionNumbers(f, target).isEmpty,
      s"branch '$name' of $dir already exists")
    require(!f.exists(marker),
      s"branch '$name' of $dir already exists (seedless — a creator " +
        "crashed mid-create; dropBranch then recreate)")
    f.mkdirs(logPath(target))
    try casWrite(f, marker, s"""{"name":"$name","fork":${src.version}}""")
    catch { case e: CommitConflict =>
      throw new IllegalStateException(
        s"branch '$name' of $dir already exists (${e.getMessage})")
    }
    val seed = src.copy(op = "branch",
      props = src.props +
        ("graft.branch.name" -> name,
          "graft.branch.fork" -> src.version.toString),
      committedAt = System.currentTimeMillis())
    try casWrite(f, versionFile(target, src.version), render(seed))
    catch { case e: CommitConflict =>
      // a legacy (pre-marker) creator raced us to the same seed path:
      // our marker must not wedge future creates
      f.delete(marker, false)
      throw new IllegalStateException(
        s"branch '$name' of $dir already exists (${e.getMessage})")
    }
    // fork-vs-vacuum race check, AFTER the seed CAS: a concurrent
    // main-line vacuum whose cross-log census ran before the seed
    // landed cannot see the new branch's references, so forking an
    // old version racing such a vacuum can seed a branch whose files
    // are reclaimed moments later. Vacuum deletes dropped VERSION
    // files last — a fork version file missing here proves the
    // reclaim happened (fail loudly, removing the dead branch); one
    // still present shrinks the remaining window to the vacuum's
    // census→delete span. The operating discipline that CLOSES it:
    // fork only versions inside the retention window (keepLast), the
    // same rule that protects any time-travel read.
    if (!f.exists(versionFile(dir, src.version))) {
      f.delete(versionFile(target, src.version), false)
      f.delete(marker, false)
      throw new IllegalStateException(
        s"createBranch '$name' of $dir: fork version ${src.version} " +
          "was vacuumed concurrently — the seed's file references are " +
          "not safe; fork a version inside the retention window")
    }
    seed
  }

  /** Branch names of the table with each branch's head version —
    * metadata-plane (one directory listing + one version listing per
    * branch). */
  def listBranches(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val d = dataDir(dir)
    val f = hadoopFs(spark, d)
    val root = new Path(d, s"$LogDirName/branches")
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
      .flatMap(b => versionNumbers(f, s"$d@$b").lastOption.map((b, _)))
  }

  /** PER-BRANCH RETENTION REPORT — the operational answer to "which
    * stale branch is pinning my storage": for every branch, its head
    * version, head AGE (ms since the head committed — a month-old head
    * is an abandoned experiment), and the files + bytes SOLELY
    * retained by that branch (referenced by some version of its log
    * and by no other log over the data directory — exactly the bytes
    * [[dropBranch]] + [[vacuum]] would reclaim). Vacuum itself unions
    * every log's references by design, so nothing else ever surfaces
    * this; without the report a table with hundreds of dead branches
    * silently pays their retention on every vacuum. Metadata-plane:
    * version-file reads plus one FileStatus per solely-retained file
    * (churn-sized — shared files are never stat'ed). SQL surface:
    * `SELECT * FROM graft_lake_branch_report('dir')`. */
  def branchRetentionReport(spark: SparkSession, dir: String): DataFrame = {
    val d = dataDir(dir)
    val f = hadoopFs(spark, d)
    val now = System.currentTimeMillis()
    def snaps(t: String): Seq[Snapshot] =
      versionNumbers(f, t).flatMap { v =>
        try Some(parse(readText(f, versionFile(t, v))))
        catch { case _: Exception => None }
      }
    val branches = listBranches(spark, d)
    val branchSnaps = branches.map { case (b, _) => b -> snaps(s"$d@$b") }
    // per-log DISTINCT reference sets — data files and LOG ARTIFACTS
    // (manifests + deletion vectors) both count: a MoR-heavy branch's
    // retention can be mostly vectors, and reporting it as free would
    // rank the worst offender last
    def dataRefs(ss: Seq[Snapshot]) = ss.flatMap(_.files).toSet
    def logRefs(ss: Seq[Snapshot]) =
      ss.flatMap(x => x.manifest.toSeq ++ x.dvs).toSet
    val allSets = (("", snaps(d)) +: branchSnaps).map { case (b, ss) =>
      b -> (dataRefs(ss), logRefs(ss)) }
    // GLOBAL reference counts in one pass (O(total refs)) — not a
    // per-branch union of every other log, which is quadratic in the
    // branch count on exactly the hundreds-of-stale-branches table
    // this report exists for
    def counts(pick: ((Set[String], Set[String])) => Set[String]) = {
      val m = scala.collection.mutable.Map.empty[String, Int]
      allSets.foreach { case (_, sets) =>
        pick(sets).foreach(r => m.update(r, m.getOrElse(r, 0) + 1)) }
      m
    }
    val dataCount = counts(_._1)
    val logCount = counts(_._2)
    def statLen(p: Path): Long =
      try f.getFileStatus(p).getLen catch { case _: Exception => 0L }
    // log artifacts (manifests, deletion vectors) are parquet
    // DIRECTORIES — a plain file stat returns the inode size (0 on an
    // object store), not the content; getContentSummary sums the tree
    // (and equals getLen for a plain file)
    def contentLen(p: Path): Long =
      try f.getContentSummary(p).getLength catch { case _: Exception => 0L }
    val rows = branchSnaps.map { case (b, ss) =>
      val soleData = dataRefs(ss).filter(dataCount(_) == 1).toSeq.sorted
      val soleLog = logRefs(ss).filter(logCount(_) == 1).toSeq.sorted
      val head = ss.maxByOption(_.version)
      (b,
        head.map(_.version).getOrElse(-1L),
        head.map(h => if (h.committedAt > 0L) now - h.committedAt
        else -1L).getOrElse(-1L),
        soleData.size.toLong,
        soleData.map(r => statLen(new Path(d, r))).sum,
        soleLog.size.toLong,
        soleLog.map(r => contentLen(new Path(logFile(d, r)))).sum,
        // a fenced head means a merge is (or died) mid-flight — the
        // operator triaging stale branches needs to see it here, not
        // discover it from a failed write ([[FenceProp]]/[[unfenceBranch]])
        head.exists(_.props.contains(FenceProp)))
    }
    import spark.implicits._
    rows.toDF("branch", "head_version", "head_age_ms",
      "sole_retained_files", "sole_retained_bytes",
      "sole_log_files", "sole_log_bytes", "fenced")
      .orderBy((col("sole_retained_bytes") + col("sole_log_bytes")).desc,
        col("branch"))
  }

  /** Delete branch `name`'s commit log. Data files only the branch
    * referenced become unreferenced — reclaimed by the next [[vacuum]]
    * past the age fence, never here (a concurrent reader may still be
    * scanning them). Refuses (without `force`) while any OTHER log
    * still references a log artifact minted on this branch — possible
    * only through a [[restore]] to a pre-rehome fast-forward, but
    * cheap to rule out. Not safe under a writer actively committing to
    * the branch (its next CAS would resurrect a partial log) — stop
    * branch writers first, the same discipline as dropping any table. */
  def dropBranch(spark: SparkSession, dir: String, name: String,
      force: Boolean = false): Unit = {
    val d = dataDir(dir)
    val target = branchTarget(d, name)
    val f = hadoopFs(spark, d)
    // a marker without a seed is a crashed creator's residue — drop
    // must accept it, it IS the recovery path
    require(versionNumbers(f, target).nonEmpty ||
      f.exists(new Path(logPath(target), "_branch")),
      s"branch '$name' of $d does not exist")
    if (!force) {
      val pfx = s"branches/$name/"
      val otherTargets = d +: listBranches(spark, d)
        .map(_._1).filterNot(_ == name).map(b => s"$d@$b")
      val referencing = otherTargets.filter(t =>
        versionNumbers(f, t).exists { v =>
          try {
            val s = parse(readText(f, versionFile(t, v)))
            s.manifest.exists(_.startsWith(pfx)) ||
              s.dvs.exists(_.startsWith(pfx))
          } catch { case _: Exception => false }
        })
      require(referencing.isEmpty,
        s"cannot drop branch '$name' of $d — its log artifacts are " +
          s"still referenced by: ${referencing.mkString(", ")} " +
          "(vacuum those histories first, or force)")
    }
    f.delete(logPath(target), true)
    ()
  }

  /** Adopt branch `name`'s head as the table's next version — the
    * publish step of a branch-audit-merge workflow, legal only when
    * the main line has NOT advanced past the fork point (a true
    * fast-forward; divergent histories fail loudly — there is no
    * automatic merge of two edit streams). One version file commits
    * the adoption; the branch's data files are already in place.
    * Branch-minted manifests and deletion vectors are REHOMED first
    * (copied into the main log root — kilobyte-scale metadata) so a
    * later [[dropBranch]] can never orphan the adopted snapshot. The
    * branch itself is left intact; drop it when done. */
  def fastForward(spark: SparkSession, dir: String,
      name: String): Snapshot = {
    val d = dataDir(dir)
    val f = hadoopFs(spark, d)
    val head = branchHead(spark, d, name)
    val fork = head.props.get("graft.branch.fork").map(_.toLong)
      .getOrElse(throw new IllegalStateException(
        s"branch '$name' of $d carries no fork marker — not a " +
          "createBranch-made branch"))
    val cur = mustLatest(spark, d)
    if (cur.version != fork) throw new DivergedException(
      s"fast-forward of branch '$name' into $d: the main line advanced " +
        s"past the fork (forked at $fork, now at ${cur.version}) — " +
        "histories diverged; re-apply the branch's changes against the " +
        "current table instead")
    val pfx = s"branches/$name/"
    def rehome(rel: String): String =
      if (!rel.startsWith(pfx)) rel
      else {
        // keep the manifest-/dv- name prefix: vacuum's unreferenced-
        // residue sweep keys on it, so a crashed fast-forward's copies
        // age out like any other orphaned log artifact
        val plain = rel.substring(pfx.length).replace('/', '-')
          .stripSuffix(".parquet") +
          "-ff-" + java.util.UUID.randomUUID.toString.take(8) + ".parquet"
        org.apache.hadoop.fs.FileUtil.copy(
          f, new Path(logFile(d, rel)), f, new Path(logFile(d, plain)),
          false, spark.sparkContext.hadoopConfiguration)
        plain
      }
    val adopted = head.copy(
      version = cur.version + 1,
      op = "fastForward",
      manifest = head.manifest.map(rehome),
      dvs = head.dvs.map(rehome),
      props = head.props - "graft.branch.name" - "graft.branch.fork" -
        FenceProp,
      committedAt = System.currentTimeMillis())
    try { casWrite(f, versionFile(d, adopted.version), render(adopted));
      adopted }
    catch { case e: CommitConflict =>
      throw new DivergedException(
        s"fast-forward of branch '$name' into $d lost the commit race " +
          s"(${e.getMessage}) — the main line advanced; histories " +
          "diverged, re-apply against the current table")
    }
  }

  /** REBASE UNDER DIVERGENCE: rewrite branch `name`'s head onto the
    * CURRENT main head — the missing half of the fork → validate →
    * promote loop on a live table, where [[fastForward]]'s
    * no-divergence precondition never holds because main always
    * advances. The branch's net post-fork delta (files added, files
    * removed, deletion vectors appended/retired, ledger entries, prop
    * changes, additive schema evolution) is re-applied on top of the
    * main head as ONE new branch commit whose fork marker moves to the
    * main head's version — after which [[fastForward]] is a true
    * fast-forward again ([[mergeBranch]] composes the two with the
    * retry loop).
    *
    * Conflict semantics are the SAME commit-level units concurrent
    * same-branch writers already use ([[LakeCommit.rebase]]): the branch's
    * conflict unit is every partition it REWROTE (removed a file from,
    * or tombstoned rows in via a deletion vector — pure appends touch
    * nothing, exactly SQL INSERT's contract); main's intervening churn
    * is every partition its post-fork commits added to, removed from,
    * or DV'd. A non-empty intersection fails loudly, naming the
    * partitions and the branch commits that touched them — there is no
    * automatic row-level merge of two edit streams to the same
    * partition (re-run the branch's edit against the rebased state
    * instead, the same recovery as any lost upsert race).
    *
    * Schema: one side may rename/drop/re-type (physNames/retired
    * churn) only if the other side's schema is untouched; PURELY
    * ADDITIVE evolution (new columns, safe type widening) merges from
    * both sides via the same lattice every append uses. Declared
    * stats/sketch/bloom/theta columns must match between the two heads
    * (nothing mutates them post-init except table replacement, whose
    * whole-table conflict unit clashes first).
    *
    * Cost is proportional to the BRANCH'S CHURN, never the table: the
    * file-list algebra is metadata-plane, the conflict probe reads
    * only the two sides' new deletion vectors, and the manifest merge
    * filters the main head's manifest (churn-sized In-list) and reuses
    * the branch head's rows for the branch's added files. At 100 TB a
    * rebase of a 1k-file experiment costs 1k manifest rows, not a
    * re-scan.
    *
    * Returns the new branch head. No-op (returns the current head)
    * when main has not advanced — promotion is then [[fastForward]]'s
    * job. Racing writers on the SAME branch are handled by the
    * branch's own CAS domain: losing it throws [[CommitConflict]];
    * [[mergeBranch]] retries. */
  def rebaseBranch(spark: SparkSession, dir: String,
      name: String,
      /** The caller's merge-fence epoch ([[FenceProp]] value). A fenced
        * head accepts only the fence-holder's rebase; a standalone
        * rebase (None) against a fenced head fails loudly like any
        * other branch write. A supplied fence that no longer matches
        * the head (another merge fenced it, or unfenceBranch cleared
        * it) aborts — the caller's merge lost its claim. */
      fence: Option[String] = None): Snapshot = {
    val d = dataDir(dir)
    val f = hadoopFs(spark, d)
    val target = branchTarget(d, name)
    val head = branchHead(spark, d, name)
    val headFence = head.props.get(FenceProp)
    fence match {
      case None => assertUnfenced(head, target)
      case Some(mine) if !headFence.contains(mine) =>
        throw new IllegalStateException(
          s"rebase of branch '$name' of $d: merge fence $mine no " +
            s"longer holds the branch (head carries " +
            s"${headFence.getOrElse("no fence")}) — another merge " +
            "fenced it or unfenceBranch cleared it; re-run the merge")
      case _ => ()
    }
    val fork = head.props.get("graft.branch.fork").map(_.toLong)
      .getOrElse(throw new IllegalStateException(
        s"branch '$name' of $d carries no fork marker — not a " +
          "createBranch-made branch"))
    val cur = mustLatest(spark, d)
    if (cur.version == fork) return head // nothing to rebase over
    require(cur.version > fork,
      s"rebase of branch '$name' of $d: main is at ${cur.version}, " +
        s"behind the recorded fork $fork — a restore rewound main " +
        "past the fork; fastForward or re-fork instead")
    // the fork-point snapshot both deltas diff against — resolved
    // against the MAIN log first: after a prior rebase the fork marker
    // is a MAIN version number, and the branch's own counter can hold
    // the same number for an unrelated branch commit, so resolving
    // through the branch log could silently diff against the wrong
    // snapshot. Main's copy vacuumed → the branch SEED stands in, but
    // only when it genuinely is the fork's content copy (op=branch at
    // exactly this version).
    val forkSnap = {
      val mp = versionFile(d, fork)
      if (f.exists(mp)) parse(readText(f, mp))
      else {
        val bp = versionFile(target, fork)
        val seed =
          if (!f.exists(bp)) None
          else (try Some(parse(readText(f, bp)))
          catch { case _: Exception => None })
            .filter(x => x.op == "branch" &&
              x.props.get("graft.branch.fork").contains(fork.toString))
        seed.getOrElse(throw new IllegalStateException(
          s"rebase of branch '$name' of $d: fork version $fork was " +
            "vacuumed on main and the branch holds no seed copy — " +
            "cannot compute the divergence; re-fork from the current " +
            "head instead"))
      }
    }

    // ---- the branch's net post-fork delta
    val forkFiles = forkSnap.files.toSet
    val headFiles = head.files.toSet
    val bAdded = head.files.filterNot(forkFiles)
    val bRemoved = forkSnap.files.filterNot(headFiles)
    val forkDvs = forkSnap.dvs.toSet
    val headDvs = head.dvs.toSet
    val bDvNew = head.dvs.filterNot(forkDvs)
    val bDvDropped = forkSnap.dvs.filterNot(headDvs).toSet
    val bTouched = bRemoved.map(partOf).toSet ++
      dvTouchedParts(spark, target, bDvNew)

    // ---- main's intervening churn since the fork
    val curFiles = cur.files.toSet
    val mAdded = cur.files.filterNot(forkFiles)
    val mRemoved = forkSnap.files.filterNot(curFiles)
    val mDvNew = cur.dvs.filterNot(forkDvs)
    val mTouched = (mAdded ++ mRemoved).map(partOf).toSet ++
      dvTouchedParts(spark, d, mDvNew)

    val clash = bTouched.intersect(mTouched)
    if (clash.nonEmpty) {
      // attribute the clash to the branch commits that rewrote those
      // partitions — the loud message names what to re-run
      val guilty = versionNumbers(f, target).filter(_ > fork).sorted
        .flatMap { v =>
          try {
            val s = parse(readText(f, versionFile(target, v)))
            val p = parse(readText(f, versionFile(target,
              versionNumbers(f, target).filter(_ < v).max)))
            val touched = p.files.filterNot(s.files.toSet).map(partOf).toSet
            val hits = touched.intersect(clash)
            if (hits.nonEmpty) Some(s"v$v(${s.op}: ${
              hits.toSeq.sorted.mkString("|")})")
            else None
          } catch { case _: Exception => None }
        }
      throw new IllegalStateException(
        s"rebase of branch '$name' of $d: both sides rewrote " +
          s"partition(s) ${clash.toSeq.sorted.mkString(", ")} since " +
          s"fork $fork — no automatic merge of two edit streams; " +
          s"branch commits in conflict: ${
            if (guilty.nonEmpty) guilty.mkString(", ")
            else "(deletion-vector commits)"} — re-apply those edits " +
          "on the rebased branch")
    }
    // with disjoint conflict units every branch-removed file survived
    // main's churn; anything else means the partition model was
    // side-stepped — fail loudly rather than drop a removal
    val lostRemovals = bRemoved.filterNot(curFiles)
    require(lostRemovals.isEmpty,
      s"rebase of branch '$name' of $d: file(s) the branch removed " +
        s"vanished from main outside any rewritten partition: " +
        lostRemovals.take(3).mkString(", "))

    // ---- schema reconciliation
    def mappingChurn(a: Snapshot) =
      a.physNames != forkSnap.physNames || a.retired != forkSnap.retired
    def schemaChanged(a: Snapshot) =
      a.schemaJson != forkSnap.schemaJson || mappingChurn(a)
    require(head.statsCols == cur.statsCols &&
      head.sketchCols == cur.sketchCols &&
      head.bloomCols == cur.bloomCols && head.thetaCols == cur.thetaCols,
      s"rebase of branch '$name' of $d: declared stats/sketch/bloom/" +
        "theta columns diverged between the branch and main — rebase " +
        "cannot merge two manifest layouts")
    if (mappingChurn(head)) require(!schemaChanged(cur),
      s"rebase of branch '$name' of $d: the branch renamed/dropped/" +
        "re-typed columns while main's schema also changed — resolve " +
        "the schema on one side first")
    if (mappingChurn(cur)) require(!schemaChanged(head),
      s"rebase of branch '$name' of $d: main renamed/dropped/re-typed " +
        "columns while the branch's schema also changed — resolve the " +
        "schema on one side first")
    // both sides at most ADDITIVE/WIDENING from here: merge through the
    // same lattice appends use, rejecting a common field whose types
    // diverged incompatibly on the two sides
    val (mergedSchema, mergedPhys, mergedRetired) =
      if (mappingChurn(head)) (head.schemaJson, head.physNames, head.retired)
      else if (mappingChurn(cur)) (cur.schemaJson, cur.physNames, cur.retired)
      else {
        for {
          cj <- cur.schemaJson; hj <- head.schemaJson
        } {
          import org.apache.spark.sql.types.{DataType, StructType}
          val cs = DataType.fromJson(cj).asInstanceOf[StructType]
          val hs = DataType.fromJson(hj).asInstanceOf[StructType]
          cs.fields.foreach { cf =>
            hs.fields.find(_.name == cf.name).foreach { hf =>
              require(cf.dataType == hf.dataType ||
                widens(cf.dataType, hf.dataType) ||
                widens(hf.dataType, cf.dataType),
                s"rebase of branch '$name' of $d: column ${cf.name} " +
                  s"diverged to incompatible types (${cf.dataType} vs " +
                  s"${hf.dataType})")
            }
          }
        }
        (mergeSchemaJson(cur.schemaJson, head.schemaJson),
          cur.physNames, cur.retired)
      }
    // one hive layout per table: a side that replaced the table with a
    // different partitioning clashes above unless the other side never
    // wrote — still guard the mixed-layout snapshot explicitly
    require(bAdded.isEmpty || mAdded.isEmpty ||
      partColsFromRel(bAdded.head) == partColsFromRel(mAdded.head),
      s"rebase of branch '$name' of $d: the two sides wrote different " +
        "hive layouts")

    // ---- props merge
    val bPropsChanged = head.props.filter { case (k, v) =>
      !forkSnap.props.get(k).contains(v) } -
      "graft.branch.name" - "graft.branch.fork" - FenceProp
    val bPropsRemoved = forkSnap.props.keySet -- head.props.keySet - FenceProp
    // a writer's txn entry is a high-water mark: the merged table has
    // committed everything either side committed, so it keeps the
    // higher version — the branch's older entry must never lower
    // main's (main's later batches would re-apply on replay)
    val txnMax = (cur.props.keySet ++ head.props.keySet)
      .filter(_.startsWith(TxnPrefix)).map(k => k ->
        (cur.props.get(k) ++ head.props.get(k)).map(_.toLong).max.toString)
    // the merge's fence (if any) rides the rebase commit unchanged —
    // only the merge's final sync commit clears it; it is excluded from
    // the user-prop merge above so fastForward never adopts it onto main
    val mergedProps = (cur.props -- bPropsRemoved) ++ bPropsChanged ++
      txnMax + ("graft.branch.name" -> name,
        "graft.branch.fork" -> cur.version.toString) ++
      headFence.map(FenceProp -> _)

    // ---- manifest merge: main head's rows minus the branch's removed
    // files, plus the branch head's rows for its added files (falling
    // back to a fresh churn-sized stats scan when the branch head
    // carries no manifest) — never a table-sized recompute.
    // (.distinct: a file can be in BOTH cur and bAdded when a prior
    // merge adopted part of the branch's delta)
    val mergedFiles = (cur.files.filterNot(bRemoved.toSet) ++ bAdded)
      .distinct.sorted
    val newVersion = head.version + 1
    val manifestRel =
      if (cur.statsCols.isEmpty && cur.sketchCols.isEmpty &&
        cur.bloomCols.isEmpty && cur.thetaCols.isEmpty) None
      else {
        val kept = cur.manifest.map { m =>
          val df = spark.read.parquet(logFile(d, m))
          if (bRemoved.isEmpty) df
          else df.filter(!col("file").isInCollection(bRemoved))
        }
        // only files genuinely NEW to main get fresh rows — a file in
        // both sides (a prior merge adopted it) already has its row in
        // the kept slice, and a duplicate would double-count stats
        val bNewToMain = bAdded.filterNot(curFiles)
        val fresh =
          if (bNewToMain.isEmpty) None
          else head.manifest.map { m =>
            spark.read.parquet(logFile(target, m))
              .filter(col("file").isInCollection(bNewToMain))
          }.orElse(Some(relStats(spark, target, bNewToMain, cur.statsCols,
            cur.sketchCols, cur.bloomCols, cur.bloomExpect,
            cur.thetaCols, cur.thetaLgK)))
        val parts = kept.toSeq ++ fresh
        if (parts.isEmpty) None
        else {
          val tag = java.util.UUID.randomUUID.toString.take(8)
          val rel = relPrefix(target) +
            f"manifest-v$newVersion%020d-$tag.parquet"
          parts.reduce(_ unionByName _).coalesce(1)
            .write.mode(SaveMode.ErrorIfExists)
            .parquet(logFile(target, rel))
          Some(rel)
        }
      }

    val rebased = Snapshot(
      version = newVersion,
      files = mergedFiles,
      statsCols = cur.statsCols,
      manifest = manifestRel,
      op = "rebase",
      sketchCols = cur.sketchCols,
      schemaJson = mergedSchema,
      bloomCols = cur.bloomCols,
      bloomExpect = cur.bloomExpect,
      props = mergedProps,
      partCols = mergedFiles.headOption.map(partColsFromRel)
        .getOrElse(cur.partCols),
      committedAt = System.currentTimeMillis(),
      thetaCols = cur.thetaCols,
      thetaLgK = cur.thetaLgK,
      dvs = (cur.dvs.filterNot(bDvDropped) ++ bDvNew).distinct,
      physNames = mergedPhys,
      retired = mergedRetired)
    casWrite(f, versionFile(target, rebased.version), render(rebased))
    rebased
  }

  /** MERGE a branch into main on a LIVE table: [[rebaseBranch]] onto
    * the current head, then [[fastForward]] — retrying the pair when
    * main advances between the two (each retry re-rebases onto the new
    * head, so the loop converges unless main out-commits the caller
    * indefinitely). True partition conflicts and schema divergence
    * fail loudly on the first rebase, before anything publishes.
    *
    * The branch survives the merge and stays USABLE: a final branch
    * SYNC commit re-points its head at the adopted main version
    * (content-identical, fork marker = the adopted version), so later
    * branch work diverges from the merge point instead of re-playing
    * the already-adopted delta — without it the next merge would see
    * its own earlier delta as a conflict.
    *
    * RACING BRANCH WRITERS ARE FENCED, not trusted to stop: the merge
    * first commits a [[FenceProp]] stamp through the branch's own CAS
    * domain (so it serializes against every in-flight write — a write
    * that lands first is simply part of the merged delta; one that
    * lands after fails loudly at ITS commit with re-run guidance).
    * From the fence to the sync commit the merge is the branch's sole
    * writer, so the sync CAS cannot lose and the old silent
    * stale-fork-marker poison (next merge false-conflicting against
    * its own adoption) is impossible by construction. The fence clears
    * with the sync commit on success, and on any pre-adoption failure
    * (true partition conflict, retries exhausted); a merge that DIES
    * between fence and sync leaves the branch fenced. Recovery is
    * tiered: if the adoption ALREADY landed on main (death between
    * fastForward and sync), simply RE-RUN mergeBranch — it detects the
    * landed adoption ([[adoptionOf]], content-complete so a violated
    * branch never qualifies) and finishes the sync itself; only a
    * pre-adoption death needs [[unfenceBranch]] (the error message on
    * the next write names it). [[dropBranch]] when the branch is
    * done. */
  def mergeBranch(spark: SparkSession, dir: String, name: String,
      maxRetries: Int = 5): Snapshot = {
    val d = dataDir(dir)
    val target = branchTarget(d, name)
    val f = hadoopFs(spark, d)
    // SELF-HEALING RECOVERY: a previous merge that died between its
    // adoption and its branch sync commit left the branch fenced with
    // main ALREADY holding the fastForward — finish the sync here and
    // return, so the two-step manual recovery (unfence, then drop +
    // re-fork) becomes "re-run the same CALL". Detection
    // ([[adoptionOf]]) is content-complete, so a branch that was
    // written THROUGH the fence by a stale-code writer never matches —
    // that path stays loud. No new branch work can be waiting (the
    // fence blocked every write), so returning the adoption is exactly
    // what the dead merge would have returned.
    // the branch head that completes a merge of `adopted`: unfenced,
    // fork marker at the adoption, the adoption's exact files
    def syncs(adopted: Snapshot)(h: Snapshot): Boolean =
      !h.props.contains(FenceProp) &&
        h.props.get("graft.branch.fork").contains(adopted.version.toString) &&
        h.files.toSet == adopted.files.toSet
    def syncOf(adopted: Snapshot, v: Long): Snapshot = adopted.copy(
      version = v,
      op = "rebase",
      props = adopted.props +
        ("graft.branch.name" -> name,
          "graft.branch.fork" -> adopted.version.toString),
      committedAt = System.currentTimeMillis())
    val healed = latest(spark, target).filter(_.props.contains(FenceProp))
      .flatMap(head => adoptionOf(spark, d, head).filter { adopted =>
        // direct CAS: a lost heal is not retried — if a rival healer
        // landed the identical sync the merge IS complete (converge);
        // anything else falls through to the normal path, where the
        // fence stays loud
        val sync = syncOf(adopted, head.version + 1)
        try {
          casWrite(f, versionFile(target, sync.version), render(sync))
          logInfo(s"mergeBranch '$name' into $d: recovered a merge that " +
            s"died after adopting into main as v${adopted.version} — sync " +
            "commit completed, branch usable, no re-fork needed")
          true
        } catch { case _: CommitConflict =>
          latest(spark, target).exists(syncs(adopted))
        }
      })
    if (healed.isDefined) return healed.get
    val epoch =
      java.util.UUID.randomUUID.toString.take(8) +
        "@" + System.currentTimeMillis
    fenceBranch(spark, d, name, epoch)
    var adoptedOpt: Option[Snapshot] = None
    try {
      // retry-able: main advanced between the rebase and the adopt
      // (typed DivergedException from fastForward's precondition or
      // its CAS), or the rebase commit raced. Real conflicts surface
      // as the rebase's own loud IllegalStateException, not these.
      LakeCommit.retrying(s"mergeBranch '$name' into $d", maxRetries) {
        val rebased = rebaseBranch(spark, d, name, Some(epoch))
        val adopted = fastForward(spark, d, name)
        adoptedOpt = Some(adopted)
        // cross-process fault-injection point: the storm's
        // fence-violation leg holds the merge here — adopted into
        // main, sync not yet committed — so a foreign process can
        // demonstrably land a stale-code write through the fence
        // and this merge's sync CAS must fail LOUDLY below.
        // Production runs never set the variable.
        sys.env.get("GRAFT_MERGE_SYNC_HOLD_MS")
          .foreach(ms => Thread.sleep(ms.toLong))
        val sync = syncOf(adopted, rebased.version + 1)
        // direct CAS: under the fence this CAS has no legal competitor;
        // a loss means the fence was violated (stale-code writer) or
        // cleared (concurrent unfenceBranch) — surface it loudly, the
        // branch must be re-forked, main's adoption stands. ONE benign
        // exception: a concurrent mergeBranch judged THIS merge dead
        // (post-adoption fence + adoption visible) and self-healed
        // with the content-identical sync — converge.
        try casWrite(f, versionFile(target, sync.version), render(sync))
        catch { case e: CommitConflict =>
          if (!latest(spark, target).exists(h =>
              h.version == sync.version && syncs(adopted)(h)))
            throw new IllegalStateException(
              s"mergeBranch '$name' into $d: ADOPTED into main as " +
                s"v${adopted.version}, but the fenced sync commit lost " +
                s"its CAS (${e.getMessage}) — something committed to " +
                "the branch through the fence; the branch's fork " +
                "marker is stale and unsafe: dropBranch and re-fork " +
                "before further branch work. Main is correct.")
        }
        adopted
      }
    } catch { case e: Throwable =>
      // pre-adoption failure: release the fence so the branch stays
      // writable (the loud conflict IS the outcome; locking the branch
      // on top of it would punish recovery). ONLY OUR OWN fence,
      // enforced INSIDE the clear's CAS loop: a check-then-clear here
      // had a TOCTOU window (operator unfences the 'dead' merge, a
      // rival re-fences, this cleanup strips the rival's LIVE fence) —
      // the epoch now rides every CAS retry, so a fence that stops
      // being ours mid-loop is left alone. Post-adoption failures keep
      // the fence — the branch is stale-marked and unsafe anyway.
      if (adoptedOpt.isEmpty) {
        try unfenceLoop(spark, d, name, onlyEpoch = Some(epoch))
        catch { case u: Exception => e.addSuppressed(u) }
      }
      throw e
    }
  }

  /** The main-line adoption of a fenced branch head, if it ALREADY
    * landed: a merge that died between its [[fastForward]] and its
    * branch sync commit leaves main's version fork+1 as a fastForward
    * whose content IS the branch head — same file set, and props equal
    * net of the branch markers and the fence (exactly what fastForward
    * strips). Detection is deliberately content-COMPLETE: a branch
    * head written THROUGH the fence by a stale-code writer (different
    * op, extra props, different files) never matches, so
    * [[mergeBranch]]'s self-heal can never legitimize a violated
    * branch. The head may be the rebase commit (normal path) or the
    * fence stamp itself (main never advanced, rebase was a no-op). */
  private def adoptionOf(spark: SparkSession, d: String,
      head: Snapshot): Option[Snapshot] =
    head.props.get("graft.branch.fork").map(_.toLong).flatMap { fork =>
      (try Some(snapshotAt(spark, d, fork + 1))
      catch { case _: Exception => None }).filter { c =>
        c.op == "fastForward" &&
          (head.op == "rebase" || head.op == "fence") &&
          c.files.toSet == head.files.toSet &&
          c.props == head.props - "graft.branch.name" -
            "graft.branch.fork" - FenceProp
      }
    }

  /** Stamp [[FenceProp]] onto branch `name`'s head as one
    * content-identical commit through the branch's own CAS domain —
    * [[mergeBranch]]'s claim step. CAS losses are racing branch writers
    * landing ahead of the fence (their deltas become part of the merged
    * delta); retry on top of them. A head already fenced by ANOTHER
    * epoch fails loudly — one merge at a time. */
  private[graft] def fenceBranch(spark: SparkSession, dir: String,
      name: String, epoch: String): Snapshot = {
    val d = dataDir(dir)
    // another merge in flight → loud (the protocol's fence check)
    LakeCommit.run(spark, branchTarget(d, name), "fence", Rederive,
      from = Some(branchHead(spark, d, name)), maxAttempts = 16) { head =>
      Some(bump(head, "fence").copy(props = head.props + (FenceProp -> epoch)))
    }
  }

  /** The head of branch `name` of data dir `d`; fails loudly on an
    * unknown branch. */
  private def branchHead(spark: SparkSession, d: String,
      name: String): Snapshot =
    latest(spark, branchTarget(d, name)).getOrElse(
      throw new IllegalArgumentException(
        s"branch '$name' of $d does not exist"))

  /** Clear a crashed merge's [[FenceProp]] from branch `name`'s head —
    * the documented recovery when a [[mergeBranch]] died between its
    * fence and its sync commit and the branch now rejects every write.
    * A no-op on an unfenced branch. Do NOT run this against a LIVE
    * merge: the merge's sync commit would lose its CAS protection and
    * fail loudly (main's adoption stands; the branch then needs a
    * re-fork). */
  def unfenceBranch(spark: SparkSession, dir: String,
      name: String): Snapshot =
    unfenceLoop(spark, dir, name, onlyEpoch = None)

  /** The unfence CAS loop. With `onlyEpoch`, the clear lands only
    * while the head's fence still equals that epoch AT EACH RETRY —
    * [[mergeBranch]]'s failure-path cleanup uses this so it can never
    * strip a RIVAL merge's live fence (the check is part of the CAS
    * loop, not a one-shot probe ahead of it). */
  private def unfenceLoop(spark: SparkSession, dir: String,
      name: String, onlyEpoch: Option[String]): Snapshot = {
    val d = dataDir(dir)
    LakeCommit.run(spark, branchTarget(d, name), "unfenceBranch", Rederive,
      from = Some(branchHead(spark, d, name)), fenced = false) { head =>
      head.props.get(FenceProp) match {
        case None => None
        // the fence is no longer ours — leave it alone
        case Some(e) if onlyEpoch.exists(_ != e) => None
        case _ =>
          Some(bump(head, "unfence").copy(props = head.props - FenceProp))
      }
    }
  }

  /** STORM-RITUAL ONLY ([[graft.MultiProcStorm]]'s violator role): a
    * props-tweak commit that deliberately SKIPS [[assertUnfenced]] —
    * simulating a stale-code writer predating the fence, the one
    * writer class the fence cannot stop at ITS commit. The merge's
    * sync CAS is the designed backstop: it must then lose and fail
    * loudly with the re-fork guidance, which the storm's
    * fence-violation leg asserts end-to-end across real process
    * boundaries. Never call from production paths — every real verb
    * goes through [[LakeCommit.run]] or a named direct-CAS site. */
  private[graft] def commitStaleBypassingFence(spark: SparkSession,
      dir: String, key: String, value: String): Snapshot = {
    val head = latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no commit log"))
    val stale = bump(head, "stale-write").copy(
      props = head.props + (key -> value))
    // direct CAS: this writer must skip the protocol's fence check
    casWrite(hadoopFs(spark, dir), versionFile(dir, stale.version),
      render(stale))
    stale
  }

  /** DEEP CLONE: materialize `srcDir` (or its branch — any readable
    * target) at `atVersion` (default: latest) as a fully INDEPENDENT
    * table at `dstDir`. Data files are copied byte for byte by a
    * DISTRIBUTED job (one task per file — no decode/re-encode, so
    * layout, compression, and page stats survive exactly), preserving
    * their dir-relative paths; the snapshot's manifest and deletion
    * vectors copy with them (rehomed to plain rels), so zone-map
    * pruning and MoR deletes serve immediately on the clone. Everything
    * lands in a `_`-prefixed staging sibling and ONE rename publishes
    * the finished table — a crash leaves no half-table, just aged-out
    * `_` garbage. Where a [[createBranch]] shares storage under one
    * retention domain, a clone is sovereign: vacuum, writers, and
    * schema evolution on either side never interact — the
    * promote-the-experiment / backup-at-version verb. The clone's
    * clone carries no `graft.txn.*` entry (it is a new table; a
    * streaming writer re-pointed at it must use a fresh checkpoint —
    * carrying the source's replay identities would silently swallow
    * its first epochs), and provenance rides the props
    * (`graft.clone.source/.version`). */
  def cloneTable(spark: SparkSession, srcDir: String, dstDir: String,
      atVersion: Option[Long] = None): Snapshot = {
    require(branchOf(dstDir).isEmpty,
      s"clone target $dstDir is a branch target — clones are standalone " +
        "tables; use createBranch for shared-storage forks")
    val s = atVersion.map(snapshotAt(spark, srcDir, _))
      .getOrElse(latest(spark, srcDir).getOrElse(throw
        new IllegalStateException(s"$srcDir has no commit log")))
    val sd = dataDir(srcDir)
    val dst = new Path(dstDir)
    val f = hadoopFs(spark, dstDir)
    require(!f.exists(dst),
      s"clone target $dstDir already exists")
    val staging = new Path(dst.getParent,
      s"_staging_clone_${java.util.UUID.randomUUID.toString.take(8)}")
    try {
      // distributed byte copy of the data files (the 100 TB part)
      val hconf = spark.sparkContext.broadcast(
        new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
      val (sdS, stS) = (sd, staging.toString)
      // task count scales with the cluster (4× slots keeps stragglers
      // from serializing the tail), bounded by the file count
      val n = math.max(1, math.min(s.files.size,
        math.max(spark.sparkContext.defaultParallelism * 4, 64)))
      spark.sparkContext.parallelize(s.files, n).foreach { rel =>
        val conf = hconf.value.value
        val from = new Path(sdS, rel)
        val to = new Path(stS, rel)
        org.apache.hadoop.fs.FileUtil.copy(
          from.getFileSystem(conf), from, to.getFileSystem(conf), to,
          false, conf)
        ()
      }
      // metadata artifacts: kilobyte-scale, driver-side, rehomed to
      // plain rels (the source snapshot may be a branch's). The rehome
      // keeps the `manifest-`/`dv-` NAME HEAD (the basename — unique by
      // its version+UUID tag) rather than flattening the branch prefix
      // into it: vacuum's unreferenced-residue sweep keys on that
      // prefix, the same convention fastForward's rehome preserves
      def rehome(rel: String): String = {
        val plain = rel.substring(rel.lastIndexOf('/') + 1)
        val from = new Path(logFile(srcDir, rel))
        org.apache.hadoop.fs.FileUtil.copy(
          hadoopFs(spark, srcDir), from,
          f, new Path(s"$stS/$LogDirName/$plain"),
          false, spark.sparkContext.hadoopConfiguration)
        plain
      }
      val snap = s.copy(
        version = 1L,
        manifest = s.manifest.map(rehome),
        dvs = s.dvs.map(rehome),
        op = "clone",
        // the writers' txn entries reset: a clone is a new table for
        // exactly-once purposes — carrying graft.txn.* would make a
        // re-pointed writer's replayed versions silent no-ops, the
        // exact failure a fresh table prevents
        props = s.props.view
          .filterKeys(k => !k.startsWith(TxnPrefix) &&
            k != "graft.branch.name" && k != "graft.branch.fork" &&
            k != FenceProp).toMap +
          ("graft.clone.source" -> srcDir,
            "graft.clone.version" -> s.version.toString),
        committedAt = System.currentTimeMillis())
      f.mkdirs(new Path(staging, LogDirName))
      casWrite(f, versionFile(staging.toString, 1L), render(snap))
      f.mkdirs(dst.getParent)
      // one atomic publish; Hadoop's local rename NESTS the source
      // under an existing target instead of failing — if a racing
      // creator won the name between the check and the rename, detect
      // the nesting, remove it, and report the race (the CTAS shape)
      val nested = new Path(dst, staging.getName)
      if (!f.rename(staging, dst) || f.exists(nested)) {
        f.delete(staging, true)
        f.delete(nested, true)
        throw new IllegalStateException(
          s"clone of $srcDir lost the name race on $dstDir — another " +
            "creator won; staged copy removed")
      }
      snap
    } catch {
      case e: Throwable =>
        try f.delete(staging, true) catch { case _: Exception => () }
        throw e
    }
  }

  /** Copy-on-write DELETE of every row matching `cond`, at FILE
    * granularity — the missing verb between upsert (keyed replace) and
    * compact (pure rewrite):
    *
    *  1. ONE scan finds the files that contain matching rows (a
    *     per-file any() aggregate — metadata-sized result; files with no
    *     match are carried over untouched, bit for bit);
    *  2. only the hit files are re-read, filtered to the survivors, and
    *     staged as new files in their partitions;
    *  3. the commit drops the hit files and adds the rewrites.
    *
    * At 100 TB a predicate-bounded delete (a GDPR purge of one user, a
    * bad ingest day) rewrites the handful of files that actually hold
    * matches, not the lake. Concurrency follows upsert's rules: the
    * conflict unit is the touched files' partitions, disjoint
    * intervening commits rebase, overlaps abort. Returns the new
    * snapshot (op `delete` — incremental consumers see the touched
    * files' post-image via [[changesBetween]], the standard COW
    * contract). A predicate matching nothing commits nothing and
    * returns the current snapshot. */
  def delete(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column,
      /** The writer's `(appId, version)` identity — the same one
        * [[sinkUpsert]] rides, so a delete can participate in
        * [[graft.sources.LakeTxn.writeAll]]'s heal-forward replay. A
        * replayed identity no-ops EVEN WHEN the predicate matches
        * nothing anymore (or would now match rows a LATER transaction
        * appended) — replay safety must come from the identity, never
        * from the predicate happening to miss. */
      txn: Option[(String, Long)] = None): Snapshot = {
    val s = mustLatest(spark, dir)
    if (replayed(s, dir, txn)) return s
    val hitFiles = filesOf(spark, dir, readSnapshot(spark, dir, s).filter(cond))
    if (hitFiles.isEmpty) {
      // nothing matched: still record the txn identity — the replay
      // guard above, not predicate luck, is what makes a crashed
      // transaction's re-run safe. Pure metadata (no manifest churn).
      return txn.fold(s)(ledgerOnlyCommit(spark, dir, _, "delete"))
    }
    val partCols = partColsOf(s)
    // keep every row where cond is NOT TRUE — a null predicate must not
    // delete the row (filter(!cond) would silently drop null-cond rows)
    val survivors = readFiles(spark, dir, s, hitFiles.toSeq.sorted)
      .filter(!coalesce(cond, lit(false)))
    val newRels = stageWrite(spark, dir, survivors, partCols, s.physNames)
    LakeCommit.rebase(spark, dir,
      StagedUpsert(s, hitFiles.map(partOf), hitFiles, newRels, txn = txn),
      "delete")
  }

  /** MERGE-ON-READ delete: rows matching `cond` are tombstoned in a
    * DELETION VECTOR — a small (file, position) parquet under the log —
    * instead of rewriting the files that hold them. The commit is one
    * metadata write regardless of how many gigabytes the hit files
    * span: the write-amplification answer for frequent small deletes
    * (GDPR per-row purges against TB-size files) where [[delete]]'s
    * copy-on-write rewrite is the wrong trade. Every read path filters
    * the vectors (they ride [[readFiles]]), so MoR deletes are exactly
    * as invisible as COW ones — time travel included (each version pins
    * the vector list that describes it; [[restore]] re-pins).
    *
    * The trade, stated loudly: while vectors are outstanding,
    *  - reads pay a per-row (file, pos) anti-join against the
    *    (broadcast, kilobyte-scale) vector set;
    *  - the per-file stats/sketches still describe the PHYSICAL files,
    *    so the metadata-plane EXACT answers ([[statsAgg]],
    *    [[statsAggByPartition]], [[distinctAgg]], [[quantiles]])
    *    decline loudly rather than silently counting tombstoned rows —
    *    zone-map/Bloom PRUNING stays sound (bounds only widen;
    *    predicates re-apply on the filtered read);
    *  - [[changesBetween]]'s post-image feed does not surface MoR
    *    deletes (no file changed) — downstream mirrors need a
    *    compaction (or COW deletes) on the source first.
    * Any whole-table rewrite ([[compact]], [[compactClustered]],
    * [[overwrite]]) materializes the deletes and clears the vectors —
    * compaction is the healing verb that restores the metadata plane.
    * Same partition-level conflict unit as [[delete]]: positions were
    * judged against the hit files, so a concurrent rewrite of their
    * partitions aborts the commit. */
  def deleteVectors(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column): Snapshot = {
    val s = mustLatest(spark, dir)
    if (s.files.isEmpty) return s
    val livePhys =
      if (s.dvs.isEmpty) withFilePos(spark, dir, rawRead(spark, dir, s, s.files))
      else withFilePos(spark, dir, rawRead(spark, dir, s, s.files))
        .join(broadcast(dvRows(spark, dir, s)),
          col("__dv_f") === col("__dv_file") &&
            col("__dv_p") === col("__dv_pos"),
          "left_anti")
    // `cond` names LOGICAL columns; the identity pair rides through
    val live = toLogical(s, livePhys, extra = Seq("__dv_f", "__dv_p"))
    val f = hadoopFs(spark, dir)
    val rel = relPrefix(dir) + f"dv-v${s.version + 1}%020d-" +
      java.util.UUID.randomUUID.toString.take(8) + ".parquet"
    // null cond must not delete (same 3VL rule as the COW delete)
    live.filter(coalesce(cond, lit(false)))
      .select(col("__dv_f").as("file"), col("__dv_p").as("pos"))
      .coalesce(1).write.parquet(logFile(dir, rel))
    val hitFiles = spark.read.parquet(logFile(dir, rel))
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq // one per file with matches
    if (hitFiles.isEmpty) {
      // rel already carries the branch prefix — resolve via logFile,
      // not logPath (the latter would double the branches/<b>/ segment)
      f.delete(new Path(logFile(dir, rel)), true)
      return s
    }
    LakeCommit.rebase(spark, dir,
      StagedUpsert(s, hitFiles.map(partOf).toSet, Set.empty, Nil,
        dvAppend = Seq(rel)),
      "delete-mor")
  }

  /** Copy-on-write row replacement in ONE atomic commit: rows matching
    * `cond` are deleted, `additions` are inserted, and `propsDelta`
    * merges into the table properties — a reader sees the pre-state or
    * the COMPLETE post-state, never new rows under old properties. This
    * is the maintenance verb for derived tables whose rows and summary
    * properties must move together ([[graft.text.InvertedIndex.update]]:
    * a changed document's postings plus the corpus globals they alter).
    *
    * With `probe = Some((c, values))` (`c` must be in `bloomCols`),
    * candidate files for the delete side are pruned through the
    * committed per-file Bloom filters BEFORE the exact match scan, so
    * churn-bounded maintenance never re-reads the whole table. The
    * caller must guarantee `cond` only matches rows whose `c` is in
    * `values` — a Bloom negative is definitive for the probed values
    * only, so a wider `cond` would silently miss rows in pruned files.
    *
    * File-granularity COW like [[delete]]: hit files are rewritten
    * without the matching rows; `additions` stage as new files shaped by
    * the caller (pre-partition/sort for clustering). Same rebase rules
    * as [[upsert]] via the shared commit loop. */
  def replaceWhere(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column, additions: DataFrame,
      propsDelta: Map[String, String] = Map.empty,
      probe: Option[(String, Seq[Any])] = None,
      expectedVersion: Option[Long] = None,
      /** The writer's identity — see [[delete]]'s `txn`;
        * lets a replaceWhere leg ride [[graft.sources.LakeTxn.writeAll]]
        * with exactly-once replay. */
      txn: Option[(String, Long)] = None): Snapshot = {
    val s = mustLatest(spark, dir)
    if (replayed(s, dir, txn)) return s
    // optimistic-concurrency guard: a caller whose propsDelta was DERIVED
    // from a snapshot (InvertedIndex.update folds absolute globals off
    // the version it read) pins that version here — a commit that landed
    // in between would otherwise raise no partition conflict (the delta
    // is against latest) yet silently publish the stale-derived props
    expectedVersion.foreach(
      LakeCommit.requireVersion("replaceWhere", dir, _, s.version))
    checkSchemaCompatible(s, additions, dir)
    val candidates: Seq[String] = probe match {
      case Some((c, values)) =>
        require(values.nonEmpty, "replaceWhere: empty probe value set")
        selectFilesForFilters(spark, dir, bloomSnapshot(dir, s, c),
          Seq(org.apache.spark.sql.sources.In(c, values.toArray)))
      case None => s.files
    }
    val hitFiles: Set[String] =
      if (candidates.isEmpty) Set.empty
      else filesOf(spark, dir, readFiles(spark, dir, s, candidates).filter(cond))
    val partCols = partColsOf(s)
    val survivorRels =
      if (hitFiles.isEmpty) Nil
      else stageWrite(spark, dir,
        readFiles(spark, dir, s, hitFiles.toSeq.sorted)
          .filter(!coalesce(cond, lit(false))), partCols, s.physNames)
    val addedRels =
      if (additions.isEmpty) Nil
      else stageWrite(spark, dir, additions, partCols, s.physNames)
    if (hitFiles.isEmpty && addedRels.isEmpty && propsDelta.isEmpty) {
      // all-miss + nothing to add: a txn identity still lands, as pure
      // metadata (see delete's ledger-only path)
      return txn.fold(s)(ledgerOnlyCommit(spark, dir, _, "replace"))
    }
    val newRels = survivorRels ++ addedRels
    val touched = hitFiles.map(partOf) ++ newRels.map(partOf)
    LakeCommit.rebase(spark, dir,
      StagedUpsert(s, touched, hitFiles, newRels,
        if (addedRels.isEmpty) None else Some(additions.schema.json),
        propsDelta, txn = txn),
      "replace", pinnedBase = expectedVersion.isDefined)
  }

  /** Box scan `lo <= c <= hi` (every bound) over the LATEST snapshot:
    * the snapshot read filtered by the box, files pruned by the
    * committed zone maps in the scan's [[SnapshotFileIndex]]. No
    * staleness check exists because none is needed: the stats snapshot
    * was committed atomically with the file list it describes. Returns
    * the DataFrame plus (filesRead, filesTotal); without stats on a
    * bound column every file is read. */
  def scanBox(spark: SparkSession, dir: String,
      bounds: Seq[(String, Long, Long)]): (DataFrame, (Int, Int)) =
    scanBoxAny(spark, dir,
      bounds.map { case (c, lo, hi) => (c, lo: Any, hi: Any) })

  /** [[scanBox]] over bounds of any stats-bearing type — longs, doubles,
    * and STRINGS (string zone maps prune prefix ranges, the grain
    * [[graft.functions.NativeZorder]] clusters strings by). */
  def scanBoxAny(spark: SparkSession, dir: String,
      bounds: Seq[(String, Any, Any)]): (DataFrame, (Int, Int)) = {
    require(bounds.nonEmpty, "scanBox needs at least one bound")
    scanWhere(spark, dir, mustLatest(spark, dir), bounds.map {
      case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _))
  }

  def scanRange(spark: SparkSession, dir: String, c: String,
      lo: Long, hi: Long): (DataFrame, (Int, Int)) =
    scanBox(spark, dir, Seq((c, lo, hi)))

  /** Snapshot `s` read and filtered by `pred`, with the files its scan
    * selected — the one pruning path every `scan*` verb reports from. */
  private def scanWhere(spark: SparkSession, dir: String, s: Snapshot,
      pred: Column): (DataFrame, (Int, Int)) = {
    val df = readSnapshot(spark, dir, s).filter(pred)
    (df, (SnapshotFileIndex.filesScanned(df), s.files.size))
  }

  /** `min_c <= bound` / `max_c >= bound` with the column's own order:
    * numeric stats compare numerically, string stats lexicographically
    * (exactly the order `min`/`max` aggregated them under). */
  private def statGeq(v: Any, bound: Any): Boolean = (v, bound) match {
    case (a: Number, b: Number) => a.doubleValue() >= b.doubleValue()
    case (a: String, b: String) => a.compareTo(b) >= 0
    case (a, b) => throw new IllegalArgumentException(
      s"cannot compare stat $a (${a.getClass.getSimpleName}) " +
        s"with bound $b (${b.getClass.getSimpleName})")
  }

  /** FILE SELECTION, the one pruning path of every lake read
    * ([[SnapshotFileIndex.listFiles]]): the files of `s` that MAY
    * satisfy the conjunction of the push-down `filters`, pruned three
    * ways, all metadata-plane:
    *
    *  - HIVE PARTITION values parsed from the committed file paths
    *    (equality / In / IsNull on partition columns whose rendered
    *    path form is canonical — string, integral, boolean, date;
    *    fractional and timestamp partition columns never prune, their
    *    text forms are not round-trip-stable);
    *  - the committed ZONE-MAP manifest (comparison operators on the
    *    table's declared stats columns; a file whose min/max are null
    *    holds only nulls in that column, which no comparison matches);
    *  - the committed per-file BLOOM filters (equality / In on declared
    *    bloom columns): "could this file contain v?" with no layout
    *    assumption, where zone maps prune only a CLUSTERED column —
    *    negatives definitive, false positives bounded by the fpp.
    *
    * Only TOP-LEVEL conjuncts prune (an OR's branches never reach
    * here separately); untranslatable conjuncts prune nothing. Spark
    * re-applies every data filter above the scan, so selection is a
    * pure I/O win — over-keeping is always sound, over-pruning never
    * happens by construction. The manifest is read on the driver with
    * no Spark job ([[manifestSelectionRows]]). */
  private[graft] def selectFilesForFilters(spark: SparkSession,
      dir: String, s: Snapshot,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[String] = {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    if (filters.isEmpty || s.files.isEmpty) return s.files
    val partCols = partColsOf(s).toSet
    val schema = s.schemaJson.map(j => DataType.fromJson(j)
      .asInstanceOf[StructType])
    def canonicalPart(c: String): Boolean =
      partCols.contains(c) && schema.exists(_.fields.exists(f =>
        f.name == c && (f.dataType match {
          case StringType | IntegerType | LongType | ShortType |
               ByteType | BooleanType | DateType => true
          case _ => false
        })))
    // physical partition-dir segment for (col, literal) — the same
    // rendering the writer used, so string equality IS value equality
    def seg(c: String, v: Any): String = partDirOf(c, v)
    def partSegs(rel: String): Set[String] =
      rel.split('/').dropRight(1).takeWhile(_.contains('=')).toSet

    // partition-level keep per conjunct (None = conjunct prunes nothing)
    def partKeep(f: Filter): Option[String => Boolean] = f match {
      case EqualTo(c, v) if canonicalPart(c) && v != null =>
        Some(rel => partSegs(rel).contains(seg(c, v)))
      case EqualNullSafe(c, v) if canonicalPart(c) =>
        Some(rel => partSegs(rel).contains(seg(c, v)))
      case In(c, vs) if canonicalPart(c) =>
        val want = vs.filter(_ != null).map(seg(c, _)).toSet
        Some(rel => partSegs(rel).intersect(want).nonEmpty)
      case IsNull(c) if canonicalPart(c) =>
        Some(rel => partSegs(rel).contains(seg(c, null)))
      case IsNotNull(c) if canonicalPart(c) =>
        Some(rel => !partSegs(rel).contains(seg(c, null)))
      case And(a, b) =>
        (partKeep(a), partKeep(b)) match {
          case (Some(ka), Some(kb)) => Some(rel => ka(rel) && kb(rel))
          case (one, other) => one.orElse(other)
        }
      case _ => None
    }
    val pKeeps = filters.flatMap(partKeep)
    val afterPart =
      if (pKeeps.isEmpty) s.files
      else s.files.filter(rel => pKeeps.forall(_(rel)))

    // manifest level — zone maps AND bloom filters — in ONE pass over
    // the manifest's rows: the relevant min/max bounds and the bloom
    // keep verdict per file. Files without a manifest row fall open.
    val bloomConjs = filters.flatMap {
      case EqualTo(c, v) if s.bloomCols.contains(c) && v != null =>
        Seq((c, Seq(v)))
      case In(c, vs) if s.bloomCols.contains(c) &&
        vs.exists(_ != null) => Seq((c, vs.filter(_ != null).toSeq))
      case _ => Nil
    }
    val statCols = filters.flatMap {
      case EqualTo(c, _) => Seq(c)
      case GreaterThan(c, _) => Seq(c)
      case GreaterThanOrEqual(c, _) => Seq(c)
      case LessThan(c, _) => Seq(c)
      case LessThanOrEqual(c, _) => Seq(c)
      case In(c, _) => Seq(c)
      case _ => Nil
    }.distinct.filter(s.statsCols.contains)
    if ((statCols.isEmpty && bloomConjs.isEmpty) ||
      s.manifest.isEmpty || afterPart.isEmpty) return afterPart
    val (manifestSchema, rows) =
      manifestSelectionRows(spark, dir, s.manifest.get)
    val at = manifestSchema.fieldNames.zipWithIndex.toMap
    val needed = statCols.flatMap(c => Seq(s"min_$c", s"max_$c"))
    val statsOk = statCols.nonEmpty && needed.forall(at.contains)
    val bloomOk = bloomConjs.nonEmpty &&
      bloomConjs.forall(bc => at.contains(s"bloom_${bc._1}"))
    if (!statsOk && !bloomOk) return afterPart
    // a null bloom cell (no concrete path today — blooms are fixed at
    // init and every manifest row carries them) keeps the file, and so
    // does a probe value of a type the filter cannot hash
    def mightContain(bf: Any, v: Any): Boolean = bf match {
      case f: org.apache.spark.util.sketch.BloomFilter =>
        try graft.functions.NativeBloom.mightContainValue(f, v)
        catch { case _: IllegalArgumentException => true }
      case _ => true
    }
    val info: Map[String, (Map[String, Any], Boolean)] = rows.map { r =>
      val fs: Map[String, Any] =
        if (!statsOk) Map.empty
        else needed.map(n => n -> r.get(at(n))).toMap
      val bloomKeep = !bloomOk || bloomConjs.forall { case (c, vs) =>
        val bf = r.get(at(s"bloom_$c"))
        vs.exists(mightContain(bf, _))
      }
      r.getString(at("file")) -> (fs, bloomKeep)
    }.toMap
    def cmpSafe(a: Any, b: Any): Option[Boolean] =
      try Some(statGeq(a, b)) catch { case _: Exception => None }
    // MAY a file with these stats satisfy the conjunct? null stats =
    // all-null column in the file: no comparison matches. A type
    // mismatch between the literal and the stat falls open (keep).
    def statKeep(f: Filter, fileStats: Map[String, Any]): Boolean = {
      def known(c: String, v: Any) = statCols.contains(c) && v != null
      def maxGeq(c: String, v: Any) = !known(c, v) || {
        val mx = fileStats.get(s"max_$c").orNull
        mx != null && cmpSafe(mx, v).getOrElse(true)
      }
      def minLeq(c: String, v: Any) = !known(c, v) || {
        val mn = fileStats.get(s"min_$c").orNull
        mn != null && cmpSafe(v, mn).getOrElse(true)
      }
      f match {
        case EqualTo(c, v) => maxGeq(c, v) && minLeq(c, v)
        case GreaterThan(c, v) => maxGeq(c, v)
        case GreaterThanOrEqual(c, v) => maxGeq(c, v)
        case LessThan(c, v) => minLeq(c, v)
        case LessThanOrEqual(c, v) => minLeq(c, v)
        case In(c, vs) if statCols.contains(c) =>
          vs.exists(v => v != null && maxGeq(c, v) && minLeq(c, v))
        case And(a, b) => statKeep(a, fileStats) && statKeep(b, fileStats)
        case _ => true
      }
    }
    afterPart.filter { rel =>
      info.get(rel) match {
        case Some((fs, bloomKeep)) => bloomKeep &&
          (!statsOk || filters.forall(statKeep(_, fs)))
        case None => true // no manifest row — no information, keep
      }
    }
  }

  /** EXACT `count(*)` / per-column `min` / `max` / `count(c)` for the
    * latest snapshot, answered ENTIRELY from the committed manifest —
    * zero data files opened, at any lake size.
    *
    * Soundness: the manifest rows were aggregated from the data files
    * themselves and committed ATOMICALLY with the file list they
    * summarize, so unlike the standalone sidecar there is no staleness
    * case to fall back from — these are the same numbers a full scan
    * would produce, already reduced per file. min/max ignore all-null
    * files (their per-file min/max are null), `count(c)` is
    * `rows − nulls_c`: exactly SQL semantics, which is what lets q152
    * hash-match a DuckDB oracle that reads every row. This is the
    * metadata-plane path Delta/Iceberg use for `SELECT count(*)`;
    * percentile cousins ride [[quantiles]].
    *
    * Every requested column must be in the snapshot's `statsCols`. */
  def statsAgg(spark: SparkSession, dir: String,
      cols: Seq[String]): DataFrame = {
    val s = dvFreeLatest(spark, dir)
    val missing = cols.filterNot(s.statsCols.contains)
    require(missing.isEmpty,
      s"$dir tracks no stats for ${missing.mkString(",")} (statsCols=${s.statsCols})")
    val aggs = statAggs(cols)
    manifestFrame(spark, dir, s).agg(aggs.head, aggs.tail: _*)
  }

  /** The latest snapshot, for an answer read from its per-file stats or
    * sketches alone — refused while deletion vectors are outstanding. */
  private def dvFreeLatest(spark: SparkSession, dir: String): Snapshot = {
    val s = mustLatest(spark, dir)
    require(s.dvs.isEmpty,
      s"$dir has outstanding deletion vectors — the per-file stats " +
        "still count tombstoned rows; compact to materialize the " +
        "deletes, then ask again")
    s
  }

  private def manifestFrame(spark: SparkSession, dir: String,
      s: Snapshot): DataFrame =
    spark.read.parquet(logFile(dir, s.manifest.getOrElse(
      throw new IllegalStateException(
        s"$dir version ${s.version} carries no manifest"))))

  /** Exact `rows` + per-column `min_`/`max_`/`count_` over manifest rows. */
  private def statAggs(cols: Seq[String]): Seq[Column] =
    sum(col("rows")).as("rows") +: cols.flatMap { c =>
      Seq(min(col(s"min_$c")).as(s"min_$c"),
        max(col(s"max_$c")).as(s"max_$c"),
        (sum(col("rows")) - sum(col(s"nulls_$c"))).as(s"count_$c"))
    }

  /** Metadata-plane DISTINCT counts: per-file theta sketches committed
    * with the manifest (declare `thetaCols` at [[init]]) merge into
    * `count(distinct c)` with zero data files opened — the third
    * aggregate class the manifest answers, beside count/min/max
    * ([[statsAgg]]) and quantiles ([[quantiles]]). Below the sketch's
    * 2^lgK nominal the answer is EXACT and deterministic (theta exact
    * mode — [[graft.functions.NativeSketches.ThetaAgg]]); above it, a
    * mergeable estimate at the configured relative error, same contract
    * as q147's set algebra. Freshness is structural: the sketches are
    * pinned to the version that committed them. */
  def distinctAgg(spark: SparkSession, dir: String,
      cols: Seq[String]): DataFrame = {
    val (man, s) = thetaManifest(spark, dir, cols)
    val aggs = cols.map { c =>
      round(graft.functions.NativeSketches.thetaEstimate(
        graft.functions.NativeSketches.thetaUnionAgg(
          col(s"theta_$c"), s.thetaLgK))).cast("long")
        .as(s"distinct_$c")
    }
    man.agg(aggs.head, aggs.tail: _*)
  }

  /** [[distinctAgg]] grouped by the hive partition columns (values
    * recovered from the manifest paths, as in [[statsAggByPartition]]). */
  def distinctAggByPartition(spark: SparkSession, dir: String,
      cols: Seq[String]): DataFrame = {
    val (man0, s) = thetaManifest(spark, dir, cols)
    val partCols = partColsOf(s)
    require(partCols.nonEmpty,
      s"$dir is unpartitioned — use distinctAgg for the global rollup")
    val man = withPartValues(man0, partCols)
    val aggs = cols.map { c =>
      round(graft.functions.NativeSketches.thetaEstimate(
        graft.functions.NativeSketches.thetaUnionAgg(
          col(s"theta_$c"), s.thetaLgK))).cast("long")
        .as(s"distinct_$c")
    }
    man.groupBy(partCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  private def thetaManifest(spark: SparkSession, dir: String,
      cols: Seq[String]): (DataFrame, Snapshot) = {
    val s = dvFreeLatest(spark, dir)
    val missing = cols.filterNot(s.thetaCols.contains)
    require(missing.isEmpty,
      s"$dir tracks no theta sketch for ${missing.mkString(",")} " +
        s"(thetaCols=${s.thetaCols})")
    (manifestFrame(spark, dir, s), s)
  }

  /** Manifest rows with one string column per hive partition column,
    * recovered from each row's `key=value` path component
    * (hive-unescaped; the default partition comes back as null). */
  private def withPartValues(man: DataFrame, partCols: Seq[String])
      : DataFrame = {
    val unescape = udf((v: String) =>
      if (v == null || v == DefaultPartition) null
      else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(v))
    partCols.foldLeft(man) { (df, pc) =>
      df.withColumn(pc, unescape(regexp_extract(col("file"),
        "(?:^|/)" + java.util.regex.Pattern.quote(pc) + "=([^/]*)/", 1)))
    }
  }

  /** GROUPED metadata-plane aggregates: per-PARTITION exact
    * count/min/max answered from the committed stats manifest with zero
    * data files opened — `SELECT part, count(*), min(c), max(c) ...
    * GROUP BY part` as a kilobyte metadata read at any lake size. The
    * partition value is recovered from each manifest row's `key=value`
    * path component (hive-unescaped; the null partition comes back as
    * null) and returned as a string column per partition col — cast at
    * the call site if the original type matters. Same freshness
    * argument as [[statsAgg]]: the manifest is pinned to the version it
    * describes, so no staleness check exists because none is needed. */
  def statsAggByPartition(spark: SparkSession, dir: String,
      cols: Seq[String]): DataFrame = {
    val s = dvFreeLatest(spark, dir)
    val partCols = partColsOf(s)
    require(partCols.nonEmpty,
      s"$dir is unpartitioned — use statsAgg for the global rollup")
    val missing = cols.filterNot(s.statsCols.contains)
    require(missing.isEmpty,
      s"$dir tracks no stats for ${missing.mkString(",")} (statsCols=${s.statsCols})")
    val man = withPartValues(manifestFrame(spark, dir, s), partCols)
    val aggs = statAggs(cols)
    man.groupBy(partCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Driver-side manifest cache: a committed manifest is IMMUTABLE
    * (rels are minted per commit), so the columns file selection reads
    * are decoded once per snapshot — index serving (BM25 postings, dedup
    * prefixes, IVF cells) probes one manifest per query batch. SIZE-GATED:
    * a manifest past [[SmallManifestBytes]] is streamed on every read
    * instead (a web-scale table's decoded Blooms stay off the driver
    * heap); at most [[ManifestCacheEntries]] stay resident (LRU). */
  private final val SmallManifestBytes = 16L * 1024 * 1024
  private final val ManifestCacheEntries = 4
  private val manifestCache =
    new java.util.LinkedHashMap[String, (StructType, IndexedSeq[Row])](
      16, 0.75f, true) {
      override protected def removeEldestEntry(
          e: java.util.Map.Entry[String, (StructType, IndexedSeq[Row])])
          : Boolean = size() > ManifestCacheEntries
    }

  /** The file-selection columns of manifest `m` (`file`, `min_*`,
    * `max_*`, `bloom_*` with each blob decoded to its filter; a null
    * blob stays null), read on the DRIVER in-process — no Spark job —
    * from the cache when resident. */
  private def manifestSelectionRows(spark: SparkSession, dir: String,
      m: String): (StructType, Iterator[Row]) = {
    val path = logFile(dir, m)
    val hit = manifestCache.synchronized(Option(manifestCache.get(path)))
    hit.map { case (schema, rows) => (schema, rows.iterator) }.getOrElse {
      val p = new Path(path)
      val parts = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).filter(st => st.isFile &&
          !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".")).sortBy(_.getPath.getName)
      val keep = (n: String) => n == "file" || n.startsWith("min_") ||
        n.startsWith("max_") || n.startsWith("bloom_")
      val reads = parts.toSeq.map(st =>
        org.apache.spark.sql.graftbridge.ScanBridge.readLocal(spark, st, keep))
      val schema = reads.headOption.map(_._1).getOrElse(new StructType())
      val blooms = schema.fieldNames.indices
        .filter(schema.fieldNames(_).startsWith("bloom_")).toSet
      val rows = reads.iterator.flatMap(_._2).map(r =>
        if (blooms.isEmpty) r
        else Row.fromSeq(r.toSeq.zipWithIndex.map {
          case (b: Array[Byte], i) if blooms(i) =>
            graft.functions.NativeBloom.readFilter(b)
          case (v, _) => v
        }))
      if (parts.map(_.getLen).sum > SmallManifestBytes) (schema, rows)
      else {
        val all = rows.toIndexedSeq
        manifestCache.synchronized(manifestCache.put(path, (schema, all)))
        (schema, all.iterator)
      }
    }
  }

  /** Point lookup `c = value` over the LATEST snapshot, files pruned by
    * the committed per-file Bloom filters on `c` (and its zone maps,
    * when `c` is also a stats column) — see [[selectFilesForFilters]].
    * The exact predicate re-applies on the files read. Returns the
    * DataFrame plus (filesRead, filesTotal). */
  def scanPoint(spark: SparkSession, dir: String, c: String,
      value: Any): (DataFrame, (Int, Int)) = {
    val s = bloomSnapshot(dir, mustLatest(spark, dir), c)
    scanWhere(spark, dir, s, col(c) === lit(value))
  }

  /** Batched point lookup `c IN (values)` with the same per-file Bloom
    * pruning as [[scanPoint]], planned in ONE manifest pass: a file
    * survives when its filter might contain ANY probed value. Per-value
    * negatives are definitive, so no file holding a probed value is ever
    * dropped — the exact IN predicate re-applied on the survivors makes
    * the result identical to a full scan's. This is the posting-list
    * read of [[graft.text.InvertedIndex]]: a query batch's whole term
    * vocabulary plans as one metadata pass and one multi-file read,
    * never a scan per term. Returns the DataFrame plus
    * (filesRead, filesTotal). */
  def scanPointsIn(spark: SparkSession, dir: String, c: String,
      values: Seq[Any]): (DataFrame, (Int, Int)) =
    scanPointsInSnap(spark, dir, mustLatest(spark, dir), c, values)

  /** [[scanPointsIn]] pinned to version `v` — the consistent-family read
    * behind [[LakeTxn]]: an index served at its manifest-pinned version
    * probes the manifest THAT version committed, so pruning and data
    * stay mutually consistent under time travel exactly as they do at
    * latest. */
  def scanPointsInAt(spark: SparkSession, dir: String, v: Long, c: String,
      values: Seq[Any]): (DataFrame, (Int, Int)) =
    scanPointsInSnap(spark, dir, snapshotAt(spark, dir, v), c, values)

  private def scanPointsInSnap(spark: SparkSession, dir: String, s: Snapshot,
      c: String, values: Seq[Any]): (DataFrame, (Int, Int)) = {
    require(values.nonEmpty, "scanPointsIn: empty probe set")
    scanWhere(spark, dir, bloomSnapshot(dir, s, c),
      col(c).isin(values: _*))
  }

  /** `s`, checked to carry a committed Bloom filter on `c` — the point
    * verbs refuse a column they cannot prune. */
  private def bloomSnapshot(dir: String, s: Snapshot, c: String): Snapshot = {
    require(s.bloomCols.contains(c),
      s"$dir tracks no bloom filter for '$c' (bloomCols=${s.bloomCols})")
    if (s.manifest.isEmpty) throw new IllegalStateException(
      s"$dir version ${s.version} carries no manifest")
    s
  }

  /** Quantile estimates for sketch column `c` over the LATEST snapshot,
    * answered ENTIRELY from the committed manifest — kilobytes of
    * per-file KLL sketches merged, zero data files opened. With
    * `partitionPrefix` (e.g. `Some("pd=d1")`), only the matching
    * partitions' sketches merge: "p95 of yesterday's partition" is a
    * metadata-plane read no matter how big the lake is. The estimate
    * carries KLL(200)'s merged rank-error bound (±~1.65% normalized
    * rank), and it is always CONSISTENT with the snapshot: the sketches
    * were committed atomically with the files they summarize, so
    * compaction/upsert can never leave them stale. Returns None when the
    * restriction matches no files. */
  def quantiles(spark: SparkSession, dir: String, c: String,
      ranks: Seq[Double],
      partitionPrefix: Option[String] = None): Option[Seq[Double]] = {
    val s = dvFreeLatest(spark, dir)
    require(s.sketchCols.contains(c),
      s"$dir tracks no quantile sketch for '$c' (sketchCols=${s.sketchCols})")
    val rows = manifestFrame(spark, dir, s)
      .filter(partitionPrefix.fold(lit(true))(p =>
        col("file").startsWith(p + "/")))
      .agg(graft.functions.NativeSketches.kllMerge(col(s"kll_$c"), 200)
        .as("merged"))
      .select(graft.functions.NativeSketches.kllQuantiles(col("merged"), ranks))
      .collect()
    if (rows.isEmpty || rows.head.isNullAt(0)) None
    else Some(rows.head.getSeq[Double](0))
  }

  /** Drop all but the newest `keepLast` versions and delete every data
    * file, version file, and stats snapshot no kept version references.
    * Returns the deleted data files. Readers pinned to dropped versions
    * break — that is the documented MVCC retention trade. Versions a
    * REF pins are never dropped: tags, the published pointer, and
    * every registered transaction family's manifest pins
    * ([[LakeTxn.familyPins]]) survive any `keepLast`.
    *
    * SAFE under concurrent in-flight writers: ONE uniform age fence —
    * nothing younger than `staleStagingMs` is ever deleted. That covers
    * every not-yet-committed artifact a live operation may hold:
    * `_staging/<tag>` dirs (mid-[[stageWrite]]), published-but-
    * uncommitted data files and pre-CAS manifests
    * ([[LakeCommit.build]] writes the manifest before the version-file
    * CAS), and a dropped version's
    * files that a concurrent [[restore]] read moments ago and is about
    * to re-reference. On tables registered in a transaction FAMILY the
    * fence also covers young version files: an in-flight
    * [[LakeTxn.writeAll]] leg's pin is invisible until the family
    * manifest CAS lands, so young versions stay readable rather than
    * being dropped into that window. Crashed residue ages out of a later vacuum
    * (default floor 24 h — longer than any sane write); operators that
    * KNOW no writer is live can pass `staleStagingMs = 0` for immediate
    * reclamation. The floor trades reclamation latency for writer
    * safety — the shape of Delta VACUUM's retention window. */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 1,
      staleStagingMs: Long = 24L * 3600 * 1000,
      /** DRY RUN: report the data files this vacuum WOULD reclaim and
        * delete nothing — versions, manifests, DVs, and staging all
        * stay; the operational what-if before a destructive retention
        * change. */
      dryRun: Boolean = false): Seq[String] = {
    require(keepLast >= 1, "vacuum must keep at least the latest version")
    val f = hadoopFs(spark, dir)
    val d = dataDir(dir)
    val now = System.currentTimeMillis()
    val versions = versionNumbers(f, dir)
    // ref-pinned versions (tags + the published pointer) survive any
    // keepLast: a tag is a reproducibility promise and the published
    // pointer is what consumers are actively serving — vacuuming either
    // out from under its ref would turn a metadata promise into a read
    // error. Retired publish pointers (superseded p-files) pin nothing.
    // (Tags bind MAIN-line versions; a branch vacuum has no ref pins.)
    val refPinned =
      if (branchOf(dir).isDefined) Set.empty[Long]
      else LakeRefs.pinnedVersions(spark, d).filter(versions.contains)
    // transaction-FAMILY pins are the third pin source: every LakeTxn
    // manifest that pins this table resolves through the registered
    // reverse pointer (LakeRefs.registerFamily), so a plain keepLast=1
    // vacuum can never reclaim the version a family reader resolves
    // (LakeTxn.read = readAt(pin)) — enforced like a tag, not opt-in
    // knowledge of the vacuumParticipant wrapper. Keyed by THIS target
    // (a family may pin a branch head), refs tree shared per table.
    val famPinned = LakeTxn.familyPins(spark, dir).filter(versions.contains)
    val pinned = refPinned ++ famPinned
    // ON FAMILY PARTICIPANTS ONLY, the uniform age fence extends to the
    // version files themselves: a young unpinned version may be an
    // in-flight LakeTxn.writeAll leg racing toward its family-manifest
    // CAS — its pin is INVISIBLE to familyPins until that CAS lands, so
    // dropping the version file here would break every family reader
    // the moment the manifest pins it (the one window the pin-source
    // mechanism alone cannot see). Young versions stay fully readable
    // and age out of a later vacuum, exactly like staged writes; tables
    // registered in no family keep the immediate keepLast semantics
    // (time-travel bounds apply the moment vacuum runs).
    val famParticipant = LakeRefs.familiesOf(spark, dir).nonEmpty
    def youngVersion(v: Long): Boolean = famParticipant && {
      try now - f.getFileStatus(versionFile(dir, v))
        .getModificationTime <= staleStagingMs
      catch { case _: java.io.FileNotFoundException => false }
    }
    val (dropRaw, keepTail) =
      versions.splitAt(math.max(0, versions.size - keepLast))
    val dropV = dropRaw.filterNot(v => pinned(v) || youngVersion(v))
    val dropSet = dropV.toSet
    val keepV = dropRaw.filterNot(dropSet) ++ keepTail
    // corrupt-tolerant parse: a crashed writer's truncated version file
    // (the exact residue latest() skips with a warning) must not block
    // reclamation forever. A corrupt DROPPED file contributes no refs
    // and is deleted below like any dropped version; a corrupt KEPT file
    // contributes no refs either — its data files are then unreferenced,
    // which is SAFE because the age fence keeps anything young and the
    // file never becomes readable state anyway.
    def safeParse(t: String)(v: Long): Option[Snapshot] =
      try Some(parse(readText(f, versionFile(t, v))))
      catch { case e: Exception =>
        logWarning(s"vacuum: unreadable version $v in $t " +
          s"(${e.getMessage}) — treated as holding no references")
        None
      }
    val dropSnaps = dropV.flatMap(safeParse(dir))
    val keptSnaps = keepV.flatMap(safeParse(dir))
    // CROSS-LOG references: every OTHER commit log over the same data
    // directory — the main log and every branch — pins its files,
    // manifests, and deletion vectors. This union is what makes a
    // branch ZERO-copy rather than merely cheap: vacuuming the main
    // line can never reclaim a file a branch still reads (the branch's
    // seed references main-minted files AND manifests), and vacuuming
    // a branch can never touch the table's own state. All versions of
    // the other logs pin (not just their keepLast tail): each log's
    // history is that log's own vacuum's business.
    val otherTargets: Seq[String] = {
      val self = branchOf(dir)
      val branches = listBranches(spark, d).map(_._1)
        .filterNot(self.contains).map(b => s"$d@$b")
      if (self.isDefined) d +: branches else branches
    }
    val cross = otherTargets.flatMap(t =>
      versionNumbers(f, t).flatMap(safeParse(t)))
    val live = (keptSnaps ++ cross).flatMap(_.files).toSet
    val liveManifests = (keptSnaps ++ cross).flatMap(_.manifest).toSet
    val liveDvs = (keptSnaps ++ cross).flatMap(_.dvs).toSet
    // ONE uniform rule for every dead data file: nothing younger than
    // the age fence is ever deleted. A young dead file may be a live
    // writer's published-but-uncommitted work racing toward its CAS —
    // OR a just-dropped version a concurrent restore() is about to
    // re-reference (restore reads the old snapshot, then commits; a
    // same-moment vacuum must not yank its files in between). Old dead
    // files belong to no live operation and age out of a later vacuum.
    val dead = (listRel(spark, dir) -- live).toSeq.sorted.filter { r =>
      try now - f.getFileStatus(new Path(d, r)).getModificationTime >
        staleStagingMs
      catch { case _: java.io.FileNotFoundException => false }
    }
    if (dryRun) return dead
    // the dead-file unlink is DISTRIBUTED past a small threshold: at
    // 100 TB a big retention change can orphan hundreds of thousands
    // of files, and a serial driver-side delete loop is hours of RPC
    // latency — one task per slice (the clone copy job's shape) makes
    // it minutes. Small sweeps stay driver-side (no job overhead).
    if (dead.size >= 256) {
      val hconf = spark.sparkContext.broadcast(
        new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
      val dd = d
      val n = math.max(1, math.min(dead.size,
        spark.sparkContext.defaultParallelism * 4))
      spark.sparkContext.parallelize(dead, n).foreach { r =>
        val p = new Path(dd, r)
        p.getFileSystem(hconf.value.value).delete(p, false)
        ()
      }
    } else dead.foreach(r => f.delete(new Path(d, r), false))
    dropSnaps.foreach(_.manifest
      .filterNot(liveManifests.contains)
      .foreach(m => f.delete(new Path(logFile(dir, m)), true)))
    dropSnaps.flatMap(_.dvs).distinct
      .filterNot(liveDvs.contains)
      .foreach(r => f.delete(new Path(logFile(dir, r)), true))
    dropV.foreach(v => f.delete(versionFile(dir, v), false))
    // manifests no version references at all — usually residue of
    // commits that lost their CAS race, but possibly an in-flight
    // writer's manifest written moments before its version-file CAS
    // (commit() writes the manifest FIRST) — the same age fence applies.
    // Recorded rels are log-tree-relative, so a branch target's listing
    // names compare under its minting prefix.
    val pfx = relPrefix(dir)
    f.listStatus(logPath(dir)).toSeq
      .filter { st =>
        val n = st.getPath.getName
        ((n.startsWith("manifest-") && !liveManifests.contains(pfx + n)) ||
          (n.startsWith("dv-") && !liveDvs.contains(pfx + n))) &&
          now - st.getModificationTime > staleStagingMs
      }
      .foreach(st => f.delete(st.getPath, true))
    // writer-private staging dirs: reclaim only those past the age floor
    // (a crashed writer's residue); an in-flight writer's staging is
    // younger and survives
    val staging = new Path(d, "_staging")
    if (f.exists(staging)) {
      f.listStatus(staging).foreach { st =>
        if (now - st.getModificationTime > staleStagingMs)
          f.delete(st.getPath, true)
      }
      if (f.listStatus(staging).isEmpty) f.delete(staging, true)
    }
    dead
  }
}

/** A serializable Hadoop `Configuration` carrier for tasks that touch
  * the filesystem directly (the deep-clone copy job): `Configuration`
  * itself is not `Serializable`, only `Writable` — the standard
  * wrapper Spark keeps internal, re-expressed here. */
private[sources] class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}
