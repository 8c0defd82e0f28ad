package graft.streaming

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.CommitLog

/** Streaming consumption of a [[CommitLog]] table's change feed — the
  * streaming twin of [[CommitLog.changesBetween]], built on Structured
  * Streaming's own scheduler/checkpoint machinery (a rate tick drives
  * the poll; the version CURSOR lives in the DOWNSTREAM table's own
  * exactly-once identity, not in side state that can diverge from it).
  *
  * [[mirror]] is the concrete consumer everyone needs first: an
  * exactly-once CDC replica of a lake table. Per poll it diffs the
  * source's committed versions, reads ONLY the touched partitions'
  * post-image (file-pruned off the committed lists — never the lake),
  * and [[CommitLog.replacePartitions]]-swaps them into the replica with
  * `txn = (followAppId(source), source version)`: the replica's
  * `graft.txn.follow:<source>` entry is both the resume cursor and the
  * replay guard — a crash between apply and checkpoint re-applies the
  * same range as a no-op. The entry is the mirror's own, so another
  * writer of the replica (whatever its ids) neither moves the cursor
  * nor swallows an apply.
  * The replica is a real commit-log table — snapshot reads, time
  * travel, its own downstream followers.
  *
  * At 100 TB this is how a lake feeds its consumers: each tick moves
  * the day's churn (touched partitions), never the table; the poll
  * itself is metadata-plane (version files only).
  *
  * Granularity contract is [[CommitLog.changesBetween]]'s: an upsert's
  * post-image covers whole touched partitions — the standard
  * copy-on-write CDC shape without per-row change tracking.
  */
object LakeFollow extends Logging {

  /** The id space a follower of `srcDir` writes its replica under — its
    * versions are the source versions applied (see [[LakeTxn.txnAppId]]
    * for the family writer's). */
  def followAppId(srcDir: String): String =
    "follow:" + graft.plans.ConstraintCatalog.normalize(srcDir)

  /** The greatest source version the replica `dstDir` has applied. */
  private def appliedVersion(spark: SparkSession, srcDir: String,
      dstDir: String): Option[Long] =
    CommitLog.latest(spark, dstDir)
      .flatMap(CommitLog.txnVersion(_, followAppId(srcDir)))

  /** Poll `srcDir` on the streaming scheduler and hand each new version
    * range's data commits to `f(changes, fromV, toV)` — at-least-once:
    * a crash after `f` but before the checkpoint re-delivers the range,
    * so `f` must be idempotent per `toV` (a [[CommitLog]] writer gets
    * that from `txn = (appId, toV)`; see [[mirror]]). Ticks with no new
    * versions (and pure compactions, which move no rows) are skipped.
    * The cursor starts at the source's CURRENT version: followers see
    * changes from attach time, like any log subscription — bootstrap
    * the initial state with a snapshot read first. */
  def followChanges(spark: SparkSession, srcDir0: String,
      checkpointDir: String,
      pollSeconds: Int = 1,
      fromVersion: Option[Long] = None)(f: (DataFrame, Long, Long) => Unit)
      : StreamingQuery = {
    val srcDir = graft.catalog.GraftCatalog.resolveTarget(spark, srcDir0)
    val start = fromVersion.getOrElse(
      CommitLog.latest(spark, srcDir).map(_.version).getOrElse(
        throw new IllegalStateException(s"$srcDir has no commit log")))
    // the follower's own cursor, advanced only after f returns — kept in
    // the driver because the streaming checkpoint already guarantees
    // single-driver execution of foreachBatch
    val cursor = new java.util.concurrent.atomic.AtomicLong(start)
    spark.readStream.format("rate")
      .option("rowsPerSecond", 1)
      .option("numPartitions", 1)
      .load()
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(s"$pollSeconds seconds"))
      .foreachBatch { (_: DataFrame, _: Long) =>
        val fromV = cursor.get()
        val toV = CommitLog.latest(spark, srcDir).map(_.version)
          .getOrElse(fromV)
        if (toV > fromV) {
          f(CommitLog.changesBetween(spark, srcDir, fromV, toV), fromV, toV)
          cursor.set(toV)
        }
        ()
      }
      .start()
  }

  /** Exactly-once CDC replica: keep `dstDir` equal to `srcDir`'s latest
    * committed state, advancing one touched-partition swap per observed
    * version range. Create the replica with [[bootstrapMirror]] first;
    * from then on the replica's own follow entry is the resume cursor,
    * so a crashed/restarted mirror continues from the last applied
    * source version with no gap and no double-apply. */
  def mirror(spark: SparkSession, srcDir0: String, dstDir: String,
      partitionCol: String, checkpointDir: String,
      pollSeconds: Int = 1): StreamingQuery = {
    val srcDir = graft.catalog.GraftCatalog.resolveTarget(spark, srcDir0)
    // the cursor IS the replica's follow entry: the greatest source
    // version it has applied. A restarted mirror resumes from exactly
    // there — no side state to lose, no gap between crash and reattach.
    val start = appliedVersion(spark, srcDir, dstDir).getOrElse(
      throw new IllegalStateException(
        s"$dstDir is not a bootstrapped mirror of $srcDir — call " +
          "bootstrapMirror first (it records the source version copied)"))
    val appId = followAppId(srcDir)
    val cursor = new java.util.concurrent.atomic.AtomicLong(start)
    spark.readStream.format("rate")
      .option("rowsPerSecond", 1)
      .option("numPartitions", 1)
      .load()
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(s"$pollSeconds seconds"))
      .foreachBatch { (_: DataFrame, _: Long) =>
        val fromV = cursor.get()
        val toV = CommitLog.latest(spark, srcDir).map(_.version)
          .getOrElse(fromV)
        if (toV > fromV) {
          CommitLog.partsBetween(spark, srcDir, fromV, toV) match {
            case Some(dirs) if dirs.isEmpty =>
              // pure compactions/props: rows unchanged, note the cursor
              CommitLog.ledgerOnlyCommit(spark, dstDir, (appId, toV), "note")
            case Some(dirs) =>
              val partVals = dirs.toSeq.sorted.map(p =>
                org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                  .unescapePathName(p.stripPrefix(partitionCol + "=")))
              val post = CommitLog.readPartitionDirsAt(
                spark, srcDir, toV, dirs)
              // version = source version → the replica's follow entry
              // makes a replayed range a no-op: exactly-once without
              // side state
              CommitLog.replacePartitions(spark, post, dstDir,
                partitionCol, partVals, txn = Some((appId, toV)))
            case None =>
              throw new IllegalStateException(
                s"source history $fromV..$toV of $srcDir vacuumed under " +
                  "the follower — re-bootstrap the mirror")
          }
          cursor.set(toV)
          logInfo(s"mirrored $srcDir v$fromV..v$toV -> $dstDir")
        }
        ()
      }
      .start()
  }

  /** Create the replica at the source's CURRENT cut: full snapshot copy
    * committed with the source version as its follow entry, so the
    * first follower tick diffs from exactly here. */
  def bootstrapMirror(spark: SparkSession, srcDir0: String, dstDir: String,
      partitionCol: String): Long = {
    val srcDir = graft.catalog.GraftCatalog.resolveTarget(spark, srcDir0)
    val src = CommitLog.latest(spark, srcDir).getOrElse(
      throw new IllegalStateException(s"$srcDir has no commit log"))
    CommitLog.read(spark, srcDir)
      .write.partitionBy(partitionCol).parquet(dstDir)
    CommitLog.init(spark, dstDir,
      txn = Some((followAppId(srcDir), src.version)))
    src.version
  }

  /** [[followChanges]] delivering the exact ROW-LEVEL feed: each new
    * version range arrives as its [[CommitLog.changeFeed]] —
    * `_change_type`-labeled inserts/deletes/update pairs — instead of
    * post-image supersets. Same at-least-once contract: `f` must be
    * idempotent per `toV`. */
  def followCdf(spark: SparkSession, srcDir0: String, keyCols: Seq[String],
      checkpointDir: String,
      pollSeconds: Int = 1,
      fromVersion: Option[Long] = None)(f: (DataFrame, Long, Long) => Unit)
      : StreamingQuery = {
    val srcDir = graft.catalog.GraftCatalog.resolveTarget(spark, srcDir0)
    followChanges(spark, srcDir, checkpointDir, pollSeconds, fromVersion) {
      (_, fromV, toV) =>
        f(CommitLog.changeFeed(spark, srcDir, fromV, toV, keyCols),
          fromV, toV)
    }
  }

  /** [[bootstrapMirror]] for a RE-PARTITIONED replica: the snapshot is
    * passed through `derive` (e.g. adding a hash-bucket column) and
    * laid out by `dstPartitionCol` — the layout [[applyCdf]] then
    * maintains. */
  def bootstrapMirrorKeyed(spark: SparkSession, srcDir0: String,
      dstDir: String, dstPartitionCol: String,
      derive: DataFrame => DataFrame = identity): Long = {
    val srcDir = graft.catalog.GraftCatalog.resolveTarget(spark, srcDir0)
    val src = CommitLog.latest(spark, srcDir).getOrElse(
      throw new IllegalStateException(s"$srcDir has no commit log"))
    derive(CommitLog.read(spark, srcDir))
      .write.partitionBy(dstPartitionCol).parquet(dstDir)
    CommitLog.init(spark, dstDir,
      txn = Some((followAppId(srcDir), src.version)))
    src.version
  }

  /** Apply the source's row-level CDF over `(fromV, toV]` onto a KEYED
    * replica in ONE atomic merge commit — the consumer for replicas
    * partitioned DIFFERENTLY from the source ([[mirror]]'s partition
    * swap requires the same layout). Inserts/update-postimages upsert,
    * deletes tombstone, all via [[CommitLog.merge]] with the CDC flag
    * as a clause-only `__` column; `txn = (followAppId(source), toV)`
    * rides the replica's commit so a replayed range is a no-op
    * (exactly-once, no side state). `derive` maps source-image columns
    * onto the replica's schema (e.g. adds the bucket column) and must make
    * `dstPartitionCol` a STABLE function of the key — guarded per
    * range against the update pairs, churn-sized. At 100 TB each apply
    * moves the range's churn through one key equi-join; the replica
    * rewrites only the partitions the churn's keys land in. */
  def applyCdf(spark: SparkSession, srcDir0: String, dstDir: String,
      keyCols: Seq[String], dstPartitionCol: String,
      derive: DataFrame => DataFrame = identity): Long = {
    val srcDir = graft.catalog.GraftCatalog.resolveTarget(spark, srcDir0)
    val fromV = appliedVersion(spark, srcDir, dstDir).getOrElse(
      throw new IllegalStateException(
        s"$dstDir is not a bootstrapped keyed mirror of $srcDir — call " +
          "bootstrapMirrorKeyed first"))
    val toV = CommitLog.latest(spark, srcDir).map(_.version)
      .getOrElse(fromV)
    if (toV <= fromV) return fromV
    val txn = (followAppId(srcDir), toV)
    val cdf = CommitLog.changeFeed(spark, srcDir, fromV, toV, keyCols)
      .localCheckpoint() // churn-sized; read once, used three ways
    val pre = cdf.filter(col("_change_type") === "update_preimage")
    val post = cdf.filter(col("_change_type") =!= "update_preimage")
    def derived(df: DataFrame): DataFrame = derive(df.drop("_change_type"))
    // stability guard: an update pair that MOVES the replica partition
    // would leave the old image unpruned — loudly out of contract
    val moved = derived(pre)
      .select(keyCols.map(col) :+ col(dstPartitionCol).as("__p0"): _*)
      .join(derived(cdf.filter(col("_change_type") === "update_postimage"))
        .select(keyCols.map(col) :+ col(dstPartitionCol).as("__p1"): _*),
        keyCols)
      .filter(!(col("__p0") <=> col("__p1"))).limit(1).collect()
    require(moved.isEmpty,
      s"applyCdf into $dstDir: '$dstPartitionCol' is not a stable " +
        "function of the key — use LakeFollow.mirror (same layout) " +
        "instead")
    val flags = post.withColumn("__cdc_delete",
      col("_change_type") === "delete")
    // cast shared columns to the replica's COMMITTED types — hive
    // partition inference may have narrowed the derived column (e.g.
    // a long bucket reads back int), and merge rejects type changes
    val schema = CommitLog.read(spark, dstDir).schema
    val applied0 = derive(flags.drop("_change_type"))
    val applied = applied0.select(applied0.columns.toIndexedSeq.map { c =>
      schema.find(_.name == c)
        .map(f => col(c).cast(f.dataType).as(c)).getOrElse(col(c))
    }: _*)
    if (applied.isEmpty) {
      CommitLog.ledgerOnlyCommit(spark, dstDir, txn, "note"); toV
    }
    else {
      CommitLog.merge(spark, dstDir, applied, keyCols, dstPartitionCol,
        updateWhen = Some("NOT s.__cdc_delete"),
        deleteWhen = Some("s.__cdc_delete"),
        insertWhen = Some("NOT s.__cdc_delete"),
        txn = Some(txn))
      toV
    }
  }

  /** Streaming keyed CDC replica: [[applyCdf]] on the streaming
    * scheduler, one atomic merge per observed version range; resume
    * cursor = the replica's own follow entry, exactly as [[mirror]]. */
  def mirrorKeyed(spark: SparkSession, srcDir: String, dstDir: String,
      keyCols: Seq[String], dstPartitionCol: String, checkpointDir: String,
      pollSeconds: Int = 1,
      derive: DataFrame => DataFrame = identity): StreamingQuery =
    spark.readStream.format("rate")
      .option("rowsPerSecond", 1)
      .option("numPartitions", 1)
      .load()
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(s"$pollSeconds seconds"))
      .foreachBatch { (_: DataFrame, _: Long) =>
        applyCdf(spark, srcDir, dstDir, keyCols, dstPartitionCol, derive)
        ()
      }
      .start()
}
