package graft.streaming

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graftbridge.StreamBridge
import org.apache.spark.sql.streaming.OutputMode

import graft.sources.CommitLog
import graft.sources.CommitLog.Snapshot

/** NATIVE EXACTLY-ONCE STREAMING SINK for [[CommitLog]] lakes — the
  * write-side mirror of [[LakeStreamSource]] and the last hop of the
  * reference's E1/E2 stream-in/stream-out pipelines
  * (`/root/reference/src/scrape.py:81-118`,
  * `src/clean_data.py:247-262`), expressed as the Spark idiom:
  *
  * {{{
  *   df.writeStream.format("graft-lake")
  *     .option("checkpointLocation", chk).start(dirOrName)
  *   df.writeStream.format("graft-lake").toTable("gcat.db.t")
  * }}}
  *
  * Each micro-batch lands as ONE commit-log commit carrying a
  * per-query transaction ledger entry (`graft.txn.<queryId> =
  * batchId` — [[CommitLog.sinkAppend]]), so an at-least-once replay
  * (crash between the sink commit and the checkpoint commit) is a
  * loud no-op: exactly-once end to end, keyed by the query id so a
  * fresh checkpoint (new query id, batch ids restarting at 0) starts
  * a fresh ledger instead of silently skipping.
  *
  * Output modes map to the engine's write verbs:
  *  - `Append` → [[CommitLog.sinkAppend]]: pure file adds, O(batch)
  *    work at any table size, conflict-free under concurrent writers
  *    — the 100 TB ingestion shape;
  *  - `Update` → [[CommitLog.sinkUpsert]]: keyed copy-on-write merge
  *    of the touched partitions; needs `keyColumns` +
  *    `partitionColumn` (+ optional `sequenceColumn` for out-of-order
  *    delivery). With `sequenceColumn`, the newest version of each key
  *    within a batch is the one that lands (greatest sequence wins),
  *    also in the batch that bootstraps the table and in partitions the
  *    table does not hold yet. With `applyChangeFeed=true` the batch is a ROW-LEVEL
  *    CHANGE FEED (the `readChangeFeed` source's shape) and applies as
  *    one atomic merge — inserts/post-images upsert, deletes delete
  *    ([[CommitLog.sinkApplyCdc]]): CDC source + CDC-apply sink =
  *    table replication with deletes, no foreachBatch;
  *  - `Complete` → [[CommitLog.sinkOverwrite]]: each batch replaces
  *    the snapshot atomically (streaming aggregates).
  *
  * A missing table bootstraps from the first non-empty batch
  * (`writeStream.partitionBy` becomes the layout). Empty batches
  * commit nothing. Downstream followers see each batch as one commit:
  * the source side's admission control then re-chunks at ITS
  * granularity — the two ends compose into the consume-once pipeline
  * the reference builds from bucket listings and object deletes.
  *
  * The update-mode body is [[LakeStreamSink.upsertBatch]], the one
  * keyed streaming upsert path: the `foreachBatch` pipelines of
  * [[StreamingIngest]] commit through it too. */
class LakeStreamSink(spark: SparkSession, dir: String,
    mode: OutputMode, keyCols: Seq[String],
    partitionCol: Option[String], seqCol: Option[String],
    partitionColumns: Seq[String],
    applyCdc: Boolean = false,
    autoCompactMinFiles: Option[Int] = None) extends Sink with Logging {

  /** `autoCompact=true` (append mode): after each batch lands, any
    * hive partition whose live file count reached
    * `autoCompactMinFiles` (default 16) compacts to one file — the
    * standing fix for streaming ingestion's small-files accumulation
    * (thousands of minute-batch files per partition otherwise; scan
    * planning grows with file count). Best-effort by design: the
    * compaction is its own `op=compact` commit (invisible to
    * downstream streams, conflict unit = the hot partitions), and a
    * lost race against a concurrent writer just defers to the next
    * batch. The append's exactly-once commit is already durable
    * before maintenance starts, so a crash mid-compact costs nothing
    * but vacuum garbage. */
  private def maintain(): Unit = autoCompactMinFiles.foreach { min =>
    try { CommitLog.compactHotPartitions(spark, dir, min); () }
    catch { case e: Exception =>
      logWarning(s"auto-compact on $dir skipped this batch: " +
        e.getMessage)
    }
  }

  /** Empty micro-batches: append mode detects them from its own staged
    * write (zero extra work on the hot path); update/CDC modes detect
    * them from their one spilled materialization ([[LakeStreamSink
    * .upsertBatch]] — the upstream plan executes exactly once per
    * trigger); complete mode treats an empty batch as "the state is now
    * empty" and overwrites an EXISTING table to zero rows (skipping only
    * when there is nothing to create yet). */
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val queryId = LakeStreamSink.runningQueryId(spark)
    val batch = StreamBridge.asBatch(data)
    mode match {
      case m if m == OutputMode.Append() =>
        // defer bootstrap past data-free batches (metadata read + a
        // probe only WHILE the table is missing; the existing-table
        // hot path detects emptiness from its own staged write)
        if (CommitLog.latest(spark, dir).isEmpty && batch.isEmpty)
          return
        CommitLog.sinkAppend(spark, batch, dir, queryId, batchId,
          bootstrapPartCols = partitionColumns)
        maintain()
      case m if m == OutputMode.Update() =>
        val pc = partitionCol.orElse(partitionColumns.headOption)
          .getOrElse(throw new IllegalArgumentException(
            "graft-lake sink in update mode needs option " +
              "partitionColumn (or .partitionBy) — the upsert's " +
              "copy-on-write unit"))
        LakeStreamSink.upsertBatch(spark, dir, batch, keyCols, pc, seqCol,
          applyCdc, queryId, batchId)
        ()
      case _ => // Complete
        if (CommitLog.latest(spark, dir).isEmpty && batch.isEmpty)
          return // nothing to create yet
        CommitLog.sinkOverwrite(spark, batch, dir, partitionColumns,
          queryId, batchId)
        ()
    }
  }

  override def toString: String = s"LakeStreamSink[$dir]"
}

object LakeStreamSink {

  /** The RUNNING streaming query's id — the key of the per-query txn
    * ledger. Stable across restarts from one checkpoint; a fresh
    * checkpoint is a fresh query and so a fresh ledger. */
  private[streaming] def runningQueryId(spark: SparkSession): String =
    StreamBridge.currentQueryId(spark).getOrElse(
      throw new IllegalStateException(
        "graft-lake sink found no running streaming query id — " +
          "called outside a StreamExecution thread?"))

  /** Materialize the micro-batch plan ONCE into a writer-private spill
    * under the table's staging area and hand back a parquet-backed
    * frame over it — update/CDC modes' replacement for the old
    * `isEmpty` probe, which re-executed the whole upstream plan per
    * trigger (legal under the V1 sink contract, but an expensive
    * upstream — a join or aggregation feeding the upsert — paid ~2×
    * per batch). Everything downstream (emptiness branch, the upsert's
    * own partition merge) reads the spilled bytes; the spill is
    * deleted after the commit and, if a crash strands it, ages out of
    * vacuum's `_staging` sweep like any writer residue. The read is
    * shaped by the BATCH's schema, so a zero-row batch (no part files)
    * still scans as an empty frame instead of failing inference. */
  private def spillOnce(spark: SparkSession, dir: String,
      batch: DataFrame): (DataFrame, () => Unit) = {
    val d = CommitLog.dataDir(dir)
    // one metadata read, captured for cleanup: while the table is
    // MISSING, the spill itself creates the table directory, and a
    // data-free batch must not leave it behind as residue-only — a
    // later create-by-write (LakeBatch's ErrorIfExists parquet write)
    // would refuse a "table" that was never committed
    val tableMissing = CommitLog.latest(spark, dir).isEmpty
    val spill = s"$d/_staging/sinkbatch-" +
      java.util.UUID.randomUUID.toString.take(8)
    batch.write.parquet(spill) // the ONE execution of the batch plan
    val staged = spark.read.schema(batch.schema).parquet(spill)
    val cleanup = () => {
      val p = new org.apache.hadoop.fs.Path(spill)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      if (tableMissing) {
        // bootstrap hygiene: prune the now-empty staging chain. The
        // deletes are NON-recursive, so the moment real content exists
        // (this batch bootstrapped the table, or a concurrent writer's
        // spill/commit landed) they fail and are swallowed — only the
        // residue-only directory ever disappears.
        try { fs.delete(new org.apache.hadoop.fs.Path(s"$d/_staging"),
          false); () } catch { case _: Exception => () }
        try { fs.delete(new org.apache.hadoop.fs.Path(d), false); () }
        catch { case _: Exception => () }
      }
      ()
    }
    (staged, cleanup)
  }

  /** Update mode's body, the ONE keyed streaming upsert path (the
    * sink's `addBatch` and [[StreamingIngest]]'s `foreachBatch`
    * pipelines both land here): spill the batch once, skip it when
    * empty, else land it exactly-once under `(queryId, batchId)` —
    * [[CommitLog.sinkApplyCdc]] for a change feed, otherwise
    * [[CommitLog.sinkUpsert]] (newest row per key with `seqCol`; a
    * missing table bootstraps from the batch with `statsCols`). The
    * emptiness check is a footer-only scan of the spill and the merge
    * reads the same spill — ONE upstream execution per trigger.
    * Returns the committed snapshot (unchanged on a replay), or None
    * for an empty batch. */
  private[streaming] def upsertBatch(spark: SparkSession, dir: String,
      batch: DataFrame, keyCols: Seq[String], partitionCol: String,
      seqCol: Option[String], applyCdc: Boolean, queryId: String,
      batchId: Long, statsCols: Seq[String] = Nil): Option[Snapshot] = {
    val (staged, cleanup) = spillOnce(spark, dir, batch)
    try {
      if (staged.isEmpty) None
      else if (applyCdc)
        Some(CommitLog.sinkApplyCdc(spark, staged, dir, keyCols,
          partitionCol, queryId, batchId))
      else
        Some(CommitLog.sinkUpsert(spark, staged, dir, keyCols,
          partitionCol, seqCol, queryId, batchId, statsCols))
    } finally cleanup()
  }
}
