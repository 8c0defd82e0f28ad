package graft.streaming

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.jobs.IngestJob
import graft.sources.CommitLog.Snapshot

/** Streaming face of the ingest pipeline (SURVEY.md §2.8): the reference's
  * cron-batch + S3 consume-once queue (scrape.py:112-118,
  * clean_data.py:223-262) maps to a Structured Streaming file source over
  * the landing prefix with `cleanSource` post-commit handling, and the
  * idempotent load runs inside foreachBatch — at-least-once delivery with
  * a dedup sink, exactly like the reference's unique-index guard.
  *
  * Every keyed pipeline here (logged, view, index, dedup-index,
  * audited) is ONE write path plus its own after-commit hook:
  * [[keyedUpsertStream]] lands each micro-batch through the native
  * `graft-lake` sink's update-mode body with the sink's per-query
  * exactly-once ledger. A plain keyed upsert stream needs no wrapper at
  * all: `writeStream.format("graft-lake").outputMode("update")` with
  * `keyColumns`/`partitionColumn`/`sequenceColumn`.
  */
object StreamingIngest extends Logging {

  /** binaryFile source schema (fixed by Spark's BinaryFileFormat). */
  private val binaryFileSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Start the landing-dir stream. `archiveDir` enables S11's
    * consume-once semantics with the SAME contract as the batch path:
    * only successfully PARSED files move to the archive (inside
    * foreachBatch, after the load commits); parse failures stay in the
    * landing dir for inspection and re-ingest after a parser fix.
    * Spark's file-source `cleanSource` option is deliberately NOT used —
    * it acts on every committed file, parsed or not, so a corrupt
    * payload would be deleted (or stranded in the archive) and the
    * delete-only-after-success retry rule would be silently broken. */
  def start(
      spark: SparkSession,
      landingDir: String,
      lake: IngestJob.Lake,
      checkpointDir: String,
      archiveDir: Option[String] = None): StreamingQuery = {
    spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.xlsx")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "500")
      .load(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val report = IngestJob.runOnFilesAndArchive(
          batch.sparkSession, batch, lake, archiveDir)
        // S10 run-report log line, one per micro-batch.
        logInfo(s"[ingest-stream] batch=$batchId seen=${report.filesSeen} " +
          s"parsed=${report.filesParsed} failed=${report.filesFailed} " +
          s"new=${report.filesNew} rows=${report.flowRowsAppended}")
        ()
      }
      .start()
  }

  /** THE keyed streaming upsert every pipeline below is built from:
    * each micro-batch of `updates` lands in the commit-logged table at
    * `dir` through [[LakeStreamSink.upsertBatch]] — the native
    * `graft-lake` sink's update-mode body, so a `foreachBatch` pipeline
    * and `writeStream.format("graft-lake")` share one write path — and
    * then `afterCommit` runs with the batch, its id and the committed
    * snapshot.
    *
    * What the one path guarantees, the same discipline as the
    * reference's `equipment_files` ledger + unique index
    * (schema.sql:22-33, clean_data.py:176-180):
    *  - the newest row per key lands (greatest `seqCol`), within the
    *    batch and against the table, so an older seq from a reordered
    *    delivery never regresses a key;
    *  - the batch commits ONCE: the per-query ledger entry
    *    (`graft.txn.<queryId>`, the running query's id read as the sink
    *    reads it) rides the data commit, so an at-least-once replay
    *    (crash between the commit and Spark's checkpoint) is a no-op,
    *    while a query on a FRESH checkpoint gets a fresh ledger and
    *    lands its first batches;
    *  - the first non-empty batch bootstraps the table, with
    *    `statsCols` zone-map stats from birth; empty batches commit
    *    nothing and skip the hook.
    *
    * A replayed batch still runs `afterCommit` (with the unchanged
    * snapshot), so hooks must be idempotent — each one below says why
    * it is. At scale a trigger costs the batch plus a rewrite of the
    * touched partitions only; keep partitions date-sized. */
  private def keyedUpsertStream(updates: DataFrame, dir: String,
      keyCols: Seq[String], partitionCol: String, seqCol: String,
      checkpointDir: String, statsCols: Seq[String] = Nil)(
      afterCommit: (DataFrame, Long, Snapshot) => Unit): StreamingQuery =
    updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        LakeStreamSink.upsertBatch(s, dir, batch, keyCols, partitionCol,
          Some(seqCol), applyCdc = false, LakeStreamSink.runningQueryId(s),
          batchId, statsCols).foreach(afterCommit(batch, batchId, _))
      }
      .start()

  /** The keyed upsert stream on its own ([[keyedUpsertStream]], no
    * hook beyond a log line). Consumers read with
    * [[graft.sources.CommitLog.read]] (old versions' files stay on disk
    * until vacuum), and incremental consumers tail
    * [[graft.sources.CommitLog.changesBetween]]. */
  def upsertStreamLogged(
      updates: DataFrame, path: String,
      keyCols: Seq[String], partitionCol: String, seqCol: String,
      checkpointDir: String, statsCols: Seq[String] = Nil): StreamingQuery =
    keyedUpsertStream(updates, path, keyCols, partitionCol, seqCol,
      checkpointDir, statsCols) { (_, batchId, snap) =>
      logInfo(s"[upsert-stream-logged] batch=$batchId at version ${snap.version}")
    }

  /** [[keyedUpsertStream]] that also keeps an
    * [[graft.sources.IncrementalView]] current: after each micro-batch's
    * commit, the view catches up through its normal incremental
    * refresh — recomputing only the partitions that batch touched. The
    * view's OWN txn entry carries the base version it refreshed to,
    * so a replayed or crashed-and-restarted batch's refresh is a
    * metadata no-op and the view inherits the stream's exactly-once
    * without any extra state. A serving query against the base table is
    * then answered from the view by
    * [[graft.plans.RewriteAggregateOnView]] (when registered), so the
    * dashboard path never scans the growing lake — the streaming
    * analog of a continuously-maintained reporting table. `defn`
    * supplies the base path and partition column. */
  def upsertStreamMaintainingView(
      updates: DataFrame, defn: graft.sources.IncrementalView.Definition,
      keyCols: Seq[String], seqCol: String,
      checkpointDir: String, statsCols: Seq[String] = Nil): StreamingQuery =
    keyedUpsertStream(updates, defn.baseDir, keyCols, defn.partitionCol,
      seqCol, checkpointDir, statsCols) { (batch, batchId, snap) =>
      val touched =
        graft.sources.IncrementalView.refresh(batch.sparkSession, defn)
      logInfo(s"[upsert-stream-view] batch=$batchId at version " +
        s"${snap.version}; view refreshed ${touched.size} partition(s)")
    }

  /** The committed post-image of a micro-batch's docs, read back with
    * PARTITION PRUNING off the committed file list: one small collect of
    * the batch's (partition, id) pairs, then only the touched
    * partitions' files are opened and filtered to the batch's ids. A
    * micro-batch therefore costs a churn-sized read at any corpus size —
    * never a full-lake scan per tick. */
  private def batchPostImage(s: org.apache.spark.sql.SparkSession,
      corpusDir: String, batch: DataFrame, idCol: String, textCol: String,
      partitionCol: String): DataFrame = {
    val pairs = batch.select(col(partitionCol), col(idCol)).distinct()
      .collect() // batch-sized: one row per upserted doc
    val parts: Seq[Any] = pairs.map(_.get(0)).distinct.toSeq
    val ids: Seq[Any] = pairs.map(_.get(1)).distinct.toSeq
    graft.sources.CommitLog.readPartitions(s, corpusDir, partitionCol, parts)
      .filter(col(idCol).isin(ids: _*))
      .select(col(idCol), col(textCol))
  }

  /** Streamed document upserts that keep a persisted BM25 inverted index
    * ([[graft.text.InvertedIndex]]) fresh: each micro-batch lands in the
    * corpus lake through [[keyedUpsertStream]] (keyed on `idCol`), then
    * the index is updated with the touched docs' POST-image read back
    * from the committed corpus — not the batch rows — so a stale batch
    * row that lost the seq race can never plant wrong postings. The
    * first non-empty batch bootstraps BOTH tables (corpus through the
    * sink's bootstrap, index via a build over the just-committed
    * corpus).
    *
    * Replays are safe without an index-side ledger: the corpus upsert
    * no-ops off its per-query ledger, and
    * [[graft.text.InvertedIndex.update]] is idempotent — re-applying a
    * post-image replaces postings with themselves under a zero globals
    * delta (InvertedIndexSpec pins the no-op). Idempotence substitutes
    * for exactly-once here, the same way a keyed merge substitutes for
    * it in the corpus.
    *
    * The post-image read is PRUNED to the batch's own partitions off
    * the committed file list (then filtered to the batch's doc ids), so
    * each micro-batch reads churn-touched partitions, never the corpus
    * — the index side is already churn-bounded through its committed
    * doc_id filters. */
  def upsertStreamMaintainingIndex(
      updates: DataFrame, corpusDir: String, indexDir: String,
      idCol: String, textCol: String, seqCol: String, partitionCol: String,
      checkpointDir: String,
      txnDir: Option[String] = None): StreamingQuery =
    keyedUpsertStream(updates, corpusDir, Seq(idCol), partitionCol, seqCol,
      checkpointDir) { (batch, batchId, snap) =>
      val s = batch.sparkSession
      val indexSnap = graft.sources.CommitLog.latest(s, indexDir)
      if (indexSnap.isEmpty) {
        graft.text.InvertedIndex.build(s,
          graft.sources.CommitLog.read(s, corpusDir)
            .select(col(idCol), col(textCol)),
          idCol, textCol, indexDir)
      } else {
        // replay safety for logs built before the one-commit
        // bootstrap: a crash between their init and setProps left
        // postings without globals — repair (recompute + commit the
        // props) instead of letting update() fail the stream forever
        if (!indexSnap.get.props.contains("bm25.n"))
          graft.text.InvertedIndex.repairProps(s, indexDir, idCol, textCol)
        graft.text.InvertedIndex.update(s, indexDir,
          batchPostImage(s, corpusDir, batch, idCol, textCol,
            partitionCol))
      }
      // with a transaction manifest, the (corpus, index) pair becomes
      // visible to family readers in ONE CAS — a crash between the
      // two per-table commits above leaves manifest readers on the
      // previous consistent cut, and this replayed pin is a ledger
      // no-op. Without one, readers of the raw logs can see corpus
      // version N beside index state N-1 (documented single-table
      // atomicity).
      txnDir.foreach { td =>
        graft.sources.LakeTxn.commit(s, td, Map(
          corpusDir -> graft.sources.CommitLog.latest(s, corpusDir)
            .get.version,
          indexDir -> graft.sources.CommitLog.latest(s, indexDir)
            .get.version), batchId = Some(batchId))
      }
      logInfo(s"[upsert-stream-index] batch=$batchId at corpus " +
        s"version ${snap.version}; index fresh")
    }

  /** Streamed document upserts that keep a persisted NEAR-DUP index
    * ([[graft.dedup.DedupIndex]]) fresh — the dedup twin of
    * [[upsertStreamMaintainingIndex]], same discipline throughout: each
    * micro-batch lands in the corpus through [[keyedUpsertStream]], the
    * index absorbs the touched docs' POST-image read back from the
    * committed corpus (never the raw batch rows — a stale seq-race
    * loser cannot plant wrong postings), the first non-empty batch
    * bootstraps both, and replays are safe because the corpus upsert
    * no-ops off its per-query ledger while
    * [[graft.dedup.DedupIndex.update]] converges (it recomputes the
    * touched docs' postings ABSOLUTELY from the given post-image, so a
    * re-applied post-image rewrites identical postings — replay is
    * idempotent by recomputation, not by delta algebra). The post-image
    * read is pruned to the batch's partitions, as in
    * [[upsertStreamMaintainingIndex]]. The index's OWN LakeTxn manifest
    * pins each (postings, terms) cut, so a search between a crash and
    * its replay serves the previous consistent cut. Net effect:
    * arriving batches can be near-dup-probed against everything that
    * streamed in before them, with no corpus re-tokenize anywhere. */
  def upsertStreamMaintainingDedupIndex(
      updates: DataFrame, corpusDir: String, indexDir: String,
      idCol: String, textCol: String, seqCol: String, partitionCol: String,
      checkpointDir: String): StreamingQuery =
    keyedUpsertStream(updates, corpusDir, Seq(idCol), partitionCol, seqCol,
      checkpointDir) { (batch, batchId, snap) =>
      val s = batch.sparkSession
      if (!graft.dedup.DedupIndex.exists(s, indexDir)) {
        graft.dedup.DedupIndex.build(s,
          graft.sources.CommitLog.read(s, corpusDir)
            .select(col(idCol), col(textCol)),
          idCol, textCol, indexDir)
      } else {
        graft.dedup.DedupIndex.update(s, indexDir,
          batchPostImage(s, corpusDir, batch, idCol, textCol,
            partitionCol))
      }
      logInfo(s"[upsert-stream-dedup] batch=$batchId at corpus " +
        s"version ${snap.version}; dedup index fresh")
    }

  /** Streamed upserts behind a WRITE-AUDIT-PUBLISH gate: each
    * micro-batch lands in the commit log through [[keyedUpsertStream]],
    * then the NEW version runs the declarative constraint audit and the
    * table's published pointer ([[graft.sources.LakeRefs]]) advances
    * only on a clean report. Consumers following
    * [[graft.sources.LakeRefs.readPublished]] can never observe a
    * micro-batch that failed its audit — and a failed batch needs no
    * rollback or dead-letter replumbing: the pointer simply does not
    * move, and the next clean commit publishes past it (the poison
    * stays queryable at its unpublished version for debugging). A
    * replayed batch is a ledger no-op on the upsert side and skips the
    * publish when the pointer already covers its version, so
    * at-least-once delivery cannot double-publish or trip the
    * monotonicity guard. */
  def auditedUpsertStream(
      updates: DataFrame, baseDir: String, keyCols: Seq[String],
      seqCol: String, partitionCol: String, checkpointDir: String,
      checks: Seq[graft.ops.Constraints.Check]): StreamingQuery =
    keyedUpsertStream(updates, baseDir, keyCols, partitionCol, seqCol,
      checkpointDir) { (batch, batchId, snap) =>
      val s = batch.sparkSession
      // replay guard: the pointer may already cover this version —
      // publishing it again would (correctly) trip the monotone check
      val already = graft.sources.LakeRefs.publishedVersion(s, baseDir)
        .exists(_ >= snap.version)
      val ok =
        if (already) true
        else graft.sources.LakeRefs.publishAudited(
          s, baseDir, snap.version, checks)._1
      logInfo(s"[audited-upsert-stream] batch=$batchId at version " +
        s"${snap.version}; published=$ok")
    }

  /** ATOMIC MULTI-TABLE STREAMING — one stream maintaining N tables as
    * ONE transaction per micro-batch: every trigger's writes (any mix
    * of [[graft.sources.LakeTxn.TxnWrite]] verbs — fact append, keyed
    * state upsert, retention delete, partition restatement) land
    * through [[graft.sources.LakeTxn.writeAll]] under the batch id as
    * the family idempotency key, then ONE manifest CAS pins every
    * participant's new version. Family readers ([[graft.sources
    * .LakeTxn.read]]) therefore see each micro-batch's effects across
    * ALL tables or across NONE — the cross-table exactly-once that
    * per-table sinks (even logged ones) cannot express, because a crash
    * between two tables' commits leaves raw readers a torn pair.
    *
    * The two idempotency contracts line up by construction:
    * foreachBatch re-delivers a batch under the SAME id after a crash
    * (at-least-once), and writeAll's per-table family ledger + manifest
    * ledger make that replay heal-forward — verbs that committed before
    * the crash no-op, the rest commit, the manifest pins once. Spark's
    * micro-batch ids are monotone, which is exactly writeAll's batch-id
    * contract. Empty triggers are skipped (batch-id gaps are fine under
    * high-water semantics).
    *
    * `writes` builds the verb list FROM the micro-batch (a foreachBatch
    * frame re-reads its own offsets deterministically, so two verbs
    * derived from the same batch see identical rows). Append targets
    * must exist ([[graft.sources.CommitLog.init]] them once); upsert
    * targets bootstrap on first batch like the single-table sink.
    *
    * At 100 TB each trigger costs the verbs themselves — appends are
    * pure file adds, upserts/deletes copy-on-write of touched files
    * only — plus one kilobyte manifest CAS; nothing scales with table
    * size. Typical shape: raw fact audit-append + per-key serving-state
    * upsert, atomically consistent for downstream family readers. */
  def txnFanoutStream(
      updates: DataFrame, txnDir: String,
      writes: DataFrame => Seq[graft.sources.LakeTxn.TxnWrite],
      checkpointDir: String): StreamingQuery = {
    updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val st = graft.sources.LakeTxn.writeAll(
            batch.sparkSession, txnDir, writes(batch), batchId)
          logInfo(s"[txn-fanout-stream] batch=$batchId pinned " +
            s"${st.pins.size} table(s) at manifest t${st.txn}")
        }
        ()
      }
      .start()
  }

  /** Event-time analytics over the flows stream (the reference's 15-minute
    * slots as real tumbling windows + watermarked late-data handling).
    * `flowsWithTs` must carry a `slot_ts` timestamp column. */
  def windowedFlowTotals(flowsWithTs: DataFrame): DataFrame =
    flowsWithTs
      .withWatermark("slot_ts", "1 day")
      .groupBy(window(col("slot_ts"), "15 minutes"), col("equipment"), col("direction"))
      .agg(sum(col("total")).as("vehicles"))
      .select(col("window.start").as("slot_start"), col("equipment"),
        col("direction"), col("vehicles"))

  /** Sliding event-time windows on a stream — the streaming twin of the
    * batch q64 (same `window(ts, width, slide)` operator; width = 2×
    * slide puts every event in exactly two windows). Watermarked, so
    * append mode emits each window once its end passes the watermark;
    * state is bounded by (watermark delay / slide) open windows per
    * group. */
  def slidingEventCounts(
      events: DataFrame, tsCol: String = "ts", typeCol: String = "event_type",
      width: String = "30 minutes", slide: String = "15 minutes",
      delay: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), width, slide), col(typeCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col(typeCol), col("n"))
}
