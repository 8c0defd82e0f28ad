package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analytics.SpeedHistogram
import graft.dedup.Dedup
import graft.ops.{AnalyticsOps, CorpusOps, JoinOps, RadarOps}
import graft.sim.Similarity
import graft.text.TextAnalysis

/** User-facing facade: `import graft.api.Graft._` gives DataFrames the
  * engine's operator vocabulary as methods. Thin sugar over the module
  * functions — nothing here adds semantics, so every method stays covered
  * by the underlying modules' specs and oracle queries.
  */
object Graft {

  implicit class TextOps(private val df: DataFrame) {

    /** Append token/quality/language columns for a text column —
      * native single-pass stats struct + native language ID. */
    def withTextStats(textCol: String = "text"): DataFrame = {
      val t = col(textCol)
      df.withColumn("__ts", graft.functions.NativeText.textStats(t))
        .withColumn("n_tokens", col("__ts.n_tokens"))
        .withColumn("n_bpeish", col("__ts.n_bpeish"))
        .withColumn("quality", col("__ts.quality"))
        .withColumn("lang_pred", TextAnalysis.langId(t))
        .drop("__ts")
    }

    /** Drop exact duplicates by normalized content (keeps min id). */
    def dedupExact(idCol: String, textCol: String = "text"): DataFrame =
      Dedup.dropExactDups(df, idCol, textCol)

    /** Near-duplicate pairs via MinHash LSH. */
    def nearDupPairs(idCol: String, textCol: String = "text",
        threshold: Double = 0.6): DataFrame =
      Dedup.nearDupPairsMinhash(df, idCol, textCol, threshold = threshold)

    /** EXACT threshold-Jaccard pairs via lossless prefix filtering —
      * brute-force results at equi-join cost. */
    def jaccardPairsExact(idCol: String, textCol: String = "text",
        threshold: Double = 0.6): DataFrame =
      Dedup.jaccardPairsPrefix(df, idCol, textCol, threshold)

    /** Self-trained bigram-LM quality score per document. */
    def withLmScore(idCol: String, textCol: String = "text"): DataFrame =
      CorpusOps.bigramLmScore(df, idCol, textCol,
        t => split(trim(lower(t)), "\\s+"))

    /** Drop near-duplicates cluster-wise: LSH pairs → connected
      * components → exactly one (min-id) keeper per near-dup cluster.
      * Cluster resolution, not greedy pair-dropping — chained dups
      * (a~b, b~c with no a~c pair) still collapse to one keeper.
      * Any id type: non-numeric ids ride CC on xxhash64 surrogates. */
    def dedupNear(idCol: String, textCol: String = "text",
        threshold: Double = 0.6): DataFrame =
      Dedup.dropNearDups(df, idCol, textCol, threshold = threshold)

    /** STREAMING near-dup alerts: per-bucket LSH state flags each
      * arriving document against the last `delayMinutes` of the stream
      * (watermark-evicted state; see
      * [[graft.streaming.StatefulOps.nearDupAlerts]]). */
    def nearDupAlertStream(idCol: String, tsCol: String,
        textCol: String = "text", delayMinutes: Int = 60,
        simThreshold: Double = 0.6): DataFrame =
      graft.streaming.StatefulOps.nearDupAlerts(
        df, idCol, tsCol, textCol, delayMinutes,
        simThreshold = simThreshold)

    /** Per-doc near-dup cluster id + keeper flag for the given pairs. */
    def withDupClusters(idCol: String, pairs: DataFrame): DataFrame =
      Dedup.resolveClusters(df, idCol, pairs)

    /** Normalized text column (lowercase, no urls/emails/punct). */
    def withNormalizedText(textCol: String = "text",
        outCol: String = "clean"): DataFrame =
      df.withColumn(outCol, TextAnalysis.normalize(col(textCol)))

    /** Content-stable train/val/test assignment (md5-bucketed). */
    def withSplit(idCol: String): DataFrame =
      CorpusOps.deterministicSplit(df, idCol)

    /** Concat-and-chunk sequence packing within `shardCol`. */
    def packed(idCol: String, shardCol: String, budget: Int,
        textCol: String = "text"): DataFrame =
      CorpusOps.packSequences(df, idCol,
        TextAnalysis.tokenCount(col(textCol)).cast("long"), shardCol, budget)

    /** Training docs sharing ≥1 word n-gram with `evalSet`. */
    def contaminatedBy(evalSet: DataFrame, idCol: String,
        textCol: String = "text", n: Int = 5): DataFrame =
      CorpusOps.contaminatedDocs(df, evalSet, idCol, textCol, n)

    /** Overlapping token-window chunks (embedding prep). */
    def chunked(idCol: String, chunkTokens: Int, overlap: Int,
        textCol: String = "text"): DataFrame =
      CorpusOps.chunkDocuments(df, idCol, textCol, chunkTokens, overlap)

    /** Emails/phones masked in place. */
    def withMaskedPii(textCol: String = "text",
        outCol: String = "masked"): DataFrame =
      df.withColumn(outCol, CorpusOps.maskPii(col(textCol)))

    /** Term/doc-frequency vocabulary, min-count pruned. */
    def vocab(idCol: String, textCol: String = "text",
        minCount: Long = 5L): DataFrame =
      CorpusOps.vocabulary(df, idCol, textCol, minCount)

    /** Per-doc top-k terms by tf·idf. */
    def topTerms(idCol: String, k: Int, textCol: String = "text"): DataFrame =
      CorpusOps.tfidfTopTerms(df, idCol, textCol, k)

    /** Range-sharded, shard-sorted parquet training layout. */
    def writeShards(idCol: String, nShards: Int, dir: String): Unit =
      graft.sources.LakeMaintenance.writeTrainingShards(df, idCol, nShards, dir)

    /** Within-document repetition signals (dup-token/2-gram fractions). */
    def withRepetitionSignals(idCol: String, textCol: String = "text"): DataFrame =
      CorpusOps.repetitionSignals(df, idCol, textCol)

    /** Cross-document repeated n-grams (boilerplate detection). */
    def boilerplate(idCol: String, textCol: String = "text", n: Int = 5,
        minDocs: Long = 3L): DataFrame =
      CorpusOps.boilerplateGrams(df, idCol, textCol, n, minDocs)

    /** Deterministic exact-fraction stratified sample. */
    def stratifiedSample(idCol: String, stratumCol: String,
        frac: Double): DataFrame =
      CorpusOps.stratifiedSample(df, idCol, stratumCol, frac)

    /** BM25 top-k lexical retrieval for a query-term list. */
    def bm25TopK(terms: Seq[String], k: Int, idCol: String = "doc_id",
        textCol: String = "text"): DataFrame =
      graft.text.Retrieval.bm25(df, idCol, textCol, terms, k)

    /** Batch BM25: top-k docs per query from a (query_id, term, pos)
      * table, one corpus pass for the whole query set. */
    def bm25BatchTopK(queries: DataFrame, k: Int, arity: Int,
        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
      graft.text.Retrieval.bm25Batch(df, queries, idCol, textCol, k, arity)

    /** Publish a persisted BM25 inverted index at `dir`: tokenize once,
      * serve every later query batch from Bloom-pruned posting lists
      * ([[searchIndex]]) with no corpus re-scan. */
    def buildSearchIndex(dir: String, idCol: String = "doc_id",
        textCol: String = "text", numFiles: Int = 8): Unit =
      graft.text.InvertedIndex.build(df.sparkSession, df, idCol, textCol,
        dir, numFiles)

    /** Re-index ONLY this DataFrame's (changed) docs into the index at
      * `dir` — one atomic postings+globals commit, churn-bounded. */
    def updateSearchIndex(dir: String): Unit =
      graft.text.InvertedIndex.update(df.sparkSession, dir, df)

    /** Exact token-set Jaccard for all id pairs of a (small) probe set. */
    def jaccardPairs(idCol: String, textCol: String = "text"): DataFrame =
      Dedup.tokenJaccardPairs(df, idCol, textCol)

    /** Publish a persisted near-dup index of THIS corpus at `dir`:
      * later batches probe it via [[Graft.searchDedupIndex]] with exact
      * Jaccard and lossless prefix blocking — no corpus re-scan. */
    def buildDedupIndex(dir: String, idCol: String = "doc_id",
        textCol: String = "text", numFiles: Int = 8): Unit =
      graft.dedup.DedupIndex.build(df.sparkSession, df, idCol, textCol,
        dir, numFiles)

    /** Re-index ONLY this DataFrame's (changed) docs into the dedup
      * index at `dir` — churn-bounded, txn-pinned family commit. */
    def updateDedupIndex(dir: String): Unit =
      graft.dedup.DedupIndex.update(df.sparkSession, dir, df)

    /** Sub-document chunk dedup: first occurrence of each distinct chunk
      * survives corpus-wide; docs reassembled from survivors. */
    def dedupSpans(idCol: String, textCol: String = "text",
        chunkTokens: Int = 32): DataFrame =
      CorpusOps.dedupSpans(df, idCol, textCol, chunkTokens)

    /** Levenshtein near-dup pairs over a (small) probe set. */
    def editDistancePairs(idCol: String, strCol: String,
        maxDist: Int): DataFrame =
      Dedup.editDistancePairs(df, idCol, strCol, maxDist)
  }

  implicit class VectorOps(private val df: DataFrame) {

    /** Exact cosine top-k neighbors of `queries` within this corpus. */
    def topKNeighbors(queries: DataFrame, idCol: String, vecCol: String,
        k: Int): DataFrame =
      Similarity.bruteForceTopK(queries, df, idCol, vecCol, k)

    /** Approximate top-k via random-hyperplane LSH buckets (multi-table
      * defaults — see [[Similarity.annTopK]] for the operating point). */
    def annNeighbors(queries: DataFrame, idCol: String, vecCol: String,
        k: Int, planes: Int = 5, dim: Int = 64,
        tables: Int = 4): DataFrame =
      Similarity.annTopK(queries, df, idCol, vecCol, k, planes, dim,
        tables = tables)

    /** Per-label prototype (centroid) vectors, decimal-exact. */
    def labelCentroids(labelCol: String, vecCol: String): DataFrame =
      Similarity.centroids(df, labelCol, vecCol)

    /** Absmax int8 quantization flattened to (id, dim, q8). */
    def quantized(idCol: String, vecCol: String): DataFrame =
      Similarity.quantizeInt8(df, idCol, vecCol)

    /** Per-dimension z-score standardization flattened to (id, dim, z). */
    def standardized(idCol: String, vecCol: String): DataFrame =
      Similarity.standardizeDims(df, idCol, vecCol)

    /** Train + encode an IVFPQ index over this corpus and publish it as
      * a commit-logged table at `dir` (serving opens probed cells'
      * files only — [[searchVectorIndex]]). */
    def buildVectorIndex(dir: String, idCol: String, vecCol: String,
        nList: Int = 64, m: Int = 8, k: Int = 16): Unit = {
      val spark = df.sparkSession
      val idx = graft.sim.PqIndex.build(df, idCol, vecCol, nList, m, k)
      try graft.sim.PqIndex.save(spark, idx, dir) finally idx.close()
    }

    /** Re-encode ONLY this DataFrame's (changed) vectors into the index
      * at `dir` — frozen-model, churn-bounded, one atomic commit; a
      * null vector removes the id. */
    def updateVectorIndex(dir: String, idCol: String, vecCol: String): Unit =
      graft.sim.PqIndex.update(df.sparkSession, dir, df, idCol, vecCol)
  }

  /** ANN top-k from a persisted IVFPQ index with exact re-rank —
    * `corpus` supplies raw vectors for the shortlist only. */
  def searchVectorIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4): DataFrame =
    graft.sim.PqIndex.topKRerankPersisted(spark, dir, queries, corpus,
      idCol, vecCol, k, nProbe)

  implicit class FlowOps(private val df: DataFrame) {

    /** Mean + p85 speed per (equipment, direction, day). */
    def dailyProfile(): DataFrame = SpeedHistogram.dailyProfile(df)

    /** Deficient dates in [start, end] given an expected file count. */
    def completenessAudit(start: String, end: String, expected: Int): DataFrame =
      RadarOps.completenessAudit(df, lit(start), lit(end), expected)

    /** Backward as-of join (latest right row at-or-before each left row). */
    def asofJoin(right: DataFrame, keys: Seq[String], tsCol: String,
        valueCols: Seq[String]): DataFrame =
      JoinOps.asofJoinBackward(df, right, keys, tsCol, valueCols)
  }

  implicit class EventOps(private val df: DataFrame) {

    /** K-stage conversion funnel (strict event ordering). */
    def funnel(user: String, eventType: String, ts: String,
        stages: Seq[String]): DataFrame =
      AnalyticsOps.funnel(df, user, eventType, ts, stages)

    /** Weekly cohort retention matrix. */
    def cohortRetention(user: String, ts: String): DataFrame =
      AnalyticsOps.cohortRetention(df, user, ts)

    /** Per-group least-squares trend from decimal power sums. */
    def linearTrend(group: String, x: Column, y: Column): DataFrame =
      AnalyticsOps.linearTrend(df, group, x, y)

    /** Peak interval concurrency per group (sweep line). */
    def peakConcurrency(group: String, start: String, end: String,
        id: String): DataFrame =
      AnalyticsOps.peakConcurrency(df, group, start, end, id)

    /** Rows > z population stddevs from their key's mean. */
    def zscoreOutliers(key: String, value: String, id: String,
        z: Int = 2, minN: Int = 10): DataFrame =
      AnalyticsOps.zscoreOutliers(df, key, value, id, z, minN)

    /** Exact weighted median per group. */
    def weightedMedian(group: String, value: String, weight: String,
        ties: Seq[String]): DataFrame =
      AnalyticsOps.weightedMedian(df, group, value, weight, ties)

    /** Chi-square independence of two categorical columns. */
    def chiSquare(a: String, b: String): DataFrame =
      AnalyticsOps.chiSquare(df, a, b)

    /** Bloom-pre-filtered equi-join: prune this (probe) side with a
      * Bloom filter of the build side's keys before the shuffle. */
    def bloomJoin(build: DataFrame, probeKey: Column, buildKey: String,
        expectedKeys: Long, fpp: Double = 0.01): DataFrame =
      JoinOps.bloomPreFilteredJoin(df, build, probeKey, buildKey,
        expectedKeys, fpp)

    /** Median / MAD / k·MAD exceedance counts per key (robust outliers). */
    def madOutliers(key: String, value: String, k: Int = 3): DataFrame =
      AnalyticsOps.madOutliers(df, key, value, k)

    /** Clamp to the exact per-group [pLo, pHi] percentile band. */
    def winsorize(group: String, value: String,
        pLo: Double = 0.05, pHi: Double = 0.95): DataFrame =
      AnalyticsOps.winsorize(df, group, value, pLo, pHi)

    /** Running distinct entities per bucket (first-seen + prefix sum). */
    def cumulativeDistinct(entity: String, bucket: Column): DataFrame =
      AnalyticsOps.cumulativeDistinct(df, entity, bucket)

    /** Two-proportion experiment readout (rates, lift, pooled z). */
    def abLift(variant: String, entity: String,
        converted: Column): DataFrame =
      AnalyticsOps.abLift(df, variant, entity, converted)

    /** Per-(key, bucket) OHLC downsampling bars. */
    def ohlcBars(key: String, ts: String, value: String, tie: String,
        bucket: Column): DataFrame =
      graft.ops.TimeSeriesOps.ohlcBars(df, key, ts, value, tie, bucket)

    /** SCD2 validity intervals from a change-event stream. */
    def scd2(key: Column, status: Column, ts: Column,
        tie: Column): DataFrame =
      graft.ops.TimeSeriesOps.scd2(df, key, status, ts, tie)

    /** Point-in-time join: resolve each row's covering SCD2 interval. */
    def pointInTime(dim: DataFrame, factKey: String, factTs: String,
        dimKey: String = "key"): DataFrame =
      graft.ops.TimeSeriesOps.pointInTimeJoin(df, dim, factKey, factTs,
        dimKey)

    /** Co-occurrence pairs over (basket, item) rows, support-pruned. */
    def cooccurrencePairs(basket: String, item: String,
        minSupport: Long = 2L, maxBasket: Int = 50): DataFrame =
      graft.ops.GraphOps.cooccurrencePairs(df, basket, item, minSupport,
        maxBasket)

    /** Per-node triangle counts over a src<dst oriented edge list. */
    def triangleCounts(src: String, dst: String): DataFrame =
      graft.ops.GraphOps.triangleCounts(df, src, dst)

    /** Integer-exact PageRank over a directed edge list. The facade
      * defaults to the co-partitioned rank exchange — slow-but-safe at
      * any node-set size. Pass `broadcastRanks = true` only when the
      * node table is dimension-sized relative to executor memory (it is
      * broadcast in full every iteration). */
    def pageRank(src: String, dst: String, iters: Int = 3,
        broadcastRanks: Boolean = false): DataFrame =
      graft.ops.GraphOps.pageRankInt(df, src, dst, iters,
        broadcastRanks = broadcastRanks)
  }

  implicit class QualityOps(private val df: DataFrame) {

    /** Declarative constraint audit — row-local checks fuse into one
      * scan; see [[graft.ops.Constraints]]. */
    def auditConstraints(checks: graft.ops.Constraints.Check*): DataFrame =
      graft.ops.Constraints.audit(df, checks)

    /** Per-key mergeable HLL distinct sketch of `of` (persistable binary
      * column; roll up later with [[sketchRollup]]). */
    def distinctSketch(of: Column, lgConfigK: Int, keys: Column*): DataFrame =
      graft.analytics.Sketches.sketchBy(df, of, lgConfigK, keys: _*)

    /** Merge a sketch table to a coarser grain without touching raw data. */
    def sketchRollup(estimateAs: String, keys: Column*): DataFrame =
      graft.analytics.Sketches.rollup(df, estimateAs, keys: _*)

    /** Per-key mergeable KLL quantile sketch of `of` (persistable binary
      * column; roll up later with [[quantileRollup]]). */
    def quantileSketch(of: Column, k: Int, keys: Column*): DataFrame =
      graft.analytics.Sketches.quantileSketchBy(df, of, k, keys: _*)

    /** Merge a quantile-sketch table to a coarser grain and estimate the
      * `ranks` quantiles — same rank-error bound as a direct build. */
    def quantileRollup(ranks: Seq[Double], estimateAs: String, k: Int,
        keys: Column*): DataFrame =
      graft.analytics.Sketches.quantileRollup(df, ranks, estimateAs, k, keys: _*)

    /** EXACT heavy hitters (≥ weightFrac of rows) in two bounded passes:
      * Misra-Gries candidates + exact recount; see
      * [[graft.analytics.Sketches.exactHeavyHitters]]. */
    def heavyHitters(item: Column, weightFrac: Double,
        maxMapSize: Int = 1024): DataFrame =
      graft.analytics.Sketches.exactHeavyHitters(df, item, weightFrac, maxMapSize)

    /** Per-key theta sketch of `of`'s distinct values (binary column
      * `sketch`) — supports union AND intersection/difference via the
      * [[Graft.thetaUnion]]/[[Graft.thetaIntersect]]/[[Graft.thetaDiff]]
      * scalars; exact below 2^lgK distinct. */
    def distinctSetSketch(of: Column, lgK: Int, keys: Column*): DataFrame =
      df.groupBy(keys: _*)
        .agg(graft.functions.NativeSketches.thetaAgg(of, lgK).as("sketch"))
  }

  /** Column-level vocabulary re-exported for expression building. */
  def cosine(a: Column, b: Column): Column = Similarity.cosine(a, b)
  def tokenCount(c: Column): Column = TextAnalysis.tokenCount(c)
  def qualityScore(c: Column): Column = TextAnalysis.qualityScore(c)
  def langId(c: Column): Column = TextAnalysis.langId(c)
  def simhash(c: Column): Column = graft.functions.NativeHashes.simhash64(c)
  def minhashSig(c: Column): Column = graft.functions.NativeHashes.minhashSig(c)

  /** Bounded-heap top-k aggregate (use inside groupBy().agg) — shuffles
    * ≤ k rows per (key, partition) instead of window-sorting the fact. */
  def topK(sortKey: Column, id: Column, k: Int): Column =
    graft.functions.NativeTopK.topK(sortKey, id, k)

  /** Theta set algebra over binary sketches from `distinctSetSketch`. */
  def thetaUnion(a: Column, b: Column): Column =
    graft.functions.NativeSketches.thetaUnion(a, b)
  def thetaIntersect(a: Column, b: Column): Column =
    graft.functions.NativeSketches.thetaIntersect(a, b)
  def thetaDiff(a: Column, b: Column): Column =
    graft.functions.NativeSketches.thetaDiff(a, b)
  def thetaEstimate(sketch: Column): Column =
    graft.functions.NativeSketches.thetaEstimate(sketch)

  /** Top-k BM25 per query served from a persisted inverted index
    * ([[graft.text.InvertedIndex.search]]) — Bloom-pruned posting
    * reads, zero corpus access. `queries`: (query_id, term, pos). */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int, arity: Int): DataFrame =
    graft.text.InvertedIndex.search(spark, dir, queries, k, arity)

  /** Exact near-dup pairs of `newDocs` against the corpus indexed at
    * `dir` ([[graft.dedup.DedupIndex.search]]): lossless prefix-blocked
    * Jaccard ≥ threshold, served from Bloom-pruned posting reads at the
    * txn-pinned index cut — the corpus is never re-tokenized. */
  def searchDedupIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, newDocs: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.dedup.DedupIndex.search(spark, dir, newDocs, idCol, textCol,
      threshold)

  /** Handle on a commit-log (lakehouse) table: the full table lifecycle
    * behind one path-addressed object. Thin sugar over
    * [[graft.sources.CommitLog]] — semantics, concurrency, and specs
    * live there.
    * {{{
    * val t = Graft.lake(spark, "/lake/orders")
    * t.upsert(updates, keyCols = Seq("id"), partitionCol = "day")
    * t.read.groupBy("day").count()      // MV-rewritable aggregate
    * t.asOf(3)                          // time travel
    * t.changes(3, t.version)           // incremental feed
    * t.history.show()
    * }}}
    */
  final case class Lake(spark: org.apache.spark.sql.SparkSession,
      dir: String) {
    import graft.sources.{CommitLog, IncrementalView}
    def read: DataFrame = CommitLog.read(spark, dir)
    def version: Long = CommitLog.latest(spark, dir)
      .map(_.version).getOrElse(
        throw new IllegalStateException(s"$dir has no commit log"))
    def asOf(v: Long): DataFrame = CommitLog.readAt(spark, dir, v)
    /** TIMESTAMP AS OF: the table as of wall-clock epoch millis. */
    def asOfTime(tsMillis: Long): DataFrame =
      CommitLog.readAsOf(spark, dir, tsMillis)
    def changes(fromV: Long, toV: Long): DataFrame =
      CommitLog.changesBetween(spark, dir, fromV, toV)
    /** Row-level CDF: `_change_type`-labeled insert/delete/update
      * pre+post rows, churn-pruned at both versions. */
    def changeFeed(fromV: Long, toV: Long, keyCols: Seq[String]): DataFrame =
      CommitLog.changeFeed(spark, dir, fromV, toV, keyCols)
    /** [[changeFeed]] with per-commit `_commit_version` attribution. */
    def changeFeedByCommit(fromV: Long, toV: Long,
        keyCols: Seq[String]): DataFrame =
      CommitLog.changeFeedByCommit(spark, dir, fromV, toV, keyCols)
    def history: DataFrame = CommitLog.history(spark, dir)
    /** Roll back to version `v` as a NEW auditable commit (zero data
      * movement; ledger not rewound). */
    def restore(v: Long): Unit = { CommitLog.restore(spark, dir, v); () }
    def upsert(updates: DataFrame, keyCols: Seq[String],
        partitionCol: String, seqCol: Option[String] = None): Unit = {
      CommitLog.upsert(spark, updates, dir, keyCols, partitionCol, seqCol)
      ()
    }
    def delete(cond: Column): Unit = { CommitLog.delete(spark, dir, cond); () }
    /** Merge-on-read delete: tombstone matching rows in a deletion
      * vector — zero data files rewritten; compaction materializes. */
    def deleteMor(cond: Column): Unit = {
      CommitLog.deleteVectors(spark, dir, cond); ()
    }
    /** Three-clause conditional MERGE in one commit: matched rows delete
      * (first) or update to the source image, unmatched source rows
      * insert — each gated by a SQL condition over `t.*` / `s.*`. */
    def merge(source: DataFrame, keyCols: Seq[String], partitionCol: String,
        updateWhen: Option[String] = Some("true"),
        deleteWhen: Option[String] = None,
        insertWhen: Option[String] = Some("true")): Unit = {
      CommitLog.merge(spark, dir, source, keyCols, partitionCol,
        updateWhen, deleteWhen, insertWhen)
      ()
    }
    /** General MERGE: ORDERED clause chains — any number of conditional
      * matched updates (whole-row or column-level) and deletes, any
      * number of conditional inserts — first match wins, one commit. */
    def mergeClauses(source: DataFrame, keyCols: Seq[String],
        partitionCol: String,
        matched: Seq[CommitLog.MergeMatched],
        notMatched: Seq[CommitLog.MergeNotMatched],
        evolveSchema: Boolean = false): Unit = {
      CommitLog.mergeClauses(spark, dir, source, keyCols, partitionCol,
        matched, notMatched, evolveSchema = evolveSchema)
      ()
    }
    def compact(targetPartitions: Int, clusterCols: Seq[String] = Nil): Unit = {
      if (clusterCols.isEmpty) CommitLog.compact(spark, dir, targetPartitions)
      else CommitLog.compactClustered(spark, dir, targetPartitions, clusterCols)
      ()
    }
    /** [[compact]] on the Z-order (Morton) key of `zCols`: zone maps
      * then prune predicates on ANY clustered column. */
    def compactZorder(targetPartitions: Int, zCols: Seq[String]): Unit = {
      CommitLog.compactZordered(spark, dir, targetPartitions, zCols)
      ()
    }
    /** Partition-scoped `OPTIMIZE ... WHERE`: rewrite only the hive
      * partitions matching the predicate, materializing their deletion
      * vectors; concurrent commits to other partitions rebase. */
    def compactWhere(partitionPredicate: org.apache.spark.sql.Column,
        filesPerPartition: Int = 1): Unit = {
      CommitLog.compactPartitions(spark, dir, partitionPredicate,
        filesPerPartition)
      ()
    }
    /** Declare new nullable columns — a schema-only commit. */
    def addColumns(newCols: org.apache.spark.sql.types.StructType): Unit = {
      CommitLog.addColumns(spark, dir, newCols)
      ()
    }
    /** Pure-append commit: new files only, no partition rewrite. With
      * `txn = (appId, version)` a replay is a no-op. */
    def append(rows: DataFrame, txn: Option[(String, Long)] = None): Unit = {
      CommitLog.append(spark, rows, dir, txn)
      ()
    }
    def vacuum(keepLast: Int = 1): Seq[String] =
      CommitLog.vacuum(spark, dir, keepLast)
    /** What [[vacuum]] WOULD reclaim — deletes nothing. */
    def vacuumDryRun(keepLast: Int = 1): Seq[String] =
      CommitLog.vacuum(spark, dir, keepLast, dryRun = true)
    /** Per-partition exact count/min/max from the stats manifest —
      * zero data files opened at any lake size. */
    def statsByPartition(cols: Seq[String]): DataFrame =
      CommitLog.statsAggByPartition(spark, dir, cols)
    /** COUNT(DISTINCT) from the committed theta sketches (exact below
      * the sketch nominal) — zero data files opened. */
    def distinct(cols: Seq[String]): DataFrame =
      CommitLog.distinctAgg(spark, dir, cols)
    def distinctByPartition(cols: Seq[String]): DataFrame =
      CommitLog.distinctAggByPartition(spark, dir, cols)
    /** Fork a ZERO-COPY branch at `atVersion` (default: latest) and
      * return a Lake addressing it — an independent commit log over
      * the same data directory; no data moves, vacuum counts every
      * branch's references. Experiment freely, then [[fastForward]]
      * or [[dropBranch]]. */
    def branch(name: String, atVersion: Option[Long] = None): Lake = {
      CommitLog.createBranch(spark, dir, name, atVersion)
      Lake(spark, CommitLog.branchTarget(dir, name))
    }
    /** A Lake on an EXISTING branch of this table. */
    def onBranch(name: String): Lake =
      Lake(spark, CommitLog.branchTarget(dir, name))
    /** Branch names with their head versions. */
    def branches: Seq[(String, Long)] = CommitLog.listBranches(spark, dir)
    /** Delete a branch's log; its uniquely-referenced files become
      * vacuum garbage. */
    def dropBranch(name: String, force: Boolean = false): Unit =
      CommitLog.dropBranch(spark, dir, name, force)
    /** Adopt the branch head as this table's next version (legal only
      * when the main line has not advanced past the fork). */
    def fastForward(name: String): Unit = {
      CommitLog.fastForward(spark, dir, name)
      ()
    }
    /** Merge a DIVERGED branch into main: rebase its post-fork delta
      * onto the current head (commit-level conflict units — true
      * partition conflicts fail loudly), then fast-forward — the
      * promote verb for a LIVE table, where main always advances past
      * the fork and [[fastForward]] alone must refuse. */
    def mergeBranch(name: String): Unit = {
      CommitLog.mergeBranch(spark, dir, name)
      ()
    }
    /** Rebase a branch onto the current main head without promoting —
      * the catch-up verb (`git rebase`): the branch then serves
      * main's state plus its own post-fork delta. */
    def rebaseBranch(name: String): Unit = {
      CommitLog.rebaseBranch(spark, dir, name)
      ()
    }
    /** DEEP CLONE this table (at `atVersion`, default latest) to a new
      * fully independent table — distributed byte copy, staged +
      * renamed atomically; manifests/DVs travel with it. */
    def cloneTo(dstDir: String, atVersion: Option[Long] = None): Lake = {
      CommitLog.cloneTable(spark, dir, dstDir, atVersion)
      Lake(spark, dstDir)
    }
    /** Immutably bind a tag name to a version (reproducibility anchor;
      * vacuum keeps it readable). */
    def tag(name: String, version: Long): Unit =
      graft.sources.LakeRefs.tag(spark, dir, name, version)
    def readTag(name: String): DataFrame =
      graft.sources.LakeRefs.readTag(spark, dir, name)
    /** Advance the published pointer (monotone). Consumers via
      * [[readPublished]] see only published versions. */
    def publish(version: Long): Unit =
      graft.sources.LakeRefs.publish(spark, dir, version)
    def readPublished: DataFrame =
      graft.sources.LakeRefs.readPublished(spark, dir)
    /** Write-audit-publish: advance the pointer only if the constraint
      * audit of `version` is clean; returns (published?, report). */
    def publishAudited(version: Long,
        checks: Seq[graft.ops.Constraints.Check]): (Boolean, DataFrame) =
      graft.sources.LakeRefs.publishAudited(spark, dir, version, checks)
    /** Define + persist + bootstrap a materialized view over this table;
      * aggregates over [[read]] matching it are answered from the view
      * by the optimizer. */
    def materialize(viewDir: String, partitionCol: String,
        groupCols: Seq[String], aggs: Seq[Column],
        invertible: Boolean = false): IncrementalView.Definition = {
      val d = IncrementalView.Definition(
        dir, viewDir, partitionCol, groupCols, aggs, invertible)
      graft.plans.MatViewCatalog.persist(spark, d)
      IncrementalView.refresh(spark, d)
      d
    }
    def refreshView(d: IncrementalView.Definition): Seq[String] =
      IncrementalView.refresh(spark, d)
    /** Restore this table's persisted views + constraint declarations
      * into the session's optimizer catalogs. */
    def restoreCatalogs(): Unit = {
      graft.plans.MatViewCatalog.restore(spark, dir)
      graft.plans.ConstraintCatalog.restore(spark, dir)
      ()
    }
  }

  def lake(spark: org.apache.spark.sql.SparkSession, dir: String): Lake =
    Lake(spark, dir)

  /** Open a lake table AND auto-restore its log-resident catalog state
    * (views, audited constraints) once per session — the right first
    * call of a fresh session. See [[graft.sources.Lake.open]]. */
  def open(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.sources.Lake.open(spark, dir)

  /** Handle on a cross-table transaction family: atomic (pinned)
    * visibility over a SET of lake tables through a [[graft.sources
    * .LakeTxn]] manifest. */
  final case class TxnFamily(spark: org.apache.spark.sql.SparkSession,
      txnDir: String) {
    import graft.sources.LakeTxn
    /** A participant at the latest manifest's pinned version. */
    def read(tableDir: String): DataFrame = LakeTxn.read(spark, txnDir, tableDir)
    /** A participant at a HISTORICAL family cut (manifest seq `t`) —
      * time travel across cuts; readable as far back as
      * [[vacuumManifests]] keeps them (their pins are vacuum-proof). */
    def readAt(t: Long, tableDir: String): DataFrame =
      LakeTxn.readAt(spark, txnDir, t, tableDir)
    def pinOf(tableDir: String): Long = LakeTxn.pinOf(spark, txnDir, tableDir)
    /** Publish a new family cut (per-table latest versions), atomically. */
    def commit(pins: Map[String, Long], batchId: Option[Long] = None): Unit = {
      LakeTxn.commit(spark, txnDir, pins, batchId); ()
    }
    /** Atomic multi-table APPEND — all participants or none visible to
      * family readers; heal-forward replay under `batchId`. */
    def appendAll(writes: Seq[(String, DataFrame)], batchId: Long): Unit = {
      LakeTxn.appendAll(spark, txnDir, writes, batchId); ()
    }
    /** Atomic MIXED-VERB write: appends, keyed upserts, predicate
      * deletes, and replaceWhere restatements land under one manifest
      * pin ([[graft.sources.LakeTxn.writeAll]]) — the fact-append +
      * retention-purge compliance shape as one transaction. */
    def writeAll(writes: Seq[LakeTxn.TxnWrite], batchId: Long): Unit = {
      LakeTxn.writeAll(spark, txnDir, writes, batchId); ()
    }
    /** Serve a query batch from a pinned BM25 index participant. */
    def searchIndex(indexDir: String, queries: DataFrame,
        k: Int, arity: Int): DataFrame =
      graft.text.InvertedIndex.searchAt(spark, indexDir,
        pinOf(indexDir), queries, k, arity)
    def vacuumParticipant(tableDir: String): Seq[String] =
      LakeTxn.vacuumParticipant(spark, txnDir, tableDir)
    /** Drop all but the newest `keepLast` family cuts — bounds how far
      * back [[readAt]] reaches. */
    def vacuumManifests(keepLast: Int = 8): Seq[Long] =
      LakeTxn.vacuumManifests(spark, txnDir, keepLast)
  }

  def txnFamily(spark: org.apache.spark.sql.SparkSession,
      txnDir: String): TxnFamily = TxnFamily(spark, txnDir)
}
