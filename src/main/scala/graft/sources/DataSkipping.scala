package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data skipping via a min/max manifest — the zone-map
  * primitive that turns clustered layout (range partitioning, z-order à
  * la q86) into actual I/O savings: a point or range query over a
  * clustered column should open the handful of files whose value range
  * overlaps the predicate, not every file in the lake.
  *
  * Spark's parquet reader already skips ROW GROUPS via footer stats, but
  * it still has to open every file to read its footer — at 100 TB with
  * millions of files, file listing + footer reads dominate a selective
  * query. The manifest moves those stats into ONE tiny sidecar table
  * (`_graft_manifest/`, underscore-prefixed so lake scans and the
  * compactor's data-file listing ignore it): per (file, column):
  * min, max, null count. Pruning reads the manifest (kilobytes),
  * keeps files whose [min, max] overlaps the predicate, and hands the
  * survivor list to one parquet scan.
  *
  * Staleness contract: the manifest records the file set it was built
  * from. `scan` compares that against the directory's CURRENT data files
  * and falls back to the unpruned scan (with a stderr warning) on any
  * mismatch — a stale zone map must degrade to correct-but-slower, never
  * to wrong answers. The lake's own maintenance ops self-maintain it:
  * `LakeMaintenance.compact`/`compactBucketed` call [[refreshManifest]]
  * after their write, so the fallback only covers out-of-band writers.
  *
  * The survivor file list is driver-resident: one string per data file,
  * the same metadata-plane footprint every table format's planning phase
  * carries (file listings are already driver-side in Spark).
  */
object DataSkipping {

  private val ManifestDir = "_graft_manifest"

  /** Canonical RAW filesystem path for any of the three spellings a
    * file path reaches us in: `input_file_name()` / `Path.toUri` emit
    * URI-ENCODED strings with a scheme (`file:///x/p=A%20B/f`), Hadoop
    * listings carry raw names, and our own stored rels are raw. A
    * scheme-prefixed string is a URI — parse it and take the DECODED
    * path; a bare string is already raw and must NOT be decoded (an
    * on-disk name may contain a literal `%` from hive escaping — p=a%3Ab
    * for value "a:b" — which a second decode would corrupt). Mixing the
    * two spellings without this rule is exactly how partition values
    * with spaces broke the path round-trip. */
  private[sources] def rawPath(s: String): String =
    if (s.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*"))
      new java.net.URI(s).getPath
    else s

  private def normalize(uri: String): String = rawPath(uri)

  /** One pass over the lake: per-file row count + min/max/null-count for
    * `cols`, written as the manifest sidecar (overwrite). */
  def buildManifest(spark: SparkSession, dir: String, cols: Seq[String]): Unit =
    fileStats(spark, dir, dataFiles(spark, dir).toSeq.sorted, cols)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$ManifestDir")

  /** Current data files of the lake (absolute URIs, sidecars excluded) —
    * the same view `input_file_name()` reports during a scan. RECURSIVE:
    * a 100 TB lake is hive-partitioned (nested `key=value` directories),
    * so a top-level-only listing would see zero data files, trip the
    * staleness check, and permanently disable pruning exactly where it
    * matters. Files under any `_`- or `.`-prefixed path component
    * (sidecars like `_graft_manifest`, hidden dirs) are
    * excluded — the same visibility rule Spark's own file index applies. */
  private[sources] def dataFiles(spark: SparkSession, dir: String): Set[String] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Set.newBuilder[String]
    // manual walk, NOT fs.listFiles(recursive=true): hidden dirs
    // (_staging, _graft_log, Spark's _temporary) are pruned BEFORE
    // descending — the blind recursion statted every in-flight staging
    // file it was about to discard, which is wasted RPCs at 100 TB and
    // a crash under live writers (RawLocalFS throws a RuntimeException,
    // not FileNotFound, when a _temporary file vanishes between list
    // and stat — the storm's vacuum-under-transaction leg caught it).
    // Entries that vanish mid-walk in a visible dir are skipped the
    // same way: a concurrent writer's or vacuum's delete is that
    // file's OWNER racing ahead, never state this listing must hold.
    def vanished(e: Throwable): Boolean = e match {
      case null => false
      case _: java.io.FileNotFoundException => true
      case _ => (e.getMessage != null &&
        (e.getMessage.contains("No such file") ||
          e.getMessage.contains("does not exist"))) || vanished(e.getCause)
    }
    def walk(p: Path): Unit = {
      val entries =
        try fs.listStatus(p)
        catch {
          case e: Exception if vanished(e) => return
        }
      entries.foreach { st =>
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          if (st.isDirectory) walk(st.getPath)
          else if (name.endsWith(".parquet"))
            // RAW absolute path (toUri.getPath decodes what toUri
            // encoded): the canonical spelling consumers store
            out += st.getPath.toUri.getPath
        }
      }
    }
    walk(path)
    out.result()
  }

  /** Range scan `col ∈ [lo, hi]` with manifest pruning. Returns the
    * filtered DataFrame plus (filesRead, filesTotal) for observability.
    * Falls back to the full scan when the manifest is missing or stale. */
  def scanRange(spark: SparkSession, dir: String, c: String,
      lo: Long, hi: Long): (DataFrame, (Int, Int)) =
    scanBox(spark, dir, Seq((c, lo, hi)))

  /** Multi-dimensional box scan: every `(col, lo, hi)` bound must hold.
    * A file survives pruning only if EVERY bound's [min, max] interval
    * overlaps its range — with a z-order-clustered layout
    * ([[graft.ops.GeoOps.zorderKey]]) each file covers a tight bounding
    * box in the interleaved dimensions, so a 2-D box query prunes on
    * both columns at once (the reason to z-order at all). Same staleness
    * contract as [[scanRange]]. */
  def scanBox(spark: SparkSession, dir: String,
      bounds: Seq[(String, Long, Long)]): (DataFrame, (Int, Int)) = {
    require(bounds.nonEmpty, "scanBox needs at least one bound")
    val predicate = bounds.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }
      .reduce(_ && _)
    val current = dataFiles(spark, dir)
    def full = (spark.read.parquet(dir).filter(predicate),
      (current.size, current.size))
    val manifestPath = new Path(s"$dir/$ManifestDir")
    val fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(manifestPath)) return full
    val manifestDf = spark.read.parquet(s"$dir/$ManifestDir")
    val needed = bounds.flatMap { case (c, _, _) => Seq(s"min_$c", s"max_$c") }
    if (!needed.forall(manifestDf.columns.contains)) {
      System.err.println(s"[skipping] manifest for $dir lacks columns " +
        s"${needed.filterNot(manifestDf.columns.contains).mkString(",")} " +
        "— falling back to full scan; rebuild with buildManifest")
      return full
    }
    val manifest = manifestDf
      .select(col("file") +: needed.map(col): _*).collect()
    val manifestFiles = manifest.map(r => normalize(r.getString(0))).toSet
    if (manifestFiles != current.map(normalize)) {
      System.err.println(s"[skipping] stale manifest for $dir " +
        s"(${manifestFiles.size} manifest vs ${current.size} current files) " +
        "— falling back to full scan; rebuild with buildManifest")
      return full
    }
    // a file whose min or max is null for a bound column holds only
    // nulls there — it cannot match a range on that column
    val survivors = manifest.filter { r =>
      bounds.zipWithIndex.forall { case ((_, lo, hi), i) =>
        val minIdx = 1 + 2 * i
        val maxIdx = 2 + 2 * i
        // stats keep the column's own numeric type (int/long/double) —
        // compare through Number, not an assumed Long
        !r.isNullAt(minIdx) && !r.isNullAt(maxIdx) &&
          r.getAs[Number](maxIdx).doubleValue() >= lo &&
          r.getAs[Number](minIdx).doubleValue() <= hi
      }
    }.map(_.getString(0))
    // basePath keeps hive partition columns visible when reading an
    // explicit file list out of a partitioned layout — without it the
    // survivor scan would silently drop the `key=value` columns and a
    // predicate on one of them would fail to resolve
    val df =
      if (survivors.isEmpty)
        spark.read.parquet(dir).filter(predicate).limit(0)
      else spark.read.option("basePath", dir)
        .parquet(survivors.toIndexedSeq.map(rawPath): _*).filter(predicate)
    (df, (survivors.length, current.size))
  }

  /** Incremental manifest refresh after a write. Parquet data files are
    * immutable, so every file already in the manifest keeps its stats
    * row; only files NEW since the last build are scanned and files that
    * vanished are dropped. Cost therefore scales with the touched slice:
    * an upsert that rewrote three partitions re-aggregates three
    * partitions' files, while a full compaction (all files replaced)
    * degrades to a `buildManifest`-equivalent full pass. No-op when the
    * lake has no manifest — skipping stays opt-in per lake — and when the
    * manifest is already fresh. This is the self-maintenance hook
    * `LakeMaintenance.compact`/`compactBucketed` call, mirroring how the
    * reference's Postgres indexes maintain themselves on write
    * (`/root/reference/database/schema.sql:31-33`). */
  def refreshManifest(spark: SparkSession, dir: String): Unit = {
    val manifestPath = new Path(s"$dir/$ManifestDir")
    val fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(manifestPath)) return
    val old = spark.read.parquet(manifestPath.toString)
    val cols = old.columns.toSeq.collect {
      case c if c.startsWith("min_") => c.stripPrefix("min_")
    }
    if (cols.isEmpty) return
    // pre-`rows` manifest generation: upgrade by full rebuild once
    if (!old.columns.contains("rows")) { buildManifest(spark, dir, cols); return }
    val current = dataFiles(spark, dir)
    val currentNorm = current.map(normalize)
    // one string per file — the same driver-resident metadata-plane
    // footprint `scan` already carries (documented above)
    val oldFiles = old.select(col("file")).collect().map(_.getString(0))
    val oldNorm = oldFiles.map(normalize).toSet
    val keepFiles = oldFiles.filter(f => currentNorm.contains(normalize(f))).toSeq
    val newFiles = current.filter(f => !oldNorm.contains(normalize(f))).toSeq
    if (newFiles.isEmpty && keepFiles.size == oldFiles.length) return // fresh
    val keep = old.filter(col("file").isInCollection(keepFiles))
    val merged =
      if (newFiles.isEmpty) keep
      else keep.unionByName(fileStats(spark, dir, newFiles, cols))
    // the rewrite reads the manifest it replaces — snapshot first (Spark
    // rejects reading and overwriting one path in a single job)
    val snapshot = merged.localCheckpoint()
    try snapshot.coalesce(1).write.mode("overwrite").parquet(manifestPath.toString)
    finally graft.runtime.Lifetime.release(snapshot)
  }

  /** Per-file stats for an explicit file list — the zone-map aggregate
    * shared by [[buildManifest]], [[refreshManifest]], and the commit
    * log's per-version stats snapshot. Always computes the file's exact
    * row count (with the per-column null counts this makes
    * `count(*)`/`count(c)` a pure metadata-plane answer —
    * [[graft.sources.CommitLog.statsAgg]]); `sketchCols` adds per-file
    * KLL(200) quantile sketches ([[graft.sources.CommitLog.quantiles]]),
    * `bloomCols` adds per-file Bloom filters sized for `bloomExpect`
    * values at 3% fpp ([[graft.sources.CommitLog.scanPoint]]). All of it
    * rides ONE scan+aggregate pass over exactly the new files. */
  private[sources] def fileStats(spark: SparkSession, dir: String,
      files: Seq[String], cols: Seq[String],
      sketchCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomExpect: Long = 1L << 20,
      thetaCols: Seq[String] = Nil,
      thetaLgK: Int = 14): DataFrame = {
    val aggs = (count(lit(1)).as("rows") +: cols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    }) ++ sketchCols.map { c =>
      graft.functions.NativeSketches.kllAgg(col(c), 200).as(s"kll_$c")
    } ++ bloomCols.map { c =>
      graft.functions.NativeBloom.bloomAgg(col(c), bloomExpect).as(s"bloom_$c")
    } ++ thetaCols.map { c =>
      graft.functions.NativeSketches.thetaAgg(col(c), thetaLgK)
        .as(s"theta_$c")
    }
    // input_file_name() is URI-encoded; store the canonical RAW path so
    // manifest rows compare and read back against snapshot rels exactly
    val decode = udf((s: String) => rawPath(s))
    spark.read.option("basePath", dir).parquet(files: _*)
      .withColumn("__file", decode(input_file_name()))
      .groupBy(col("__file").as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }
}
