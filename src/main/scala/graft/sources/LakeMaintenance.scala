package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction for the parquet lake. Incremental ingest writes
  * one file batch per run (the reference lands ~100 tiny objects/day);
  * at scale the accumulated file count dominates scan planning cost.
  * Compaction rewrites a directory to `targetPartitions` files and swaps
  * it in (write-validate-rename — never in place). Hive partition layout
  * and underscore metadata sidecars (the streaming upsert's commit
  * ledger) survive the swap; bucketed tables go through
  * [[compactBucketed]].
  *
  * SINGLE-WRITER CONTRACT: callers must not run compaction concurrently
  * with ingest into the same directory — the rewrite snapshots the file
  * listing, so files appended mid-compaction would be silently dropped
  * by the swap. (True concurrent maintenance needs a transactional table
  * format; plain parquet directories have no commit protocol.) The
  * two-rename swap also has a crash window between renames: recovery is
  * manual (`dir__old` still holds the data); a leftover `dir__old` from
  * a crashed run fails the next run loudly instead of nesting renames.
  */
object LakeMaintenance {

  final case class CompactionStats(filesBefore: Long, filesAfter: Long, rows: Long)

  /** Bucketed data files carry the bucket id in the name
    * (`..._00012.c000.snappy.parquet`); plain writes use `...-c000...`.
    * The name IS the bucketing at read time, so a rewrite that loses it
    * silently turns every co-located join back into a shuffle. */
  private val BucketedFileName = ".*_\\d{5}\\.c\\d{3}\\..*".r

  /** Partition columns of a Hive-layout directory, outermost first, read
    * from the `name=value` directory names themselves — never from type
    * inference, so the rewrite reproduces the exact on-disk names. */
  private def hivePartitionCols(
      fs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var level = Seq(dir)
    var done = false
    while (!done) {
      val sub = level.flatMap(p => fs.listStatus(p).filter(_.isDirectory)
        .map(_.getPath).filterNot(p => p.getName.startsWith("_") ||
          p.getName.startsWith(".")))
      val kv = sub.filter(_.getName.contains('='))
      if (kv.isEmpty) done = true
      else { out += kv.head.getName.takeWhile(_ != '='); level = kv }
    }
    out.toSeq
  }

  def compact(spark: SparkSession, dir: String, targetPartitions: Int): CompactionStats = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(dir + "__old")
    require(!fs.exists(old),
      s"$old exists — a previous compaction crashed mid-swap; recover or remove it first")

    // Hive-partitioned dirs (the upsert lake's layout) must compact BACK
    // into the same layout — a flat rewrite silently loses partition
    // pruning and breaks the upsert's dynamic partition overwrite. The
    // rewrite shuffles on the partition columns so each partition's rows
    // land in one task → one file per partition value; partition values
    // stay STRINGS end to end (inference off) so directory names
    // round-trip byte-for-byte (e.g. pubdate=2021-03-01, month=01).
    val partCols = hivePartitionCols(fs, new Path(dir))
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val inferWas = spark.conf.get(inferKey)
    if (partCols.nonEmpty) spark.conf.set(inferKey, "false")
    try {
      val df = spark.read.parquet(dir)
      val rows = df.count()
      val files = df.select(input_file_name()).distinct()
        .collect().map(_.getString(0))
      // a bucketed TABLE's directory must never go through the plain path:
      // repartition(n) would rewrite the files without bucket ids and the
      // metastore's bucket spec would silently stop matching the data
      files.find(f => BucketedFileName.matches(f.split('/').last)).foreach { f =>
        throw new IllegalArgumentException(
          s"$dir holds bucketed table files (e.g. ${f.split('/').last}) — " +
            "plain compaction would silently destroy bucketing; use compactBucketed")
      }
      val filesBefore = files.length.toLong

      val tmp = dir + "__compacting"
      val writer =
        if (partCols.isEmpty) df.repartition(targetPartitions).write
        else df.repartition(targetPartitions, partCols.map(col): _*)
          .write.partitionBy(partCols: _*)
      writer.mode(SaveMode.Overwrite).parquet(tmp)

      val written = spark.read.parquet(tmp)
      require(written.count() == rows,
        s"compaction row-count mismatch in $dir — aborting swap")
      val filesAfter = written.select(input_file_name()).distinct().count()

      require(fs.rename(new Path(dir), old), s"cannot stage $dir aside")
      if (!fs.rename(new Path(tmp), new Path(dir))) {
        fs.rename(old, new Path(dir)) // roll back
        throw new IllegalStateException(s"compaction swap failed for $dir")
      }
      // metadata sidecars (`_`-prefixed directories such as a writer's
      // ledger) are invisible to the parquet read, so the rewrite never
      // carries them — move them across before the staged copy is deleted
      // or their state would be lost with every compaction
      fs.listStatus(old).map(_.getPath)
        .filter(p => p.getName.startsWith("_") && p.getName != "_SUCCESS")
        .foreach { p =>
          val dest = new Path(dir, p.getName)
          if (!fs.exists(dest)) fs.rename(p, dest)
        }
      fs.delete(old, true)
      // the carried-over zone-map manifest now describes files the swap
      // just deleted — refresh it (compaction replaces every file, so
      // this is a full stats pass) or every later scan would silently
      // fall back to unpruned until someone remembered buildManifest
      DataSkipping.refreshManifest(spark, dir)
      CompactionStats(filesBefore, filesAfter, rows)
    } finally spark.conf.set(inferKey, inferWas)
  }

  /** Compaction for a BUCKETED table ([[BucketedLake.writeBucketed]]):
    * rewrites the data with the table's OWN bucket spec (read from the
    * metastore, never re-stated by the caller) so the co-located-join
    * property survives, then swaps directories under the ORIGINAL
    * metastore entry — table name, location, and bucket metadata are all
    * unchanged; only the files compact.
    *
    * One file per bucket: `repartition(n, bucketCol)` is the same
    * murmur3-pmod partitioning the bucket layout uses, so each write
    * task holds exactly one bucket's rows. Same single-writer contract
    * and crash posture as [[compact]]: a leftover `__old` directory
    * fails the next run loudly; the staging TABLE from a crashed run is
    * external (dropping it never touches data) and is reclaimed here.
    */
  def compactBucketed(spark: SparkSession, table: String): CompactionStats = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table has no bucket spec — use compact(dir) for plain directories"))
    require(meta.partitionColumnNames.isEmpty,
      s"$table is partitioned — per-partition bucketed compaction is unsupported")
    val dir = new Path(meta.location)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(dir.toString + "__old")
    require(!fs.exists(old),
      s"$old exists — a previous compaction crashed mid-swap; recover or remove it first")

    // read the FILES, not the table: against the table, the planner sees the
    // scan as already hash-partitioned on the bucket column and drops the
    // repartition below as redundant — while actually running a non-bucketed
    // scan (file-split tasks, mixed buckets), which fans the rewrite out to
    // one file per (task, bucket) pair instead of one per bucket
    // (measured: 64 → 27 files instead of 64 → 8)
    val df = spark.read.parquet(dir.toString)
    val rows = df.count()
    val filesBefore = df.select(input_file_name()).distinct().count()

    val tmpTable = table + "__compacting"
    val tmpDir = dir.toString + "__compacting"
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable") // crashed-run metadata only
    val bucketCols = spec.bucketColumnNames
    val writer = df
      .repartition(spec.numBuckets, bucketCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("path", tmpDir)
      .bucketBy(spec.numBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted = spec.sortColumnNames match {
      case Nil          => writer
      case s +: rest    => writer.sortBy(s, rest: _*)
    }
    sorted.saveAsTable(tmpTable)

    val written = spark.table(tmpTable)
    require(written.count() == rows,
      s"compaction row-count mismatch for $table — aborting swap")
    val filesAfter = written.select(input_file_name()).distinct().count()

    require(fs.rename(dir, old), s"cannot stage $dir aside")
    if (!fs.rename(new Path(tmpDir), dir)) {
      fs.rename(old, dir) // roll back
      throw new IllegalStateException(s"compaction swap failed for $table")
    }
    spark.sql(s"DROP TABLE $tmpTable") // external: metadata only, data already swapped in
    // metadata sidecars (commit ledger, zone-map manifest) are invisible
    // to the table read, so the rewrite never carries them — same move as
    // [[compact]] before the staged copy is deleted
    fs.listStatus(old).map(_.getPath)
      .filter(p => p.getName.startsWith("_") && p.getName != "_SUCCESS")
      .foreach { p =>
        val dest = new Path(dir, p.getName)
        if (!fs.exists(dest)) fs.rename(p, dest)
      }
    fs.delete(old, true)
    spark.catalog.refreshTable(table) // drop cached listings of the old files
    DataSkipping.refreshManifest(spark, dir.toString) // keep the zone map fresh
    CompactionStats(filesBefore, filesAfter, rows)
  }

  /** Write a corpus as `nShards` training shards: range-partitioned on
    * the id (each shard owns a contiguous, disjoint id interval — a
    * reader can map shard → id range without an index) and sorted within
    * each shard so downstream packing/streaming reads are sequential.
    * repartitionByRange samples the key distribution, so shards balance
    * even when ids are dense at one end — unlike hash-mod sharding,
    * which cannot give contiguous ranges, or manual bounds, which skew
    * when the id space has holes. */
  def writeTrainingShards(
      df: org.apache.spark.sql.DataFrame, idCol: String,
      nShards: Int, dir: String): Unit =
    df.repartitionByRange(nShards, col(idCol))
      .sortWithinPartitions(col(idCol))
      .write.mode(SaveMode.Overwrite).parquet(dir)
}
