package graft.sources

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.ScanBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** The file index of ONE committed snapshot — the single listing and
  * pruning path under every `graft-lake` read (provider scans,
  * [[CommitLog.read]]/[[CommitLog.readAt]], the change feed, the
  * deletion-vector anti-join, the `scan*` verbs); the shape of Delta's
  * `TahoeFileIndex` (Armbrust et al., VLDB 2020).
  *
  *  - LISTING is the commit: the index holds exactly `files` (the
  *    snapshot's committed files or a subset). No directory walk, no
  *    listing job: statuses come from ONE `listStatus` per partition
  *    directory a scan opens, filtered to committed names. A committed
  *    file missing from storage fails the read; it never shrinks it.
  *  - PRUNING is [[CommitLog.selectFilesForFilters]], asked with
  *    Catalyst's pushed filters, so the scan node's `numFiles` metric
  *    and EXPLAIN show what was read. Partition filters are then
  *    evaluated exactly per directory (Spark does not re-apply them
  *    above a file scan). Selections are memoized per filter set:
  *    re-planning a read (AQE, a derived frame) re-reads no manifest. */
private[graft] final class SnapshotFileIndex(
    spark: SparkSession, dir: String, snap: CommitLog.Snapshot,
    files: Seq[String], override val partitionSchema: StructType)
    extends FileIndex {

  private val base = CommitLog.dataDir(dir)
  private val fs = new Path(base).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** The data files, qualified — the identity plan rules match scans by
    * ([[graft.plans.RewriteAggregateOnView]], EliminateRiDimJoin). */
  override val rootPaths: Seq[Path] =
    files.map(r => fs.makeQualified(new Path(s"$base/$r")))

  private lazy val rootSet = rootPaths.toSet

  private def parentOf(rel: String): String = rel.lastIndexOf('/') match {
    case -1 => ""
    case i => rel.substring(0, i)
  }

  private val listed = new ConcurrentHashMap[String, Map[String, FileStatus]]()

  /** Statuses of the committed `rels` of directory `sub`, from one
    * memoized `listStatus` of that directory. */
  private def statuses(sub: String, rels: Seq[String]): Seq[FileStatus] = {
    val byName = listed.computeIfAbsent(sub, _ =>
      fs.listStatus(if (sub.isEmpty) new Path(base) else new Path(base, sub))
        .iterator.map(st => st.getPath.getName -> st).toMap)
    rels.map(r => byName.getOrElse(r.substring(r.lastIndexOf('/') + 1),
      throw new FileNotFoundException(
        s"$dir version ${snap.version} commits data file $r, which is " +
          "missing from storage — the snapshot cannot be read (restore " +
          "the file, or RESTORE the table to a version without it)")))
  }

  private val values = new ConcurrentHashMap[String, InternalRow]()

  /** Typed partition values of directory `sub` (`k=v/...` segments,
    * hive-unescaped; the default partition is null). */
  private def valuesOf(sub: String): InternalRow = values.computeIfAbsent(
    sub, _ => {
      val kv = sub.split('/').iterator.filter(_.contains('=')).map { seg =>
        val i = seg.indexOf('=')
        ExternalCatalogUtils.unescapePathName(seg.substring(0, i)) ->
          seg.substring(i + 1)
      }.toMap
      val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
      InternalRow.fromSeq(partitionSchema.fields.toSeq.map { f =>
        kv.get(f.name).filter(_ != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
          .map(raw => Cast(Literal(ExternalCatalogUtils.unescapePathName(raw)),
            f.dataType, tz).eval()).orNull
      })
    })

  private def partitionKeep(filters: Seq[Expression]): InternalRow => Boolean =
    if (filters.isEmpty) _ => true
    else {
      val resolver = spark.sessionState.conf.resolver
      val p = Predicate.createInterpreted(filters.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.indexWhere(f => resolver(f.name, a.name))
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      p.eval
    }

  private val selections = new ConcurrentHashMap[Seq[Filter], Seq[String]]()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pushed = (partitionFilters ++ dataFilters).flatMap(
      ScanBridge.translateFilter)
    val chosen = selections.computeIfAbsent(pushed,
      f => CommitLog.selectFilesForFilters(spark, dir,
        snap.copy(files = files), f))
    val keep = partitionKeep(partitionFilters)
    chosen.groupBy(parentOf).toSeq.sortBy(_._1).flatMap { case (sub, rels) =>
      val v = valuesOf(sub)
      if (!keep(v)) None
      else Some(PartitionDirectory(v,
        statuses(sub, rels).map(FileStatusWithMetadata(_))))
    }
  }

  override def inputFiles: Array[String] = rootPaths.map(_.toString).toArray

  override def refresh(): Unit = () // a committed snapshot never changes

  /** The files' real byte count: join planning broadcasts a small lake
    * table instead of defaulting to the sort-merge cliff. */
  override def sizeInBytes: Long = files.groupBy(parentOf).iterator
    .map { case (sub, rels) => statuses(sub, rels).map(_.getLen).sum }.sum

  override def equals(o: Any): Boolean = o match {
    case i: SnapshotFileIndex =>
      rootSet == i.rootSet && partitionSchema == i.partitionSchema
    case _ => false
  }

  override def hashCode: Int = rootSet.hashCode
}

private[graft] object SnapshotFileIndex extends AdaptiveSparkPlanHelper {

  /** The file-scan relation over `files` of `s` under its PHYSICAL
    * schema (committed logical schema with renamed columns mapped back
    * to their on-file birth names; data columns in committed order,
    * hive partition columns last in path-nesting order — the shape a
    * `basePath` parquet read of the same files surfaces). A log from
    * before schemas were committed takes its data schema from the file
    * footers and reads partition values as strings. */
  def relation(spark: SparkSession, dir: String, s: CommitLog.Snapshot,
      files: Seq[String], options: Map[String, String] = Map.empty)
      : HadoopFsRelation = {
    val partCols = CommitLog.partColsOf(s)
    val committed = s.schemaJson.map { j =>
      val logical = DataType.fromJson(j).asInstanceOf[StructType]
      StructType(logical.fields.map(f =>
        f.copy(name = s.physNames.getOrElse(f.name, f.name))))
    }
    val partSchema = ScanBridge.asNullable(StructType(partCols.map(c =>
      committed.flatMap(_.find(_.name == c))
        .getOrElse(StructField(c, StringType)))))
    val index = new SnapshotFileIndex(spark, dir, s, files, partSchema)
    val dataSchema = committed.getOrElse {
      if (files.isEmpty) throw new IllegalStateException(
        s"version ${s.version} of $dir carries no committed schema — " +
          "cannot shape an empty read")
      new ParquetFileFormat().inferSchema(spark, options,
        index.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus)))
        .getOrElse(new StructType())
    }
    HadoopFsRelation(index, partSchema, ScanBridge.asNullable(StructType(
        dataSchema.filterNot(f => partCols.contains(f.name)))),
      None, new ParquetFileFormat, options)(spark)
  }

  /** Files the planned snapshot scans of `df` read — the scan nodes' own
    * selection (their `numFiles`), so a verb's `filesRead` and its read
    * cannot disagree. Plans `df` once; executing `df` reuses the plan. */
  def filesScanned(df: DataFrame): Int = collect(df.queryExecution.executedPlan) {
    case f: FileSourceScanExec if f.relation.location.isInstanceOf[SnapshotFileIndex] =>
      f.selectedPartitions.totalNumberOfFiles.toInt
  }.sum
}
