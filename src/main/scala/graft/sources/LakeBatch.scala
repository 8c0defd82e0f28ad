package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, HadoopFsRelation}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{BaseRelation, PrunedFilteredScan, PrunedScan}
import org.apache.spark.sql.types.StructType

/** BATCH `format("graft-lake")` — the Delta-shaped entry points
  * `spark.read.format("graft-lake").load(dirOrName)` and
  * `df.write.format("graft-lake").mode(...).save(dirOrName)`, completing
  * the provider triangle (the streaming source and sink already ride
  * the same registration). Read options: `versionAsOf` / `timestampAsOf`
  * (the TIMESTAMP AS OF resolver); either form of target may carry an
  * `@<branch>` suffix.
  *
  * The READ plan matters at 100 TB: the common case (no outstanding
  * deletion vectors, no renamed columns) returns a real
  * [[HadoopFsRelation]] over the snapshot's [[SnapshotFileIndex]] — the
  * SAME scan node a parquet path read gets, so predicate pushdown,
  * partition pruning, column pruning, and whole-stage codegen all
  * engage. The index lists exactly the committed files (no directory
  * walk, no listing job; one `listStatus` per partition directory the
  * scan opens, for file sizes) and prunes them against the committed
  * manifest inside the scan node. Snapshots that need row-level
  * semantics the file scan cannot express (outstanding deletion
  * vectors' anti-join, rename aliasing) fall back to a
  * [[PrunedFilteredScan]] relation that delegates to the commit log's
  * own read path — which reads through the same index, so pushed
  * filters still prune files; Spark re-applies every filter above it
  * (the V1 contract), so results are exact at the cost of the RDD[Row]
  * boundary. Compaction materializes the vectors and the table returns
  * to the fast path. */
private[graft] object LakeBatch {

  private def opt(parameters: Map[String, String], name: String)
      : Option[String] = parameters.collectFirst {
    case (k, v) if k.equalsIgnoreCase(name) => v
  }

  private def snapshotFor(spark: SparkSession, dir: String,
      parameters: Map[String, String]): CommitLog.Snapshot = {
    val latest = CommitLog.latest(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"$dir has no commit log — not a graft table (write one with " +
          "df.write.format(\"graft-lake\").save(...), CommitLog.init, " +
          "or CREATE TABLE)"))
    (opt(parameters, "versionAsOf"), opt(parameters, "timestampAsOf")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "versionAsOf and timestampAsOf are mutually exclusive")
      case (Some(v), None) => CommitLog.snapshotAt(spark, dir, v.toLong)
      case (None, Some(ts)) => CommitLog.snapshotAt(spark, dir,
        CommitLog.versionAsOf(spark, dir, LakeSqlDml.asOfMillis(ts)))
      case (None, None) => latest
    }
  }

  def readRelation(spark: SparkSession, dir: String,
      parameters: Map[String, String]): BaseRelation = {
    if (opt(parameters, "readChangeFeed").exists(_.toBoolean))
      return cdfRelation(spark, dir, parameters)
    val s = snapshotFor(spark, dir, parameters)
    if (s.dvs.isEmpty && s.physNames.isEmpty)
      SnapshotFileIndex.relation(spark, dir, s, s.files, parameters)
    else
      // row-level semantics beyond a file scan: DV anti-join / rename
      // aliasing — exact via the commit log's own read path
      GraftLakeScanRelation(spark, dir, s.version)
  }

  /** Batch CHANGE-DATA-FEED read (Delta's
    * `option("readChangeFeed", true)` shape): `startingVersion` →
    * optional `endingVersion` (default: latest) with `keyColumns` —
    * `_change_type`-labeled insert/delete/update pre+post rows over
    * the range, churn-pruned at both ends ([[CommitLog.changeFeed]]).
    * Served through the exact-path relation: the feed is a diff, not
    * a file set. */
  private def cdfRelation(spark: SparkSession, dir: String,
      parameters: Map[String, String]): BaseRelation = {
    val from = opt(parameters, "startingVersion").map(_.toLong).getOrElse(
      throw new IllegalArgumentException(
        "readChangeFeed needs startingVersion (the feed starts AFTER it)"))
    val to = opt(parameters, "endingVersion").map(_.toLong).getOrElse(
      CommitLog.latest(spark, dir).map(_.version).getOrElse(
        throw new IllegalStateException(s"$dir has no commit log")))
    val keys = opt(parameters, "keyColumns")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
    require(keys.nonEmpty,
      "readChangeFeed needs option keyColumns (comma-separated) — " +
        "the identity update pairs key on")
    if (to <= from) {
      // the steady state of an incremental poller: no new commits past
      // the cursor — an EMPTY feed in the SAME shape a non-empty poll
      // returns (derived from the table's own read schema, which is
      // what changeFeed's row images surface; a hand-reordered shape
      // here would flip the reader's column order between polls)
      return GraftLakeFrameRelation(spark, CommitLog.read(spark, dir)
        .limit(0).withColumn("_change_type", lit(null).cast("string")))
    }
    GraftLakeFrameRelation(spark,
      CommitLog.changeFeed(spark, dir, from, to, keys))
  }

  /** `df.write.format("graft-lake")` verbs. Append/Overwrite on an
    * existing table are the commit log's own verbs (exactly the same
    * commits the catalog and SQL surfaces land — additive schema
    * evolution, type widening, multi-writer rebase all apply); on a
    * missing table EVERY mode creates it (the Delta convention —
    * Ignore's no-op clause applies only when the table already
    * exists), with `partitionBy(...)` driving the hive layout. */
  def write(spark: SparkSession, dir: String, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): Unit = {
    val partCols = opt(parameters, DataSourceUtils.PARTITIONING_COLUMNS_KEY)
      .map(DataSourceUtils.decodePartitioningColumns)
      .getOrElse(Nil)
    CommitLog.latest(spark, dir) match {
      case Some(s) =>
        require(partCols.isEmpty ||
          partCols == CommitLog.tableMeta(spark, dir, s)._2,
          s"write into $dir: partitionBy(${partCols.mkString(", ")}) " +
            "conflicts with the table's committed layout " +
            s"(${CommitLog.tableMeta(spark, dir, s)._2.mkString(", ")})")
        val replaceWhere = opt(parameters, "replaceWhere")
        val dynamicPO = opt(parameters, "partitionOverwriteMode")
          .exists(_.equalsIgnoreCase("dynamic"))
        // idempotent-write identity (Delta's txnAppId/txnVersion): a
        // replayed (appId, version) append is a no-op
        val txn = (opt(parameters, "txnAppId"),
          opt(parameters, "txnVersion")) match {
          case (Some(a), Some(v)) => Some((a, v.toLong))
          case (None, None) => None
          case _ => throw new IllegalArgumentException(
            "txnAppId and txnVersion must be set together")
        }
        require(txn.isEmpty || mode == SaveMode.Append,
          s"write into $dir: txnAppId/txnVersion ride Append mode")
        mode match {
          case SaveMode.Append =>
            // overwrite-scoped options on an append would otherwise be
            // silently ignored — duplicated data, discovered much later
            require(replaceWhere.isEmpty && !dynamicPO,
              s"write into $dir: replaceWhere / " +
                "partitionOverwriteMode=dynamic are Overwrite-mode " +
                "options (mode(SaveMode.Overwrite))")
            CommitLog.append(spark, data, dir, txn = txn)
          case SaveMode.Overwrite if replaceWhere.isDefined =>
            // Delta's replaceWhere: one atomic commit that deletes the
            // predicate's rows and lands the replacement — INCLUDING
            // Delta's constraint that every incoming row satisfies the
            // predicate (a stray out-of-predicate row would silently
            // duplicate data it never replaced)
            val pred = org.apache.spark.sql.functions.expr(replaceWhere.get)
            val stray = data.filter(!org.apache.spark.sql.functions
              .coalesce(pred, org.apache.spark.sql.functions.lit(false)))
              .limit(1).collect()
            require(stray.isEmpty,
              s"replaceWhere '${replaceWhere.get}' into $dir: incoming " +
                s"rows must satisfy the predicate; found ${stray.head}")
            CommitLog.replaceWhere(spark, dir, pred, data)
          case SaveMode.Overwrite if dynamicPO =>
            // dynamic partition overwrite: replace exactly the
            // partitions the incoming rows touch (bounded enumeration)
            val partCols = CommitLog.tableMeta(spark, dir, s)._2
            require(partCols.nonEmpty,
              s"partitionOverwriteMode=dynamic on $dir needs a hive-" +
                "partitioned table")
            val cap = 10000
            val parts = data.select(partCols.map(col): _*).distinct()
              .limit(cap + 1).collect()
            require(parts.length <= cap,
              s"dynamic partition overwrite into $dir touches more " +
                s"than $cap partitions — use a full overwrite or " +
                "replaceWhere")
            CommitLog.replacePartitionTuples(spark, data, dir, partCols,
              parts.toSeq.map(r => partCols.indices.map(r.get)))
          case SaveMode.Overwrite => CommitLog.overwrite(spark, data, dir,
            CommitLog.tableMeta(spark, dir, s)._2)
          case SaveMode.ErrorIfExists => throw new IllegalStateException(
            s"$dir already holds a graft table (SaveMode.ErrorIfExists)")
          case SaveMode.Ignore => ()
        }
        ()
      case None =>
        // every mode creates a missing table (SaveMode.Ignore's no-op
        // clause applies only when data already exists)
        require(CommitLog.branchOf(dir).isEmpty,
          s"cannot create a table at branch target $dir — branches fork " +
            "from an existing table via createBranch")
        require(opt(parameters, "replaceWhere").isEmpty &&
          !opt(parameters, "partitionOverwriteMode")
            .exists(_.equalsIgnoreCase("dynamic")),
          s"write creating $dir: replaceWhere / partitionOverwriteMode " +
            "have no meaning on a first write")
        // idempotency must hold for the CREATING write too: the txn
        // identity rides the init commit itself (crash after init →
        // the retry finds the table and the recorded high-water mark;
        // crash before init → the parquet ErrorIfExists fails the
        // retry loudly, nothing was committed)
        val txnProps = (opt(parameters, "txnAppId"),
          opt(parameters, "txnVersion")) match {
          case (Some(a), Some(v)) => Map(s"graft.txn.$a" -> v)
          case (None, None) => Map.empty[String, String]
          case _ => throw new IllegalArgumentException(
            "txnAppId and txnVersion must be set together")
        }
        // create-by-write: land the files, then snapshot them as v1 —
        // init's CAS resolves racing creators to one winner
        val writer =
          if (partCols.isEmpty) data.write
          else data.write.partitionBy(partCols: _*)
        writer.parquet(dir)
        CommitLog.init(spark, dir, props = txnProps)
        ()
    }
  }
}

/** Exact fallback relation for snapshots a plain file scan cannot
  * express (outstanding deletion vectors, renamed columns): delegates
  * to the commit log's read path — the DV anti-join and rename
  * aliasing live there — as a [[PrunedFilteredScan]]. Every
  * translatable filter is applied INSIDE the inner plan, where Catalyst
  * pushes it through the DV anti-join into the snapshot's file scan
  * (its [[SnapshotFileIndex]] prunes files, the parquet reader row
  * groups), so a heavily-MoR table does not pay a full scan until its
  * next compaction; [[sizeInBytes]] is the index's real byte count, so
  * a small table still broadcasts in a join. Spark's V1 contract
  * re-applies every filter above [[buildScan]], so results stay exact. */
private[graft] final case class GraftLakeScanRelation(
    spark: SparkSession, dir: String, version: Long) extends BaseRelation
    with PrunedFilteredScan {

  override def sqlContext: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private lazy val snap = CommitLog.snapshotAt(spark, dir, version)

  // schema from the committed metadata (no plan, no DV footer I/O),
  // in the order every read surfaces: data columns, partitions last
  override val schema: StructType = {
    val (sch, partCols, _) = CommitLog.tableMeta(spark, dir, snap)
    val (partF, dataF) = sch.fields.partition(f =>
      partCols.contains(f.name))
    StructType(dataF ++ partF)
  }

  override lazy val sizeInBytes: Long =
    new SnapshotFileIndex(spark, dir, snap, snap.files, new StructType())
      .sizeInBytes

  /** Push-down [[Filter]] rendered back as a [[Column]] for the inner
    * plan — best-effort: an untranslatable node returns None and that
    * conjunct is simply not pushed (Spark re-applies it above). */
  private def toColumn(f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(c, v) => Some(col(c) === lit(v))
      case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
      case GreaterThan(c, v) => Some(col(c) > lit(v))
      case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
      case LessThan(c, v) => Some(col(c) < lit(v))
      case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
      case In(c, vs) => Some(col(c).isInCollection(vs.toSeq))
      case IsNull(c) => Some(col(c).isNull)
      case IsNotNull(c) => Some(col(c).isNotNull)
      case And(a, b) => for { ca <- toColumn(a); cb <- toColumn(b) }
        yield ca && cb
      case Or(a, b) => for { ca <- toColumn(a); cb <- toColumn(b) }
        yield ca || cb
      case Not(a) => toColumn(a).map(!_)
      case StringStartsWith(c, v) => Some(col(c).startsWith(v))
      case StringEndsWith(c, v) => Some(col(c).endsWith(v))
      case StringContains(c, v) => Some(col(c).contains(v))
      case _ => None
    }
  }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[org.apache.spark.sql.sources.Filter]): RDD[Row] = {
    // no required column (COUNT(*)) selects rows only
    filters.flatMap(toColumn)
      .foldLeft(CommitLog.readSnapshot(spark, dir, snap))(_.filter(_))
      .select(requiredColumns.toIndexedSeq.map(col): _*).rdd
  }
}

/** Exact relation over an already-planned frame (the batch
  * change-data-feed read): same PrunedScan contract as
  * [[GraftLakeScanRelation]] — pruning reaches the inner plan, Spark
  * re-applies filters above. */
private[graft] final case class GraftLakeFrameRelation(
    spark: SparkSession, frame: DataFrame) extends BaseRelation
    with PrunedScan {

  override def sqlContext: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  override val schema: StructType = frame.schema

  override def buildScan(requiredColumns: Array[String]): RDD[Row] =
    frame.select(requiredColumns.toIndexedSeq.map(col): _*).rdd
}
