package graft.sources

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized aggregate over a [[CommitLog]]
  * table.
  *
  * The 100 TB problem: a dashboard aggregate (`GROUP BY day, …`) over a
  * lake that receives daily upserts either re-scans the whole lake per
  * refresh, or goes stale. The commit log already records exactly which
  * partitions each commit touched, so a refresh only ever READS the
  * day's churn, never the lake. Two maintenance strategies, chosen by
  * the definition:
  *
  *  - '''Group-local''' (default): `partitionCol ∈ groupCols`, so every
  *    group is a function of exactly one base partition — the touched
  *    partitions' groups are recomputed FROM SCRATCH off their current
  *    rows and swapped in with [[CommitLog.replacePartitions]]. No
  *    delta math, hence ANY aggregate works (min/max/distinct
  *    included).
  *  - '''Invertible''' (`invertible = true`): the grouping need NOT
  *    include the partition column (`GROUP BY status` over a
  *    date-partitioned lake). The refresh reads the touched partitions'
  *    PRE-image (time travel to the last refreshed version) and
  *    POST-image, computes per-group deltas, and folds them into the
  *    current view state — the classic delta-stream view maintenance,
  *    sound exactly for the invertible aggregates (`count`/`sum`),
  *    which the Definition enforces at construction. A `count(*)`
  *    aggregate is required so emptied groups can be detected and
  *    dropped. The view state is rollup-sized, so folding rewrites it
  *    in one atomic [[CommitLog.overwrite]]; the expensive side — the
  *    base read — stays bounded by the churn.
  *
  * Correctness comes from commit-log properties, not trusted math:
  *  - the refresh cursor: every view commit carries
  *    `txn = (viewAppId(d), base version refreshed to)`, so a
  *    replayed/concurrent refresh of the same version is a no-op, and
  *    `lastRefreshed` is the view's own `graft.txn.view:<base>` entry —
  *    no side state to lose;
  *  - pre-images come from time travel, which is exact until vacuumed;
  *  - vacuumed history degrades loudly to a FULL refresh, never to a
  *    wrong answer.
  *
  * The view is itself a commit-log table: snapshot-isolated reads, time
  * travel over refresh history, and its own vacuum retention.
  *
  * The reference regenerates its reports from the full table on every
  * run (`/root/reference/src/generate_report.py` recomputes each month's
  * block); this is that report, kept fresh for a lake the reference's
  * single-node rescan could never finish.
  */
object IncrementalView extends Logging {

  /** One view value column: `valueCol = op(input)` over the base, with
    * `input = None` meaning `count(*)`. The structured form shared by
    * the invertible refresh here and
    * [[graft.plans.RewriteAggregateOnView]]'s derivability check. */
  final case class AggSpec(op: String, input: Option[String], valueCol: String)

  /** Parse an aggregate Column into its [[AggSpec]] — `None` for
    * anything richer than count/sum/min/max of a bare column, aliased.
    * Column-API aggregates arrive UNRESOLVED (Spark 4 ColumnNode →
    * UnresolvedFunction); a definition round-tripped through an
    * analyzed plan would carry resolved AggregateExpressions. Both
    * shapes are accepted. */
  def parseAgg(c: Column): Option[AggSpec] =
    parseAggExpr(
      org.apache.spark.sql.graftbridge.ColumnBridge.catalystExpression(c))

  def parseAggExpr(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[AggSpec] = {
    import org.apache.spark.sql.catalyst.analysis.{
      UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, AttributeReference, Expression, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AggregateExpression, Count, Max, Min, Sum}
    object BareCol {
      def unapply(x: Expression): Option[String] = x match {
        case UnresolvedAttribute(parts) => Some(parts.last)
        case a: AttributeReference => Some(a.name)
        case _ => None
      }
    }
    e match {
      case a: Alias =>
        val fn: Option[(String, Seq[Expression])] = a.child match {
          case u: UnresolvedFunction if !u.isDistinct && u.filter.isEmpty =>
            Some((u.nameParts.last.toLowerCase(java.util.Locale.ROOT),
              u.arguments))
          case ae: AggregateExpression
              if !ae.isDistinct && ae.filter.isEmpty =>
            ae.aggregateFunction match {
              case s: Sum => Some(("sum", Seq(s.child)))
              case m: Min => Some(("min", Seq(m.child)))
              case m: Max => Some(("max", Seq(m.child)))
              case c: Count => Some(("count", c.children))
              case _ => None
            }
          case _ => None
        }
        fn.flatMap {
          case ("count", Seq(Literal(_, _))) =>
            Some(AggSpec("count", None, a.name))
          case ("count", Seq(BareCol(c))) =>
            Some(AggSpec("count", Some(c), a.name))
          case ("sum", Seq(BareCol(c))) => Some(AggSpec("sum", Some(c), a.name))
          case ("min", Seq(BareCol(c))) => Some(AggSpec("min", Some(c), a.name))
          case ("max", Seq(BareCol(c))) => Some(AggSpec("max", Some(c), a.name))
          case _ => None
        }
      case _ => None
    }
  }

  /** Rebuild the aggregate Column an [[AggSpec]] denotes — the inverse
    * of [[parseAgg]], used when restoring a persisted definition from
    * the commit log's table properties. */
  def toColumn(s: AggSpec): Column = ((s.op, s.input) match {
    case ("count", None) => count(lit(1))
    case ("count", Some(c)) => count(col(c))
    case ("sum", Some(c)) => sum(col(c))
    case ("min", Some(c)) => min(col(c))
    case ("max", Some(c)) => max(col(c))
    case other => throw new IllegalArgumentException(s"bad AggSpec $other")
  }).as(s.valueCol)

  /** A view definition: `SELECT groupCols…, aggs… FROM base GROUP BY
    * groupCols`. `aggs` must be aliased aggregate Columns (they become
    * the view's value columns). Group-local views (default) require
    * `partitionCol ∈ groupCols`; invertible views lift that but
    * restrict the aggregates to count/sum (incl. a count(*)). */
  final case class Definition(
      baseDir: String, viewDir: String, partitionCol: String,
      groupCols: Seq[String], aggs: Seq[Column],
      invertible: Boolean = false) {
    require(invertible || groupCols.contains(partitionCol),
      s"group locality requires partitionCol '$partitionCol' in " +
        s"groupCols ${groupCols.mkString("(", ",", ")")} " +
        "(or declare the view invertible)")
    require(aggs.nonEmpty, "a view needs at least one aggregate")

    /** Structured aggregates — defined for every invertible view
      * (enforced below); None entries possible otherwise. */
    lazy val specs: Seq[Option[AggSpec]] = aggs.map(parseAgg)
    if (invertible) {
      val parsed = specs.map(_.getOrElse(throw new IllegalArgumentException(
        "invertible views need plain count/sum aggregates of a bare " +
          "column, aliased")))
      require(parsed.forall(s => s.op == "count" || s.op == "sum"),
        "invertible refresh supports count/sum only — min/max/distinct " +
          "have no subtraction and need a group-local view")
      require(parsed.exists(s => s.op == "count" && s.input.isEmpty),
        "invertible refresh needs a count(*) aggregate to detect " +
          "emptied groups")
    }
  }

  /** The id space a view's refreshes commit under — its versions are
    * the base versions refreshed to. */
  def viewAppId(d: Definition): String =
    "view:" + graft.plans.ConstraintCatalog.normalize(d.baseDir)

  /** The base version the view at snapshot `s` refreshed to. */
  def refreshedTo(s: CommitLog.Snapshot, d: Definition): Option[Long] =
    CommitLog.txnVersion(s, viewAppId(d))

  /** The base version the view last refreshed to (from the view's own
    * log), or None before the first refresh. */
  def lastRefreshed(spark: SparkSession, d: Definition): Option[Long] =
    CommitLog.latest(spark, d.viewDir).flatMap(refreshedTo(_, d))

  /** The view's current content (snapshot-isolated). */
  def read(spark: SparkSession, d: Definition): DataFrame =
    CommitLog.read(spark, d.viewDir)

  private def aggregate(df: DataFrame, d: Definition): DataFrame =
    df.groupBy(d.groupCols.map(col): _*).agg(d.aggs.head, d.aggs.tail: _*)

  /** Bring the view up to the base's latest version. Returns the touched
    * partition VALUES (group-local) or DIRECTORIES (invertible) that
    * drove the refresh (empty when already fresh; every partition on
    * bootstrap or vacuumed-history fallback). */
  def refresh(spark: SparkSession, d: Definition): Seq[String] = {
    val base = CommitLog.latest(spark, d.baseDir).getOrElse(
      throw new IllegalStateException(s"${d.baseDir} has no commit log"))
    val txn = (viewAppId(d), base.version)
    lastRefreshed(spark, d) match {
      case None =>
        // bootstrap: full aggregate, logged with the base version
        // already recorded
        val full = aggregate(CommitLog.read(spark, d.baseDir), d)
        if (d.invertible) full.write.parquet(d.viewDir)
        else full.write.partitionBy(d.partitionCol).parquet(d.viewDir)
        CommitLog.init(spark, d.viewDir, txn = Some(txn))
        Seq("*")
      case Some(v) if v >= base.version => Nil // already fresh
      case Some(v) if d.invertible => refreshDelta(spark, d, v, base, txn)
      case Some(v) =>
        val touched = CommitLog.partsBetween(spark, d.baseDir, v, base.version)
        val partVals: Seq[String] = touched match {
          case Some(dirs) =>
            dirs.toSeq.sorted.map(p =>
              org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                .unescapePathName(p.stripPrefix(d.partitionCol + "=")))
          case None =>
            logWarning(s"base history for ${d.baseDir} vacuumed below " +
              s"$v — falling back to a full refresh of ${d.viewDir}")
            // the full refresh must cover the union of CURRENT base
            // partitions and CURRENT VIEW partitions: a partition whose
            // base rows were entirely deleted inside the vacuumed gap
            // appears only on the view side, and omitting it would
            // leave its stale groups served as fresh forever
            val baseParts = CommitLog.read(spark, d.baseDir)
              .select(col(d.partitionCol).cast("string")).distinct()
              .collect().map(_.getString(0))
            val viewParts = CommitLog.read(spark, d.viewDir)
              .select(col(d.partitionCol).cast("string")).distinct()
              .collect().map(_.getString(0))
            (baseParts ++ viewParts).distinct.toSeq.sorted
        }
        if (partVals.isEmpty) {
          // data commits in range touched nothing (e.g. pure compactions):
          // record the catch-up so the next refresh diffs from here
          CommitLog.ledgerOnlyCommit(spark, d.viewDir, txn, "note")
          return Nil
        }
        val post = aggregate(
          CommitLog.readPartitions(spark, d.baseDir, d.partitionCol, partVals), d)
        CommitLog.replacePartitions(spark, post, d.viewDir, d.partitionCol,
          partVals, Some(txn))
        partVals
    }
  }

  /** Invertible catch-up `(fromV, base.version]`: per-group deltas from
    * the touched partitions' pre- and post-images, folded into the
    * current view state in one atomic overwrite. */
  private def refreshDelta(spark: SparkSession, d: Definition,
      fromV: Long, base: CommitLog.Snapshot,
      txn: (String, Long)): Seq[String] = {
    val specs = d.specs.map(_.get) // construction guaranteed parseable
    val countStar = specs.find(s => s.op == "count" && s.input.isEmpty).get
    CommitLog.partsBetween(spark, d.baseDir, fromV, base.version) match {
      case Some(dirs) if dirs.isEmpty =>
        // pure compactions: advance the cursor, touch no data
        CommitLog.ledgerOnlyCommit(spark, d.viewDir, txn, "note")
        Nil
      case touched =>
        // (replacement state, touched label, pinned view version)
        val newState = touched match {
          case Some(dirs) =>
            val pre = CommitLog.readPartitionDirsAt(
              spark, d.baseDir, fromV, dirs)
            val post = CommitLog.readPartitionDirsAt(
              spark, d.baseDir, base.version, dirs)
            // per-row signed contributions; null sum inputs contribute
            // null (ignored by the fold's sum — SQL semantics)
            def signed(df: DataFrame, sign: Int): DataFrame =
              df.select(d.groupCols.map(col) ++ specs.map { s =>
                ((s.op, s.input) match {
                  case ("count", None) => lit(sign.toLong)
                  case ("count", Some(c)) =>
                    when(col(c).isNotNull, sign.toLong).otherwise(0L)
                  case (_, Some(c)) => col(c) * sign
                  case _ => throw new IllegalStateException(s.toString)
                }).as(s.valueCol)
              }: _*)
            // pin the fold's inputs: the state read here is the state
            // the atomic overwrite below must replace — a concurrent
            // refresh landing in between would otherwise be folded OVER
            // and its delta range double-applied
            val curSnap = CommitLog.latest(spark, d.viewDir).get
            val cur = CommitLog.readAt(spark, d.viewDir, curSnap.version)
            val viewTypes = cur.schema
            // fold: view row + signed deltas, summed per group, every
            // value cast back to the view's committed type (a decimal
            // sum widens per level; the state must not drift)
            val delta = signed(post, 1).unionByName(signed(pre, -1))
              .select(d.groupCols.map(col) ++ specs.map(s =>
                col(s.valueCol).cast(viewTypes(s.valueCol).dataType)
                  .as(s.valueCol)): _*)
            val foldAggs = specs.map(s =>
              sum(col(s.valueCol)).cast(viewTypes(s.valueCol).dataType)
                .as(s.valueCol))
            (cur.unionByName(delta)
              .groupBy(d.groupCols.map(col): _*)
              .agg(foldAggs.head, foldAggs.tail: _*)
              .filter(col(countStar.valueCol) > 0L),
              dirs.toSeq.sorted, Some(curSnap.version))
          case None =>
            logWarning(s"base history for ${d.baseDir} vacuumed below " +
              s"$fromV — falling back to a full refresh of ${d.viewDir}")
            // a from-scratch aggregate depends on nothing in the view —
            // no pin needed (the replacement is correct whatever landed)
            (aggregate(CommitLog.read(spark, d.baseDir), d), Seq("*"), None)
        }
        CommitLog.overwrite(spark, newState._1, d.viewDir,
          txn = Some(txn), expectedVersion = newState._3)
        newState._2
    }
  }
}
