package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeReference, Cast, Coalesce, Expression, Literal,
  NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DoubleType

import graft.sources.{CommitLog, IncrementalView}

/** Registry of [[IncrementalView]] definitions the optimizer may answer
  * queries FROM, keyed by the base table's normalized path.
  *
  * Registration parses each view aggregate into a structured
  * [[MatViewCatalog.AggSpec]] and REJECTS anything it cannot prove
  * derivable under rollup (only plain `count(*)`, `count(col)`,
  * `sum(col)`, `min(col)`, `max(col)` over a bare column qualify —
  * a cast or arithmetic inside the aggregate would make re-aggregation
  * of the view's partials unsound to infer syntactically). Views with
  * richer aggregates still work through [[IncrementalView.read]]; they
  * are just not eligible for *transparent* rewrite.
  *
  * JVM-global and thread-safe like [[ConstraintCatalog]]; specs use
  * [[clear]] for isolation.
  */
object MatViewCatalog {

  /** One view value column: `valueCol = op(input)` over the base, with
    * `input = None` meaning `count(*)` — re-exported from
    * [[IncrementalView.AggSpec]], whose delta-refresh path needs the
    * same structured view of the aggregates. */
  type AggSpec = IncrementalView.AggSpec

  final case class RegisteredView(
      defn: IncrementalView.Definition, specs: Seq[AggSpec])

  // keyed (normalized baseDir, normalized viewDir): a base table may
  // carry SEVERAL registered rollups (e.g. daily and hourly); the rule
  // routes to the first one that covers the query, finer-grained first
  // (more grouping columns = more queries covered)
  private val views = TrieMap[(String, String), RegisteredView]()

  def register(d: IncrementalView.Definition): RegisteredView = {
    require(
      ConstraintCatalog.normalize(d.baseDir) !=
        ConstraintCatalog.normalize(d.viewDir),
      "a view cannot be registered over itself")
    val specs = d.aggs.map { c =>
      val e = ColumnBridge.catalystExpression(c)
      parseAgg(e).getOrElse(throw new IllegalArgumentException(
        s"view aggregate not rewrite-derivable (need count/sum/min/max " +
          s"of a bare column, aliased): $e"))
    }
    require(specs.map(_.valueCol).distinct.size == specs.size,
      "view aggregate aliases must be distinct")
    val r = RegisteredView(d, specs)
    views.put((ConstraintCatalog.normalize(d.baseDir),
      ConstraintCatalog.normalize(d.viewDir)), r)
    r
  }

  def isEmpty: Boolean = views.isEmpty
  def all: Seq[RegisteredView] = views.values.toSeq

  /** Views over `normBase`, FEWEST grouping columns first: of the views
    * that cover a query, the coarsest has the fewest rows to
    * re-aggregate, so it is tried first; a view that fails any
    * soundness gate (containment, derivability, freshness) just falls
    * through to the next candidate. Ties break on viewDir for
    * determinism. */
  def forBase(normBase: String): Seq[RegisteredView] =
    views.collect { case ((b, _), r) if b == normBase => r }
      .toSeq.sortBy(r => (r.defn.groupCols.size, r.defn.viewDir))

  def clear(): Unit = views.clear()

  private val PropKey = "graft.views"

  /** Register AND persist: the definition is written into the BASE
    * table's commit log as the `graft.views` table property (keyed by
    * viewDir, merged with any existing registrations), so a FRESH
    * session can [[restore]] it instead of depending on this
    * JVM-global registry surviving. A props commit moves no data;
    * serving stays fresh (the rule treats data-less version gaps as
    * fresh). */
  def persist(spark: SparkSession,
      d: IncrementalView.Definition): RegisteredView = {
    val r = register(d) // validates derivability up front
    import org.json4s._
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val prior = CommitLog.latest(spark, d.baseDir)
      .flatMap(_.props.get(PropKey)).map(parseDefs(d.baseDir, _))
      .getOrElse(Nil)
    val merged = prior.filterNot(p =>
      ConstraintCatalog.normalize(p.viewDir) ==
        ConstraintCatalog.normalize(d.viewDir)) :+ d
    val json = JsonMethods.compact(JsonMethods.render(JArray(
      merged.toList.map { m =>
        ("viewDir" -> m.viewDir) ~ ("partitionCol" -> m.partitionCol) ~
          ("groupCols" -> m.groupCols) ~ ("invertible" -> m.invertible) ~
          ("aggs" -> m.specs.map(_.getOrElse(throw new IllegalStateException(
            "persist requires fully parseable aggregates"))).toList.map(s =>
            ("op" -> s.op) ~ ("input" -> s.input) ~
              ("valueCol" -> s.valueCol)))
      })))
    CommitLog.setProps(spark, d.baseDir, Map(PropKey -> json))
    r
  }

  /** Load every view definition persisted on `baseDir`'s log into this
    * session's registry. Returns the restored registrations. */
  def restore(spark: SparkSession, baseDir: String): Seq[RegisteredView] =
    CommitLog.latest(spark, baseDir).flatMap(_.props.get(PropKey))
      .map(parseDefs(baseDir, _)).getOrElse(Nil).map(register)

  private def parseDefs(baseDir: String,
      json: String): Seq[IncrementalView.Definition] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    JsonMethods.parse(json).extract[List[JValue]].map { j =>
      val specs = (j \ "aggs").extract[List[JValue]].map(a =>
        IncrementalView.AggSpec((a \ "op").extract[String],
          (a \ "input").extractOpt[String], (a \ "valueCol").extract[String]))
      IncrementalView.Definition(
        baseDir, (j \ "viewDir").extract[String],
        (j \ "partitionCol").extract[String],
        (j \ "groupCols").extract[Seq[String]],
        specs.map(IncrementalView.toColumn),
        (j \ "invertible").extractOpt[Boolean].getOrElse(false))
    }
  }

  // The structural parse itself lives with the Definition
  // ([[IncrementalView.parseAgg]]) — the delta-refresh path needs the
  // same AggSpec view of the aggregates as the rewrite rule.
  private def parseAgg(e: Expression): Option[AggSpec] =
    IncrementalView.parseAggExpr(e)
}

/** Transparent materialized-view rewrite: an aggregate over a commit-log
  * base table is answered from a registered, FRESH [[IncrementalView]]
  * instead — the classic view-matching optimization (Goldstein &
  * Larson, SIGMOD'01; Calcite's `MaterializedViewRule`; BigQuery/
  * Snowflake smart rewrite), done here for the repo's own lakehouse.
  *
  * Why it matters at 100 TB: the view holds one row per group — a
  * dashboard query that would scan the lake (TBs) re-aggregates a
  * partition-pruned parquet table that is MBs. The user keeps writing
  * queries against the base table; freshness and routing are the
  * engine's job, exactly like an index.
  *
  * Soundness gates (all must hold, else the plan is untouched):
  *
  *  - '''Snapshot identity''': the scan's file set equals the base
  *    table's LATEST committed snapshot, file for file. A time-travel
  *    read ([[CommitLog.readAt]]), a raw directory read (which would
  *    see pre-vacuum files the log no longer references), or any
  *    manually assembled file list therefore never matches.
  *  - '''Freshness''': the view's own `graft.txn.view:<base>`
  *    entry carries the base version it refreshed to
  *    ([[IncrementalView.refreshedTo]]); it must match the scanned
  *    snapshot's version. A stale view silently costs the rewrite,
  *    never correctness.
  *  - '''Containment''': grouping expressions are bare base columns and
  *    a subset of the view's grouping (rollup to a COARSER grouping
  *    re-aggregates the view's partials — sound because view groups
  *    partition the base rows); filters reference grouping columns only
  *    (then they select whole groups and commute with the view
  *    aggregate); every query aggregate derives from a view column:
  *    `count(*) → coalesce(sum(cnt), 0)`, `count(x) → coalesce(sum(cnt_x),
  *    0)`, `sum(x) → sum(sum_x)`, `min(x) → min(min_x)`,
  *    `max(x) → max(max_x)`, `avg(x) → sum(sum_x)/sum(cnt_x)` (both
  *    parts required). The `coalesce` matters for the global-grouping
  *    empty case where `count` must yield 0, not null.
  *  - '''Type identity''': every rewritten aggregate must produce
  *    exactly the original's data type (e.g. `sum` over DECIMAL widens
  *    per level, so a decimal sum-of-sum would NOT type-match and the
  *    rewrite is declined; DOUBLE and LONG sums are closed under
  *    re-aggregation and pass).
  *
  * Output attribute names AND exprIds are preserved (the
  * [[EliminateRiDimJoin]] discipline), so operators above the aggregate
  * never re-resolve. The rewritten plan scans only view files, which no
  * registered base prefix matches, so the rule cannot re-fire on its own
  * output. Metadata-plane I/O (two version-file reads) happens only
  * after the cheap structural match succeeds.
  */
class RewriteAggregateOnView(spark: SparkSession) extends Rule[LogicalPlan] {

  import MatViewCatalog.{AggSpec, RegisteredView}

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (MatViewCatalog.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }
  }

  /** Every routing decision is OBSERVABLE: one INFO log line per rewrite
    * records base dir, base version, and the refreshed-to version served —
    * so a wrong-answer report from a driver/CI run pinpoints whether
    * the query was answered from the view (and at which versions) or
    * fell through to the base scan, without re-running anything. */
  private def logRouted(base: String, baseVersion: Long,
      refreshedTo: Long, viewDir: String): Unit =
    logInfo(s"routed aggregate over $base (base v$baseVersion, view " +
      s"$viewDir refreshed-to v$refreshedTo)")

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (scan, conds) = peel(agg.child, Nil).getOrElse(return None)
    val fsRel = scan.relation match {
      case h: HadoopFsRelation => h
      case _ => return None
    }
    val scanPaths = fsRel.location.rootPaths
      .map(p => ConstraintCatalog.normalize(p.toString))
    if (scanPaths.isEmpty) return None
    val normBase = MatViewCatalog.all
      .map(r => ConstraintCatalog.normalize(r.defn.baseDir)).distinct
      .find(b => scanPaths.forall(p => p == b || p.startsWith(b + "/")))
      .getOrElse(return None)
    val cands = MatViewCatalog.forBase(normBase)

    // snapshot identity once per base (metadata plane: one version file)
    val (baseSnap, baseFiles) =
      CommitLog.latestFiles(spark, cands.head.defn.baseDir)
        .getOrElse(return None)
    if (baseFiles.map(ConstraintCatalog.normalize).toSet != scanPaths.toSet)
      return None

    // coarsest covering view wins; a candidate failing any gate just
    // falls through to the next
    cands.view
      .flatMap(rv => rewriteWith(agg, conds, rv, baseSnap.version))
      .headOption
  }

  private def rewriteWith(agg: Aggregate, conds: Seq[Expression],
      rv: RegisteredView, baseVersion: Long): Option[LogicalPlan] = {
    val d = rv.defn

    // structural containment first (cheap, no I/O)
    val groupNames: Seq[String] = agg.groupingExpressions.map {
      case a: AttributeReference if d.groupCols.contains(a.name) => a.name
      case _ => return None
    }
    if (!conds.forall(c => c.deterministic && c.references.forall {
          case a: AttributeReference => d.groupCols.contains(a.name)
          case _ => false
        })) return None

    // freshness (metadata plane: the view's version file) — and EXACT
    // freshness, not at-least: the view must correspond to the SCANNED
    // snapshot. Behind by data commits → stale, decline. AHEAD of the
    // scanned version → the view has absorbed commits the pinned scan
    // does not contain (a base commit + refresh racing this planning),
    // which would serve rows the scan never had — equally a decline
    // unless the gap holds no data commits. Props-only commits and
    // compactions move no rows in either direction (partsBetween
    // reports them as touching nothing).
    // ONE view snapshot read serves both the cursor check and the
    // content below — re-resolving "latest" twice would let a refresh
    // landing in between serve content newer than the checked cursor
    val viewSnap = CommitLog.latest(spark, d.viewDir).getOrElse(return None)
    val refreshedTo =
      IncrementalView.refreshedTo(viewSnap, d).getOrElse(return None)
    // the gap probe reads one version file per version — bound it so a
    // long-stale (or far-ahead) view costs a cheap decline, not a
    // planning-time walk
    def gapIsDataFree(lo: Long, hi: Long): Boolean =
      hi - lo <= 64 &&
        CommitLog.partsBetween(spark, d.baseDir, lo, hi).exists(_.isEmpty)
    if (refreshedTo < baseVersion &&
      !gapIsDataFree(refreshedTo, baseVersion)) return None
    if (refreshedTo > baseVersion &&
      !gapIsDataFree(baseVersion, refreshedTo)) return None

    // the view's analyzed plan, PINNED to the snapshot whose cursor was
    // just checked (fresh exprIds per rewrite — no clashes). A vacuum
    // racing this planning could drop the pinned version — decline, not
    // fail the query
    val viewPlan =
      try CommitLog.readAt(spark, d.viewDir, viewSnap.version)
        .queryExecution.analyzed
      catch { case _: Exception => return None }
    val viewAttr: Map[String, Attribute] =
      viewPlan.output.map(a => a.name -> a).toMap
    if (!d.groupCols.forall(viewAttr.contains) ||
        !rv.specs.forall(s => viewAttr.contains(s.valueCol))) return None

    def spec(op: String, input: Option[String]): Option[Attribute] =
      rv.specs.find(s => s.op == op && s.input == input)
        .map(s => viewAttr(s.valueCol))

    def sumOf(a: Attribute): Expression =
      Sum(a).toAggregateExpression()

    // derive each output; bail (None) on anything not provably coverable
    def derive(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      ae.aggregateFunction match {
        case c: Count => c.children match {
          // the literal must be NON-NULL to mean count(*): count(NULL)
          // is always 0 and must not rewrite to the group sizes
          case Seq(Literal(v, _)) if v != null =>
            spec("count", None).map(a => Coalesce(Seq(sumOf(a), Literal(0L))))
          case Seq(x: AttributeReference) =>
            spec("count", Some(x.name))
              .map(v => Coalesce(Seq(sumOf(v), Literal(0L))))
          case _ => None
        }
        case s: Sum => s.child match {
          case x: AttributeReference => spec("sum", Some(x.name)).map(sumOf)
          case _ => None
        }
        case m: Min => m.child match {
          case x: AttributeReference =>
            spec("min", Some(x.name)).map(v => Min(v).toAggregateExpression())
          case _ => None
        }
        case m: Max => m.child match {
          case x: AttributeReference =>
            spec("max", Some(x.name)).map(v => Max(v).toAggregateExpression())
          case _ => None
        }
        case a: Average => a.child match {
          case x: AttributeReference =>
            for {
              s <- spec("sum", Some(x.name))
              c <- spec("count", Some(x.name))
            } yield org.apache.spark.sql.catalyst.expressions.Divide(
              Cast(sumOf(s), DoubleType), Cast(sumOf(c), DoubleType))
          case _ => None
        }
        case _ => None
      }
    }

    val newAggs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference if groupNames.contains(a.name) =>
        Alias(viewAttr(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(x: AttributeReference, name)
          if groupNames.contains(x.name) =>
        Alias(viewAttr(x.name), name)(exprId = al.exprId)
      case al @ Alias(ae: AggregateExpression, name) =>
        val derived = derive(ae).getOrElse(return None)
        // type identity: a decimal sum-of-sum widens and would NOT match
        if (derived.dataType != al.dataType) return None
        Alias(derived, name)(exprId = al.exprId)
      case _ => return None
    }

    val newGroupings: Seq[Expression] = groupNames.map(viewAttr)
    val rewired = conds.foldRight(viewPlan) { (c, p) =>
      Filter(c.transform {
        case a: AttributeReference => viewAttr(a.name)
      }, p)
    }
    logRouted(d.baseDir, baseVersion, refreshedTo, d.viewDir)
    Some(Aggregate(newGroupings, newAggs, rewired, agg.hint))
  }

  /** Strip pass-through Projects and deterministic Filters down to the
    * scan, collecting filter conditions in top-down order. */
  @annotation.tailrec
  private def peel(p: LogicalPlan, conds: Seq[Expression])
      : Option[(LogicalRelation, Seq[Expression])] = p match {
    case lr: LogicalRelation => Some((lr, conds))
    case Filter(c, child) if c.deterministic => peel(child, conds :+ c)
    case Project(list, child)
        if list.forall(_.isInstanceOf[AttributeReference]) =>
      peel(child, conds)
    case _ => None
  }
}
