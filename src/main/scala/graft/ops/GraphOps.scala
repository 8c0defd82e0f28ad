package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.runtime.Lifetime

/** Iterative graph analytics on edge DataFrames. Connected components
  * (dedup cluster resolution) live in [[graft.dedup]]; here: PageRank.
  *
  * Scale shape: one iteration = one shuffle join (edges ⋈ ranks on src)
  * plus one aggregation (contributions by dst) — the standard
  * Pregel-as-joins layout. Iterations run as a driver loop over
  * DataFrames with a `localCheckpoint` per round so the plan (and its
  * lineage) doesn't grow exponentially with iteration count; each
  * round's checkpoint is released ([[graft.runtime.Lifetime]]) as soon
  * as the next round materializes, so block-manager state stays bounded
  * by two rounds and only the returned result's checkpoint outlives the
  * call.
  *
  * Determinism: ranks are BIGINT micro-units (`scale` = 1.0), every
  * per-iteration op is integer (`div` floor division, integer sums) —
  * no floating-point accumulation order anywhere, so the result is
  * bit-identical across partitionings AND engines (the q107 oracle
  * unrolls the same integer recurrence in SQL). Floor-div leaks a few
  * units of probability mass per node per iteration; rank ORDER is
  * unaffected, which is what PageRank is for.
  */
object GraphOps {

  /** `iters` rounds of PageRank (damping 0.85) over a directed edge list.
    * Every node must appear as a src at least once (add reverse edges or
    * self-loops upstream for dangling nodes — integer teleport handles
    * in-degree-0 nodes natively via the left join). Returns
    * (node, rank) with rank in units of `scale` (initial mass =
    * scale div N per node).
    *
    * `broadcastRanks = false` (default, safe at any size): ranks
    * co-partition with the (src-hashed, checkpointed) edge list and only
    * the |nodes|-sized side shuffles per iteration. Pass true to
    * broadcast the per-node rank and contribution tables into the
    * edge-side joins instead — faster whenever the node set is
    * dimension-sized relative to executor memory (our trade graph:
    * customers + suppliers vs fact-derived edges; most entity graphs),
    * but the FULL node table is broadcast every iteration, so web-scale
    * node sets would OOM the driver — opt in per call site.
    */
  def pageRankInt(edges: DataFrame, src: String, dst: String,
      iters: Int, scale: Long = 1000000000000L,
      broadcastRanks: Boolean = false): DataFrame = {
    require(iters >= 1, "pageRankInt needs at least one iteration")
    def hint(df: DataFrame): DataFrame =
      if (broadcastRanks) broadcast(df) else df
    // degree-annotated edges in ONE pass: shuffle by src (needed anyway
    // for the co-partitioned iterations — LogicalRDD keeps the
    // partitioning metadata, so no iteration re-shuffles the edge
    // list), then out-degree as a window count over the src groups.
    // This replaces the old raw-checkpoint → groupBy-degrees → re-join
    // → re-checkpoint scaffold, which materialized the edge list TWICE
    // and ran an extra aggregate+join over it — profiled at sf0.1 the
    // scaffold was ~60% of q107's wall clock while the 3 iterations
    // were ~0.4 s each (SCALE.md [q107-profile]). The window buffers
    // one src's edge group at a time, so its memory bound is the max
    // out-degree — the same super-node exposure the edge partition
    // itself already has.
    val e = edges.select(col(src).cast("long").as("src"),
      col(dst).cast("long").as("dst"))
      .repartition(col("src"))
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node")).distinct()
      .localCheckpoint(eager = false)
    // ONE job materializes BOTH lazy checkpoints and returns N: nodes
    // computes through e's marked RDD, whose local checkpoint persists
    // e's partitions as they are computed. When the job finishes Spark
    // truncates the lineage of the nearest marked RDD (nodes') only —
    // its marked ancestors (e) too only under
    // spark.checkpoint.checkpointAllMarkedAncestors — so later reads of
    // e hit its persisted blocks rather than a truncated plan. The
    // former eager-checkpoint pair paid three jobs for the same state
    // (guide §5: driver round-trips are per-job overhead)
    val n = nodes.count()
    val base = scale / n // Long floor division, same as SQL `div`
    var ranks = nodes.withColumn("rank", lit(base))
    // rounds are LAZY checkpoints: each round's plan is flat (it reads
    // the previous round's LogicalRDD), and one count every
    // `materializeEvery` rounds checkpoints the whole pending chain in a
    // single job — jobs per iteration drop from 1 to 1/4 while block
    // residency stays bounded by `materializeEvery` node-sized rounds
    val materializeEvery = 4
    val pending = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (i <- 1 to iters) {
      // per iteration: one broadcast (or |nodes| shuffle) in, one
      // |edges| partial-aggregated shuffle of contributions out
      val contrib = e.join(hint(ranks), e("src") === ranks("node"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inmass"))
      ranks = nodes
        .join(hint(contrib), nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (lit(15L * base / 100L) +
            expr("(85 * coalesce(inmass, 0L)) div 100")).as("rank"))
        .localCheckpoint(eager = false)
      pending += ranks
      if (i % materializeEvery == 0 || i == iters) {
        ranks.count() // materializes every pending round's checkpoint
        pending.dropRight(1).foreach(Lifetime.release(_))
        val last = pending.last
        pending.clear()
        pending += last
      }
    }
    // the final checkpoint is materialized and self-contained — the
    // edge/node scaffolding can go now; only `ranks` itself survives
    // until the caller is done
    Lifetime.release(e)
    Lifetime.release(nodes)
    ranks
  }

  /** Breadth-first hop distances from a source node set: (node, depth)
    * with depth = MINIMUM hops ≤ `maxDepth` (frontier/visited BFS, so
    * each node is emitted once at its first discovery — the relational
    * equivalent of a recursive CTE with min-depth dedup).
    *
    * Shape: one join + distinct + anti-join per level, every one keyed
    * on the node id. The visited set is kept as the UNION OF THE
    * ALREADY-CHECKPOINTED frontier legs — each leg is a leaf
    * (LogicalRDD), so the per-level anti-join's plan stays flat
    * without re-materializing the whole visited set every hop. The old
    * scaffold checkpointed `visited ∪ next` each level on top of the
    * frontier checkpoint, re-writing every discovered row once per
    * remaining level — O(depth · |visited|) materialized rows; this
    * shape writes each row exactly once (its own leg) and folds the
    * old `frontier.isEmpty` probe into the leg's count() — the same
    * cut that took 19% off q107's scaffold in round 15 (SCALE.md
    * [q127-scaffold]). Depth is bounded by the caller — unbounded
    * reachability belongs to connected components, not BFS.
    */
  def bfsDepths(edges: DataFrame, src: String, dst: String,
      sources: Seq[Long], maxDepth: Int): DataFrame = {
    require(maxDepth >= 1 && sources.nonEmpty, "need sources and depth ≥ 1")
    val spark = edges.sparkSession
    import spark.implicits._
    // NOT pre-hashed by s (unlike pageRankInt's edge checkpoint): a
    // seeded BFS frontier is broadcast-sized at every level, so the
    // per-level join never exchanges the edge side anyway — an upfront
    // repartition would be a pure extra shuffle (measured -1.7% in the
    // interleaved A/B; SCALE.md [q127-scaffold])
    // LAZY checkpoint: the first level's gating count materializes it
    // in the same job (the former eager checkpoint was its own job)
    val e = edges.select(col(src).cast("long").as("s"),
      col(dst).cast("long").as("d")).localCheckpoint(eager = false)
    // distinct: a repeated seed would emit duplicate depth-0 rows (the
    // later levels dedup via distinct/anti-join, the seed level must
    // too). No checkpoint: a LocalRelation is already a LEAF (the flat-
    // plan property the legs need) and costs no job at all.
    val seed = sources.distinct.toDF("node").withColumn("depth", lit(0))
    var legs: List[DataFrame] = List(seed) // newest first, all leaves
    var frontier = seed
    var frontierNonEmpty = true
    var depth = 1
    while (depth <= maxDepth && frontierNonEmpty) {
      val visitedNodes = legs.map(_.select(col("node")))
        .reduce(_ unionAll _)
      val next = e.join(frontier, e("s") === frontier("node"))
        .select(col("d").as("node")).distinct()
        .join(visitedNodes, Seq("node"), "left_anti")
        .withColumn("depth", lit(depth))
        .localCheckpoint(eager = false)
      // ONE job per level: the gating count doubles as the lazy
      // checkpoint's materialization — the old shape paid an eager
      // checkpoint job PLUS this count every level (guide §5)
      frontierNonEmpty = next.count() > 0
      if (frontierNonEmpty) legs = next :: legs
      else Lifetime.release(next) // empty leg: nothing to keep
      frontier = next
      depth += 1
    }
    Lifetime.release(e)
    // consolidate the legs into ONE leaf and release them: each row is
    // written once in its leg and once here — still O(1) writes per
    // row (the old scaffold re-wrote every visited row once per
    // REMAINING level) — and the query parks exactly one checkpoint,
    // not depth of them. Parked state must not scale with the query's
    // shape (the CleanStateSpec cap): a caller holding the raw leg
    // union would keep depth checkpoints alive for the result's whole
    // lifetime, which at a 100-session bench is the round-4 graveyard
    // all over again.
    val out = legs.reverse.reduce(_ unionAll _).localCheckpoint()
    legs.foreach(l => Lifetime.release(l))
    out
  }

  /** Market-basket co-occurrence: undirected item pairs that appear in at
    * least `minSupport` shared baskets, oriented item1 < item2 so each
    * pair counts once. Pairing blows up quadratically in basket size, so
    * baskets larger than `maxBasket` items are dropped BEFORE any pair
    * exists — at 100 TB one pathological 10⁵-item basket would otherwise
    * emit 5·10⁹ pairs into the shuffle. `collect_set` dedups (basket,
    * item) so multiplicity stays out of the support counts.
    *
    * Shape: exactly two shuffles. One `groupBy(basket)` gathers each
    * basket's item set (map-side partial sets merge through the
    * exchange); the ordered pairs are then generated map-side from the
    * sorted array — sortedness makes i < j equivalent to item1 < item2 —
    * and flow straight into the partial-aggregated support count, whose
    * exchange carries only (item1, item2) partial counts. The former
    * self-join form cost two more exchanges of the full (basket, item)
    * table (distinct + size filter) and materialized every candidate
    * pair into a join. Aggregation-buffer memory is bounded by the
    * largest RAW basket (the cap filter runs after collection) — a
    * 10⁵-item set is ~1 MB, so the guard that matters is on pair count,
    * not set size. minSupport prunes before any downstream top-k.
    */
  def cooccurrencePairs(df: DataFrame, basket: String, item: String,
      minSupport: Long = 2L, maxBasket: Int = 50): DataFrame = {
    val baskets = df
      .groupBy(col(basket).as("b"))
      .agg(sort_array(collect_set(col(item))).as("__items"))
      .filter(size(col("__items")) <= maxBasket)
    val a = col("__items")
    val pairs = flatten(transform(a, (x, i) =>
      transform(slice(a, i + lit(2), size(a)),
        y => struct(x.as("item1"), y.as("item2")))))
    baskets
      .select(explode(pairs).as("__p"))
      .select(col("__p.item1").as("item1"), col("__p.item2").as("item2"))
      .groupBy(col("item1"), col("item2"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** Per-node triangle participation over an undirected edge list given
    * in canonical orientation (src < dst, one row per edge). A triangle
    * {a<b<c} is found once as e(a,b)⋈e(b,c)⋈e(a,c) — the standard
    * oriented wedge-closure join, |wedges| work instead of the
    * unoriented 6× blowup. Returns (node, n_triangles) for every node in
    * at least one triangle, plus each node participates once per
    * triangle role (all three corners credited).
    *
    * Scale: wedge generation joins on the shared middle vertex — the
    * skew concern is high-degree hubs (|wedges| = Σ deg²); canonical
    * orientation already bounds that by orienting each edge low→high id,
    * and AQE's skew-join split handles residual hot keys.
    */
  def triangleCounts(edges: DataFrame, src: String, dst: String): DataFrame = {
    // the edge list is referenced three times (two wedge sides + the
    // closure probe) and the triangle set three times (one per corner):
    // checkpoint both, or the caller's whole edge-construction pipeline
    // (often a fact-table self-join) re-executes up to 9×
    val e = edges.select(col(src).cast("long").as("a"),
      col(dst).cast("long").as("b"))
      .localCheckpoint(eager = false)
    val wedges = e.select(col("a"), col("b"))
      .join(e.select(col("a").as("b"), col("b").as("c")), Seq("b"))
    val tris = wedges
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
      .localCheckpoint(eager = false)
    tris.select(col("a").as("node"))
      .unionAll(tris.select(col("b").as("node")))
      .unionAll(tris.select(col("c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }
}
