package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries._
import graft.runtime.Lifetime

/** The query registry as the benchmark sees it: every registered query with
  * the module that registers it, run as `graft.Bench` runs it (noop sink,
  * `Lifetime.releaseAll` between queries). */
object Registry {
  type Fn = (SparkSession, String) => DataFrame

  val modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.all, "AdvancedQueries" -> AdvancedQueries.all,
    "HistogramQueries" -> HistogramQueries.all, "TemporalQueries" -> TemporalQueries.all,
    "LlmQueries" -> LlmQueries.all, "PipelineQueries" -> PipelineQueries.all,
    "EngineQueries" -> EngineQueries.all, "GeoTemporalQueries" -> GeoTemporalQueries.all,
    "AnalyticsQueries" -> AnalyticsQueries.all, "SqlSuiteQueries" -> SqlSuiteQueries.all,
    "MiningQueries" -> MiningQueries.all, "SqlTpchQueries" -> SqlTpchQueries.all,
    "StreamingQueries" -> StreamingQueries.all)

  lazy val all: Map[String, (String, Fn)] =
    modules.flatMap { case (m, qs) => qs.map(q => q.name -> (m, q.fn)) }.toMap

  /** The registry's data: generated once per checkout-independent seed so
    * that the recorded reference results stay valid. */
  val DataSeed = 42L

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** (rows, order-insensitive content hash) of a result. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")).toSeq: _*)))
    val r = df.agg(count(lit(1)), coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** One line of the reference file: the result recorded on the seed
    * commit (rows, and the content hash where it repeats across runs and
    * JVMs). */
  final case class Ref(rows: Long, hash: Option[Long])

  def loadRefs(path: Path): Map[String, Ref] =
    Files.readAllLines(path).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, hash) = l.split("\t")
        n -> Ref(rows.toLong, if (hash == "-") None else Some(hash.toLong))
      }.toMap
}

/** `query_registry`: one pass per step over a fixed slice of the registry
  * (the queries of the reference file), in an order shuffled by the seed,
  * after an untimed warm-up pass. perfbench/METRICS.md says how the slice
  * was chosen. */
final class QueryRegistry(refsPath: Path) extends Workload {
  import Registry._

  private val refs = loadRefs(refsPath)
  val selected: Seq[String] = refs.keys.toSeq.sorted
  private var dataDir = ""
  private var pass = 0
  private var tracedPasses = 0
  private val passWalls = scala.collection.mutable.ArrayBuffer[Double]()
  private var sinceGc = 0

  def generate(ctx: Ctx, dir: Path): Unit = {
    dataDir = dir.resolve("data").toString
    TpchGen.write(ctx.spark, dataDir, DataSeed)
  }

  private def hygiene(ctx: Ctx): Unit = {
    Lifetime.releaseAll(ctx.spark, blocking = true)
    sinceGc += 1
    if (sinceGc >= 8) { sinceGc = 0; System.gc() }
  }

  private def check(name: String, df: DataFrame): Boolean = {
    val (rows, hash) = fingerprint(df)
    val ref = refs(name)
    val ok = rows == ref.rows && ref.hash.forall(_ == hash)
    if (!ok) System.err.println(
      s"[perfbench] $name: rows $rows hash $hash, reference ${ref.rows} ${ref.hash.getOrElse("-")}")
    ok
  }

  /** One untimed pass: it builds the fixtures and is cold. */
  def warmUp(ctx: Ctx): Unit = for (n <- selected) {
    noop(all(n)._2(ctx.spark, dataDir))
    hygiene(ctx)
  }

  def step(ctx: Ctx): Unit = {
    val order = new Random(ctx.seed * 1000003L + pass).shuffle(selected)
    pass += 1
    if (Trace.on) tracedPasses += 1
    var wall = 0.0
    var complete = true
    order.foreach { n =>
      val (module, fn) = all(n)
      val before = ctx.ops.size
      ctx.timed(s"query.$n") {
        val df = Trace.span(s"queries.$module") {
          val d = fn(ctx.spark, dataDir)
          noop(d)
          d
        }
        df
      }(df => check(n, df))
      val op = ctx.ops(before)
      wall += op.wallS
      complete &&= op.ok
      hygiene(ctx)
    }
    if (complete && !Trace.on) passWalls += wall
  }

  def finalChecks(ctx: Ctx): Seq[(String, Boolean)] = Nil

  /** Sum of the family members' median times, over the members that ran
    * (the report lists which); None when none did. */
  private def familySum(ctx: Ctx, family: String, names: Seq[String]): Option[Double] = {
    val ran = names.filter(n => ctx.walls(s"query.$n").nonEmpty)
    ctx.notes(s"${family}_members") = ran
    if (ran.isEmpty) None else Some(ran.map(n => Stats.median(ctx.walls(s"query.$n"))).sum)
  }

  def endToEnd(ctx: Ctx): Map[String, (Double, String)] = {
    val q = ctx.timedOps.filter(_.cls.startsWith("query.")).map(_.wallS)
    val (pct, tailV) = Stats.tail(q)
    ctx.notes("query_tail_percentile") = pct
    ctx.notes("query_samples") = q.size
    ctx.notes("passes") = passWalls.size
    val families = Seq("registry_graph_s" -> QueryRegistry.graph,
      "registry_retrieval_s" -> QueryRegistry.retrieval).flatMap { case (k, ns) =>
      familySum(ctx, k, ns).map(v => k -> (v, "s"))
    }
    Map(
      "registry_total_s" -> (Stats.median(passWalls.toSeq), "s"),
      "registry_query_p50_s" -> (Stats.median(q), "s"),
      "registry_query_tail_s" -> (tailV, "s"),
      "op_p50_s" -> (Stats.median(q), "s"),
      "op_tail_s" -> (tailV, "s"),
      "throughput" -> (q.size / q.sum, "1/s")) ++ families
  }

  def layers(ctx: Ctx): Map[String, (Double, String)] = {
    val self = Trace.selfTimes
    // the modules with a query in the slice; the others would read 0
    val perModule = modules.filter(_._2.exists(q => refs.contains(q.name))).map { case (m, _) =>
      // time spent in the module's queries (plan, run, sink) per pass
      s"queries.${m}_s" -> (self.getOrElse(s"queries.$m", 0.0) / 1000 / math.max(1, tracedPasses), "s")
    }.toMap
    val perQuery = selected.flatMap { n =>
      val os = ctx.ops.filter(o => o.cls == s"query.$n" && o.ok && o.traced).toSeq
      if (os.isEmpty) Seq(s"queries.${n}_s" -> (0.0, "s"), s"queries.$n.gap_ms" -> (0.0, "ms"))
      else Seq(
        s"queries.${n}_s" -> (Stats.median(os.map(_.wallS)), "s"),
        s"queries.$n.gap_ms" -> (Stats.median(os.map(o => Layers.split(o)._3)), "ms"))
    }
    perModule ++ perQuery
  }
}

/** The ROADMAP's query families; their sums run over the members in the
  * slice. The stream family (q132, q133, q145, q204) has none: its queries
  * take 3-5 s each, more than the run budget leaves. */
object QueryRegistry {
  val graph = Seq("q107_pagerank", "q127_bfs", "q112_triangles", "q50_components")
  val retrieval = Seq("q139_bm25_batch", "q160_index_search", "q161_index_update",
    "q194_hybrid_rrf", "q195_hard_negatives", "q197_hybrid_routed", "q203_negatives_hybrid")
}

/** Times the named queries (every registered one if none is named) for a
  * few passes on the generated data and prints one JSON line per query and
  * pass: the tool that chose the workload's slice and records its
  * reference results. Usage: RegistryProbe <work dir> <passes> [query ...] */
object RegistryProbe {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val passes = args(1).toInt
    val spark = Main.session(work)
    val data = work.resolve("data").toString
    TpchGen.write(spark, data, Registry.DataSeed)
    val names = if (args.length > 2) args.drop(2).toSeq else Registry.all.keys.toSeq.sorted
    (1 to passes).foreach { p =>
      names.foreach { n =>
        val (module, fn) = Registry.all(n)
        val t0 = System.nanoTime()
        val res = try {
          val df = fn(spark, data)
          Registry.noop(df)
          val dt = (System.nanoTime() - t0) / 1e9
          val (rows, hash) = Registry.fingerprint(df)
          Map("s" -> dt, "rows" -> rows, "hash" -> hash)
        } catch { case e: Throwable => Map("error" -> e.toString.take(300)) }
        Lifetime.releaseAll(spark, blocking = true)
        println("PROBE " + Stats.json(Map("pass" -> p, "name" -> n, "module" -> module) ++ res))
      }
    }
    spark.stop()
  }
}
