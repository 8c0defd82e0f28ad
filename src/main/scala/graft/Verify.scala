package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional extra args: run only the named queries (local iteration;
    // the driver always passes exactly two args → full run)
    val only: Set[String] = rest.toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // engine-owned session defaults (same fan-out floor as Bench — one
    // source of truth in GraftExtensions.sessionDefaults; results are
    // partitioning-independent, this only matches the benched shape)
    val spark = graft.functions.GraftExtensions.sessionDefaults(
      SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions)
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        // events.parquet stores TIMESTAMP(NANOS) which the vectorized
        // reader rejects; read as LongType nanos (Tables normalizes).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // ANN approximation quality in the sidecars (round-11 verdict ask):
    // the five approximate-top-k queries compute recall@10 vs the exact
    // brute-force baseline and print [ann-recall] lines the diag
    // capture picks up; a floor violation fails the query. Verify-only
    // — Bench never sets this, so serving times are unaffected.
    System.setProperty("graft.verify.recall", "1")
    new java.io.File(outDir).mkdirs()
    var sinceGc = 0
    // Randomized-order gate mode (stability ritual): with
    // SPARK_GRAFT_SHUFFLE_SEED set, the registry runs in a seeded-shuffled
    // order instead of Map-iteration order. Any cross-query coupling
    // through JVM-global state (catalogs, cached fixtures, session
    // hygiene) then shows up as a run-to-run output diff under different
    // seeds — the driver never sets the env, so its runs are unchanged.
    val base = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
    val ordered = sys.env.get("SPARK_GRAFT_SHUFFLE_SEED") match {
      case Some(seed) =>
        System.err.println(s"[verify] shuffled query order, seed=$seed")
        new scala.util.Random(seed.toLong).shuffle(base)
      case None => base
    }
    // Per-query sidecar diagnostics (round-9 verdict ask): every
    // bracket-tagged runtime line ([lake]/[lake-sql]/[zorder]...)
    // printed while a query runs is captured into
    // <name>.diag.json beside its parquet, with wall ms, written row
    // count (parquet-footer count — no data scan), and any error. The
    // NEXT unexplained discrepancy is then attributable from the run's
    // own artifact: lake versions and fixture sizes ride along. Sidecars
    // are plain files, so a directory-per-query compare is unaffected.
    val diagBuf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def tee(base: java.io.PrintStream): java.io.PrintStream =
      new java.io.PrintStream(base, true) {
        override def println(s: String): Unit = {
          if (s.nonEmpty && s.charAt(0) == '[') diagBuf.add(s)
          base.println(s)
        }
      }
    val (out0, err0) = (System.out, System.err)
    System.setOut(tee(out0)); System.setErr(tee(err0))
    def jq(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    ordered.foreach { case (name, fn) =>
      diagBuf.clear()
      val t0 = System.nanoTime()
      var error: Option[String] = None
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        error = Some(e.toString)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val ms = (System.nanoTime() - t0) / 1000000L
      val rows = if (error.isEmpty)
        try spark.read.parquet(s"$outDir/$name").count() catch {
          case _: Throwable => -1L
        }
      else -1L
      val diags = {
        val it = diagBuf.iterator(); val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next(); b.result()
      }
      val sidecar = s"""{"query": ${jq(name)}, "ms": $ms, """ +
        s""""rows_written": $rows, """ +
        s""""error": ${error.map(jq).getOrElse("null")}, """ +
        s""""diags": [${diags.map(jq).mkString(", ")}]}"""
      Files.writeString(Paths.get(s"$outDir/$name.diag.json"), sidecar)
      // same session hygiene as Bench: checkpoints parked by iterative
      // queries would otherwise accumulate across the 129-query run
      graft.runtime.Lifetime.releaseAll(spark)
      sinceGc += 1
      if (sinceGc >= 8) { sinceGc = 0; System.gc() }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
