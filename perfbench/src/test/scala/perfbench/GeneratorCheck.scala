package perfbench

import java.time.LocalDate

import scala.util.Random

import graft.parse.ReportParser

/** The benchmark's own test of its input generators (no Spark needed):
  *  - `ReportParser.parse` accepts every valid generated report with the
  *    expected template and row count, and rejects every corrupt or
  *    unknown-layout file;
  *  - the same seed gives byte-identical reports and identical flows.
  * Exits non-zero on the first failure. */
object GeneratorCheck {
  private var failures = 0

  private def expect(ok: Boolean, what: => String): Unit =
    if (!ok) { failures += 1; System.err.println(s"FAIL: $what") }

  private def night(seed: Long): Seq[RadarGen.Report] = {
    val r = new Random(seed)
    val eq = RadarGen.equipments(40, seed)
    val loaded = Seq((eq(0), LocalDate.of(2024, 1, 1)), (eq(1), LocalDate.of(2024, 1, 2)))
    RadarGen.night(r, LocalDate.of(2024, 1, 3), eq.slice(2, 32), eq.slice(32, 40), loaded)
  }

  def main(args: Array[String]): Unit = {
    var accepted, rejected = 0
    val templates = scala.collection.mutable.Set[Int]()
    for (seed <- 1L to 5L; rep <- night(seed)) {
      ReportParser.parse(rep.key, rep.bytes) match {
        case Right(p) =>
          accepted += 1
          templates += p.template
          expect(rep.expect.contains((p.template, p.rows.size)),
            s"${rep.key}: parsed as template ${p.template} with ${p.rows.size} rows, " +
              s"expected ${rep.expect}")
          expect(p.equipment == rep.equipment && p.pubdate == rep.date.toString,
            s"${rep.key}: header read as ${p.equipment} ${p.pubdate}")
          expect(p.rows.forall(x => Seq(x.speed_00_10, x.speed_11_20, x.speed_21_30,
            x.speed_31_40, x.speed_41_50, x.speed_51_60, x.speed_61_70, x.speed_71_80,
            x.speed_81_90, x.speed_91_100, x.speed_100_up).sum == x.total),
            s"${rep.key}: a row's bins do not sum to its total")
        case Left(e) =>
          rejected += 1
          expect(rep.expect.isEmpty, s"${rep.key}: valid report rejected: ${e.message}")
      }
    }
    expect(templates == Set(1, 2, 3), s"templates seen: $templates")
    expect(rejected == 5 * 8, s"rejected $rejected files, injected ${5 * 8}")
    val a = night(7).map(_.bytes.toSeq)
    val b = night(7).map(_.bytes.toSeq)
    expect(a == b, "the same seed gave different report bytes")
    val f1 = FlowsGen.nightRows(new Random(3), LocalDate.of(2024, 2, 1), 1)
    val f2 = FlowsGen.nightRows(new Random(3), LocalDate.of(2024, 2, 1), 1)
    expect(f1 == f2 && f1.map(_.key).distinct.size == f1.size,
      "flows night is not deterministic or repeats a key")
    println(s"generator check: $accepted accepted, $rejected rejected, $failures failures")
    if (failures > 0) sys.exit(1)
  }
}
