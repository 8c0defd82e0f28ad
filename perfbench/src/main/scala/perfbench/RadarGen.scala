package perfbench

import java.io.ByteArrayOutputStream
import java.time.LocalDate
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable
import scala.util.Random

/** Seeded generator of per-radar report workbooks (.xlsx) in the three
  * layouts the report parser knows, written by the benchmark's own
  * SpreadsheetML writer (shared-string table, numeric cells), so that two
  * engine versions under comparison parse byte-identical inputs.
  *
  * Layouts (0-based cells): the header date at (2,1) as "Relatório D/M/YYYY",
  * the equipment at (5,1) as "EQUIP-street", the first block's direction at
  * (5,15), data rows from row 8 with the time range in column 1, eleven
  * speed bins in columns 5,7,9,10,12,13,14,15,17,18,20 and the total in 21.
  * Template 1: one 96-row block, "Total Geral" at (105,1), 109 rows.
  * Template 2: two 96-row blocks (the second from row 109, its direction at
  * (106,15)), "Total Geral" at (206,1), 210 rows. Template 3: one 192-row
  * block, "Total Geral" at (201,1), 205 rows. */
object RadarGen {

  private val binCols = Seq(5, 7, 9, 10, 12, 13, 14, 15, 17, 18, 20)
  private val streets = Seq("Rua Blumenau", "Av Beira Rio", "Rua XV", "Av Santos Dumont",
    "Rua Dona Francisca", "Av Getulio Vargas")
  private val dirs = Seq("N", "S", "L", "O")

  /** One landed file: its landing key (EQUIP/yyyy-MM-dd.xlsx), bytes, and
    * what the parser must make of it: Some((template, rows)) or None when
    * the file is corrupt or has an unknown layout. */
  final case class Report(key: String, equipment: String, date: LocalDate,
      bytes: Array[Byte], expect: Option[(Int, Int)])

  def equipments(n: Int, seed: Long): IndexedSeq[String] = {
    val r = new Random(seed)
    val out = mutable.LinkedHashSet[String]()
    while (out.size < n)
      out += f"FS${r.nextInt(1000)}%03d${Seq.fill(3)(('A' + r.nextInt(26)).toChar).mkString}"
    out.toIndexedSeq
  }

  /** The equipment's layout is fixed: 60% template 1, 25% 2, 15% 3. */
  def templateOf(equipment: String): Int = {
    val h = math.abs(equipment.hashCode % 20)
    if (h < 12) 1 else if (h < 17) 2 else 3
  }

  def rowsOf(template: Int): Int = if (template == 1) 96 else 192

  private def dmy(d: LocalDate) = s"${d.getDayOfMonth}/${d.getMonthValue}/${d.getYear}"

  private def slot(i: Int, minutes: Double): String = {
    def hm(m: Int) = f"${(m / 60) % 24}%02d:${m % 60}%02d"
    val s = (i * minutes).toInt
    val e = ((i + 1) * minutes).toInt
    s"${hm(s)} as ${hm(e % 1440)}"
  }

  private def block(cells: mutable.Map[(Int, Int), String], r: Random, begin: Int,
      n: Int, minutes: Double): Unit =
    for (i <- 0 until n) {
      val row = begin + i
      cells((row, 1)) = slot(i % (1440 / minutes).toInt, minutes)
      val bins = binCols.indices.map(j => r.nextInt(if (j >= 3 && j <= 6) 40 else 6))
      binCols.zip(bins).foreach { case (c, v) => cells((row, c)) = v.toString }
      cells((row, 21)) = bins.sum.toString
    }

  /** Cells of a report; `template` 0 is an unknown layout (a template-1
    * block with its sentinel and row count off). */
  def cells(template: Int, equipment: String, date: LocalDate, r: Random): Map[(Int, Int), String] = {
    val c = mutable.Map[(Int, Int), String]()
    c((2, 1)) = s"Relatório ${dmy(date)}\nMonitran"
    c((5, 1)) = s"$equipment-${streets(r.nextInt(streets.size))}"
    c((5, 15)) = s"Centro/${dirs(r.nextInt(4))}"
    template match {
      case 1 =>
        block(c, r, 8, 96, 15); c((105, 1)) = "Total Geral"; c((108, 0)) = "fim"
      case 2 =>
        block(c, r, 8, 96, 15); c((106, 15)) = s"Centro/${dirs(r.nextInt(4))}"
        block(c, r, 109, 96, 15); c((206, 1)) = "Total Geral"; c((209, 0)) = "fim"
      case 3 =>
        block(c, r, 8, 192, 7.5); c((201, 1)) = "Total Geral"; c((204, 0)) = "fim"
      case _ =>
        block(c, r, 8, 90, 15); c((99, 1)) = "Total Geral"; c((120, 0)) = "fim"
    }
    c.toMap
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  private def colName(c: Int): String = {
    var n = c + 1
    val sb = new StringBuilder
    while (n > 0) { sb.insert(0, ('A' + (n - 1) % 26).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  /** SpreadsheetML package of one sheet: text cells go to the shared-string
    * table, integer cells are numeric. Zip entries carry a fixed time, so
    * equal cells give equal bytes. */
  def xlsx(cells: Map[(Int, Int), String]): Array[Byte] = {
    val strings = mutable.LinkedHashMap[String, Int]()
    val sheet = new StringBuilder(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    cells.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1).foreach { case (row, cs) =>
      sheet.append(s"""<row r="${row + 1}">""")
      cs.sortBy(_._1._2).foreach { case ((_, col), v) =>
        val ref = colName(col) + (row + 1)
        if (v.nonEmpty && v.forall(_.isDigit)) sheet.append(s"""<c r="$ref"><v>$v</v></c>""")
        else {
          val i = strings.getOrElseUpdate(v, strings.size)
          sheet.append(s"""<c r="$ref" t="s"><v>$i</v></c>""")
        }
      }
      sheet.append("</row>")
    }
    sheet.append("</sheetData></worksheet>")
    val shared = strings.keys.map(s => s"<si><t xml:space=\"preserve\">${esc(s)}</t></si>")
      .mkString(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${strings.size}" uniqueCount="${strings.size}">""",
        "", "</sst>")
    val ns = "http://schemas.openxmlformats.org"
    val parts = Seq(
      "[Content_Types].xml" ->
        (s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Types xmlns="$ns/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
          """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>"""),
      "_rels/.rels" ->
        (s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="$ns/package/2006/relationships">""" +
          s"""<Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""),
      "xl/workbook.xml" ->
        (s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="$ns/spreadsheetml/2006/main" xmlns:r="$ns/officeDocument/2006/relationships">""" +
          """<sheets><sheet name="Relatorio" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" ->
        (s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="$ns/package/2006/relationships">""" +
          s"""<Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
          s"""<Relationship Id="rId2" Type="$ns/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/></Relationships>"""),
      "xl/sharedStrings.xml" -> shared,
      "xl/worksheets/sheet1.xml" -> sheet.toString)
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    parts.foreach { case (name, body) =>
      val e = new ZipEntry(name)
      e.setTime(0L)
      zos.putNextEntry(e)
      zos.write(body.getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  /** Bytes that are not a workbook: a zip cut short, or plain noise. */
  def corrupt(r: Random, good: Array[Byte]): Array[Byte] =
    if (r.nextBoolean()) java.util.Arrays.copyOf(good, good.length / 3)
    else Array.fill(2000 + r.nextInt(4000))((32 + r.nextInt(90)).toByte)

  /** One night's landing: `valid` equipments report for `date` in their
    * layout, plus `bad` files (corrupt or unknown layout) and `redelivered`
    * copies of reports from earlier nights. */
  def night(r: Random, date: LocalDate, valid: Seq[String], bad: Seq[String],
      redelivered: Seq[(String, LocalDate)]): Seq[Report] = {
    def key(e: String, d: LocalDate) = s"$e/$d.xlsx"
    val good = valid.map { e =>
      val t = templateOf(e)
      Report(key(e, date), e, date, xlsx(cells(t, e, date, r)), Some((t, rowsOf(t))))
    }
    val again = redelivered.map { case (e, d) =>
      val t = templateOf(e)
      Report(key(e, d), e, d, xlsx(cells(t, e, d, r)), Some((t, rowsOf(t))))
    }
    val broken = bad.map { e =>
      val bytes =
        if (r.nextBoolean()) xlsx(cells(0, e, date, r))
        else corrupt(r, xlsx(cells(templateOf(e), e, date, r)))
      Report(key(e, date), e, date, bytes, None)
    }
    good ++ again ++ broken
  }
}
