package graft.convert

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream
import javax.xml.parsers.DocumentBuilderFactory
import graft.core.Dom.textOf
import org.w3c.dom.{Document, Element}
import scala.collection.mutable

/** Pure-JVM ODS (OpenDocument Spreadsheet) decoder — ZIP + `content.xml`,
  * no SODS/POI. The OpenDocument counterpart of [[XlsxDecoder]], feeding
  * the same all-strings [[SpreadsheetConverter.Sheet]] contract
  * (SURVEY S7; resources/convertors/spreadsheet_to_parquet.py:108-186).
  *
  * Rendering matches the XLSX decoder's conventions so the downstream
  * inference treats both formats identically:
  *  - `date` cells: `yyyy-MM-dd` (date-only) or `yyyy-MM-dd HH:mm:ss`
  *    (with a time part) — the ISO normalizer picks these up;
  *  - `time` cells (ISO-8601 durations like `PT10H30M00S`): `HH:mm:ss` —
  *    which the inference's time-only guard deliberately does NOT ISO-ify;
  *  - `boolean`: `TRUE`/`FALSE`; `float`/`percentage`/`currency`: the raw
  *    `office:value` text; `string`: the `text:p` content.
  *
  * ODS quirks handled: `table:number-columns-repeated` /
  * `table:number-rows-repeated` expansion. Trailing repeated-empty
  * cells/rows (LibreOffice's pad-to-16k-width / pad-row-count idiom) are
  * dropped BEFORE expansion, so interior repeats — empty or not — expand
  * EXACTLY and never shift later cells out of alignment with the header.
  * All expansion is charged against an absolute per-sheet cell budget
  * ([[MaxSheetCells]]) and the ZIP reader against a byte budget
  * ([[MaxZipBytes]]); a file that demands more is treated like any other
  * parse failure (`Seq.empty`), bounding memory without silently
  * corrupting valid data.
  */
object OdsDecoder {

  /** Absolute cap on expanded cells per sheet, content-bearing repeats
    * included. Generous (1M cells ≈ far beyond any real workbook sheet
    * this pipeline ingests); exceeding it fails the decode to Seq.empty. */
  private val MaxSheetCells = 1000000L

  /** Cap on total uncompressed bytes buffered out of the ZIP container
    * (zip-bomb guard for [[readZip]]'s eager buffering). */
  private val MaxZipBytes = 256L * 1024 * 1024

  private final class Oversized extends RuntimeException("spreadsheet decode budget exceeded")

  private final class CellBudget(private var remaining: Long) {
    def charge(n: Long): Unit = {
      remaining -= n
      if (remaining < 0) throw new Oversized
    }
  }

  /** Namespace-aware DOM parse of one workbook part. Parts are untrusted
    * input: no DTDs, no external entities. */
  private[convert] def parseXml(bytes: Array[Byte]): Document = {
    val f = DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(true)
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.setExpandEntityReferences(false)
    f.newDocumentBuilder().parse(new ByteArrayInputStream(bytes))
  }

  private val TableNs = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"
  private val OfficeNs = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"

  /** Does this (already-ZIP) payload carry an OpenDocument spreadsheet? */
  def looksLikeOds(zipEntries: collection.Map[String, Array[Byte]]): Boolean =
    zipEntries.get("mimetype")
      .map(b => new String(b, "UTF-8").trim)
      .map(_ == "application/vnd.oasis.opendocument.spreadsheet")
      .getOrElse(zipEntries.contains("content.xml") &&
        !zipEntries.contains("xl/workbook.xml"))

  /** Every file entry of a ZIP container (XLSX or ODS), by name; throws
    * once the entries inflate past [[MaxZipBytes]] in total. */
  def readZip(payload: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(payload))
    val out = mutable.Map.empty[String, Array[Byte]]
    var budget = MaxZipBytes
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          // read at most the remaining budget; one more byte means the
          // uncompressed payload exceeds the cap (zip-bomb guard)
          val bytes = zin.readNBytes(math.min(budget, Int.MaxValue.toLong - 8).toInt)
          if (zin.read() != -1) throw new Oversized
          budget -= bytes.length
          out(e.getName.stripPrefix("/")) = bytes
        }
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.toMap
  }

  private def childElemsNS(parent: Element, ns: String, local: String): Seq[Element] = {
    val nl = parent.getChildNodes
    (0 until nl.getLength).map(nl.item).collect {
      case e: Element if e.getLocalName == local &&
        (e.getNamespaceURI == ns || ns == "*") => e
    }
  }

  /** `PT10H30M5S`-style duration → `HH:mm:ss` (the Time-column shape). */
  def renderDuration(dur: String): String =
    try {
      val d = java.time.Duration.parse(dur)
      f"${d.toHours}%02d:${d.toMinutesPart}%02d:${d.toSecondsPart}%02d"
    } catch { case _: Exception => dur }

  /** `2023-03-01` stays; `2023-03-01T10:00:00` → `2023-03-01 10:00:00`. */
  def renderDate(iso: String): String =
    if (iso.contains('T')) {
      val Array(dpart, tpart) = iso.split("T", 2)
      val t = tpart.takeWhile(c => c.isDigit || c == ':')
      val padded = t.split(":").toSeq.padTo(3, "00").map(s => f"${s.toInt}%02d")
      s"$dpart ${padded.mkString(":")}"
    } else iso

  private def cellValue(cell: Element): Option[String] = {
    def attr(ns: String, n: String): Option[String] =
      Option(cell.getAttributeNS(ns, n)).filter(_.nonEmpty)
    val vt = attr(OfficeNs, "value-type").getOrElse("")
    vt match {
      case "date" => attr(OfficeNs, "date-value").map(renderDate)
      case "time" => attr(OfficeNs, "time-value").map(renderDuration)
      case "boolean" =>
        attr(OfficeNs, "boolean-value").map(b => if (b == "true") "TRUE" else "FALSE")
      case "float" | "percentage" | "currency" =>
        attr(OfficeNs, "value")
      case _ => // string (or untyped): paragraph text, \n-joined
        val ps = childElemsNS(cell, "*", "p").map(textOf)
        if (ps.isEmpty) None else Some(ps.mkString("\n"))
    }
  }

  /** One row → expanded cells. Trailing repeated-empty cells (the
    * pad-to-sheet-width idiom) are dropped BEFORE expansion — they'd be
    * trimmed anyway, and skipping them means the 16384-wide padding cell
    * costs nothing. Interior repeats expand exactly (capping them would
    * shift later cells left, silently misaligning data vs the header);
    * the expansion is charged to the sheet-wide budget instead. */
  private def decodeRow(row: Element, budget: CellBudget): Seq[Option[String]] = {
    val cells = childElemsNS(row, TableNs, "table-cell").map { cell =>
      val repeat = Option(cell.getAttributeNS(TableNs, "number-columns-repeated"))
        .filter(_.nonEmpty).map(_.toInt).getOrElse(1)
      (cellValue(cell), math.max(repeat, 1))
    }
    val kept = cells.reverse.dropWhile(_._1.isEmpty).reverse
    val out = mutable.ArrayBuffer.empty[Option[String]]
    kept.foreach { case (v, n) =>
      budget.charge(n.toLong)
      (0 until n).foreach(_ => out += v)
    }
    out.toSeq
  }

  /** Decode an ODS payload into ordered sheets of string cells; header =
    * first row, extra unnamed columns `unnamed_i` — identical contract to
    * [[XlsxDecoder.decode]]. Empty on anything that doesn't parse or that
    * exceeds the cell/byte budgets. */
  def decode(payload: Array[Byte]): Seq[SpreadsheetConverter.Sheet] =
    try decodeEntries(readZip(payload)) catch { case _: Exception => Seq.empty }

  /** [[decode]] over the container's entries, already read by [[readZip]]. */
  def decodeEntries(parts: Map[String, Array[Byte]]): Seq[SpreadsheetConverter.Sheet] =
    try {
      val content = parts.get("content.xml").getOrElse(return Seq.empty)
      val doc = parseXml(content)
      val tables = doc.getElementsByTagNameNS(TableNs, "table")
      (0 until tables.getLength).map(tables.item(_).asInstanceOf[Element]).map { t =>
        val name = Option(t.getAttributeNS(TableNs, "name")).filter(_.nonEmpty)
          .getOrElse("sheet")
        val budget = new CellBudget(MaxSheetCells)
        // (cells, repeat) per row element; trailing repeated-empty rows
        // (the row-repeat padding idiom) are dropped BEFORE expansion so
        // a pad-to-1M-rows tail costs nothing, while interior empty-row
        // repeats expand exactly and keep row alignment
        val pairs = childElemsNS(t, TableNs, "table-row").map { r =>
          val repeat = Option(r.getAttributeNS(TableNs, "number-rows-repeated"))
            .filter(_.nonEmpty).map(_.toInt).getOrElse(1)
          (decodeRow(r, budget), math.max(repeat, 1))
        }
        val kept = pairs.reverse.dropWhile(_._1.forall(_.isEmpty)).reverse
        val rows = mutable.ArrayBuffer.empty[Seq[Option[String]]]
        kept.foreach { case (cells, n) =>
          budget.charge(n.toLong * math.max(cells.length, 1))
          (0 until n).foreach(_ => rows += cells)
        }
        val trimmed = rows.toSeq
        val width = trimmed.foldLeft(0)((m, r) => math.max(m, r.length))
        val header0 = trimmed.headOption.getOrElse(Seq.empty)
        val header = (0 until width).map(j =>
          header0.lift(j).flatten.getOrElse(s"unnamed_$j"))
        val data = trimmed.drop(1).map(r => (0 until width).map(j => r.lift(j).flatten.orNull))
        SpreadsheetConverter.Sheet(name, header, data)
      }
    } catch { case _: Exception => Seq.empty }
}
