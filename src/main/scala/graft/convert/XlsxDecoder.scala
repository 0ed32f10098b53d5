package graft.convert

import OdsDecoder.parseXml
import graft.core.Dom.textOf
import org.w3c.dom.{Document, Element}

/** Pure-JVM XLSX workbook decoder (ZIP + SpreadsheetML XML — no POI).
  *
  * Mirrors what the reference's pandas `read_excel` hands its converter
  * (resources/convertors/spreadsheet_to_parquet.py:108-186): every sheet in
  * workbook order, every cell as a string, with date/datetime-styled
  * numeric cells rendered as date strings (so the downstream ISO
  * normalizer picks them up) and time-styled cells rendered `HH:mm:ss`
  * (which the inference's time-only guard deliberately does NOT ISO-ify —
  * the reference's golden tests pin exactly that split,
  * tests/resources/test_spreadsheet_to_parquet.py:35-78).
  *
  * Decoding is driver-free and allocation-bounded: one pass over the ZIP
  * entries, DOM parse per part (sheet XML of test/real-world workbooks is
  * small relative to executor memory; the corpus-level converter
  * parallelizes across FILES, so a single workbook never needs to split).
  */
object XlsxDecoder {

  /** PK zip magic — cheap "is this an xlsx/zip at all" probe. */
  def looksLikeZip(payload: Array[Byte]): Boolean =
    payload != null && payload.length > 3 &&
      payload(0) == 'P'.toByte && payload(1) == 'K'.toByte

  private def elems(parent: Document, local: String): Seq[Element] = {
    val nl = parent.getElementsByTagNameNS("*", local)
    (0 until nl.getLength).map(nl.item(_).asInstanceOf[Element])
  }
  private def childElems(parent: Element, local: String): Seq[Element] = {
    val nl = parent.getElementsByTagNameNS("*", local)
    (0 until nl.getLength).map(nl.item(_).asInstanceOf[Element])
  }

  /** "B3" → 0-based column index 1. */
  def colIndex(cellRef: String): Int = {
    var i = 0; var acc = 0
    while (i < cellRef.length && cellRef.charAt(i).isLetter) {
      acc = acc * 26 + (cellRef.charAt(i).toUpper - 'A' + 1); i += 1
    }
    math.max(acc - 1, 0)
  }

  // ----------------------------------------------------------- number formats

  private val BuiltinTimeFmts = Set(18, 19, 20, 21, 45, 46, 47)
  private val BuiltinDateFmts = Set(14, 15, 16, 17, 22)

  /** Strip quoted literals and [..] sections so format letters are classable. */
  private def cleanFormat(code: String): String =
    code.replaceAll("\"[^\"]*\"", "").replaceAll("\\[[^\\]]*\\]", "").toLowerCase

  sealed trait CellStyle
  case object PlainStyle extends CellStyle
  case object DateStyle extends CellStyle     // y/m/d, no time part
  case object DateTimeStyle extends CellStyle // date + time
  case object TimeStyle extends CellStyle     // time only — the NOT-ISO guard

  def classifyFormat(numFmtId: Int, custom: Map[Int, String]): CellStyle = {
    if (BuiltinTimeFmts(numFmtId)) TimeStyle
    else if (numFmtId == 22) DateTimeStyle
    else if (BuiltinDateFmts(numFmtId)) DateStyle
    else custom.get(numFmtId) match {
      case Some(code) =>
        val c = cleanFormat(code)
        val hasDate = c.contains('y') || c.contains('d')
        val hasTime = c.contains('h') || c.contains('s')
        if (hasDate && hasTime) DateTimeStyle
        else if (hasDate) DateStyle
        else if (hasTime) TimeStyle
        else PlainStyle
      case None => PlainStyle
    }
  }

  /** styles.xml → cell-xf index → CellStyle. */
  private def parseStyles(bytes: Option[Array[Byte]]): IndexedSeq[CellStyle] =
    bytes.map { b =>
      val doc = parseXml(b)
      val custom = elems(doc, "numFmt").map { e =>
        e.getAttribute("numFmtId").toInt -> e.getAttribute("formatCode")
      }.toMap
      elems(doc, "cellXfs").headOption.map { xfs =>
        childElems(xfs, "xf").map { xf =>
          val id = Option(xf.getAttribute("numFmtId")).filter(_.nonEmpty)
            .map(_.toInt).getOrElse(0)
          classifyFormat(id, custom)
        }.toIndexedSeq
      }.getOrElse(IndexedSeq.empty)
    }.getOrElse(IndexedSeq.empty)

  // ------------------------------------------------------------ serial dates

  private val Epoch = java.time.LocalDate.of(1899, 12, 30)

  /** Excel serial → rendered string per style (second-rounded). */
  def renderSerial(serial: Double, style: CellStyle): String = {
    val days = math.floor(serial).toLong
    val secs = math.round((serial - days) * 86400.0)
    val dt = Epoch.plusDays(days).atStartOfDay().plusSeconds(secs)
    style match {
      case TimeStyle => f"${dt.getHour}%02d:${dt.getMinute}%02d:${dt.getSecond}%02d"
      case DateStyle if secs == 0 => dt.toLocalDate.toString
      case _ =>
        f"${dt.toLocalDate}%s ${dt.getHour}%02d:${dt.getMinute}%02d:${dt.getSecond}%02d"
    }
  }

  // ------------------------------------------------------------------ decode

  /** Decode an xlsx payload into ordered sheets of string cells; header =
    * first row (pandas `header=0`), extra unnamed columns get `unnamed_i`.
    * Returns empty when the container has no workbook part; throws on a
    * malformed part or a container past [[OdsDecoder.readZip]]'s budget.
    */
  def decode(payload: Array[Byte]): Seq[SpreadsheetConverter.Sheet] =
    decodeEntries(OdsDecoder.readZip(payload))

  /** [[decode]] over the container's entries, already read by
    * [[OdsDecoder.readZip]]. */
  def decodeEntries(parts: Map[String, Array[Byte]]): Seq[SpreadsheetConverter.Sheet] = {
    val wbBytes = parts.get("xl/workbook.xml").getOrElse(return Seq.empty)
    val wb = parseXml(wbBytes)

    val rels = parts.get("xl/_rels/workbook.xml.rels").map { b =>
      elems(parseXml(b), "Relationship").map { r =>
        r.getAttribute("Id") -> r.getAttribute("Target")
      }.toMap
    }.getOrElse(Map.empty)

    val shared: IndexedSeq[String] = parts.get("xl/sharedStrings.xml").map { b =>
      elems(parseXml(b), "si").map(si =>
        childElems(si, "t").map(textOf).mkString).toIndexedSeq
    }.getOrElse(IndexedSeq.empty)

    val styles = parseStyles(parts.get("xl/styles.xml"))

    elems(wb, "sheet").zipWithIndex.flatMap { case (s, i) =>
      val name = s.getAttribute("name")
      val rid = s.getAttributeNS(
        "http://schemas.openxmlformats.org/officeDocument/2006/relationships", "id")
      val target = rels.get(rid)
        .map(t => if (t.startsWith("/")) t.stripPrefix("/") else s"xl/$t")
        .getOrElse(s"xl/worksheets/sheet${i + 1}.xml")
      parts.get(target).map { sheetBytes =>
        val rows = decodeSheetRows(parseXml(sheetBytes), shared, styles)
        val width = rows.foldLeft(0)((m, r) => math.max(m, r.length))
        val header0 = rows.headOption.getOrElse(Seq.empty)
        val header = (0 until width).map(j =>
          header0.lift(j).flatten.getOrElse(s"unnamed_$j"))
        val data = rows.drop(1).map(r => (0 until width).map(j => r.lift(j).flatten.orNull))
        SpreadsheetConverter.Sheet(name, header, data)
      }
    }
  }

  private def decodeSheetRows(doc: Document, shared: IndexedSeq[String],
      styles: IndexedSeq[CellStyle]): Seq[Seq[Option[String]]] =
    elems(doc, "row").map { row =>
      val cells = childElems(row, "c").zipWithIndex.map { case (c, fallback) =>
        val ref = c.getAttribute("r")
        val idx = if (ref.nonEmpty) colIndex(ref) else fallback
        idx -> decodeCell(c, shared, styles)
      }
      val width = cells.foldLeft(0)((m, kv) => math.max(m, kv._1 + 1))
      val arr = Array.fill[Option[String]](width)(None)
      cells.foreach { case (i, v) => arr(i) = v }
      arr.toSeq
    }

  private def decodeCell(c: Element, shared: IndexedSeq[String],
      styles: IndexedSeq[CellStyle]): Option[String] = {
    val t = c.getAttribute("t")
    def v: Option[String] = childElems(c, "v").headOption.map(textOf)
    t match {
      case "s" => v.flatMap(i => shared.lift(i.trim.toInt))
      case "inlineStr" =>
        childElems(c, "is").headOption.map(is => childElems(is, "t")
          .map(textOf).mkString)
      case "b" => v.map(x => if (x.trim == "1") "TRUE" else "FALSE")
      case "str" | "e" => v
      case _ => // number (or date/time, decided by the cell style)
        v.map { raw =>
          val style = Option(c.getAttribute("s")).filter(_.nonEmpty)
            .map(_.toInt).flatMap(styles.lift).getOrElse(PlainStyle)
          style match {
            case PlainStyle => raw
            case st => try renderSerial(raw.trim.toDouble, st)
                       catch { case _: NumberFormatException => raw }
          }
        }
    }
  }
}
