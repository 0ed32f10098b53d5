package graft.convert

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.refine.CsvTypeInference

/** Spreadsheet (XLSX/XLS/ODS, multi-sheet) → typed DataFrames
  * (SURVEY S7; resources/convertors/spreadsheet_to_parquet.py:46-186).
  *
  * Reference semantics preserved:
  *  - all sheets read as strings, one output table per sheet;
  *  - sheet names sanitized to filesystem-safe form (the reference's
  *    `_safe_name`: non-alphanumerics → `_`, collapsed, truncated);
  *  - a per-file decode timeout guard (60 s SIGALRM in the reference) —
  *    here a bounded-time contract on the decoder call;
  *  - typing via the shared inference pass.
  */
object SpreadsheetConverter {

  val DecodeTimeoutSeconds = 60

  final case class Sheet(name: String, header: Seq[String], rows: Seq[Seq[String]])

  /** Workbook decoder — all three container families decoded for real by
    * pure-JVM decoders: XLSX via [[XlsxDecoder]] (ZIP + SpreadsheetML:
    * shared strings, inline strings, A1 refs, styles-driven
    * date/datetime/time rendering), ODS via [[OdsDecoder]] (content.xml
    * value-types, repeat expansion, same rendering contract), and legacy
    * binary XLS via [[XlsDecoder]] (CFB container + BIFF8 records, same
    * styles contract through the shared classifier). Payloads that are
    * none of the three have no sheets. */
  def decodeWorkbook(payload: Array[Byte]): Seq[Sheet] = {
    if (payload == null || payload.isEmpty) return Seq.empty
    if (XlsxDecoder.looksLikeZip(payload)) {
      return try {
        val entries = OdsDecoder.readZip(payload)
        if (OdsDecoder.looksLikeOds(entries)) OdsDecoder.decodeEntries(entries)
        else XlsxDecoder.decodeEntries(entries)
      } catch { case _: Exception => Seq.empty }
    }
    if (XlsDecoder.looksLikeCfb(payload)) XlsDecoder.decode(payload)
    else Seq.empty
  }

  /** Sheet-name sanitization (spreadsheet_to_parquet.py:46-61). */
  def safeSheetName(name: String): String = {
    val cleaned = name.toLowerCase
      .replaceAll("[^a-z0-9._-]+", "_")
      .replaceAll("_+", "_")
      .replaceAll("^[_.]+|[_.]+$", "")
    val out = cleaned.take(200)
    if (out.isEmpty) java.util.UUID.nameUUIDFromBytes(name.getBytes("UTF-8")).toString
    else out
  }

  /** Sanitize + dedupe column headers pandas-style: colliding sanitized
    * names get `.1`, `.2`, ... suffixes (pandas read_excel mangle_dupe_cols
    * behavior) so downstream column references stay unambiguous. */
  def dedupeHeaders(headers: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    headers.map { h =>
      val base = safeSheetName(h)
      val n = seen.getOrElse(base, 0)
      seen(base) = n + 1
      if (n == 0) base else s"$base.$n"
    }
  }

  /** One workbook payload → (safeSheetName, typed DataFrame) per sheet,
    * decode bounded by the timeout guard. */
  def convert(spark: SparkSession, payload: Array[Byte]): Seq[(String, DataFrame)] = {
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor()
    val sheets =
      try exec.submit(() => decodeWorkbook(payload))
        .get(DecodeTimeoutSeconds, java.util.concurrent.TimeUnit.SECONDS)
      catch { case _: Exception => Seq.empty[Sheet] }
      finally exec.shutdownNow()
    sheets.map { sheet =>
      val schema = StructType(dedupeHeaders(sheet.header)
        .map(StructField(_, StringType, nullable = true)))
      val rows = sheet.rows.map(r =>
        Row.fromSeq(sheet.header.indices.map(i => r.lift(i).orNull)))
      val raw = spark.createDataFrame(rows.asJava, schema)
      safeSheetName(sheet.name) -> CsvTypeInference.convert(raw)
    }
  }
}
