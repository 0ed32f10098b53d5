package graft.extract

/** PDF text extraction with OCR fallback (SURVEY S8;
  * resources/convertors/pdf_extractor.py:15-101).
  *
  * Reference semantics preserved:
  *  - per-page text extraction, pages joined;
  *  - when the extracted text is shorter than OCR_THRESHOLD (= 200) chars,
  *    OCR runs over the page images and its output replaces the text IF
  *    longer (pdf_extractor.py:56-101);
  *  - extraction failure → empty text, row survives (fail-soft).
  *
  * Pipelines run [[extractWithOcrFallback]] per row through
  * `refine.FailSoft.withGuarded`, a narrow projection with no shuffle.
  */
object PdfExtractor {

  val OcrThreshold = 200

  /** PDF text decoder. %PDF payloads go through [[PdfTextParser]] — a
    * pure-JVM content-stream reader (FlateDecode inflate + Tj/TJ/quote text
    * operators) that covers the text-first PDFs the reference's extractor
    * sees; image-only pages yield no text and flow to the OCR fallback
    * below, exactly as in the reference. Any other payload has no pages. */
  def decodePdfText(payload: Array[Byte]): Seq[String] =
    if (!PdfTextParser.looksLikePdf(payload)) Seq.empty
    else try PdfTextParser.pageTexts(payload) catch { case _: Exception => Seq.empty }

  /** CLI OCR engine — the tesseract drop-in seam (enabling OCR is a
    * binary drop, not a code change).
    * Invokes `binary <payload-file> stdout` exactly the way the
    * reference's extractor shells out to tesseract
    * (resources/convertors/pdf_extractor.py:56-101 runs OCR per page
    * image and reads the text back); non-zero exit or a missing binary
    * degrade to "" — the fail-soft contract, OCR can only ADD text.
    * Contract-tested against a fake tesseract script in PdfExtractorSpec
    * so the real binary slots in with zero code change. */
  final class CliOcr(binary: String,
      timeoutSec: Long = CliOcr.DefaultTimeoutSec) extends Serializable {
    def recognize(payload: Array[Byte]): String = {
      if (payload == null || payload.isEmpty) return ""
      val tmp = java.nio.file.Files.createTempFile("graft-ocr", ".bin")
      var proc: Process = null
      try {
        java.nio.file.Files.write(tmp, payload)
        // stderr DISCARDED, not merged and not left attached: tesseract
        // writes warnings there, and an unconsumed 64 KiB pipe buffer
        // would block the child while we block on stdout — a deadlock;
        // merging would pollute the recognized text
        val p = new ProcessBuilder(binary, tmp.toString, "stdout")
          .redirectError(ProcessBuilder.Redirect.DISCARD).start()
        proc = p
        // stdout drains on its own daemon thread so a chatty child never
        // blocks on a full pipe, while the MAIN thread only ever blocks on
        // the bounded waitFor: a hung binary is killed (destroyForcibly),
        // never waited on forever — a task slot must not leak into a
        // zombie child
        val buf = new java.io.ByteArrayOutputStream()
        val drain = new Thread(() => {
          try { p.getInputStream.transferTo(buf); () }
          catch { case _: Exception => () }
        }, "graft-ocr-stdout")
        drain.setDaemon(true)
        drain.start()
        if (!p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)) {
          p.destroyForcibly()
          ""
        } else {
          drain.join(2000) // stdout closes with the child; bounded anyway
          if (p.exitValue() == 0) new String(buf.toByteArray, "UTF-8").trim
          else ""
        }
      } catch {
        case _: Exception =>
          if (proc != null) proc.destroyForcibly() // no orphaned child
          ""
      } finally java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  object CliOcr {
    /** Per-page OCR is seconds, not minutes — 120 s flags a hung binary,
      * not a slow page; fail-soft returns "" exactly like a crash. */
    val DefaultTimeoutSec = 120L
  }

  /** The active OCR engine: SPARK_GRAFT_TESSERACT (path to a tesseract-
    * compatible binary) activates [[CliOcr]]; with no binary configured,
    * OCR adds nothing. Resolved once per JVM — executors re-resolve from
    * the same env, so the choice is cluster-consistent. */
  private lazy val defaultOcr: Array[Byte] => String =
    sys.env.get("SPARK_GRAFT_TESSERACT") match {
      case Some(bin) if new java.io.File(bin).canExecute =>
        new CliOcr(bin).recognize _
      case _ => _ => ""
    }

  def ocrPages(payload: Array[Byte]): String = defaultOcr(payload)

  /** Threshold orchestration — the reference's real control flow. The
    * `ocr` parameter is the engine seam (default: env-resolved); the
    * golden contract test drives it with a fake tesseract binary. */
  def extractWithOcrFallback(payload: Array[Byte],
      ocr: Array[Byte] => String = ocrPages _): String = {
    val text = try decodePdfText(payload).mkString("\n").trim
    catch { case _: Exception => "" }
    if (text.length < OcrThreshold) {
      val o = try ocr(payload) catch { case _: Exception => "" }
      if (o.length > text.length) o else text
    } else text
  }
}
