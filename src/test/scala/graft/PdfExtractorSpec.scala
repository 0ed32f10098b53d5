package graft

import graft.extract.{PdfExtractor, PdfTextParser}

class PdfExtractorSpec extends SparkSpec {

  /** Minimal two-page PDF: page 1 uncompressed content stream, page 2
    * FlateDecode-compressed, literal + hex strings, TJ kerning array. */
  private def fixturePdf(): Array[Byte] = {
    val content1 =
      "BT /F1 12 Tf 72 720 Td (Hello from a real) Tj 0 -14 Td " +
        "[(PDF) -250 (content) -250 (stream!)] TJ ET"
    val content2Raw = "BT 72 720 Td (Compressed \\(Flate\\) page) Tj " +
      "0 -14 Td <48657820737472696E67> Tj ET"
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(content2Raw.getBytes("ISO-8859-1")); deflater.finish()
    val buf = new Array[Byte](4096)
    val n = deflater.deflate(buf)
    val content2 = new String(buf.take(n), "ISO-8859-1")
    val pdf = new StringBuilder("%PDF-1.4\n")
    pdf ++= s"1 0 obj << /Length ${content1.length} >>\nstream\n$content1\nendstream\nendobj\n"
    pdf ++= s"2 0 obj << /Length ${content2.length} /Filter /FlateDecode >>\nstream\n$content2\nendstream\nendobj\n"
    pdf ++= "%%EOF\n"
    pdf.toString.getBytes("ISO-8859-1")
  }

  test("real pdf: uncompressed and Flate streams, literal/hex/TJ strings") {
    val pages = PdfExtractor.decodePdfText(fixturePdf())
    assert(pages.size == 2)
    assert(pages(0) == "Hello from a real\nPDFcontentstream!")
    assert(pages(1) == "Compressed (Flate) page\nHex string")
  }

  test("pdf text operators: escapes, octal, positioning newlines") {
    val t = PdfTextParser.runTextOperators(
      "BT (A\\051B) Tj T* (line\\062) Tj ET")
    assert(t == "A)B\nline2\n")
  }

  /** One-page uncompressed PDF whose text layer is `text`. */
  private def textPdf(text: String): Array[Byte] = {
    val content = s"BT 72 720 Td ($text) Tj ET"
    (s"%PDF-1.4\n1 0 obj << /Length ${content.length} >>\nstream\n$content\n" +
      "endstream\nendobj\n%%EOF\n").getBytes("ISO-8859-1")
  }

  test("image-only pdf (no BT) yields no text and flows to OCR fallback") {
    val pdf = ("%PDF-1.4\n1 0 obj << /Subtype /Image /Length 4 >>\n" +
      "stream\nabcd\nendstream\nendobj\n%%EOF").getBytes("ISO-8859-1")
    assert(PdfExtractor.decodePdfText(pdf).isEmpty)
    assert(PdfExtractor.extractWithOcrFallback(pdf, _ => "scanned page") == "scanned page")
  }

  test("long extracted text skips OCR") {
    var ocrCalls = 0
    val out = PdfExtractor.extractWithOcrFallback(textPdf("A" * 300),
      _ => { ocrCalls += 1; "B" * 400 })
    assert(out == "A" * 300)
    assert(ocrCalls == 0)
  }

  test("short extracted text triggers OCR fallback when OCR yields more") {
    val pdf = textPdf("abc")
    assert(PdfExtractor.extractWithOcrFallback(pdf, _ => "recognized text") == "recognized text")
    // OCR only replaces the text layer when it recognizes more
    assert(PdfExtractor.extractWithOcrFallback(pdf, _ => "ab") == "abc")
  }

  test("empty payload gives empty text") {
    assert(PdfExtractor.extractWithOcrFallback(Array.empty) == "")
    assert(PdfExtractor.extractWithOcrFallback(null) == "")
    // non-pdf bytes have no pages, and with no OCR binary configured the
    // default OCR adds nothing
    val junk = Array[Byte]('a', 'b', 'c', 0, 1, 2)
    assert(PdfExtractor.decodePdfText(junk).isEmpty)
    assert(PdfExtractor.decodePdfText(("A" * 300).getBytes("UTF-8")).isEmpty)
    assert(PdfExtractor.extractWithOcrFallback(junk) == "")
  }

  test("CliOcr golden contract against a fake tesseract binary") {
    // the drop-in seam (r12 verdict item 7): a tesseract-compatible CLI
    // is invoked as `binary <payload-file> stdout`; this fake script
    // honors exactly that contract, so the assertions here ARE the
    // contract the real binary must meet — swap SPARK_GRAFT_TESSERACT to
    // /usr/bin/tesseract and nothing else changes
    val dir = java.nio.file.Files.createTempDirectory("graft-fake-ocr")
    val fake = dir.resolve("tesseract")
    java.nio.file.Files.writeString(fake,
      "#!/bin/sh\n" +
        "# fake tesseract: <input> stdout -> recognized text on stdout\n" +
        "[ \"$2\" = stdout ] || exit 2\n" +
        "[ -s \"$1\" ] || exit 1\n" +
        "echo 'RECOGNIZED page text from image-only scan'\n")
    fake.toFile.setExecutable(true)
    val ocr = new PdfExtractor.CliOcr(fake.toString)
    // golden: recognized text comes back trimmed
    assert(ocr.recognize("img-bytes".getBytes("UTF-8"))
      == "RECOGNIZED page text from image-only scan")
    // non-zero exit (empty payload file) degrades to "" — fail-soft
    assert(ocr.recognize(Array.empty[Byte]) == "")
    // a missing binary degrades to "" instead of throwing
    assert(new PdfExtractor.CliOcr(dir.resolve("nope").toString)
      .recognize("x".getBytes) == "")
    // threshold orchestration composes with the CLI engine: image-only
    // payload (no extractable text) + fake tesseract -> OCR text wins
    val out = PdfExtractor.extractWithOcrFallback(
      "binary image bytes".getBytes("UTF-8"), ocr.recognize _)
    assert(out == "RECOGNIZED page text from image-only scan")
    // ...but a long extracted text still skips OCR entirely
    assert(PdfExtractor.extractWithOcrFallback(textPdf("W" * 250), ocr.recognize _)
      == "W" * 250)
  }
}
