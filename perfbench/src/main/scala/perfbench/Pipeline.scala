package perfbench

import java.nio.charset.StandardCharsets.ISO_8859_1
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.convert.{CsvConverter, JsonConverter, SpreadsheetConverter}
import graft.extract.{HtmlExtractor, PdfExtractor}
import graft.operators.{Chunker, Embedder, ThemeTagger, ToyTextEncoder}
import graft.refine.{FailSoft, RefinePipeline}
import graft.sources.{FileCorpus, Sinks}

/** `pipeline`: the refine → embed path over a generated raw corpus.
  *
  * One operation is one pass over `<work>/corpus`: scan and sidecar
  * association, extraction and conversion under `FailSoft`, dedupe, enrich
  * (length gate), anonymize, chunk, embed and theme-tag, ending in the
  * vector table write (`Sinks.writeVectorTable`, default buckets). After the
  * last pass, untimed, the documents ledger (`documents.jsonl`) records every
  * input file's outcome — the stage that removed it with its reason, or its
  * anonymized text. `run.py` checks both against the generator's ground
  * truth.
  *
  * An untraced pass is one lazy plan for the table write, with the extracted
  * documents and the anonymized survivors persisted because the ledger reads
  * them too; a traced pass materializes every stage boundary inside its
  * span. Set-up runs an untimed pass and the timed region one untraced pass;
  * a traced run adds a staged pass, and its tracing overhead is measured
  * against the untraced one. */
object Pipeline {

  val Formats = Seq("html", "pdf", "csv", "json", "xlsx")
  val Table = "pipeline_vectors"
  val Encoder = ToyTextEncoder(64)
  val Themes = Seq(
    "engines" -> "spark batch stream merge",
    "storage" -> "table column row part",
    "queries" -> "query filter scan agg group",
    "speed" -> "fast slow big small")

  private def nonBlank(s: String, what: String): String =
    if (s == null || s.trim.isEmpty) throw new IllegalArgumentException(s"no $what") else s

  val htmlKernel: String => String = s => nonBlank(HtmlExtractor.extractText(s), "visible text")
  // no OCR engine: a PDF without a text layer is rejected, not guessed at
  val pdfKernel: String => String = s =>
    nonBlank(PdfExtractor.extractWithOcrFallback(s.getBytes(ISO_8859_1), _ => ""), "text layer")
  val jsonKernel: String => String = s => JsonConverter.toRecords(s) match {
    case Some(recs) if recs.nonEmpty =>
      recs.map(_.toSeq.sortBy(_._1).map(_._2).mkString(" ")).mkString("\n")
    case _ => throw new IllegalArgumentException("unparseable or error JSON payload")
  }
  val xlsxKernel: String => String = s => {
    val sheets = SpreadsheetConverter.decodeWorkbook(s.getBytes(ISO_8859_1))
    nonBlank(sheets.flatMap(_.rows.map(_.mkString(" "))).mkString("\n"), "readable sheet")
  }

  private val canonical = (c: Column) => regexp_replace(c, "^file:/+", "/")

  /** Row counts at each stage boundary of a staged pass, what it cached, and
    * every input file's outcome, which `writeLedger` writes untimed. */
  final class Pass(val staged: Boolean) {
    val counts = mutable.LinkedHashMap.empty[String, Long]
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    var outcomes: DataFrame = _
    def unpersist(): Unit = cached.foreach(_.unpersist(blocking = true))
  }

  /** A stage's output inside its span; persisted (and counted) in a staged
    * pass, or when `keep` because two consumers read it. */
  private def stage(tr: Tracer, p: Pass, layer: String, name: String, keep: Boolean = false)(
      df: => DataFrame): DataFrame =
    tr.span(layer, name) {
      val d = df
      if (p.staged || keep) {
        val c = d.persist()
        if (p.staged) p.counts(name) = c.count()
        p.cached += c
        c
      } else d
    }

  def pass(spark: SparkSession, tr: Tracer, corpus: String, staged: Boolean): Pass = {
    val p = new Pass(staged)
    val files = stage(tr, p, "sources", "scan")(FileCorpus.scan(spark, corpus))
    val assoc = stage(tr, p, "sources", "associate") {
      val meta = files.filter(FileCorpus.isMetadataFile(col("path")))
        .select(col("path").as("meta_path"), col("content").cast("string").as("meta"))
      FileCorpus.associateMetadata(files, Formats)
        .join(files.select(col("path").as("data_path"), col("content")), "data_path")
        .join(meta, "meta_path")
        .select(canonical(col("data_path")).as("data_path"), col("ext"), col("content"),
          get_json_object(col("meta"), "$.lang").as("lang"),
          get_json_object(col("meta"), "$.license").as("license"))
    }
    // text formats as UTF-8 (lenient cast), binary ones byte-for-byte as ISO-8859-1
    def guarded(ext: String, binary: Boolean, kernel: String => String) =
      FailSoft.withGuarded(assoc.filter(col("ext") === ext),
        if (binary) decode(col("content"), "ISO-8859-1") else col("content").cast("string"),
        "text", kernel).drop("content")
    val extracted = stage(tr, p, "extract", "extract") {
      guarded("html", binary = false, htmlKernel).unionByName(guarded("pdf", binary = true, pdfKernel))
    }
    val converted = stage(tr, p, "convert", "convert") {
      val csvText = CsvConverter.convert(spark, s"$corpus/*/*.csv")
        .withColumn("data_path", canonical(input_file_name()))
        .groupBy("data_path")
        .agg(concat_ws("\n", transform(sort_array(collect_list(struct(col("doc_id"), col("text")))),
          r => concat_ws(" ", r.getField("doc_id").cast("string"), r.getField("text")))).as("text"))
      val csv = assoc.filter(col("ext") === "csv").drop("content")
        .join(csvText, Seq("data_path"), "left")
        .withColumn("text_error", when(col("text").isNull, lit("EmptyTable: no rows")))
      guarded("json", binary = false, jsonKernel)
        .unionByName(guarded("xlsx", binary = true, xlsxKernel))
        .unionByName(csv)
    }
    val docs = {
      val d = extracted.unionByName(converted)
      if (staged) d else { val c = d.persist(); p.cached += c; c }
    }
    val ok = docs.filter(col("text_error").isNull)
    if (staged) {
      p.counts("extract_rejected") = extracted.filter(col("text_error").isNotNull).count()
      p.counts("convert_rejected") = converted.filter(col("text_error").isNotNull).count()
      p.counts("ok") = ok.count()
    }
    val deduped = stage(tr, p, "refine", "dedupe")(RefinePipeline.dedupe(ok, col("text"), col("data_path")))
    val enriched = stage(tr, p, "refine", "enrich")(
      RefinePipeline.enrich(deduped, col("text"), col("lang"), col("license")))
    val anon = stage(tr, p, "refine", "anonymize", keep = true)(RefinePipeline.anonymize(enriched, col("text")))
    val chunks = stage(tr, p, "operators", "chunk")(
      Chunker.explodeChunks(anon.select("data_path", "identifier", "anon_text"), col("anon_text"))
        .withColumn("chunk_id", xxhash64(col("identifier"), col("chunk_index"))))
    val embedded = stage(tr, p, "operators", "embed")(
      Embedder.embedText(chunks, col("chunk_id"), col("chunk"), Encoder))
    val tags = stage(tr, p, "operators", "tag")(
      ThemeTagger.tag(embedded, col("id"), col("embedding"), themes(spark), col("label"), col("tvec")))
    val table = chunks.select(col("chunk_id").as("id"), col("data_path"), col("chunk_index"))
      .join(embedded, "id")
      .join(tags.select("id", "labels"), Seq("id"), "left")
    tr.span("sources", "write")(Sinks.writeVectorTable(table, Table, "id"))

    def removed(df: DataFrame, at: String, reason: Column) =
      df.select(col("data_path"), lit(at).as("stage"), reason.as("reason"), lit(null).cast("string").as("anon_text"))
    val failed = docs.filter(col("text_error").isNotNull)
    p.outcomes = removed(failed.filter(col("ext").isin("html", "pdf")), "extract", col("text_error"))
      .unionByName(removed(failed.filter(!col("ext").isin("html", "pdf")), "convert", col("text_error")))
      .unionByName(removed(ok.join(deduped, Seq("data_path"), "left_anti"), "dedupe", lit("duplicate content")))
      .unionByName(removed(deduped.join(anon, Seq("data_path"), "left_anti"), "gate",
        lit(s"shorter than ${RefinePipeline.MinTextLength} chars")))
      .unionByName(anon.select(col("data_path"), lit("ok").as("stage"), lit(null).cast("string").as("reason"),
        col("anon_text")))
    p
  }

  /** The documents ledger of a pass, one JSON object per input file, for the checks. */
  def writeLedger(p: Pass, ledger: String): Unit = {
    val w = new java.io.PrintWriter(ledger, "UTF-8")
    try p.outcomes.collect().foreach { r =>
      w.println(Seq("data_path", "stage", "reason", "anon_text").zipWithIndex
        .map { case (k, i) => s"${Json.str(k)}:${if (r.isNullAt(i)) "null" else Json.str(r.getString(i))}" }
        .mkString("{", ",", "}"))
    } finally w.close()
  }

  def themes(spark: SparkSession): DataFrame = {
    val vecs = Encoder.encodeBatch(Themes.map(_._2).toArray)
    spark.createDataFrame(Themes.map(_._1).zip(vecs.map(_.toSeq))).toDF("label", "tvec")
  }

  def run(spark: SparkSession, tracer: Tracer, res: Result, work: String): Unit = {
    val corpus = s"$work/corpus"
    val ledger = s"$work/documents.jsonl"
    val inputs = dataFiles(new java.io.File(corpus))
    val nFiles = inputs.count(!_.getName.endsWith("_metadata.json"))
    val inputBytes = inputs.map(_.length).sum
    def once(i: Int, traced: Boolean): Pass =
      tracer.op(s"${if (traced) "t" else "u"}:$i", traced)(pass(spark, tracer, corpus, traced))

    // Set-up: the session and one untimed pass, which pays the JIT and code
    // generation a batch JVM pays in its first pass, so they show in
    // `setup_s`. The timed region is then one pass, whatever `seconds` asks;
    // a traced run adds one staged pass.
    try once(-1, traced = false).unpersist()
    catch { case e: Exception => res.error(s"set-up pass: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    res.metric("setup_s", Main.uptimeS(), "s")
    val runs = mutable.ArrayBuffer.empty[(Int, Boolean, Double)] // pass, traced, wall
    val staged = mutable.ArrayBuffer.empty[Pass]
    val last = if (tracer.enabled) 1 else 0
    def timed(i: Int, traced: Boolean): Unit = {
      res.attempted += 1
      val t0 = System.nanoTime()
      try {
        val p = once(i, traced)
        runs += ((i, traced, (System.nanoTime() - t0) / 1e9))
        Main.note(f"pass $i traced=$traced ${runs.last._3}%.2fs")
        // the last pass's outcomes are what run.py checks; written untimed
        if (i == last) tracer.op(s"ledger:$i", traced = false)(writeLedger(p, ledger))
        p.unpersist()
        if (traced) staged += p
      } catch { case e: Exception => res.fail(s"pass $i: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val cpu0 = Main.cpuS()
    timed(0, traced = false)
    val cpu = Main.cpuS() - cpu0
    if (tracer.enabled) timed(1, traced = true)
    val heap = Main.heapLiveMb()
    val plain = runs.filter(!_._2).map(_._3)
    res.metric("latency_p50_ms", Stats.median(plain) * 1000, "ms", plain.size)
    res.metric("throughput_per_s", nFiles * plain.size / plain.sum, "1/s", plain.size)
    res.metric("cpu_ms_per_op", cpu * 1000 / plain.size, "ms", plain.size)
    res.metric("heap_live_mb", heap, "MB")
    res.info("pass_s") = plain
    res.info("corpus_files") = nFiles
    res.info("corpus_bytes") = inputBytes

    if (tracer.enabled) {
      tracer.drain()
      val traced = runs.filter(_._2)
      val n = math.max(1, traced.size).toDouble
      def s(name: String) = tracer.seconds(name) / n
      def c(name: String) = staged.map(_.counts.getOrElse(name, 0L)).sum.toDouble / n
      val written = dataFiles(new java.io.File(s"$work/spark-warehouse/$Table"))
      Layers.spark(res, tracer, traced.map(r => s"t:${r._1}"), traced.map(_._3).sum)
      res.metric("sources.scan_s", s("scan") + s("associate"), "s", traced.size)
      res.metric("sources.files_listed", c("scan"), "count", traced.size)
      res.metric("sources.write_s", s("write"), "s", traced.size)
      res.metric("sources.files_written", written.size, "count")
      res.metric("sources.bytes_written_per_input_byte", written.map(_.length).sum.toDouble / inputBytes, "ratio")
      res.metric("extract.s", s("extract"), "s", traced.size)
      res.metric("extract.docs_out", c("extract"), "count", traced.size)
      res.metric("extract.rejected", c("extract_rejected"), "count", traced.size)
      res.metric("convert.s", s("convert"), "s", traced.size)
      res.metric("convert.files", c("convert"), "count", traced.size)
      res.metric("convert.rejected", c("convert_rejected"), "count", traced.size)
      res.metric("refine.dedupe_s", s("dedupe"), "s", traced.size)
      res.metric("refine.dedupe_kept_ratio", c("dedupe") / c("ok"), "ratio", traced.size)
      res.metric("refine.enrich_s", s("enrich"), "s", traced.size)
      res.metric("refine.gate_kept_ratio", c("enrich") / c("dedupe"), "ratio", traced.size)
      res.metric("refine.anonymize_s", s("anonymize"), "s", traced.size)
      res.metric("operators.chunk_s", s("chunk"), "s", traced.size)
      res.metric("operators.chunks_per_doc", c("chunk") / c("anonymize"), "ratio", traced.size)
      res.metric("operators.embed_s", s("embed"), "s", traced.size)
      res.metric("operators.embed_rows_per_s", c("embed") / s("embed"), "1/s", traced.size)
      res.metric("operators.tag_s", s("tag"), "s", traced.size)
      res.metric("trace.overhead_ms", (Stats.median(traced.map(_._3)) - Stats.median(plain)) * 1000, "ms", traced.size)
      Layers.selfTimes(res, tracer, Seq("sources", "extract", "convert", "refine", "operators"), traced.size)
    }
  }

  private def dataFiles(dir: java.io.File): Seq[java.io.File] =
    if (dir.isFile) Seq(dir)
    else Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    }
}
