package graft.extract

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Dom.{descendants, textOf}
import org.w3c.dom.{Document, Element, Node}

/** Hansard `scrapedxml` → conversation records (SURVEY S11) — the
  * reference's only UDTF-shaped operator
  * (assets/hansard_parliament_uk/parser.py:155-345).
  *
  * Two grouping modes, semantics preserved exactly:
  *  - [[processSpeech]] (debates): `<speech>` runs grouped at
  *    `startquestion*` type boundaries; speeches before the first start
  *    marker are dropped; segments joined with ` \p ` as `name: text`
  *    (first segment `name:text` — no space, a reference quirk its tests
  *    pin); speaker lists are first-encounter-ordered and duplicate-free.
  *  - [[processQa]] (wrans): each `<ques>`/`<question>` paired with the
  *    following `<reply>`/`<ans>`/`<answer>` elements until the next
  *    question; questions with no replies are dropped.
  *
  * Spark shape: one XML document → N conversation rows via `flatMap` over a
  * (path, xml) DataFrame — stateful sequential grouping inside one document,
  * embarrassingly parallel across documents, no shuffle.
  */
object ConversationParser {

  final case class Conversation(startId: String, speakers: Seq[String], text: String)

  private def localName(n: Node): String = {
    val raw = Option(n.getLocalName).getOrElse(n.getNodeName)
    val i = raw.indexOf('}')
    (if (i >= 0) raw.substring(i + 1) else raw).toLowerCase
  }

  private def attr(e: Element, names: String*): Option[String] =
    names.iterator.map(e.getAttribute).find(_.nonEmpty)

  /** `\n\n`-joined trimmed non-empty `<p>` texts of an element. */
  private def paraText(e: Element): String =
    descendants(e).filter(localName(_) == "p")
      .map(p => textOf(p).trim).filter(_.nonEmpty).mkString("\n\n")

  def parseXml(xml: String): Option[Document] =
    try {
      val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      f.setNamespaceAware(true)
      f.setFeature("http://apache.org/xml/features/nonvalidating/load-external-dtd", false)
      Some(f.newDocumentBuilder().parse(
        new java.io.ByteArrayInputStream(xml.getBytes("UTF-8"))))
    } catch { case _: Exception => None }

  /** Debates mode: group speech runs at startquestion* boundaries. */
  def processSpeech(doc: Document): Seq[Conversation] = {
    val speeches = descendants(doc.getDocumentElement)
      .filter(localName(_) == "speech").toSeq
    val out = ArrayBuffer.empty[Conversation]
    var curId: String = null
    var curSpeakers = ArrayBuffer.empty[String]
    var curText: String = null
    def flush(): Unit = if (curText != null) {
      out += Conversation(curId, curSpeakers.toSeq, curText); curText = null
    }
    for (sp <- speeches) {
      val kind = Option(sp.getAttribute("type")).getOrElse("")
        .toLowerCase.replace(" ", "")
      val name = attr(sp, "speakername", "speaker").getOrElse("UNKNOWN")
      val seg = paraText(sp)
      if (kind.startsWith("startquestion")) {
        flush()
        curId = attr(sp, "id").orNull
        curSpeakers = ArrayBuffer(name)
        curText = if (seg.nonEmpty) s"$name:$seg" else s"$name:"
      } else if (curText != null) {
        if (!curSpeakers.contains(name)) curSpeakers += name
        curText += " \\p " + (if (seg.nonEmpty) s"$name: $seg" else s"$name: ")
      }
    }
    flush()
    out.toSeq
  }

  /** Q&A mode: ques + following replies until next ques; reply-less
    * questions dropped. */
  def processQa(doc: Document): Seq[Conversation] = {
    val elements = descendants(doc.getDocumentElement).toVector
    val out = ArrayBuffer.empty[Conversation]
    var i = 0
    while (i < elements.length) {
      val el = elements(i)
      if (localName(el) == "ques" || localName(el) == "question") {
        val qSpeaker = attr(el, "speakername", "speaker", "who", "name").getOrElse("UNKNOWN")
        val qText = paraText(el)
        val replies = ArrayBuffer.empty[(String, String)]
        var j = i + 1
        var done = false
        while (j < elements.length && !done) {
          val t = localName(elements(j))
          if (t == "ques" || t == "question") done = true
          else {
            if (t == "reply" || t == "ans" || t == "answer")
              replies += ((attr(elements(j), "speakername", "speaker", "who", "name")
                .getOrElse("UNKNOWN"), paraText(elements(j))))
            j += 1
          }
        }
        if (replies.nonEmpty) {
          val speakers = ArrayBuffer(qSpeaker)
          var text = if (qText.nonEmpty) s"$qSpeaker:$qText" else s"$qSpeaker:"
          for ((rs, rt) <- replies) {
            if (!speakers.contains(rs)) speakers += rs
            text += " \\p " + (if (rt.nonEmpty) s"$rs: $rt" else s"$rs: ")
          }
          out += Conversation(attr(el, "id").orNull, speakers.toSeq, text)
        }
        i = j
      } else i += 1
    }
    out.toSeq
  }

  /** Parse one XML string; `qa = true` selects wrans mode (the reference
    * dispatches on the scrapedxml subfolder name). Unparseable → empty. */
  def parse(xml: String, qa: Boolean): Seq[Conversation] =
    parseXml(xml).map(d => if (qa) processQa(d) else processSpeech(d))
      .getOrElse(Seq.empty)

  /** Spark generator: (pathCol, xmlCol) DataFrame → one row per conversation
    * with provenance path, conversation index, start_id, speakers, text. */
  def explodeConversations(df: DataFrame, pathCol: String, xmlCol: String,
      qa: Boolean = false): DataFrame = {
    val parseUdf = udf((xml: String) =>
      parse(xml, qa).map(c => (c.startId, c.speakers, c.text)))
    df.select(col(pathCol).as("path"),
      posexplode(parseUdf(col(xmlCol))).as(Seq("conv_index", "conv")))
      .select(col("path"), col("conv_index"),
        col("conv._1").as("start_id"), col("conv._2").as("speakers"),
        col("conv._3").as("text"))
  }
}
