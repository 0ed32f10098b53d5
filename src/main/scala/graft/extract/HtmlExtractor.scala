package graft.extract

import scala.collection.mutable.ArrayBuffer

/** HTML → visible text extraction with the reference's block rules
  * (resources/convertors/html_extractor.py:55-150, pinned by
  * tests/resources/test_html_extractor_unittest.py):
  *
  *  - script/style/noscript elements and comments are removed wholly;
  *  - anchor hrefs are preserved by appending ` (href)` after the link text
  *    (skipped when the href already appears in the text);
  *  - only INNERMOST block elements (p, h1..h6, li, div with no block
  *    descendants) contribute text, in document order;
  *  - `li` lines are prefixed `- `; consecutive paragraph-like blocks are
  *    separated by a blank line;
  *  - entities are unescaped; NBSP → space; per-line whitespace collapsed;
  *    blank-line runs collapsed; output trimmed;
  *  - no block elements at all → whole-text fallback.
  *
  * Implemented as a minimal lenient tag-soup parser (no external HTML lib is
  * available in this build). Runs per row as a deterministic scalar — a
  * narrow, shuffle-free projection at any scale.
  */
object HtmlExtractor {

  private val BlockTags = Set("p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "div")
  private val DropTags = Set("script", "style", "noscript")
  private val VoidTags = Set("br", "hr", "img", "input", "meta", "link", "area",
    "base", "col", "embed", "source", "track", "wbr")

  // ------------------------------------------------------------- DOM model
  sealed private trait Node
  private final case class Elem(tag: String, attrs: Map[String, String],
      children: ArrayBuffer[Node] = ArrayBuffer.empty) extends Node
  private final case class Text(s: String) extends Node

  /** Entity unescape: named basics + decimal/hex numeric refs. */
  def unescapeEntities(s: String): String = {
    val named = Map("amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
      "apos" -> "'", "nbsp" -> " ", "pound" -> "£", "euro" -> "€",
      "copy" -> "©", "ndash" -> "–", "mdash" -> "—", "rsquo" -> "'",
      "lsquo" -> "'", "ldquo" -> "“", "rdquo" -> "”")
    val m = java.util.regex.Pattern.compile("&(#x?[0-9a-fA-F]+|[a-zA-Z]+);").matcher(s)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val body = m.group(1)
      val rep =
        if (body.startsWith("#x") || body.startsWith("#X"))
          try new String(Character.toChars(Integer.parseInt(body.drop(2), 16)))
          catch { case _: Exception => m.group(0) }
        else if (body.startsWith("#"))
          try new String(Character.toChars(body.drop(1).toInt))
          catch { case _: Exception => m.group(0) }
        else named.getOrElse(body, m.group(0))
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(rep))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** Lenient tag-soup parse into a node forest. Unknown/unbalanced closes are
    * tolerated; script/style/noscript content and comments are dropped here. */
  private def parse(html: String): ArrayBuffer[Node] = {
    val root = Elem("#root", Map.empty)
    var stack = List[Elem](root)
    var i = 0
    val n = html.length
    val lowerHtml = html.toLowerCase // hoisted: one pass, not one per drop tag
    def top = stack.head
    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) { top.children += Text(html.substring(i)); i = n }
      else {
        if (lt > i) top.children += Text(html.substring(i, lt))
        if (html.startsWith("<!--", lt)) {
          val end = html.indexOf("-->", lt + 4)
          i = if (end < 0) n else end + 3
        } else if (lt + 1 < n && (html.charAt(lt + 1) == '!' || html.charAt(lt + 1) == '?')) {
          val end = html.indexOf('>', lt + 1)
          i = if (end < 0) n else end + 1
        } else {
          val end = html.indexOf('>', lt + 1)
          if (end < 0) { top.children += Text(html.substring(lt)); i = n }
          else {
            val raw = html.substring(lt + 1, end).trim
            i = end + 1
            if (raw.startsWith("/")) {
              val tag = raw.drop(1).trim.toLowerCase
              // pop to the matching open tag if present
              if (stack.exists { e => e.tag == tag }) {
                while (top.tag != tag && top.tag != "#root") stack = stack.tail
                if (top.tag == tag) stack = stack.tail
              }
            } else {
              val selfClose = raw.endsWith("/")
              val body = if (selfClose) raw.dropRight(1).trim else raw
              val sp = body.indexWhere(Character.isWhitespace)
              val tag = (if (sp < 0) body else body.substring(0, sp)).toLowerCase
              val attrStr = if (sp < 0) "" else body.substring(sp)
              val attrs = parseAttrs(attrStr)
              if (DropTags(tag)) {
                // skip to the matching close tag wholesale; a self-closing
                // <script/> has no content to skip
                if (!selfClose) {
                  val close = lowerHtml.indexOf(s"</$tag", i)
                  i = if (close < 0) n
                  else { val gt = html.indexOf('>', close); if (gt < 0) n else gt + 1 }
                }
              } else {
                val e = Elem(tag, attrs)
                top.children += e
                if (!selfClose && !VoidTags(tag)) stack = e :: stack
              }
            }
          }
        }
      }
    }
    root.children
  }

  private val attrPattern = java.util.regex.Pattern.compile(
    """([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*("([^"]*)"|'([^']*)'|[^\s>]*))?""")

  private def parseAttrs(s: String): Map[String, String] = {
    val m = attrPattern.matcher(s)
    val out = Map.newBuilder[String, String]
    while (m.find()) {
      val key = m.group(1).toLowerCase
      val v = Option(m.group(3)).orElse(Option(m.group(4)))
        .getOrElse(Option(m.group(2)).getOrElse(""))
      out += key -> v
    }
    out.result()
  }

  // The tree walks below use an explicit stack rather than recursion:
  // the tree is as deep as the input's tag nesting, and a recursive walk
  // over a few thousand nested tags overflows a default thread stack.

  /** Marks the end of an anchor's subtree: its text starts at `start`. */
  private final case class CloseLink(href: String, start: Int)

  /** Text of `nodes`: text nodes verbatim, `br` as a newline, anchors
    * followed by ` (href)` unless the href already appears in their text. */
  private def getText(nodes: ArrayBuffer[Node]): String = {
    val sb = new java.lang.StringBuilder
    val todo = new java.util.ArrayDeque[AnyRef]()
    nodes.reverseIterator.foreach(todo.push)
    while (!todo.isEmpty) todo.pop() match {
      case Text(s) => sb.append(s)
      case e: Elem if e.tag == "br" => sb.append('\n')
      case e: Elem =>
        if (e.tag == "a") e.attrs.get("href").filter(_.nonEmpty)
          .foreach(h => todo.push(CloseLink(h, sb.length)))
        e.children.reverseIterator.foreach(todo.push)
      case CloseLink(h, start) =>
        if (sb.indexOf(h, start) < 0) sb.append(" (").append(h).append(')')
    }
    sb.toString
  }

  /** Innermost block elements (blocks with no block descendant), in
    * document order: one pre-order pass, then one reverse pass that marks
    * every element holding a block below it. */
  private def innermostBlocks(nodes: ArrayBuffer[Node]): Seq[Elem] = {
    val elems = ArrayBuffer.empty[Elem]
    val parent = ArrayBuffer.empty[Int]
    val todo = new java.util.ArrayDeque[(Elem, Int)]()
    def pushChildren(ns: ArrayBuffer[Node], p: Int): Unit =
      ns.reverseIterator.foreach {
        case e: Elem => todo.push((e, p))
        case _ =>
      }
    pushChildren(nodes, -1)
    while (!todo.isEmpty) {
      val (e, p) = todo.pop()
      pushChildren(e.children, elems.length)
      elems += e
      parent += p
    }
    val blockBelow = new Array[Boolean](elems.length)
    for (i <- elems.indices.reverse if parent(i) >= 0)
      if (BlockTags(elems(i).tag) || blockBelow(i)) blockBelow(parent(i)) = true
    elems.indices.collect {
      case i if BlockTags(elems(i).tag) && !blockBelow(i) => elems(i)
    }
  }

  /** Reference `_normalize_whitespace`: NBSP → space, per-line collapse +
    * trim, blank-line runs collapsed, leading/trailing blanks stripped. */
  def normalizeWhitespace(s: String): String = {
    val lines = s.replace(" ", " ").split("\n", -1).map(_.trim)
    val out = ArrayBuffer.empty[String]
    var blank = false
    for (line <- lines) {
      if (line.isEmpty) { if (!blank) out += ""; blank = true }
      else { out += line.replaceAll("\\s+", " "); blank = false }
    }
    while (out.nonEmpty && out.head.isEmpty) out.remove(0)
    while (out.nonEmpty && out.last.isEmpty) out.remove(out.length - 1)
    out.mkString("\n")
  }

  /** Extract visible text from an HTML string (see object doc). */
  def extractText(html: String): String = {
    if (html == null || html.trim.isEmpty) return ""
    val forest = parse(html)
    val blocks = innermostBlocks(forest)
      .map(e => (e.tag, getText(e.children)))
      .filter(_._2.trim.nonEmpty)
    if (blocks.isEmpty)
      return normalizeWhitespace(unescapeEntities(getText(forest)))
    val finalLines = ArrayBuffer.empty[String]
    var prevWasPara = false
    for ((tag, raw) <- blocks) {
      val line = unescapeEntities(raw).replaceAll("\\s+", " ").trim
      if (tag == "li") { finalLines += s"- $line"; prevWasPara = false }
      else {
        if (prevWasPara && finalLines.nonEmpty && finalLines.last.nonEmpty)
          finalLines += ""
        finalLines += line
        prevWasPara = true
      }
    }
    normalizeWhitespace(finalLines.mkString("\n"))
  }
}
