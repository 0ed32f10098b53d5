package graft.core

import org.w3c.dom.{Element, Node, Text}

/** DOM walks that follow child, sibling and parent links in a loop.
  * Xerces' `getTextContent` and a recursive walk take one JVM frame per
  * nesting level, so a document nesting 100,000 elements overflows a
  * default-stack thread, and `StackOverflowError` is an `Error` that no
  * fail-soft `catch { case _: Exception }` contains. */
object Dom {

  /** Every node under `n` (not `n` itself), in document order. */
  private def nodes(n: Node): Iterator[Node] = new Iterator[Node] {
    private var cur = n.getFirstChild
    def hasNext: Boolean = cur != null
    def next(): Node = {
      val out = cur
      if (cur.getFirstChild != null) cur = cur.getFirstChild
      else {
        while (cur != n && cur.getNextSibling == null) cur = cur.getParentNode
        cur = if (cur == n) null else cur.getNextSibling
      }
      out
    }
  }

  /** Every element under `n`, in document order. */
  def descendants(n: Node): Iterator[Element] = nodes(n).collect { case e: Element => e }

  /** The text of every Text/CDATA node under `n` in document order: an
    * element's `getTextContent`. */
  def textOf(n: Node): String = {
    val sb = new java.lang.StringBuilder
    nodes(n).foreach { case t: Text => sb.append(t.getData); case _ => }
    sb.toString
  }
}
