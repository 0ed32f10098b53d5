package graft

import graft.extract.HtmlExtractor.extractText

/** Mirrors the reference's pinned block rules
  * (tests/resources/test_html_extractor_unittest.py:28-90). */
class HtmlExtractorSpec extends SparkSpec {

  test("no tags, normalized, headings/paragraphs/lists") {
    val html = "<html><head><style>.a{}</style><script>var a=1;</script></head>" +
      "<body><h1>Title</h1><p>First    line</p><p>Second\nline</p>" +
      "<ul><li>One</li><li>Two</li></ul></body></html>"
    val out = extractText(html)
    assert(!out.contains("<") && !out.contains(">"))
    assert(!out.toLowerCase.contains("script"))
    assert(out.contains("Title"))
    assert(out.contains("First line"))
    assert(out.contains("Second line"))
    assert(out.linesIterator.exists(_.startsWith("- One")))
    assert(out.linesIterator.exists(_.startsWith("- Two")))
    assert(!out.contains("  "))
    assert(out.trim == out)
  }

  test("hrefs preserved as (url) after anchor text") {
    val out = extractText("""<p>See <a href="https://example.com/x.pdf">the report</a> here.</p>""")
    assert(out.contains("the report (https://example.com/x.pdf)"))
  }

  test("href not duplicated when already in anchor text") {
    val out = extractText("""<p><a href="https://example.com">https://example.com</a></p>""")
    assert(out == "https://example.com")
  }

  test("blank line between consecutive paragraphs, innermost blocks win") {
    val out = extractText("<div><p>para one</p><p>para two</p></div>")
    assert(out == "para one\n\npara two")
  }

  test("comments and noscript removed") {
    val out = extractText("<body><!-- hidden --><noscript>no js</noscript><p>visible</p></body>")
    assert(out == "visible")
  }

  test("entity unescape and NBSP normalization") {
    val out = extractText("<p>fish&nbsp;&amp;&nbsp;chips &pound;5 &#65;</p>")
    assert(out == "fish & chips £5 A")
  }

  test("fallback to whole text when no block elements") {
    val out = extractText("<span>just   inline</span> text")
    assert(out == "just inline text")
  }

  test("self-closing script does not swallow the rest of the document") {
    val out = extractText("<p>a</p><script/><p>b</p>")
    assert(out == "a\n\nb")
  }

  test("empty and blank input give empty output") {
    assert(extractText("") == "")
    assert(extractText("   ") == "")
    assert(extractText(null) == "")
  }

  test("li inside div: bullets keep, div text split correctly") {
    val out = extractText("<div><h2>Head</h2><ul><li>a</li><li>b</li></ul><p>tail</p></div>")
    assert(out == "Head\n- a\n- b\ntail")
  }

  test("100,000 nested inline tags extract on a default-stack thread") {
    val depth = 100000
    val html = "<span>" * depth + "<p>hello world</p>" + "</span>" * depth
    @volatile var out: Either[Throwable, String] = Left(new IllegalStateException("not run"))
    // a fresh thread has the JVM's default stack size, like a Spark task thread
    val t = new Thread(() => out = try Right(extractText(html)) catch { case e: Throwable => Left(e) })
    t.start(); t.join()
    assert(out == Right("hello world"), out.left.map(_.getClass.getName))
  }
}
