package graft

import graft.extract.ConversationParser

/** Mirrors the reference's grouping semantics
  * (assets/hansard_parliament_uk/parser.py:164-345). */
class ConversationParserSpec extends SparkSpec {

  private val debatesXml =
    """<publicwhip>
      |  <speech id="pre" speakername="Early Bird"><p>before any question</p></speech>
      |  <speech id="q1" type="Start Question" speakername="Alice"><p>What about roads?</p></speech>
      |  <speech id="a1" speakername="Bob"><p>Roads are fine.</p><p>Mostly.</p></speech>
      |  <speech id="f1" speakername="Alice"><p>Thanks.</p></speech>
      |  <speech id="q2" type="StartQuestion" speakername="Carol"><p>And rail?</p></speech>
      |  <speech id="a2" speakername="Bob"><p>Rail too.</p></speech>
      |</publicwhip>""".stripMargin

  test("debates: grouped at startquestion boundaries, pre-question speeches dropped") {
    val convs = ConversationParser.parse(debatesXml, qa = false)
    assert(convs.size == 2)
    assert(convs(0).startId == "q1")
    assert(convs(1).startId == "q2")
  }

  test("debates: speakers first-encounter-ordered, duplicate-free") {
    val convs = ConversationParser.parse(debatesXml, qa = false)
    assert(convs(0).speakers == Seq("Alice", "Bob"))
    assert(convs(1).speakers == Seq("Carol", "Bob"))
  }

  test("debates: segments joined with \\p, first segment has no space after colon") {
    val convs = ConversationParser.parse(debatesXml, qa = false)
    assert(convs(0).text ==
      "Alice:What about roads? \\p Bob: Roads are fine.\n\nMostly. \\p Alice: Thanks.")
  }

  private val wransXml =
    """<wrans>
      |  <ques id="w1" speakername="Dan"><p>Question one?</p></ques>
      |  <reply speakername="Minister"><p>Answer one.</p></reply>
      |  <ques id="w2" speakername="Eve"><p>Unanswered question</p></ques>
      |  <ques id="w3" speakername="Fay"><p>Question three?</p></ques>
      |  <ans speakername="Minister"><p>Answer three.</p></ans>
      |</wrans>""".stripMargin

  test("qa: ques paired with following replies; reply-less questions dropped") {
    val convs = ConversationParser.parse(wransXml, qa = true)
    assert(convs.map(_.startId) == Seq("w1", "w3"))
    assert(convs(0).text == "Dan:Question one? \\p Minister: Answer one.")
    assert(convs(0).speakers == Seq("Dan", "Minister"))
  }

  test("debates: a <p> nesting 100,000 elements parses on a default-stack thread") {
    val xml =
      s"""<publicwhip><speech id="q1" type="start question" speakername="Ann">
         |<p>${nested("i", "deep")}</p></speech></publicwhip>""".stripMargin
    val out = onDefaultStack(ConversationParser.parse(xml, qa = false).map(_.text))
    assert(out == Right(Seq("Ann:deep")), out.left.map(_.getClass.getName))
  }

  test("unparseable xml yields no conversations") {
    assert(ConversationParser.parse("<<< not xml", qa = false).isEmpty)
  }

  test("explodeConversations: one file row fans out to N conversation rows") {
    import spark.implicits._
    val df = Seq(("f1.xml", debatesXml)).toDF("path", "xml")
    val out = ConversationParser.explodeConversations(df, "path", "xml")
    val rows = out.orderBy("conv_index").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("start_id") == "q1")
    assert(rows(0).getSeq[String](rows(0).fieldIndex("speakers")).toSeq == Seq("Alice", "Bob"))
  }
}
