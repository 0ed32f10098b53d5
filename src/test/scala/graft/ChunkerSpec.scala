package graft

import graft.operators.Chunker

class ChunkerSpec extends SparkSpec {

  test("recursiveSplit: empty and null give no chunks") {
    assert(Chunker.recursiveSplit("") == Seq.empty)
    assert(Chunker.recursiveSplit(null) == Seq.empty)
  }

  test("recursiveSplit: short text is a single chunk") {
    assert(Chunker.recursiveSplit("hello world") == Seq("hello world"))
  }

  test("recursiveSplit: chunks respect the size bound when separators exist") {
    val text = (1 to 200).map(i => s"word$i").mkString(" ")
    val chunks = Chunker.recursiveSplit(text, chunkSize = 100, overlap = 20)
    assert(chunks.nonEmpty)
    chunks.foreach(c => assert(c.length <= 100, s"chunk too long: ${c.length}"))
  }

  test("recursiveSplit: paragraph separators preferred over word splits") {
    val text = "para one here.\n\npara two here.\n\npara three here."
    val chunks = Chunker.recursiveSplit(text, chunkSize = 20, overlap = 0)
    // each paragraph fits in 20 chars -> split at paragraph boundaries
    assert(chunks.exists(_.contains("para one")))
    assert(chunks.exists(_.contains("para three")))
  }

  test("recursiveSplit: all input content is covered (no dropped words)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 25) {
      val ws = Seq.fill(80)("w" + rnd.alphanumeric.take(1 + rnd.nextInt(7)).mkString)
      val text = ws.mkString(" ")
      val chunks = Chunker.recursiveSplit(text, chunkSize = 60, overlap = 10)
      val joined = chunks.mkString(" ")
      ws.foreach(w => assert(joined.contains(w)))
    }
  }

  test("recursiveSplit: consecutive chunks overlap when overlap > 0") {
    val text = (1 to 100).map(i => f"w$i%03d").mkString(" ")
    val chunks = Chunker.recursiveSplit(text, chunkSize = 100, overlap = 40)
    assert(chunks.size > 1)
    chunks.sliding(2).foreach {
      case Seq(a, b) =>
        // overlap: some suffix content of a appears as prefix content of b
        val aTail = a.split(" ").takeRight(2).toSet
        val bWords = b.split(" ").toSet
        assert(aTail.intersect(bWords).nonEmpty, s"no overlap between [$a] and [$b]")
      case _ => ()
    }
  }

  test("recursiveSplit: oversized unsplittable run falls through to char split") {
    val text = "a" * 50
    val chunks = Chunker.recursiveSplit(text, chunkSize = 20, overlap = 5)
    assert(chunks.nonEmpty)
    chunks.foreach(c => assert(c.length <= 20))
  }

  test("explodeChunks adds chunk and chunk_index, keeps provenance") {
    import spark.implicits._
    val df = Seq((1L, ("alpha beta " * 200).trim, "en")).toDF("doc_id", "text", "lang")
    val out = Chunker.explodeChunks(df, org.apache.spark.sql.functions.col("text"),
      chunkSize = 100, overlap = 10)
    assert(out.columns.toSeq == Seq("doc_id", "text", "lang", "chunk_index", "chunk"))
    val rows = out.collect()
    assert(rows.length > 1)
    assert(rows.map(_.getAs[Int]("chunk_index")).toSeq == rows.indices)
    rows.foreach(r => assert(r.getAs[String]("chunk").length <= 100))
  }

  test("explodeChunks defaults to 800/100 like recursiveSplit; null text yields no rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val text = ("lorem ipsum dolor sit amet " * 80).trim
    val df = Seq((1L, text), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val rows = Chunker.explodeChunks(df, col("text")).orderBy("chunk_index").collect()
    val chunks = rows.map(_.getAs[String]("chunk")).toSeq
    assert(chunks == Chunker.recursiveSplit(text, chunkSize = 800, overlap = 100))
    assert(chunks.size > 1 && chunks.forall(_.length <= 800))
    assert(rows.forall(_.getAs[Long]("doc_id") == 1L))
  }

  test("fixedStrideChunkArray: count arithmetic matches formula") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(("", 0), ("x" * 800, 1), ("x" * 801, 2), ("x" * 1500, 2), ("x" * 1501, 3), ("x" * 2201, 4))
      .toDF("text", "expected")
    val got = df.select(size(Chunker.fixedStrideChunkArray(col("text"))).as("n"), col("expected")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }
}
