package graft

import graft.streaming.StreamingDedupe
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class StreamingDedupeSpec extends SparkSpec {

  test("flatMapGroupsWithState tracks per-hash duplicate counts across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val q = StreamingDedupe.withDuplicateCounts(spark, in.toDS())
      .writeStream.format("memory").queryName("dedupe_counts")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(("a", 1L), ("a", 2L), ("b", 3L))
      q.processAllAvailable()
      in.addData(("a", 4L))
      q.processAllAvailable()
      val rows = spark.table("dedupe_counts").as[StreamingDedupe.DedupeEvent]
        .collect().sortBy(_.id)
      assert(rows.map(e => (e.hash, e.firstSeen, e.dupsSoFar)).toSeq == Seq(
        ("a", true, 0L), ("a", false, 1L), ("b", true, 0L),
        ("a", false, 2L))) // state carried across micro-batches
    } finally q.stop()
  }
}
