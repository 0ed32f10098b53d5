package graft

import graft.streaming.FileStreamRefine
import java.nio.file.Files

class StreamingSpec extends SparkSpec {

  test("AvailableNow file stream: drains backlog, resumes incrementally") {
    import spark.implicits._
    val base = Files.createTempDirectory("graftstream")
    val landing = base.resolve("landing").toString
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString

    val mk = (id: Long, len: Int) => (id, "w " * len)
    Seq(mk(1, 150), mk(2, 10)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema

    // run 1: only doc 1 passes the length gate
    FileStreamRefine.run(spark, landing, schema, out, ckpt).awaitTermination()
    assert(spark.read.parquet(out).count() == 1)

    // new file lands; run 2 processes ONLY the new file (checkpoint ledger)
    Seq(mk(3, 200)).toDF("doc_id", "text").write.mode("append").parquet(landing)
    FileStreamRefine.run(spark, landing, schema, out, ckpt).awaitTermination()
    val rows = spark.read.parquet(out)
    assert(rows.count() == 2)
    val ids = rows.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L))
    // enrichment columns present
    assert(rows.columns.contains("identifier") && rows.columns.contains("token_count"))
  }

  test("stream/batch parity: AvailableNow windows == batch agg before the watermark") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamParity
    val path = sf() + "/events.parquet"
    val streamed = StreamParity.finalWindowCounts(spark, path)
      .collect().map(_.toSeq).toSet

    val ev = graft.core.Tables.tsNanos(spark.read.parquet(path))
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
    val wm = ev.agg(max(col("event_time"))).head.getTimestamp(0).toInstant
      .minusSeconds(30 * 60)
    val batch = ev
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .filter(col("window.end") <= lit(java.sql.Timestamp.from(wm)))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("cnt"), col("min_value"), col("max_value"))
      .collect().map(_.toSeq).toSet

    assert(streamed.nonEmpty, "no final windows emitted")
    assert(streamed == batch,
      s"streamed-batch diff: ${(streamed diff batch).take(3)} / ${(batch diff streamed).take(3)}")
  }

  test("parity runs leave the caller's conf alone and drop their checkpoint") {
    import graft.streaming.{StreamParity, TempDirs}
    def scratch(): Set[String] = TempDirs.root.toFile.list()
      .filter(_.startsWith("graft-streamparity")).toSet
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val runs = Seq[() => Unit](
      () => StreamParity.finalWindowCounts(spark, sf() + "/events.parquet").count(),
      () => StreamParity.cdcMergeUpserts(spark, sf() + "/events.parquet", 2).count())
    for (run <- runs) {
      val before = scratch()
      run()
      assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions,
        "the run-to-completion conf must stay on the sibling session")
      val made = scratch() -- before
      assert(made.size == 1, s"one scratch dir per run, got $made")
      assert(!TempDirs.root.resolve(made.head).resolve("ckpt").toFile.exists,
        "the streaming checkpoint must be dropped when the run returns")
    }
  }

  test("parity results are bound to the caller's session") {
    import graft.streaming.StreamParity
    val events = sf() + "/events.parquet"
    val results = Seq(
      "finalWindowCounts" -> StreamParity.finalWindowCounts(spark, events),
      "finalSessions" -> StreamParity.finalSessions(spark, events),
      "staticJoinWindowCounts" -> StreamParity.staticJoinWindowCounts(spark, events),
      "streamStreamIntervalJoin" -> StreamParity.streamStreamIntervalJoin(spark, events),
      "dedupeWithCounts" -> StreamParity.dedupeWithCounts(spark, sf() + "/documents.parquet"),
      "cdcMergeUpserts" -> StreamParity.cdcMergeUpserts(spark, events, 2))
    for ((name, df) <- results)
      assert(df.sparkSession eq spark, s"$name returned a frame owned by another session")
  }

  test("a shuffle over a parity result uses the caller's partition count") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    import graft.streaming.StreamParity
    // 7, not the run-to-completion sibling's 4; a sibling caller keeps
    // the shared session's conf untouched
    val caller = graft.core.GraftSession.sibling(spark, "spark.sql.shuffle.partitions" -> "7")
    val counts = StreamParity.finalWindowCounts(caller, sf() + "/events.parquet")
      .groupBy(col("event_type")).count()
    val plan = counts.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val parts = plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
    assert(parts == Seq(7), s"downstream exchange not planned with the caller's conf:\n$plan")
  }
}
