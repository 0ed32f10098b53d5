package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import graft.core.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Contracts of the partitioning-retaining checkpoint family — the round-10
  * mechanism every iterative query (graphs, sketches, prefix filter, ANN
  * build) now stands on. These pins are PLAN-level: if a Spark upgrade
  * changes how LogicalRDD reports partitioning (the whole point of taking
  * the checkpoint with AQE off), the exchange-elision tests fail loudly
  * instead of every graph round silently re-shuffling its edge frame.
  */
class MaterializeSpec extends SparkSpec {

  // fixture written ONCE: per-test overwrites would invalidate the file
  // references inside earlier tests' still-lazy frames
  private lazy val edgesPath: String = {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("materialize-spec").toString
    (1L to 2000L).map(i => (i % 97, i % 31)).toDF("u", "v")
      // parquet round-trip: in-memory fixtures fold to LocalRelation and
      // plan pins stop meaning anything (NOTES rule)
      .write.mode("overwrite").parquet(p)
    p
  }
  private def freshEdges() = spark.read.parquet(edgesPath)

  test("partitionedCheckpoint retains hash partitioning: keyed agg plans no exchange") {
    val e = Materialize.partitionedCheckpoint(freshEdges(), "u")
    val plan = e.groupBy(col("u")).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"groupBy on the checkpoint key must read blocks in place, got:\n$plan")
  }

  test("partitionedCheckpoint: equi-join on the key shuffles ONLY the other side") {
    val e = Materialize.partitionedCheckpoint(freshEdges(), "u")
    val other = freshEdges().select(col("u"), col("v").as("w"))
    val plan = e.join(other.hint("shuffle_hash"), Seq("u"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"expected exactly one exchange (the non-checkpoint side), got $exchanges:\n$plan")
  }

  test("plain lazy localCheckpoint does NOT retain partitioning (the r9 trap this fixes)") {
    val e = freshEdges().repartition(col("u")).localCheckpoint(false)
    val plan = e.groupBy(col("u")).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Exchange"),
      "if this ever starts eliding, Materialize's AQE-off dance is obsolete — simplify it")
  }

  test("dedupedPartitionedCheckpoint dedupes exactly and keeps the clustering") {
    val raw = freshEdges().union(freshEdges()) // guaranteed duplicates
    val d = Materialize.dedupedPartitionedCheckpoint(raw,
      keys = Seq("u"), dedupeKeys = Seq("u", "v"))
    assert(d.count() == freshEdges().dropDuplicates("u", "v").count())
    val plan = d.groupBy(col("u")).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"clustering lost through the fused dedupe:\n$plan")
  }

  test("dedupedPartitionedCheckpoint refuses keys outside the dedupe set") {
    val e = intercept[IllegalArgumentException] {
      Materialize.dedupedPartitionedCheckpoint(freshEdges(),
        keys = Seq("v"), dedupeKeys = Seq("u"))
    }
    assert(e.getMessage.contains("subset"),
      "a partition key outside the dedupe keys would re-exchange silently — must throw")
  }

  test("AQE conf is restored even when the plan is invalid") {
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    intercept[Throwable] {
      Materialize.partitionedCheckpoint(freshEdges(), "no_such_column")
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == before,
      "conf toggle must restore in finally — a leaked 'false' degrades every later query")
  }

  test("checkpoint contents equal the source frame (materialization is value-neutral)") {
    val src = freshEdges()
    val got = Materialize.partitionedCheckpoint(src, "u")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = src.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements(want))
  }

  private val aqeKey = "spark.sql.adaptive.enabled"
  private val constraintKey = "spark.sql.constraintPropagation.enabled"

  private def isAdaptive(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]

  /** Order-free digest of a result: sorted row strings, SHA-256. */
  private def digest(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** An ordinary keyed aggregate: one exchange, so AQE wraps its plan. */
  private def ordinary(): DataFrame = freshEdges().groupBy(col("v")).agg(count(lit(1)).as("n"))

  test("staticCheckpoint plans without AQE and never writes the session conf") {
    val before = (spark.conf.get(aqeKey), spark.conf.get(constraintKey))
    val ck = Materialize.staticCheckpoint(freshEdges().repartition(col("u")),
      eager = false, constraintKey -> "false")
    assert((spark.conf.get(aqeKey), spark.conf.get(constraintKey)) == before)
    val plan = ck.groupBy(col("u")).agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"lazy static checkpoint lost its partitioning:\n$plan")
    assert(isAdaptive(ordinary()), "the caller's session must still plan adaptively")
  }

  test("a frame planned on another thread during a static checkpoint stays adaptive") {
    MaterializeSpec.inWindow = new CountDownLatch(1)
    MaterializeSpec.planned = new CountDownLatch(1)
    // the checkpoint job blocks in this UDF until the other thread has planned
    val hold = udf { (u: Long) =>
      MaterializeSpec.inWindow.countDown()
      MaterializeSpec.planned.await(60, TimeUnit.SECONDS)
      u
    }
    // built up front: reading the parquet schema runs a job, and the
    // blocked checkpoint tasks hold every core until `planned` opens
    val held = freshEdges().withColumn("u", hold(col("u")))
    val probe = ordinary()
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val owner = Future(Materialize.partitionedCheckpoint(held, "u"))
      val other = Future {
        assert(MaterializeSpec.inWindow.await(60, TimeUnit.SECONDS), "checkpoint never started")
        try isAdaptive(probe) finally MaterializeSpec.planned.countDown()
      }
      assert(Await.result(other, 2.minutes),
        "a query planned during a static checkpoint lost AQE: the override leaked session-wide")
      val plan = Await.result(owner, 2.minutes).groupBy(col("u")).agg(count(lit(1)))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"the checkpoint itself was not planned statically:\n$plan")
    } finally pool.shutdown()
  }

  test("g04, g09 and g11 beside an ordinary AQE query: results, conf and plans unchanged") {
    val graph = Seq("g04_pagerank", "g09_hits", "g11_ppr")
    def runQ(name: String): String = digest(SparkEntry.queries(name)(spark, sf()))
    val sequential = graph.map(n => n -> runQ(n)).toMap
    val ordinaryDigest = digest(ordinary())
    val before = (spark.conf.get(aqeKey), spark.conf.get(constraintKey))

    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CountDownLatch(1)
    try {
      val graphRuns = graph.map(n => Future { start.await(); n -> runQ(n) })
      val done = Future.sequence(graphRuns)
      // plan and run the ordinary query again and again while the graph
      // queries open and close their static windows
      val ordinaryRuns = Future {
        start.await()
        var seen = Seq.empty[(Boolean, String)]
        do {
          val df = ordinary()
          seen :+= ((isAdaptive(df), digest(df)))
        } while (!done.isCompleted)
        seen
      }
      start.countDown()
      val concurrent = Await.result(done, 10.minutes).toMap
      val ords = Await.result(ordinaryRuns, 10.minutes)
      assert(concurrent == sequential, "a graph query's result changed under concurrency")
      assert(ords.nonEmpty && ords.forall(_._1),
        s"the ordinary query lost AQE in ${ords.count(!_._1)} of ${ords.size} runs")
      assert(ords.forall(_._2 == ordinaryDigest))
    } finally pool.shutdown()
    assert((spark.conf.get(aqeKey), spark.conf.get(constraintKey)) == before,
      "the concurrent pass left the session conf changed")
  }
}

object MaterializeSpec {
  // static, so the UDF reaches them without serializing a latch
  @volatile var inWindow = new CountDownLatch(0)
  @volatile var planned = new CountDownLatch(0)
}
