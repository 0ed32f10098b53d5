package graft

import graft.core.GraftSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, sum, udf}

/** [[GraftSession.sibling]] plans with the caller's conf plus overrides
  * and never writes the caller's conf; the builder's codegen cache holds
  * a warm pass's classes. */
class GraftSessionSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm query compiles nothing after 300 other classes were compiled") {
    val upper = udf((s: String) => s.toUpperCase)
    def joinAggUdf(): Unit = {
      val facts = spark.range(2000).selectExpr("id % 7 AS k", "id AS v")
      val dim = spark.range(7).selectExpr("id AS k", "concat('n', cast(id AS string)) AS name")
      facts.join(dim, "k").groupBy(upper(col("name")).as("n")).agg(sum("v")).collect()
    }
    joinAggUdf()
    val before = compiles
    // an inlined literal makes each projection a new class body
    (1 to 300).foreach(i => spark.range(4).selectExpr(s"id * ${1000 + i}").collect())
    assert(compiles - before >= 300, "each projection compiles a new class")
    val warm = compiles
    joinAggUdf()
    assert(compiles - warm == 0, "the rerun finds every class in the codegen cache")
    // Bench's concurrent pass submits queries to a fixed pool on the same
    // session: a rerun from a pool thread finds the same classes
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = joinAggUdf() }).get()
    finally pool.shutdown()
    assert(compiles - warm == 0, "the pool-thread rerun compiles nothing")
  }

  test("sibling copies the caller's runtime conf, applies overrides, leaves the caller alone") {
    val key = "spark.sql.files.maxRecordsPerFile"
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(key, "123")
    try {
      val sib = GraftSession.sibling(spark, "spark.sql.shuffle.partitions" -> "3")
      assert(sib ne spark)
      assert(sib.conf.get(key) == "123", "a runtime setting of the caller reaches the sibling")
      assert(sib.conf.get("spark.sql.shuffle.partitions") == "3", "the override wins")
      val sib2 = GraftSession.sibling(spark, key -> "7")
      assert(sib2.conf.get(key) == "7", "an override wins over the caller's runtime setting")
      assert(spark.conf.get(key) == "123")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions)
    } finally spark.conf.unset(key)
  }
}
