package graft

import graft.operators.RangeJoin
import org.apache.spark.sql.functions._

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def run(left: Seq[(Long, Long, Long)], right: Seq[(Long, Long, Double)],
      lookback: Long) = {
    val l = left.toDF("id", "k", "t")
    val r = right.toDF("k", "t", "v")
    RangeJoin.aggregateWithin(l, r, "k", "t", lookback, Seq("v"),
        Seq(count(col("r_v")).as("n"), max(col("r_v")).as("mx")))
      .select("id", "n", "mx").as[(Long, Long, Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("interval [t-W, t) is half-open: boundary rows on each side") {
    val out = run(
      left = Seq((1L, 7L, 100L)),
      right = Seq(
        (7L, 89L, 1.0),  // t - W - 1: out
        (7L, 90L, 2.0),  // exactly t - W: IN (closed lower bound)
        (7L, 99L, 3.0),  // in
        (7L, 100L, 4.0), // exactly t: OUT (open upper bound)
        (7L, 101L, 5.0)),
      lookback = 10L)
    assert(out(1L) == ((2L, Some(3.0))))
  }

  test("candidates crossing a band boundary are found (left probes 2 bands)") {
    // left t=105 (band 10), right t=97 (band 9): only reachable via the
    // band-1 probe — a single-band join would silently miss it
    val out = run(Seq((1L, 1L, 105L)), Seq((1L, 97L, 9.0)), lookback = 10L)
    assert(out(1L) == ((1L, Some(9.0))))
  }

  test("left rows with no match survive with zero count") {
    val out = run(
      Seq((1L, 1L, 100L), (2L, 2L, 100L)),
      Seq((1L, 95L, 1.0)), lookback = 10L)
    assert(out(1L) == ((1L, Some(1.0))))
    assert(out(2L) == ((0L, None)))
  }

  test("keys never mix and each right row is counted exactly once") {
    val out = run(
      Seq((1L, 1L, 100L), (2L, 2L, 100L)),
      Seq((1L, 95L, 1.0), (1L, 96L, 2.0), (2L, 95L, 7.0)), lookback = 10L)
    assert(out(1L) == ((2L, Some(2.0))))
    assert(out(2L) == ((1L, Some(7.0))))
  }

  test("randomized: banded join equals brute force on 3 lookback widths") {
    val rnd = new scala.util.Random(42)
    val lefts = (1L to 60L).map(id => (id, rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong))
    val rights = (1 to 400).map(_ => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, rnd.nextInt(100).toDouble))
    for (lookback <- Seq(7L, 64L, 1000L)) {
      val expected = lefts.map { case (id, k, t) =>
        val inRange = rights.filter { case (rk, rt, _) =>
          rk == k && rt >= t - lookback && rt < t }
        id -> ((inRange.size.toLong,
          if (inRange.isEmpty) None else Some(inRange.map(_._3).max)))
      }.toMap
      val got = run(lefts, rights, lookback)
      assert(got == expected, s"lookback=$lookback")
    }
  }

  test("plan is the custom sort-merge interval exec — never a nested loop") {
    val l = Seq((1L, 1L, 100L)).toDF("id", "k", "t")
    val r = Seq((1L, 95L, 1.0)).toDF("k", "t", "v")
    val p = RangeJoin.aggregateWithin(l, r, "k", "t", 10L, Seq("v"),
      Seq(count(col("r_v")).as("n"))).queryExecution.executedPlan.toString
    assert(p.contains("RangeJoin "), s"custom exec not planned:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"range join degraded to a product join:\n$p")
  }

  test("custom exec equals the un-rewritten fallback join") {
    val rnd = new scala.util.Random(7)
    val lefts = (1L to 50L).map(id => (id, rnd.nextInt(4).toLong, rnd.nextInt(500).toLong))
    val rights = (1 to 300).map(_ =>
      (rnd.nextInt(4).toLong, rnd.nextInt(500).toLong, rnd.nextInt(100).toDouble))
    val w = 40L
    // the same band condition written by hand: only aggregateWithin builds
    // the interval node, so this plans as a plain left-outer join
    val probes = lefts.toDF("id", "k", "t").withColumn("__lt", col("t").cast("long"))
    val rr = rights.toDF("k", "t", "v").select(col("k").as("__rk"),
      col("t").cast("long").as("__rt"), col("v").as("r_v"))
    val joined = probes.join(rr,
      probes("k") === rr("__rk") &&
        rr("__rt") >= probes("__lt") - lit(w) && rr("__rt") < probes("__lt"),
      "left_outer")
    assert(!joined.queryExecution.executedPlan.toString.contains("RangeJoin "),
      "hand-written band join planned the interval exec — test is vacuous")
    val fallback = joined.groupBy(col("id"))
      .agg(count(col("r_v")).as("n"), max(col("r_v")).as("mx"))
      .as[(Long, Long, Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(run(lefts, rights, w) == fallback)
  }

  test("null keys and times never match but left rows survive") {
    val l = Seq((1L, Option(1L), Option(100L)), (2L, None: Option[Long], Option(100L)),
      (3L, Option(1L), None: Option[Long])).toDF("id", "k", "t")
    val r = Seq((Option(1L), Option(95L), 1.0), (None: Option[Long], Option(96L), 2.0),
      (Option(1L), None: Option[Long], 3.0)).toDF("k", "t", "v")
    val out = RangeJoin.aggregateWithin(l, r, "k", "t", 10L, Seq("v"),
        Seq(count(col("r_v")).as("n")))
      .select("id", "n").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 0L, 3L -> 0L))
  }

  test("both sides from one scan: view → click stage equals brute force") {
    val rnd = new scala.util.Random(11)
    val rows = (1L to 300L).map(id => (id, rnd.nextInt(6).toLong,
      if (rnd.nextBoolean()) "view" else "click", rnd.nextInt(2000).toLong))
    val dir = java.nio.file.Files.createTempDirectory("rangejoin-ev").resolve("ev").toString
    rows.toDF("event_id", "user_id", "event_type", "t").write.parquet(dir)
    val ev = spark.read.parquet(dir)
    val views = ev.filter(col("event_type") === "view").select(col("user_id"), col("t"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("t"))
    val w = 150L
    val df = RangeJoin.aggregateWithin(clicks, views, "user_id", "t", w, Seq("t"),
      Seq(count(col("r_t")).as("n"), max(col("r_t")).as("mx")))
    assert(df.queryExecution.executedPlan.toString.contains("RangeJoin "),
      "custom exec not planned over shared lineage")
    val got = df.select("event_id", "n", "mx").as[(Long, Long, Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val vs = rows.filter(_._3 == "view")
    val expected = rows.filter(_._3 == "click").map { case (id, u, _, t) =>
      val in = vs.filter { case (_, vu, _, vt) => vu == u && vt >= t - w && vt < t }.map(_._4)
      id -> ((in.size.toLong, in.maxOption))
    }.toMap
    assert(got == expected)
  }

  test("aggregateWithin refuses mismatched and non-comparable key types") {
    val aggs = Seq(count(col("r_v")).as("n"))
    val mismatched = intercept[IllegalArgumentException] {
      RangeJoin.aggregateWithin(Seq((1L, 1L, 100L)).toDF("id", "k", "t"),
        Seq(("1", 95L, 1.0)).toDF("k", "t", "v"), "k", "t", 10L, Seq("v"), aggs)
    }
    assert(mismatched.getMessage.contains("`k`") &&
      mismatched.getMessage.contains("STRING"), mismatched.getMessage)
    val binary = intercept[IllegalArgumentException] {
      RangeJoin.aggregateWithin(Seq((1L, Array[Byte](1), 100L)).toDF("id", "b", "t"),
        Seq((Array[Byte](1), 95L, 1.0)).toDF("b", "t", "v"), "b", "t", 10L, Seq("v"), aggs)
    }
    assert(binary.getMessage.contains("`b`") &&
      binary.getMessage.contains("BINARY"), binary.getMessage)
  }
}
