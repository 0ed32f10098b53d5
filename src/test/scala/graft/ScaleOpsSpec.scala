package graft

import graft.operators.Salting
import graft.sources.Sinks
import org.apache.spark.sql.functions._

class ScaleOpsSpec extends SparkSpec {

  test("schema evolution: mergeSchema unions generations; old files read null; pushdown survives") {
    // A 100 TB table is written over months by evolving jobs: gen-1 files
    // lack columns gen-2 added. The lakehouse contract is (a) one read
    // over both generations yields the UNION schema with nulls for
    // missing columns, (b) a filter on a gen-2 column still reaches the
    // scan, (c) the default non-merging read keeps working (it serves
    // whichever schema it samples — callers who need the union MUST ask).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftevo").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "payload")
      .write.mode("append").parquet(dir) // generation 1
    Seq((3L, "c", 10L), (4L, "d", 20L)).toDF("id", "payload", "score")
      .write.mode("append").parquet(dir) // generation 2 adds `score`
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("id", "payload", "score"))
    val rows = merged.select("id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> Some(10L), 4L -> Some(20L)),
      "gen-1 rows must surface the evolved column as null, gen-2 keep values")
    // the evolved column's predicate pushes into the scan (gen-1 files
    // are skipped by footer stats, not by a post-scan filter)
    val plan = merged.filter(col("score") > 15L).select(col("id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("score"),
      s"evolved-column predicate lost pushdown:\n${plan.take(1500)}")
    // counting on the evolved column ignores gen-1 (SQL null semantics)
    assert(merged.agg(count(col("score"))).head().getLong(0) == 2L)
  }

  test("runtime bloom-filter join pruning injects might_contain on the probe side") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftbloom").toString
    (1 to 20000).map(i => (i.toLong, s"v$i")).toDF("fk", "payload")
      .write.mode("overwrite").parquet(s"$dir/fact")
    (1 to 50).map(i => (i * 400L, i)).toDF("k", "attr")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // force a non-broadcast join so the runtime filter is the pruning path
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter(col("attr") <= 25)
      val joined = fact.join(dim, col("fk") === col("k"))
      val plan = joined.queryExecution.optimizedPlan.toString
      // the dim side builds a bloom filter; the fact scan probes it BEFORE
      // the shuffle — at 100 TB this skips most fact rows at the source
      assert(plan.contains("might_contain"), s"no runtime bloom filter:\n$plan")
      assert(joined.count() == 25)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime (automatic q35)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftskew").toString
    // one hot key carrying ~all the bytes (payload varies per row so the
    // shuffle blocks don't compress below the skew threshold), plus a tail
    ((1 to 60000).map(i => (1L, s"payload-$i-${i * 2654435761L}-${"x" * 32}"))
      ++ (2 to 500).map(i => (i.toLong, "y")))
      .toDF("k", "pad").write.mode("overwrite").parquet(s"$dir/fact")
    (1 to 500).map(i => (i.toLong, i)).toDF("k2", "attr")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // fan the single-file scan out first: AQE splits a skewed reduce
      // partition along MAPPER boundaries, so a one-mapper stage (one tiny
      // parquet file) is unsplittable no matter how skewed — the same
      // reason Tables.parallelize exists for the fixtures
      // keep the payload in the output: projecting it away would let column
      // pruning shrink the shuffled rows to a lone RLE'd key — below any
      // skew threshold
      val joined = spark.read.parquet(s"$dir/fact").repartition(8)
        .join(spark.read.parquet(s"$dir/dim"), col("k") === col("k2"))
        .select(col("k"), col("attr"), col("pad"))
      // execute THIS queryExecution so AQE finalizes it (a .count() would
      // plan and adapt a different query)
      assert(joined.collect().length == 60000 + 499)
      val finalPlan = joined.queryExecution.executedPlan.toString
      // AQE marks the rewritten join node; the hot key is processed by
      // MULTIPLE tasks with the dim side replicated — salting, automated
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n${finalPlan.take(3000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables join without a shuffle") {
    import spark.implicits._
    val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
    Sinks.writeBucketed(a, "graft_bucket_a", "k", 8)
    Sinks.writeBucketed(b, "graft_bucket_b", "k", 8)
    // one file per bucket: 8 part files carrying the 8 bucket suffixes
    for (t <- Seq("graft_bucket_a", "graft_bucket_b")) {
      val files = spark.table(t).inputFiles.toSeq
        .map(f => f.substring(f.lastIndexOf('/') + 1))
      assert(files.size == 8 && files.forall(_.startsWith("part-")),
        s"$t: expected 8 part files, got ${files.mkString(", ")}")
      val suffixes = files.map(f => """_(\d{5})\.c\d{3}""".r.findFirstMatchIn(f).map(_.group(1)))
      assert(suffixes.flatten.distinct.size == 8,
        s"$t: expected 8 distinct bucket suffixes, got ${files.mkString(", ")}")
    }
    val joined = spark.table("graft_bucket_a")
      .join(spark.table("graft_bucket_b"), "k")
      .withColumn("j", col("va") === col("vb"))
    // disable broadcast so the co-located sort-merge path is exercised
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = spark.table("graft_bucket_a")
        .join(spark.table("graft_bucket_b"), "k")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("sharded write: id-prefix shards balance and round-trip") {
    import spark.implicits._
    val df = (1 to 200).map { i =>
      val id = java.security.MessageDigest.getInstance("SHA-256")
        .digest(i.toString.getBytes).map("%02x".format(_)).mkString
      (id, i)
    }.toDF("identifier", "v")
    val dir = java.nio.file.Files.createTempDirectory("graftshard").toString + "/t"
    Sinks.writeSharded(df, dir, "identifier")
    val back = spark.read.parquet(dir)
    assert(back.count() == 200)
    val shards = back.select("shard").distinct().count()
    assert(shards > 50, s"expected many distinct shards, got $shards")
  }

  test("sharded write: a shard filter prunes directories at the scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftpart").toString + "/t"
    Sinks.writeSharded(Seq(("ab01", 1), ("ab02", 2), ("cd03", 3)).toDF("identifier", "v"),
      dir, "identifier")
    val back = spark.read.parquet(dir).filter(col("shard") === "ab")
    assert(back.count() == 2)
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
  }

  test("salted join equals plain join and spreads the hot key") {
    import spark.implicits._
    // hot key: 90% of big side is key 1
    val big = ((1 to 900).map(i => (1L, i)) ++ (1 to 100).map(i => (2L, i)))
      .toDF("k", "payload")
    val small = Seq((1L, "one"), (2L, "two")).toDF("k", "name")
    val plain = big.join(small, "k")
    val salted = Salting.saltedJoin(big, small, "k", buckets = 8, col("payload"))
    assert(salted.count() == plain.count())
    val sumPlain = plain.agg(sum("payload")).collect()(0).getLong(0)
    val sumSalted = salted.agg(sum("payload")).collect()(0).getLong(0)
    assert(sumPlain == sumSalted)
    // salt is deterministic: same input -> same assignment
    val s1 = Salting.salt(8, col("payload"))
    val d1 = big.select(s1).collect().map(_.getInt(0)).toSeq
    val d2 = big.select(s1).collect().map(_.getInt(0)).toSeq
    assert(d1 == d2)
    assert(d1.distinct.size > 1) // actually spreads
  }
}
