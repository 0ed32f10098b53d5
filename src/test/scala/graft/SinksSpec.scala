package graft

import java.nio.file.Files
import graft.sources.Sinks
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** The two table layouts of `Sinks`, and q43, the query that reads the
  * bucketed one.
  *
  * `writeBucketed` pre-shuffles on the bucket id at core width, so each
  * write task holds the buckets congruent to its id and writes each of them
  * as one sorted file. The inputs here come out of a `groupBy` on the key:
  * they are already hash-partitioned on it at the session's shuffle width,
  * which is the case where a plain `repartition(k, key)` is planned away.
  *
  * `writeVectorTable` writes a plain table: no bucket spec, no more files
  * than cores, ids ascending within each file. */
class SinksSpec extends SparkSpec {

  // part-<task>-<job uuid>_<bucket>.c000[.codec].parquet
  private val PartFile = """part-(\d{5})-.*_(\d{5})\.c\d{3}.*\.parquet""".r

  private def grouped(key: Column): DataFrame =
    spark.range(0, 3000)
      .groupBy(key.as("id"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
      .withColumn("vector", array(col("n").cast("float"), col("s").cast("float")))

  private def checkLayout(input: DataFrame, name: String, nBuckets: Int): Unit = {
    Sinks.writeBucketed(input, name, "id", nBuckets)
    val k = math.min(nBuckets, spark.sparkContext.defaultParallelism)
    val files = spark.table(name).inputFiles.toSeq
      .map(f => f.substring(f.lastIndexOf('/') + 1))
    val parsed = files.map {
      case PartFile(task, bucket) => (task.toInt, bucket.toInt)
      case other => fail(s"unexpected file name in $name: $other")
    }
    val expectedBuckets = input
      .select(pmod(hash(col("id")), lit(nBuckets)).cast("int")).distinct()
      .collect().map(_.getInt(0)).toSet
    val buckets = parsed.map(_._2)
    assert(buckets.size == buckets.distinct.size,
      s"$name: a bucket was split over several files: ${files.sorted.mkString(", ")}")
    assert(buckets.toSet == expectedBuckets,
      s"$name: files do not cover exactly the non-empty buckets")
    val tasks = parsed.map(_._1).distinct
    assert(tasks.size <= spark.sparkContext.defaultParallelism,
      s"$name: ${tasks.size} write tasks for ${buckets.size} buckets")
    parsed.foreach { case (task, bucket) =>
      assert(bucket % k == task, s"$name: bucket $bucket written by task $task, k = $k")
    }

    checkSortedRoundTrip(input, name)
  }

  /** Ids ascend within every file of table `name`, and it holds exactly the
    * rows of `input`. */
  private def checkSortedRoundTrip(input: DataFrame, name: String): Unit = {
    val back = spark.table(name)
    val byFile = back.select(input_file_name().as("f"), col("id")).collect()
      .groupBy(_.getString(0)).values
    byFile.foreach { rows =>
      val ids = rows.map(_.get(1).asInstanceOf[Comparable[Any]])
      assert(ids.zip(ids.drop(1)).forall { case (a, b) => a.compareTo(b) < 0 },
        s"$name: ids do not ascend in ${rows.head.getString(0)}")
    }
    assert(back.exceptAll(input).isEmpty && input.exceptAll(back).isEmpty,
      s"$name: round trip changed the rows")
  }

  test("256 buckets from hash-partitioned input: one file per bucket, one task per core") {
    checkLayout(grouped(col("id") % 1200), "graft_sinks_vec256", 256)
  }

  test("a bucket count that does not divide the core count keeps the layout") {
    checkLayout(grouped(col("id") % 1200), "graft_sinks_vec7", 7)
  }

  test("a string key keeps the layout") {
    checkLayout(grouped(concat(lit("doc-"), (col("id") % 900).cast("string"))),
      "graft_sinks_vecstr", 256)
  }

  test("the vector table is a plain table: no bucket spec, few files, ids ascend per file") {
    val name = "graft_sinks_vectable"
    val input = grouped(col("id") % 1200)
    Sinks.writeVectorTable(input, name, "id")
    val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(name))
    assert(meta.bucketSpec.isEmpty, s"$name has a bucket spec: ${meta.bucketSpec}")
    val files = spark.table(name).inputFiles
    assert(files.length <= spark.sparkContext.defaultParallelism,
      s"$name: ${files.length} part files for ${spark.sparkContext.defaultParallelism} cores")
    checkSortedRoundTrip(input, name)
  }

  test("q43's bucketed tables belong to one sf dir, even when dir names hash alike") {
    val root = Files.createTempDirectory("graft-q43dirs")
    val (aa, bb) = (root.resolve("Aa"), root.resolve("BB"))
    Files.createSymbolicLink(aa, java.nio.file.Paths.get(sf("sf0.001")))
    Files.createSymbolicLink(bb, java.nio.file.Paths.get(sf("sf0.01")))
    assert(aa.toString.hashCode == bb.toString.hashCode)
    val q43 = SparkEntry.queries("q43_bucketed_join")
    def run(dir: java.nio.file.Path) = q43(spark, dir.toString).collect().toSeq
    try {
      val first = run(aa)
      val second = run(bb)
      assert(first != second, "the two sf dirs gave the same q43 result")
      assert(run(aa) == first, "q43 on the first dir read the second dir's tables")
    } finally Seq(aa, bb, root).foreach(Files.delete)
  }
}
