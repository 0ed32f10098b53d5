package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Exact global rank over a total order WITHOUT a single-partition sort.
  *
  * The naive formulation — `row_number() OVER (ORDER BY ...)` with no
  * PARTITION BY — plans as a SinglePartition window: every row funnels
  * through one task, which is the canonical does-not-scale shape (fine at
  * 60k rows, dead at 100 TB). The distributed shape is the TeraSort
  * pattern:
  *
  *  1. `repartitionByRange` on the sort key — one range shuffle; partition
  *     i holds keys strictly below partition i+1 (sampled bounds);
  *  2. sort within partitions + one narrow `mapPartitions` pass assigning
  *     local 1..n_i row numbers (zero additional shuffle — a window
  *     `PARTITION BY partition_id` would hash-shuffle everything again);
  *  3. per-partition counts (≤ numPartitions rows) collected to the
  *     driver, prefix-summed into offsets — O(partitions), not O(rows),
  *     the same bounded-metadata collect the CSV type-inference pass uses;
  *  4. global_rank = offset(partition) + local row number, attached via a
  *     tiny map literal.
  *
  * The rank is boundary-invariant: whatever partition bounds the range
  * sampler picks, offset + local position reproduces the unique total
  * order, so results are deterministic as long as `sortCols` is a total
  * order (callers must include a tiebreaker column).
  */
object GlobalRank {

  /** @param df       input; every row gets a rank
    * @param sortCols total-order columns (MUST be unique per row —
    *                 include a key column as final tiebreaker)
    * @param rankCol  name of the appended 1-based rank column
    */
  def withGlobalRank(df: DataFrame, sortCols: Seq[Column],
      rankCol: String = "global_rank"): DataFrame = {
    Seq("__pid", "__rn", rankCol).foreach(c =>
      require(!df.columns.contains(c),
        s"input already has a '$c' column — it would be silently dropped"))
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val ranged = df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val outSchema = StructType(ranged.schema.fields :+
      StructField("__pid", IntegerType, nullable = false) :+
      StructField("__rn", LongType, nullable = false))
    val withLocal = ranged.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var i = 0L
      it.map { r => i += 1; Row.fromSeq(r.toSeq :+ pid :+ i) }
    }(Encoders.row(outSchema))
      // reused by the size pass AND the final projection — without the
      // checkpoint the range shuffle + sort would re-execute per action
      .localCheckpoint(false)
    val sizes = withLocal.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val pids = sizes.keys.toSeq.sorted
    val offsets: Map[Int, Long] =
      pids.zip(pids.scanLeft(0L)((acc, p) => acc + sizes(p)).init).toMap
    val offExpr =
      if (offsets.isEmpty) lit(0L)
      else element_at(typedLit(offsets), col("__pid"))
    withLocal
      .withColumn(rankCol, offExpr + col("__rn"))
      .drop("__pid", "__rn")
  }

  /** Exact global EXCLUSIVE prefix sum over a total order — the running-
    * total sibling of [[withGlobalRank]], same TeraSort shape (built
    * for the t46 sequence pack): range shuffle on the sort key, one
    * narrow local exclusive-cumsum pass, per-partition TOTALS (≤
    * numPartitions rows) prefix-summed on the driver, global value =
    * partition offset + local running total. The naive
    * `SUM() OVER (ORDER BY … ROWS UNBOUNDED PRECEDING)` is a
    * SinglePartition window — the same does-not-scale shape the rank
    * variant exists to kill.
    *
    * @param df       input; every row gets the sum of `valueCol` over all
    *                 STRICTLY PRECEDING rows (first row gets 0)
    * @param sortCols total-order columns (unique per row — include a
    *                 tiebreaker)
    * @param valueCol LONG column to accumulate
    * @param outCol   name of the appended exclusive-prefix-sum column */
  def withGlobalPrefixSum(df: DataFrame, sortCols: Seq[Column],
      valueCol: Column, outCol: String = "prefix_sum"): DataFrame = {
    Seq("__pid", "__cum", "__v", outCol).foreach(c =>
      require(!df.columns.contains(c),
        s"input already has a '$c' column — it would be silently dropped"))
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // null values accumulate as 0 (a null-valued row still occupies its
    // position in the order, like SUM's null skipping)
    val ranged = df.withColumn("__v", coalesce(valueCol.cast(LongType), lit(0L)))
      .repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val outSchema = StructType(ranged.schema.fields :+
      StructField("__pid", IntegerType, nullable = false) :+
      StructField("__cum", LongType, nullable = false))
    val vIdx = ranged.schema.fieldIndex("__v")
    val withLocal = ranged.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var acc = 0L
      it.map { r =>
        val before = acc
        acc += r.getLong(vIdx)
        Row.fromSeq(r.toSeq :+ pid :+ before)
      }
    }(Encoders.row(outSchema))
      .localCheckpoint(false) // totals pass + final projection share it
    val totals = withLocal.groupBy(col("__pid"))
      .agg(sum(col("__v")).as("__t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val pids = totals.keys.toSeq.sorted
    val offsets: Map[Int, Long] =
      pids.zip(pids.scanLeft(0L)((acc, p) => acc + totals(p)).init).toMap
    val offExpr =
      if (offsets.isEmpty) lit(0L)
      else element_at(typedLit(offsets), col("__pid"))
    withLocal
      .withColumn(outCol, offExpr + col("__cum"))
      .drop("__pid", "__cum", "__v")
  }

  /** SQL `NTILE(k)` bucket (1-based) computed from a 1-based global rank —
    * standard remainder-first semantics: with n rows, the first `n mod k`
    * buckets hold `ceil(n/k)` rows, the rest `floor(n/k)`. Integral DIV
    * only (a double division would mis-floor past 2^53 rows). */
  def ntileExpr(rankCol: String, n: Long, k: Int): Column = {
    val q = n / k
    val r = n % k
    expr(
      s"""CAST(CASE
         |  WHEN $r > 0 AND $rankCol <= ${r * (q + 1)}
         |    THEN ($rankCol - 1) DIV ${q + 1}
         |  WHEN $q > 0
         |    THEN $r + ($rankCol - 1 - ${r * (q + 1)}) DIV $q
         |  ELSE 0 END + 1 AS INT)""".stripMargin)
  }
}
