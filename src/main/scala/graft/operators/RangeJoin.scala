package graft.operators

import graft.plans.RangeJoinPlan
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DateType, NumericType, StringType, TimestampType}

/** Interval ("range") join: for each left row, aggregate the right rows of
  * the same key whose time lies in `[left.time - lookback, left.time)` —
  * the "activity in the last N minutes before the event" enrichment (fraud
  * features, error attribution, sliding context windows).
  *
  * Scale design: a naive formulation (`l JOIN r ON l.k = r.k AND r.t
  * BETWEEN l.t - W AND l.t`) gives Catalyst only the key equi-condition; a
  * hot key degenerates to an all-pairs comparison within the key. This
  * operator builds the logical node [[graft.plans.RangeJoinPlan]] itself,
  * which [[graft.plans.RangeJoinStrategy]] plans as
  * [[graft.plans.RangeJoinExec]] — a sort-merge interval join (both sides
  * hash-clustered on the key, sorted by (key, time), one streaming pass
  * with a sliding window buffer). One shuffle per side on the key alone;
  * memory bounded by a key's WINDOW population; the aggregation that
  * follows reuses the key partitioning with no further exchange — survives
  * 100 TB. A band join written by hand stays a plain join (pinned by spec).
  */
object RangeJoin {

  /** @param left         probe rows (must carry a unique id column —
    *                     identical full rows would merge in the group-by)
    * @param right        reference rows
    * @param key          equi-join key column name (both sides, same type:
    *                     numeric, string, date or timestamp)
    * @param time         integral time column name (both sides, same unit)
    * @param lookback     window width in `time` units, > 0
    * @param rightPayload right columns the aggregates read; exposed to
    *                     `aggs` as `r_<name>` (null when no match)
    * @param aggs         aggregate columns over the `r_*` payload, e.g.
    *                     `count(col("r_value"))`. Unmatched left rows reach
    *                     the aggregates with all-null payload, so
    *                     `count(r_*)` is 0 — left rows are never dropped.
    */
  def aggregateWithin(left: DataFrame, right: DataFrame, key: String,
      time: String, lookback: Long, rightPayload: Seq[String],
      aggs: Seq[Column]): DataFrame = {
    require(lookback > 0, s"lookback must be positive, got $lookback")
    val leftCols = left.columns.toSeq
    val probes = left.withColumn("__lt", col(time).cast("long")).queryExecution.analyzed
    val r = right.select(
      col(key).as("__rk") +: col(time).cast("long").as("__rt") +:
        rightPayload.map(c => col(c).as(s"r_$c")): _*).queryExecution.analyzed
    val lKey = probes.output.find(a => SQLConf.get.resolver(a.name, key))
      .getOrElse(throw new IllegalArgumentException(s"left has no key column `$key`"))
    val rKey = r.output.head
    // RangeJoinExec orders keys through the JVM values' Comparable
    require(lKey.dataType == rKey.dataType && (lKey.dataType match {
      case _: NumericType | StringType | DateType | TimestampType => true
      case _ => false
    }), s"range-join key `$key` must have one numeric, string, date or " +
      s"timestamp type on both sides, got ${lKey.dataType.sql} and ${rKey.dataType.sql}")
    val lTime = probes.output.find(_.name == "__lt").get
    GraftSqlBridge.ofRows(left.sparkSession,
        RangeJoinPlan(probes, r, lKey, rKey, lTime, r.output(1), lookback))
      .groupBy(leftCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
