package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Whole-operator Catalyst extension for the banded interval join
  * ([[graft.operators.RangeJoin]]): logical node + planner strategy +
  * physical exec — the (c)-tier custom-operator path from SURVEY §7.4.
  * `RangeJoin.aggregateWithin` builds the node; the strategy is registered
  * via [[GraftExtensions]], which every [[graft.core.GraftSession]]
  * session carries.
  *
  * WHY a physical operator where a DataFrame formulation exists: the
  * banded-equi-join formulation pays a 2× probe explode plus a shuffle on
  * the composite (key, band), and the aggregation that follows reshuffles
  * on the left columns because (key, band) doesn't satisfy its clustering.
  * This exec shuffles each side ONCE on the key alone, asks
  * EnsureRequirements for (key, time) sort order, and streams both sorted
  * sides with a sliding window buffer — the merge pass every time-series
  * engine uses for interval joins. Memory is bounded by the window
  * POPULATION of one key (not the key's row count); downstream per-left-row
  * aggregation sees output already hash-partitioned by key, so the whole
  * q28 pipeline runs with exactly two exchanges at any scale.
  */
case class RangeJoinPlan(left: LogicalPlan, right: LogicalPlan,
    lKey: Expression, rKey: Expression, lTime: Expression, rTime: Expression,
    lookback: Long) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): RangeJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[RangeJoinPlan]] as [[RangeJoinExec]]. */
object RangeJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeJoinPlan(l, r, lk, rk, lt, rt, w) =>
      RangeJoinExec(lk, rk, lt, rt, w, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge interval join: both children hash-clustered on the key and
  * sorted by (key, time); a single forward pass buffers right rows per key
  * inside the sliding `[lt - lookback, lt)` window. LEFT OUTER semantics:
  * a left row with no window match (or a null key/time) emits once with
  * null right fields — the rows a plain left-outer join on
  * `lk = rk AND rt >= lt - W AND rt < lt` returns (pinned by spec).
  *
  * Scale: memory = one key's window population (rows are dropped from the
  * buffer head as the left time advances — never the whole key group);
  * skewed keys cost output size, not quadratic probing; everything
  * streams, nothing is collected. */
case class RangeJoinExec(
    lKey: Expression, rKey: Expression, lTime: Expression, rTime: Expression,
    lookback: Long, left: SparkPlan, right: SparkPlan)
  extends BinaryExecNode {

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(lKey :: Nil) :: ClusteredDistribution(rKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(lKey, Ascending), SortOrder(lTime, Ascending)),
    Seq(SortOrder(rKey, Ascending), SortOrder(rTime, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(lKey, Ascending), SortOrder(lTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): RangeJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val nRightFields = right.output.size
    val lKeyB = BindReferences.bindReference(lKey, left.output)
    val lTimeB = BindReferences.bindReference(lTime, left.output)
    val rKeyB = BindReferences.bindReference(rKey, right.output)
    val rTimeB = BindReferences.bindReference(rTime, right.output)
    val outAtts = output
    val w = lookback
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(outAtts, outAtts)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(nRightFields)
      val buf = new java.util.ArrayDeque[RangeJoinExec.BufferedRow]()
      var bufKey: Any = null
      var pending: InternalRow = null // one-row lookahead (copied)
      var pendingKey: Any = null
      var pendingTime: Long = 0L
      // atomic-type JVM representations (Long/Integer/Double/UTF8String/...)
      // are all Comparable — aggregateWithin admits only such key types
      def cmpKeys(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)

      lIter.flatMap { l =>
        val lk = lKeyB.eval(l)
        val ltv = lTimeB.eval(l)
        if (lk == null || ltv == null) {
          numOutputRows += 1
          Iterator.single(proj(joined(l, nullRight)))
        } else {
          val lt = ltv.asInstanceOf[Long]
          if (bufKey != null && cmpKeys(bufKey, lk) != 0) { buf.clear(); bufKey = null }
          var done = false
          while (!done) {
            if (pending == null) {
              if (rIter.hasNext) {
                val r0 = rIter.next()
                val k = rKeyB.eval(r0)
                val t = rTimeB.eval(r0)
                if (k != null && t != null) { // null key/time can never match
                  pending = r0.copy(); pendingKey = k; pendingTime = t.asInstanceOf[Long]
                }
              } else done = true
            } else {
              val c = cmpKeys(pendingKey, lk)
              if (c < 0) pending = null // left keys ascend — never needed again
              else if (c > 0) done = true // belongs to a later left key
              else if (pendingTime < lt) { // upper bound: candidate in window
                buf.addLast(new RangeJoinExec.BufferedRow(pendingTime, pending))
                bufKey = lk
                pending = null
              } else done = true // rt >= lt: later left rows may still use it
            }
          }
          // lower bound: left times ascend per key, so head-trim is permanent
          while (!buf.isEmpty && buf.peekFirst.t < lt - w) buf.removeFirst()
          if (buf.isEmpty) {
            numOutputRows += 1
            Iterator.single(proj(joined(l, nullRight)))
          } else {
            val it = buf.iterator()
            new Iterator[InternalRow] {
              override def hasNext: Boolean = it.hasNext
              override def next(): InternalRow = {
                numOutputRows += 1
                proj(joined(l, it.next().row))
              }
            }
          }
        }
      }
    }
  }
}

object RangeJoinExec {
  private[plans] final class BufferedRow(val t: Long, val row: InternalRow)
}
