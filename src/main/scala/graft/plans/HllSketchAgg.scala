package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native HyperLogLog aggregate — the custom-AGGREGATE tier of the
  * Catalyst surface (scalar Expression and Strategy+Exec are the other
  * tiers, both exercised elsewhere in `graft.plans`).
  *
  * Same deterministic sketch as the d11 QUERY formulation (md5 word 1 →
  * bucket, word 2 → rank, m = 256, scaled-BIGINT harmonic estimate, raw
  * regime only) but held as a SINGLE 256-byte register buffer per
  * aggregation state instead of a (bucket, max-rho) row group: update is
  * one digest + one array max, merge is elementwise max (commutative/
  * associative/idempotent — any partitioning, any merge tree, same
  * registers), and the shuffle ships 256 BYTES per partial state instead
  * of ≤ m rows. The d17 oracle recomputes the identical estimate in SQL,
  * so the hash gate proves the imperative buffer path bit-equal to the
  * relational one.
  */
case class HllSketchAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  private val m = 256

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "hll_distinct"
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.sql}")

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val d = HllSketchAgg.digest.get()
      d.reset()
      val dig = d.digest(v.asInstanceOf[UTF8String].getBytes)
      // word 1 (bytes 0-3, unsigned BE) → bucket; word 2 (bytes 4-7) → rank
      val h1 = ((dig(0) & 0xFFL) << 24) | ((dig(1) & 0xFFL) << 16) |
        ((dig(2) & 0xFFL) << 8) | (dig(3) & 0xFFL)
      val wd = (((dig(4) & 0xFFL) << 24) | ((dig(5) & 0xFFL) << 16) |
        ((dig(6) & 0xFFL) << 8) | (dig(7) & 0xFFL)).toInt
      val bucket = (h1 % m).toInt
      val rho = if (wd == 0) 32 else Integer.numberOfLeadingZeros(wd) + 1
      if (rho > buf(bucket)) buf(bucket) = rho.toByte
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  /** Scaled-BIGINT harmonic estimate — d11's exact integer arithmetic:
    * S = Σ 2^(32-ρ) (empty bucket ⇒ 2^32), E = (α·10⁶ · (2^48 div S))
    * div 10⁶ with α·10⁶ = 718273. */
  override def eval(buf: Array[Byte]): Any = {
    var s = 0L
    var i = 0
    while (i < m) { s += 1L << (32 - buf(i)); i += 1 }
    (718273L * (281474976710656L / s)) / 1000000L
  }

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(o: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): HllSketchAgg = copy(child = c.head)
}

object HllSketchAgg {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Column surface: `hllDistinct(col)` usable in `df.agg(...)`. */
  def hllDistinct(c: Column): Column =
    GraftSqlBridge.column(
      HllSketchAgg(GraftSqlBridge.expression(c)).toAggregateExpression())
}
