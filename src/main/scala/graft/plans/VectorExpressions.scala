package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector kernels over
  * `ArrayType(FloatType | DoubleType)` embedding columns (SURVEY §7.4's
  * "custom Expression with doGenCode" tier). They mirror the reference's
  * FAISS L2 and sentence-transformers cosine semantics
  * (resources/embedding/rag_search.py:29-35, eu_theme_classifier.py:31).
  *
  * Why custom: Spark's higher-order functions (`zip_with` + `aggregate`)
  * are evaluated INTERPRETED — a lambda dispatch per element — and sit
  * outside whole-stage codegen. These expressions generate a tight primitive
  * loop instead, keeping the whole pipeline in generated code.
  *
  * Numerical determinism: every reduction is a sequential left fold in
  * element order from a 0.0 accumulator, with all arithmetic promoted to
  * Double. A fixed order makes results bit-reproducible across runs and
  * engines — the DuckDB oracle hash-compares doubles bit-for-bit, and a
  * retried task writes identical bytes. L2 keeps `Math.pow(d, 2.0)` (not
  * `d*d`) for the same bit pattern as the oracle's `pow`. Mismatched lengths
  * and null elements yield null.
  */
abstract class VectorBinaryDoubleExpr extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float>/array<double> arguments, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected def get(arr: ArrayData, i: Int, float: Boolean): Double =
    if (float) arr.getFloat(i).toDouble else arr.getDouble(i)

  /** Java accessor snippet for codegen. */
  protected def acc(v: String, i: String, float: Boolean): String =
    if (float) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
}

/** cosine(a, b) = dot / (||a|| * ||b||), one pass.
  *
  * Zero-norm (or empty) inputs yield NULL, not NaN, as Spark's non-ANSI
  * `Divide` does on a zero divisor: cosine is undefined for the zero
  * vector. */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends VectorBinaryDoubleExpr {

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val (fx, fy) = (isFloat(left), isFloat(right))
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0; val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null // null element → null
      val xv = get(x, i, fx); val yv = get(y, i, fy)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) return null // zero norm → NULL
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  int $i = 0; int n$i = $a.numElements();
         |  while ($i < n$i) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = ${acc(a, i, isFloat(left))};
         |    double $y = ${acc(b, i, isFloat(right))};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |    $i++;
         |  }
         |  if (!${ev.isNull}) {
         |    if ($na == 0.0 || $nb == 0.0) { ${ev.isNull} = true; } // zero-norm → NULL
         |    else { ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb)); }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** l2(a, b) = sqrt(sum (a_i - b_i)^2), one pass; pow(d, 2.0) for parity. */
case class L2DistanceExpr(left: Expression, right: Expression)
    extends VectorBinaryDoubleExpr {

  override def prettyName: String = "l2_dist"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val (fx, fy) = (isFloat(left), isFloat(right))
    var sum = 0.0
    var i = 0; val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null // null element → null
      val d = get(x, i, fx) - get(y, i, fy)
      sum += math.pow(d, 2.0)
      i += 1
    }
    math.sqrt(sum)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum"); val d = ctx.freshName("d")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  int $i = 0; int n$i = $a.numElements();
         |  while ($i < n$i) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = ${acc(a, i, isFloat(left))} - ${acc(b, i, isFloat(right))};
         |    $sum += java.lang.Math.pow($d, 2.0);
         |    $i++;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = java.lang.Math.sqrt($sum); }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** dot(a, b) = sum a_i*b_i, one pass. Null on length mismatch or any null
  * element, as `aggregate(zip_with(a, b, (x, y) -> x*y), 0.0, +)` gives:
  * zip_with null-pads unequal lengths and a null element poisons the sum. */
case class DotProductExpr(left: Expression, right: Expression)
    extends VectorBinaryDoubleExpr {

  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val (fx, fy) = (isFloat(left), isFloat(right))
    var dot = 0.0
    var i = 0; val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      dot += get(x, i, fx) * get(y, i, fy)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  int $i = 0; int n$i = $a.numElements();
         |  while ($i < n$i) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += ${acc(a, i, isFloat(left))} * ${acc(b, i, isFloat(right))};
         |    $i++;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object VectorExpressions {
  /** Column wrappers (classic backend). */
  def cosineSim(a: Column, b: Column): Column =
    GraftSqlBridge.column(CosineSimilarityExpr(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def l2Dist(a: Column, b: Column): Column =
    GraftSqlBridge.column(L2DistanceExpr(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def dotProduct(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProductExpr(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
