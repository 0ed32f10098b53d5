package graft

import graft.plans.VectorExpressions
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {

  test("codegen cosine/l2 match the fold formulation bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((Seq.fill(64)(rnd.nextFloat()), Seq.fill(64)(rnd.nextFloat())))
    val df = rows.toDF("a", "b")
    // fold formulation (the previous implementation)
    def foldSum(arr: org.apache.spark.sql.Column) =
      aggregate(arr, lit(0.0), (acc, v) => acc + v)
    def foldDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      foldSum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))
    val foldCos = foldDot(col("a"), col("b")) /
      (sqrt(foldDot(col("a"), col("a"))) * sqrt(foldDot(col("b"), col("b"))))
    val foldL2 = sqrt(foldSum(zip_with(col("a"), col("b"),
      (x, y) => pow(x.cast("double") - y.cast("double"), 2))))
    val out = df.select(
      VectorExpressions.cosineSim(col("a"), col("b")).as("c1"), foldCos.as("c2"),
      VectorExpressions.l2Dist(col("a"), col("b")).as("l1"), foldL2.as("l2")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), "cosine bits differ")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)), "l2 bits differ")
    }
  }

  test("null and mismatched-length inputs yield null") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 2.0f), Seq(1.0f)),                 // length mismatch
      (null.asInstanceOf[Seq[Float]], Seq(1.0f)),   // null vector
      (Seq(0.0f, 0.0f, 0.0f), Seq(1.0f, 2.0f, 3.0f)), // zero-norm left
      (Seq.empty[Float], Seq.empty[Float])          // empty vectors
    ).toDF("a", "b")
    val local = df.select(VectorExpressions.cosineSim(col("a"), col("b"))).collect()
    assert(local.length == 4 && local.forall(_.isNullAt(0)))
    // parquet-backed, so the projection runs the generated code rather
    // than a constant-folded interpreted eval: NULL, never NaN
    val dir = java.nio.file.Files.createTempDirectory("vexpr-null").toString + "/t"
    df.write.parquet(dir)
    val scanned = spark.read.parquet(dir)
    val plan = scanned.select(VectorExpressions.cosineSim(col("a"), col("b")))
    assert(plan.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
    val out = plan.collect()
    assert(out.length == 4)
    out.foreach(r => assert(r.isNullAt(0), s"expected NULL, got ${r.get(0)}"))
  }
}
