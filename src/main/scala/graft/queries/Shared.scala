package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.DecimalType

/** Helpers more than one query family uses. */
private[queries] object Shared {

  /** TPC-H money/quantity values fit decimal(9,2): the narrow precision
    * keeps Spark's Long-backed Decimal fast path (products stay <=
    * precision 18 — no BigDecimal per row; measured 2x on q11) while
    * decimal addition stays exact and associative for oracle parity. */
  def dec(c: Column): Column = c.cast(DecimalType(9, 2))

  /** DuckDB L2 norm of list expression `v`, folded in element order over
    * doubles so the oracle adds the exact doubles Spark's kernel adds. */
  def normSql(v: String): String =
    s"sqrt(list_reduce(list_transform($v, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)), (x, y) -> x + y))"

  /** DuckDB cosine of list expressions `a` and `b`, with the same
    * element-order dot product and [[normSql]] norms. */
  def cosSql(a: String, b: String): String =
    s"(list_reduce(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y) / (${normSql(a)} * ${normSql(b)}))"
}
