package graft

import graft.core.GraftSession

/** [[GraftSession.sibling]] plans with the caller's conf plus overrides
  * and never writes the caller's conf. */
class GraftSessionSpec extends SparkSpec {

  test("sibling copies the caller's runtime conf, applies overrides, leaves the caller alone") {
    val key = "spark.sql.files.maxRecordsPerFile"
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(key, "123")
    try {
      val sib = GraftSession.sibling(spark, "spark.sql.shuffle.partitions" -> "3")
      assert(sib ne spark)
      assert(sib.conf.get(key) == "123", "a runtime setting of the caller reaches the sibling")
      assert(sib.conf.get("spark.sql.shuffle.partitions") == "3", "the override wins")
      val sib2 = GraftSession.sibling(spark, key -> "7")
      assert(sib2.conf.get(key) == "7", "an override wins over the caller's runtime setting")
      assert(spark.conf.get(key) == "123")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions)
    } finally spark.conf.unset(key)
  }
}
