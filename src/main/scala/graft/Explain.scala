package graft
import graft.core.GraftSession

/** Plan-audit tool: print the formatted physical plan of declared queries
  * without executing them (streaming-parity queries, which must run to
  * have a plan, print their batch-side DataFrame's plan after the run).
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  * The session has the builder's SPARK_GRAFT_CPUS cores, so the plan's
  * shuffle-partition count is the one a run with that setting plans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).toSet
    val spark = GraftSession.builder("graft-explain").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        println(s"=== $name ===")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"[explain failed: ${e.getMessage}]") }
      }
    spark.stop()
  }
}
