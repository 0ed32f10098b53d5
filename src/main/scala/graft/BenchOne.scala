package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Targeted per-query timing for local iteration: [[Bench]]'s session
  * and noop-sink discipline, but only the named queries, printed
  * as one line each with the jobs and stages one run schedules and the
  * classes the warm-up run and the two timed runs compiled. Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.BenchOne q01_scan_project ..."
  * The driver never invokes this; BENCH_r{N}.json comes from [[Bench]]. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Bench.buildSession(cpus)
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    // At local[32] the per-job floor (~0.05-0.1 s each) predicts wall
    // better than data volume, so "how many jobs
    // does this query schedule" is the first diagnostic for a floor-bound
    // query.
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(st: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    })
    args.foreach { name =>
      val c0 = Bench.codegenCompiles
      run(name) // warm-up
      val j0 = jobs.get; val s0 = stages.get
      val c1 = Bench.codegenCompiles
      val times = (1 to 2).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        run(name)
        (System.nanoTime() - t0) / 1e9
      }
      Thread.sleep(200) // listener events are delivered asynchronously
      println(f"BENCHONE $name%-28s min2=${times.min}%.3f  " +
        f"runs=${times.map(t => f"$t%.3f").mkString(",")}  " +
        f"jobs=${(jobs.get - j0) / 2}  stages=${(stages.get - s0) / 2}  " +
        f"compiles=${c1 - c0}/${Bench.codegenCompiles - c1}")
    }
    spark.stop()
  }
}
