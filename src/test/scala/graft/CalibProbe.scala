package graft

import graft.core.Calib

/** Measures the [[Calib]] reference constants on a quiet host: five full
  * start/middle/end-style cycles (each point median-of-3), printed per
  * cycle plus the grand medians to pin as RefCpuSec / RefSparkSec.
  * Run: `sbt "Test/runMain graft.CalibProbe"` at load-average ~0. */
object CalibProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.builder("graft-calib")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the measured points must be fully warm (Bench takes its first point
    // after the whole prime + warm-up loop): five throwaway job runs, not
    // one — cycle-over-cycle drift in early probe runs showed the first
    // job still paying JIT past a single warm-up
    (1 to 5).foreach(_ => Calib.warmSparkJob(spark))
    Calib.cpuOnce() // JIT warm-up for the kernel itself
    val pts = (1 to 5).map { i =>
      val (c, j) = Calib.point(spark)
      println(f"CALIB cycle=$i cpu=$c%.4f spark_job=$j%.4f")
      (c, j)
    }
    println(f"CALIB_REF cpu=${Calib.median(pts.map(_._1))}%.4f " +
      f"spark_job=${Calib.median(pts.map(_._2))}%.4f")
    spark.stop()
  }
}
