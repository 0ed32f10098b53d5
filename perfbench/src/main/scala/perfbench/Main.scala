package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM. `run.py` generates the inputs, starts
  * this main once per run, and checks the observations it writes.
  *
  * Arguments: `--workload <catalog|pipeline> --work <dir> --seconds <n>
  * --trace <0|1> [--sf <dir> --seed <n>]`.
  * The result (metrics, operation counts, failures) is written as JSON to
  * `<work>/result.json`; spans of a traced run go to `<work>/spans.jsonl`. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = opts("work")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val spark = graft.core.GraftSession.builder("perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    res.info("session_s") = uptimeS()
    val tracer = new Tracer(spark, traced)
    try {
      workload match {
        case "catalog" =>
          Catalog.run(spark, tracer, res, opts("sf"), Catalog.sample(opts("seed").toLong), work, seconds)
        case "pipeline" => Pipeline.run(spark, tracer, res, work)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (traced) {
        tracer.drain()
        tracer.writeSpans(s"$work/spans.jsonl")
      }
    } finally {
      res.write(s"$work/result.json")
      spark.stop()
    }
  }

  /** Progress line on stderr (it lands in the run's jvm.log). */
  def note(msg: String): Unit = System.err.println(f"[perfbench ${uptimeS()}%.1fs] $msg")

  /** Seconds since this JVM started. */
  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** CPU seconds this JVM has used so far, all threads. */
  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** JVM heap in use after full collections, in MB: the least of three
    * readings, each after a collection and a pause in which Spark's context
    * cleaner can release what the collection made unreachable. */
  def heapLiveMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(150)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
}

/** What one run reports back to `run.py`. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Long)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String] // timed operations that threw
  val errors = mutable.ArrayBuffer.empty[String]   // untimed steps that threw
  var attempted = 0L

  def metric(name: String, value: Double, unit: String, n: Long = 1): Unit =
    metrics(name) = (value, unit, n)

  def fail(what: String): Unit = synchronized { failures += what; () }
  def error(what: String): Unit = synchronized { errors += what; () }

  def write(path: String): Unit = {
    val m = metrics.map { case (k, (v, u, n)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)},\"n\":$n}"
    }.mkString("{", ",", "}")
    val i = info.map { case (k, v) => s"${Json.str(k)}:${Json.any(v)}" }.mkString("{", ",", "}")
    val f = failures.map(Json.str).mkString("[", ",", "]")
    val e = errors.map(Json.str).mkString("[", ",", "]")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      s"""{"attempted":$attempted,"failed":${failures.size},"failures":$f,"errors":$e,"metrics":$m,"info":$i}""")
    ()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def any(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${any(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(any).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Stats {
  /** Percentile by linear interpolation between closest ranks (q in [0, 1]). */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)
}
