package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `text` inside 100,000 nested `<tag>` elements. */
  def nested(tag: String, text: String): String =
    s"<$tag>" * 100000 + text + s"</$tag>" * 100000

  /** Runs `f` on a fresh thread, which has the JVM's default stack size like
    * a Spark task thread; an Error thrown there comes back as Left. */
  def onDefaultStack[T](f: => T): Either[Throwable, T] = {
    @volatile var out: Either[Throwable, T] = Left(new IllegalStateException("not run"))
    val t = new Thread(() => out = try Right(f) catch { case e: Throwable => Left(e) })
    t.start(); t.join()
    out
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.GraftSession.builder("graft-test", cpus = 4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
