package graft

import graft.core.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark's
  * getOrCreate makes this safe across suites; stopping per-suite would break
  * parallel suite execution).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** A fresh directory under `java.io.tmpdir`, deleted at JVM exit. */
  def tmpDir(prefix: String): String = SparkSpec.tmpDir(prefix)
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("graft-test", "4")

  private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    made.forEach(d => try graft.core.Fs.deleteTree(d) catch { case scala.util.control.NonFatal(_) => () }),
    "graft-test-tmpdirs"))

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    made.add(d)
    d.toString
  }
}
