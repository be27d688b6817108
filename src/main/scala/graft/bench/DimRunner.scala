package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number, sum}

/** The one way a dimension is timed: [[graft.Bench]] and
  * [[graft.tools.Profile]] both warm the session with [[DimRunner.warmup]]
  * and run every dim through [[runOnce]] or [[sample]].
  *
  * A run sets the dim's job group (interruptOnCancel), times the body and
  * logs a failure's cause (round 6: all 18 events dims recorded a bare
  * -1.0 after a testdata schema change — the error was the whole diagnosis
  * and it went nowhere). Its watchdog (round 5's 14.8 MB/s disk made ONE
  * dim, store_bulk_append_1m at 852 s, eat a third of the whole budget)
  * cancels a run that exceeds [[DimRunner.capS]]: the job group is
  * cancelled, the worker interrupted and the run recorded as failed.
  */
final class DimRunner(spark: SparkSession) {
  import DimRunner.capS

  /** Wall seconds of one run of `f` under job group `group`, or -1.0 when
    * it threw or exceeded the cap.
    */
  def runOnce(group: String)(f: => Unit): Double = {
    @volatile var res = -1.0
    val sc = spark.sparkContext
    val worker = new Thread(() => {
      sc.setJobGroup(group, group, interruptOnCancel = true)
      try {
        val t0 = System.nanoTime()
        f
        res = (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $group failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      finally sc.clearJobGroup()
    }, s"bench-$group")
    worker.setDaemon(true)
    worker.start()
    worker.join((capS * 1000).toLong)
    if (worker.isAlive) {
      System.err.println(s"[bench] $group exceeded ${capS}s cap: cancelling")
      try sc.cancelJobGroup(group) catch { case _: Throwable => () }
      worker.interrupt()
      worker.join(15000) // grace; if it still won't die, abandon (daemon)
      -1.0
    } else res
  }

  /** One or two samples of dim `name`: the first always, then a second
    * when the first succeeded, the dim is no one-time build and `again`
    * (evaluated after the first) holds. The second runs under job group
    * `name` + [[DimRunner.secondGroup]], so a listener keyed on the group
    * tells the first run's jobs from the second's.
    */
  def sample(name: String, again: => Boolean)(f: => Unit): DimRunner.Sample = {
    val first = runOnce(name)(f)
    val second =
      if (first >= 0 && !DimRunner.isBuild(name) && again) Some(runOnce(name + DimRunner.secondGroup)(f))
      else None
    DimRunner.Sample(first, second)
  }
}

object DimRunner {

  /** Per-run watchdog cap (GRAFT_BENCH_DIM_CAP_S, default 300 s). */
  val capS: Double = sys.env.getOrElse("GRAFT_BENCH_DIM_CAP_S", "300").toDouble

  /** Job-group suffix of a dim's second sample. */
  val secondGroup = "#2"

  /** One-time build dims never remeasure: their machine-wide memo makes
    * any second run a pointer-lookup no-op, which would record ~0 and
    * erase the build's real cost.
    */
  def isBuild(name: String): Boolean = name.endsWith("_build")

  /** Samples of one dim in seconds (-1.0 = failed). The official value is
    * the minimum of the samples that succeeded: ±30% single-sample host
    * noise can't be told from code with one number, so every dim gets the
    * same min-of-samples treatment.
    */
  final case class Sample(first: Double, second: Option[Double]) {
    def min: Double = second.filter(_ >= 0).fold(first)(math.min(first, _))
  }

  /** Seconds at millisecond precision; a failure code (-1, -2) as an integer. */
  def fmt(v: Double): String =
    if (v < 0) v.toInt.toString
    else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString

  /** Session/JIT warmup — no INPUT table is touched, so scan dimensions
    * stay honest, but the parquet read/write stack, codegen, and window
    * machinery are exercised on a scratch table; without this the first
    * dim absorbs >1 s of cold-start that belongs to the session, not the
    * operator.
    */
  def warmup(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id)").head()
    val warmDir = java.nio.file.Files.createTempDirectory("graft-bench-warm")
    try {
      val t = warmDir.resolve("t").toString
      spark.range(10000).selectExpr("id", "CAST(id AS STRING) AS s", "id * 1.5 AS v").write.parquet(t)
      val warm = spark.read.parquet(t)
      warm.where(col("id") > 100).groupBy("s").agg(sum("v")).count()
      warm.withColumn("rn", row_number().over(Window.partitionBy("s").orderBy("id"))).count()
    } finally
      try graft.core.Fs.deleteTree(warmDir) catch { case scala.util.control.NonFatal(_) => () }
  }
}
