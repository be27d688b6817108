package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.Bridge

/** [[Profile]] on Bench's dim runner: two samples per dim with their min,
  * the first run's jobs counted, a second sample that compiles nothing,
  * formatted plans written, and an undeclared dim rejected before any
  * Spark job runs.
  */
class ProfileSpec extends SparkSpec {

  private val dims = Seq("q1_pricing_summary", "q6_forecast_revenue")

  test("two declared dims: two samples, their min, jobs counted, plans written") {
    val plans = Paths.get(tmpDir("graft-profile-plans"))
    val r = Profile.run(spark, sf(), Some(plans), dims)
    assert(r.dims.map(_._1) == dims)
    assert(!r.failed)
    r.dims.foreach { case (name, d) =>
      assert(d.samples.size == 2 && d.samples.forall(_ >= 0), s"$name: ${d.samples}")
      assert(d.min == d.samples.min, name)
      assert(d.jobs >= 1 && d.stages >= 1, s"$name: ${d.jobs} jobs, ${d.stages} stages")
      assert(d.compiles.size == 2 && d.compiles(1) == 0,
        s"$name: the second sample must reuse the first's classes: ${d.compiles}")
      val plan = plans.resolve(s"$name.txt")
      assert(Files.isRegularFile(plan), name)
      assert(Files.readString(plan).contains("== Physical Plan =="), name)
    }
    assert(r.json.startsWith(s"""{"sf":"${sf()}","dims":{"q1_pricing_summary":{"s":["""))
    assert(r.json.contains(s""""compiles":${r.dims.head._2.compiles.head}}"""))
  }

  test("an undeclared dim fails before anything runs") {
    val plans = Paths.get(tmpDir("graft-profile-none"))
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Bridge.drainListeners(spark)
      jobs.set(0)
      intercept[IllegalArgumentException](
        Profile.run(spark, sf(), Some(plans), Seq("q1_pricing_summary", "no_such_dim")))
      Bridge.drainListeners(spark)
      assert(jobs.get() == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(graft.core.Fs.list(plans).isEmpty)
  }
}
