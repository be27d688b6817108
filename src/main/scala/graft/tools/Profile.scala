package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.collection.concurrent.TrieMap

import graft.bench.DimRunner
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.Bridge

/** Times, counts and explains named declared queries with Bench's own dim
  * machinery: after [[DimRunner.warmup]] each dim runs twice through
  * [[DimRunner.sample]] (the official value is the min), a listener keyed
  * on the job group counts the Spark jobs and stages of the first (cold)
  * run, the codegen cache's misses count the classes each run compiled,
  * and `--plans <dir>` writes each dim's formatted plan to
  * `<dir>/<dim>.txt`. Prints one JSON line
  * `{"sf":…,"dims":{name:{"s":[a,b],"min":…,"jobs":…,"stages":…,"compiles":…}}}`
  * (jobs, stages and compiles of the first run) and exits 1 when any dim
  * failed; an undeclared name fails before anything runs.
  *
  * sbt "runMain graft.tools.Profile <sfDir> [--plans <dir>] <dim>..."
  */
object Profile {

  /** Samples in seconds (-1.0 = failed), their min, the first run's job
    * and stage counts, and the classes each sample compiled.
    */
  final case class Dim(samples: Seq[Double], min: Double, jobs: Int, stages: Int,
                       compiles: Seq[Long])

  final case class Result(sf: String, dims: Seq[(String, Dim)]) {
    def failed: Boolean = dims.exists(_._2.min < 0)
    def json: String = dims.map { case (name, d) =>
      s""""$name":{"s":${d.samples.map(DimRunner.fmt).mkString("[", ",", "]")},""" +
        s""""min":${DimRunner.fmt(d.min)},"jobs":${d.jobs},"stages":${d.stages},""" +
        s""""compiles":${d.compiles.headOption.getOrElse(0L)}}"""
    }.mkString(s"""{"sf":"$sf","dims":{""", ",", "}}")
  }

  def run(spark: SparkSession, sfDir: String, plans: Option[Path], names: Seq[String]): Result = {
    requireDeclared(names)
    val counts = new GroupCounts
    spark.sparkContext.addSparkListener(counts)
    try {
      DimRunner.warmup(spark)
      val runner = new DimRunner(spark)
      plans.foreach(Files.createDirectories(_))
      val dims = names.distinct.map { name =>
        val query = graft.SparkEntry.queries(name)
        val compiles = Seq.newBuilder[Long]
        val s = runner.sample(name, again = true) {
          val c0 = Bridge.compiledClasses
          query(spark, sfDir).count()
          compiles += Bridge.compiledClasses - c0
        }
        if (s.first >= 0) plans.foreach { dir =>
          Files.writeString(dir.resolve(s"$name.txt"),
            query(spark, sfDir).queryExecution.explainString(FormattedMode))
        }
        Bridge.drainListeners(spark)
        name -> Dim(s.first +: s.second.toSeq, s.min, counts.jobs(name), counts.stages(name),
          compiles.result())
      }
      Result(sfDir, dims)
    } finally spark.sparkContext.removeSparkListener(counts)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, plans, names) = args.toList match {
      case sf :: "--plans" :: dir :: names if names.nonEmpty => (sf, Some(Paths.get(dir)), names)
      case sf :: names if names.nonEmpty => (sf, None, names)
      case _ =>
        System.err.println("usage: graft.tools.Profile <sfDir> [--plans <dir>] <dim>...")
        sys.exit(2)
    }
    requireDeclared(names)
    val spark = graft.core.GraftSession.local("graft-profile")
    val result = try run(spark, sfDir, plans, names) finally spark.stop()
    println(result.json)
    if (result.failed) sys.exit(1)
  }

  private def requireDeclared(names: Seq[String]): Unit = {
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not a declared query: ${unknown.mkString(", ")}")
  }

  /** Jobs started and stages submitted per job group. */
  private final class GroupCounts extends SparkListener {
    private val jobsBy, stagesBy = TrieMap.empty[String, Int]
    private def bump(by: TrieMap[String, Int], props: java.util.Properties): Unit =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => by.updateWith(g)(n => Some(n.getOrElse(0) + 1)))
    override def onJobStart(e: SparkListenerJobStart): Unit = bump(jobsBy, e.properties)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = bump(stagesBy, e.properties)
    def jobs(group: String): Int = jobsBy.getOrElse(group, 0)
    def stages(group: String): Int = stagesBy.getOrElse(group, 0)
  }
}
