package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spans around calls into the engine's layers, recorded on the client
  * thread only. Disabled, `apply` just runs the body.
  */
final class Spans(val enabled: Boolean) {
  /** Spans are kept only while active (the timed part), not in warm-ups. */
  var active = false

  final case class Span(id: Int, parent: Int, name: String, req: String,
                        startNs: Long, endNs: Long)

  private val done = ArrayBuffer[Span]()
  private val stack = ArrayBuffer[Int]()
  private var nextId = 0

  def apply[A](name: String, req: => String)(body: => A): A =
    if (!enabled || !active) body
    else {
      val id = nextId
      nextId += 1
      val parent = if (stack.isEmpty) -1 else stack.last
      stack += id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.remove(stack.size - 1)
        done += Span(id, parent, name, req, t0, t1)
      }
    }

  def all: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Per span name: count, total and self time (duration minus the part
    * covered by child spans), in ms.
    */
  def selfTimes: Seq[Map[String, Any]] = {
    val childTime = new java.util.HashMap[Int, java.lang.Long]()
    done.foreach { s =>
      if (s.parent >= 0)
        childTime.merge(s.parent, s.endNs - s.startNs, (a: java.lang.Long, b: java.lang.Long) => a + b)
    }
    done.groupBy(_.name).toSeq.map { case (name, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => s.endNs - s.startNs - Option(childTime.get(s.id)).map(_.longValue).getOrElse(0L)).sum
      Map("span" -> name, "count" -> ss.size, "total_ms" -> total / 1e6, "self_ms" -> self / 1e6)
    }.sortBy(m => -m("total_ms").asInstanceOf[Double])
  }

  def writeTo(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      w.write('\n')
    } finally w.close()
  }
}

/** Spark-side counters for the traced run: a [[SparkListener]] that files
  * every job, stage and task under the client's current op tag (the
  * `perfbench.op` local property, absent for jobs the client thread did
  * not start, e.g. the write buffer's flusher), and a
  * [[QueryExecutionListener]] that keeps each query's Catalyst phase times.
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  import SparkProbe._

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentHashMap[Int, TaskAgg]()
  private val stages = new ConcurrentHashMap[Int, java.lang.Integer]()
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[Query]()

  def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(OpKey))).getOrElse(Background)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, Job(e.jobId, tag, e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val job = stageJob.getOrDefault(e.stageInfo.stageId, -1)
    stages.merge(job, 1, (a: java.lang.Integer, b: java.lang.Integer) => a + b)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val job = stageJob.getOrDefault(e.stageId, -1)
      val a = tasks.computeIfAbsent(job, _ => new TaskAgg)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val end = ph.values.map(_.endTimeMs).foldLeft(0L)(math.max)
    queries.add(Query(end, ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Waits until every started job has ended and the listener bus has been
    * quiet for a moment, so the counters are complete.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var last = -1
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val open = jobs.values.asScala.count(_.endMs < 0)
      val seen = jobs.size + tasks.size + queries.size
      if (seen != last) { last = seen; stableSince = System.nanoTime() }
      if (open == 0 && System.nanoTime() - stableSince > 300_000_000L) return
      Thread.sleep(50)
    }
  }

  def jobsWhere(p: String => Boolean): Seq[Job] =
    jobs.values.asScala.filter(j => p(j.tag)).toSeq.sortBy(_.startMs)

  /** Jobs that started in [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] =
    jobsWhere(_ => true).filter(j => j.startMs >= fromMs && j.startMs <= toMs)

  def taskAgg(js: Seq[Job]): TaskAgg = {
    val out = new TaskAgg
    js.foreach(j => Option(tasks.get(j.id)).foreach(a => a.synchronized(out.add(a))))
    out
  }

  def stageCount(js: Seq[Job]): Int =
    js.map(j => Option(stages.get(j.id)).map(_.intValue).getOrElse(0)).sum

  /** Queries whose last phase ended in [fromMs, toMs]. */
  def queriesIn(fromMs: Long, toMs: Long): Seq[Query] =
    queries.asScala.filter(q => q.endMs >= fromMs && q.endMs <= toMs).toSeq
}

object SparkProbe {
  val OpKey = "perfbench.op"
  val Background = "background"

  final case class Job(id: Int, tag: String, startMs: Long, endMs: Long)
  final case class Query(endMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long) {
    def totalMs: Long = analysisMs + optimizationMs + planningMs
  }

  final class TaskAgg {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    def add(o: TaskAgg): Unit = {
      tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    }
  }

  /** Wall time in [fromMs, toMs] not covered by any of `jobs`. */
  def uncoveredMs(fromMs: Long, toMs: Long, jobs: Seq[Job]): Long = {
    var covered = 0L
    var cursor = fromMs
    jobs.filter(_.endMs >= 0).sortBy(_.startMs).foreach { j =>
      val s = math.max(j.startMs, cursor)
      val e = math.min(j.endMs, toMs)
      if (e > s) { covered += e - s; cursor = e }
    }
    math.max(0L, toMs - fromMs - covered)
  }

  def attach(spark: org.apache.spark.sql.SparkSession): SparkProbe = {
    val p = new SparkProbe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** Janino compile time so far in this JVM, in ns. */
  def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}

/** The Spark substrate's per-layer metrics over one timed window. */
object Substrate {
  def report(ctx: Ctx, p: SparkProbe, fromMs: Long, toMs: Long, codegenS: Double): Unit = {
    val jobs = p.jobsIn(fromMs, toMs)
    val t = p.taskAgg(jobs)
    val wallS = (toMs - fromMs) / 1e3
    val qs = p.queriesIn(fromMs, toMs)
    ctx.layerMetric("spark.jobs", jobs.size.toDouble, "count")
    ctx.layerMetric("spark.stages", p.stageCount(jobs).toDouble, "count")
    ctx.layerMetric("spark.tasks", t.tasks.toDouble, "count")
    ctx.layerMetric("spark.task_run_s", t.runMs / 1e3, "s")
    ctx.layerMetric("spark.task_cpu_s", t.cpuNs / 1e9, "s")
    ctx.layerMetric("spark.shuffle_write_mb", t.shuffleWrite / 1e6, "MB")
    ctx.layerMetric("spark.shuffle_read_mb", t.shuffleRead / 1e6, "MB")
    ctx.layerMetric("spark.spill_mb", t.spill / 1e6, "MB")
    ctx.layerMetric("spark.gc_s", t.gcMs / 1e3, "s")
    ctx.layerMetric("spark.driver_uncovered_s", SparkProbe.uncoveredMs(fromMs, toMs, jobs) / 1e3, "s")
    ctx.layerMetric("spark.data_share", t.runMs / 1e3 / (ctx.cores * wallS), "ratio")
    ctx.layerMetric("plan.analysis_s", qs.map(_.analysisMs).sum / 1e3, "s")
    ctx.layerMetric("plan.optimization_s", qs.map(_.optimizationMs).sum / 1e3, "s")
    ctx.layerMetric("plan.planning_s", qs.map(_.planningMs).sum / 1e3, "s")
    ctx.layerMetric("plan.codegen_s", codegenS, "s")
  }
}
