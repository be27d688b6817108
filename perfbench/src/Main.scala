package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run in one JVM: builds the session, runs one workload's
  * setup and timed part on a single client thread, checks the outputs and
  * writes `result.json` into the run directory. `run.py` launches it and
  * turns the result into the benchmark's output line.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --run-dir DIR --cores C --stamp H
  *
  * `--stamp` identifies the engine and benchmark sources the run was built
  * from; results kept across runs are filed under it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val runDir = Paths.get(opts("run-dir")).toAbsolutePath
    val cores = opts("cores").toInt
    val t0 = System.nanoTime()
    val spark = graft.core.GraftSession.local("perfbench", cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toInt, opts("trace") == "1",
      runDir, cores, opts("stamp"), (System.nanoTime() - t0) / 1e9)
    try {
      workload match {
        case "store_serving" => StoreServing.run(ctx)
        case "llm_pipeline" => LlmPipeline.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.writeResult(workload)
    } finally spark.stop()
  }
}

/** Per-run state shared by the workloads: the session, the seed, the
  * tracing switch and the result being built.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val trace: Boolean,
                val runDir: Path, val cores: Int, val stamp: String, val sessionS: Double) {
  val spans = new Spans(trace)
  val probe: Option[SparkProbe] = if (trace) Some(SparkProbe.attach(spark)) else None

  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val detail = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  val samples = mutable.LinkedHashMap[String, Seq[Double]]()
  val medians = mutable.LinkedHashMap[String, Map[String, Any]]()
  val config = mutable.LinkedHashMap[String, Any]()
  val extra = mutable.LinkedHashMap[String, Any]()
  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer[String]()

  def dir(name: String): String = {
    val p = runDir.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** An end-to-end metric of the benchmark's output line. */
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  /** A workload's own headline figure, printed with the run's detail. */
  def detailMetric(name: String, value: Double, unit: String): Unit = detail(name) = (value, unit)
  def layerMetric(name: String, value: Double, unit: String): Unit =
    if (trace) layer(name) = (value, unit)

  /** A figure that is the median of `xs`, added to the end-to-end metrics
    * (`kind` "metric"), the detail figures ("detail") or, in traced runs,
    * the per-layer metrics ("layer"). `run.py` computes every median with
    * its self-tested stats code and logs the sample count.
    */
  def median(kind: String, name: String, xs: Seq[Double], unit: String): Unit =
    if (kind != "layer" || trace) medians(name) = Map("kind" -> kind, "samples" -> xs, "unit" -> unit)

  /** One attempted op: counted, and failed if it throws or any check in it
    * fails. Returns the body's value, or None if it threw.
    */
  def op[A](what: => String)(body: OpCheck => A): Option[A] = {
    attempted += 1
    val c = new OpCheck
    val r =
      try Some(body(c))
      catch { case NonFatal(e) => c.fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
    if (c.failures.nonEmpty) {
      failed += 1
      if (errors.size < 20) errors ++= c.failures.take(20 - errors.size).map(m => s"$what: $m")
    }
    r
  }

  /** Sets the op tag the Spark probe files this thread's jobs under. */
  def tag(t: String): Unit =
    if (trace) spark.sparkContext.setLocalProperty(SparkProbe.OpKey, t)

  /** Used heap after full collections, in MiB. Spark frees some memory
    * asynchronously after a collection (the context cleaner drops broadcast
    * and shuffle blocks whose references were collected, the status store
    * trims its history), so collections repeat until the used heap has
    * stopped falling.
    */
  def heapRetainedMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (prev - cur > 0.25 && rounds < 20) { prev = cur; cur = collect(); rounds += 1 }
    cur
  }

  def writeResult(workload: String): Unit = {
    def named(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    if (trace) {
      extra("self_times") = spans.selfTimes
      spans.writeTo(runDir.resolve("spans.jsonl"))
    }
    val out = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "metrics" -> named(metrics), "detail" -> named(detail), "layer" -> named(layer), "samples" -> samples,
      "medians" -> medians,
      "config" -> config, "extra" -> extra)
    Files.writeString(runDir.resolve("result.json"), Json(out))
  }
}

/** Collects the failed checks of one op. */
final class OpCheck {
  val failures = mutable.ArrayBuffer[String]()
  def fail(msg: String): Unit = failures += msg
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
}

object Timing {
  def now: Long = System.nanoTime()
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Time the machine's hypervisor took from this machine's cpus so far,
    * summed over them, in seconds (Linux `/proc/stat`, 100 ticks/s); 0
    * where it is not reported. A timed part with much of it ran on a busy
    * host.
    */
  def stealS: Double = {
    val f = Paths.get("/proc/stat")
    if (!Files.exists(f)) 0.0
    else Files.readAllLines(f).get(0).trim.split("\\s+").lift(8).map(_.toDouble / 100).getOrElse(0.0)
  }

  /** Open file descriptors of this process (Linux). */
  def openFds: Long = {
    val d = Paths.get("/proc/self/fd")
    if (!Files.isDirectory(d)) 0L
    else { val s = Files.list(d); try s.count() finally s.close() }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally w.close()
    }

  def treeBytes(p: Path): Long = {
    val w = Files.walk(p)
    try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally w.close()
  }

  def treeFiles(p: Path, suffix: String): Long = {
    val w = Files.walk(p)
    try w.filter(x => Files.isRegularFile(x) && x.getFileName.toString.endsWith(suffix)).count()
    finally w.close()
  }
}
