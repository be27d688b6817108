package perfbench

import java.nio.file.Paths

/** The LLM data pipeline in one session: a stream of refinery micro-batches
  * ([[LlmIngest]]), then the batch faces over a replica corpus, cold and
  * warm ([[LlmBatch]]). The two halves share one JVM so the session start
  * and the class loading of the warm-up are paid once per run.
  */
object LlmPipeline {
  val SetupRepeats = 3

  def run(ctx: Ctx): Unit = {
    LlmIngest.configure(ctx)
    LlmBatch.configure(ctx)
    ctx.config ++= Seq("client_threads" -> 1, "cores" -> ctx.cores)

    // --- setup: warm-ups on inputs of another seed
    val tw = Timing.now
    LlmIngest.warmUp(ctx)
    LlmBatch.warmUp(ctx)
    val warmS = Timing.secondsSince(tw)

    // --- setup: input stream, ingest state and corpus, several times; the
    // timed part runs on the last build
    val builds = (0 until SetupRepeats).map { k =>
      val t0 = Timing.now
      val ingest = LlmIngest.prepare(ctx, k)
      val corpus = LlmBatch.prepare(ctx, k)
      (ingest, corpus, Timing.secondsSince(t0))
    }
    builds.init.foreach { case (i, c, _) =>
      Timing.deleteTree(Paths.get(i.root))
      Timing.deleteTree(Paths.get(c))
    }
    val (ingest, corpus, _) = builds.last
    ctx.median("metric", "setup_s", builds.map(b => ctx.sessionS + warmS + b._3), "s")
    ctx.extra("setup_parts_s") = Map("session" -> ctx.sessionS, "warmup" -> warmS,
      "builds" -> builds.map(_._3))

    // --- timed part
    val cg0 = SparkProbe.codegenNs
    val fromMs = System.currentTimeMillis()
    val fds0 = Timing.openFds
    ctx.spans.active = true
    val steal0 = Timing.stealS
    val (runs, ingestS) = LlmIngest.timed(ctx, ingest)
    val (cold, warm) = LlmBatch.timed(ctx, corpus)
    ctx.detailMetric("host_steal_s", Timing.stealS - steal0, "s")
    ctx.spans.active = false
    val toMs = System.currentTimeMillis()
    ctx.layerMetric("core.fd_growth", (Timing.openFds - fds0).toDouble, "count")
    val codegenS = (SparkProbe.codegenNs - cg0) / 1e9
    val heapMb = ctx.heapRetainedMb()
    ctx.metric("timed_s", ingestS + cold.totalS + warm.totalS, "s")
    ctx.metric("heap_retained_mb", heapMb, "MiB")

    ctx.probe.foreach(_.settle())
    LlmIngest.report(ctx, ingest, runs, ingestS)
    LlmBatch.report(ctx, cold, warm)
    ctx.probe.foreach(p => Substrate.report(ctx, p, fromMs, toMs, codegenS))
  }
}
