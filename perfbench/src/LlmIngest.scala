package perfbench

import graft.core.VectorTable
import graft.operators.{IvfTableIndex, LshIndex, Pipeline, Similarity, SpanIndex}
import graft.streaming.RefineryIngest
import java.nio.file.Paths
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The composed LLM write path: an id-ordered stream of small micro-batches,
  * each through `RefineryIngest.appendRefined` directly (no trigger timer)
  * into fresh per-run stores and indexes. The first half of the
  * `llm_pipeline` workload (see [[LlmPipeline]]).
  */
object LlmIngest {
  val BatchRows = 40
  val BatchesPerSecond = 0.2
  val WarmBatches = 1
  val EvalVectors = 16
  val Cells = 8

  final case class Input(rows: Array[(Long, String, Array[Float])], evalIds: Array[Long],
                         evalVecs: Array[Array[Float]], centroids: Array[Array[Float]])

  /** Row roles within every batch, in seeded order: the count of each
    * role is the same in every batch and for every seed, so seeds change
    * texts and vectors but not what each gate has to do.
    */
  private val Roles: Array[Char] =
    Array('c', 'n', 'n', 'x', 's') ++ Array.fill(BatchRows - 5)('f')

  /** The fused (vec_id, text, embedding) stream of `n` rows for `seed`.
    * Per batch: one row near an eval vector (contaminated), two near copies
    * of an earlier text, one exact copy of an earlier text, one vector near
    * an earlier vector, the rest fresh.
    */
  def input(seed: Long, n: Int): Input = {
    val evalVecs = Array.tabulate(EvalVectors)(k => Gen.unitVector(new Gen.Rng(Gen.hash(seed, 5, k))))
    val centroids = Array.tabulate(Cells)(k => Gen.unitVector(new Gen.Rng(Gen.hash(seed, 6, k))))
    val texts = new Array[String](n)
    val vecs = new Array[Array[Float]](n)
    (0 until n by BatchRows).foreach { b0 =>
      val roles = new Gen.Rng(Gen.hash(seed, 8, b0)).shuffle(Roles.clone())
      (b0 until math.min(n, b0 + BatchRows)).foreach { i =>
        val r = new Gen.Rng(Gen.hash(seed, 7, i))
        val earlier = if (i > 0) r.nextInt(i) else 0
        texts(i) = roles(i - b0) match {
          case 'n' if i > 0 => texts(earlier) + " dup"
          case 'x' if i > 0 => texts(earlier)
          case _ => Gen.freshText(r)
        }
        vecs(i) = roles(i - b0) match {
          case 'c' => Gen.near(evalVecs(r.nextInt(EvalVectors)), r, 0.2)
          case 's' if i > 0 => Gen.near(vecs(earlier), r, 0.2)
          case _ => Gen.unitVector(r)
        }
      }
    }
    Input(Array.tabulate(n)(i => (i.toLong, texts(i), vecs(i))),
      Array.tabulate(EvalVectors)(k => 1000000000L + k), evalVecs, centroids)
  }

  final case class State(docs: VectorTable, hashes: VectorTable, spans: VectorTable,
                         lex: VectorTable, emb: VectorTable,
                         spanIdx: AtomicReference[SpanIndex], lexIdx: AtomicReference[LshIndex],
                         idx: AtomicReference[IvfTableIndex]) {
    def tables: Seq[VectorTable] = Seq(docs, hashes, spans, lex, emb)
  }

  def freshState(spark: SparkSession, root: String, centroids: Array[Array[Float]]): State = {
    val docs = VectorTable.create(spark, s"$root/docs")
    val hashes = VectorTable.create(spark, s"$root/hashes")
    val spans = VectorTable.create(spark, s"$root/spans")
    val lex = VectorTable.create(spark, s"$root/lex")
    val emb = VectorTable.create(spark, s"$root/emb")
    State(docs, hashes, spans, lex, emb,
      new AtomicReference(SpanIndex.build(spans, s"$root/spanindex")),
      new AtomicReference(LshIndex.build(lex, s"$root/lexindex")),
      new AtomicReference(IvfTableIndex.buildWith(emb, s"$root/index", centroids)))
  }

  def batches(spark: SparkSession, in: Input, rows: Int): IndexedSeq[DataFrame] = {
    import spark.implicits._
    in.rows.grouped(rows).map(b => b.toSeq.toDF("vec_id", "text", "embedding")).toIndexedSeq
  }

  final case class BatchRun(tag: String, ms: Double, counts: RefineryIngest.Counts, fromMs: Long,
                            toMs: Long, codegenNs: Long)

  /** Lands `bs` in order; each batch is one checked op. */
  def ingest(ctx: Ctx, st: State, in: Input, bs: IndexedSeq[DataFrame],
             label: String): IndexedSeq[BatchRun] =
    bs.indices.flatMap { b =>
      val docs0 = st.docs.length
      val emb0 = st.emb.length
      ctx.op(s"batch $b") { c =>
        val tag = s"$label batch:$b"
        ctx.tag(tag)
        val fromMs = System.currentTimeMillis()
        val cg0 = SparkProbe.codegenNs
        val t0 = Timing.now
        val counts = ctx.spans("refinery.appendRefined", b.toString)(
          RefineryIngest.appendRefined(st.docs, st.hashes, st.spans, st.lex, st.emb,
            st.spanIdx, st.lexIdx, st.idx, bs(b), in.evalIds, in.evalVecs,
            Pipeline.minQuality, Similarity.nearDupThreshold, streamBatchId = Some(b.toLong)))
        val ms = (Timing.now - t0) / 1e6
        val run = BatchRun(tag, ms, counts, fromMs, System.currentTimeMillis(), SparkProbe.codegenNs - cg0)
        ctx.tag(null)
        val dropped = counts.qualityDropped + counts.exactDropped + counts.spanDropped +
          counts.lexicalDropped + counts.contamDropped + counts.semanticDropped
        c.check(counts.input == math.min(BatchRows, in.rows.length - b * BatchRows),
          s"input ${counts.input}")
        c.check(counts.input == dropped + counts.landed, s"input != dropped + landed: $counts")
        c.check(st.docs.length - docs0 == counts.landed,
          s"docs grew ${st.docs.length - docs0}, landed ${counts.landed}")
        c.check(st.emb.length - emb0 == counts.landed,
          s"embeddings grew ${st.emb.length - emb0}, landed ${counts.landed}")
        run
      }
    }

  final case class Prepared(in: Input, bs: IndexedSeq[DataFrame], st: State, root: String)

  def batchCount(ctx: Ctx): Int = math.max(2, math.round(BatchesPerSecond * ctx.seconds).toInt)

  def configure(ctx: Ctx): Unit =
    ctx.config ++= Seq("batch_rows" -> BatchRows, "batches" -> batchCount(ctx),
      "eval_vectors" -> EvalVectors, "ivf_cells" -> Cells, "min_quality" -> Pipeline.minQuality,
      "semantic_threshold" -> Similarity.nearDupThreshold)

  /** Lands a throwaway stream of another seed into throwaway stores. */
  def warmUp(ctx: Ctx): Unit = {
    val warmIn = input(ctx.seed ^ 0x5bd1e995L, WarmBatches * BatchRows)
    val warmRoot = ctx.dir("stores/warm")
    ingest(ctx, freshState(ctx.spark, warmRoot, warmIn.centroids), warmIn,
      batches(ctx.spark, warmIn, BatchRows), "warmup")
    Timing.deleteTree(Paths.get(warmRoot))
  }

  /** The input stream of this run's seed and a fresh ingest state. */
  def prepare(ctx: Ctx, k: Int): Prepared = {
    val in = input(ctx.seed, batchCount(ctx) * BatchRows)
    val root = ctx.dir(s"stores/ingest$k")
    Prepared(in, batches(ctx.spark, in, BatchRows), freshState(ctx.spark, root, in.centroids), root)
  }

  /** Lands the stream; returns the batch runs and the ingest wall in s. */
  def timed(ctx: Ctx, p: Prepared): (IndexedSeq[BatchRun], Double) = {
    val runs = ingest(ctx, p.st, p.in, p.bs, "timed")
    (runs, runs.map(_.ms).sum / 1e3)
  }

  def report(ctx: Ctx, p: Prepared, runs: IndexedSeq[BatchRun], timedS: Double): Unit = {
    val batchMs = runs.map(_.ms)
    ctx.samples("batch_ms") = batchMs
    ctx.median("detail", "batch_p50_ms", batchMs, "ms")
    ctx.detailMetric("ingest_s", timedS, "s")
    ctx.detailMetric("ingest_docs_per_s", runs.map(_.counts.input).sum / timedS, "docs/s")

    val total = runs.map(_.counts).foldLeft(RefineryIngest.Counts.zero)(_ + _)
    ctx.layerMetric("refinery.dropped.quality", total.qualityDropped.toDouble, "count")
    ctx.layerMetric("refinery.dropped.exact", total.exactDropped.toDouble, "count")
    ctx.layerMetric("refinery.dropped.span", total.spanDropped.toDouble, "count")
    ctx.layerMetric("refinery.dropped.lexical", total.lexicalDropped.toDouble, "count")
    ctx.layerMetric("refinery.dropped.contam", total.contamDropped.toDouble, "count")
    ctx.layerMetric("refinery.dropped.semantic", total.semanticDropped.toDouble, "count")
    ctx.layerMetric("refinery.landed", total.landed.toDouble, "count")
    ctx.extra("counts") = total.productElementNames.zip(total.productIterator).toMap
    val st = p.st
    val roots = st.tables.map(t => Paths.get(t.root))
    ctx.layerMetric("core.table.versions", st.tables.map(_.versions.size).sum.toDouble, "count")
    ctx.layerMetric("core.table.batches", st.tables.map(_.manifest.batches.size).sum.toDouble, "count")
    ctx.layerMetric("core.table.files", roots.map(Timing.treeFiles(_, ".parquet")).sum.toDouble, "count")
    ctx.layerMetric("core.disk_mb", roots.map(Timing.treeBytes).sum / 1e6, "MB")
    ctx.probe.foreach { probe =>
      // the per-batch floor, split: medians over batches
      def per(name: String, unit: String)(f: BatchRun => Double): Unit =
        ctx.median("detail", name, runs.map(f), unit)
      def jobs(r: BatchRun) = probe.jobsWhere(_ == r.tag)
      per("refinery.batch_jobs", "count")(r => jobs(r).size.toDouble)
      per("refinery.batch_stages", "count")(r => probe.stageCount(jobs(r)).toDouble)
      per("refinery.batch_tasks", "count")(r => probe.taskAgg(jobs(r)).tasks.toDouble)
      per("refinery.plan_ms", "ms")(r => probe.queriesIn(r.fromMs, r.toMs).map(_.totalMs).sum.toDouble)
      per("refinery.codegen_ms", "ms")(_.codegenNs / 1e6)
      per("refinery.driver_uncovered_ms", "ms")(r => SparkProbe.uncoveredMs(r.fromMs, r.toMs, jobs(r)).toDouble)
      per("refinery.task_run_ms", "ms")(r => probe.taskAgg(jobs(r)).runMs.toDouble)
      per("refinery.task_cpu_ms", "ms")(r => probe.taskAgg(jobs(r)).cpuNs / 1e6)
    }
  }
}
