package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** The batch LLM-pipeline user: a fixed list of query faces plus the dedup
  * pair-graph build, each fully materialized, over a seeded key-offset
  * replica corpus. The list runs cold, then once warm in the same session.
  * The second half of the `llm_pipeline` workload (see [[LlmPipeline]]).
  */
object LlmBatch {
  val Faces: Seq[String] = Seq(
    "dedup_minhash_signatures", "dedup_lsh_candidates", "dedup_jaccard_verified",
    "dedup_exact_jaccard_join_collapsed", "dedup_containment", "pair_graph_build",
    "dedup_semantic_multiprobe", "knn_brute_force", "ann_ivf_search", "text_bpe_encode",
    "mm_decode_features")
  val BaseDocs = 600
  val Replicas = 2
  val WarmDocs = 100
  val FaceTimeoutS = 60

  /** Writes documents.parquet and embeddings.parquet of a corpus: `replicas`
    * key-offset copies of a seeded base of `baseDocs` documents and
    * `baseDocs * 2 / 5` embeddings.
    */
  def writeCorpus(spark: SparkSession, seed: Long, dir: String, baseDocs: Int, replicas: Int): Unit = {
    import spark.implicits._
    val docs = Gen.docs(seed, baseDocs)
    val embs = Gen.embeddings(seed, baseDocs * 2 / 5)
    val dStride = baseDocs.toLong
    val eStride = embs.length.toLong
    val allDocs = (0 until replicas).flatMap(r => docs.map(Gen.replicaDoc(_, r, dStride)))
      .map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
    val allEmbs = (0 until replicas).flatMap(r => embs.map(Gen.replicaEmbedding(_, r, eStride)))
    allDocs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    allEmbs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
  }

  /** The face as a materializing action; returns an order-independent
    * checksum of its rows (empty for the pair-graph build, which returns
    * nothing).
    */
  def runFace(spark: SparkSession, name: String, dir: String): String =
    if (name == "pair_graph_build") { graft.operators.Dedup.prebuildPairGraph(spark, dir); "" }
    else checksum(graft.SparkEntry.queries(name)(spark, dir))

  def checksum(df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(col("h").bitwiseAND(0x7fffffffL))).head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }

  final case class Pass(seconds: Seq[Double], sums: Seq[String], fromMs: Long, toMs: Long,
                        codegenNs: Long) {
    def totalS: Double = seconds.sum
  }

  /** One pass over all faces; each face is one checked op, cancelled after
    * [[FaceTimeoutS]].
    */
  def pass(ctx: Ctx, dir: String, label: String): Pass = {
    val sc = ctx.spark.sparkContext
    val fromMs = System.currentTimeMillis()
    val cg0 = SparkProbe.codegenNs
    val res = Faces.map { f =>
      val group = s"$label-$f"
      val timer = new java.util.Timer(true)
      timer.schedule(new java.util.TimerTask { def run(): Unit = sc.cancelJobGroup(group) },
        FaceTimeoutS * 1000L)
      sc.setJobGroup(group, group, interruptOnCancel = true)
      ctx.tag(group)
      val t0 = Timing.now
      val sum = ctx.op(s"$label $f")(_ => ctx.spans(s"face.$f", label)(runFace(ctx.spark, f, dir)))
      val s = Timing.secondsSince(t0)
      timer.cancel()
      sc.clearJobGroup()
      (s, sum.getOrElse("failed"))
    }
    ctx.tag(null)
    Pass(res.map(_._1), res.map(_._2), fromMs, System.currentTimeMillis(), SparkProbe.codegenNs - cg0)
  }

  def configure(ctx: Ctx): Unit =
    ctx.config ++= Seq("base_docs" -> BaseDocs, "base_embeddings" -> BaseDocs * 2 / 5,
      "replicas" -> Replicas, "faces" -> Faces)

  /** One pass over all faces on a small corpus of another seed. */
  def warmUp(ctx: Ctx): Unit = {
    val warmDir = ctx.dir("corpus/warm")
    writeCorpus(ctx.spark, ctx.seed ^ 0x5bd1e995L, warmDir, WarmDocs, 1)
    pass(ctx, warmDir, "warmup")
    Timing.deleteTree(Paths.get(warmDir))
  }

  /** Writes this run's corpus; returns its directory. */
  def prepare(ctx: Ctx, k: Int): String = {
    val dir = ctx.dir(s"corpus/c$k")
    writeCorpus(ctx.spark, ctx.seed, dir, BaseDocs, Replicas)
    dir
  }

  /** The cold pass, then one warm pass. */
  def timed(ctx: Ctx, dir: String): (Pass, Pass) = {
    val cold = pass(ctx, dir, "cold")
    (cold, pass(ctx, dir, "warm"))
  }

  def report(ctx: Ctx, cold: Pass, warm: Pass): Unit = {
    ctx.detailMetric("faces_cold_s", cold.totalS, "s")
    ctx.detailMetric("faces_warm_s", warm.totalS, "s")
    Faces.zip(cold.seconds).foreach { case (f, s) => ctx.layerMetric(s"face.$f.s", s, "s") }
    ctx.extra("checksums") = Faces.zip(cold.sums).toMap

    // --- checksums: equal across passes, and across runs of the same seed
    ctx.op("checksums cold = warm") { c =>
      Faces.indices.foreach { i =>
        c.check(warm.sums(i) == cold.sums(i), s"${Faces(i)}: cold ${cold.sums(i)} warm ${warm.sums(i)}")
      }
    }
    // Filed under the source stamp: a change to the generator or the engine
    // starts a fresh set instead of failing against the old one.
    ctx.op("checksums = earlier run of this seed") { c =>
      val key = s"llm_batch-${ctx.stamp.take(16)}-${ctx.seed}-$BaseDocs-$Replicas.txt"
      val f = ctx.runDir.getParent.getParent.resolve("checksums").resolve(key)
      val now = Faces.zip(cold.sums).map { case (n, s) => s"$n=$s" }.mkString("\n")
      if (Files.exists(f)) c.check(Files.readString(f) == now, s"checksums differ from $f")
      else if (!cold.sums.contains("failed")) {
        Files.createDirectories(f.getParent)
        Files.writeString(f, now)
      }
    }

    ctx.probe.foreach { p =>
      val warmJobs = p.jobsIn(warm.fromMs, warm.toMs)
      ctx.layerMetric("warm.jobs", warmJobs.size.toDouble, "count")
      ctx.layerMetric("warm.driver_uncovered_s",
        SparkProbe.uncoveredMs(warm.fromMs, warm.toMs, warmJobs) / 1e3, "s")
      val cj = p.jobsIn(cold.fromMs, cold.toMs)
      val ct = p.taskAgg(cj)
      val coldWallS = (cold.toMs - cold.fromMs) / 1e3
      ctx.detailMetric("faces.cold.jobs", cj.size.toDouble, "count")
      ctx.detailMetric("faces.cold.task_cpu_s", ct.cpuNs / 1e9, "s")
      ctx.detailMetric("faces.cold.driver_uncovered_s", SparkProbe.uncoveredMs(cold.fromMs, cold.toMs, cj) / 1e3, "s")
      ctx.detailMetric("faces.cold.data_share", ct.runMs / 1e3 / (ctx.cores * coldWallS), "ratio")
      ctx.detailMetric("faces.cold.codegen_s", cold.codegenNs / 1e9, "s")
    }
  }
}
