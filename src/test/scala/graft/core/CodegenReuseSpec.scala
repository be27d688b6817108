package graft.core

import graft.SparkSpec
import graft.operators.{IvfTableIndex, LshIndex, SpanIndex}
import graft.streaming.RefineryIngest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Generated code compiles once per JVM and stays compiled:
  *   - the session's codegen cache holds more than Spark's 100-entry
  *     default, so a query's classes survive a flood of other plans;
  *   - refinery micro-batches read their per-batch bounds through
  *     `BatchParam`, so once the plan shapes have been seen a batch
  *     compiles nothing, with the same counts and landed ids as before;
  *   - the session carries the committed cache cap and status-retention
  *     limits.
  * Compiles are counted as misses of Spark's JVM-wide codegen cache.
  */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  private def compiles(f: => Unit): Long = {
    val c0 = Bridge.compiledClasses
    f
    Bridge.compiledClasses - c0
  }

  test("a query's classes survive 300 other generated plans") {
    def queryA(): Unit = spark.range(2000)
      .selectExpr("id % 7919 AS k", "id * 7907 AS v")
      .groupBy("k").agg(sum("v"), max("v")).collect()
    assert(compiles(queryA()) > 0, "query A must compile on its first run")
    val flood = compiles((1 to 300).foreach(i => spark.range(4).selectExpr(s"id * $i + 7901 AS v").collect()))
    assert(flood >= 300, s"every flood plan compiles its own class: $flood")
    assert(compiles(queryA()) == 0, "query A's classes were evicted by the flood")
  }

  // Five batches; from batch 1 on every gate drops a row in every batch,
  // so each stage's plan sees the same empty and non-empty inputs from
  // batch to batch: a low-quality text, an exact copy of an earlier
  // batch's text, a span recombination and an off-grid (lexical) near-copy
  // of a batch-0 boilerplate, a contaminated vector, and semantic
  // near-duplicates of a row in the same batch and of a landed row of the
  // batch before. Embeddings are 64-d axes, so no other pair is similar.
  private val dim = 64
  private def axis(a: Int, tilt: Float = 0f): Array[Float] =
    Array.tabulate(dim)(j => if (j == a) 1f else if (j == (a + 1) % dim) tilt else 0f)
  private def goodText(tag: String) =
    s"alpha$tag bravo$tag charlie$tag delta$tag echo$tag foxtrot$tag"
  private def words(stem: String) = (0 until 40).map(i => s"$stem$i").mkString(" ")
  private val boiler = words("boilerword")
  private val lexA = words("lexaword")
  private val lexB = words("lexbword")
  // off-grid heads: 3, 5 and 6 chars put each copy on its own residue of
  // the stride-4 span grid, so the span gate misses it and the lexical
  // gate catches it; batch 4 starts over on the second base
  private val lexCopy = Map(1 -> ("x1 " + lexA), 2 -> ("xx22 " + lexA),
    3 -> ("xxx33 " + lexA), 4 -> ("x4 " + lexB))

  private def batch(k: Int): Seq[(Long, String, Array[Float])] = {
    val id0 = 100L * k
    val fresh = (0 until 6).map(i => (id0 + i, goodText(s"k${k}i$i"), axis(6 * k + i + 2)))
    val every = Seq(
      (id0 + 6, "the the the the the the the the", axis(40)),
      (id0 + 7, goodText(s"c$k"), axis(dim - 1, 0.05f)),
      (id0 + 8, goodText(s"n$k"), axis(6 * k + 2, 0.05f)))
    val seeded =
      if (k == 0) Seq((id0 + 9, boiler, axis(41)), (id0 + 10, lexA, axis(42)),
        (id0 + 11, lexB, axis(43)))
      else Seq(
        (id0 + 9, s"zq$k " + boiler, axis(44 + k)),
        (id0 + 10, lexCopy(k), axis(50 + k)),
        (id0 + 11, goodText(s"k${k - 1}i1"), axis(56 + k)),
        (id0 + 12, goodText(s"m$k"), axis(6 * (k - 1) + 4, 0.05f)))
    fresh ++ every ++ seeded
  }

  // Counts and landed ids of these five batches on the engine before the
  // per-batch bounds became BatchParams (literal bounds).
  private val expectedCounts = RefineryIngest.Counts(12L, 1L, 0L, 0L, 0L, 1L, 1L, 9L) +:
    Seq.fill(4)(RefineryIngest.Counts(13L, 1L, 1L, 1L, 1L, 1L, 2L, 6L))
  private val expectedLanded = Seq(0L, 1L, 2L, 3L, 4L, 5L, 9L, 10L, 11L) ++
    (1 to 4).flatMap(k => (0 until 6).map(i => 100L * k + i))

  test("refinery batches 3 and later compile nothing; counts and landed ids unchanged") {
    val dir = tmpDir("codegen-reuse")
    val docs = VectorTable.create(spark, s"$dir/docs")
    val hashes = VectorTable.create(spark, s"$dir/hashes")
    val spans = VectorTable.create(spark, s"$dir/spans")
    val lex = VectorTable.create(spark, s"$dir/lex")
    val emb = VectorTable.create(spark, s"$dir/emb")
    val spanIdx = new java.util.concurrent.atomic.AtomicReference(SpanIndex.build(spans, s"$dir/spanindex"))
    val lexIdx = new java.util.concurrent.atomic.AtomicReference(LshIndex.build(lex, s"$dir/lexindex"))
    val idx = new java.util.concurrent.atomic.AtomicReference(
      IvfTableIndex.buildWith(emb, s"$dir/index", Array(axis(0), axis(1))))
    val evalIds = Array(999L)
    val evalVecs = Array(axis(dim - 1))
    // AQE off for these batches: its re-planning depends on which query
    // stage finishes first (which side of a join between two tiny inputs
    // becomes the broadcast), so with it on a batch can meet a new join
    // variant, and compile it once, at any point. Off, a batch's plans are
    // a function of the code and the data alone, which is what this pins.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val runs = try (0 until 5).map { k =>
      var c = RefineryIngest.Counts.zero
      val n = compiles {
        c = RefineryIngest.appendRefined(docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx,
          batch(k).toDF("vec_id", "text", "embedding"), evalIds, evalVecs,
          graft.operators.Pipeline.minQuality, 0.35, streamBatchId = Some(k.toLong))
      }
      (c, n)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val landed = docs.scan().select("vec_id").as[Long].collect().sorted.toSeq
    val perBatch = runs.map(_._2)
    info(s"classes compiled per batch: ${perBatch.mkString(", ")}")
    assert(runs.map(_._1) == expectedCounts, s"counts (compiles per batch $perBatch)")
    assert(landed == expectedLanded, s"landed ids")
    assert(perBatch.drop(3).forall(_ == 0L), s"compiles per batch: $perBatch")
  }

  test("the session holds the committed codegen cap and status-retention limits") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024")
    val conf = spark.sparkContext.getConf
    Seq("spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions")
      .foreach(k => assert(conf.get(k) == "50", k))
  }
}
