package graft.streaming

import graft.SparkSpec
import graft.operators.{IvfTableIndex, LshIndex, SpanIndex}
import org.apache.spark.sql.functions._

/** Adversarial batch shapes through the composed refinery gate
  * ([[RefineryIngest.appendRefined]]), each directly against crafted
  * tables rather than the memoized corpus landing:
  *   - a boilerplate batch (one text × N copies) lands exactly one row;
  *   - an all-contaminated batch (every vector ≥ threshold from an eval
  *     vector) lands nothing, with the drop charged to the right stage;
  *   - an all-low-quality batch lands nothing at the quality stage;
  *   - a replayed streamBatchId is a complete no-op;
  *   - a batch whose min id is at or below the hash store's max throws
  *     before any store grows;
  *   - cross-batch exact dedup suppresses a later copy of a doc the
  *     SEMANTIC stage dropped earlier (the hash store records quality
  *     survivors, not landed rows).
  */
@graft.SlowTest
class RefineryStressSpec extends SparkSpec {
  import spark.implicits._

  // high-quality text (distinct tokens → ttr 1.0, long tokens) that
  // clears minQuality = 0.5 comfortably
  private def goodText(tag: String) =
    s"alpha$tag bravo$tag charlie$tag delta$tag echo$tag foxtrot$tag"
  // degenerate text: one repeated stopword → ttr ≈ 0, stop_ratio 1
  private val badText = "the the the the the the the the"

  private def fused(rows: Seq[(Long, String, Array[Float])]) =
    rows.toDF("vec_id", "text", "embedding")

  private def freshStores(tag: String) = {
    val dir = tmpDir(s"refinery-$tag")
    val docs = graft.core.VectorTable.create(spark, s"$dir/docs")
    val hashes = graft.core.VectorTable.create(spark, s"$dir/hashes")
    val spans = graft.core.VectorTable.create(spark, s"$dir/spans")
    val lex = graft.core.VectorTable.create(spark, s"$dir/lex")
    val emb = graft.core.VectorTable.create(spark, s"$dir/emb")
    val spanIdx = new java.util.concurrent.atomic.AtomicReference(
      SpanIndex.build(spans, s"$dir/spanindex"))
    val lexIdx = new java.util.concurrent.atomic.AtomicReference(
      LshIndex.build(lex, s"$dir/lexindex"))
    val idx = new java.util.concurrent.atomic.AtomicReference(
      IvfTableIndex.buildWith(emb, s"$dir/index",
        Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f))))
    (docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx)
  }

  private val evalIds = Array(999L)
  private val evalVecs = Array(Array(0f, 0f, 1f))

  test("boilerplate batch: N exact copies land exactly one row") {
    val (docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx) = freshStores("clique")
    val rows = (0L until 50L).map(i => (i, goodText("x"), Array(1f, 0.1f * (i % 3), 0f)))
    val c = RefineryIngest.appendRefined(docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx,
      fused(rows), evalIds, evalVecs, graft.operators.Pipeline.minQuality,
      0.35, streamBatchId = Some(0L))
    assert(c.input == 50 && c.qualityDropped == 0)
    assert(c.exactDropped == 49, s"49 exact copies must drop: $c")
    assert(c.landed == 1 && docs.length == 1)
  }

  test("all-contaminated batch lands nothing, charged to the contamination stage") {
    val (docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx) = freshStores("contam")
    val rows = (0L until 10L).map(i => (i, goodText(i.toString), Array(0f, 0f, 1f + i * 0.1f)))
    val c = RefineryIngest.appendRefined(docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx,
      fused(rows), evalIds, evalVecs, graft.operators.Pipeline.minQuality,
      0.35, streamBatchId = Some(0L))
    assert(c.contamDropped == 10 && c.landed == 0, s"$c")
    assert(docs.length == 0 && emb.length == 0)
  }

  test("all-low-quality batch lands nothing at the quality stage") {
    val (docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx) = freshStores("lowq")
    val rows = (0L until 5L).map(i => (i, badText, Array(1f, 0f, 0f)))
    val c = RefineryIngest.appendRefined(docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx,
      fused(rows), evalIds, evalVecs, graft.operators.Pipeline.minQuality,
      0.35, streamBatchId = Some(0L))
    assert(c.qualityDropped == 5 && c.landed == 0, s"$c")
    assert(hashes.length == 0, "no quality survivor, no recorded hash")
  }

  test("replayed streamBatchId mutates nothing and recomputes the same counts") {
    val (docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx) = freshStores("replay")
    val rows = Seq((0L, goodText("a"), Array(1f, 0f, 0f)),
      (1L, goodText("b"), Array(0f, 1f, 0f)))
    val c1 = RefineryIngest.appendRefined(docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx,
      fused(rows), evalIds, evalVecs, graft.operators.Pipeline.minQuality,
      0.35, streamBatchId = Some(0L))
    assert(c1.landed == 2)
    // round-15 contract: every append self-guards on its own table's
    // streamBatch (no whole-function guard — a crash between the three
    // appends must re-execute only the uncommitted ones), and every stage
    // is replay-deterministic, so a full replay returns the SAME counts
    // while mutating nothing
    val c2 = RefineryIngest.appendRefined(docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx,
      fused(rows), evalIds, evalVecs, graft.operators.Pipeline.minQuality,
      0.35, streamBatchId = Some(0L))
    assert(c2 == c1, s"replay must recompute identical counts: $c2 vs $c1")
    assert(docs.length == 2 && emb.length == 2 && hashes.length == 2)
  }

  test("partial-commit replay (hash landed, emb/docs did not) recovers the kept rows") {
    // the round-15 ADVICE scenario: a stream restart after the hash append
    // committed but before the emb/docs appends — the replayed batch must
    // land the kept rows instead of silently returning and losing them
    val (docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx) = freshStores("partial")
    val b0 = Seq((0L, goodText("a"), Array(1f, 0f, 0f)))
    RefineryIngest.appendRefined(docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx, fused(b0),
      evalIds, evalVecs, graft.operators.Pipeline.minQuality, 0.35,
      streamBatchId = Some(0L))
    // simulate the crash: commit ONLY batch 1's hash rows (exactly what
    // stage 2 would have written — the min-id rep per content hash)
    val b1 = Seq((10L, goodText("p"), Array(0f, 1f, 0f)),
      (11L, goodText("q"), Array(1f, 0.02f, 0f)))
    hashes.append(
      fused(b1).select(col("vec_id"), md5(col("text")).as("content_hash")),
      streamBatchId = Some(1L))
    assert(hashes.manifest.streamBatch == 1L && emb.length == 1L)
    // the replay: hash append must no-op (no duplicate hash rows), the
    // emb/docs appends must execute, and the counts must equal what an
    // uninterrupted run would have reported
    val c = RefineryIngest.appendRefined(docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx, fused(b1),
      evalIds, evalVecs, graft.operators.Pipeline.minQuality, 0.35,
      streamBatchId = Some(1L))
    assert(c.input == 2 && c.qualityDropped == 0 && c.exactDropped == 0 &&
      c.contamDropped == 0, s"$c")
    // vec 11 is a semantic near-dup of landed vec 0 (cosine ≈ 1)
    assert(c.semanticDropped == 1 && c.landed == 1, s"$c")
    assert(hashes.length == 3, "no duplicate hash rows from the replay")
    assert(emb.length == 2 && docs.length == 2,
      "the kept row lands despite the pre-committed hash append")
    val landedIds = docs.scan().select("vec_id").collect().map(_.getLong(0)).toSet
    assert(landedIds == Set(0L, 10L))
  }

  test("boilerplate recombination drops at the span stage (round 15)") {
    val (docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx) = freshStores("spanstage")
    // long distinct-token boilerplate (clears quality; >> 40-char window)
    val boiler = (0 until 40).map(i => s"boilerword$i").mkString(" ")
    val b0 = Seq((0L, boiler, Array(1f, 0f, 0f)))
    val c0 = RefineryIngest.appendRefined(docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx,
      fused(b0), evalIds, evalVecs, graft.operators.Pipeline.minQuality,
      0.35, streamBatchId = Some(0L))
    assert(c0.landed == 1 && spans.length == 1)
    // batch 1: a RECOMBINATION — different text (new head), same long tail
    // of spans; orthogonal embedding so no later stage could catch it.
    // The head is 4 chars = one stride, keeping the shared windows on the
    // stride-4 sampling grid (an off-grid shift is invisible to strided
    // span sampling by design — recall is traded at the stride).
    val recombined = "zq1 " + boiler
    val b1 = Seq((10L, recombined, Array(0f, 1f, 0f)),
      (11L, (0 until 40).map(i => s"novelterm$i").mkString(" "), Array(0f, 0f, 0f)))
    val c1 = RefineryIngest.appendRefined(docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx,
      fused(b1), evalIds, evalVecs, graft.operators.Pipeline.minQuality,
      0.35, streamBatchId = Some(1L))
    assert(c1.spanDropped == 1, s"recombination must drop at the span stage: $c1")
    assert(c1.landed == 1, s"the novel doc lands: $c1")
    // the span store records SURVIVORS (novel doc), never the dropped one
    val spanDocs = spans.scan().select("doc_id").collect().map(_.getLong(0)).toSet
    assert(spanDocs == Set(0L, 11L))
  }

  test("off-grid recombination passes the span gate and drops at the LEXICAL stage (round 15)") {
    val (docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx) = freshStores("lexstage")
    val boiler = (0 until 40).map(i => s"boilerword$i").mkString(" ")
    val c0 = RefineryIngest.appendRefined(docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx,
      fused(Seq((0L, boiler, Array(1f, 0f, 0f)))),
      evalIds, evalVecs, graft.operators.Pipeline.minQuality,
      0.35, streamBatchId = Some(0L))
    assert(c0.landed == 1 && lex.length == 1)
    // a 3-char head shifts every shared 40-char window OFF the stride-4
    // sampling grid — invisible to the span gate by construction — while
    // the word-3-gram shingles are untouched by a character shift, so the
    // MinHash/Jaccard stage catches what the strided span gate cannot:
    // this pairing is the lexical stage's reason to exist in the chain
    val offGrid = "xq " + boiler
    val c1 = RefineryIngest.appendRefined(docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx,
      fused(Seq((10L, offGrid, Array(0f, 1f, 0f)))),
      evalIds, evalVecs, graft.operators.Pipeline.minQuality,
      0.35, streamBatchId = Some(1L))
    assert(c1.spanDropped == 0, s"off-grid shift must evade the span gate: $c1")
    assert(c1.lexicalDropped == 1 && c1.landed == 0,
      s"the lexical stage must catch it: $c1")
    // the lexical store records survivors only
    val lexDocs = lex.scan().select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lexDocs == Set(0L))
  }

  test("out-of-order arrival throws before any store grows") {
    val (docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx) = freshStores("order")
    RefineryIngest.appendRefined(docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx,
      fused(Seq((10L, goodText("a"), Array(1f, 0f, 0f)))),
      evalIds, evalVecs, graft.operators.Pipeline.minQuality,
      0.35, streamBatchId = Some(0L))
    val stores = Seq(docs, hashes, spans, lex, emb)
    val before = stores.map(_.length)
    assert(before == Seq(1L, 1L, 1L, 1L, 1L))
    // batch 2's min vec_id (5) is at or below the hash store's max (10)
    val e = intercept[IllegalArgumentException] {
      RefineryIngest.appendRefined(docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx,
        fused(Seq((5L, goodText("b"), Array(0f, 1f, 0f)),
          (12L, goodText("c"), Array(0f, 1f, 0f)))),
        evalIds, evalVecs, graft.operators.Pipeline.minQuality,
        0.35, streamBatchId = Some(1L))
    }
    assert(e.getMessage.contains("id-ordered arrival"), e.getMessage)
    assert(stores.map(_.length) == before, "no store may grow")
  }

  test("exact dedup suppresses a copy of a doc the semantic stage dropped") {
    val (docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx) = freshStores("crossbatch")
    // batch 0: two near-identical vectors with DISTINCT texts — semantic
    // stage keeps the smaller id, drops vec 1
    val b0 = Seq((0L, goodText("a"), Array(1f, 0f, 0f)),
      (1L, goodText("b"), Array(0.999f, 0.001f, 0f)))
    val c0 = RefineryIngest.appendRefined(docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx,
      fused(b0), evalIds, evalVecs, graft.operators.Pipeline.minQuality,
      0.35, streamBatchId = Some(0L))
    assert(c0.semanticDropped == 1 && c0.landed == 1, s"$c0")
    // batch 1: an exact TEXT copy of the semantically-dropped doc, with an
    // orthogonal embedding — must still drop at the EXACT stage (the hash
    // store saw doc 1 even though it never landed)
    val b1 = Seq((2L, goodText("b"), Array(0f, 1f, 0f)))
    val c1 = RefineryIngest.appendRefined(docs, hashes, spans, lex, emb, spanIdx, lexIdx, idx,
      fused(b1), evalIds, evalVecs, graft.operators.Pipeline.minQuality,
      0.35, streamBatchId = Some(1L))
    assert(c1.exactDropped == 1 && c1.landed == 0, s"$c1")
  }
}
