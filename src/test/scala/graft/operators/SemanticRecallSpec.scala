package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The semantic-dedup recall face ([[Similarity.semanticRecall]]) and the
  * boundary-recovery variant ([[Similarity.semanticDedupMultiprobe]]):
  * the cell-scope miss class must be REPORTED (recall < 1000 on a
  * boundary-straddling fixture), top-2 assignment must recover it, and
  * the multiprobe verdicts must only ever merge (never split) the
  * single-cell components.
  */
class SemanticRecallSpec extends SparkSpec {

  test("boundary-straddling pair: cell scope reports the miss, top2 recovers it") {
    import spark.implicits._
    // a–b straddle cells 0/1 at cosine ≈ 0.9; c–d sit together in cell 2.
    // No other pair crosses 0.35.
    val emb = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.44f)),
      (3L, Array(-1f, 0f)), (4L, Array(-0.9f, 0.44f)))
      .toDF("vec_id", "embedding")
    val assign = Seq((1L, 0), (2L, 1), (3L, 2), (4L, 2)).toDF("vec_id", "cell")
    val top2 = Seq(
      (1L, Some(0), Some(1)), (2L, Some(1), Some(0)),
      (3L, Some(2), None), (4L, Some(2), None))
      .toDF("vec_id", "c1", "c2")
    val r = Similarity.semanticRecallOf(assign, top2, emb, Seq(350))
      .collect().map(x => x.getString(0) ->
        (x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5))).toMap
    assert(r("cell") == ((2L, 1L, 1L, 500L)),
      s"cell scope must report the straddling miss: ${r("cell")}")
    assert(r("top2") == ((2L, 2L, 0L, 1000L)),
      s"top2 must recover the straddling pair: ${r("top2")}")
  }

  test("fused panel scoring ≡ broadcast-join formulation, bit-for-bit") {
    import spark.implicits._
    // Random corpus exercising every membership and NULL class the fused
    // panel must reproduce: zero-norm vectors (NaN sims), assign ids with
    // no embedding row (inner-join drops), ids with no top2 row, and
    // None c1/c2 (SQL null-equality in the top2_shared flag).
    val rnd = new scala.util.Random(421)
    val dim = 6
    val emb = (0L until 600L).filter(_ % 17 != 0).map { id =>
      val v =
        if (id % 23 == 0) Array.fill(dim)(0f) // zero-norm → NaN sim
        else Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
      (id, v)
    }.toDF("vec_id", "embedding")
    val assign = (0L until 600L).filter(_ % 13 != 0)
      .map(id => (id, (id % 5).toInt)).toDF("vec_id", "cell")
    val top2 = (0L until 600L).filter(_ % 11 != 0).map { id =>
      val c1 = if (id % 19 == 0) None else Some((id % 5).toInt)
      val c2 = if (id % 7 == 0) None else Some(((id + 1) % 5).toInt)
      (id, c1, c2)
    }.toDF("vec_id", "c1", "c2")
    val tauMin = 0.35

    // Reference: the broadcast-join formulation the panel replaced.
    val truthCand = Dedup.pairsFromBucketedRowsRaw(
      assign.select(lit(0).as("k"), col("vec_id").as("doc_id")),
      Seq("k"), Dedup.bucketExpandCap)
    val meta = assign.join(top2, Seq("vec_id"))
    val ref = truthCand
      .join(emb.select(col("vec_id").as("doc_a"), col("embedding").as("ea")), Seq("doc_a"))
      .join(emb.select(col("vec_id").as("doc_b"), col("embedding").as("eb")), Seq("doc_b"))
      .withColumn("sim", graft.functions.VectorFunctions.cosineF(col("ea"), col("eb")))
      .where(!isnan(col("sim")) && col("sim") >= lit(tauMin))
      .join(meta.select(col("vec_id").as("doc_a"), col("cell").as("ca"),
        col("c1").as("a1"), col("c2").as("a2")), Seq("doc_a"))
      .join(meta.select(col("vec_id").as("doc_b"), col("cell").as("cb"),
        col("c1").as("b1"), col("c2").as("b2")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sim"),
        (col("ca") === col("cb")).as("same_cell"),
        coalesce(
          (col("a1") === col("b1")) || (col("a1") === col("b2")) ||
            (col("a2") === col("b1")) || (col("a2") === col("b2")), lit(false))
          .as("top2_shared"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getBoolean(3), r.getBoolean(4)))
      .toMap

    // Fused: panel built exactly as semanticRecallOf builds it, pairs from
    // the panel id universe, scored in-stage.
    val panel = graft.functions.RecallPanel.fromRows(
      assign.join(top2, Seq("vec_id")).join(emb, Seq("vec_id"))
        .select(col("vec_id"), col("cell").cast("int"),
          col("c1").cast("int"), col("c2").cast("int"), col("embedding"))
        .collect())
    val fused = Similarity.panelPairs(spark, panel)
      .withColumn("r", graft.functions.VectorFunctions
        .recallPanelScoreF(col("doc_a"), col("doc_b"), panel))
      .where(!isnan(col("r.sim")) && col("r.sim") >= lit(tauMin))
      .select(col("doc_a"), col("doc_b"), col("r.sim"),
        col("r.same_cell"), col("r.top2_shared"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getBoolean(3), r.getBoolean(4)))
      .toMap

    assert(fused.size == ref.size && fused.nonEmpty,
      s"fused pair set ${fused.size} != joined ${ref.size} (or empty fixture)")
    fused.foreach { case (k, v) =>
      assert(ref.get(k).contains(v), s"pair $k: fused $v != joined ${ref.get(k)}")
    }
    // And the declared-shape face output itself is identical through both
    // bodies: semanticRecallOf (fused) vs counts recomputed from ref.
    val face = Similarity.semanticRecallOf(assign, top2, emb, Seq(350, 450))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    for (t <- Seq(350, 450); scope <- Seq("cell", "top2")) {
      val tau = t / 1000.0
      val hits = ref.values.filter(v => java.lang.Double.longBitsToDouble(v._1) >= tau)
      val nTrue = hits.size.toLong
      val found = hits.count(v => if (scope == "cell") v._2 else v._3).toLong
      val expect = (nTrue, found, nTrue - found,
        if (nTrue == 0L) 0L else 1000L * found / nTrue)
      assert(face((scope, t)) == expect, s"face($scope,$t) ${face((scope, t))} != $expect")
    }
  }

  test("corpus recall: top2 detects at least what the cell scope does") {
    val rows = Similarity.semanticRecall(spark, sf())
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
    Similarity.semanticRecallThresholds.foreach { t =>
      assert(rows(("top2", t)) >= rows(("cell", t)),
        s"top2 detected fewer pairs than single-cell at $t")
    }
  }

  test("recall panel ceiling: a corpus past 2 x recallSampleTarget x 1000 fails before any collect") {
    // the 1 permille floor keeps the panel at n/1000 rows past 5M vectors;
    // the face refuses once that would pass twice the sample target
    assert(Similarity.recallSamplePermille(Similarity.recallCorpusCeiling) == 1L)
    val e = intercept[IllegalArgumentException](Similarity.recallSamplePermille(10000001L))
    assert(e.getMessage.contains("10000001") && e.getMessage.contains("10000000"), e.getMessage)
  }

  test("multiprobe only merges: single-cell dropped set is preserved") {
    val single = Similarity.semanticDedup(spark, sf())
      .where(!col("keep")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val multi = Similarity.semanticDedupMultiprobe(spark, sf())
      .where(!col("keep")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(single.subsetOf(multi),
      s"multiprobe un-dropped ${(single -- multi).take(5)} — merging can only drop more")
    // structure: one keeper per cluster, keeper is the min id
    val v = Similarity.semanticDedupMultiprobe(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    v.groupBy(_._2).foreach { case (cid, ms) =>
      assert(ms.count(_._3) == 1, s"cluster $cid has ${ms.count(_._3)} keepers")
      assert(ms.filter(_._3).head._1 == ms.map(_._1).min && cid == ms.map(_._1).min)
    }
  }
}
