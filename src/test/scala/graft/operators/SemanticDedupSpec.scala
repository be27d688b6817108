package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic dedup ([[Similarity.semanticDedup]]): the
  * keep/drop verdict frame is pinned against an in-test brute force —
  * pairwise cosine inside each IVF cell (the same index-order double fold
  * as the `cosine_f` kernel), driver union-find with min-label, keep ⇔
  * vec_id is its component's min. Plus the two structural invariants the
  * scaladoc claims: components never span cells (SemDeDup's recall bound
  * is also its scale bound), and exactly one member per cluster is kept.
  */
class SemanticDedupSpec extends SparkSpec {

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("verdicts ≡ brute-force within-cell components (min-id keep) at sf0.001") {
    val d = sf()
    val emb = graft.core.Tables.embeddings(spark, d)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val cellOf = Similarity.ivfAssign(spark, d)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

    // brute force: every within-cell pair, no blocking, no candidates
    val parent = scala.collection.mutable.Map.empty[Long, Long] ++
      emb.keys.map(k => k -> k)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    val ids = emb.keys.toSeq.sorted
    for (a <- ids; b <- ids if a < b && cellOf(a) == cellOf(b)
         if cos(emb(a), emb(b)) >= Similarity.nearDupThreshold) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = ids.map(i => (i, cellOf(i), find(i), find(i) == i)).toSet

    val got = Similarity.semanticDedup(spark, d)
      .select("vec_id", "cell", "cluster_id", "keep").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(want.exists(!_._4), "fixture has no semantic dups — test is vacuous")
    assert(got == want,
      s"semantic verdicts diverge: extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
  }

  test("delta semantic pairs ≡ brute-force within-cell pairs restricted to the delta") {
    val d = sf()
    val emb = graft.core.Tables.embeddings(spark, d)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val cellOf = Similarity.ivfAssign(spark, d)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cutoff = emb.keys.max / 2
    val ids = emb.keys.toSeq.sorted
    val want = (for {
      a <- ids; b <- ids
      if a < b && cellOf(a) == cellOf(b) && (a > cutoff || b > cutoff)
      s = cos(emb(a), emb(b)) if s >= Similarity.nearDupThreshold
    } yield (a, b, s)).toSet
    val got = Similarity.semanticDeltaPairs(spark, d)
      .select("id_a", "id_b", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty, "no delta-touching semantic pairs at sf0.001 — vacuous")
    assert(got == want,
      s"delta semantic pairs diverge: extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
  }

  test("delta semantic plan reads only persisted index rows — no embeddings table scan") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val df = Similarity.semanticDeltaPairs(spark, sf())
    val paths = df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation
    }.collect { case fs: HadoopFsRelation => fs }
      .flatMap(_.location.rootPaths.map(_.toString))
    assert(paths.nonEmpty)
    assert(paths.forall(_.contains("graft-ivf-indexes")),
      s"delta semantic plan scans outside the persisted index: $paths")
  }

  test("streamed-index delta face ≡ batch delta face (same stored-rows plan, stream-maintained)") {
    val d = sf()
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    val batch = rows(Similarity.semanticDeltaPairs(spark, d))
    val streamed = rows(Similarity.semanticDeltaPairsStreamed(spark, d))
    assert(batch.nonEmpty, "no delta pairs at sf0.001 — vacuous")
    assert(streamed == batch,
      s"streamed delta diverges: extra=${(streamed -- batch).take(5)} " +
        s"missing=${(batch -- streamed).take(5)}")
  }

  test("trained-centroid verdicts hold every structural invariant (measured, not assumed)") {
    val r = Similarity.semanticDedupTrained(spark, sf()).head()
    val (n, kept) = (r.getLong(0), r.getLong(1))
    assert(n > 0 && kept >= 1 && kept <= n, s"anchor kept count out of range: $kept of $n")
    assert((2 to 5).forall(r.getBoolean),
      s"a trained-verdict invariant failed: $r")
  }

  test("exact-vector collapse ≡ flat verdicts on a clique fixture (zero vectors stay singletons)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(8)(r.nextFloat() * 2f - 1f)
    }
    val clique = vec(1)
    val rows =
      (0L until 300L).map(i => (i, clique)) ++                    // exact clique
      (300L until 340L).map(i => (i, vec(rnd.nextInt(20) + 2))) ++ // small dup groups
      (400L until 420L).map(i => (i, vec(i.toInt + 1000))) ++      // singletons
      (500L until 503L).map(i => (i, Array.fill(8)(0f)))           // identical ZERO vectors
    val emb = rows.toDF("vec_id", "embedding")
    // 4-cell assignment that is a pure function of the vector (identical
    // vectors land together, like any real centroid assignment)
    val assign = emb.select(col("vec_id"),
      pmod(xxhash64(col("embedding")), lit(4L)).cast("int").as("cell"))
    def verdicts(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long, Boolean)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3))).toSet
    val flat = verdicts(Similarity.semanticVerdictsWith(assign, emb, mode = ExactSetCollapse.Flat))
    val collapsed = verdicts(Similarity.semanticVerdictsWith(assign, emb, mode = ExactSetCollapse.Forced))
    assert(flat.count(!_._4) >= 299, "fixture lost its clique structure")
    // zero vectors: NaN cosine pairs with nothing — all three stay kept singletons
    Seq(500L, 501L, 502L).foreach { z =>
      assert(collapsed.exists(v => v._1 == z && v._3 == z && v._4),
        s"zero vector $z was merged by the collapse")
    }
    assert(collapsed == flat,
      s"collapse diverges: extra=${(collapsed -- flat).take(5)} missing=${(flat -- collapsed).take(5)}")
  }

  test("components never span cells, and exactly one member per cluster is kept") {
    val rows = Similarity.semanticDedup(spark, sf())
      .select("vec_id", "cell", "cluster_id", "keep").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    val cellsPerCluster = rows.groupBy(_._3).view.mapValues(_.map(_._2).distinct.size)
    assert(cellsPerCluster.values.forall(_ == 1),
      s"a semantic cluster spans cells: ${cellsPerCluster.filter(_._2 > 1).take(3)}")
    rows.groupBy(_._3).foreach { case (cid, members) =>
      assert(members.count(_._4) == 1, s"cluster $cid keeps ${members.count(_._4)} members")
      assert(members.filter(_._4).head._1 == members.map(_._1).min,
        s"cluster $cid keeps a non-min representative")
    }
  }
}
