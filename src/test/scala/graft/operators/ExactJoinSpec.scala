package graft.operators

import graft.SparkSpec

/** The exact prefix-filtered join and the MinHash/LSH pipeline share the
  * same similarity measure (hashed word-3-gram shingle sets, τ = 1/2), so
  * containment is a theorem: LSH can only MISS pairs, never add them.
  * This spec measures the approximate path's recall against the exact one
  * — the measurement a pipeline owner runs before trusting LSH at scale.
  */
class ExactJoinSpec extends SparkSpec {

  test("LSH-verified pairs are a subset of the exact join; recall is reported") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.exactJaccardJoin(spark, sf()))
    val lsh = pairs(Dedup.jaccardVerifiedPairs(spark, sf()))
    assert(exact.nonEmpty, "expected qualifying pairs at sf0.001")
    val leaked = lsh -- exact
    assert(leaked.isEmpty, s"LSH 'verified' pairs missing from the exact join: $leaked")
    val recall = lsh.size.toDouble / exact.size.toDouble
    info(f"LSH recall vs exact join: ${lsh.size}/${exact.size} = $recall%.3f")
    assert(recall > 0.5, s"LSH recall unexpectedly low: $recall")
  }

  test("PPJoin length+positional filters prune candidates without losing a qualifying pair") {
    val docs = graft.core.Tables.documents(spark, sf())
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.TextFunctions.shingleHashes(
          org.apache.spark.sql.functions.col("text")).as("sh"))
      .where(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("sh")) > 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unfiltered = pairs(Dedup.exactJaccardCandidatesOf(docs, ppFilters = false))
    val filtered = pairs(Dedup.exactJaccardCandidatesOf(docs, ppFilters = true))
    val qualifying = pairs(Dedup.exactJaccardJoin(spark, sf()))
    assert(filtered.subsetOf(unfiltered))
    assert(qualifying.subsetOf(filtered),
      s"PPJoin filters dropped qualifying pairs: ${(qualifying -- filtered).take(5)}")
    info(s"candidates: ${unfiltered.size} unfiltered -> ${filtered.size} after PPJoin " +
      s"length+positional filters (${qualifying.size} qualify)")
  }

  test("property: prefix filter is lossless on random corpora (vs in-test brute force)") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    (1 to 5).foreach { round =>
      // random set sizes and a small universe force heavy overlap — the
      // adversarial regime where a broken prefix bound would drop pairs
      val universe = 20 + rnd.nextInt(60)
      val corpus = (0L until (20 + rnd.nextInt(30)).toLong).map { id =>
        val n = 1 + rnd.nextInt(12)
        (id, rnd.shuffle((1L to universe.toLong).toList).take(n).sorted.toArray)
      }
      val got = Dedup.exactJaccardJoinOf(corpus.toDF("doc_id", "sh"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
      val want = (for {
        (a, sa) <- corpus; (b, sb) <- corpus if a < b
        inter = sa.intersect(sb).length.toLong
        uni = sa.length + sb.length - inter
        if inter * Dedup.exactTauDen >= uni * Dedup.exactTauNum
      } yield ((a, b), (inter, uni))).toMap
      assert(got == want,
        s"round $round (universe=$universe): engine=${got.size} pairs, brute=${want.size}; " +
          s"missing=${(want.keySet -- got.keySet).take(5)}, extra=${(got.keySet -- want.keySet).take(5)}")
    }
  }

  test("exact-set collapse: dup-heavy corpus (copy cliques + near-dup groups) ≡ brute force") {
    import spark.implicits._
    // three exact-copy groups (sizes 40, 25, 3), two of which are near-dups
    // of EACH OTHER (J = 9/11 ≥ τ — the cross-group expansion must emit
    // every member pair), plus distinct background docs
    val setA = (1L to 10L).toArray
    val setB = (1L to 10L).toArray.filterNot(_ == 10L) :+ 11L // |A∩B|=9, uni=11
    val setC = Array(100L, 101L, 102L)
    val rnd = new scala.util.Random(7)
    val corpus =
      (0L until 40L).map(i => (i, setA)) ++
        (100L until 125L).map(i => (i, setB.sorted)) ++
        (200L until 203L).map(i => (i, setC)) ++
        (300L until 320L).map { i =>
          (i, rnd.shuffle((1000L to 1100L).toList).take(5 + rnd.nextInt(6)).sorted.toArray)
        }
    // forced collapse: the fixture's max group (40) sits below
    // bucketExpandCap and its intra-pair budget (≈12.3/doc) below the
    // collapsePairBudgetPerDoc, so the adaptive entry would take the flat
    // branch — forcing the collapse keeps the equivalence proof on the
    // path the decision rule reserves for clique-shaped corpora
    val got = Dedup.exactJaccardJoinOf(corpus.toDF("doc_id", "sh"), mode = ExactSetCollapse.Forced)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    val want = (for {
      (a, sa) <- corpus; (b, sb) <- corpus if a < b
      inter = sa.intersect(sb).length.toLong
      uni = sa.length + sb.length - inter
      if inter * Dedup.exactTauDen >= uni * Dedup.exactTauNum
    } yield ((a, b), (inter, uni))).toMap
    // sanity on the fixture itself: intra-clique + cross-clique pairs exist
    assert(want.size >= 40 * 39 / 2 + 25 * 24 / 2 + 3 + 40 * 25,
      s"fixture lost its structure: ${want.size} brute-force pairs")
    assert(got == want,
      s"collapse diverges: engine=${got.size}, brute=${want.size}; " +
        s"missing=${(want.keySet -- got.keySet).take(5)}, extra=${(got.keySet -- want.keySet).take(5)}")
    // and the adaptive entry (flat branch on this fixture) agrees too
    val adaptive = Dedup.exactJaccardJoinOf(corpus.toDF("doc_id", "sh"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(adaptive == want, s"adaptive (flat) diverges: ${adaptive.size} vs ${want.size}")
  }

  test("collapse decision keys on duplication SHAPE, not duplicate mass") {
    // clique past the blocked-slice cap: collapse regardless of mass
    assert(ExactSetCollapse.shouldCollapse(n = 15000L, maxGroup = 10000L, intraPairs = 49995000L))
    // the sf1 replica corpus shape: 90% dup mass, 10-member groups,
    // 4.5 intra pairs/doc — measured flat 5.8 s vs collapsed 10.5 s
    assert(!ExactSetCollapse.shouldCollapse(n = 61220L, maxGroup = 10L, intraPairs = 275490L))
    // deep but sub-cap groups whose pair mass dwarfs linear work: a
    // corpus of 100-member boilerplate groups (49.5 intra pairs/doc)
    assert(ExactSetCollapse.shouldCollapse(n = 100000L, maxGroup = 100L, intraPairs = 4950000L))
    // clean corpora: nothing to collapse
    assert(!ExactSetCollapse.shouldCollapse(n = 5000L, maxGroup = 2L, intraPairs = 8L))
  }
}

/** The tuning report must agree with the production bandings: its
  * (6, 3, 2) row IS the production LSH configuration and its (12, 4, 3)
  * row IS the declared k=12 face, and the candidate counts must be
  * monotone along the k=6 refinement chain (6,1) ⊇ (3,2) ⊇ (2,3) ⊇ (1,6)
  * — sharing a wider band implies sharing every sub-band.
  */
class LshTuningSpec extends graft.SparkSpec {
  test("production rows match; k=6 chain is monotone; S-curve sane") {
    val rows = Dedup.lshTuning(spark, sf())
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), (r.getLong(3), r.getLong(4))))
      .toMap
    assert(rows.keySet == Dedup.lshTuningConfigs.toSet)
    val production = Dedup.lshCandidatePairs(spark, sf()).count()
    assert(rows((6, 3, 2))._1 == production,
      s"(6,3,2) tuning row ${rows((6, 3, 2))._1} != production banding $production")
    val productionK12 = Dedup.lshCandidatePairsK12(spark, sf()).count()
    assert(rows((12, 4, 3))._1 == productionK12,
      s"(12,4,3) tuning row ${rows((12, 4, 3))._1} != k12 banding $productionK12")
    val productionK64 = Dedup.lshCandidatePairsK64(spark, sf()).count()
    assert(rows((64, 16, 4))._1 == productionK64,
      s"(64,16,4) tuning row ${rows((64, 16, 4))._1} != k64 banding $productionK64")
    val chain = Seq((6, 6, 1), (6, 3, 2), (6, 2, 3), (6, 1, 6)).map(rows(_)._1)
    assert(chain == chain.sorted.reverse, s"candidate counts not monotone: $chain")
    val probs = Seq((6, 6, 1), (6, 3, 2), (6, 2, 3), (6, 1, 6)).map(rows(_)._2)
    assert(probs == probs.sorted.reverse, s"S-curve not monotone: $probs")
    assert(probs.head == 984375L, // 1 - (1/2)^6 at (6,1)
      s"analytic P(candidate | J=1/2) at (6,1) expected 984375, got ${probs.head}")
  }
}
