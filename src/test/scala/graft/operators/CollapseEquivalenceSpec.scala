package graft.operators

import graft.SparkSpec
import graft.operators.ExactSetCollapse.{Adaptive, Flat, Forced, Mode}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

/** The exact-set collapse ([[ExactSetCollapse]]) in every family that runs
  * through it. Each family's output is a function of CONTENT-DERIVED state
  * alone (shingle set, MinHash signature vector, stored band rows, SimHash
  * value, embedding), so running the kernel on one representative per
  * distinct key and rebuilding doc-level rows must be ROW-FOR-ROW the flat
  * kernel's. One table, two checks per family: `Adaptive` on a clique
  * fixture (maxGroup past bucketExpandCap, dup mass far above the HLL
  * pre-gate, so the collapse branch fires) equals `Flat`, and `Forced` on a
  * clean fixture (below every threshold) equals `Flat`.
  */
class CollapseEquivalenceSpec extends SparkSpec {

  /** A fixture frame and the delta boundary the delta families split it at. */
  private case class Fixture(rows: DataFrame, cutoff: Long)

  /** 300-copy boilerplate clique (past bucketExpandCap = 256) + a 40-copy
    * near-dup group of the same page + distinct background docs — the
    * web-crawl pathology, small enough for an in-test flat reference. The
    * cutoff splits the clique: 251 old copies, 49 new + the near group.
    */
  private lazy val cliqueDocs: Fixture = {
    import spark.implicits._
    val page = "the quick brown fox jumps over the lazy dog again and again"
    val near = "the quick brown fox jumps over the lazy dog again and AGAIN"
    val rnd = new scala.util.Random(1212)
    val background = (0 until 60).map { i =>
      (1000L + i, (0 until 8).map(_ => s"w${rnd.nextInt(400)}").mkString(" "))
    }
    Fixture(((0L until 300L).map(i => (i, page)) ++
      (500L until 540L).map(i => (i, near)) ++ background)
      .toDF("doc_id", "text"), 250L)
  }

  private lazy val cleanDocs: Fixture = {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    Fixture((0L until 80L).map { i =>
      (i, (0 until 10).map(_ => s"t${rnd.nextInt(300)}").mkString(" "))
    }.toDF("doc_id", "text"), 40L)
  }

  private def vec(seed: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(8)(r.nextFloat() * 2f - 1f)
  }

  /** 300-copy vector clique, small dup groups, singletons and identical
    * ZERO vectors (which must stay singletons: their cosine is NaN).
    */
  private lazy val cliqueEmb: Fixture = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    Fixture(((0L until 300L).map(i => (i, vec(1))) ++
      (300L until 340L).map(i => (i, vec(rnd.nextInt(20) + 2))) ++
      (400L until 420L).map(i => (i, vec(i.toInt + 1000))) ++
      (500L until 503L).map(i => (i, Array.fill(8)(0f))))
      .toDF("vec_id", "embedding"), 0L)
  }

  private lazy val cleanEmb: Fixture = {
    import spark.implicits._
    Fixture((0L until 80L).map(i => (i, vec(i.toInt + 5000))).toDF("vec_id", "embedding"), 0L)
  }

  private def signatures(f: Fixture, k: Int): DataFrame =
    Dedup.signaturesOfK(f.rows, k).localCheckpoint()

  private def shFrame(f: Fixture): DataFrame = f.rows
    .select(col("doc_id"), graft.functions.TextFunctions.shingleHashes(col("text")).as("sh"))
    .where(org.apache.spark.sql.functions.size(col("sh")) > 0)
    .localCheckpoint()

  private def simhash64(f: Fixture): DataFrame = f.rows
    .select(col("doc_id"), graft.functions.TextFunctions.simhash64(col("text")).as("simhash"))
    .localCheckpoint()

  private val cliquePairs = 300 * 299 / 2

  private def touchingOnly(rows: Seq[Row], cutoff: Long): Unit = {
    assert(rows.nonEmpty && rows.forall(r => r.getLong(0) > cutoff || r.getLong(1) > cutoff))
    // the old-old clique half must NOT appear (delta discipline): old
    // copies pair with the new ones but never with each other
    assert(!rows.exists(r => r.getLong(0) <= cutoff && r.getLong(1) <= cutoff))
  }

  /** One family: its entry under a mode, a check that the clique fixture
    * kept its structure (run on the flat rows), and its fixtures.
    */
  private case class Family(adaptiveTest: String, forcedTest: String,
                            entry: (Fixture, Mode) => DataFrame,
                            cliqueShape: (Seq[Row], Fixture) => Unit,
                            clique: () => Fixture = () => cliqueDocs,
                            clean: () => Fixture = () => cleanDocs)

  private val families = Seq(
    Family("MinHash banding: adaptive (collapse branch on the clique fixture) ≡ flat kernel",
      "MinHash banding: forced collapse body ≡ flat on a below-threshold fixture",
      (f, m) => Dedup.bandedPairsAdaptive(signatures(f, Dedup.numHashes), Dedup.bandsOf,
        Seq("band", "h1", "h2"), mode = m),
      (rows, _) => assert(rows.size >= cliquePairs, s"fixture lost its clique: ${rows.size} pairs")),
    Family("MinHash banding at (k=12, 4, 3): adaptive ≡ flat on the clique fixture",
      "MinHash banding at (k=12, 4, 3): forced collapse ≡ flat on a below-threshold fixture",
      (f, m) => Dedup.bandedPairsAdaptive(signatures(f, 12), Dedup.bandsOfK(_, 4, 3),
        Seq("band", "bkey"), mode = m),
      (rows, _) => assert(rows.size >= cliquePairs)),
    Family("delta banding: adaptive (collapse branch) ≡ flat, delta-touching contract kept",
      "delta banding: forced collapse ≡ flat on a below-threshold fixture",
      (f, m) => Dedup.deltaCandidatesFromBands(Dedup.bandRowsOf(f.rows).localCheckpoint(),
        f.cutoff, mode = m),
      (rows, f) => touchingOnly(rows, f.cutoff)),
    Family("SimHash (64-bit): adaptive (collapse branch) ≡ flat, hamming carried verbatim",
      "SimHash: forced collapse body ≡ flat on a below-threshold fixture",
      (f, m) => Dedup.simhashNearDupPairsWith(simhash64(f), 64, mode = m),
      (rows, _) => assert(rows.count(_.getInt(2) == 0) >= cliquePairs,
        "fixture lost its hamming-0 clique")),
    Family("delta SimHash: adaptive (collapse branch) ≡ flat, delta-touching contract kept",
      "delta SimHash: forced collapse ≡ flat on a below-threshold fixture",
      (f, m) => Dedup.deltaSimhashCandidates(simhash64(f), f.cutoff, mode = m),
      (rows, f) => {
        touchingOnly(rows, f.cutoff)
        // every old copy (0..250) pairs with every new one (251..299)
        assert(rows.size >= 251 * 49, "fixture lost its delta-clique structure")
      }),
    Family("containment join: adaptive (collapse branch on the clique fixture) ≡ flat",
      "containment join: forced collapse body ≡ flat on a below-threshold fixture",
      (f, m) => Dedup.containmentJoinOf(shFrame(f), mode = m),
      (rows, _) => assert(rows.count(r => r.getLong(2) == r.getLong(3)) >= cliquePairs,
        "fixture lost its containment-1 clique")),
    Family("exact Jaccard join: fingerprint-keyed adaptive entry ≡ flat on the clique fixture",
      "exact Jaccard join: forced collapse ≡ flat on a below-threshold fixture",
      (f, m) => Dedup.exactJaccardJoinOf(shFrame(f), mode = m),
      (rows, _) => assert(rows.count(_.getDouble(4) == 1.0) >= cliquePairs, "clique pairs missing")),
    Family("semantic verdicts: adaptive (collapse branch on the clique fixture) ≡ flat",
      "semantic verdicts: forced collapse ≡ flat on a below-threshold fixture",
      // a 4-cell assignment that is a pure function of the vector
      // (identical vectors land together, like any centroid assignment)
      (f, m) => Similarity.semanticVerdictsWith(
        f.rows.select(col("vec_id"), pmod(xxhash64(col("embedding")), lit(4L)).cast("int").as("cell")),
        f.rows, mode = m),
      (rows, _) => {
        assert(rows.count(!_.getBoolean(3)) >= 299, "fixture lost its clique structure")
        // zero vectors: NaN cosine pairs with nothing — all three stay kept singletons
        Seq(500L, 501L, 502L).foreach { z =>
          assert(rows.exists(r => r.getLong(0) == z && r.getLong(2) == z && r.getBoolean(3)))
        }
      },
      clique = () => cliqueEmb, clean = () => cleanEmb))

  /** Rows as a sorted multiset, so a duplicated row is a difference too. */
  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def assertSameRows(got: Seq[Row], flat: Seq[Row], what: String): Unit =
    assert(got == flat,
      s"$what diverges from flat: extra=${got.diff(flat).take(5)} missing=${flat.diff(got).take(5)}")

  families.foreach { fam =>
    test(fam.adaptiveTest) {
      val f = fam.clique()
      val flat = rows(fam.entry(f, Flat))
      fam.cliqueShape(flat, f)
      assertSameRows(rows(fam.entry(f, Adaptive)), flat, "adaptive collapse")
    }
    test(fam.forcedTest) {
      val f = fam.clean()
      val flat = rows(fam.entry(f, Flat))
      assertSameRows(rows(fam.entry(f, Forced)), flat, "forced collapse")
    }
  }

  test("pre-gate: clean corpus skips stats (flat), dup-heavy corpus does not") {
    val cleanSig = signatures(cleanDocs, Dedup.numHashes)
    assert(ExactSetCollapse.lowDupPreGate(cleanSig,
      xxhash64(cleanSig.columns.filter(_ != "doc_id").map(col): _*)))
    val dupSig = signatures(cliqueDocs, Dedup.numHashes)
    assert(!ExactSetCollapse.lowDupPreGate(dupSig,
      xxhash64(dupSig.columns.filter(_ != "doc_id").map(col): _*)))
    // empty frame: gate says flat instead of throwing
    assert(ExactSetCollapse.lowDupPreGate(cleanSig.where(col("doc_id") < 0),
      xxhash64(col("doc_id"))))
  }
}
