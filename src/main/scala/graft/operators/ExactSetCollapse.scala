package graft.operators

import graft.core.Memo
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ADAPTIVE EXACT-SET COLLAPSE — the one branch protocol of the seven
  * exact-duplicate-aware dedup paths (MinHash banding, delta banding,
  * SimHash pairs, delta SimHash, containment join, exact Jaccard join,
  * semantic verdicts). Documents with identical content-derived state
  * (shingle set, signature vector, SimHash value, embedding) have
  * identical pair relationships, so a family can run its flat kernel on
  * ONE REPRESENTATIVE per distinct key and rebuild the doc-level answer:
  *
  *  - intra-group pairs (identical state ⇒ the family's "identical"
  *    payload: J = 1, containment 1, hamming 0) expand through the
  *    blocked kernel keyed on the group id — each pair lives in exactly
  *    ONE group, so the stream is unique by construction and skips the
  *    dedup exchange entirely (a 10⁴-copy clique's C(10⁴,2) pairs never
  *    touch an aggregation);
  *  - cross-group rep pairs carry a payload every member pair shares
  *    verbatim; two streaming membership joins expand them (never an
  *    |A|·|B| array in one row).
  *
  * Group state is row-shaped throughout: metadata is one `(key..., gid =
  * min doc_id, gsize)` row per DISTINCT key — the key is either a small
  * value (SimHash) or the 128-bit two-family fingerprint
  * [[Dedup.fpKeyed]], so group/membership exchanges carry 16 bytes, not
  * the corpus's shingle mass — and membership is one `(gid, doc_id,
  * gsize)` row per document: no row ever holds a whole group.
  *
  * Prefix/candidate/reduction work scales with DISTINCT keys, not
  * documents, while the emitted rows are exactly the flat kernel's
  * (CollapseEquivalenceSpec pins every family, adaptive on a clique and
  * forced on a clean corpus, against its flat branch; the
  * `dedup_exact_jaccard_join_collapsed` face pins the forced path against
  * the all-pairs oracle).
  *
  * The branch is a pure PLAN choice, like AQE's. [[lowDupPreGate]] (one
  * cheap HLL aggregate) skips the group-stats exchange entirely on
  * low-duplication inputs; past the gate, [[shouldCollapse]] decides from
  * the group stats, on the statistic that actually predicts the win —
  * duplication SHAPE, not duplicate mass:
  *
  *  - `maxGroup > bucketExpandCap`: one clique no longer fits a single
  *    blocked slice, so the flat kernel would spend ⌈g/cap⌉² slices on
  *    one page (the dup_heavy probe's 10⁴-copy clique: flat candidate
  *    stage 772 s, collapsed join 26.5 s — PLANS.md round-11);
  *  - `intraPairs > collapsePairBudgetPerDoc·n`: exact-dup pair mass
  *    the flat join would individually verify, per document of linear
  *    work. The sf1 replica corpus (90% dup MASS but only 4.5 intra
  *    pairs/doc in 10-member groups) measured flat 5.8 s vs collapsed
  *    10.5 s — dup mass alone is the wrong signal; the budget keeps
  *    shallow replication on the flat path and fires only when
  *    verification work on exact-dup cliques dwarfs corpus-linear cost.
  */
private[graft] object ExactSetCollapse {

  /** Which branch a family entry takes. */
  sealed trait Mode
  /** Pre-gate, then group stats, then [[shouldCollapse]]. */
  case object Adaptive extends Mode
  /** The collapse branch unconditionally — pins it below the threshold. */
  case object Forced extends Mode
  /** The flat kernel unconditionally — the reference the collapse equals. */
  case object Flat extends Mode

  /** Cheap duplication PRE-GATE: ONE aggregate pass over the collapse
    * group key — map-side HLL++ (deterministic) + a count, exchanged as
    * sketches, never rows. est_distinct/n at or above 95% means duplicate
    * mass sits below the gate's resolution, so the adaptive branch skips
    * the exact group-stats exchange entirely and stays flat.
    *
    * Documented limitation: a clique that is a vanishing fraction of a
    * huge corpus hides below HLL resolution and keeps the flat plan. That
    * is the regime where the clique's blocked-slice work is noise against
    * corpus-linear cost anyway — the collapse's 29× win (PLANS.md
    * round-11) needs duplication MASS, which is exactly what HLL sees.
    */
  private val lowDupGatePermille = 950L

  private[operators] def lowDupPreGate(keyed: DataFrame, key: Column): Boolean = {
    val r = keyed.agg(count(lit(1)).as("n"),
      approx_count_distinct(key, 0.02).as("nd")).head()
    val n = r.getLong(0)
    n == 0L || 1000L * r.getLong(1) >= lowDupGatePermille * n
  }

  val collapsePairBudgetPerDoc = 32L

  private[operators] def shouldCollapse(n: Long, maxGroup: Long, intraPairs: Long): Boolean =
    maxGroup > Dedup.bucketExpandCap || intraPairs > collapsePairBudgetPerDoc * n

  /** One (key..., gid = min doc_id, gsize) row per distinct group key. */
  private def groupFrame(keyed: DataFrame, keyCols: Seq[String]): DataFrame =
    keyed.groupBy(keyCols.map(col): _*)
      .agg(min(col("doc_id")).as("gid"), count(lit(1)).as("gsize"))

  /** (n, maxGroup, intraPairs) — coalesced so an empty frame decides
    * "flat" instead of throwing.
    */
  private def groupShapeStats(groups: DataFrame): (Long, Long, Long) = {
    val r = groups.agg(
      coalesce(sum(col("gsize")), lit(0L)),
      coalesce(max(col("gsize")), lit(0L)),
      coalesce(sum(col("gsize") * (col("gsize") - lit(1L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2) / 2L)
  }

  /** The collapse branch's materialized group state: `groups` holds one
    * (key..., gid, gsize) row per distinct key, `membership` one (gid,
    * doc_id, gsize) row per document.
    */
  final case class Groups(groups: DataFrame, membership: DataFrame) {
    /** Representative ids (gid IS a doc_id) as a `doc_id` column. */
    def reps: DataFrame = groups.select(col("gid").as("doc_id"))

    /** The groups holding a document above `cutoff` — the only groups a
      * delta face's pairs can come from (materialized: the family bands
      * their reps and [[expand]] draws their intra pairs from it).
      */
    def touching(cutoff: Long): Touching = Touching(cutoff,
      membership.where(col("doc_id") > cutoff).select(col("gid")).distinct().localCheckpoint())

    /** Doc-level pairs from the rep-level kernel's `repPairs`: intra pairs
      * of every multi-member group, given the family's identical-content
      * payload by `intra`, plus every rep pair lifted to its members with
      * `crossCols` carried verbatim. The two streams are disjoint
      * (same-group vs cross-group), so the union needs no reduction. With
      * `touching`, only pairs with a document above its cutoff are kept.
      */
    def expand(repPairs: DataFrame, crossCols: Seq[String],
               intra: DataFrame => DataFrame = identity,
               touching: Option[Touching] = None): DataFrame = {
      val members = touching.fold(membership)(t => membership.join(t.gids, Seq("gid"), "left_semi"))
      val intraPairs = Dedup.pairsFromBucketedRowsRaw(
        members.where(col("gsize") > 1).select(col("gid"), col("doc_id")),
        Seq("gid"), Dedup.bucketExpandCap)
      val cross = repPairs
        .join(membership.select(col("gid").as("doc_a"), col("doc_id").as("da")), Seq("doc_a"))
        .join(membership.select(col("gid").as("doc_b"), col("doc_id").as("db")), Seq("doc_b"))
      def touched(df: DataFrame, a: String, b: String): DataFrame =
        touching.fold(df)(t => df.where(col(a) > t.cutoff || col(b) > t.cutoff))
      intra(touched(intraPairs, "doc_a", "doc_b")).unionAll(
        touched(cross, "da", "db")
          .select(Seq(least(col("da"), col("db")).as("doc_a"),
            greatest(col("da"), col("db")).as("doc_b")) ++ crossCols.map(col): _*))
    }
  }

  /** The groups ([[Groups.touching]]) a delta face's pairs come from. */
  final case class Touching(cutoff: Long, gids: DataFrame) {
    def reps: DataFrame = gids.select(col("gid").as("doc_id"))
  }

  /** Run one family: `flat` is its kernel over every document; `collapsed`
    * runs the kernel on the representatives of the [[Groups]] and expands.
    * `Adaptive` first asks [[lowDupPreGate]] over `gateCol` of `gateRows`
    * (session-memoized under `pre-gate:<gateKey>` when the input is a
    * write-once fixture — the key names the INPUT, never the face), then
    * groups `keyed` (doc_id plus `keyCols`) and decides by
    * [[shouldCollapse]]. `keyed` is evaluated at most once, and only when
    * the branch needs it.
    */
  def run(mode: Mode, gateKey: Option[String], gateRows: DataFrame, gateCol: Column,
          keyed: => DataFrame, keyCols: Seq[String])(flat: => DataFrame)(
      collapsed: Groups => DataFrame): DataFrame = {
    def materialized(k: DataFrame, groups: DataFrame): Groups = {
      val g = groups.localCheckpoint()
      Groups(g, k.join(g, keyCols).select(col("gid"), col("doc_id"), col("gsize")).localCheckpoint())
    }
    mode match {
      case Flat => flat
      case Forced =>
        val k = keyed
        collapsed(materialized(k, groupFrame(k, keyCols)))
      case Adaptive =>
        def gate = lowDupPreGate(gateRows, gateCol)
        val lowDup = gateKey.fold(gate)(key => Memo.session(gateRows.sparkSession, s"pre-gate:$key")(gate))
        if (lowDup) flat
        else {
          val k = keyed
          val groups = groupFrame(k, keyCols)
          val (n, maxg, intra) = groupShapeStats(groups)
          if (shouldCollapse(n, maxg, intra)) collapsed(materialized(k, groups)) else flat
        }
    }
  }
}
