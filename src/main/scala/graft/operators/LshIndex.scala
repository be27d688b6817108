package graft.operators

import graft.core.VectorTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH band index over a documents [[VectorTable]], with
  * INCREMENTAL maintenance: signatures are computed once at ingest time,
  * stored as (doc_id, band, h1, h2) bucket rows, and a refresh after new
  * appends signature-hashes ONLY the appended rowid span (a manifest-pruned
  * range read — the indexed prefix is immutable and never re-scanned).
  *
  * This moves the dominant cost of near-dup detection (shingling + hashing
  * the corpus) out of the query path: candidate pairs become one
  * aggregation over stored slim rows. At 100 TB re-hashing the corpus per
  * dedup run is the difference between hours and the minutes the bucket
  * aggregation takes; incremental refresh is what makes a continuously-fed
  * corpus indexable at all. Maintained like every derived index
  * ([[IndexMaintenance]]).
  *
  * Losslessness is oracle-gated: the `dedup_lsh_index_candidates` query
  * reads pairs from an index built in two stages (build + refresh) and
  * must hash-match DuckDB recomputing everything from raw text.
  */
final class LshIndex private (
    val spark: SparkSession,
    val root: String,
    private[graft] val meta: IndexMeta) extends DerivedIndex {

  /** The stored band rows (doc_id, band, h1, h2). */
  def bands: DataFrame =
    spark.read.parquet(IndexCompaction.dataDir(root).toString)

  /** Candidate pairs from the INDEX — one aggregation on the bucket key,
    * no signature recomputation (see [[Dedup.pairsFromBands]]).
    */
  def candidatePairs(): DataFrame = Dedup.pairsFromBands(bands)

  /** Index only the appended span and apply the deletes committed since
    * ([[IndexMaintenance.refresh]]); a no-op returns `this`.
    */
  def refresh(table: VectorTable): LshIndex =
    IndexMaintenance.refresh(table, root, meta, () => bands, legacyKey = Some("doc_id"))(
      LshIndex.writeSpan(table, _, _, root, _), _.rewriteFiles(LshIndex.sortKey))
      .fold(this)(new LshIndex(spark, root, _))

  /** In-place [[IndexCompaction]] over the accumulated refresh files,
    * keeping the sorted bucket-key layout — rows, meta and candidate
    * pairs identical by construction.
    */
  def compact(): LshIndex = {
    IndexCompaction.compact(spark, root, sortWithin = LshIndex.sortKey)
    this
  }
}

object LshIndex {

  private val sortKey = Seq("band", "h1", "h2")

  /** Build the index over the table's current contents. */
  def build(table: VectorTable, root: String): LshIndex =
    new LshIndex(table.spark, root, IndexMaintenance.build(table, root) { len =>
      if (len > 0) writeSpan(table, 0L, len, root, withRowid = true)
      else {
        // an EMPTY index must still be readable before its first refresh
        // (round-12 ADVICE contract, same as SimHashIndex.build) — the LSH
        // ingest gate builds over an empty table and bands batch 0 against
        // the empty committed side
        import table.spark.implicits._
        IndexMaintenance.appendRows(Seq.empty[(Long, Long, Int, Long, Long)]
          .toDF("doc_id", VectorTable.ROWID, "band", "h1", "h2"), root, withRowid = true)
      }
    })

  /** Open a previously built index (throws if absent). */
  def open(spark: SparkSession, root: String): LshIndex =
    new LshIndex(spark, root, IndexMaintenance.readMeta(root))

  private def writeSpan(table: VectorTable, start: Long, count: Long, root: String,
                        withRowid: Boolean): Unit = {
    // `_rowid` rides through signatures → bands so every stored band row
    // addresses its physical source row (takedown deletes by rowid)
    val slice = table.span(start, count)
      .select(col(VectorTable.ROWID), col("doc_id"), col("text"))
    // sorted bucket-key layout keeps file stats tight for bucket-range
    // scans; at cluster scale this directory would also be hive-
    // partitioned by band
    IndexMaintenance.appendRows(
      Dedup.bandsOf(Dedup.signaturesOf(slice)).sortWithinPartitions(sortKey.map(col): _*),
      root, withRowid)
  }
}
