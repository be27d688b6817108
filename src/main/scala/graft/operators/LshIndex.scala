package graft.operators

import graft.core.VectorTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

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
  * corpus indexable at all. Same maintenance discipline as
  * [[graft.core.SecondaryIndex]] (version + length metadata, staleness
  * check, append-only index files).
  *
  * Losslessness is oracle-gated: the `dedup_lsh_index_candidates` query
  * reads pairs from an index built in two stages (build + refresh) and
  * must hash-match DuckDB recomputing everything from raw text.
  */
final class LshIndex private (
    val spark: SparkSession,
    val root: String,
    val builtFromVersion: Long,
    val indexedLength: Long,
    val indexedMask: Long = 0L,
    val indexedRestores: Long = 0L) {

  /** The stored band rows (doc_id, band, h1, h2). */
  def bands: DataFrame =
    spark.read.parquet(IndexCompaction.dataDir(root).toString)

  /** Candidate pairs from the INDEX — one aggregation on the bucket key,
    * no signature recomputation (see [[Dedup.pairsFromBands]]).
    */
  def candidatePairs(): DataFrame = Dedup.pairsFromBands(bands)

  /** True iff the table has committed batches past the index build. */
  def isStale(table: VectorTable): Boolean =
    table.manifest.version > builtFromVersion

  /** Index only the appended span [indexedLength, len); returns the
    * refreshed handle (a no-op returns `this`).
    *
    * Takedown propagation anti-joins on `_rowid` (round-16 ADVICE): the
    * mask holds every row ever superseded, including rows `upsertBy`
    * replaced — anti-joining by doc_id would also delete the LIVE
    * replacement's band rows the span write just added (they share the
    * key). Physical-row addressing deletes exactly the masked rows; a
    * legacy layout without `_rowid` stays legacy (spans keep the legacy
    * shape — probing AFTER an append would leave a mixed schema whose old
    * rows read `_rowid` as NULL and dodge the anti-join, round-16 ADVICE),
    * falls back to doc_id addressing, and must not be refreshed over an
    * upserted table.
    *
    * Staleness gates on the MONOTONIC tombstone total (maskCount + purged,
    * round-16 ADVICE): [[VectorTable.purge]] resets maskCount, so raw
    * equality could silently skip delete propagation once later deletes
    * grow the count back. A purge moves tombstones between the two terms
    * without changing the sum, so a consumed-then-purged mask stays quiet;
    * if the drift EXCEEDS the current mask, a purge erased masks this
    * index never consumed and [[IndexCompaction.deletedKeys]] reconciles
    * against physical existence.
    */
  def refresh(table: VectorTable): LshIndex = {
    val m = table.manifest
    val cu = IndexCompaction.restoreCatchUp(spark, root, table, m,
      builtFromVersion, indexedLength, indexedMask, indexedRestores)
    val effLen = cu.map(_.newLength).getOrElse(indexedLength)
    val effMask = cu.map(_.maskFloor).getOrElse(indexedMask)
    val tomb = m.maskCount + m.purged
    if (cu.isEmpty && m.length <= effLen && tomb == effMask) return this
    val legacy = IndexCompaction.hasParquet(IndexCompaction.dataDir(root)) &&
      !IndexCompaction.liveHasColumn(spark, root, VectorTable.ROWID)
    if (m.length > effLen)
      LshIndex.writeSpan(table, effLen, m.length - effLen, root,
        withRowid = !legacy)
    // a catch-up FORCES the delete pass: the re-spanned range re-included
    // currently-masked rows (range() is unfiltered), which it scrubs
    if (cu.isDefined || tomb != effMask) {
      val maskOnly = tomb >= effMask && tomb - effMask <= m.maskCount
      val key = if (legacy) "doc_id" else VectorTable.ROWID
      IndexCompaction.applyDeletesFiles(spark, root, key,
        IndexCompaction.deletedKeys(table, key, key, () => bands.select(key), maskOnly),
        sortWithin = Seq("band", "h1", "h2"))
    }
    IndexCompaction.writeMeta(root, m.version, m.length, tomb, m.restores)
    new LshIndex(spark, root, m.version, m.length, tomb, m.restores)
  }

  /** In-place [[IndexCompaction]] over the accumulated refresh files,
    * keeping the sorted bucket-key layout — rows, meta and candidate
    * pairs identical by construction.
    */
  def compact(): LshIndex = {
    IndexCompaction.compact(spark, root, sortWithin = Seq("band", "h1", "h2"))
    this
  }
}

object LshIndex {

  /** Build the index over the table's current contents. */
  def build(table: VectorTable, root: String): LshIndex = {
    val m = table.manifest
    Files.createDirectories(Paths.get(root))
    if (m.length > 0) writeSpan(table, 0L, m.length, root, withRowid = true)
    else {
      // an EMPTY index must still be readable before its first refresh
      // (round-12 ADVICE contract, same as SimHashIndex.build) — the LSH
      // ingest gate builds over an empty table and bands batch 0 against
      // the empty committed side
      import table.spark.implicits._
      Seq.empty[(Long, Long, Int, Long, Long)]
        .toDF("doc_id", VectorTable.ROWID, "band", "h1", "h2")
        .write.mode("append").parquet(IndexCompaction.dataDir(root).toString)
    }
    IndexCompaction.writeMeta(root, m.version, m.length, m.maskCount + m.purged, m.restores)
    new LshIndex(table.spark, root, m.version, m.length,
      m.maskCount + m.purged, m.restores)
  }

  /** Open a previously built index (throws if absent). */
  def open(spark: SparkSession, root: String): LshIndex = {
    // meta is "version,length" (pre-round-15), "version,length,mask", or
    // "version,length,mask,restores" (round 17)
    val parts = Files.readString(Paths.get(root, "meta.txt")).trim.split(",")
    val mask = if (parts.length > 2) parts(2).toLong else 0L
    val restores = if (parts.length > 3) parts(3).toLong else 0L
    new LshIndex(spark, root, parts(0).toLong, parts(1).toLong, mask, restores)
  }

  private def writeSpan(table: VectorTable, start: Long, count: Long, root: String,
                        withRowid: Boolean): Unit = {
    // `_rowid` rides through signatures → bands so every stored band row
    // addresses its physical source row (takedown deletes by rowid);
    // spans appended into a pre-round-16 layout DROP it so the layout
    // stays schema-homogeneous (see refresh's legacy probe)
    val slice = table.range(start, count)
      .select(col(VectorTable.ROWID), col("doc_id"), col("text"))
    val rows = Dedup.bandsOf(Dedup.signaturesOf(slice))
    (if (withRowid) rows else rows.drop(VectorTable.ROWID))
      // sorted bucket-key layout keeps file stats tight for bucket-range
      // scans; at cluster scale this directory would also be hive-
      // partitioned by band
      .sortWithinPartitions("band", "h1", "h2")
      .write.mode("append").parquet(IndexCompaction.dataDir(root).toString)
  }
}
