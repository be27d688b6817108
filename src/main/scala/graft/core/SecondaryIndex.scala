package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Secondary index over a [[VectorTable]] column: a (key → rowid) mapping
  * stored as its own range-partitioned, sorted parquet directory. Parquet
  * min/max stats on the sorted key play the role of a B-tree's inner
  * nodes: a lookup pushes `key = v` to the scan, file- and row-group-level
  * stats prune everything else, and the resulting rowids feed the store's
  * point-read paths (`getMany` → direct-parquet for small hit sets).
  *
  * The reference addresses records by rowid only; this is part of the
  * capability-gap mandate (SURVEY.md §2.5) — real serving workloads look
  * up by business key. Index builds are one range-shuffle of (key, rowid)
  * pairs — two slim columns, not the payload — and the index is versioned
  * by the table version it was built from, so staleness is detectable.
  */
final class SecondaryIndex private (
    val spark: SparkSession,
    val root: String,
    val keyCol: String,
    val builtFromVersion: Long,
    val indexedLength: Long,
    val indexedMask: Long = 0L,
    val indexedRestores: Long = 0L) {

  private lazy val df: DataFrame =
    spark.read.parquet(graft.operators.IndexCompaction.dataDir(root).toString)

  /** Rowids whose `keyCol` equals `value` (pushed-filter pruned scan). */
  def lookup(value: Any): Seq[Long] =
    df.where(col("k") === lit(value)).select("r").collect().map(_.getLong(0)).toSeq

  /** Rowids for a key range [lo, hi] — the sorted layout makes this a
    * contiguous file slice, same pruning as a rowid range read.
    */
  def lookupRange(lo: Any, hi: Any): Seq[Long] =
    df.where(col("k") >= lit(lo) && col("k") <= lit(hi))
      .select("r").collect().map(_.getLong(0)).toSeq

  /** True iff the table has committed batches past the index build. */
  def isStale(table: VectorTable): Boolean =
    table.manifest.version > builtFromVersion

  /** Incremental maintenance: index ONLY the rows appended since this
    * index was built (one pruned range read of the new rowid span — the
    * indexed prefix is append-only and immutable, so it is never
    * re-scanned), appended as additional sorted files; then apply any
    * takedown deletes the table committed since the last refresh
    * (round 16 — the index stores rowids directly, so the anti-join is
    * physically addressed by construction and upsert-safe: only the
    * masked rows' files rewrite, see
    * [[graft.operators.IndexCompaction.applyDeletesFiles]]). Returns the
    * refreshed handle; a no-op returns `this`.
    */
  def refresh(table: VectorTable): SecondaryIndex = {
    val m = table.manifest
    val cu = graft.operators.IndexCompaction.restoreCatchUp(spark, root, table, m,
      builtFromVersion, indexedLength, indexedMask, indexedRestores,
      rowidCol = "r")
    val effLen = cu.map(_.newLength).getOrElse(indexedLength)
    val effMask = cu.map(_.maskFloor).getOrElse(indexedMask)
    // staleness gates on the MONOTONIC tombstone total (maskCount +
    // purged, round-16 ADVICE): purge() resets maskCount, so raw equality
    // could silently skip delete propagation — see LshIndex.refresh
    val tomb = m.maskCount + m.purged
    if (cu.isEmpty && m.length <= effLen && tomb == effMask) return this
    import org.apache.spark.sql.functions.col
    if (m.length > effLen)
      table.span(effLen, m.length - effLen)
        .select(col(keyCol).as("k"), col(VectorTable.ROWID).as("r"))
        .sortWithinPartitions("k")
        .write.mode("append")
        .parquet(graft.operators.IndexCompaction.dataDir(root).toString)
    // a catch-up FORCES the delete pass (re-spanned masked rows scrub here)
    if (cu.isDefined || tomb != effMask) {
      val maskOnly = tomb >= effMask && tomb - effMask <= m.maskCount
      graft.operators.IndexCompaction.applyDeletesFiles(spark, root, "r",
        graft.operators.IndexCompaction.deletedKeys(table, VectorTable.ROWID, "r",
          () => spark.read.parquet(
            graft.operators.IndexCompaction.dataDir(root).toString).select("r"),
          maskOnly),
        sortWithin = Seq("k"))
    }
    SecondaryIndex.writeMeta(root, m.version, m.length, tomb, m.restores)
    new SecondaryIndex(spark, root, keyCol, m.version, m.length, tomb, m.restores)
  }
}

object SecondaryIndex {
  /** Build (or rebuild) the index for `table.keyCol` under `root`. */
  def build(table: VectorTable, keyCol: String, root: String,
            partitions: Int = 0): SecondaryIndex = {
    val m = table.manifest
    // LIVE rows only: rows already masked by upsert/delete never enter a
    // fresh index (the recorded mask keeps the refresh protocol aligned)
    val pairs = table.liveScan().select(col(keyCol).as("k"), col(VectorTable.ROWID).as("r"))
    val parts =
      if (partitions > 0) partitions
      else math.max(1, math.min(table.spark.sparkContext.defaultParallelism,
        (m.length / 4000000L + 1L).toInt))
    pairs.repartitionByRange(parts, col("k"))
      .sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$root/data")
    // a rebuild over a pointer-flipped layout must re-point at "data"
    graft.operators.IndexCompaction.publish(root, "data")
    writeMeta(root, m.version, m.length, m.maskCount + m.purged, m.restores)
    new SecondaryIndex(table.spark, root, keyCol, m.version, m.length,
      m.maskCount + m.purged, m.restores)
  }

  /** Open a previously built index. */
  def open(spark: SparkSession, root: String, keyCol: String): SecondaryIndex = {
    val lines = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "version.txt")).trim.linesIterator.toSeq
    val v = lines.head.toLong
    val len = lines.lift(1).map(_.toLong).getOrElse(0L)
    // pre-round-16 metadata has no mask line; pre-round-17 no restores
    val mask = lines.lift(2).map(_.toLong).getOrElse(0L)
    val restores = lines.lift(3).map(_.toLong).getOrElse(0L)
    new SecondaryIndex(spark, root, keyCol, v, len, mask, restores)
  }

  private[core] def writeMeta(root: String, version: Long, length: Long,
                              mask: Long = 0L, restores: Long = 0L): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "version.txt"),
      s"$version\n$length\n$mask\n$restores".getBytes("UTF-8"))
}
