package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{DerivedIndex, IndexCompaction, IndexMaintenance, IndexMeta}

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
    private[graft] val meta: IndexMeta) extends DerivedIndex {

  private lazy val df: DataFrame =
    spark.read.parquet(IndexCompaction.dataDir(root).toString)

  /** Rowids whose `keyCol` equals `value` (pushed-filter pruned scan). */
  def lookup(value: Any): Seq[Long] =
    df.where(col("k") === lit(value)).select("r").collect().map(_.getLong(0)).toSeq

  /** Rowids for a key range [lo, hi] — the sorted layout makes this a
    * contiguous file slice, same pruning as a rowid range read.
    */
  def lookupRange(lo: Any, hi: Any): Seq[Long] =
    df.where(col("k") >= lit(lo) && col("k") <= lit(hi))
      .select("r").collect().map(_.getLong(0)).toSeq

  /** Incremental maintenance ([[IndexMaintenance.refresh]]): index ONLY
    * the rows appended since, as additional sorted files, then apply the
    * takedown deletes committed since — the index stores rowids as `r`,
    * so the anti-join is physically addressed by construction. Returns the
    * refreshed handle; a no-op returns `this`.
    */
  def refresh(table: VectorTable): SecondaryIndex =
    IndexMaintenance.refresh(table, root, meta,
      () => spark.read.parquet(IndexCompaction.dataDir(root).toString),
      legacyKey = None, rowidCol = "r")(
      (start, count, _) =>
        table.span(start, count)
          .select(col(keyCol).as("k"), col(VectorTable.ROWID).as("r"))
          .sortWithinPartitions("k")
          .write.mode("append")
          .parquet(IndexCompaction.dataDir(root).toString),
      _.rewriteFiles(Seq("k")))
      .fold(this)(new SecondaryIndex(spark, root, keyCol, _))
}

object SecondaryIndex {
  /** Build (or rebuild) the index for `table.keyCol` under `root`. */
  def build(table: VectorTable, keyCol: String, root: String,
            partitions: Int = 0): SecondaryIndex =
    new SecondaryIndex(table.spark, root, keyCol, IndexMaintenance.build(table, root) { len =>
      // LIVE rows only: rows already masked by upsert/delete never enter a
      // fresh index (the recorded mask keeps the refresh protocol aligned)
      val pairs = table.liveScan().select(col(keyCol).as("k"), col(VectorTable.ROWID).as("r"))
      val parts =
        if (partitions > 0) partitions
        else math.max(1, math.min(table.spark.sparkContext.defaultParallelism,
          (len / 4000000L + 1L).toInt))
      pairs.repartitionByRange(parts, col("k"))
        .sortWithinPartitions("k")
        .write.mode("overwrite").parquet(s"$root/data")
      // a rebuild over a pointer-flipped layout must re-point at "data"
      IndexCompaction.publish(root, "data")
    })

  /** Open a previously built index. */
  def open(spark: SparkSession, root: String, keyCol: String): SecondaryIndex =
    new SecondaryIndex(spark, root, keyCol, IndexMaintenance.readMeta(root))
}
