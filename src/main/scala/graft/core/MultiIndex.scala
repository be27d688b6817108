package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{DerivedIndex, IndexCompaction, IndexMaintenance, IndexMeta}

/** Composite (multi-column) secondary index over a [[VectorTable]]: the
  * key tuple is stored sorted lexicographically by the key columns, so the
  * layout behaves like a composite B-tree — parquet min/max stats prune
  * hard on the LEADING column, and within those files on the next, etc.
  * Lookups therefore support the classic composite-index shapes:
  * equality on a key-column prefix, and prefix equality + range on the
  * next column. Resolved rowids feed the store's point-read paths exactly
  * like [[SecondaryIndex]] (whose single-column form this generalizes);
  * incremental refresh appends only the rowid span committed since the
  * index was built.
  */
final class MultiIndex private (
    val spark: SparkSession,
    val root: String,
    private[graft] val meta: IndexMeta) extends DerivedIndex {

  /** The key columns, in index order (stored with the meta). */
  def keyCols: Seq[String] = meta.keys

  private lazy val df: DataFrame =
    spark.read.parquet(IndexCompaction.dataDir(root).toString)

  private def kcol(i: Int): Column = col(s"k$i")

  /** Rowids matching equality on the first `values.size` key columns (a
    * leading prefix — the only shape the sorted layout serves
    * efficiently, as with any composite index).
    */
  def lookup(values: Seq[Any]): Seq[Long] = {
    require(values.nonEmpty && values.size <= keyCols.size,
      s"lookup takes 1..${keyCols.size} leading key values")
    val pred = values.zipWithIndex.map { case (v, i) => kcol(i) === lit(v) }.reduce(_ && _)
    df.where(pred).select("r").collect().map(_.getLong(0)).toSeq
  }

  /** Prefix equality plus an inclusive range on the NEXT key column. */
  def lookupPrefixRange(prefix: Seq[Any], lo: Any, hi: Any): Seq[Long] = {
    require(prefix.size < keyCols.size, "range column must be within the key")
    val eq = prefix.zipWithIndex.map { case (v, i) => kcol(i) === lit(v) }
    val rc = kcol(prefix.size)
    val pred = (eq :+ (rc >= lit(lo)) :+ (rc <= lit(hi))).reduce(_ && _)
    df.where(pred).select("r").collect().map(_.getLong(0)).toSeq
  }

  /** Index only the appended span ([[IndexMaintenance.refresh]]); the
    * indexed prefix is immutable and never re-scanned. Takedown deletes
    * committed since apply by ROWID (`r`) anti-join on exactly the
    * affected files. Returns the refreshed handle (no-op → `this`).
    */
  def refresh(table: VectorTable): MultiIndex =
    IndexMaintenance.refresh(table, root, meta,
      () => spark.read.parquet(IndexCompaction.dataDir(root).toString),
      legacyKey = None, rowidCol = "r")(
      (start, count, _) =>
        MultiIndex.writeRows(table.span(start, count), spark, keyCols, count, root, append = true),
      _.rewriteFiles(keyCols.indices.map(i => s"k$i")))
      .fold(this)(new MultiIndex(spark, root, _))
}

object MultiIndex {

  /** Build the composite index for `keyCols` under `root`. */
  def build(table: VectorTable, keyCols: Seq[String], root: String): MultiIndex = {
    require(keyCols.nonEmpty)
    new MultiIndex(table.spark, root, IndexMaintenance.build(table, root, keyCols) { len =>
      // LIVE rows only: rows already masked by upsert/delete never enter a
      // fresh index (the recorded mask keeps the refresh protocol aligned)
      if (len > 0)
        writeRows(table.liveScan(), table.spark, keyCols, len, root, append = false)
      // a rebuild over a pointer-flipped layout must re-point at "data"
      IndexCompaction.publish(root, "data")
    })
  }

  /** Open a previously built index (key columns come from the metadata). */
  def open(spark: SparkSession, root: String): MultiIndex =
    new MultiIndex(spark, root, IndexMaintenance.readMeta(root))

  private def writeRows(rows: DataFrame,
                        spark: SparkSession, keyCols: Seq[String],
                        count: Long, root: String, append: Boolean): Unit = {
    val slim = rows.select(
      keyCols.zipWithIndex.map { case (c, i) => col(c).as(s"k$i") } :+
        col(VectorTable.ROWID).as("r"): _*)
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (count / 4000000L + 1L).toInt))
    slim
      .repartitionByRange(parts, keyCols.indices.map(i => col(s"k$i")): _*)
      .sortWithinPartitions(keyCols.indices.map(i => col(s"k$i")): _*)
      .write.mode(if (append) "append" else "overwrite")
      .parquet(if (append) IndexCompaction.dataDir(root).toString else s"$root/data")
  }
}
