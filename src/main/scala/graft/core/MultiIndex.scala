package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

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
    val keyCols: Seq[String],
    val builtFromVersion: Long,
    val indexedLength: Long,
    val indexedMask: Long = 0L,
    val indexedRestores: Long = 0L) {

  private lazy val df: DataFrame =
    spark.read.parquet(graft.operators.IndexCompaction.dataDir(root).toString)

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

  /** True iff the table has committed batches past the index build. */
  def isStale(table: VectorTable): Boolean =
    table.manifest.version > builtFromVersion

  /** Index only the appended span; the indexed prefix is immutable and
    * never re-scanned. Takedown deletes committed since the last refresh
    * apply by ROWID anti-join on exactly the affected files (round 16 —
    * the index stores rowids, so propagation is physically addressed and
    * upsert-safe). Returns the refreshed handle (no-op → `this`).
    */
  def refresh(table: VectorTable): MultiIndex = {
    val m = table.manifest
    val cu = graft.operators.IndexCompaction.restoreCatchUp(spark, root, table, m,
      builtFromVersion, indexedLength, indexedMask, indexedRestores,
      rowidCol = "r")
    val effLen = cu.map(_.newLength).getOrElse(indexedLength)
    val effMask = cu.map(_.maskFloor).getOrElse(indexedMask)
    // monotonic tombstone-total gate (round-16 ADVICE) — see
    // SecondaryIndex.refresh / LshIndex.refresh
    val tomb = m.maskCount + m.purged
    if (cu.isEmpty && m.length <= effLen && tomb == effMask) return this
    if (m.length > effLen)
      MultiIndex.writeSpan(table, keyCols, effLen, m.length - effLen, root, append = true)
    // a catch-up FORCES the delete pass (re-spanned masked rows scrub here)
    if (cu.isDefined || tomb != effMask) {
      val maskOnly = tomb >= effMask && tomb - effMask <= m.maskCount
      graft.operators.IndexCompaction.applyDeletesFiles(spark, root, "r",
        graft.operators.IndexCompaction.deletedKeys(table, VectorTable.ROWID, "r",
          () => spark.read.parquet(
            graft.operators.IndexCompaction.dataDir(root).toString).select("r"),
          maskOnly),
        sortWithin = keyCols.indices.map(i => s"k$i"))
    }
    MultiIndex.writeMeta(root, keyCols, m.version, m.length, tomb, m.restores)
    new MultiIndex(spark, root, keyCols, m.version, m.length, tomb, m.restores)
  }
}

object MultiIndex {

  /** Build the composite index for `keyCols` under `root`. */
  def build(table: VectorTable, keyCols: Seq[String], root: String): MultiIndex = {
    require(keyCols.nonEmpty)
    val m = table.manifest
    Files.createDirectories(Paths.get(root))
    // LIVE rows only: rows already masked by upsert/delete never enter a
    // fresh index (the recorded mask keeps the refresh protocol aligned)
    if (m.length > 0)
      writeRows(table.liveScan(), table.spark, keyCols, m.length, root, append = false)
    // a rebuild over a pointer-flipped layout must re-point at "data"
    graft.operators.IndexCompaction.publish(root, "data")
    writeMeta(root, keyCols, m.version, m.length, m.maskCount + m.purged,
      m.restores)
    new MultiIndex(table.spark, root, keyCols, m.version, m.length,
      m.maskCount + m.purged, m.restores)
  }

  /** Open a previously built index (key columns come from the metadata). */
  def open(spark: SparkSession, root: String): MultiIndex = {
    val lines = Files.readString(Paths.get(root, "meta.txt")).trim.linesIterator.toSeq
    // head is "version,length" (pre-round-16), "version,length,mask", or
    // "version,length,mask,restores" (round 17)
    val parts = lines.head.split(",")
    val mask = if (parts.length > 2) parts(2).toLong else 0L
    val restores = if (parts.length > 3) parts(3).toLong else 0L
    new MultiIndex(spark, root, lines.tail, parts(0).toLong, parts(1).toLong,
      mask, restores)
  }

  private def writeSpan(table: VectorTable, keyCols: Seq[String], start: Long,
                        count: Long, root: String, append: Boolean): Unit =
    writeRows(table.span(start, count), table.spark, keyCols, count, root, append)

  private def writeRows(rows: org.apache.spark.sql.DataFrame,
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
      .parquet(if (append)
        graft.operators.IndexCompaction.dataDir(root).toString
      else s"$root/data")
  }

  private def writeMeta(root: String, keyCols: Seq[String], version: Long,
                        length: Long, mask: Long = 0L, restores: Long = 0L): Unit =
    Files.write(Paths.get(root, "meta.txt"),
      (s"$version,$length,$mask,$restores" +: keyCols).mkString("\n").getBytes("UTF-8"))
}
