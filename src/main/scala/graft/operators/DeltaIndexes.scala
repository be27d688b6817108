package graft.operators

import graft.core.VectorTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Persisted 64-bit SimHash index over a documents [[VectorTable]] with
  * INCREMENTAL maintenance — the [[LshIndex]] discipline for the pigeonhole
  * near-dup path: signatures are computed once at ingest, stored as slim
  * (doc_id, simhash) rows, and a refresh signature-hashes ONLY the appended
  * rowid span (the indexed prefix is immutable and never re-scanned). The
  * per-drop delta query then joins stored piece buckets, touching no
  * document text at all (DeltaIndexSpec pins the scan set).
  *
  * Width is fixed at the 64-bit PRODUCTION signature
  * ([[graft.functions.ShingleKernel.simhash64]]) — an index exists for
  * corpora large enough that 16-bit piece buckets saturate; the oracle
  * replays the 64-bit pipeline exactly (Dedup.simhashSignatures64Sql).
  * Reference analog: the engine's incremental append write path,
  * src/cache/writable_cache.rs:78-95.
  */
final class SimHashIndex private (
    val spark: SparkSession,
    val root: String,
    val builtFromVersion: Long,
    val indexedLength: Long,
    val indexedMask: Long = 0L,
    val indexedRestores: Long = 0L) {

  /** The stored (doc_id, simhash) signature rows. */
  def signatures: DataFrame =
    spark.read.parquet(IndexCompaction.dataDir(root).toString)

  def isStale(table: VectorTable): Boolean =
    table.manifest.version > builtFromVersion

  /** Takedown propagation anti-joins on `_rowid`, the staleness gate is
    * the monotonic tombstone total, and the layout is probed BEFORE the
    * span append — see [[LshIndex.refresh]] for the full rationale.
    */
  def refresh(table: VectorTable): SimHashIndex = {
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
      SimHashIndex.writeSpan(table, effLen, m.length - effLen, root,
        withRowid = !legacy)
    if (cu.isDefined || tomb != effMask) {
      val maskOnly = tomb >= effMask && tomb - effMask <= m.maskCount
      val key = if (legacy) "doc_id" else VectorTable.ROWID
      IndexCompaction.applyDeletesFiles(spark, root, key,
        IndexCompaction.deletedKeys(table, key, key, () => signatures.select(key), maskOnly),
        sortWithin = Seq("simhash"))
    }
    IndexCompaction.writeMeta(root, m.version, m.length, tomb, m.restores)
    new SimHashIndex(spark, root, m.version, m.length, tomb, m.restores)
  }

  /** In-place [[IndexCompaction]] over the accumulated refresh files —
    * rows, meta and every delta-face result identical by construction.
    */
  def compact(): SimHashIndex = {
    IndexCompaction.compact(spark, root, sortWithin = Seq("simhash"))
    this
  }
}

object SimHashIndex {

  def build(table: VectorTable, root: String): SimHashIndex = {
    val m = table.manifest
    Files.createDirectories(Paths.get(root))
    if (m.length > 0) writeSpan(table, 0L, m.length, root, withRowid = true)
    else {
      // an EMPTY index must still be readable (round-12 ADVICE): write the
      // (doc_id, simhash) schema frame so `signatures` never throws
      // path-not-found before the first refresh — same contract as
      // ContainmentIndex.build, whose freq/entry frames always exist
      import table.spark.implicits._
      Seq.empty[(Long, Long, Long)].toDF("doc_id", VectorTable.ROWID, "simhash")
        .write.mode("append").parquet(IndexCompaction.dataDir(root).toString)
    }
    IndexCompaction.writeMeta(root, m.version, m.length, m.maskCount + m.purged, m.restores)
    new SimHashIndex(table.spark, root, m.version, m.length,
      m.maskCount + m.purged, m.restores)
  }

  def open(spark: SparkSession, root: String): SimHashIndex = {
    // meta is "version,length" (pre-round-15) or "version,length,mask"
    val parts = Files.readString(Paths.get(root, "meta.txt")).trim.split(",")
    val mask = if (parts.length > 2) parts(2).toLong else 0L
    val restores = if (parts.length > 3) parts(3).toLong else 0L
    new SimHashIndex(spark, root, parts(0).toLong, parts(1).toLong, mask, restores)
  }

  private def writeSpan(table: VectorTable, start: Long, count: Long, root: String,
                        withRowid: Boolean): Unit = {
    val rows = table.span(start, count)
      .select(col("doc_id"), col(VectorTable.ROWID),
        graft.functions.TextFunctions.simhash64(col("text")).as("simhash"))
    (if (withRowid) rows else rows.drop(VectorTable.ROWID))
      .write.mode("append").parquet(IndexCompaction.dataDir(root).toString)
  }
}

/** Persisted containment-prefix index over a documents [[VectorTable]]:
  * per doc the canonical element list in a FROZEN rarest-first order
  * (`sg`), the ASC-sorted distinct hash set for merge-count verification
  * (`sh`), and the set size — plus the build-time element-frequency table
  * that DEFINES the order.
  *
  * The frozen order is the point: PPJoin-style prefix/positional pruning
  * is lossless under ANY total order on elements as long as BOTH sides of
  * a comparison sort by the SAME one — rarity only buys pruning
  * efficiency, never correctness. So a refresh sorts the appended span by
  * the STORED frequency table (elements unseen at build time order by
  * (0, g): rarest-first, deterministic, and impossible for an indexed doc
  * to contain — if an old doc held g, g would be in the table), and the
  * whole index stays mutually consistent without ever re-sorting the
  * indexed prefix. Frequency drift degrades prefix selectivity gradually;
  * a periodic full rebuild (re-freeze) is an offline compaction decision,
  * not a correctness event — the oracle's order-free all-pairs SQL is the
  * proof.
  */
final class ContainmentIndex private (
    val spark: SparkSession,
    val root: String,
    val builtFromVersion: Long,
    val indexedLength: Long,
    val indexedMask: Long = 0L,
    val indexedRestores: Long = 0L) {

  /** Stored (doc_id, sg frozen-rarity-order, sh ASC, n) rows. */
  def entries: DataFrame =
    spark.read.parquet(IndexCompaction.dataDir(root).toString)

  /** The frozen build-time (g, cnt) frequency table. */
  def freq: DataFrame = spark.read.parquet(s"$root/freq")

  def isStale(table: VectorTable): Boolean =
    table.manifest.version > builtFromVersion

  def refresh(table: VectorTable): ContainmentIndex = {
    val m = table.manifest
    val cu = IndexCompaction.restoreCatchUp(spark, root, table, m,
      builtFromVersion, indexedLength, indexedMask, indexedRestores)
    val effLen = cu.map(_.newLength).getOrElse(indexedLength)
    val effMask = cu.map(_.maskFloor).getOrElse(indexedMask)
    val tomb = m.maskCount + m.purged
    if (cu.isEmpty && m.length <= effLen && tomb == effMask) return this
    // layout probe BEFORE the span append; tombstone-total gate — see
    // LshIndex.refresh for the rationale
    val legacy = IndexCompaction.hasParquet(IndexCompaction.dataDir(root)) &&
      !IndexCompaction.liveHasColumn(spark, root, VectorTable.ROWID)
    if (m.length > effLen)
      ContainmentIndex.writeSpan(table, effLen, m.length - effLen, root,
        freq, withRowid = !legacy)
    // takedown: the frozen freq table keeps the deleted docs' counts —
    // frequency drift only degrades prefix SELECTIVITY, never correctness
    // (losslessness holds under ANY shared total order; see class doc)
    if (cu.isDefined || tomb != effMask) {
      val maskOnly = tomb >= effMask && tomb - effMask <= m.maskCount
      val key = if (legacy) "doc_id" else VectorTable.ROWID
      IndexCompaction.applyDeletesFiles(spark, root, key,
        IndexCompaction.deletedKeys(table, key, key, () => entries.select(key), maskOnly),
        sortWithin = Seq("doc_id"))
    }
    IndexCompaction.writeMeta(root, m.version, m.length, tomb, m.restores)
    new ContainmentIndex(spark, root, m.version, m.length, tomb, m.restores)
  }

  /** In-place [[IndexCompaction]] over the accumulated refresh files —
    * rows, meta, the frozen freq table and every delta-face result
    * identical by construction.
    */
  def compact(): ContainmentIndex = {
    IndexCompaction.compact(spark, root, sortWithin = Seq("doc_id"))
    this
  }
}

object ContainmentIndex {

  def build(table: VectorTable, root: String): ContainmentIndex = {
    val m = table.manifest
    Files.createDirectories(Paths.get(root))
    if (m.length == 0) {
      // empty index stays readable before the first refresh (round-12
      // ADVICE contract, same as SimHashIndex.build); the frozen freq
      // table is empty, so a later refresh orders every element by
      // (0, g) — rarest-first, deterministic, still a valid total order
      import table.spark.implicits._
      Seq.empty[(Long, Long)].toDF("g", "cnt")
        .write.mode("overwrite").parquet(s"$root/freq")
      Seq.empty[(Long, Long, Seq[Long], Seq[Long], Int)]
        .toDF("doc_id", VectorTable.ROWID, "sg", "sh", "n")
        .write.mode("append").parquet(IndexCompaction.dataDir(root).toString)
    } else {
      val sh = shOf(table, 0L, m.length)
      val freq = sh.select(explode(col("sh")).as("g"))
        .groupBy("g").agg(count(lit(1)).as("cnt"))
      freq.write.mode("overwrite").parquet(s"$root/freq")
      val frozen = table.spark.read.parquet(s"$root/freq")
      writeEntries(sh, frozen, root, withRowid = true)
    }
    IndexCompaction.writeMeta(root, m.version, m.length, m.maskCount + m.purged, m.restores)
    new ContainmentIndex(table.spark, root, m.version, m.length,
      m.maskCount + m.purged, m.restores)
  }

  def open(spark: SparkSession, root: String): ContainmentIndex = {
    // meta is "version,length" (pre-round-15) or "version,length,mask"
    val parts = Files.readString(Paths.get(root, "meta.txt")).trim.split(",")
    val mask = if (parts.length > 2) parts(2).toLong else 0L
    val restores = if (parts.length > 3) parts(3).toLong else 0L
    new ContainmentIndex(spark, root, parts(0).toLong, parts(1).toLong, mask, restores)
  }

  private def shOf(table: VectorTable, start: Long, count: Long): DataFrame =
    table.span(start, count)
      .select(col("doc_id"), col(VectorTable.ROWID),
        graft.functions.TextFunctions.shingleHashes(col("text")).as("sh"))
      .where(size(col("sh")) > 0)

  private def writeSpan(table: VectorTable, start: Long, count: Long,
                        root: String, frozenFreq: DataFrame, withRowid: Boolean): Unit =
    writeEntries(shOf(table, start, count), frozenFreq, root, withRowid)

  /** Sort each doc's elements by the (frozen) frequency order — unseen
    * elements coalesce to cnt 0 — and append (doc_id, sg, sh, n) rows.
    * The rarity sort runs on exploded (doc_id, g) rows and joins the ASC
    * set back by doc_id, so the sh array never replicates per element.
    */
  private def writeEntries(shIn: DataFrame, frozenFreq: DataFrame, root: String,
                           withRowid: Boolean): Unit = {
    val sh = shIn.localCheckpoint()
    val sg = sh.select(col("doc_id"), explode(col("sh")).as("g"))
      .join(frozenFreq, Seq("g"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(cnt, g))), x -> x.g)").as("sg"))
    val rows = sg.join(sh, Seq("doc_id"))
      .withColumn("n", size(col("sg")))
      .select("doc_id", VectorTable.ROWID, "sg", "sh", "n")
    (if (withRowid) rows else rows.drop(VectorTable.ROWID))
      .write.mode("append").parquet(IndexCompaction.dataDir(root).toString)
  }
}

/** Persisted repeated-SPAN index over a documents [[VectorTable]] with
  * incremental maintenance — the [[SimHashIndex]] discipline for the
  * exact-substring modality: every stride-th rolling-hash window is
  * computed once at ingest and stored as slim (doc_id, gram_hash) rows;
  * a refresh hashes ONLY the appended rowid span (the indexed prefix is
  * immutable, O(1)-per-character via the fused
  * [[graft.functions.ShingleKernel.rollingHashes]] kernel). The per-drop
  * delta query aggregates stored rows keyed on the delta's hashes,
  * touching no document text at all.
  */
final class SpanIndex private (
    val spark: SparkSession,
    val root: String,
    val builtFromVersion: Long,
    val indexedLength: Long,
    val indexedMask: Long = 0L,
    val indexedRestores: Long = 0L) {

  /** The stored (doc_id, gram_hash) window rows. */
  def windows: DataFrame =
    spark.read.parquet(IndexCompaction.dataDir(root).toString)

  def isStale(table: VectorTable): Boolean =
    table.manifest.version > builtFromVersion

  def refresh(table: VectorTable): SpanIndex = {
    val m = table.manifest
    val cu = IndexCompaction.restoreCatchUp(spark, root, table, m,
      builtFromVersion, indexedLength, indexedMask, indexedRestores)
    val effLen = cu.map(_.newLength).getOrElse(indexedLength)
    val effMask = cu.map(_.maskFloor).getOrElse(indexedMask)
    val tomb = m.maskCount + m.purged
    if (cu.isEmpty && m.length <= effLen && tomb == effMask) return this
    // layout probe BEFORE the span append; tombstone-total gate — see
    // LshIndex.refresh for the rationale
    val legacy = IndexCompaction.hasParquet(IndexCompaction.dataDir(root)) &&
      !IndexCompaction.liveHasColumn(spark, root, VectorTable.ROWID)
    if (m.length > effLen)
      SpanIndex.writeSpan(table, effLen, m.length - effLen, root,
        withRowid = !legacy)
    if (cu.isDefined || tomb != effMask) {
      val maskOnly = tomb >= effMask && tomb - effMask <= m.maskCount
      val key = if (legacy) "doc_id" else VectorTable.ROWID
      IndexCompaction.applyDeletesFiles(spark, root, key,
        IndexCompaction.deletedKeys(table, key, key, () => windows.select(key), maskOnly),
        sortWithin = Seq("gram_hash"))
    }
    IndexCompaction.writeMeta(root, m.version, m.length, tomb, m.restores)
    new SpanIndex(spark, root, m.version, m.length, tomb, m.restores)
  }

  /** In-place [[IndexCompaction]] over the accumulated refresh files —
    * rows, meta and every delta-face result identical by construction.
    */
  def compact(): SpanIndex = {
    IndexCompaction.compact(spark, root, sortWithin = Seq("gram_hash"))
    this
  }
}

object SpanIndex {

  def build(table: VectorTable, root: String): SpanIndex = {
    val m = table.manifest
    Files.createDirectories(Paths.get(root))
    if (m.length > 0) writeSpan(table, 0L, m.length, root, withRowid = true)
    else {
      // empty index stays readable before the first refresh (round-12
      // ADVICE contract, same as SimHashIndex.build)
      import table.spark.implicits._
      Seq.empty[(Long, Long, Long)].toDF("doc_id", VectorTable.ROWID, "gram_hash")
        .write.mode("append").parquet(IndexCompaction.dataDir(root).toString)
    }
    IndexCompaction.writeMeta(root, m.version, m.length, m.maskCount + m.purged, m.restores)
    new SpanIndex(table.spark, root, m.version, m.length,
      m.maskCount + m.purged, m.restores)
  }

  def open(spark: SparkSession, root: String): SpanIndex = {
    // meta is "version,length" (pre-round-15) or "version,length,mask"
    val parts = Files.readString(Paths.get(root, "meta.txt")).trim.split(",")
    val mask = if (parts.length > 2) parts(2).toLong else 0L
    val restores = if (parts.length > 3) parts(3).toLong else 0L
    new SpanIndex(spark, root, parts(0).toLong, parts(1).toLong, mask, restores)
  }

  private def writeSpan(table: VectorTable, start: Long, count: Long, root: String,
                        withRowid: Boolean): Unit = {
    val rows = table.span(start, count)
      .select(col("doc_id"), col(VectorTable.ROWID),
        explode(graft.functions.TextFunctions
          .rollingHashes(col("text"), Dedup.repeatedSpanWindow, Dedup.repeatedSpanStride))
          .as("gram_hash"))
    (if (withRowid) rows else rows.drop(VectorTable.ROWID))
      .write.mode("append").parquet(IndexCompaction.dataDir(root).toString)
  }
}
