package graft.operators

import graft.core.VectorTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
    private[graft] val meta: IndexMeta) extends DerivedIndex {

  /** The stored (doc_id, simhash) signature rows. */
  def signatures: DataFrame =
    spark.read.parquet(IndexCompaction.dataDir(root).toString)

  /** See [[IndexMaintenance.refresh]]. */
  def refresh(table: VectorTable): SimHashIndex =
    IndexMaintenance.refresh(table, root, meta, () => signatures, legacyKey = Some("doc_id"))(
      SimHashIndex.writeSpan(table, _, _, root, _), _.rewriteFiles(Seq("simhash")))
      .fold(this)(new SimHashIndex(spark, root, _))

  /** In-place [[IndexCompaction]] over the accumulated refresh files —
    * rows, meta and every delta-face result identical by construction.
    */
  def compact(): SimHashIndex = {
    IndexCompaction.compact(spark, root, sortWithin = Seq("simhash"))
    this
  }
}

object SimHashIndex {

  def build(table: VectorTable, root: String): SimHashIndex =
    new SimHashIndex(table.spark, root, IndexMaintenance.build(table, root) { len =>
      if (len > 0) writeSpan(table, 0L, len, root, withRowid = true)
      else {
        // an EMPTY index must still be readable (round-12 ADVICE): write the
        // (doc_id, simhash) schema frame so `signatures` never throws
        // path-not-found before the first refresh — same contract as
        // ContainmentIndex.build, whose freq/entry frames always exist
        import table.spark.implicits._
        IndexMaintenance.appendRows(Seq.empty[(Long, Long, Long)]
          .toDF("doc_id", VectorTable.ROWID, "simhash"), root, withRowid = true)
      }
    })

  def open(spark: SparkSession, root: String): SimHashIndex =
    new SimHashIndex(spark, root, IndexMaintenance.readMeta(root))

  private def writeSpan(table: VectorTable, start: Long, count: Long, root: String,
                        withRowid: Boolean): Unit =
    IndexMaintenance.appendRows(table.span(start, count)
      .select(col("doc_id"), col(VectorTable.ROWID),
        graft.functions.TextFunctions.simhash64(col("text")).as("simhash")), root, withRowid)
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
    private[graft] val meta: IndexMeta) extends DerivedIndex {

  /** Stored (doc_id, sg frozen-rarity-order, sh ASC, n) rows. */
  def entries: DataFrame =
    spark.read.parquet(IndexCompaction.dataDir(root).toString)

  /** The frozen build-time (g, cnt) frequency table. */
  def freq: DataFrame = spark.read.parquet(s"$root/freq")

  /** See [[IndexMaintenance.refresh]]. A takedown leaves the frozen freq
    * table's counts: frequency drift only degrades prefix SELECTIVITY,
    * never correctness (losslessness holds under ANY shared total order;
    * see class doc).
    */
  def refresh(table: VectorTable): ContainmentIndex =
    IndexMaintenance.refresh(table, root, meta, () => entries, legacyKey = Some("doc_id"))(
      (start, count, withRowid) =>
        ContainmentIndex.writeEntries(ContainmentIndex.shOf(table, start, count), freq, root, withRowid),
      _.rewriteFiles(Seq("doc_id")))
      .fold(this)(new ContainmentIndex(spark, root, _))

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

  def build(table: VectorTable, root: String): ContainmentIndex =
    new ContainmentIndex(table.spark, root, IndexMaintenance.build(table, root) { len =>
      if (len == 0) {
        // empty index stays readable before the first refresh (round-12
        // ADVICE contract, same as SimHashIndex.build); the frozen freq
        // table is empty, so a later refresh orders every element by
        // (0, g) — rarest-first, deterministic, still a valid total order
        import table.spark.implicits._
        Seq.empty[(Long, Long)].toDF("g", "cnt")
          .write.mode("overwrite").parquet(s"$root/freq")
        IndexMaintenance.appendRows(Seq.empty[(Long, Long, Seq[Long], Seq[Long], Int)]
          .toDF("doc_id", VectorTable.ROWID, "sg", "sh", "n"), root, withRowid = true)
      } else {
        val sh = shOf(table, 0L, len)
        val freq = sh.select(explode(col("sh")).as("g"))
          .groupBy("g").agg(count(lit(1)).as("cnt"))
        freq.write.mode("overwrite").parquet(s"$root/freq")
        val frozen = table.spark.read.parquet(s"$root/freq")
        writeEntries(sh, frozen, root, withRowid = true)
      }
    })

  def open(spark: SparkSession, root: String): ContainmentIndex =
    new ContainmentIndex(spark, root, IndexMaintenance.readMeta(root))

  private def shOf(table: VectorTable, start: Long, count: Long): DataFrame =
    table.span(start, count)
      .select(col("doc_id"), col(VectorTable.ROWID),
        graft.functions.TextFunctions.shingleHashes(col("text")).as("sh"))
      .where(size(col("sh")) > 0)

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
    IndexMaintenance.appendRows(sg.join(sh, Seq("doc_id"))
      .withColumn("n", size(col("sg")))
      .select("doc_id", VectorTable.ROWID, "sg", "sh", "n"), root, withRowid)
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
    private[graft] val meta: IndexMeta) extends DerivedIndex {

  /** The stored (doc_id, gram_hash) window rows. */
  def windows: DataFrame =
    spark.read.parquet(IndexCompaction.dataDir(root).toString)

  /** See [[IndexMaintenance.refresh]]. */
  def refresh(table: VectorTable): SpanIndex =
    IndexMaintenance.refresh(table, root, meta, () => windows, legacyKey = Some("doc_id"))(
      SpanIndex.writeSpan(table, _, _, root, _), _.rewriteFiles(Seq("gram_hash")))
      .fold(this)(new SpanIndex(spark, root, _))

  /** In-place [[IndexCompaction]] over the accumulated refresh files —
    * rows, meta and every delta-face result identical by construction.
    */
  def compact(): SpanIndex = {
    IndexCompaction.compact(spark, root, sortWithin = Seq("gram_hash"))
    this
  }
}

object SpanIndex {

  def build(table: VectorTable, root: String): SpanIndex =
    new SpanIndex(table.spark, root, IndexMaintenance.build(table, root) { len =>
      if (len > 0) writeSpan(table, 0L, len, root, withRowid = true)
      else {
        // empty index stays readable before the first refresh (round-12
        // ADVICE contract, same as SimHashIndex.build)
        import table.spark.implicits._
        IndexMaintenance.appendRows(Seq.empty[(Long, Long, Long)]
          .toDF("doc_id", VectorTable.ROWID, "gram_hash"), root, withRowid = true)
      }
    })

  def open(spark: SparkSession, root: String): SpanIndex =
    new SpanIndex(spark, root, IndexMaintenance.readMeta(root))

  private def writeSpan(table: VectorTable, start: Long, count: Long, root: String,
                        withRowid: Boolean): Unit =
    IndexMaintenance.appendRows(table.span(start, count)
      .select(col("doc_id"), col(VectorTable.ROWID),
        explode(graft.functions.TextFunctions
          .rollingHashes(col("text"), Dedup.repeatedSpanWindow, Dedup.repeatedSpanStride))
          .as("gram_hash")), root, withRowid)
}
