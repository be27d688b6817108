package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The round-15 generalization of [[IvfCompactionSpec]] to the whole
  * delta-index family: every persisted incremental index ([[LshIndex]],
  * [[SimHashIndex]], [[ContainmentIndex]], [[SpanIndex]]) fragments into
  * one file per refresh; the shared [[IndexCompaction]] collapses the live
  * layout to the byte-sized target (1 file at this scale) behind an atomic
  * pointer flip, and NOTHING else changes — stored rows, meta
  * (version, length), and each index's derived query are identical before
  * and after. Also pinned: a refresh AFTER compaction appends into the
  * pointer-published dir (maintenance keeps working), a second compact is
  * a no-op, and a crashed compaction's orphan dir is swept on the next
  * run.
  */
class DeltaIndexCompactionSpec extends SparkSpec {

  /** Land the sf docs table into a fresh VectorTable in 3 id-range spans,
    * refreshing `mk`-built index after each; returns (root, query-fn).
    */
  private def fragmented[I](
      name: String,
      build: (graft.core.VectorTable, String) => I,
      refresh: (I, graft.core.VectorTable) => I): (String, graft.core.VectorTable, I) = {
    val dir = tmpDir(s"delta-compact-$name")
    val docs = graft.core.Tables.documents(spark, sf())
      .select(col("doc_id"), col("text"))
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val t = graft.core.VectorTable.create(spark, s"$dir/table")
    var idx = build(t, s"$dir/index")
    (0 until 3).foreach { i =>
      val lo = (maxId + 1) * i / 3
      val hi = (maxId + 1) * (i + 1) / 3
      t.append(docs.where(col("doc_id") >= lo && col("doc_id") < hi))
      idx = refresh(idx, t)
    }
    (s"$dir/index", t, idx)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def checkCompaction[I](
      name: String, root: String, derived: => DataFrame,
      compact: () => Unit, stored: => DataFrame): Unit = {
    assert(IndexCompaction.liveFileCount(root) > 1L,
      s"$name: three spans must fragment the layout")
    val rowsBefore = sortedRows(stored)
    val derivedBefore = sortedRows(derived)
    val metaBefore = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "meta.txt"))

    // a crashed compaction's orphan dir is swept by the next compact
    val orphan = java.nio.file.Paths.get(root, "data-dead-orphan")
    java.nio.file.Files.createDirectories(orphan)

    compact()

    assert(IndexCompaction.liveFileCount(root) == 1L,
      s"$name: compaction collapses to the byte-sized target (1 here)")
    assert(!java.nio.file.Files.exists(orphan), s"$name: orphan dir swept")
    assert(sortedRows(stored) == rowsBefore, s"$name: rows identical")
    assert(sortedRows(derived) == derivedBefore, s"$name: derived query identical")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "meta.txt")) == metaBefore,
      s"$name: meta (version, length) untouched")

    compact() // no-op on the already-compact layout
    assert(IndexCompaction.liveFileCount(root) == 1L)
    assert(sortedRows(stored) == rowsBefore)
  }

  test("LshIndex: compaction preserves rows, meta and candidate pairs; refresh lands in the published dir") {
    val (root, t, idx0) = fragmented[LshIndex]("lsh",
      (t, r) => LshIndex.build(t, r), (i, t) => i.refresh(t))
    var idx = idx0
    checkCompaction("lsh", root, idx.candidatePairs(),
      () => { idx = idx.compact() }, idx.bands)
    // maintenance keeps working after the pointer flip: append + refresh
    val extra = Seq((1000000L, "wholly novel text after compaction zq"))
    import spark.implicits._
    t.append(extra.toDF("doc_id", "text"))
    idx = idx.refresh(t)
    assert(idx.indexedLength == t.length)
    assert(IndexCompaction.liveFileCount(root) == 2L,
      "the refreshed span appends one file into the LIVE (pointer) dir")
    assert(idx.bands.where(col("doc_id") === 1000000L).count() > 0)
  }

  test("SimHashIndex: compaction preserves rows, meta and signatures") {
    val (root, _, idx0) = fragmented[SimHashIndex]("simhash",
      (t, r) => SimHashIndex.build(t, r), (i, t) => i.refresh(t))
    var idx = idx0
    checkCompaction("simhash", root, idx.signatures,
      () => { idx = idx.compact() }, idx.signatures)
  }

  test("ContainmentIndex: compaction preserves rows, meta, entries and the frozen freq table") {
    val (root, _, idx0) = fragmented[ContainmentIndex]("containment",
      (t, r) => ContainmentIndex.build(t, r), (i, t) => i.refresh(t))
    var idx = idx0
    val freqBefore = sortedRows(idx.freq)
    checkCompaction("containment", root,
      idx.entries.select(col("doc_id"), col("n")),
      () => { idx = idx.compact() }, idx.entries)
    assert(sortedRows(idx.freq) == freqBefore, "freq table untouched")
  }

  test("SpanIndex: compaction preserves rows, meta and the span aggregation") {
    val (root, _, idx0) = fragmented[SpanIndex]("span",
      (t, r) => SpanIndex.build(t, r), (i, t) => i.refresh(t))
    var idx = idx0
    checkCompaction("span", root,
      idx.windows.groupBy("gram_hash")
        .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ")),
      () => { idx = idx.compact() }, idx.windows)
  }

  test("IVF loud-fail: an index whose meta records rows but whose live dir lost its files throws") {
    val dir = tmpDir("ivf-lost")
    val emb = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), col("embedding"))
    val t = graft.core.VectorTable.create(spark, s"$dir/table")
    t.append(emb.limit(64))
    val cs = emb.orderBy("vec_id").limit(4).collect().map(_.getSeq[Float](1).toArray)
    val idx = IvfTableIndex.buildWith(t, s"$dir/index", cs)
    assert(idx.data.count() == 64L)
    graft.core.Fs.deleteTree(IndexCompaction.dataDir(s"$dir/index"))
    val e = intercept[IllegalStateException](idx.data.count())
    assert(e.getMessage.contains("index data lost"))
  }
}
