package graft.operators

import graft.core.{Memo, Tables, VectorTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}

/** Bench fixtures pricing the AUTOMATIC-maintenance machinery (round-17
  * verdict #6: the round-16 round shipped the machinery but no bench dim
  * priced it — neither the per-batch CHECK overhead nor a fired
  * compaction, and sf1 carried no purge/maintenance dim).
  *
  * Two memoized states built once per (machine, sf dir):
  *   - FRAGMENTED: a docs table ingested as `2×factor + 2` small batches
  *     with an [[LshIndex]] refreshed per batch (one span file each) and
  *     NO maintenance — the state every fired-work dim starts from;
  *   - MAINTAINED: the same content after one maintenance pass (tail
  *     merged, index compacted) — the steady state whose per-batch CHECK
  *     cost must be ~ms ([[Maintenance]] runs it after every micro-batch).
  *
  * Fired-work dims CLONE the fragmented state per run (hard-links — the
  * parquet files are immutable; manifests and new files land in the
  * clone), so a second bench sample re-pays the real work instead of
  * measuring a no-op.
  */
object MaintenancePricing {

  def fixtureRoot(s: SparkSession, d: String): String =
    Memo.machine(s, "graft-maint", "fixture", d, "#maint-pricing#v1") { dir =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .localCheckpoint()
      val nb = (Maintenance.fileFactor + 2).toInt
      // fragmented twin: one small batch + one index span per slice
      val frag = VectorTable.create(s, s"$dir/frag")
      var idx = LshIndex.build(frag, s"$dir/fraglsh")
      (0 until nb).foreach { b =>
        frag.append(docs.where(col("doc_id") % nb === b))
        idx = idx.refresh(frag)
      }
      // maintained twin: the fragmented state hard-link-cloned, then
      // exactly the per-batch maintenance the streaming paths run —
      // content-identical without re-paying the ingest
      copyTree(dir.resolve("frag"), dir.resolve("maint"))
      copyTree(dir.resolve("fraglsh"), dir.resolve("maintlsh"))
      val maint = VectorTable.open(s, s"$dir/maint")
      val midx = LshIndex.open(s, s"$dir/maintlsh")
      Maintenance.maintainTable(maint)
      Maintenance.maintainIndex(s"$dir/maintlsh", () => { midx.compact(); () })
    }

  def prebuild(s: SparkSession, d: String): Unit = { fixtureRoot(s, d); () }

  /** The steady-state per-batch maintenance CHECK, 100×: threshold probes
    * over the maintained twin (file-count dir walks + the tail-selection
    * scan of the manifest) with nothing to fire. This is the overhead
    * EVERY streaming micro-batch pays; the dim prices 100 batches' worth.
    */
  def check100(s: SparkSession, d: String): Unit = {
    val root = fixtureRoot(s, d)
    val t = VectorTable.open(s, s"$root/maint")
    var fired = 0
    (0 until 100).foreach { _ =>
      if (Maintenance.maintainTable(t)) fired += 1
      if (Maintenance.maintainIndex(s"$root/maintlsh", () => ())) fired += 1
    }
    require(fired == 0, s"check-only dim fired $fired maintenance actions")
  }

  /** Hard-link clone of one fixture store dir into a REUSED per-(fixture,
    * dim) scratch dir — wiped before each copy, so repeated bench samples
    * never accumulate clones in /tmp (round-17 advice: the old
    * createTempDirectory-per-invocation leaked one clone per sample on a
    * long-lived host). The wipe is inside the timed region but bounded by
    * the fixture's own size — noise next to the fired work it precedes.
    */
  private def clone(s: SparkSession, d: String, which: String): String = {
    val root = Paths.get(fixtureRoot(s, d))
    val src = root.resolve(which)
    val dst = root.resolve(s"run-$which")
    graft.core.Fs.deleteTree(dst)
    copyTree(src, dst.resolve(which))
    dst.resolve(which).toString
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    val listing = Files.list(src)
    try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.toSeq.foreach { p =>
        val t = dst.resolve(p.getFileName.toString)
        if (Files.isDirectory(p)) copyTree(p, t)
        else graft.core.Fs.linkOrCopy(p, t)
      }
    } finally listing.close()
  }

  /** One FIRED tail merge: clone the fragmented table, run the per-batch
    * maintenance — the size-tiered [[VectorTable.compactTail]] must fire.
    */
  def firedTailMerge(s: SparkSession, d: String): Unit = {
    val t = VectorTable.open(s, clone(s, d, "frag"))
    require(Maintenance.maintainTable(t), "fragmented fixture must fire a tail merge")
  }

  /** One FIRED index compaction: clone the fragmented index layout, run
    * the per-batch maintenance — [[IndexCompaction.compact]] must fire.
    */
  def firedIndexCompaction(s: SparkSession, d: String): Unit = {
    val root = clone(s, d, "fraglsh")
    require(Maintenance.maintainIndex(root,
      () => { IndexCompaction.compact(s, root, sortWithin = Seq("band", "h1", "h2")); () }),
      "fragmented fixture must fire an index compaction")
  }

  /** GDPR-BATCH erasure end to end (round-17 verdict #6): a ~10⁵-id batch
    * as a DataFrame driven through [[Takedown.everywhere]] — mask via a
    * JOIN operand ([[graft.core.VectorTable.deleteWhereKeysIn]];
    * TakedownScaleSpec pins that no In/InSet literal appears at this
    * scale), REGISTERED index refresh, physical purge — over clones of
    * the maintained twin. The id batch is fixed-size while the store is
    * SF-sized: most ids miss, the realistic GDPR shape (one batch
    * serviced by every store in the deployment), and the store-side cost
    * is ∝ affected files, which is what the dim prices.
    */
  def takedownBatch1e5(s: SparkSession, d: String): Unit = {
    val t = VectorTable.open(s, clone(s, d, "maint"))
    var lsh = LshIndex.open(s, clone(s, d, "maintlsh"))
    val ids = s.range(100000L).select((col("id") * lit(20L)).as("doc_id"))
    val counts = Takedown.everywhere(ids,
      Seq(Takedown.Store("docs", t, "doc_id",
        refreshIndexes = Seq(() => { lsh = lsh.refresh(t); () }))),
      propagate = Nil, purge = true)
    require(counts("docs") > 0L, "batch takedown must mask rows")
  }

  /** One mask + PHYSICAL PURGE over a clone of the maintained table — the
    * erasure path as a per-round priced dim (PLANS.md "Purge pricing"
    * holds the offline deep-dive; this keeps the price in every committed
    * record and the sf1 sweep).
    */
  def maskAndPurge(s: SparkSession, d: String): Unit = {
    val t = VectorTable.open(s, clone(s, d, "maint"))
    val masked = t.deleteWhere(col("doc_id") % 37 === 0)
    require(masked > 0, "purge dim must mask rows")
    require(t.purge() == masked)
  }
}
