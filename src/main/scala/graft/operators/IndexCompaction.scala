package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}

/** The persisted layout of the seven indexes derived from a
  * [[graft.core.VectorTable]] — [[LshIndex]], [[SimHashIndex]],
  * [[SpanIndex]], [[ContainmentIndex]], [[IvfTableIndex]],
  * [[graft.core.SecondaryIndex]] and [[graft.core.MultiIndex]]:
  * `root/<live-dir>` of parquet files plus the `root/meta.txt` watermark
  * (version, length, tombstone total, restore epoch). All seven keep it
  * current through ONE protocol, [[IndexMaintenance.refresh]] — restore
  * catch-up, the tombstone-total gate, the legacy-layout probe, the span
  * append, the delete pass, the atomic meta publish — and this object owns
  * the layout that protocol writes into: the live-dir pointer, the atomic
  * flip, and IN-PLACE compaction (unpartitioned for the flat layouts, one
  * file per `cell` partition for IVF).
  *
  * Why it exists: every `refresh` appends one parquet file (or one per
  * touched partition) per span, so a continuously-fed index accumulates
  * N-span small files and EVERY query pays N file opens forever —
  * a round-14 pricing run (PLANS.md "Compaction pricing") measured ~20%
  * probe tax at just 8 files/cell on the IVF layout. Compaction rewrites the live rows into a file-count sized
  * by bytes (128 MiB target per file — 1 file at test scale, proportional
  * at 100 TB), touching no source table and re-deriving nothing: rows,
  * meta, and therefore every query result are identical
  * by construction; only the file layout changes.
  *
  * CRASH SAFETY (round-15 ADVICE: the original IVF compact's two
  * `Files.move` swap could strand an index with NO live dir): the live
  * directory is named by a pointer file `root/current.txt` (absent =
  * legacy `data`, so pre-existing indexes read unchanged). Compaction
  * writes the compacted layout into a fresh `data-<uuid>` dir, then flips
  * the pointer with the repo's atomic publish pattern (tmp file +
  * ATOMIC_MOVE), then deletes the old dir. A crash before the flip leaves
  * the old layout live and an orphan dir (swept by the next compact); a
  * crash after the flip leaves the new layout live — there is no window
  * with no live data.
  *
  * Single-writer discipline (the same assumption every `refresh` already
  * makes): one maintenance process compacts at a time; readers opened
  * BEFORE a flip keep reading the old dir until it is deleted, which is
  * the usual lakehouse small-window caveat and why production runs
  * compaction in the ingest maintenance slot, not concurrently with it.
  */
object IndexCompaction {

  /** Bytes per compacted output file — the usual cluster parquet target. */
  val targetBytesPerFile: Long = 128L * 1024 * 1024

  private def pointer(root: String): Path = Paths.get(root, "current.txt")

  /** Resolve the LIVE data directory under `root`: the pointer names it;
    * an absent pointer means the legacy fixed name `data`.
    */
  def dataDir(root: String): Path = {
    val p = pointer(root)
    val name = if (Files.exists(p)) Files.readString(p).trim else "data"
    Paths.get(root, name)
  }

  /** True iff `dir` exists and holds at least one parquet file. */
  def hasParquet(dir: Path): Boolean =
    Files.isDirectory(dir) && {
      val walk = Files.walk(dir)
      try walk.anyMatch(p => p.getFileName.toString.endsWith(".parquet"))
      finally walk.close()
    }

  /** The byte-sized compaction target for the layout at `root` — what
    * [[compact]] aims for and what [[Maintenance]]'s trigger compares the
    * live file count against.
    */
  def targetFiles(root: String): Long =
    math.max(1L, (liveBytes(root) + targetBytesPerFile - 1) / targetBytesPerFile)

  /** Max parquet files in any single leaf directory of the live layout —
    * the partitioned-layout fragmentation measure ([[compact]]'s no-op
    * check: a hive-partitioned index with at most one file per partition
    * has nothing to compact).
    */
  private[operators] def maxFilesPerLeafDir(root: String): Long = {
    val d = dataDir(root)
    if (!Files.isDirectory(d)) return 0L
    val walk = Files.walk(d)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .toSeq.groupBy(_.getParent).map(_._2.size.toLong)
        .maxOption.getOrElse(0L)
    } finally walk.close()
  }

  /** Parquet files currently in the live dir (compaction's fragmentation
    * measure; specs pin it to the post-compaction target).
    */
  def liveFileCount(root: String): Long = {
    val d = dataDir(root)
    if (!Files.isDirectory(d)) return 0L
    val walk = Files.walk(d)
    try walk.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
    finally walk.close()
  }

  private def liveBytes(root: String): Long = {
    val d = dataDir(root)
    if (!Files.isDirectory(d)) return 0L
    val walk = Files.walk(d)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum
    } finally walk.close()
  }

  /** Rewrite the live rows of the index at `root` into a byte-sized file
    * count and publish atomically. `partitionCols` non-empty keeps the
    * hive partitioning (one file per partition value — the IVF cell
    * layout); otherwise the frame coalesces to
    * ceil(bytes / targetBytesPerFile) files, each sorted within by
    * `sortWithin` so file-level column stats stay tight for the keyed
    * scans the delta faces run. No-op (returns false) when the live dir
    * already holds at most the target file count — for a hive-partitioned
    * layout, when no partition dir holds more than one file (round-16
    * ADVICE: the partitioned path previously rewrote the whole index on
    * every call). Orphan sweeping runs either way.
    */
  def compact(spark: SparkSession, root: String,
              partitionCols: Seq[String] = Nil,
              sortWithin: Seq[String] = Nil): Boolean = {
    sweepOrphans(root)
    val live = dataDir(root)
    if (!hasParquet(live)) return false
    val target = targetFiles(root).toInt
    if (partitionCols.isEmpty && liveFileCount(root) <= target) return false
    // partitioned no-op (round-16 ADVICE): one file per partition dir is
    // already the compacted layout — rewriting it would be a full-index
    // rewrite on every maintenance tick
    if (partitionCols.nonEmpty && maxFilesPerLeafDir(root) <= 1L) return false
    val df = spark.read.parquet(live.toString)
    val fresh = Paths.get(root, s"data-${java.util.UUID.randomUUID()}")
    val sortCols: Seq[Column] = sortWithin.map(org.apache.spark.sql.functions.col)
    if (partitionCols.nonEmpty) {
      val parts = partitionCols.map(org.apache.spark.sql.functions.col)
      df.repartition(parts: _*)
        .sortWithinPartitions((parts ++ sortCols): _*)
        .write.partitionBy(partitionCols: _*).parquet(fresh.toString)
    } else {
      val c = df.coalesce(target)
      (if (sortCols.nonEmpty) c.sortWithinPartitions(sortCols: _*) else c)
        .write.parquet(fresh.toString)
    }
    publish(root, fresh.getFileName.toString)
    if (live != fresh) dropSuperseded(live)
    true
  }

  /** Atomically flip the pointer to `dirName` (tmp + ATOMIC_MOVE — the
    * same publish pattern as the index meta). Package-visible:
    * the IVF delete path publishes its affected-cells rewrite the same
    * way.
    */
  private[graft] def publish(root: String, dirName: String): Unit = {
    graft.core.Fs.replaceAtomically(pointer(root), dirName)
  }

  /** Best-effort delete of layouts a published pointer flip superseded:
    * the flip already made the new layout live, so a failed cleanup must
    * not fail the operation (a later [[sweepOrphans]] retries it).
    */
  private[operators] def dropSuperseded(dirs: java.nio.file.Path*): Unit =
    dirs.foreach(d => try graft.core.Fs.deleteTree(d) catch { case scala.util.control.NonFatal(_) => () })

  /** Delete `data-*` dirs a crashed compaction left behind (anything
    * matching the compaction naming scheme that the pointer does not
    * reference). Safe under the single-writer discipline.
    */
  private def sweepOrphans(root: String): Unit = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) return
    val live = dataDir(root).getFileName.toString
    val listing = Files.list(r)
    try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala
        .filter(p => Files.isDirectory(p))
        .filter(n => n.getFileName.toString.startsWith("data-")
          || n.getFileName.toString.startsWith(".rewrite-"))
        .filter(_.getFileName.toString != live)
        .toList
        .foreach(dropSuperseded(_))
    } finally listing.close()
  }
}
