package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}

/** Shared IN-PLACE compaction over the persisted-index layout every
  * incremental index in the repo uses (`root/<live-dir>` of parquet files,
  * `root/meta.txt` of (version, length)) — the round-15 generalization of
  * [[IvfTableIndex.compact]] to the whole delta-index family
  * ([[LshIndex]], [[SimHashIndex]], [[ContainmentIndex]], [[SpanIndex]]).
  *
  * Why it exists: every `refresh` appends one parquet file (or one per
  * touched partition) per span, so a continuously-fed index accumulates
  * N-span small files and EVERY query pays N file opens forever —
  * a round-14 pricing run (PLANS.md "Compaction pricing") measured ~20%
  * probe tax at just 8 files/cell on the IVF layout. Compaction rewrites the live rows into a file-count sized
  * by bytes (128 MiB target per file — 1 file at test scale, proportional
  * at 100 TB), touching no source table and re-deriving nothing: rows,
  * (version, length) meta, and therefore every query result are identical
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

  /** True iff the live layout's rows carry `name` — the legacy-layout
    * probe for takedown propagation: indexes written since round 16 carry
    * `_rowid` (physical-row addressing; deletes anti-join on it), while a
    * pre-round-16 layout only has its key column and falls back to key
    * addressing (documented caveat: key addressing must not be mixed with
    * `upsertBy`, whose replacement rows share the key).
    */
  private[operators] def liveHasColumn(spark: SparkSession, root: String,
                                       name: String): Boolean = {
    val d = dataDir(root)
    hasParquet(d) && spark.read.parquet(d.toString).columns.contains(name)
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

  /** All parquet data files under the live layout at `root`. */
  private def liveParquetFiles(live: Path): Seq[Path] = {
    if (!Files.isDirectory(live)) return Nil
    val walk = Files.walk(live)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
        }
        .toVector.sortBy(_.toString)
    } finally walk.close()
  }

  /** AFFECTED-FILE discovery for takedown propagation — O(affected), not
    * O(index) (round-16 verdict #1): instead of scanning the whole live
    * index through an `input_file_name` semi-join, read each file's
    * [min, max] span of `idCol` from its parquet FOOTER (a few driver-side
    * footer reads, cached per immutable file — the same technique
    * [[graft.core.VectorTable.purge]] uses for table files) and join the
    * spans against the deleted-id set. A span overlap that holds no masked
    * id only costs a harmless extra rewrite (false positives are safe;
    * false negatives are impossible — footer min/max bound every row), and
    * every index span-append covers a contiguous `_rowid` range, so rowid
    * spans stay tight per file even though files sort internally by their
    * key columns. Files whose span can't be proven (missing stats, nulls)
    * are conservatively treated as affected. Returns absolute file paths.
    */
  private[graft] def affectedFilesBySpan(spark: SparkSession, files: Seq[Path],
                                         idCol: String, deleted: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val spanned = files.map(f =>
      f.toString -> graft.core.DirectParquetRead.longColSpan(f.toString, idCol))
    val known = spanned.collect { case (f, Some((lo, hi))) => (f, lo, hi) }
    val unknowable = spanned.collect { case (f, None) => f }
    val affectedKnown =
      if (known.isEmpty) Nil
      else deleted.select(col(idCol))
        .join(broadcast(spark.createDataFrame(known).toDF("__f", "__lo", "__hi")),
          col(idCol) >= col("__lo") && col(idCol) <= col("__hi"))
        .select("__f").distinct().collect().map(_.getString(0)).toSeq
    (affectedKnown ++ unknowable).distinct
  }

  /** TAKEDOWN propagation for the UNPARTITIONED index layouts (the delta
    * family: LSH / SimHash / containment / span, and the key indexes) —
    * the file-granular twin of [[IvfTableIndex]]'s affected-cells rewrite:
    * find the live files that may contain masked ids from driver-side
    * FOOTER spans ([[affectedFilesBySpan]] — never a scan of the index),
    * rewrite ONLY those files' rows minus the deleted ids, HARD-LINK every
    * unaffected file into the fresh layout, and publish behind the atomic
    * pointer flip. A takedown touches a handful of documents, so both the
    * discovery and the rewrite cost are proportional to the files they
    * landed in, never the index. Returns false when no file is affected
    * (nothing published).
    */
  private[graft] def applyDeletesFiles(spark: SparkSession, root: String,
                                       idCol: String, deleted: DataFrame,
                                       sortWithin: Seq[String] = Nil): Boolean = {
    val live = dataDir(root)
    if (!hasParquet(live)) return false
    import org.apache.spark.sql.functions.col
    val files = liveParquetFiles(live)
    val affectedFiles = affectedFilesBySpan(spark, files, idCol, deleted)
    if (affectedFiles.isEmpty) return false
    val affectedNames =
      affectedFiles.map(f => Paths.get(f).getFileName.toString).toSet
    val tmp = Paths.get(root, s".rewrite-${java.util.UUID.randomUUID()}")
    // only the affected files are read — the anti-join may drop every row
    // (kept is then empty and the fresh layout holds just the links)
    val kept = spark.read.parquet(affectedFiles: _*)
      .join(deleted.select(col(idCol)), Seq(idCol), "left_anti")
      .coalesce(math.max(1, affectedNames.size))
    val sortCols = sortWithin.map(org.apache.spark.sql.functions.col)
    (if (sortCols.nonEmpty) kept.sortWithinPartitions(sortCols: _*) else kept)
      .write.parquet(tmp.toString)
    val fresh = Paths.get(root, s"data-${java.util.UUID.randomUUID()}")
    Files.createDirectories(fresh)
    val tmpList = Files.list(tmp)
    try tmpList.iterator().forEachRemaining { p =>
      if (p.getFileName.toString.endsWith(".parquet"))
        Files.move(p, fresh.resolve(p.getFileName.toString))
    } finally tmpList.close()
    files.filterNot(p => affectedNames.contains(p.getFileName.toString))
      .foreach(f => graft.core.Fs.linkOrCopy(f, fresh.resolve(f.getFileName.toString)))
    publish(root, fresh.getFileName.toString)
    dropSuperseded(tmp, live)
    true
  }

  /** The outcome of a restore catch-up: refresh must re-span from
    * `newLength` and gate its delete pass against `maskFloor` (and must
    * RUN that pass — re-spanned rows include currently-masked ones, which
    * the pass scrubs like any appended-then-deleted span).
    */
  private[graft] final case class RestoreCatchUp(newLength: Long, maskFloor: Long,
                                                 droppedFiles: Int)

  /** RESTORE CATCH-UP for incremental refresh (round 18, replacing the
    * round-17 loud-fail guard): a [[graft.core.VectorTable.restore]]
    * rewinds the head and later appends REUSE the dropped rowid range
    * with different content, which an append-only span refresh cannot see
    * (`length <= indexedLength` reads as "nothing new" while the indexed
    * prefix's content changed under it). The manifest's restore-epoch
    * counter detects it; instead of demanding a rebuild, refresh now
    * catches up in O(affected spans):
    *
    *   1. walk the manifest versions committed since the index's last
    *      consumption and find every restore commit (the version whose
    *      `restores` bumped IS the restored-to manifest, so its `length`
    *      is the reused-rowid floor); the catch-up floor is the MIN over
    *      those, capped at the indexed length;
    *   2. drop exactly the index span files whose footer rowid span
    *      intersects [floor, ∞) — every span append covers a contiguous
    *      rowid range, so the footer [min, max] is tight; a dropped file
    *      reaching below the floor lowers it (fixpoint), so re-spanning
    *      can never duplicate a kept row. Kept files HARD-LINK into a
    *      fresh dir behind the atomic pointer flip (crash-safe: the old
    *      layout stays live until publish, and meta still carries the old
    *      epoch, so a crashed catch-up simply re-runs);
    *   3. the caller re-spans [newLength, head) — reindexing the restored
    *      range from current content — records the new epoch in its meta
    *      write, and resumes normal incremental refresh.
    *
    * Falls back to newLength = 0 — an IN-PLACE re-derive, cost O(table),
    * never a manual rebuild — when the walk can't prove the cheap path
    * sound: vacuumed/missing manifest versions, or a restore that rewound
    * MASK state the index had already consumed (`maskCount + purged` at
    * some bump below the index's consumed total — anti-joined rows would
    * need resurrecting, which dropped-span arithmetic can't do; dropping
    * everything re-derives them).
    *
    * Legacy layouts (no rowid column) still fail loudly: nothing
    * addresses their rows physically, so only a rebuild is sound there.
    *
    * Returns None when no restore happened (the common path — ZERO cost:
    * one long comparison).
    */
  private[graft] def restoreCatchUp(spark: SparkSession, root: String,
                                    table: graft.core.VectorTable,
                                    m: graft.core.Manifest,
                                    indexedVersion: Long, indexedLength: Long,
                                    indexedMask: Long, indexedRestores: Long,
                                    rowidCol: String = graft.core.VectorTable.ROWID):
      Option[RestoreCatchUp] = {
    if (m.restores == indexedRestores) return None
    val live = dataDir(root)
    if (hasParquet(live) && !liveHasColumn(spark, root, rowidCol))
      throw new IllegalStateException(
        s"index at $root was built at restore-epoch $indexedRestores but the " +
          s"table is at epoch ${m.restores}: its legacy layout has no " +
          s"$rowidCol column to span-address, so the restored range cannot " +
          "be dropped incrementally — rebuild the index")
    // the restored-to lengths: every version whose restore counter bumped
    // is the restore commit itself (a copy of the target manifest), so its
    // length is the floor below which rowids may have been reused. The
    // walk needs every intermediate version — a vacuumed gap or a missing
    // file falls back to the full re-derive.
    val versions = table.versions.filter(v => v > indexedVersion && v <= m.version)
    val contiguous = versions.nonEmpty && versions.head == indexedVersion + 1 &&
      versions.zip(versions.drop(1)).forall { case (a, b) => b == a + 1 }
    val bumps: Option[Vector[graft.core.Manifest]] =
      if (!contiguous) None
      else try {
        var prev = indexedRestores
        val out = Vector.newBuilder[graft.core.Manifest]
        versions.foreach { v =>
          val mv = graft.core.Manifest.loadVersion(table.root, v)
          if (mv.restores > prev) out += mv
          prev = mv.restores
        }
        Some(out.result())
      } catch { case scala.util.control.NonFatal(_) => None }
    val (floor, maskFloor) = bumps match {
      // the cheap path also needs every bump's tombstone total at or above
      // what the index consumed: a restore that rewound consumed mask
      // state resurrects rows the kept prefix already anti-joined away
      case Some(bs) if bs.nonEmpty &&
          bs.forall(b => b.maskCount + b.purged >= indexedMask) =>
        (math.min(bs.map(_.length).min, indexedLength), indexedMask)
      case _ => (0L, 0L)
    }
    var cut = floor
    var dropped = 0
    // the re-span floor additionally bounds by what the KEPT layout
    // actually covers: a catch-up that crashed after its pointer flip but
    // before re-span/meta re-runs here with the already-truncated layout,
    // and the bump floor alone would then overstate the indexed prefix.
    var keptHi = -1L
    if (hasParquet(live)) {
      val files = liveParquetFiles(live)
      // fixpoint: dropping a file that dips below the cut lowers the cut
      // (span files are contiguous-rowid, so one pass usually suffices)
      val drop = scala.collection.mutable.Set[Path]()
      var changed = true
      while (changed) {
        changed = false
        files.filterNot(drop.contains).foreach { f =>
          val span = graft.core.DirectParquetRead.longColSpan(f.toString, rowidCol)
          val affected = span match {
            case Some((_, hi)) => hi >= cut
            // no usable span: affected unless provably EMPTY (a 0-row
            // schema-carrier file holds nothing stale)
            case None => parquetRowCount(f) != 0L
          }
          if (affected) {
            drop += f
            span.foreach { case (lo, _) => if (lo < cut) { cut = lo; changed = true } }
          }
        }
      }
      files.filterNot(drop.contains).foreach { f =>
        graft.core.DirectParquetRead.longColSpan(f.toString, rowidCol)
          .foreach { case (_, hi) => if (hi > keptHi) keptHi = hi }
      }
      if (drop.nonEmpty) {
        dropped = drop.size
        // kept files hard-link into a fresh layout, RELATIVE paths kept
        // (the IVF layout is hive-partitioned by cell), published behind
        // the pointer flip — same crash discipline as compact()
        val fresh = Paths.get(root, s"data-${java.util.UUID.randomUUID()}")
        Files.createDirectories(fresh)
        files.filterNot(drop.contains).foreach { f =>
          val dst = fresh.resolve(live.relativize(f).toString)
          Files.createDirectories(dst.getParent)
          graft.core.Fs.linkOrCopy(f, dst)
        }
        publish(root, fresh.getFileName.toString)
        dropSuperseded(live)
      }
    }
    // rows in (keptHi, cut) absent from the kept files are exactly the
    // scrubbed-masked (or purged) ones; re-spanning them re-adds masked
    // rows that the forced delete pass scrubs again — never a live-row
    // duplicate, never a loss
    Some(RestoreCatchUp(math.min(cut, keptHi + 1L), maskFloor, dropped))
  }

  /** Footer row count (0 when unreadable — treat as empty-safe only for
    * files we would otherwise drop on a missing span).
    */
  private def parquetRowCount(f: Path): Long =
    try {
      val reader = graft.core.DirectParquetRead.openFile(f.toString)
      try reader.getRecordCount finally reader.close()
    } catch { case _: Throwable => -1L }

  /** The deleted-key frame an index refresh must anti-join away, given how
    * far the table's MONOTONIC tombstone total (maskCount + purged) has
    * advanced past what the index last consumed (round-16 ADVICE: gating
    * on raw maskCount equality is unsound once [[graft.core.VectorTable.purge]]
    * resets the mask — see each index's `refresh`).
    *
    *   - `maskOnly` (the normal flow — every tombstone since the last
    *     consumption is still in the mask): the masked rows' keys, one
    *     cheap pruned read;
    *   - otherwise (a purge erased masks the index never consumed — a flow
    *     violation of the propagate-before-purge order
    *     [[Takedown.everywhere]] enforces): RECONCILE against physical
    *     existence — index keys that no longer exist in the table's
    *     physical surface, unioned with the current mask. This pays one
    *     slim-column pass over index + table keys; it is the self-healing
    *     recovery path, not the steady-state cost.
    *
    * `tableCol` names the key in the table, `idxKey` its name in the index
    * rows (the key indexes store rowid as `r`).
    */
  private[graft] def deletedKeys(table: graft.core.VectorTable, tableCol: String,
                                 idxKey: String, liveIndexKeys: () => DataFrame,
                                 maskOnly: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val masked = table.maskedScan().select(col(tableCol).as(idxKey))
    if (maskOnly) masked
    else liveIndexKeys().select(col(idxKey)).distinct()
      .join(table.scan().select(col(tableCol).as(idxKey)), Seq(idxKey), "left_anti")
      .unionByName(masked).distinct().localCheckpoint()
  }

  /** Atomically flip the pointer to `dirName` (tmp + ATOMIC_MOVE — the
    * same publish pattern as every index's writeMeta). Package-visible:
    * the IVF delete path publishes its affected-cells rewrite the same
    * way.
    */
  private[graft] def publish(root: String, dirName: String): Unit = {
    graft.core.Fs.replaceAtomically(pointer(root), dirName)
  }

  /** Publish an index's `meta.txt` — (version, covered table length,
    * applied mask, restores) — with the same atomic replace.
    */
  private[operators] def writeMeta(root: String, version: Long, length: Long,
                                   mask: Long, restores: Long): Unit =
    graft.core.Fs.replaceAtomically(Paths.get(root, "meta.txt"), s"$version,$length,$mask,$restores")

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
