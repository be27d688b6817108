package graft.operators

import graft.core.{Manifest, VectorTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}

import IndexCompaction.{dataDir, dropSuperseded, hasParquet, publish}

/** What a derived index records of its source [[VectorTable]]: the
  * manifest version and length it covers, the tombstone total
  * (maskCount + purged) its rows have consumed, the restore epoch it was
  * derived at, and — for [[graft.core.MultiIndex]] — its key columns.
  */
final case class IndexMeta(version: Long, length: Long, mask: Long, restores: Long,
                           keys: Seq[String] = Nil)

object IndexMeta {
  /** The watermark of an index current to manifest `m`. */
  def of(m: Manifest, keys: Seq[String] = Nil): IndexMeta =
    IndexMeta(m.version, m.length, m.maskCount + m.purged, m.restores, keys)
}

/** What every derived index exposes: its root, the accessors over its
  * [[IndexMeta]], and refresh.
  */
trait DerivedIndex {
  def root: String
  private[graft] def meta: IndexMeta

  def builtFromVersion: Long = meta.version
  def indexedLength: Long = meta.length
  def indexedMask: Long = meta.mask
  def indexedRestores: Long = meta.restores

  /** True iff the table has committed batches past the index build. */
  def isStale(table: VectorTable): Boolean =
    table.manifest.version > builtFromVersion

  /** Index the span appended since and apply the deletes committed since
    * ([[IndexMaintenance.refresh]]); a no-op returns `this`.
    */
  def refresh(table: VectorTable): DerivedIndex
}

/** The one maintenance protocol of the seven indexes derived from a
  * [[VectorTable]] — [[LshIndex]], [[SimHashIndex]], [[SpanIndex]],
  * [[ContainmentIndex]], [[IvfTableIndex]], [[graft.core.SecondaryIndex]]
  * and [[graft.core.MultiIndex]]. Each index supplies only what differs:
  * its span-row writer, its sort key (IVF: its `cell` partitioning), its
  * empty-schema frame and its accessor; IVF also its per-cell delete
  * rewrite. Everything else is here: the `meta.txt` codec, the refresh
  * sequence ([[refresh]]), restore catch-up, the tombstone-total gate, the
  * legacy-layout probe and the file-granular delete pass. The layout
  * itself (live-dir pointer, compaction) is [[IndexCompaction]]'s.
  */
object IndexMaintenance {

  private def metaFile(root: String): Path = Paths.get(root, "meta.txt")

  /** An index's watermark. Reads every form ever written: `meta.txt` as
    * "version,length", "version,length,mask" or
    * "version,length,mask,restores", followed by one key column per line
    * for a [[graft.core.MultiIndex]]; and the older
    * [[graft.core.SecondaryIndex]] `version.txt`, one field per line.
    * Missing fields read 0.
    */
  private[graft] def readMeta(root: String): IndexMeta = {
    val secondary = Paths.get(root, "version.txt")
    val (fields, keys) =
      if (!Files.exists(metaFile(root)) && Files.exists(secondary))
        (Files.readString(secondary).trim.linesIterator.toSeq, Nil)
      else {
        val lines = Files.readString(metaFile(root)).trim.linesIterator.toSeq
        (lines.head.split(",").toSeq, lines.tail)
      }
    val n = fields.map(_.trim.toLong).padTo(4, 0L)
    IndexMeta(n(0), n(1), n(2), n(3), keys)
  }

  /** Publish `meta` as `root/meta.txt` (tmp file + atomic move — a crash
    * leaves the old watermark or the new one, never a torn file).
    */
  private def writeMeta(root: String, meta: IndexMeta): Unit =
    graft.core.Fs.replaceAtomically(metaFile(root),
      (s"${meta.version},${meta.length},${meta.mask},${meta.restores}" +: meta.keys).mkString("\n"))

  /** Build an index under `root` over the table's current contents:
    * `write` gets the covered length (every index writes LIVE rows or the
    * whole span `[0, length)`, or its empty-schema frame when it is 0),
    * then the watermark publishes.
    */
  private[graft] def build(table: VectorTable, root: String, keys: Seq[String] = Nil)(
      write: Long => Unit): IndexMeta = {
    val meta = IndexMeta.of(table.manifest, keys)
    Files.createDirectories(Paths.get(root))
    write(meta.length)
    writeMeta(root, meta)
    meta
  }

  /** Append span rows to the live layout; a legacy layout (`withRowid`
    * false) keeps its `_rowid`-free shape.
    */
  private[graft] def appendRows(rows: DataFrame, root: String, withRowid: Boolean): Unit =
    (if (withRowid) rows else rows.drop(VectorTable.ROWID))
      .write.mode("append").parquet(dataDir(root).toString)

  /** The delete pass one refresh owes: index rows addressed by `key` whose
    * value [[ids]] lists must go. `maskOnly` says the table's mask still
    * holds every tombstone since the last refresh (see [[deletedKeys]]).
    */
  final class Deletes private[IndexMaintenance] (spark: SparkSession, root: String,
                                                 val key: String, val maskOnly: Boolean,
                                                 deleted: () => DataFrame) {
    def ids: DataFrame = deleted()

    /** The flat layouts' pass: rewrite only the files that may hold a
      * deleted key, sorted within by `sortWithin` ([[applyDeletesFiles]]).
      */
    def rewriteFiles(sortWithin: Seq[String]): Unit =
      applyDeletesFiles(spark, root, key, ids, sortWithin)
  }

  /** REFRESH an index at `at` over `table`, in this order:
    *
    *   1. restore catch-up ([[restoreCatchUp]]) — a restored table drops
    *      the index spans at or above the restored-to floor;
    *   2. the gate: nothing to do (`None`) unless the table grew past the
    *      indexed length, its tombstone total moved, or a catch-up ran.
    *      The total is MONOTONIC (maskCount + purged): a purge resets
    *      maskCount, so raw equality could silently skip delete
    *      propagation once later deletes grow the count back; a purge
    *      moves tombstones between the two terms without changing the sum,
    *      so a consumed-then-purged mask stays quiet;
    *   3. the legacy probe, BEFORE the span append: an index whose layout
    *      predates `rowidCol` (only those with a `legacyKey`) stays legacy
    *      — appending `rowidCol`-carrying files would leave a mixed schema
    *      whose old rows read it as NULL and dodge the anti-join — and
    *      deletes by `legacyKey` (which must not be mixed with `upsertBy`,
    *      whose replacement rows share the key);
    *   4. the span append: `writeSpan(start, count, withRowid)` indexes
    *      only the rows appended since (the indexed prefix is immutable and
    *      never re-scanned);
    *   5. the delete pass, run when the tombstone total moved or a catch-up
    *      ran (the re-spanned range re-included masked rows). It
    *      anti-joins on the physical row (`rowidCol`): the mask holds every
    *      row ever superseded, including rows `upsertBy` replaced, so a
    *      business-key anti-join would also delete the live replacement's
    *      rows the span write just added. Appended-then-deleted rows are
    *      scrubbed too, because the append lands first;
    *   6. the watermark publishes.
    *
    * `rows` reads the live index rows (fresh — the reconcile path of
    * [[deletedKeys]] reads it after the append). Returns the new
    * watermark, or `None` when the index was already current.
    */
  private[graft] def refresh(table: VectorTable, root: String, at: IndexMeta,
                             rows: () => DataFrame, legacyKey: Option[String],
                             rowidCol: String = VectorTable.ROWID)(
      writeSpan: (Long, Long, Boolean) => Unit,
      deletes: Deletes => Unit): Option[IndexMeta] = {
    val spark = table.spark
    val m = table.manifest
    val cu = restoreCatchUp(spark, root, table, m, at, rowidCol)
    val effLen = cu.map(_.newLength).getOrElse(at.length)
    val effMask = cu.map(_.maskFloor).getOrElse(at.mask)
    val tomb = m.maskCount + m.purged
    if (cu.isEmpty && m.length <= effLen && tomb == effMask) return None
    val legacy = legacyKey.filter(_ =>
      hasParquet(dataDir(root)) && !liveHasColumn(spark, root, rowidCol))
    if (m.length > effLen) writeSpan(effLen, m.length - effLen, legacy.isEmpty)
    if (cu.isDefined || tomb != effMask) {
      val maskOnly = tomb >= effMask && tomb - effMask <= m.maskCount
      val (tableKey, key) = legacy.fold((VectorTable.ROWID, rowidCol))(k => (k, k))
      deletes(new Deletes(spark, root, key, maskOnly,
        () => deletedKeys(table, tableKey, key, () => rows().select(key), maskOnly)))
    }
    val next = IndexMeta.of(m, at.keys)
    writeMeta(root, next)
    Some(next)
  }

  /** True iff the live layout's rows carry `name` — the legacy-layout
    * probe for takedown propagation: indexes written since round 16 carry
    * `_rowid` (physical-row addressing; deletes anti-join on it), while a
    * pre-round-16 layout only has its key column and falls back to key
    * addressing (documented caveat: key addressing must not be mixed with
    * `upsertBy`, whose replacement rows share the key).
    */
  private def liveHasColumn(spark: SparkSession, root: String, name: String): Boolean = {
    val d = dataDir(root)
    hasParquet(d) && spark.read.parquet(d.toString).columns.contains(name)
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
  private def affectedFilesBySpan(spark: SparkSession, files: Seq[Path],
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
  private def applyDeletesFiles(spark: SparkSession, root: String, idCol: String,
                                deleted: DataFrame, sortWithin: Seq[String]): Boolean = {
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
  private final case class RestoreCatchUp(newLength: Long, maskFloor: Long)

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
  private def restoreCatchUp(spark: SparkSession, root: String, table: VectorTable,
                             m: Manifest, at: IndexMeta,
                             rowidCol: String): Option[RestoreCatchUp] = {
    if (m.restores == at.restores) return None
    val live = dataDir(root)
    if (hasParquet(live) && !liveHasColumn(spark, root, rowidCol))
      throw new IllegalStateException(
        s"index at $root was built at restore-epoch ${at.restores} but the " +
          s"table is at epoch ${m.restores}: its legacy layout has no " +
          s"$rowidCol column to span-address, so the restored range cannot " +
          "be dropped incrementally — rebuild the index")
    // the restored-to lengths: every version whose restore counter bumped
    // is the restore commit itself (a copy of the target manifest), so its
    // length is the floor below which rowids may have been reused. The
    // walk needs every intermediate version — a vacuumed gap or a missing
    // file falls back to the full re-derive.
    val versions = table.versions.filter(v => v > at.version && v <= m.version)
    val contiguous = versions.nonEmpty && versions.head == at.version + 1 &&
      versions.zip(versions.drop(1)).forall { case (a, b) => b == a + 1 }
    val bumps: Option[Vector[Manifest]] =
      if (!contiguous) None
      else try {
        var prev = at.restores
        val out = Vector.newBuilder[Manifest]
        versions.foreach { v =>
          val mv = Manifest.loadVersion(table.root, v)
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
          bs.forall(b => b.maskCount + b.purged >= at.mask) =>
        (math.min(bs.map(_.length).min, at.length), at.mask)
      case _ => (0L, 0L)
    }
    var cut = floor
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
    Some(RestoreCatchUp(math.min(cut, keptHi + 1L), maskFloor))
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
    * resets the mask — see [[refresh]]).
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
  private def deletedKeys(table: VectorTable, tableCol: String, idxKey: String,
                          liveIndexKeys: () => DataFrame, maskOnly: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val masked = table.maskedScan().select(col(tableCol).as(idxKey))
    if (maskOnly) masked
    else liveIndexKeys().select(col(idxKey)).distinct()
      .join(table.scan().select(col(tableCol).as(idxKey)), Seq(idxKey), "left_anti")
      .unionByName(masked).distinct().localCheckpoint()
  }

}
