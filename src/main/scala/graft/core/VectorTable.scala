package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BatchParam
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** A committed batch of rows covering the dense rowid range [start, end). */
final case class BatchInfo(id: Long, start: Long, end: Long, relPath: String)

/** Table manifest — the Spark analog of the reference's 8-byte length
  * header + length-mutex reservation (reference:
  * src/services/dynamic_vector_manage_service.rs:56-85, :291-298).
  *
  * One small text file per committed version under `_graft/`; commit is an
  * atomic create-if-absent of the next version file (optimistic, serialized
  * — the reference is likewise single-writer-serialized through its mutex).
  * `length` is readable in O(1) without touching data files, exactly like
  * the reference's header read (dynamic_vector_manage_service.rs:72-79).
  */
final case class Manifest(version: Long, length: Long, layout: String, batches: Vector[BatchInfo],
                          streamBatch: Long = -1L, encoding: String = "dictionary",
                          schemaJson: String = "", mixedSchema: Boolean = false,
                          zstats: Map[Long, Seq[ZoneMaps.ColStats]] = Map.empty,
                          maskPath: String = "", maskCount: Long = 0L,
                          restores: Long = 0L, purged: Long = 0L) {
  def serialize: String = {
    val header = Seq(s"version=$version", s"length=$length", s"layout=$layout",
        s"encoding=$encoding") ++
      (if (streamBatch >= 0L) Seq(s"streamBatch=$streamBatch") else Nil) ++
      (if (schemaJson.nonEmpty) Seq(s"schema=$schemaJson") else Nil) ++
      (if (mixedSchema) Seq("mixedSchema=true") else Nil) ++
      (if (maskPath.nonEmpty) Seq(s"maskPath=$maskPath", s"maskCount=$maskCount") else Nil) ++
      // rows PHYSICALLY removed from current-version files by purge():
      // length stays the rowid high-water mark (rowids are never reused),
      // so the live count is length - maskCount - purged
      (if (purged > 0L) Seq(s"purged=$purged") else Nil) ++
      // restore-epoch counter: bumped by every restore() commit so derived
      // artifacts (materialized views) can tell "head advanced" from "head
      // was rewound and regrown over a reused rowid range" — a length
      // comparison cannot (see MaterializedAggView.refresh).
      (if (restores > 0L) Seq(s"restores=$restores") else Nil)
    val lines = batches.map(b => s"batch=${b.id},${b.start},${b.end},${b.relPath}")
    val zlines = zstats.toSeq.sortBy(_._1).flatMap { case (id, css) =>
      css.map(cs => ZoneMaps.serializeLine(id, cs))
    }
    (header ++ lines ++ zlines).mkString("\n") + "\n"
  }
}

object Manifest {
  private val FilePattern = "manifest-v(\\d{12})\\.txt".r

  def metaDir(root: String): Path = Paths.get(root, "_graft")

  def parse(text: String): Manifest = {
    StoreCounters.manifestParses.increment()
    val kv = text.linesIterator.filter(_.nonEmpty).toVector
    def field(k: String): String =
      kv.collectFirst { case l if l.startsWith(k + "=") => l.drop(k.length + 1) }
        .getOrElse(throw new IllegalStateException(s"manifest missing $k"))
    val batches = kv.collect { case l if l.startsWith("batch=") =>
      val Array(id, s, e, p) = l.drop(6).split(",", 4)
      BatchInfo(id.toLong, s.toLong, e.toLong, p)
    }
    val streamBatch = kv.collectFirst {
      case l if l.startsWith("streamBatch=") => l.drop("streamBatch=".length).toLong
    }.getOrElse(-1L)
    // older manifests predate the encoding field — they were all dictionary-written
    val encoding = kv.collectFirst {
      case l if l.startsWith("encoding=") => l.drop("encoding=".length)
    }.getOrElse("dictionary")
    val schemaJson = kv.collectFirst {
      case l if l.startsWith("schema=") => l.drop("schema=".length)
    }.getOrElse("")
    val mixedSchema = kv.exists(_ == "mixedSchema=true")
    val zstats = kv.collect { case l if l.startsWith("zstat=") => l.drop(6) }
      .flatMap(ZoneMaps.parseLine)
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val maskPath = kv.collectFirst {
      case l if l.startsWith("maskPath=") => l.drop("maskPath=".length)
    }.getOrElse("")
    val maskCount = kv.collectFirst {
      case l if l.startsWith("maskCount=") => l.drop("maskCount=".length).toLong
    }.getOrElse(0L)
    // manifests predating the restore-epoch counter never saw a restore
    val restores = kv.collectFirst {
      case l if l.startsWith("restores=") => l.drop("restores=".length).toLong
    }.getOrElse(0L)
    // manifests predating purge() never physically removed a row
    val purged = kv.collectFirst {
      case l if l.startsWith("purged=") => l.drop("purged=".length).toLong
    }.getOrElse(0L)
    Manifest(field("version").toLong, field("length").toLong, field("layout"), batches,
      streamBatch, encoding, schemaJson, mixedSchema, zstats, maskPath, maskCount,
      restores, purged)
  }

  /** The manifest of a table with no committed version. */
  val empty: Manifest = Manifest(0L, 0L, "dynamic", Vector.empty)

  /** Latest committed manifest, or [[empty]] for a new table: one listing,
    * one read, one parse. Readers go through [[VectorTable.manifest]],
    * which reuses its revalidated head instead.
    */
  def load(root: String): Manifest =
    listVersions(root).lastOption.fold(empty)(loadVersion(root, _))

  def fileName(version: Long): String = f"manifest-v$version%012d.txt"

  /** All committed versions, ascending: one `_graft/` listing. */
  def listVersions(root: String): Seq[Long] = {
    val dir = metaDir(root)
    if (!Files.isDirectory(dir)) Nil
    else {
      StoreCounters.manifestListings.increment()
      Fs.list(dir)
        .flatMap(p => FilePattern.findFirstMatchIn(p.getFileName.toString).map(_.group(1).toLong))
        .sorted
    }
  }

  /** A specific committed version (throws if absent). */
  def loadVersion(root: String, version: Long): Manifest =
    parse(Files.readString(metaDir(root).resolve(fileName(version))))

  /** Commit `m` as the next version; create-if-absent gives atomicity. */
  def commit(root: String, m: Manifest): Unit = { write(root, m.version, m.serialize); () }

  /** Create-if-absent publish of version `version`'s `text`; returns the
    * file. It is never seen partial: reads overlap commits, and a reader
    * that found the version file created but not yet written would parse
    * an empty manifest, or a truncated one whose header claims rows its
    * batch lines do not cover (see [[Fs.createComplete]]).
    */
  private[core] def write(root: String, version: Long, text: String): Path = {
    val dir = metaDir(root)
    Files.createDirectories(dir)
    val file = dir.resolve(fileName(version))
    Fs.createComplete(file, text.getBytes(UTF_8))
    file
  }
}

/** Parquet-backed, append-only, rowid-addressed table — the reference's
  * `VectorEngine` data model (SURVEY.md §1) re-expressed Spark-first.
  *
  * - Dense `_rowid` (insertion order) is assigned per append batch by
  *   offsetting `zipWithIndex` from the manifest high-water mark; within a
  *   batch, partition boundaries carve contiguous sorted rowid ranges, so
  *   every written parquet file carries tight min/max `_rowid` stats.
  * - Point/range reads prune twice: driver-side on the manifest's per-batch
  *   [start,end) ranges (skips whole batch directories without listing
  *   them), then on parquet row-group stats via the pushed `_rowid` filter.
  *   At 100 TB this means a `pull` touches one file's footer + one row
  *   group, never a full scan.
  * - The static/dynamic layout split (reference
  *   static_vector_manage_service.rs vs dynamic_vector_manage_service.rs)
  *   maps onto Parquet encoding choice: all-fixed-width (static) batches are
  *   written with dictionary encoding off (PLAIN pages decode by stride —
  *   the reference's static read), variable-width (dynamic) batches keep
  *   dictionary encoding. The classification (SchemaIntrospect) and the
  *   chosen encoding are recorded in the manifest.
  */
final class VectorTable(val spark: SparkSession, val root: String) {
  import VectorTable.ROWID

  /** The newest head this instance has read or committed; null until the
    * first read. Every use revalidates it ([[VectorTable.Snapshot.isHead]]).
    */
  @volatile private var head: VectorTable.Snapshot = null

  /** The committed head as one immutable snapshot. The cached head is
    * reused while it provably still is the head: no `manifest-v(version+1)`
    * exists (every commit path creates exactly head + 1, create-if-absent,
    * and vacuum only deletes older versions) and the head file is the same
    * file with the same bytes (a root deleted and recreated at the same
    * version count has a new head file, even where its bytes match).
    * Otherwise the versions are listed and the newest is read and parsed
    * again. A warm read thus costs two stats and one small file read,
    * never a listing or a parse.
    */
  private[core] def snapshot: VectorTable.Snapshot = {
    val h = head
    if (h != null && h.isHead) { StoreCounters.manifestReused.increment(); h }
    else {
      StoreCounters.manifestReloaded.increment()
      val fresh = Manifest.listVersions(root).lastOption.fold(VectorTable.Snapshot.empty)(v =>
        VectorTable.Snapshot.read(Manifest.metaDir(root).resolve(Manifest.fileName(v))))
      head = fresh
      fresh
    }
  }

  def manifest: Manifest = snapshot.manifest

  /** Commit `m` as the next version (create-if-absent) and install it as
    * this instance's head. Callers hold `commitLock`.
    */
  private def commit(m: Manifest): Unit = {
    val file = Manifest.write(root, m.version, m.serialize)
    // the commit stands even if reading it back fails: the next read reloads
    head = try VectorTable.Snapshot.read(file) catch { case NonFatal(_) => null }
  }

  /** Opened-DataFrame cache keyed by the exact batch-path set: repeated
    * point/range reads against an unchanged manifest reuse the relation
    * (and Spark's cached FileIndex) instead of re-listing files — the
    * serving-path analog of the reference keeping its file handles open
    * (file_access_service.rs). Invalidation is structural: a new append
    * produces a new key.
    */
  private val openCache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def open(paths: Seq[String], mergeSchema: Boolean = false): DataFrame = {
    val key = (if (mergeSchema) "M" else "P") + paths.mkString("\u0000")
    val hit = openCache.get(key)
    if (hit != null) { StoreCounters.openHits.increment(); hit }
    else openCache.computeIfAbsent(key, _ => {
      StoreCounters.openMisses.increment()
      val r = spark.read
      (if (mergeSchema) r.option("mergeSchema", "true") else r).parquet(paths: _*)
    })
  }

  /** O(1) record count — reference `len()` (src/vector_engine.rs:29). */
  def length: Long = manifest.length

  def isEmpty: Boolean = length == 0L

  /** Bulk append preserving input order — reference `pushx`
    * (src/vector_engine.rs:26). Returns the first assigned rowid.
    * Serialized commits (synchronized + create-if-absent manifest) mirror
    * the reference's locked index reservation; a cross-process collision
    * surfaces as a clear conflict error (the reference's mutex is likewise
    * per-process).
    *
    * Dense rowids without a global bottleneck: one light pass counts rows
    * per partition, then each partition stamps its contiguous range —
    * `monotonically_increasing_id` would leave gaps and a global
    * `row_number` would funnel everything through one task (SURVEY.md
    * §7.3). Knowing the total upfront also lets the writer size output
    * files (`targetRowsPerFile`) so a 100-row streaming micro-batch lands
    * as 1 file, not defaultParallelism files.
    */
  def append(df: DataFrame, targetRowsPerFile: Long = 4_000_000L,
             streamBatchId: Option[Long] = None): Long =
    VectorTable.commitLock.synchronized {
      val m = manifest
      // Idempotent replay guard for streaming ingest: foreachBatch is
      // at-least-once (a crash after append but before the checkpoint commit
      // replays the micro-batch), so the manifest records the highest applied
      // stream batch id and replays of it become no-ops.
      streamBatchId.foreach { id =>
        if (id <= m.streamBatch) return m.length
      }
      val start = m.length
      val schema = df.schema
      val (widened, mixed) = widenSchema(m, schema)

      // The two-pass count+stamp scheme runs on InternalRows
      // (queryExecution.toRdd): df.rdd would box every value into a
      // GenericRow and back — measured ~2× slower end-to-end at 1M rows.
      // toRdd iterators REUSE the UnsafeRow, so rows are copied before the
      // persist; the persist itself guards determinism — a shuffle-fed
      // input recomputed between the two jobs could reorder rows and break
      // the input-order rowid contract.
      //
      // Driver-local inputs (pushx of a Seq → LocalRelation) skip both
      // guards: the rows are already materialized distinct objects in
      // driver memory and re-iteration is trivially order-stable, so the
      // copy+persist materialization is pure overhead (~2 s at 1M rows).
      val isLocal = df.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      val rdd =
        if (isLocal) df.queryExecution.toRdd
        else df.queryExecution.toRdd.map(_.copy())
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val counts = rdd.mapPartitionsWithIndex { (pid, it) =>
          Iterator((pid, it.size.toLong))
        }.collect().sortBy(_._1).map(_._2).toSeq
        commitStamped(m, schema, widened, mixed, rdd, counts, start,
          targetRowsPerFile, streamBatchId)
      } finally if (!isLocal) rdd.unpersist(blocking = false)
    }

  /** Bulk append of pre-encoded rows with known per-slice sizes — the
    * driver-local `pushx` fast path. The distributed count pass is
    * unnecessary (slice sizes are known on the driver) and so is the
    * order-stability persist (slices are immutable in-memory arrays), so
    * the whole commit is ONE Spark job: stamp + parquet encode. Each slice
    * becomes exactly one task (`parallelize(slices, slices.size)` puts one
    * element per partition), so rowid ranges stay contiguous per partition.
    */
  private[graft] def appendEncoded(
      schema: StructType,
      slices: Seq[Array[org.apache.spark.sql.catalyst.InternalRow]],
      targetRowsPerFile: Long = 4_000_000L,
      streamBatchId: Option[Long] = None): Long =
    VectorTable.commitLock.synchronized {
      val m = manifest
      streamBatchId.foreach { id =>
        if (id <= m.streamBatch) return m.length
      }
      val start = m.length
      val (widened, mixed) = widenSchema(m, schema)
      val nonEmpty = slices.filter(_.nonEmpty)
      require(nonEmpty.nonEmpty, "appendEncoded requires at least one row")
      val rdd = spark.sparkContext.parallelize(nonEmpty, nonEmpty.size)
        .mapPartitions(_.flatMap(_.iterator))
      commitStamped(m, schema, widened, mixed, rdd, nonEmpty.map(_.length.toLong),
        start, targetRowsPerFile, streamBatchId)
    }

  /** Schema evolution policy: additive nullable columns only. Every
    * recorded column must reappear with the same type (no drops, no
    * retypes — silent truncation at read time otherwise); new columns
    * must be nullable so earlier batches can surface them as NULL
    * through a merged-schema scan. Returns (widest schema, mixed flag).
    */
  private def widenSchema(m: Manifest, schema: StructType): (StructType, Boolean) = {
    require(!schema.fieldNames.contains(ROWID), s"input must not carry $ROWID")
    val prevSchema =
      if (m.schemaJson.isEmpty) None
      else Some(DataType.fromJson(m.schemaJson).asInstanceOf[StructType])
    val widened = prevSchema match {
      case None => schema
      case Some(p) =>
        p.fields.foreach { f =>
          val nf = schema.fields.find(_.name == f.name).getOrElse(
            throw new IllegalArgumentException(
              s"schema evolution: column '${f.name}' missing from append — drops are not allowed"))
          if (nf.dataType != f.dataType)
            throw new IllegalArgumentException(
              s"schema evolution: column '${f.name}' changed type ${f.dataType.sql} -> ${nf.dataType.sql}")
        }
        val added = schema.fields.filterNot(f => p.fieldNames.contains(f.name))
        added.foreach { f =>
          if (!f.nullable)
            throw new IllegalArgumentException(
              s"schema evolution: new column '${f.name}' must be nullable (earlier rows have no value)")
        }
        StructType(p.fields ++ added)
    }
    (widened, m.mixedSchema || prevSchema.exists(_ != schema))
  }

  /** Stamp dense rowids (per-partition contiguous ranges from known
    * `counts`), size output files, write the batch dir, commit the
    * manifest. Callers hold `commitLock` and have validated the schema.
    */
  private def commitStamped(
      m: Manifest,
      schema: StructType,
      widened: StructType,
      mixed: Boolean,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      counts: Seq[Long],
      start: Long,
      targetRowsPerFile: Long,
      streamBatchId: Option[Long]): Long = {
    val n = counts.sum
    val offsets = counts.scanLeft(start)(_ + _).toArray

    val outSchema = StructType(StructField(ROWID, LongType, nullable = false) +: schema.fields)
    val withId = {
      import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
      val stamped = rdd.mapPartitionsWithIndex { (pid, it) =>
        var next = offsets(pid)
        val idRow = new GenericInternalRow(1)
        val joined = new JoinedRow
        val project = UnsafeProjection.create(outSchema)
        it.map { r =>
          idRow.setLong(0, next)
          next += 1
          // the projection's output row is reused — safe: the parquet
          // writer consumes each row before the next is produced
          project(joined(idRow, r)): org.apache.spark.sql.catalyst.InternalRow
        }
      }
      org.apache.spark.sql.graft.Bridge.internalCreateDataFrame(spark, stamped, outSchema)
    }

    // File sizing vs write parallelism: few big files keep manifest/
    // row-group pruning sharp, but coalesce(k) also collapses the stamp
    // + parquet encode into k tasks — a 1M-row batch funneled into one
    // task writes ~2× slower end-to-end. Floor the task count so no
    // write task handles more than ~256 k rows; coalesce groups parent
    // partitions contiguously (no locality prefs here), so each file
    // still covers one dense rowid range and stays direct-read servable.
    val byTarget = (n + targetRowsPerFile - 1) / targetRowsPerFile
    val byTask = (n + 262143L) / 262144L
    val files = math.max(1L, math.min(rdd.getNumPartitions.toLong,
      math.max(byTarget, byTask))).toInt
    val sized = if (files < rdd.getNumPartitions) withId.coalesce(files) else withId

    val batchId = m.version + 1
    val rel = f"data/batch-$batchId%08d"

    // The reference's static/dynamic layout split made load-bearing:
    // all-fixed-width batches (the static_vector_manage_service.rs:96-123
    // fast path) are written with dictionary encoding off — fixed-width
    // values with mostly-unique content (rowids, measurements) gain
    // nothing from a dictionary but pay its build + indirection, and
    // PLAIN pages decode by stride, exactly the reference's static read.
    // Variable-width (dynamic) batches keep dictionary encoding, which
    // is where it earns its keep (repeated strings).
    val layout = if (SchemaIntrospect.isDynamicStructure(schema)) "dynamic" else "static"
    val encoding = if (layout == "static") "plain" else "dictionary"
    val writer = sized.write.mode("errorifexists")
      .option("parquet.enable.dictionary", (encoding == "dictionary").toString)
    writer.parquet(s"$root/$rel")

    // Zone maps: lift the just-written files' footer stats to batch level —
    // a few driver-side footer reads, no Spark job (see [[ZoneMaps]]).
    val zs = ZoneMaps.collect(s"$root/$rel")
    val zstats = if (zs.isEmpty) m.zstats else m.zstats.updated(batchId, zs)

    try commit(Manifest(batchId, start + n, layout,
      m.batches :+ BatchInfo(batchId, start, start + n, rel),
      streamBatchId.getOrElse(m.streamBatch), encoding, widened.json, mixed, zstats,
      m.maskPath, m.maskCount, m.restores, m.purged))
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"concurrent append detected on $root (manifest v$batchId already " +
            "committed by another writer); VectorTable appends are " +
            "single-writer per table, matching the reference's in-process " +
            "mutex — route concurrent producers through one BufferedVectorStore " +
            "or StreamIngest query", e)
    }
    start
  }

  /** Compact all committed batches into one (rowids preserved) — the
    * maintenance pass that keeps many small streaming micro-batches from
    * degrading scan/prune performance. Old batch directories are left in
    * place (readers holding the previous manifest stay correct); only the
    * new manifest references the compacted batch.
    */
  def compact(targetRowsPerFile: Long = 4_000_000L): Unit =
    VectorTable.commitLock.synchronized {
      val m = manifest
      if (m.batches.size <= 1) return
      val all = open(m.batches.map(b => s"$root/${b.relPath}"), m.mixedSchema)
      val n = m.length
      val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      val batchId = m.version + 1
      val rel = f"data/batch-$batchId%08d-compacted"
      // sortWithinPartitions after range-repartition keeps rowids clustered
      // so per-file min/max stats stay tight for pruning.
      all.repartitionByRange(files, col(ROWID))
        .sortWithinPartitions(ROWID)
        .write.mode("errorifexists")
        .option("parquet.enable.dictionary", (m.encoding == "dictionary").toString)
        .parquet(s"$root/$rel")
      // the compacted batch carries the unified (widest) schema, so the
      // merged-read flag resets; zone maps are re-lifted from the new files
      val zs = ZoneMaps.collect(s"$root/$rel")
      commit(Manifest(batchId, n, m.layout,
        Vector(BatchInfo(batchId, 0L, n, rel)), m.streamBatch, m.encoding,
        m.schemaJson, mixedSchema = false,
        if (zs.isEmpty) Map.empty else Map(batchId -> zs),
        m.maskPath, m.maskCount, m.restores, m.purged))
    }

  /** INCREMENTAL tail compaction (round 16) — the scale-correct form of
    * [[compact]] for a continuously-fed table: merge only the trailing run
    * of SMALL batches (each under `targetRowsPerFile` rows — streaming
    * micro-batches) into one batch, leaving every earlier full-size batch
    * untouched. [[compact]] rewrites the whole table (O(n) per call —
    * O(n²) total if a maintenance loop calls it), so it is a manual
    * offline decision; compactTail costs O(tail) and is what the
    * automatic ingest-maintenance policy runs ([[graft.operators.Maintenance]]).
    *
    * SIZE-TIERED selection (round-16 ADVICE): naively re-merging the whole
    * small-batch tail re-includes the previously merged batch in every
    * subsequent merge until it reaches `targetRowsPerFile` — each row then
    * rewrites ~target/(factor×batchRows) times, quadratic write
    * amplification. Instead the merge set is the maximal trailing suffix
    * in which every older batch is no larger than the accumulated newer
    * mass: a previously merged batch only re-merges once the NEW batches
    * alone match it in rows, so each row participates in O(log n) merges
    * over the table's life — the standard LSM geometric-tier amortization.
    * The cost is a slightly looser steady-state batch count
    * (maxTailBatches + one batch per tier, tiers ≤ log₂ n) instead of
    * maxTailBatches + 1. Rowids are preserved (the merged suffix covers a
    * contiguous rowid span); returns true iff a merge happened (suffix
    * longer than `maxTailBatches`).
    */
  def compactTail(targetRowsPerFile: Long = 4_000_000L,
                  maxTailBatches: Int = 8): Boolean =
    VectorTable.commitLock.synchronized {
      val m = manifest
      val small = m.batches.reverse
        .takeWhile(b => b.end - b.start < targetRowsPerFile)
      // geometric suffix: walk newest → oldest, admitting an older batch
      // only while its rows don't exceed the newer mass already admitted
      var acc = 0L
      var k = 0
      while (k < small.size &&
        (acc == 0L || small(k).end - small(k).start <= acc)) {
        acc += small(k).end - small(k).start
        k += 1
      }
      val tail = small.take(k).reverse
      if (tail.size <= maxTailBatches) return false
      val prefix = m.batches.dropRight(tail.size)
      val all = open(tail.map(b => s"$root/${b.relPath}"), m.mixedSchema)
      val lo = tail.head.start
      val hi = tail.last.end
      val n = hi - lo
      val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      val batchId = m.version + 1
      val rel = f"data/batch-$batchId%08d-tail"
      all.repartitionByRange(files, col(ROWID))
        .sortWithinPartitions(ROWID)
        .write.mode("errorifexists")
        .option("parquet.enable.dictionary", (m.encoding == "dictionary").toString)
        .parquet(s"$root/$rel")
      val zs = ZoneMaps.collect(s"$root/$rel")
      val zstats = (m.zstats -- tail.map(_.id)) ++
        (if (zs.isEmpty) Map.empty else Map(batchId -> zs))
      commit(Manifest(batchId, m.length, m.layout,
        prefix :+ BatchInfo(batchId, lo, hi, rel), m.streamBatch, m.encoding,
        m.schemaJson, m.mixedSchema, zstats,
        m.maskPath, m.maskCount, m.restores, m.purged))
      true
    }

  /** Storage reclamation after compaction: drop every batch directory not
    * referenced by one of the newest `retainVersions` manifests, and the
    * older manifest files with them. Time travel is intentionally bounded
    * by retention (exactly the lakehouse VACUUM contract): readers of
    * retained versions are unaffected because their batch sets are kept in
    * full; `scanAt` on a vacuumed version throws.
    */
  def vacuum(retainVersions: Int = 1): Unit = {
    require(retainVersions >= 1, "must retain at least the current version")
    VectorTable.commitLock.synchronized {
      val versions = Manifest.listVersions(root).sorted
      if (versions.size <= retainVersions) return
      val (drop, keep) = versions.splitAt(versions.size - retainVersions)
      val keepDirs = keep.flatMap { v =>
        val km = Manifest.loadVersion(root, v)
        km.batches.map(_.relPath) ++ (if (km.maskPath.nonEmpty) Seq(km.maskPath) else Nil)
      }.toSet
      val dataDir = Paths.get(root, "data")
      if (Files.isDirectory(dataDir)) {
        Fs.list(dataDir).foreach { p =>
          if (!keepDirs.contains(s"data/${p.getFileName}")) {
            // close point-read readers first: an open descriptor keeps the
            // deleted rows' bytes on disk until the JVM exits
            DirectParquetRead.evictUnder(p)
            Fs.deleteTree(p)
          }
        }
      }
      drop.foreach(v => Files.deleteIfExists(Manifest.metaDir(root).resolve(Manifest.fileName(v))))
      openCache.clear() // cached frames may reference deleted files
    }
  }

  /** Time travel: the table as of a committed manifest `version` — every
    * manifest file and batch dir is retained until [[vacuum]] explicitly
    * reclaims it (append-only, like the reference's log), so any
    * historical state within the retention window stays readable.
    */
  def scanAt(version: Long): DataFrame = {
    val m = Manifest.loadVersion(root, version)
    if (m.batches.isEmpty) emptyLike()
    else open(m.batches.map(b => s"$root/${b.relPath}"), m.mixedSchema)
  }

  /** Length as of a committed manifest version. */
  def lengthAt(version: Long): Long = Manifest.loadVersion(root, version).length

  /** All committed manifest versions, ascending. */
  def versions: Seq[Long] = Manifest.listVersions(root)

  /** RESTORE (rollback): make the head equal the table's state at
    * `version` by committing a NEW manifest carrying that version's
    * content — the lakehouse rollback, not a destructive reset. History
    * is untouched: every intermediate version (including the pre-restore
    * head) stays readable via [[scanAt]], and batches dropped from the
    * head remain on disk for time travel until [[vacuum]] reclaims them.
    * Restoring also rewinds the recorded stream batch id and the upsert
    * mask to their values at `version` (a replayed stream batch after a
    * restore re-applies, which is the correct at-least-once behavior for
    * "I rolled the data back").
    */
  def restore(version: Long): Unit = VectorTable.commitLock.synchronized {
    val cur = manifest
    require(version <= cur.version,
      s"restore($version): head is ${cur.version}")
    val target = Manifest.loadVersion(root, version)
    // bump the restore epoch: rowids dropped here may be REUSED by later
    // appends with different content, which derived views must detect
    commit(target.copy(version = cur.version + 1, restores = cur.restores + 1))
  }

  /** Change feed: the rows appended between committed versions
    * (`fromVersion`, `toVersion`] — the append-only table's CDC surface.
    * Pure manifest arithmetic (length at each version bounds the rowid
    * span) plus one pruned range read; no data diffing. Maintenance
    * commits that add no rows (compaction) correctly produce an empty
    * feed. Versions outside the [[vacuum]] retention window throw.
    */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, s"fromVersion $fromVersion > toVersion $toVersion")
    val lo = if (fromVersion <= 0L) 0L else Manifest.loadVersion(root, fromVersion).length
    val m2 = Manifest.loadVersion(root, toVersion)
    val hi = m2.length
    val hit = m2.batches.filter(b => b.end > lo && b.start < hi)
    if (hi <= lo || hit.isEmpty) emptyLike()
    else open(hit.map(b => s"$root/${b.relPath}"), m2.mixedSchema)
      .where(col(ROWID) >= lo && col(ROWID) < hi)
  }

  /** MERGE/upsert by key (merge-on-read): committed live rows whose key
    * appears in `df` are tombstoned via a delete-vector sidecar (a parquet
    * of masked rowids), and `df` is appended — no data file is rewritten,
    * the lakehouse upsert shape. [[liveScan]]/[[liveCount]] give the
    * logical after-image; the physical rowid surface (`scan`/`range`/
    * `point`, the reference's append-only VectorEngine contract) is
    * untouched, and every pre-upsert version stays readable via [[scanAt]].
    *
    * Scale: the mask is computed with one broadcast semi-join of the
    * incoming keys against the live scan (incoming batches are small
    * relative to the table), and [[liveScan]] subtracts it with a
    * broadcast anti-join — map-only on the table side, no shuffle of the
    * 100 TB operand. Commit order is mask-write → append → metadata
    * commit, all under the writer lock: a crash mid-sequence can leave
    * the new rows visible alongside their predecessors (never lost), and
    * re-running the same upsert converges because the mask is recomputed
    * from the then-live rows. Returns the first appended rowid.
    */
  def upsertBy(df: DataFrame, keyCols: Seq[String]): Long =
    VectorTable.commitLock.synchronized {
      require(keyCols.nonEmpty, "upsertBy needs at least one key column")
      val m = manifest
      val newHits =
        if (m.batches.isEmpty) None
        else {
          // no broadcast hint: the key set is Δ-sized (one upsert batch),
          // which a caller can make arbitrarily large — AQE broadcasts a
          // small batch's keys at runtime and shuffle-joins a bulk merge
          val keys = df.select(keyCols.map(col): _*).distinct()
          val hits = liveScanOf(m).join(keys, keyCols, "left_semi")
            .select(col(ROWID))
          val mask = (m.maskPath match {
            case "" => hits
            case p  => spark.read.parquet(s"$root/$p").unionByName(hits)
          }).distinct()
          // UUID suffix: a crash between mask write and the metadata commit
          // must leave a RETRYABLE table — a deterministic path would hit
          // errorifexists forever; the orphaned directory is unreferenced
          // by any manifest, so vacuum() reclaims it
          val rel = f"data/mask-${m.version + 1}%08d-${java.util.UUID.randomUUID()}"
          mask.coalesce(1).write.mode("errorifexists").parquet(s"$root/$rel")
          val cnt = spark.read.parquet(s"$root/$rel").count()
          if (cnt == m.maskCount) {
            // nothing newly masked (no key overlap): drop the redundant file
            // and keep the manifest as is — liveScan must not pay an
            // anti-join (or an extra commit) for a plain append
            Fs.deleteTree(Paths.get(root, rel))
            None
          } else Some(rel -> cnt)
        }
      val start = append(df)
      newHits.foreach { case (rel, cnt) =>
        val m2 = manifest
        commit(m2.copy(version = m2.version + 1, maskPath = rel, maskCount = cnt))
      }
      start
    }

  /** TAKEDOWN / right-to-be-forgotten delete (round 15): mask every LIVE
    * row matching `cond`, versioned exactly like [[upsertBy]]'s
    * delete-vector (mask write → manifest commit under the writer lock; a
    * crash before the commit leaves an orphaned mask file vacuum()
    * reclaims, and re-running converges). The physical rowid surface
    * (`scan`/`range`/`point`) and every earlier version stay readable —
    * physical erasure is the two-step [[purge]] (rewrite current-version
    * files minus the mask) + [[vacuum]] (reclaim earlier versions'
    * bytes), the usual legal-delete discipline: logical tombstone now,
    * physical erasure at the retention boundary. The commit bumps
    * `version` and `maskCount`, which is the signal the incremental
    * indexes' refresh checks to rewrite ONLY the affected cells/spans
    * (see [[graft.operators.IndexMaintenance.refresh]]). Returns the number
    * of newly deleted rows.
    */
  def deleteWhere(cond: org.apache.spark.sql.Column): Long =
    VectorTable.commitLock.synchronized {
      val m = manifest
      if (m.batches.isEmpty) return 0L
      commitMask(m, liveScanOf(m).where(cond).select(col(ROWID)))
    }

  /** TAKEDOWN at GDPR-BATCH scale (round 17): delete every live row whose
    * `keyCol` appears in `ids` — the DataFrame-shaped id-set form of
    * [[deleteWhere]]. A batch erasure routinely names 10⁵–10⁶ ids, which
    * must reach the plan as a JOIN operand (AQE broadcasts a small id set
    * at runtime and shuffle-joins a huge one), never an `isInCollection`
    * literal the driver has to inline into every task. `ids` may have any
    * single column name; extra columns are ignored beyond the first.
    * Returns the number of newly deleted rows.
    */
  def deleteWhereKeysIn(keyCol: String, ids: DataFrame): Long =
    VectorTable.commitLock.synchronized {
      val m = manifest
      if (m.batches.isEmpty) return 0L
      commitMask(m, deleteHitsFrame(m, keyCol, ids))
    }

  /** The rowids a keyed batch delete masks — a semi-join of the live view
    * against the id set (package-visible so the scale spec can pin the
    * plan: a join, never a giant IN literal).
    */
  private[graft] def deleteHitsFrame(m: Manifest, keyCol: String, ids: DataFrame): DataFrame = {
    val keys = ids.select(ids.columns.head).toDF(keyCol).distinct()
    liveScanOf(m).join(keys, Seq(keyCol), "left_semi").select(col(ROWID))
  }

  /** Shared mask-commit for [[deleteWhere]]/[[deleteWhereKeysIn]]: union
    * `hits` into the delete-vector, write it versioned, commit — or drop
    * the redundant file when nothing new matched. Caller holds the lock.
    */
  private def commitMask(m: Manifest, hits: DataFrame): Long = {
    val mask = (m.maskPath match {
      case "" => hits
      case p  => spark.read.parquet(s"$root/$p").unionByName(hits)
    }).distinct()
    val rel = f"data/mask-${m.version + 1}%08d-${java.util.UUID.randomUUID()}"
    mask.coalesce(1).write.mode("errorifexists").parquet(s"$root/$rel")
    val cnt = spark.read.parquet(s"$root/$rel").count()
    if (cnt == m.maskCount) {
      // nothing matched: drop the redundant file, commit nothing
      Fs.deleteTree(Paths.get(root, rel))
      0L
    } else {
      commit(m.copy(version = m.version + 1, maskPath = rel, maskCount = cnt))
      cnt - m.maskCount
    }
  }

  /** PHYSICAL PURGE (round 16) — the erasure half of the takedown
    * contract: rewrite exactly the mask-affected files of the CURRENT
    * version minus the masked rowids, reset the delete-vector, commit a
    * version. After purge + [[vacuum]] the masked rows' bytes exist in NO
    * file the table owns — the property [[deleteWhere]] alone (a logical
    * tombstone) cannot give, and the reference's own storage layer owns
    * (src/services/ writes and rewrites its own bytes).
    *
    * Shape and cost: per affected batch, the files CONTAINING masked
    * rowids are found with one `input_file_name` semi-join (at cluster
    * scale a footer-stats pruning decision — rowids are sorted per file),
    * only those files are rewritten (rowid-range partitioned + sorted, so
    * pruning stats stay tight), and every unaffected file is HARD-LINKED
    * into the fresh batch directory — O(1) per file, no data moved, the
    * local-FS analog of a manifest-level file re-reference on object
    * storage. Cost ∝ files the masked rows landed in, never the table.
    *
    * Contract pins (PurgeSpec):
    *   - `length` stays the rowid HIGH-WATER mark (rowids are never
    *     reused); the manifest's `purged` counter keeps [[liveCount]]
    *     O(1)-correct: live = length - maskCount - purged;
    *   - [[liveScan]] is IDENTICAL before and after (purge removes only
    *     already-masked rows — and, the mask being reset, stops paying
    *     the anti-join: purge is also the mask compactor that bounds the
    *     unbounded-churn growth documented at [[liveScanOf]]);
    *   - the physical surface serves the purged state: `point`/`range` of
    *     a purged rowid return an EMPTY frame (the row is gone; "masked
    *     view" semantics would require keeping the bytes purge exists to
    *     destroy), a batch whose every row was purged disappears from the
    *     manifest;
    *   - earlier versions still read via [[scanAt]] until [[vacuum]]
    *     drops their directories — run purge THEN vacuum for erasure;
    *   - index refreshes consume the mask BEFORE it resets (refresh then
    *     purge): after the reset, `maskedScan` is empty and a refresh
    *     keyed on maskCount sees nothing to invalidate.
    *
    * Returns the number of rows physically removed.
    */
  def purge(): Long = VectorTable.commitLock.synchronized {
    val m = manifest
    if (m.maskPath.isEmpty || m.batches.isEmpty) return 0L
    val mask = spark.read.parquet(s"$root/${m.maskPath}").select(col(ROWID))
    // per-batch masked counts: one broadcast range join against the (tiny)
    // manifest batch list — never a collect of the mask itself
    val ranges = spark.createDataFrame(
      m.batches.map(b => (b.id, b.start, b.end))).toDF("bid", "bstart", "bend")
    val perBatch = mask
      .join(broadcast(ranges),
        col(ROWID) >= col("bstart") && col(ROWID) < col("bend"))
      .groupBy("bid").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var newBatches = Vector.empty[BatchInfo]
    var zstats = m.zstats
    m.batches.foreach { b =>
      if (!perBatch.contains(b.id)) newBatches :+= b
      else {
        // affected-FILE discovery from parquet footer rowid spans — a few
        // driver-side footer reads joined against the mask, NEVER a scan
        // of the batch's data (files are rowid-range partitioned, so a
        // span overlap IS containment; a file whose footer span can't be
        // read is conservatively treated as affected)
        val srcAll = DirectParquetRead.partFiles(s"$root/${b.relPath}")
        val spanned = srcAll.map(f => f -> DirectParquetRead.rowidSpan(f))
        val spanRows = spanned.collect { case (f, Some((lo, hi))) => (f, lo, hi) }
        val unknowable = spanned.collect { case (f, None) => f }
        val affectedKnown =
          if (spanRows.isEmpty) Nil
          else mask
            .join(broadcast(spark.createDataFrame(spanRows).toDF("__f", "__lo", "__hi")),
              col(ROWID) >= col("__lo") && col(ROWID) <= col("__hi"))
            .select("__f").distinct().collect().map(_.getString(0)).toSeq
        val affectedFiles = {
          val a = (affectedKnown ++ unknowable).distinct
          // a batch the range join marked affected must yield files; an
          // empty result would mean footer stats lie — rewrite everything
          if (a.isEmpty) srcAll else a
        }
        val affectedNames =
          affectedFiles.map(f => Paths.get(f).getFileName.toString).toSet
        val kept = spark.read.parquet(affectedFiles: _*)
          .join(mask, Seq(ROWID), "left_anti")
        val keptCnt = kept.count()
        val rel = f"data/batch-${b.id}%08d-purged-${java.util.UUID.randomUUID()}"
        val dst = Paths.get(root, rel)
        val unaffected = srcAll.map(Paths.get(_))
          .filterNot(f => affectedNames.contains(f.getFileName.toString))
        if (keptCnt == 0L && unaffected.isEmpty) {
          // the whole batch was masked: it leaves the manifest entirely
          // (an empty directory is unreadable and its rowid range serves
          // nothing); range() pruning just stops finding it
          zstats -= b.id
        } else {
          Files.createDirectories(dst)
          if (keptCnt > 0L) {
            val tmp = Paths.get(root, s".purge-${java.util.UUID.randomUUID()}")
            kept.repartitionByRange(math.max(1, affectedFiles.length), col(ROWID))
              .sortWithinPartitions(ROWID)
              .write.option("parquet.enable.dictionary",
                (m.encoding == "dictionary").toString)
              .parquet(tmp.toString)
            Fs.list(tmp).foreach { p =>
              if (p.getFileName.toString.endsWith(".parquet"))
                Files.move(p, dst.resolve(p.getFileName.toString))
            }
            Fs.deleteTree(tmp)
          }
          unaffected.foreach(f => Fs.linkOrCopy(f, dst.resolve(f.getFileName.toString)))
          newBatches :+= b.copy(relPath = rel)
          val zs = ZoneMaps.collect(s"$root/$rel")
          zstats = if (zs.isEmpty) zstats - b.id else zstats.updated(b.id, zs)
        }
      }
    }
    commit(Manifest(m.version + 1, m.length, m.layout, newBatches,
      m.streamBatch, m.encoding, m.schemaJson, m.mixedSchema, zstats,
      maskPath = "", maskCount = 0L, m.restores, m.purged + m.maskCount))
    openCache.clear() // cached frames reference the replaced directories
    m.maskCount
  }

  /** The MASKED (deleted/superseded) rows with their data columns — what
    * an index refresh needs to invalidate exactly the affected entries.
    * Empty frame when no upsert/delete has run.
    */
  def maskedScan(): DataFrame = {
    val m = manifest
    if (m.maskPath.isEmpty || m.batches.isEmpty) scan().where(lit(false))
    else scan().join(spark.read.parquet(s"$root/${m.maskPath}"),
      Seq(ROWID), "left_semi")
  }

  /** The logical (post-upsert) view: committed rows minus the delete-vector
    * mask. Identical to [[scan]] when no upsert has run.
    */
  def liveScan(): DataFrame = liveScanOf(manifest)

  private def liveScanOf(m: Manifest): DataFrame = {
    val base =
      if (m.batches.isEmpty) emptyLike()
      else open(m.batches.map(b => s"$root/${b.relPath}"), m.mixedSchema)
    // no broadcast hint on the mask: it accumulates every rowid ever
    // superseded, so a high-churn table grows it without bound between
    // compactions — AQE broadcasts the (typical) small mask at runtime
    // and falls back to a shuffle anti-join when churn has grown it past
    // the threshold, instead of a forced driver materialization
    if (m.maskPath.isEmpty) base
    else base.join(spark.read.parquet(s"$root/${m.maskPath}"),
      Seq(ROWID), "left_anti")
  }

  /** Logical row count after upserts/deletes/purges: O(1) from the
    * manifest (length is the rowid high-water mark; maskCount rows are
    * logically tombstoned; purged rows were physically removed by
    * [[purge]] after their tombstone).
    */
  def liveCount: Long = { val m = manifest; m.length - m.maskCount - m.purged }

  /** Full scan carrying `_rowid`; storage order ≡ insertion order. */
  def scan(): DataFrame = {
    val m = manifest
    if (m.batches.isEmpty) emptyLike()
    else open(m.batches.map(b => s"$root/${b.relPath}"), m.mixedSchema)
  }

  /** Range read [index, index+count) — reference `pullx`/`getx`
    * (src/vector_engine.rs:28,40-46). Driver-side manifest pruning selects
    * only overlapping batches; the rowid predicate then prunes row groups.
    */
  def range(index: Long, count: Long): DataFrame = rangeOf(manifest, index, count)

  /** [[range]] for a span whose bounds move on every call, such as the rows
    * an index refresh has not indexed yet: the manifest still prunes whole
    * batches on the driver, and the bounds are [[BatchParam]]s, so every
    * span shares one generated class. They are not pushed down to parquet,
    * so use it for spans of whole appended batches, not short reads inside
    * a large batch.
    */
  def span(index: Long, count: Long): DataFrame = rangeOf(manifest, index, count, BatchParam(_))

  private[core] def rangeOf(m: Manifest, index: Long, count: Long,
                            bound: Long => Column = lit(_)): DataFrame = {
    val lo = index
    val hi = index + count
    val hit = m.batches.filter(b => b.end > lo && b.start < hi)
    if (hit.isEmpty) emptyLike()
    else open(hit.map(b => s"$root/${b.relPath}"), m.mixedSchema)
      .where(col(ROWID) >= bound(lo) && col(ROWID) < bound(hi))
  }

  /** Point read — reference `pull`/`get` (src/vector_engine.rs:27,33-39). */
  def point(index: Long): DataFrame = range(index, 1L)

  /** Zone-map-pruned scan: a conjunction of inclusive range predicates
    * `(column, lower?, upper?)` prunes whole batch directories on the
    * driver (see [[ZoneMaps]]), then the same predicates are applied
    * in-plan so parquet row-group stats refine file-level and Spark
    * refines row-level. Exactly `scan().where(...)` semantically; the
    * zone maps only remove work.
    */
  def scanWhere(preds: (String, Option[Any], Option[Any])*): DataFrame =
    preds.foldLeft(zonePruned(preds)) { case (df, (c, lo, hi)) =>
      val withLo = lo.map(v => df.where(col(c) >= lit(v))).getOrElse(df)
      hi.map(v => withLo.where(col(c) <= lit(v))).getOrElse(withLo)
    }

  /** Rows with `c >= lo`: [[scanWhere]]'s zone-map pruning on the driver,
    * with the bound read through a [[BatchParam]], so a stream's per-batch
    * bound reuses one generated class. The bound is not pushed down to
    * parquet, so the driver-side pruning is the only file pruning this
    * scan gets.
    */
  def scanFrom(c: String, lo: Long): DataFrame =
    zonePruned(Seq((c, Some(lo), None))).where(col(c) >= BatchParam(lo))

  private def zonePruned(preds: Seq[(String, Option[Any], Option[Any])]): DataFrame = {
    val hit = batchesOverlapping(preds)
    if (hit.isEmpty) emptyLike().where(lit(false))
    else open(hit.map(b => s"$root/${b.relPath}"), manifest.mixedSchema)
  }

  /** The batches a zone-map-pruned scan would read (exposed for specs and
    * plan diagnostics).
    */
  def batchesOverlapping(preds: Seq[(String, Option[Any], Option[Any])]): Vector[BatchInfo] = {
    val m = manifest
    m.batches.filter { b =>
      val zs = m.zstats.getOrElse(b.id, Nil)
      preds.forall { case (c, lo, hi) => ZoneMaps.mayOverlap(zs, c, lo, hi) }
    }
  }

  /** Driver-local point read with NO Spark job: manifest → part-file footer
    * → one page → one row (see [[DirectParquetRead]]). None means "can't
    * serve directly" (remote filesystem, nested schema, foreign file) and
    * the caller should use the Spark path — never a correctness signal.
    */
  def pointLocal(index: Long): Option[Map[String, Any]] = pointLocal(snapshot, index)

  /** [[pointLocal]] against snapshot `s`: the batch from its manifest, the
    * part file from its per-batch span table.
    */
  private[core] def pointLocal(s: VectorTable.Snapshot, index: Long): Option[Map[String, Any]] =
    s.manifest.batches.find(b => index >= b.start && index < b.end).flatMap { b =>
      s.parts(s"$root/${b.relPath}")
        .collectFirst { case (f, lo, hi) if index >= lo && index <= hi => f }
        .flatMap(DirectParquetRead.readByRowid(_, index))
    }

  /** Batched point reads: one Spark job for all `indices` (manifest-pruned
    * to the touched batches, IN-filter pushed to the scan) — the serving
    * pattern that amortizes per-job latency over a whole lookup batch
    * instead of paying it per key.
    */
  def points(indices: Seq[Long]): DataFrame = pointsOf(manifest, indices)

  private[core] def pointsOf(m: Manifest, indices: Seq[Long]): DataFrame = {
    if (m.batches.isEmpty || indices.isEmpty) return emptyLike()
    val wanted = indices.distinct
    val hit = m.batches.filter(b => wanted.exists(i => i >= b.start && i < b.end))
    if (hit.isEmpty) emptyLike()
    else open(hit.map(b => s"$root/${b.relPath}"), m.mixedSchema)
      .where(col(ROWID).isInCollection(wanted))
  }

  private def emptyLike(): DataFrame = {
    val m = manifest
    if (m.batches.nonEmpty)
      spark.read.parquet(s"$root/${m.batches.head.relPath}").where(lit(false))
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField(ROWID, LongType, nullable = false))))
  }
}

object VectorTable {
  val ROWID = "_rowid"
  private[core] val commitLock = new Object

  /** One committed head as read: the parsed manifest, the file it came
    * from (null for the empty v0 table), that file's identity and bytes,
    * and per batch the part files with their dense rowid spans, listed at
    * most once per snapshot (batch directories are write-once: a rewrite
    * always commits a fresh `relPath` under a new version).
    */
  private[core] final class Snapshot private (val manifest: Manifest, file: Path,
                                               stamp: (AnyRef, AnyRef), bytes: Array[Byte]) {
    private val spans =
      new java.util.concurrent.ConcurrentHashMap[String, Vector[(String, Long, Long)]]()

    /** Still the head: no next version exists and the head file is the
      * same file with the same bytes. The empty table never is: without a
      * head file, a missing next version proves nothing once a vacuum may
      * have removed the versions in between.
      */
    def isHead: Boolean =
      file != null &&
        !Files.exists(file.resolveSibling(Manifest.fileName(manifest.version + 1))) &&
        (try Snapshot.stampOf(file) == stamp && java.util.Arrays.equals(Files.readAllBytes(file), bytes)
         catch { case _: java.io.IOException => false })

    /** The part files of batch directory `batchDir` that carry a provably
      * dense rowid span, with that span.
      */
    def parts(batchDir: String): Vector[(String, Long, Long)] =
      spans.computeIfAbsent(batchDir, _ =>
        DirectParquetRead.partFiles(batchDir).toVector.flatMap(f =>
          DirectParquetRead.rowidSpan(f).map { case (lo, hi) => (f, lo, hi) }))
  }

  private[core] object Snapshot {
    val empty = new Snapshot(Manifest.empty, null, null, null)

    private def stampOf(file: Path): (AnyRef, AnyRef) = {
      val a = Files.readAttributes(file, classOf[BasicFileAttributes])
      (a.fileKey, a.lastModifiedTime)
    }

    /** The snapshot of manifest file `file`, stamped before it is read so
      * that a file replaced during the read fails the next revalidation.
      */
    def read(file: Path): Snapshot = {
      val stamp = stampOf(file)
      val bytes = Files.readAllBytes(file)
      new Snapshot(Manifest.parse(new String(bytes, UTF_8)), file, stamp, bytes)
    }
  }

  def create(spark: SparkSession, root: String): VectorTable = {
    Files.createDirectories(Paths.get(root))
    new VectorTable(spark, root)
  }

  def open(spark: SparkSession, root: String): VectorTable = new VectorTable(spark, root)
}
