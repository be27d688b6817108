package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.{HadoopReadOptions, VersionParser}
import org.apache.parquet.column.{ColumnDescriptor, ColumnReader}
import org.apache.parquet.column.impl.ColumnReaderImpl
import org.apache.parquet.column.page.{PageReadStore, PageReader}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.filter2.columnindex.RowRanges
import org.apache.parquet.io.api.PrimitiveConverter
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Driver-local microsecond-class point reads: manifest → one parquet footer
  * → one page → one row, with NO Spark job. This is the serving path the
  * reference exercises hardest (`ReadableCache::getting` misses,
  * src/cache/readable_cache.rs:68-80; perf harness
  * tests/tests/cache_performance_test.rs:306-366): Spark's ~100 ms job floor
  * is fine for analytics but three orders of magnitude off for point
  * serving, and the data layout already guarantees everything a direct read
  * needs — dense sorted `_rowid` per file, tight row-group stats, offset
  * indexes.
  *
  * Read path per key: pick the batch from the table's cached, revalidated
  * head snapshot (two stats and one small read, no listing, no parse — see
  * [[VectorTable.snapshot]]), pick the part file from the snapshot's
  * per-batch span table (the batch directory is listed and its footers'
  * `_rowid` min/max read once per snapshot), locate the row group by
  * cumulative row counts, locate the page via the column offset index,
  * decompress just that page (`readFilteredRowGroup` with a single-page
  * RowRanges), and skip-decode to the row ordinal. Footers and open readers
  * are cached per file — the reference likewise keeps its file handles open
  * (src/services/file_access_service.rs) — until [[VectorTable.vacuum]]
  * deletes the file's directory ([[evictUnder]]).
  *
  * Every footer this engine reads driver-side opens through [[openFile]],
  * against one loaded Hadoop `Configuration`: `ParquetFileReader.open` on a
  * bare `InputFile` builds a fresh one per call and loads its XML defaults,
  * most of the cost of a first read of a file. A file's `created_by` is
  * parsed once, when its footer is cached, not once per read.
  *
  * Falls back (returns None) on anything it can't prove: non-dense rowids,
  * missing stats, unsupported physical types. Callers treat None as "use the
  * Spark path", so this is a pure fast path, never a correctness risk.
  */
object DirectParquetRead {

  private final case class FileMeta(
      reader: ParquetFileReader,
      footer: ParquetMetadata,
      rowidMin: Long,
      rowidMax: Long,
      totalRows: Long,
      blockFirstRow: Array[Long]) {
    // the writer version every column reader of this file is given; the
    // parse is a regex match, so it runs once per file, not once per read
    val writerVersion: VersionParser.ParsedVersion =
      try VersionParser.parse(footer.getFileMetaData.getCreatedBy)
      catch { case _: RuntimeException | _: VersionParser.VersionParseException => null }
    // offset indexes are immutable footer metadata — read once per row group
    val offsetIndexes =
      new java.util.concurrent.ConcurrentHashMap[Integer, Option[org.apache.parquet.internal.column.columnindex.OffsetIndex]]()
    // set under this entry's lock by close(); reads check it under the same
    // lock, so none runs on a closed reader
    private var closed = false
    def read(ordinal: Long): Option[Map[String, Any]] =
      synchronized(if (closed) None else readOrdinal(this, ordinal))
    def close(): Unit = synchronized {
      closed = true
      try reader.close() catch { case _: Throwable => () }
    }
  }

  private val metaCache = new java.util.concurrent.ConcurrentHashMap[String, Option[FileMeta]]()
  private val conf = new Configuration()

  /** Open `file`'s parquet reader (footer read) against this object's one
    * loaded `conf`. The read options are built per reader from that conf,
    * never shared: each holds the reader's `CodecFactory`, which the
    * reader's `close()` releases. Callers close the reader.
    */
  def openFile(file: String): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(file), conf),
      HadoopReadOptions.builder(conf).build())

  /** Values for one row keyed by column name (JVM-typed; null for SQL NULL),
    * or None when this file can't serve the read directly.
    */
  def readByRowid(file: String, rowid: Long): Option[Map[String, Any]] =
    meta(file).flatMap { m =>
      if (rowid < m.rowidMin || rowid > m.rowidMax) None
      else m.read(rowid - m.rowidMin)
    }

  /** The writer version parsed from the cached footer's `created_by`
    * (null when unparsable), which every column reader of the file gets.
    */
  private[core] def writerVersion(file: String): Option[VersionParser.ParsedVersion] =
    meta(file).map(_.writerVersion)

  /** The file's [_rowid min, max] from cached footer stats, if provably
    * dense (rowCount == max-min+1).
    */
  def rowidSpan(file: String): Option[(Long, Long)] =
    meta(file).map(m => (m.rowidMin, m.rowidMax))

  private def meta(file: String): Option[FileMeta] = {
    val hit = metaCache.get(file)
    if (hit != null) { StoreCounters.footerHits.increment(); hit }
    else metaCache.computeIfAbsent(file, f => { StoreCounters.footerMisses.increment(); openMeta(f) })
  }

  /** Close and drop the cached readers of every file under `dir`, before
    * the directory is deleted: an open descriptor keeps a deleted file's
    * bytes on disk. A read racing the eviction finds its reader closed and
    * returns None (the caller's Spark path).
    */
  def evictUnder(dir: java.nio.file.Path): Unit = {
    val d = dir.toAbsolutePath.normalize
    metaCache.entrySet().asScala.toVector.foreach { e =>
      if (Paths.get(e.getKey).toAbsolutePath.normalize.startsWith(d) &&
          metaCache.remove(e.getKey, e.getValue))
        e.getValue.foreach(_.close())
    }
  }

  /** Access-ordered LRU, bounded: every applyDeletesFiles rewrite publishes
    * fresh UUID-named files whose spans get cached, so an UNBOUNDED map
    * grows driver memory monotonically across a long-running maintenance
    * loop (round-17 advice). 64k entries ≈ a few MB, far above any live
    * layout's file count; evicted entries just re-read one footer.
    */
  private val colSpanCacheLimit = 65536
  private val colSpanCache =
    new java.util.LinkedHashMap[String, Option[(Long, Long)]](1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[(Long, Long)]]): Boolean =
        size() > colSpanCacheLimit
    }

  /** The file's [min, max] footer stats for INT64 column `colName` — NO
    * density requirement (unlike [[rowidSpan]]): the span is a sound
    * superset bound for ANY row set, which is all affected-file takedown
    * discovery needs (a masked id inside the file is necessarily inside
    * [min, max]; an overlap that holds no masked row only costs a harmless
    * rewrite). None = can't prove (missing column, nulls, non-INT64, or an
    * unreadable footer) and the caller must treat the file as affected.
    * Parquet files here are immutable once written (rewrites land under
    * fresh names), so the per-(file, column) cache never staleness-lies.
    */
  def longColSpan(file: String, colName: String): Option[(Long, Long)] = {
    val key = colName + "\u0000" + file
    colSpanCache.synchronized {
      val hit = colSpanCache.get(key)
      if (hit != null) return hit
    }
    // footer read outside the lock: spans are pure functions of immutable
    // files, so a racing double-read is benign and last-put wins
    val span = readLongColSpan(file, colName)
    colSpanCache.synchronized { colSpanCache.put(key, span) }
    span
  }

  private def readLongColSpan(file: String, colName: String): Option[(Long, Long)] =
    try {
      val reader = openFile(file)
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        if (blocks.isEmpty) None
        else {
          var min = Long.MaxValue
          var max = Long.MinValue
          var ok = true
          val it = blocks.iterator
          while (ok && it.hasNext) {
            val b = it.next()
            b.getColumns.asScala.find(_.getPath.toDotString == colName) match {
              case Some(c) if c.getPrimitiveType.getPrimitiveTypeName == INT64 =>
                val st = c.getStatistics
                if (st == null || !st.hasNonNullValue || st.getNumNulls != 0) ok = false
                else {
                  min = math.min(min, st.genericGetMin.asInstanceOf[java.lang.Long])
                  max = math.max(max, st.genericGetMax.asInstanceOf[java.lang.Long])
                }
              case _ => ok = false
            }
          }
          if (ok) Some((min, max)) else None
        }
      } finally reader.close()
    } catch { case _: Throwable => None }

  /** Part files of a batch directory, by name: one directory listing. */
  def partFiles(batchDir: String): Seq[String] = {
    val dir = Paths.get(batchDir)
    if (!Files.isDirectory(dir)) Nil
    else {
      StoreCounters.partsListings.increment()
      Fs.list(dir)
        .filter { p =>
          val n = p.getFileName.toString
          n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
        }
        .map(_.toString)
        .sorted
    }
  }

  private def openMeta(file: String): Option[FileMeta] =
    try {
      val reader = openFile(file)
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala
      if (blocks.isEmpty) { reader.close(); return None }
      var min = Long.MaxValue
      var max = Long.MinValue
      var rows = 0L
      val firstRows = new Array[Long](blocks.size)
      var i = 0
      for (b <- blocks) {
        firstRows(i) = rows
        rows += b.getRowCount
        i += 1
        val rowidCol = b.getColumns.asScala.find(_.getPath.toDotString == VectorTable.ROWID)
          .getOrElse { reader.close(); return None }
        val st = rowidCol.getStatistics
        if (st == null || !st.hasNonNullValue) { reader.close(); return None }
        min = math.min(min, st.genericGetMin.asInstanceOf[java.lang.Long])
        max = math.max(max, st.genericGetMax.asInstanceOf[java.lang.Long])
      }
      // Density proof: the batch writer stamps contiguous ascending rowids
      // per file; anything else (foreign parquet) gets the Spark path.
      if (rows != max - min + 1) { reader.close(); None }
      else Some(FileMeta(reader, footer, min, max, rows, firstRows))
    } catch { case _: Throwable => None }

  private val nopConverter = new PrimitiveConverter {}

  /** The reader `ColumnReadStoreImpl.getColumnReader` builds, given the
    * file's already parsed writer version instead of a `created_by` string
    * to parse again: over a row-index-filtered page store, the row-aligning
    * `SynchronizingColumnReader` (package-private, hence the constructor
    * handle); otherwise a plain `ColumnReaderImpl`.
    */
  private def columnReader(m: FileMeta, store: PageReadStore, cd: ColumnDescriptor): ColumnReader = {
    val pages = store.getPageReader(cd)
    val rows = store.getRowIndexes
    if (rows.isPresent) syncReader.newInstance(cd, pages, nopConverter, m.writerVersion, rows.get)
    else new ColumnReaderImpl(cd, pages, nopConverter, m.writerVersion)
  }

  private lazy val syncReader: java.lang.reflect.Constructor[_ <: ColumnReader] = {
    val c = Class.forName("org.apache.parquet.column.impl.SynchronizingColumnReader")
      .asSubclass(classOf[ColumnReader])
      .getDeclaredConstructor(classOf[ColumnDescriptor], classOf[PageReader],
        classOf[PrimitiveConverter], classOf[VersionParser.ParsedVersion],
        classOf[java.util.PrimitiveIterator.OfLong])
    c.setAccessible(true)
    c
  }

  private def readOrdinal(m: FileMeta, ordinal: Long): Option[Map[String, Any]] = {
    // row group containing the ordinal
    var bi = m.blockFirstRow.length - 1
    while (bi > 0 && m.blockFirstRow(bi) > ordinal) bi -= 1
    val block = m.footer.getBlocks.get(bi)
    val inBlock = ordinal - m.blockFirstRow(bi)

    // single-page RowRanges via the rowid column's offset index; whole row
    // group when offset indexes are absent (still correct, more decompress)
    val oi = m.offsetIndexes.computeIfAbsent(bi, _ => {
      val rowidChunk = block.getColumns.asScala
        .find(_.getPath.toDotString == VectorTable.ROWID).get
      try Option(m.reader.readOffsetIndex(rowidChunk)) catch { case _: Throwable => None }
    }).orNull
    val ranges =
      if (oi == null) RowRanges.createSingle(block.getRowCount)
      else {
        var p = oi.getPageCount - 1
        while (p > 0 && oi.getFirstRowIndex(p) > inBlock) p -= 1
        RowRanges.create(block.getRowCount, java.util.stream.IntStream.of(p).iterator(), oi)
      }

    // upcast: the concrete ColumnChunkPageReadStore is package-private
    val store: PageReadStore =
      m.reader.readFilteredRowGroup(bi, ranges)
    if (store == null) return None
    try {
      // rows surface in rowIndexes order; find the target's position
      var skip = 0L
      var found = false
      val it = store.getRowIndexes.orElse(null)
      if (it == null) { skip = inBlock; found = true }
      else {
        while (!found && it.hasNext) {
          val r = it.nextLong()
          if (r == inBlock) found = true
          else if (r < inBlock) skip += 1
          else return None
        }
      }
      if (!found) return None

      val schema = m.footer.getFileMetaData.getSchema
      val out = Map.newBuilder[String, Any]
      for (cd <- schema.getColumns.asScala) {
        if (cd.getMaxRepetitionLevel > 0) return None // nested → Spark path
        val cr = columnReader(m, store, cd)
        var k = skip
        while (k > 0) {
          if (cr.getCurrentDefinitionLevel == cd.getMaxDefinitionLevel) cr.skip()
          cr.consume()
          k -= 1
        }
        val name = cd.getPath()(0)
        if (cr.getCurrentDefinitionLevel < cd.getMaxDefinitionLevel) out += name -> null
        else out += name -> readValue(cr, cd)
      }
      Some(out.result())
    } finally store.close()
  }

  private def readValue(cr: org.apache.parquet.column.ColumnReader, cd: ColumnDescriptor): Any =
    cd.getPrimitiveType.getPrimitiveTypeName match {
      case INT64                => cr.getLong
      case INT32                => cr.getInteger
      case DOUBLE               => cr.getDouble
      case FLOAT                => cr.getFloat
      case BOOLEAN              => cr.getBoolean
      case BINARY | FIXED_LEN_BYTE_ARRAY =>
        val logical = cd.getPrimitiveType.getLogicalTypeAnnotation
        val bytes = cr.getBinary.getBytes
        if (logical != null && logical.isInstanceOf[
          org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation])
          new String(bytes, "UTF-8")
        else bytes
      case other => throw new UnsupportedOperationException(s"direct read: $other")
    }

  /** Drop cached readers (tests; long-lived servers keep them open). */
  def invalidate(): Unit = {
    metaCache.values().asScala.foreach(_.foreach(_.close()))
    metaCache.clear()
  }
}
