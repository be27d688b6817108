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
import org.apache.parquet.internal.column.columnindex.OffsetIndex
import org.apache.parquet.internal.filter2.columnindex.RowRanges
import org.apache.parquet.io.api.PrimitiveConverter
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Driver-local microsecond-class point reads: manifest → one parquet footer
  * → one decoded page → one row, with NO Spark job. This is the serving path
  * the reference exercises hardest (`ReadableCache::getting` misses,
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
  * cumulative row counts and the page via the `_rowid` offset index, then
  * take the row from the decoded-unit cache. Footers and open readers are
  * cached per file — the reference likewise keeps its file handles open
  * (src/services/file_access_service.rs) — in an LRU of [[MaxOpenFiles]]
  * readers that closes the ones it drops, and until [[VectorTable.vacuum]]
  * deletes the file's directory ([[evictUnder]]).
  *
  * Decoded-unit cache: the unit is one `_rowid` offset-index page of one row
  * group (the whole row group when there is no offset index), the rows one
  * `readFilteredRowGroup` with a single-page `RowRanges` yields. The first
  * miss in a unit skip-decodes just its row and marks the unit [[Seen]];
  * the second decodes the whole unit once ([[decode]]) into per-column
  * arrays, strings kept as UTF-8 bytes, and caches it under (file, row
  * group, page) in an LRU bounded at [[DecodedCacheBytes]]; every later
  * read in that unit is an array index, with no file lock and no column
  * reader. Part files are immutable and rewrites get new names, so the key
  * needs nothing else. A unit that decodes to more than the bound is
  * remembered as oversized and each of its reads skip-decodes just its
  * row, uncached. Reads never wait on the caches' locks
  * ([[BoundedLru.get]]); a decode holds only its file's lock.
  *
  * The cache pays off with page locality: the whole-unit decode costs
  * several single-row reads, so it wins when misses come back to a unit
  * before the LRU drops it. Point gets that favour recent rows, as on the
  * serving benchmark, have it. Without it (uniform gets over a store whose
  * decoded size passes the bound) a unit decoded on its second miss is
  * dropped before its third, and a miss costs on average half a
  * whole-unit decode more than a single-row read; waiting for the second
  * miss keeps units read once, the tail of a skewed key set, at the
  * single-row cost.
  *
  * Every footer this engine reads driver-side opens through [[openFile]],
  * against one loaded Hadoop `Configuration`: `ParquetFileReader.open` on a
  * bare `InputFile` builds a fresh one per call and loads its XML defaults,
  * most of the cost of a first read of a file. A file's `created_by` is
  * parsed once, when its footer is cached, not once per read.
  *
  * Falls back (returns None) on anything it can't prove: non-dense rowids,
  * missing stats, nested or unsupported column types. Callers treat None as
  * "use the Spark path", so this is a pure fast path, never a correctness
  * risk.
  */
object DirectParquetRead {

  /** Open readers (one descriptor each) kept across reads. */
  val MaxOpenFiles = 512

  /** Decoded bytes the unit cache holds: about 350 of the serving
    * benchmark's 500-row pages (~48 KB decoded each).
    */
  val DecodedCacheBytes: Long = 16L << 20

  private final case class FileMeta(
      file: String,
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
    val columns: Array[ColumnDescriptor] = footer.getFileMetaData.getSchema.getColumns.asScala.toArray
    val names: Array[String] = columns.map(_.getPath()(0))
    // top-level, non-repeated columns of a supported type only: anything
    // else takes the Spark path
    val servable: Boolean = columns.forall(cd =>
      cd.getPath.length == 1 && cd.getMaxRepetitionLevel == 0 && supported(cd))
    // offset indexes are immutable footer metadata — read once per row group
    private val offsetIndexes = new java.util.concurrent.ConcurrentHashMap[Integer, Option[OffsetIndex]]()
    // set under this entry's lock by close(); decodes check it under the
    // same lock, so none runs on a closed reader
    private var closed = false

    /** The row at `ordinal`: from the cached unit when there is one, else
      * decoded under this file's lock.
      */
    def read(ordinal: Long): Option[Row] = {
      if (!servable) return None
      var bi = blockFirstRow.length - 1
      while (bi > 0 && blockFirstRow(bi) > ordinal) bi -= 1
      val inBlock = ordinal - blockFirstRow(bi)
      val rowCount = footer.getBlocks.get(bi).getRowCount
      val oi = offsetIndex(bi)
      val page = if (oi == null) -1 else pageOf(oi, inBlock)
      val first = if (oi == null) 0L else oi.getFirstRowIndex(page)
      val key = UnitKey(file, bi, page)
      val at = (inBlock - first).toInt
      decodedCache.get(key) match {
        case u: Rows => StoreCounters.decodedHits.increment(); Some(new Row(u, at))
        case _ => synchronized {
          if (closed) None
          else {
            StoreCounters.decodedMisses.increment()
            val ranges =
              if (oi == null) RowRanges.createSingle(rowCount)
              else RowRanges.create(rowCount, java.util.stream.IntStream.of(page).iterator(), oi)
            val n = (if (oi == null) rowCount else oi.getLastRowIndex(page, rowCount) + 1) - first
            val unit = decodedCache.get(key) match {
              case null => Some(decodedCache.putIfAbsent(key, Seen))
              case Seen => decode(this, bi, ranges, 0L, n.toInt, DecodedCacheBytes).map(decodedCache.put(key, _))
              case cached => Some(cached) // decoded by a racing read, or oversized
            }
            unit.flatMap {
              case u: Rows => Some(new Row(u, at))
              case _ => decode(this, bi, ranges, at.toLong, 1, Long.MaxValue).collect {
                case u: Rows => new Row(u, 0)
              }
            }
          }
        }
      }
    }

    /** Row group `bi`'s `_rowid` offset index, or null; read once, under
      * this file's lock, as the reader is not thread-safe.
      */
    private def offsetIndex(bi: Int): OffsetIndex = {
      val hit = offsetIndexes.get(bi)
      (if (hit != null) hit else synchronized(offsetIndexes.computeIfAbsent(bi, _ => {
        val rowidChunk = footer.getBlocks.get(bi).getColumns.asScala
          .find(_.getPath.toDotString == VectorTable.ROWID).get
        try Option(reader.readOffsetIndex(rowidChunk)) catch { case _: Throwable => None }
      }))).orNull
    }

    def close(): Unit = synchronized {
      closed = true
      try reader.close() catch { case _: Throwable => () }
    }
  }

  /** The page of `oi` holding row `inBlock`: the last whose first row is
    * at or before it.
    */
  private def pageOf(oi: OffsetIndex, inBlock: Long): Int = {
    var lo = 0
    var hi = oi.getPageCount - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (oi.getFirstRowIndex(mid) <= inBlock) lo = mid else hi = mid - 1
    }
    lo
  }

  /** A column type [[decode]] reads. */
  private def supported(cd: ColumnDescriptor): Boolean = cd.getPrimitiveType.getPrimitiveTypeName match {
    case INT64 | DOUBLE | INT32 | FLOAT | BINARY | FIXED_LEN_BYTE_ARRAY | BOOLEAN => true
    case _ => false
  }

  private final case class UnitKey(file: String, group: Int, page: Int)

  /** What the unit cache holds for a unit: its rows, [[Seen]] or
    * [[Oversized]].
    */
  private sealed trait Decoded { def bytes: Long }

  /** A unit read once, row by row: its next miss decodes all of it. A unit
    * no later miss lands in never pays the whole decode.
    */
  private case object Seen extends Decoded { val bytes = 64L }

  /** A unit whose decode passed [[DecodedCacheBytes]]: its reads decode
    * their one row, uncached.
    */
  private case object Oversized extends Decoded { val bytes = 64L }

  /** One column of a decoded unit; `nulls` is null when no row is NULL. */
  private sealed abstract class Col(val nulls: java.util.BitSet, bytes: Long) {
    def value(i: Int): Any
    /** What the column adds to its unit's [[Rows.bytes]]. */
    val weight: Long = 32L + bytes + (if (nulls == null) 0L else nulls.size / 8)
  }
  /** A primitive column: `values` is an array of Long, Int, Double, Float
    * or Boolean, `width` bytes an element.
    */
  private final class Prims(values: Array[_], width: Int, n: java.util.BitSet)
      extends Col(n, width.toLong * values.length) {
    def value(i: Int): Any = values(i)
  }
  /** Row i's value is `data[offsets(i), offsets(i + 1))`. */
  private final class ByteCol(val data: Array[Byte], val offsets: Array[Int], utf8: Boolean, n: java.util.BitSet)
      extends Col(n, data.length + 4L * offsets.length) {
    def value(i: Int): Any =
      if (utf8) new String(data, offsets(i), offsets(i + 1) - offsets(i), java.nio.charset.StandardCharsets.UTF_8)
      else java.util.Arrays.copyOfRange(data, offsets(i), offsets(i + 1))
  }

  /** Consecutive rows of one file, column-major in `names` order; weighs
    * what [[decode]] counts against its budget.
    */
  private final class Rows(val names: Array[String], val cols: Array[Col]) extends Decoded {
    val bytes: Long = RowsBase + cols.map(_.weight).sum
  }
  private val RowsBase = 64L

  /** One row of a decoded unit, read by column position. */
  private[core] final class Row private[DirectParquetRead] (rows: Rows, i: Int) {
    /** The position of column `name`, or -1. */
    def column(name: String): Int = rows.names.indexOf(name)
    def isNull(c: Int): Boolean = { val n = rows.cols(c).nulls; n != null && n.get(i) }
    /** JVM-typed: Long, Int, Double, Float, Boolean, String for a UTF-8
      * column, else Array[Byte]; null for SQL NULL.
      */
    def value(c: Int): Any = if (isNull(c)) null else rows.cols(c).value(i)
    /** A byte column's value as a `UTF8String` over the cached bytes, no
      * copy; null for SQL NULL.
      */
    def utf8(c: Int): UTF8String =
      if (isNull(c)) null
      else rows.cols(c) match {
        case b: ByteCol => UTF8String.fromBytes(b.data, b.offsets(i), b.offsets(i + 1) - b.offsets(i))
        case _ => throw new UnsupportedOperationException(s"column ${rows.names(c)} holds no bytes")
      }
    def toMap: Map[String, Any] = rows.names.indices.map(c => rows.names(c) -> value(c)).toMap
  }

  private val metaCache = new BoundedLru[String, Option[FileMeta]](
    MaxOpenFiles, _ => 1L, (_, m) => m.foreach(_.close()))
  private val decodedCache = new BoundedLru[UnitKey, Decoded](
    DecodedCacheBytes, _.bytes, (_, d) => if (d.isInstanceOf[Rows]) StoreCounters.decodedEvictions.increment())
  private val conf = new Configuration()

  /** Open `file`'s parquet reader (footer read) against this object's one
    * loaded `conf`. The read options are built per reader from that conf,
    * never shared: each holds the reader's `CodecFactory`, which the
    * reader's `close()` releases. Callers close the reader.
    */
  def openFile(file: String): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(file), conf),
      HadoopReadOptions.builder(conf).build())

  /** The row of `rowid` in `file`, or None when this file can't serve the
    * read directly.
    */
  private[core] def rowByRowid(file: String, rowid: Long): Option[Row] =
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

  /** The cached footer of `file`, opened on a miss. Two racing misses both
    * open it; the loser closes its reader. A read whose reader an eviction
    * closed meanwhile returns None (the caller's Spark path).
    */
  private def meta(file: String): Option[FileMeta] = {
    val hit = metaCache.get(file)
    if (hit != null) { StoreCounters.footerHits.increment(); hit }
    else {
      StoreCounters.footerMisses.increment()
      val opened = openMeta(file)
      val cached = metaCache.putIfAbsent(file, opened)
      if (cached ne opened) opened.foreach(_.close())
      cached
    }
  }

  /** Close and drop the cached readers and decoded units of every file
    * under `dir`, before the directory is deleted: an open descriptor keeps
    * a deleted file's bytes on disk. A read racing the eviction finds its
    * reader closed and returns None (the caller's Spark path).
    */
  def evictUnder(dir: java.nio.file.Path): Unit = {
    val d = dir.toAbsolutePath.normalize
    def under(file: String) = Paths.get(file).toAbsolutePath.normalize.startsWith(d)
    // readers first: a decode running now finishes before its reader
    // closes, so its unit is cached by the time the units are dropped
    metaCache.removeWhere((f, _) => under(f))
    decodedCache.removeWhere((k, _) => under(k.file))
  }

  /** Access-ordered LRU, bounded: every applyDeletesFiles rewrite publishes
    * fresh UUID-named files whose spans get cached, so an UNBOUNDED map
    * grows driver memory monotonically across a long-running maintenance
    * loop (round-17 advice). 64k entries ≈ a few MB, far above any live
    * layout's file count; evicted entries just re-read one footer.
    */
  private val colSpanCache = new BoundedLru[String, Option[(Long, Long)]](65536, _ => 1L, (_, _) => ())

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
    val hit = colSpanCache.get(key)
    // footer read outside the lock: spans are pure functions of immutable
    // files, so a racing double-read is benign
    if (hit != null) hit else colSpanCache.putIfAbsent(key, readLongColSpan(file, colName))
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
      else Some(FileMeta(file, reader, footer, min, max, rows, firstRows))
    } catch { case _: Throwable => None }

  private val nopConverter = new PrimitiveConverter {}

  private lazy val syncReader: java.lang.reflect.Constructor[_ <: ColumnReader] = {
    val c = Class.forName("org.apache.parquet.column.impl.SynchronizingColumnReader")
      .asSubclass(classOf[ColumnReader])
      .getDeclaredConstructor(classOf[ColumnDescriptor], classOf[PageReader],
        classOf[PrimitiveConverter], classOf[VersionParser.ParsedVersion],
        classOf[java.util.PrimitiveIterator.OfLong])
    c.setAccessible(true)
    c
  }

  /** The one decode: rows [skip, skip + n) of the rows `ranges` selects
    * in row group `bi` (counted from its first selected row), column-major;
    * Some([[Oversized]]) once their [[Rows.bytes]] would pass `budget`,
    * None when the reader yields no page store.
    */
  private def decode(m: FileMeta, bi: Int, ranges: RowRanges, skip: Long, n: Int, budget: Long)
      : Option[Decoded] = {
    // upcast: the concrete ColumnChunkPageReadStore is package-private
    val store: PageReadStore = m.reader.readFilteredRowGroup(bi, ranges)
    if (store == null) return None
    try {
      var used = RowsBase
      val cols = new Array[Col](m.columns.length)
      var c = 0
      while (c < cols.length) {
        val cd = m.columns(c)
        val pages = store.getPageReader(cd)
        val rows = store.getRowIndexes
        // what ColumnReadStoreImpl.getColumnReader builds, given the parsed
        // writer version: over a row-index-filtered store the row-aligning
        // SynchronizingColumnReader (package-private, hence the handle)
        val cr =
          if (rows.isPresent) syncReader.newInstance(cd, pages, nopConverter, m.writerVersion, rows.get)
          else new ColumnReaderImpl(cd, pages, nopConverter, m.writerVersion)
        val max = cd.getMaxDefinitionLevel
        var k = skip
        while (k > 0) {
          if (cr.getCurrentDefinitionLevel == max) cr.skip()
          cr.consume()
          k -= 1
        }
        var nulls: java.util.BitSet = null
        // each present row's value by `get`, then the next row (none is
        // consumed past the last)
        def fill(get: Int => Unit): java.util.BitSet = {
          var i = 0
          while (i < n) {
            if (cr.getCurrentDefinitionLevel == max) get(i)
            else { if (nulls == null) nulls = new java.util.BitSet(n); nulls.set(i) }
            i += 1
            if (i < n) cr.consume()
          }
          nulls
        }
        val col: Col = cd.getPrimitiveType.getPrimitiveTypeName match {
          case INT64 => val v = new Array[Long](n); new Prims(v, 8, fill(i => v(i) = cr.getLong))
          case INT32 => val v = new Array[Int](n); new Prims(v, 4, fill(i => v(i) = cr.getInteger))
          case DOUBLE => val v = new Array[Double](n); new Prims(v, 8, fill(i => v(i) = cr.getDouble))
          case FLOAT => val v = new Array[Float](n); new Prims(v, 4, fill(i => v(i) = cr.getFloat))
          case BOOLEAN => val v = new Array[Boolean](n); new Prims(v, 1, fill(i => v(i) = cr.getBoolean))
          case _ =>
            val offsets = new Array[Int](n + 1)
            var data = new Array[Byte](math.max(64, n * 16))
            var len = 0
            fill { i =>
              val b = cr.getBinary.toByteBuffer
              val w = b.remaining
              if (used + len + w > budget) return Some(Oversized)
              if (len + w > data.length) data = java.util.Arrays.copyOf(data, math.max(len + w, data.length * 2))
              b.get(data, len, w)
              len += w
              offsets(i + 1) = len
            }
            // a NULL row is empty: its end is the previous row's
            var i = 0
            while (i < n) { if (offsets(i + 1) < offsets(i)) offsets(i + 1) = offsets(i); i += 1 }
            val utf8 = cd.getPrimitiveType.getLogicalTypeAnnotation
              .isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            new ByteCol(java.util.Arrays.copyOf(data, len), offsets, utf8, nulls)
        }
        used += col.weight
        if (used > budget) return Some(Oversized)
        cols(c) = col
        c += 1
      }
      Some(new Rows(m.names, cols))
    } finally store.close()
  }

  /** Drop cached readers and decoded units (tests; long-lived servers keep
    * them).
    */
  def invalidate(): Unit = {
    metaCache.clear()
    decodedCache.clear()
  }
}
