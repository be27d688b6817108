package graft.core

import org.apache.spark.sql.{Dataset, Encoder}
import scala.collection.mutable.ArrayBuffer

/** Write-behind buffer over a [[VectorStore]] — the reference's
  * `WritableCache` (reference: src/cache/writable_cache.rs):
  *
  *  - `push`/`pushx` append to an in-memory buffer and acknowledge before
  *    durability (writable_cache.rs:106-117);
  *  - a background daemon polls every `pollMs` (reference: 10 ms,
  *    writable_cache.rs:94) and drains the whole buffer to the backing
  *    store once it holds ≥ `maxItems` (default 500 000, env-tunable there
  *    via MAX_WRCACHE_ITEMS — writable_cache.rs:20,60-70);
  *  - reads serve the merged committed ⋃ buffered view with rowid
  *    continuity: the reference's 3-way pull routing
  *    (writable_cache.rs:222-298) reduces here to "index < base.len →
  *    backing store, else buffer[index - base.len]";
  *  - `close()` drains the remaining buffer — flush-on-drop
  *    (writable_cache.rs:162-185).
  *
  * This is the micro-batch ingestion pattern; the Structured Streaming
  * equivalent (file/rate source → `foreachBatch` append) lives in
  * `graft.streaming`.
  */
final class BufferedVectorStore[T: Encoder](
    val base: VectorStore[T],
    val maxItems: Int = BufferedVectorStore.defaultMaxItems,
    pollMs: Long = 10L
) extends AutoCloseable {

  private val buf = new ArrayBuffer[T]()
  @volatile private var running = true

  private val flusher = new Thread(() => {
    while (running) {
      if (bufferedCount >= maxItems) flush()
      Thread.sleep(pollMs)
    }
  }, s"graft-flusher-${System.identityHashCode(this)}")
  flusher.setDaemon(true)
  flusher.start()

  def push(obj: T): Unit = buf.synchronized { buf += obj }
  def pushx(objs: Seq[T]): Unit = buf.synchronized { buf ++= objs }

  def bufferedCount: Int = buf.synchronized(buf.size)

  /** Consistent (committed length, buffered snapshot) pair, taken under the
    * flush lock: without it, a reader racing the daemon flusher between
    * buffer-clear and base commit could see an index transiently vanish
    * (len shrink / get → None for a valid index). `base` is append-only, so
    * a row observed committed here stays readable outside the lock.
    * Reads of one element or of the sizes take the same two locks without
    * copying the buffer.
    */
  private def mergedSnapshot(): (Long, Vector[T]) = this.synchronized {
    (base.len, buf.synchronized(buf.toVector))
  }

  /** (committed, buffered) lengths under the flush lock. */
  private def lengths(): (Long, Int) = this.synchronized {
    (base.len, buf.synchronized(buf.size))
  }

  /** Merged length: committed + buffered (writable_cache.rs:210-212). */
  def len: Long = { val (b, n) = lengths(); b + n }
  def isEmpty: Boolean = len == 0L

  /** Merged point read (writable_cache.rs:222-246). */
  def pull(index: Long): T =
    get(index).getOrElse(
      throw new IndexOutOfBoundsException(s"pull($index) on merged length $len"))

  def get(index: Long): Option[T] = {
    // the committed snapshot and the buffered element are taken together
    // under the flush lock; the committed read runs outside it on that
    // snapshot (Left), a buffered hit returns directly (Right)
    val routed: Either[VectorTable.Snapshot, Option[T]] = this.synchronized {
      val s = base.table.snapshot
      val baseLen = s.manifest.length
      buf.synchronized {
        if (index < 0 || index >= baseLen + buf.size) Right(None)
        else if (index < baseLen) Left(s)
        else Right(Some(buf((index - baseLen).toInt)))
      }
    }
    routed.fold(base.get(_, index), identity)
  }

  /** Merged range read with straddle routing (writable_cache.rs:248-298). */
  def pullx(index: Long, count: Long): Seq[T] =
    getx(index, count).getOrElse(
      throw new IndexOutOfBoundsException(s"pullx($index,$count) on merged length $len"))

  def getx(index: Long, count: Long): Option[Seq[T]] = {
    val (baseLen, snapshot) = mergedSnapshot()
    val total = baseLen + snapshot.size
    if (index < 0 || count < 0 || index + count > total) None
    else {
      val dbPart =
        if (index >= baseLen) Vector.empty[T]
        else base.getx(index, math.min(count, baseLen - index)).get.toVector
      val bufLo = math.max(0L, index - baseLen).toInt
      val bufHi = math.max(0L, index + count - baseLen).toInt
      Some(dbPart ++ snapshot.slice(bufLo, bufHi))
    }
  }

  def getall(): Option[Seq[T]] =
    if (isEmpty) None else getx(0, len)

  // --- buffer introspection (reference writable_cache.rs:119-159) ---
  // Indices here are BUFFER-relative (position among not-yet-flushed rows),
  // exactly as in the reference — not global rowids.

  /** Committed length — reference `get_base_len` (writable_cache.rs:119). */
  def baseLen: Long = base.len

  /** Buffered (unflushed) count — reference `get_cache_len` (:123). */
  def cacheLen: Int = bufferedCount

  /** (buffered, committed, total) under one consistent snapshot —
    * reference `get_each_len` (writable_cache.rs:140-145).
    */
  def eachLen: (Long, Long, Long) = {
    val (b, n) = lengths()
    (n.toLong, b, b + n)
  }

  /** Total buffer read, panicking OOB — reference `getting_obj_from_cache`
    * (writable_cache.rs:127).
    */
  def gettingObjFromCache(index: Long): T =
    getObjFromCache(index).getOrElse(
      throw new IndexOutOfBoundsException(s"buffer index $index of $cacheLen"))

  /** Partial buffer read — reference `get_obj_from_cache` (:147). */
  def getObjFromCache(index: Long): Option[T] = buf.synchronized {
    if (index < 0 || index >= buf.size) None else Some(buf(index.toInt))
  }

  /** Partial buffer range read — reference `get_objs_from_cache` (:151). */
  def getObjsFromCache(index: Long, count: Long): Option[Seq[T]] = buf.synchronized {
    if (index < 0 || count < 0 || index + count > buf.size) None
    else Some(buf.slice(index.toInt, (index + count).toInt).toVector)
  }

  /** Committed ⋃ in-flight as one Dataset (SURVEY.md §2.4 merged view). */
  def mergedView(): Dataset[T] = this.synchronized {
    // Both sides pinned under the flush lock: base.toDS() resolves the
    // manifest eagerly, so a concurrent flush can neither drop buffered rows
    // nor surface them twice (once from the snapshot, once from the scan).
    val spark = base.table.spark
    val committed = base.toDS()
    val snapshot = buf.synchronized(buf.toVector)
    committed.unionAll(spark.createDataset(snapshot))
  }

  /** Drain the whole buffer to the backing store (writable_cache.rs:87-89:
    * flush is all-or-nothing). Synchronized against concurrent flushes so
    * rowid order matches buffer order.
    */
  def flush(): Unit = this.synchronized {
    val drained = buf.synchronized {
      val d = buf.toVector
      buf.clear()
      d
    }
    if (drained.nonEmpty) base.pushx(drained)
  }

  override def close(): Unit = {
    running = false
    flusher.join(5000)
    flush()
  }
}

object BufferedVectorStore {
  /** Default flush threshold: `MAX_WRCACHE_ITEMS` env var, falling back to
    * the reference's 500 000 (writable_cache.rs:20,60-70). A same-named JVM
    * system property takes precedence so tests can exercise the override.
    */
  def defaultMaxItems: Int = EnvCapacity("MAX_WRCACHE_ITEMS", 500000)
}
