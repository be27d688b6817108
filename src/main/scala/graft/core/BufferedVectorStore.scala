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
  *  - a flush never makes a read wait on the append, as the reference's
  *    swap-then-append: it swaps the buffer out as an immutable in-flight
  *    segment under the read lock, appends that segment holding only the
  *    flush lock (which keeps flushes, and so rowids, in push order), and
  *    publishes by dropping the segment under the read lock again;
  *  - reads serve the merged view with rowid continuity, the reference's
  *    3-way pull routing (writable_cache.rs:222-298): every read takes one
  *    consistent triple under the read lock — committed rows
  *    `[0, committed)`, then the in-flight segment, then the buffer. While
  *    a flush runs, `committed` is the length when its segment was swapped
  *    out (`inflightStart`), even after the append commits, so the segment's
  *    rows count as buffered until the flush publishes;
  *  - a failed append loses nothing: the segment goes back to the front of
  *    the buffer, the daemon retries at a doubling interval (capped at 1 s,
  *    back to `pollMs` after a success), and `close()`, which drains the
  *    remaining buffer — flush-on-drop (writable_cache.rs:162-185) — throws
  *    the failure.
  *
  * Rowids stay dense only while this buffer is the table's one writer.
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

  // Guarded by `this`, the read lock: rows pushed since the last swap, the
  // segment a flush is appending (empty when none is) and the committed
  // length at its swap.
  private val buf = new ArrayBuffer[T]()
  private var inflight = Vector.empty[T]
  private var inflightStart = 0L

  /** Held through a whole flush; never taken by a read. */
  private val flushLock = new Object
  @volatile private var running = true

  /** Flushes the daemon attempted that failed. */
  @volatile private[core] var daemonFailures = 0L

  private val flusher = new Thread(() => {
    val maxDelayMs = math.max(pollMs, 1000L)
    var delayMs = pollMs
    while (running) {
      // a failed flush has put its rows back; the retry waits twice as
      // long as the last one
      delayMs =
        if (synchronized(buf.size) < maxItems) pollMs
        else try { flush(); pollMs } catch { case scala.util.control.NonFatal(_) =>
          daemonFailures += 1
          math.min(delayMs * 2, maxDelayMs)
        }
      Thread.sleep(delayMs)
    }
  }, s"graft-flusher-${System.identityHashCode(this)}")
  flusher.setDaemon(true)
  flusher.start()

  def push(obj: T): Unit = synchronized { buf += obj }
  def pushx(objs: Seq[T]): Unit = synchronized { buf ++= objs }

  // --- the routing triple; callers hold the read lock ---

  /** Rows not yet published: the in-flight segment, then the buffer. */
  private def pendingSize: Int = inflight.size + buf.size

  private def pendingAt(i: Int): T =
    if (i < inflight.size) inflight(i) else buf(i - inflight.size)

  private def pendingSlice(from: Long, until: Long): Vector[T] = {
    val n = inflight.size
    inflight.slice(from.toInt, until.toInt) ++
      buf.view.slice(math.max(0L, from - n).toInt, math.max(0L, until - n).toInt)
  }

  /** `f` of the committed head and the committed length, under the read
    * lock. Rows `[0, committed)` stay readable from the head after the lock
    * is released: `base` is append-only.
    */
  private def routed[A](f: (VectorTable.Snapshot, Long) => A): A = synchronized {
    val s = base.table.snapshot
    f(s, if (inflight.nonEmpty) inflightStart else s.manifest.length)
  }

  /** (committed, pending) lengths of one triple. */
  private def lengths(): (Long, Int) = routed((_, committed) => (committed, pendingSize))

  def bufferedCount: Int = synchronized(pendingSize)

  /** Merged length: committed + buffered (writable_cache.rs:210-212). */
  def len: Long = { val (b, n) = lengths(); b + n }
  def isEmpty: Boolean = len == 0L

  /** Merged point read (writable_cache.rs:222-246). */
  def pull(index: Long): T =
    get(index).getOrElse(
      throw new IndexOutOfBoundsException(s"pull($index) on merged length $len"))

  def get(index: Long): Option[T] = {
    // a committed row is read outside the lock on the head taken with the
    // triple (Left); an in-flight or buffered row returns directly (Right)
    val route: Either[VectorTable.Snapshot, Option[T]] = routed { (s, committed) =>
      if (index < 0 || index >= committed + pendingSize) Right(None)
      else if (index < committed) Left(s)
      else Right(Some(pendingAt((index - committed).toInt)))
    }
    route.fold(base.get(_, index), identity)
  }

  /** Merged range read with straddle routing (writable_cache.rs:248-298). */
  def pullx(index: Long, count: Long): Seq[T] =
    getx(index, count).getOrElse(
      throw new IndexOutOfBoundsException(s"pullx($index,$count) on merged length $len"))

  def getx(index: Long, count: Long): Option[Seq[T]] = {
    val route = routed { (s, committed) =>
      if (index < 0 || count < 0 || index + count > committed + pendingSize) None
      else Some((s, committed,
        pendingSlice(math.max(0L, index - committed), math.max(0L, index + count - committed))))
    }
    route.map { case (s, committed, pending) =>
      val dbPart =
        if (index >= committed) Vector.empty[T]
        else base.getx(s, index, math.min(count, committed - index)).get
      dbPart ++ pending
    }
  }

  def getall(): Option[Seq[T]] =
    if (isEmpty) None else getx(0, len)

  // --- buffer introspection (reference writable_cache.rs:119-159) ---
  // Indices here are BUFFER-relative (position among not-yet-published
  // rows, in-flight first), exactly as in the reference — not global rowids.

  /** Committed length — reference `get_base_len` (writable_cache.rs:119). */
  def baseLen: Long = lengths()._1

  /** Buffered (unpublished) count — reference `get_cache_len` (:123). */
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
  def getObjFromCache(index: Long): Option[T] = synchronized {
    if (index < 0 || index >= pendingSize) None else Some(pendingAt(index.toInt))
  }

  /** Partial buffer range read — reference `get_objs_from_cache` (:151). */
  def getObjsFromCache(index: Long, count: Long): Option[Seq[T]] = synchronized {
    if (index < 0 || count < 0 || index + count > pendingSize) None
    else Some(pendingSlice(index, index + count))
  }

  /** Committed ⋃ unpublished rows as one Dataset (SURVEY.md §2.4 merged
    * view). The committed side is pinned to `[0, committed)` of the triple:
    * scanning the whole table instead would show an in-flight segment twice
    * once its append commits, and pinning it to a later length would show
    * rows another flush published after the triple was taken.
    */
  def mergedView(): Dataset[T] = {
    val (committed, pending) = routed((_, c) => (c, pendingSlice(0L, pendingSize.toLong)))
    val spark = base.table.spark
    val committedDS =
      if (committed == 0L) spark.emptyDataset[T]
      else base.table.span(0L, committed).drop(VectorTable.ROWID).as[T]
    committedDS.unionAll(spark.createDataset(pending))
  }

  /** Drain the whole buffer to the backing store (writable_cache.rs:87-89:
    * flush is all-or-nothing). Flushes are serialized, so rowid order
    * matches buffer order; reads go on beside the append. If the append
    * throws, its rows go back to the front of the buffer and the exception
    * propagates.
    */
  def flush(): Unit = flushLock.synchronized {
    val segment = synchronized {
      if (buf.nonEmpty) {
        inflightStart = base.len
        inflight = buf.toVector
        buf.clear()
      }
      inflight
    }
    if (segment.nonEmpty) {
      var appended = false
      try { base.pushx(segment); appended = true }
      finally synchronized {
        if (!appended) buf.prependAll(segment)
        inflight = Vector.empty
      }
    }
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
