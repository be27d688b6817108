package graft.core

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try

/** WritableCache semantics (reference: src/cache/writable_cache.rs):
  * acknowledge-before-durability, merged read view with straddle routing,
  * threshold-triggered background flush, flush-on-close.
  */
case class BRec(v: Long)

class BufferedVectorStoreSpec extends SparkSpec {

  private def fresh(maxItems: Int = 1000000): (VectorStore[BRec], BufferedVectorStore[BRec]) = {
    import spark.implicits._
    val base = VectorStore.create[BRec](spark, tmpDir("bufstore"))
    (base, new BufferedVectorStore[BRec](base, maxItems))
  }

  test("merged len = committed + buffered (writable_cache.rs:210-212)") {
    val (base, buf) = fresh()
    base.pushx((0 until 10).map(i => BRec(i.toLong)))
    buf.pushx((10 until 15).map(i => BRec(i.toLong)))
    assert(buf.len == 15L)
    assert(base.len == 10L) // not yet durable
    buf.close()
  }

  test("pull routes db vs buffer by base length (writable_cache.rs:222-246)") {
    val (base, buf) = fresh()
    base.pushx(Seq(BRec(0L), BRec(1L)))
    buf.pushx(Seq(BRec(2L), BRec(3L)))
    assert(buf.pull(1) == BRec(1L)) // from backing store
    assert(buf.pull(3) == BRec(3L)) // from buffer
    intercept[IndexOutOfBoundsException](buf.pull(4))
    buf.close()
  }

  test("getx straddle: db part + buffer prefix (writable_cache.rs:248-298)") {
    val (base, buf) = fresh()
    base.pushx((0 until 10).map(i => BRec(i.toLong)))
    buf.pushx((10 until 20).map(i => BRec(i.toLong)))
    assert(buf.getx(8, 6).exists(_.map(_.v) == (8L until 14L)))
    assert(buf.getx(12, 4).exists(_.map(_.v) == (12L until 16L))) // all-buffer
    assert(buf.getx(0, 21).isEmpty) // OOB
    buf.close()
  }

  test("background flusher drains at threshold (writable_cache.rs:78-95)") {
    val (base, buf) = fresh(maxItems = 100)
    buf.pushx((0 until 150).map(i => BRec(i.toLong)))
    // poll for the daemon flush instead of a fixed sleep; its rows count
    // as buffered until the flush publishes, just after the commit
    val deadline = System.currentTimeMillis() + 30000
    while ((base.len < 150L || buf.bufferedCount > 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(base.len == 150L)
    assert(buf.bufferedCount == 0)
    buf.close()
  }

  test("close drains remaining buffer (flush-on-drop, writable_cache.rs:162-185)") {
    val (base, buf) = fresh()
    buf.pushx((0 until 7).map(i => BRec(i.toLong)))
    buf.close()
    assert(base.len == 7L)
    assert(base.getall().get.map(_.v) == (0L until 7L))
  }

  test("mergedView unions committed and in-flight rows") {
    val (base, buf) = fresh()
    base.pushx(Seq(BRec(1L)))
    buf.pushx(Seq(BRec(2L)))
    assert(buf.mergedView().collect().map(_.v).sorted.toSeq == Seq(1L, 2L))
    buf.close()
  }

  test("buffer introspection: each_len + buffer-relative reads (writable_cache.rs:119-159)") {
    val (base, buf) = fresh()
    base.pushx((0 until 3).map(i => BRec(i.toLong)))
    buf.pushx((10 until 14).map(i => BRec(i.toLong)))
    assert(buf.baseLen == 3L && buf.cacheLen == 4)
    assert(buf.eachLen == ((4L, 3L, 7L)))
    // buffer-relative, not global rowid: index 0 is the first UNFLUSHED row
    assert(buf.getObjFromCache(0L).contains(BRec(10L)))
    assert(buf.gettingObjFromCache(3L) == BRec(13L))
    assert(buf.getObjsFromCache(1L, 2L).contains(Seq(BRec(11L), BRec(12L))))
    assert(buf.getObjFromCache(4L).isEmpty)
    assert(buf.getObjsFromCache(3L, 2L).isEmpty)
    intercept[IndexOutOfBoundsException](buf.gettingObjFromCache(4L))
    buf.flush()
    assert(buf.eachLen == ((0L, 7L, 7L)))
    assert(buf.getObjFromCache(0L).isEmpty)
    buf.close()
  }

  private def rows(from: Int, until: Int): Seq[BRec] = (from until until).map(i => BRec(i.toLong))

  /** Waits until `buf`'s flusher thread blocks inside a table append. */
  private def awaitFlusherBlocked(buf: BufferedVectorStore[BRec]): Unit = {
    val name = s"graft-flusher-${System.identityHashCode(buf)}"
    val deadline = System.currentTimeMillis() + 30000
    def blocked = Thread.getAllStackTraces.asScala.exists { case (t, frames) =>
      t.getName == name && t.getState == Thread.State.BLOCKED &&
        frames.exists(_.getClassName == classOf[VectorTable].getName)
    }
    while (!blocked && System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(blocked, "the flusher never blocked on the commit lock")
  }

  test("reads go on beside a flush whose append waits on the commit lock") {
    import spark.implicits._
    val root = tmpDir("bufstore-beside")
    val base = VectorStore.create[BRec](spark, root)
    base.pushx(rows(0, 10))
    val buf = new BufferedVectorStore[BRec](base, maxItems = 20)
    // committed [0, 10), in flight [10, 30), buffered [30, 35)
    val reads = VectorTable.commitLock.synchronized {
      buf.pushx(rows(10, 30))
      awaitFlusherBlocked(buf)
      buf.pushx(rows(30, 35))
      Try(Await.result(Future {
        (buf.get(5L), buf.get(15L), buf.get(32L), buf.get(35L), buf.len, buf.eachLen,
          buf.getx(8L, 24L), buf.getx(9L, 3L), buf.getx(28L, 4L),
          buf.getObjFromCache(0L), buf.mergedView().collect().map(_.v).sorted.toSeq)
      }(ExecutionContext.global), 60.seconds))
    }
    assert(reads.isSuccess, s"reads waited on the flush: $reads")
    val (g5, g15, g32, g35, len, each, straddle, lowSeam, highSeam, pending0, merged) = reads.get
    assert(g5.contains(BRec(5L)) && g15.contains(BRec(15L)) && g32.contains(BRec(32L)) && g35.isEmpty)
    assert(len == 35L && each == ((25L, 10L, 35L)))
    assert(straddle.contains(rows(8, 32)))
    assert(lowSeam.contains(rows(9, 12)) && highSeam.contains(rows(28, 32)))
    assert(pending0.contains(BRec(10L)))
    assert(merged == (0L until 35L))
    buf.close()
    val reopened = VectorStore.open[BRec](spark, root)
    assert(reopened.getall().contains(rows(0, 35)))
  }

  test("a failed flush keeps its rows and the flusher retries") {
    import spark.implicits._
    val root = tmpDir("bufstore-fail")
    val base = VectorStore.create[BRec](spark, root)
    base.pushx(rows(0, 10)) // version 1
    // another writer already holds the directory the next append (batch 2) writes
    def takeBatchDir(id: Int) = Files.createDirectories(Paths.get(root, "data", f"batch-$id%08d"))
    val taken = takeBatchDir(2)
    val buf = new BufferedVectorStore[BRec](base, maxItems = 5)
    buf.pushx(rows(10, 15)) // at the threshold: the daemon's flushes fail too
    intercept[Exception](buf.flush())
    assert(base.len == 10L)
    assert(buf.eachLen == ((5L, 10L, 15L)))
    assert(buf.get(12L).contains(BRec(12L)) && buf.getx(8L, 4L).contains(rows(8, 12)))
    // the daemon keeps failing; each retry waits twice as long as the last
    val failedBefore = buf.daemonFailures
    Thread.sleep(1000)
    val attempts = buf.daemonFailures - failedBefore
    assert(attempts >= 1 && attempts <= 10,
      s"$attempts failed flushes in 1 s: retries must back off, not poll every 10 ms")
    Fs.deleteTree(taken)
    val deadline = System.currentTimeMillis() + 30000
    while ((base.len < 15L || buf.bufferedCount > 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(base.len == 15L && buf.bufferedCount == 0, "the flusher stopped after a failed flush")
    assert(base.getall().contains(rows(0, 15)))

    // close() drains what is left and throws the failure
    val taken3 = takeBatchDir(3)
    buf.pushx(rows(15, 17))
    intercept[Exception](buf.close())
    assert(buf.len == 17L && buf.get(16L).contains(BRec(16L)))
    Fs.deleteTree(taken3)
    buf.flush()
    assert(base.getall().contains(rows(0, 17)))
  }
}
