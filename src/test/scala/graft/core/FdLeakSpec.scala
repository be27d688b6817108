package graft.core

import graft.SparkSpec

/** Serving reads close every directory handle they open: point reads that
  * miss the LRU resolve the manifest version listing and the batch's part
  * files on each call, so an unclosed `Files.list` stream there leaks file
  * descriptors in proportion to the read count.
  */
class FdLeakSpec extends SparkSpec {

  private def openFds(): Int = new java.io.File("/proc/self/fd").list().length

  test("LRU-missing gets against a multi-version store leave the open-fd count flat") {
    assume(new java.io.File("/proc/self/fd").isDirectory, "needs /proc/self/fd")
    import spark.implicits._
    val store = VectorStore.create[VRec](spark, tmpDir("fdleak"))
    (0 until 6).foreach { b =>
      store.pushx((b * 50 until (b + 1) * 50).map(i => VRec(s"r$i", i.toLong)))
    }
    assert(Manifest.listVersions(store.table.root).size >= 6)
    val cached = new ReadCachedStore[VRec](store.get, store.getx, capacity = 4)
    def sweep(): Unit = (0L until 300L).foreach(i => assert(cached.getting(i).exists(_.n == i)))
    sweep() // warm: footer caches open each part file once
    val before = openFds()
    sweep(); sweep()
    val growth = openFds() - before
    assert(cached.stats._2 >= 900L, "the sweeps must miss the LRU")
    assert(growth <= 16, s"600 LRU-missing gets grew the open-fd count by $growth")
  }
}
