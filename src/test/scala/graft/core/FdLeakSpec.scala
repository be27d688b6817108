package graft.core

import graft.SparkSpec

/** Serving reads hold no descriptor they do not need: a point read that
  * misses the LRU revalidates the table's cached head snapshot (no
  * listing) and reads through a cached reader per part file; listings on a
  * snapshot reload close their `Files.list` stream, and vacuum closes the
  * cached readers of the files it deletes, so their bytes leave the disk.
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

  test("purge + vacuum leave no open descriptor on a deleted part file") {
    assume(new java.io.File("/proc/self/fd").isDirectory, "needs /proc/self/fd")
    import spark.implicits._
    val store = VectorStore.create[VRec](spark, tmpDir("fdvacuum"))
    (0 until 4).foreach { b =>
      store.pushx((b * 50 until (b + 1) * 50).map(i => VRec(s"r$i", i.toLong)))
    }
    val root = java.nio.file.Paths.get(store.table.root).toRealPath().toString
    // point reads open a cached reader on every part file
    (0L until 200L).foreach(i => assert(store.get(i).exists(_.n == i)))
    assert(store.table.deleteWhere(org.apache.spark.sql.functions.col("n") < 60L) == 60L)
    assert(store.table.purge() == 60L)
    store.table.vacuum(1)
    val stale = new java.io.File("/proc/self/fd").listFiles().toSeq.flatMap { f =>
      try Some(java.nio.file.Files.readSymbolicLink(f.toPath).toString)
      catch { case _: java.io.IOException => None }
    }.filter(t => t.startsWith(root + "/") && t.endsWith(" (deleted)"))
    assert(stale.isEmpty, s"open descriptors on deleted files: $stale")
    assert(store.get(10L).isEmpty, "a purged row is gone")
    (60L until 200L).foreach(i => assert(store.get(i).exists(_.n == i)))
  }
}
