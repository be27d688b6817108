package graft.core

import graft.SparkSpec
import java.nio.file.{Files, Paths}

case class SnapRec(k: String, n: Long)

/** The cached head snapshot of [[VectorTable]]: a warm point read reuses
  * it without listing `_graft/` or parsing a manifest, yet every read still
  * sees the newest committed version, whoever committed it.
  */
class ManifestSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def rows(tag: String, from: Int, until: Int): Seq[SnapRec] =
    (from until until).map(i => SnapRec(s"$tag$i", i.toLong))

  private def delta(before: Map[String, Long]): Map[String, Long] =
    StoreCounters.read.map { case (k, v) => k -> (v - before(k)) }

  test("a commit through a second instance on the same root is visible to the first") {
    val root = tmpDir("snap-two")
    val a = VectorStore.create[SnapRec](spark, root)
    a.pushx(rows("a", 0, 10))
    assert(a.len == 10L && a.get(3L).contains(SnapRec("a3", 3L)))
    assert(a.get(12L).isEmpty)

    val b = VectorStore.open[SnapRec](spark, root)
    b.pushx(rows("b", 10, 15))
    assert(a.len == 15L)
    assert(a.get(12L).contains(SnapRec("b12", 12L)))
    assert(a.getMany(Seq(2L, 14L)) == Map(2L -> SnapRec("a2", 2L), 14L -> SnapRec("b14", 14L)))

    // a rewind through the other instance shrinks the first one's view too
    b.table.restore(1L)
    assert(a.len == 10L && a.get(12L).isEmpty)
    b.pushx(rows("c", 10, 12))
    assert(a.get(11L).contains(SnapRec("c11", 11L)))
  }

  test("a root deleted and recreated with the same version count serves the new rows") {
    val root = tmpDir("snap-recreate")
    val head = Manifest.metaDir(root).resolve(Manifest.fileName(2L))
    val a = VectorStore.create[SnapRec](spark, root)
    a.pushx(rows("k", 0, 20))
    a.pushx(rows("k", 20, 40))
    assert(a.get(5L).contains(SnapRec("k5", 5L)) && a.get(25L).contains(SnapRec("k25", 25L)))
    val oldText = Files.readString(head)

    // the same rows in reverse order within each batch: equal lengths,
    // schema and per-batch zone maps, so the head manifest's text is equal
    // too; only the head file itself differs
    Fs.deleteTree(Paths.get(root))
    val b = VectorStore.create[SnapRec](spark, root)
    b.pushx(rows("k", 0, 20).reverse)
    b.pushx(rows("k", 20, 40).reverse)
    assert(Manifest.listVersions(root) == Seq(1L, 2L))
    assert(Files.readString(head) == oldText)

    assert(a.len == 40L)
    assert(a.get(5L).contains(SnapRec("k14", 14L)))
    assert(a.get(25L).contains(SnapRec("k34", 34L)))
    assert(a.getx(0L, 3L).contains(Seq(SnapRec("k19", 19L), SnapRec("k18", 18L), SnapRec("k17", 17L))))
  }

  test("a warm LRU-missing get lists nothing and parses nothing, then sees a new commit") {
    val root = tmpDir("snap-warm")
    val store = VectorStore.create[SnapRec](spark, root)
    (0 until 6).foreach(b => store.pushx(rows("r", b * 50, (b + 1) * 50)))
    val buffered = new BufferedVectorStore[SnapRec](store, maxItems = 1000000)
    try {
      val cached = new ReadCachedStore[SnapRec](buffered.get, buffered.getx, capacity = 4)
      def sweep(): Unit =
        (0L until 300L).foreach(i => assert(cached.getting(i).contains(SnapRec(s"r$i", i))))
      sweep() // warm: one reload, one listing per batch, one footer read per file
      val before = StoreCounters.read
      sweep()
      val d = delta(before)
      assert(cached.stats._2 >= 600L, "the sweeps must miss the LRU")
      assert(d("manifest.listings") == 0L && d("manifest.parses") == 0L, d)
      assert(d("manifest.reloaded") == 0L && d("parts.listings") == 0L, d)
      assert(d("footer.misses") == 0L && d("footer.hits") >= 300L, d)
      assert(d("manifest.reused") == 300L, s"one snapshot per get: $d")

      // a commit by another writer is seen on the very next read
      VectorStore.open[SnapRec](spark, root).pushx(rows("w", 300, 310))
      buffered.push(SnapRec("buf310", 310L))
      assert(buffered.len == 311L)
      assert(buffered.eachLen == ((1L, 310L, 311L)))
      assert(cached.getting(305L).contains(SnapRec("w305", 305L)))
      assert(cached.getting(310L).contains(SnapRec("buf310", 310L)))
      // and so is one by this instance
      buffered.flush()
      assert(store.len == 311L && store.get(310L).contains(SnapRec("buf310", 310L)))
    } finally buffered.close()
  }

  test("a reader polling beside 200 commits never sees a partial manifest") {
    val root = tmpDir("snap-publish")
    val writer = VectorStore.create[SnapRec](spark, root)
    writer.pushx(rows("p", 0, 200))
    val head = writer.table.manifest
    // versions 2..201 each publish the first k rows of the one batch, as k
    // one-row batch lines: a manifest cut short covers fewer rows than its
    // header's length, and the later versions take several writes
    def version(k: Int): Manifest = head.copy(version = head.version + k, length = k.toLong,
      batches = Vector.tabulate(k)(j => head.batches.head.copy(id = j + 1L, start = j.toLong, end = j + 1L)))
    val reader = VectorStore.open[SnapRec](spark, root)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val polls = new java.util.concurrent.atomic.AtomicInteger()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val poller = new Thread(() =>
      while (!done.get) {
        try {
          val s = reader.table.snapshot
          val m = s.manifest
          val covered = m.batches.map(_.end).maxOption.getOrElse(0L)
          if (covered < m.length) failures.add(s"v${m.version}: length ${m.length}, batches cover $covered")
          // a get costs a page decode: one every 8 polls keeps the head checks dense
          else if (polls.incrementAndGet() % 8 == 0 && m.length > 0L &&
                   !reader.get(s, m.length - 1L).contains(SnapRec(s"p${m.length - 1L}", m.length - 1L)))
            failures.add(s"v${m.version}: get(${m.length - 1L}) wrong")
          reader.len
        } catch { case scala.util.control.NonFatal(e) => failures.add(e.toString) }
      })
    poller.start()
    try (1 to 200).foreach(k => Manifest.commit(root, version(k)))
    finally { done.set(true); poller.join() }
    assert(failures.isEmpty, failures.toArray.take(3).mkString("; "))
    assert(polls.get > 0 && reader.len == 200L)
    assert(Fs.list(Manifest.metaDir(root)).forall(!_.getFileName.toString.startsWith(".")),
      "a publish left its temp file")
  }
}
