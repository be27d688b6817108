package graft.core

import graft.SparkSpec
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.Bridge

case class DRec(name: String, n: Long, score: Double, tag: String)
case class DNull(name: String, opt: Option[Long])
case class DNested(name: String, xs: Seq[Long])
case class DPage(name: String, n: Long, score: Double, tag: Option[String], k: Option[Int], flag: Boolean)

/** The direct-parquet point-read path: manifest → footer → one page → one
  * row, no Spark job (the reference's hottest path, readable_cache.rs:68-80
  * misses). Must agree exactly with the Spark read, serve from every batch
  * and row group, handle NULLs, refuse what it can't prove (nested schema),
  * and actually skip the job scheduler (latency class check). Rows come
  * from the decoded-unit cache: a page's first miss reads its one row, the
  * second decodes and caches the page, a unit above the cache's bound is
  * read row by row and never cached, and vacuum drops the units of the
  * files it deletes.
  */
class DirectReadSpec extends SparkSpec {
  import spark.implicits._

  test("pointLocal values agree with the Spark path across batches") {
    val store = VectorStore.create[DRec](spark, tmpDir("direct"))
    store.pushx((0 until 5000).map(i => DRec(s"name-$i", i.toLong, i * 0.5, if (i % 3 == 0) s"t$i" else s"u$i")))
    store.pushx((5000 until 7000).map(i => DRec(s"name-$i", i.toLong, i * 0.5, s"t$i")))

    // every probe must come back via pointLocal (fast path eligible)
    for (i <- Seq(0L, 1L, 4999L, 5000L, 6999L, 1234L, 42L)) {
      val direct = store.table.pointLocal(i)
      assert(direct.isDefined, s"fast path refused rowid $i")
      assert(direct.get("n") == i)
      val tag = if (i >= 5000 || i % 3 == 0) s"t$i" else s"u$i"
      assert(store.get(i).contains(DRec(s"name-$i", i, i * 0.5, tag)))
    }
    assert(store.get(7000L).isEmpty && store.get(-1L).isEmpty)
  }

  test("NULL fields round-trip through the direct path") {
    val store = VectorStore.create[DNull](spark, tmpDir("direct-null"))
    store.pushx(Seq(DNull("a", Some(1L)), DNull("b", None), DNull("c", Some(3L))))
    assert(store.get(1L).contains(DNull("b", None)))
    assert(store.table.pointLocal(1L).exists(_("opt") == null))
  }

  test("nested schemas are refused (fall back to the Spark path) but still correct") {
    val store = VectorStore.create[DNested](spark, tmpDir("direct-nested"))
    store.pushx(Seq(DNested("a", Seq(1L, 2L)), DNested("b", Seq(3L))))
    assert(store.table.pointLocal(0L).isEmpty) // repeated column → refuse
    assert(store.get(1L).contains(DNested("b", Seq(3L)))) // fallback serves it
  }

  test("getMany: small batches serve directly, agree with the job path, stay total") {
    val store = VectorStore.create[DRec](spark, tmpDir("direct-many"))
    store.pushx((0 until 3000).map(i => DRec(s"name-$i", i.toLong, i * 0.5, s"t$i")))
    val keys = Seq(0L, 17L, 2999L, 1234L, 5000L, -3L) // incl. out-of-range
    val got = store.getMany(keys)
    assert(got.keySet == Set(0L, 17L, 2999L, 1234L))
    assert(got(17L) == DRec("name-17", 17L, 8.5, "t17"))
    // past the direct limit the Spark path must produce the same picture
    val bigKeys = (0L until (VectorStore.directBatchLimit + 10L))
    val big = store.getMany(bigKeys)
    assert(big.size == bigKeys.size)
    assert(bigKeys.forall(k => big(k).n == k))
    // nested schema: direct path refuses, fallback still total
    val nested = VectorStore.create[DNested](spark, tmpDir("direct-many-nested"))
    nested.pushx(Seq(DNested("a", Seq(1L)), DNested("b", Seq(2L, 3L))))
    assert(nested.getMany(Seq(0L, 1L))(1L) == DNested("b", Seq(2L, 3L)))
  }

  test("direct reads skip the Spark scheduler (latency class)") {
    val store = VectorStore.create[DRec](spark, tmpDir("direct-lat"))
    store.pushx((0 until 100000).map(i => DRec(s"name-$i", i.toLong, i * 0.5, s"t$i")))
    store.get(50L) // warm footer cache + decoder
    val rnd = new scala.util.Random(7)
    val keys = Vector.fill(50)(rnd.nextInt(100000).toLong)
    // best of two passes: the first may absorb JIT/IO warm-up when the
    // whole suite runs in parallel on a loaded box
    val sec = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      keys.foreach(k => assert(store.get(k).exists(_.n == k)))
      (System.nanoTime() - t0) / 1e9
    }.min
    // Latency CLASS, not absolute wall-clock (an absolute bound flakes on
    // slow/shared hosts — seen at 2.585 s vs a 2.5 s limit on a machine
    // where every Spark op ran 4× slow): the direct path must beat the
    // same 50 keys THROUGH the scheduler by a wide factor. Job-path floor
    // is ~20-150 ms/key; direct is ~2-10 ms/key → 3× is a loose bound.
    val t1 = System.nanoTime()
    keys.foreach(k => assert(store.table.point(k).collect().length == 1))
    val jobSec = (System.nanoTime() - t1) / 1e9
    assert(sec * 3 < jobSec,
      f"direct reads ($sec%.3f s / 50) not decisively faster than job path ($jobSec%.3f s / 50)")
  }

  /** `f`'s result and the Spark jobs it started, counted by job group. */
  private def withJobCount[A](f: => A): (A, Int) = {
    val group = s"direct-read-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "direct read")
      val out = try f finally spark.sparkContext.clearJobGroup()
      Bridge.drainListeners(spark)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a short getx across a batch boundary starts no Spark job and agrees with the Spark path") {
    val store = VectorStore.create[DRec](spark, tmpDir("direct-range"))
    def rec(i: Int) = DRec(s"name-$i", i.toLong, i * 0.5, s"t$i")
    store.pushx((0 until 300).map(rec))
    store.pushx((300 until 600).map(rec))
    val n = VectorStore.directBatchLimit
    store.getx(0L, 1L) // warm the footers and the decoder
    val (direct, jobs) = withJobCount(store.getx(290L, n.toLong))
    assert(jobs == 0, s"a $n-row range started $jobs Spark jobs")
    val viaSpark = store.table.range(290L, n.toLong).orderBy("_rowid").drop("_rowid").as[DRec].collect().toSeq
    assert(direct.contains(viaSpark) && viaSpark == (290 until 290 + n).map(rec))
    // one row longer: the Spark path, same rows
    val (longer, longerJobs) = withJobCount(store.getx(290L, n + 1L))
    assert(longerJobs > 0 && longer.contains((290 until 291 + n).map(rec)))
    assert(store.getx(590L, n.toLong).isEmpty) // past the end, either way

    // a nested schema can't be read directly: the whole range falls back
    val nested = VectorStore.create[DNested](spark, tmpDir("direct-range-nested"))
    nested.pushx(Seq(DNested("a", Seq(1L)), DNested("b", Seq(2L, 3L))))
    nested.pushx(Seq(DNested("c", Nil)))
    val (fallback, fallbackJobs) = withJobCount(nested.getx(1L, 2L))
    assert(fallbackJobs > 0 && fallback.contains(Seq(DNested("b", Seq(2L, 3L)), DNested("c", Nil))))
  }

  test("a cached footer holds the writer version parsed from its created_by") {
    val root = tmpDir("direct-version")
    val store = VectorStore.create[DRec](spark, root)
    store.pushx((0 until 10).map(i => DRec(s"name-$i", i.toLong, i * 0.5, s"t$i")))
    val file = DirectParquetRead.partFiles(s"$root/${store.table.manifest.batches.head.relPath}").head
    val reader = DirectParquetRead.openFile(file)
    val createdBy = try reader.getFooter.getFileMetaData.getCreatedBy finally reader.close()
    val version = DirectParquetRead.writerVersion(file)
    assert(version.exists(_ != null) && version.get.toString == org.apache.parquet.VersionParser.parse(createdBy).toString)
    assert(store.get(7L).contains(DRec("name-7", 7L, 3.5, "t7")))
  }

  private def delta(before: Map[String, Long]): Map[String, Long] =
    StoreCounters.read.map { case (k, v) => k -> (v - before(k)) }

  private def partFilesOf(store: VectorStore[_]): Seq[String] =
    store.table.manifest.batches.flatMap(b => DirectParquetRead.partFiles(s"${store.table.root}/${b.relPath}"))

  /** The decode units of `file`: its `_rowid` offset-index pages, one per
    * row group without an offset index.
    */
  private def unitCount(file: String): Int = {
    import scala.jdk.CollectionConverters._
    val reader = DirectParquetRead.openFile(file)
    try reader.getFooter.getBlocks.asScala.map { b =>
      val rowid = b.getColumns.asScala.find(_.getPath.toDotString == VectorTable.ROWID).get
      Option(reader.readOffsetIndex(rowid)).fold(1)(_.getPageCount)
    }.sum
    finally reader.close()
  }

  test("every ordinal of a multi-page part reads the Spark path's row, cold and cached") {
    def rec(i: Int) = DPage(s"name-$i", i.toLong, i * 0.5,
      if (i % 7 == 3) None else Some(s"tag-${"x" * (i % 5)}$i"), if (i % 4 == 1) None else Some(i), i % 2 == 0)
    val n = 600
    val store = VectorStore.create[DPage](spark, tmpDir("direct-pages"))
    val key = "parquet.page.row.count.limit"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "100")
    try store.pushx((0 until n).map(rec))
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val units = partFilesOf(store).map(unitCount).sum
    assert(units > partFilesOf(store).size, s"$units units: the part must span several pages")
    val viaSpark = store.table.range(0L, n.toLong).orderBy("_rowid").drop("_rowid").as[DPage].collect().toSeq
    assert(viaSpark == (0 until n).map(rec))

    // cold: each read is its unit's first, which reads just its row
    (0 until n).foreach { i =>
      DirectParquetRead.invalidate()
      val before = StoreCounters.read
      assert(store.get(i.toLong).contains(viaSpark(i)), s"cold read of $i")
      assert(delta(before)("decoded.misses") == 1L)
    }
    // in order: a unit's first read reads its row, the second decodes and
    // caches the unit, every later one is an array lookup
    DirectParquetRead.invalidate()
    val before = StoreCounters.read
    (0 until n).foreach(i => assert(store.get(i.toLong).contains(viaSpark(i)), s"read of $i"))
    val d = delta(before)
    assert(d("decoded.misses") == 2L * units && d("decoded.hits") == n - 2L * units, d)
    // cached: every row of every decoded unit
    val again = StoreCounters.read
    (0 until n).foreach(i => assert(store.get(i.toLong).contains(viaSpark(i)), s"cached read of $i"))
    val d2 = delta(again)
    assert(d2("decoded.misses") == 0L && d2("decoded.hits") == n.toLong, d2)
    // the public map view of a cached row, NULLs included
    assert(store.table.pointLocal(3L).contains(
      Map("_rowid" -> 3L, "name" -> "name-3", "n" -> 3L, "score" -> 1.5, "tag" -> null, "k" -> 3, "flag" -> false)))
    assert(store.table.pointLocal(5L).exists(m => m("k") == null && m("tag") == "tag-5"))
  }

  test("a page decodes on its second miss; a read in a decoded page is a hit with no footer read") {
    def rec(i: Int) = DRec(s"name-$i", i.toLong, i * 0.5, s"t$i")
    val store = VectorStore.create[DRec](spark, tmpDir("direct-hit"))
    store.pushx((0 until 100).map(rec))
    DirectParquetRead.invalidate()
    for (i <- Seq(10, 12)) {
      val before = StoreCounters.read
      assert(store.get(i.toLong).contains(rec(i)))
      val d = delta(before)
      assert(d("decoded.hits") == 0L && d("decoded.misses") == 1L, d)
    }
    val before = StoreCounters.read
    assert(store.get(11L).contains(rec(11)))
    val d = delta(before)
    assert(d("decoded.hits") == 1L && d("decoded.misses") == 0L && d("footer.misses") == 0L, d)
  }

  test("a unit above the cache bound is served row by row and not cached") {
    val big = (DirectParquetRead.DecodedCacheBytes / 16).toInt
    def rec(i: Int) = DRec(s"name-$i", i.toLong, i * 0.5, s"$i-" + "y" * big)
    val store = VectorStore.create[DRec](spark, tmpDir("direct-oversized"))
    store.pushx((0 until 24).map(rec)) // one page of 24 rows: 1.5x the bound
    val file = partFilesOf(store).head
    assert(unitCount(file) == 1)
    DirectParquetRead.invalidate()
    for (i <- Seq(0, 11, 23, 11)) {
      val before = StoreCounters.read
      assert(store.get(i.toLong).contains(rec(i)), s"oversized read of $i")
      val d = delta(before)
      assert(d("decoded.misses") == 1L && d("decoded.hits") == 0L, d)
    }
  }

  test("vacuum drops the decoded units of the files it deletes") {
    val store = VectorStore.create[DRec](spark, tmpDir("direct-vacuum"))
    def rec(i: Int) = DRec(s"name-$i", i.toLong, i * 0.5, s"t$i")
    store.pushx((0 until 50).map(rec))
    store.pushx((50 until 100).map(rec))
    DirectParquetRead.invalidate()
    (0 until 100).foreach(i => assert(store.get(i.toLong).contains(rec(i))))
    val files = partFilesOf(store)
    assert(files.size == 2 && files.map(unitCount) == Seq(1, 1))
    val before = StoreCounters.read
    assert(store.table.deleteWhere(org.apache.spark.sql.functions.col("n") < 10L) == 10L)
    assert(store.table.purge() == 10L)
    store.table.vacuum(1)
    // the first batch was rewritten and its old file deleted, with its one
    // unit; the second file and its unit were kept
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(files.head)))
    assert(delta(before)("decoded.evictions") == 1L, delta(before))
    val kept = StoreCounters.read
    assert((50 until 100).forall(i => store.get(i.toLong).contains(rec(i))))
    val d = delta(kept)
    assert(d("decoded.hits") == 50L && d("decoded.misses") == 0L, d)
    assert(store.get(5L).isEmpty && (10 until 50).forall(i => store.get(i.toLong).contains(rec(i))))
  }
}
