package graft.core

import graft.SparkSpec
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.Bridge

case class DRec(name: String, n: Long, score: Double, tag: String)
case class DNull(name: String, opt: Option[Long])
case class DNested(name: String, xs: Seq[Long])

/** The direct-parquet point-read path: manifest → footer → one page → one
  * row, no Spark job (the reference's hottest path, readable_cache.rs:68-80
  * misses). Must agree exactly with the Spark read, serve from every batch
  * and row group, handle NULLs, refuse what it can't prove (nested schema),
  * and actually skip the job scheduler (latency class check).
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
}
