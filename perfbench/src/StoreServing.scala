package perfbench

import graft.core.{BufferedVectorStore, Manifest, ReadCachedStore, VectorStore}
import java.nio.file.Paths
import org.apache.spark.sql.{Encoder, Encoders}
import scala.collection.mutable.ArrayBuffer

/** The reference's serving stack, `ReadCachedStore.over(BufferedVectorStore(
  * VectorStore))`, under one fixed seeded op sequence: Zipf point gets
  * biased to recent rows, a trickle of small appends that makes the
  * flusher run several cycles, a few short ranges and `len`.
  */
object StoreServing {
  implicit val enc: Encoder[Rec] = Encoders.product[Rec]

  // Sizes. The key space (10 000 preloaded rows) is 5x the LRU; the
  // Zipf(1.2) hot set that fits in it takes about 88 % of the gets. A flush
  // fires every 600 appended rows, about eight times per run. Ranges are
  // few: each starts two Spark jobs, the noisiest latency on a shared host.
  // The op count is bounded by the engine's descriptor leak (about 8 per LRU
  // miss, see WORKLOADS.md): a run must stay well below the 20 000 limit.
  val PreloadBatches = 20
  val PreloadRows = 500
  val SetupRepeats = 3
  val LruCapacity = 2000
  val BufferMaxItems = 600
  val PollMs = 10L
  val OpsPerSecond = 800
  val WarmOps = 400
  val PushRows = 20
  val RangeRows = 16
  val ZipfS = 1.2
  // op mix: the rest of the ops are gets
  val PPush = 0.03
  val PLen = 0.01
  val PRange = 0.0005
  val PRecentGet = 0.05
  // The sequence is built as segments of identical mix (one range each),
  // so the ranges are spread over the run.
  val Segments = 4

  sealed trait Op
  final case class Get(key: Long) extends Op
  final case class Push(from: Long, n: Int) extends Op
  final case class Len(expected: Long) extends Op
  final case class Range(start: Long, n: Int) extends Op

  /** The op sequence for a store preloaded with `n0` rows, built as
    * [[Segments]] segments: pure function of (seed, n0, count). Every segment holds the
    * same count of each op kind (as evenly as integers allow) and the get
    * keys are stratified Zipf quantiles, so seeds change the order and the
    * exact keys but not the mix.
    */
  def ops(seed: Long, n0: Long, count: Int): Array[Op] = {
    val r = new Gen.Rng(Gen.hash(seed, 9, n0))
    val ranks = math.min(n0, Int.MaxValue.toLong).toInt
    val cdf = new Array[Double](ranks)
    var acc = 0.0
    var k = 0
    while (k < ranks) { acc += 1.0 / math.pow(k + 1.0, ZipfS); cdf(k) = acc; k += 1 }
    val nPush = math.round(count * PPush).toInt
    val nLen = math.round(count * PLen).toInt
    val nRange = math.max(1, math.round(count * PRange).toInt)
    val nGet = count - nPush - nLen - nRange
    def share(n: Int, s: Int): Int = n * (s + 1) / Segments - n * s / Segments
    val kinds = Array.tabulate(Segments) { s =>
      r.shuffle(Array.fill(share(nPush, s))('p') ++ Array.fill(share(nLen, s))('l') ++
        Array.fill(share(nRange, s))('r') ++ Array.fill(share(nGet, s))('g'))
    }
    val quantiles = r.shuffle(Array.tabulate(nGet)(i => (i + r.nextDouble()) / nGet))
    var g = 0
    var len = n0
    kinds.flatten.map {
      case 'p' => val p = Push(len, PushRows); len += PushRows; p
      case 'l' => Len(len)
      case 'r' => Range((r.nextDouble() * (len - RangeRows)).toLong, RangeRows)
      case _ =>
        val u = quantiles(g)
        g += 1
        if (len > n0 && r.nextDouble() < PRecentGet) Get(n0 + (r.nextDouble() * (len - n0)).toLong)
        else {
          var i = java.util.Arrays.binarySearch(cdf, u * acc)
          if (i < 0) i = -i - 1
          Get(n0 - 1 - math.min(i, ranks - 1))
        }
    }
  }

  /** Preload a fresh store as many appended batches; returns the store
    * and the per-batch append times in ms.
    */
  private def preload(ctx: Ctx, seed: Long, root: String, batches: Int): (VectorStore[Rec], Seq[Double]) = {
    val store = VectorStore.create[Rec](ctx.spark, root)
    val times = (0 until batches).map { b =>
      val rows = Gen.records(seed, b.toLong * PreloadRows, PreloadRows)
      val t0 = Timing.now
      store.pushx(rows)
      (Timing.now - t0) / 1e6
    }
    (store, times)
  }

  final class Served {
    val getUs = ArrayBuffer[Double]()
    val getHit = ArrayBuffer[Boolean]()
    val getWin = ArrayBuffer[(Long, Long)]() // epoch ns
    val rangeMs = ArrayBuffer[Double]()
    val rangeWin = ArrayBuffer[(Long, Long)]() // epoch ms
    var wallS = 0.0
  }

  /** The serving stack over `store`, its LRU warmed with the most recent
    * rows (the hot end of the key distribution), as in a long-running
    * server.
    */
  private def stack(ctx: Ctx, store: VectorStore[Rec]): (BufferedVectorStore[Rec], ReadCachedStore[Rec]) = {
    val buffered = new BufferedVectorStore[Rec](store, BufferMaxItems, PollMs)
    val cached =
      if (!ctx.trace) ReadCachedStore.over(buffered, LruCapacity)
      else new ReadCachedStore[Rec](
        i => ctx.spans("core.BufferedVectorStore.get", i.toString)(buffered.get(i)),
        (i, n) => ctx.spans("core.BufferedVectorStore.getx", i.toString)(buffered.getx(i, n)),
        LruCapacity)
    val n0 = store.len
    val hot = math.min(n0, LruCapacity.toLong)
    cached.addBulkToCache(n0 - hot, store.getx(n0 - hot, hot).get)
    (buffered, cached)
  }

  /** Runs `ops` against the stack on this (the only client) thread. */
  private def serve(ctx: Ctx, seed: Long, buffered: BufferedVectorStore[Rec],
                    cached: ReadCachedStore[Rec], ops: Array[Op], label: String): Served = {
    val out = new Served
    val epochOffNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val t0 = Timing.now
    var opIdx = -1
    ops.foreach { op =>
      opIdx += 1
      op match {
        case Get(k) =>
          ctx.op(s"get($k)") { c =>
            ctx.tag(s"$label get:$opIdx")
            val h0 = cached.stats._1
            val s = System.nanoTime()
            val v = ctx.spans("store.get", opIdx.toString)(cached.getting(k))
            val e = System.nanoTime()
            out.getUs += (e - s) / 1e3
            out.getHit += cached.stats._1 > h0
            out.getWin += ((s + epochOffNs, e + epochOffNs))
            c.check(v.contains(Gen.record(seed, k)), s"wrong value $v")
          }
        case Push(from, n) =>
          val rows = Gen.records(seed, from, n)
          ctx.op(s"pushx($from,$n)") { _ =>
            ctx.tag(s"$label push:$opIdx")
            ctx.spans("store.pushx", opIdx.toString)(buffered.pushx(rows))
          }
        case Len(expected) =>
          ctx.op("len") { c =>
            ctx.tag(s"$label len:$opIdx")
            val n = ctx.spans("store.len", opIdx.toString)(buffered.len)
            c.check(n == expected, s"len $n, expected $expected")
          }
        case Range(start, n) =>
          ctx.op(s"getx($start,$n)") { c =>
            ctx.tag(s"$label range:$opIdx")
            val sMs = System.currentTimeMillis()
            val s = System.nanoTime()
            val v = ctx.spans("store.getx", opIdx.toString)(cached.gettingLot(start, n))
            out.rangeMs += (System.nanoTime() - s) / 1e6
            out.rangeWin += ((sMs, System.currentTimeMillis()))
            c.check(v.contains(Gen.records(seed, start, n)), s"wrong range ${v.map(_.size)}")
          }
      }
    }
    out.wallS = Timing.secondsSince(t0)
    ctx.tag(null)
    out
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val seed = ctx.seed
    val nOps = OpsPerSecond * ctx.seconds
    ctx.config ++= Seq("preload_batches" -> PreloadBatches, "preload_rows_per_batch" -> PreloadRows,
      "lru_capacity" -> LruCapacity, "write_buffer_max_items" -> BufferMaxItems,
      "flusher_poll_ms" -> PollMs, "ops" -> nOps, "zipf_s" -> ZipfS,
      "client_threads" -> 1, "cores" -> ctx.cores)

    // --- setup: preload, several times; serve from the last build. The
    // first build doubles as the warm-up store: a short op sequence of
    // another seed runs against it, then it is deleted.
    val builds = (0 until SetupRepeats).map { k =>
      val root = ctx.dir(s"stores/preload$k")
      val t0 = Timing.now
      val (store, batchMs) = preload(ctx, seed, root, PreloadBatches)
      val s = Timing.secondsSince(t0)
      (root, store, batchMs, s)
    }
    val tw = Timing.now
    val warmSeed = seed ^ 0x5bd1e995L
    val (wb, wc) = stack(ctx, builds.head._2)
    serve(ctx, seed, wb, wc, ops(warmSeed, builds.head._2.len, WarmOps), "warmup")
    wb.close()
    val warmS = Timing.secondsSince(tw)
    builds.init.foreach(b => Timing.deleteTree(Paths.get(b._1)))
    val (root, store, _, _) = builds.last
    val n0 = store.len
    val opSeq = ops(seed, n0, nOps)
    val (buffered, cached) = stack(ctx, store)
    ctx.median("metric", "setup_s", builds.map(b => ctx.sessionS + warmS + b._4), "s")
    ctx.median("detail", "load_rows_per_s", builds.map(b => n0 / (b._3.sum / 1e3)), "rows/s")
    ctx.median("detail", "load_batch_p50_ms", builds.flatMap(_._3), "ms")
    ctx.extra("setup_parts_s") = Map("session" -> ctx.sessionS, "warmup" -> warmS, "builds" -> builds.map(_._4))

    // --- timed part
    val versions0 = Manifest.listVersions(root).size
    val fds0 = Timing.openFds
    ctx.spans.active = true
    val codegen0 = SparkProbe.codegenNs
    val steal0 = Timing.stealS
    val served = serve(ctx, seed, buffered, cached, opSeq, "timed")
    ctx.detailMetric("host_steal_s", Timing.stealS - steal0, "s")
    ctx.spans.active = false
    val codegenS = (SparkProbe.codegenNs - codegen0) / 1e9
    val fdGrowth = Timing.openFds - fds0

    val heapMb = ctx.heapRetainedMb()
    ctx.metric("timed_s", served.wallS, "s")
    ctx.metric("heap_retained_mb", heapMb, "MiB")
    ctx.detailMetric("serve_ops_per_s", nOps / served.wallS, "1/s")
    ctx.samples("get_us") = served.getUs.toSeq
    ctx.median("detail", "range_p50_ms", served.rangeMs.toSeq, "ms")

    val versions = Manifest.listVersions(root).size
    val m = store.table.manifest
    val (hits, misses) = cached.stats
    buffered.close()

    // --- after close: space and a full reopen check
    val expectedLen = opSeq.foldLeft(n0) { case (l, Push(_, n)) => l + n; case (l, _) => l }
    val diskBytes = Timing.treeBytes(Paths.get(root))
    val payload = (0L until expectedLen).map(i => Gen.payloadBytes(Gen.record(seed, i))).sum
    ctx.detailMetric("space_amp", diskBytes.toDouble / payload, "ratio")
    ctx.op("reopen") { c =>
      val reopened = VectorStore.open[Rec](spark, root)
      c.check(reopened.len == expectedLen, s"reopened len ${reopened.len}, expected $expectedLen")
      val all = reopened.getall().getOrElse(Nil)
      c.check(all == Gen.records(seed, 0, expectedLen.toInt), "reopened rows differ from the pushed rows")
    }

    // --- layer metrics
    val hitUs = served.getUs.zip(served.getHit).collect { case (u, true) => u }
    val missUs = served.getUs.zip(served.getHit).collect { case (u, false) => u }
    ctx.detailMetric("cache_hit_ratio", hits.toDouble / math.max(1L, hits + misses), "ratio")
    ctx.median("detail", "get_hit_p50_us", hitUs.toSeq, "us")
    ctx.median("detail", "get_miss_p50_us", missUs.toSeq, "us")
    ctx.layerMetric("core.cache.hits", hits.toDouble, "count")
    ctx.layerMetric("core.cache.misses", misses.toDouble, "count")
    ctx.layerMetric("core.get_hit_ms", hitUs.sum / 1e3, "ms")
    ctx.layerMetric("core.get_miss_ms", missUs.sum / 1e3, "ms")
    ctx.layerMetric("core.table.versions", versions.toDouble, "count")
    ctx.layerMetric("core.table.batches", m.batches.size.toDouble, "count")
    ctx.layerMetric("core.table.files", Timing.treeFiles(Paths.get(root), ".parquet").toDouble, "count")
    ctx.layerMetric("core.flushes", (versions - versions0).toDouble, "count")
    ctx.layerMetric("core.disk_mb", diskBytes / 1e6, "MB")
    ctx.layerMetric("core.fd_growth", fdGrowth.toDouble, "count")
    ctx.probe.foreach { p =>
      p.settle()
      val fromMs = served.getWin.head._1 / 1000000L
      val toMs = fromMs + (served.wallS * 1e3).toLong
      val flushJobs = p.jobsIn(fromMs, toMs).filter(_.tag == SparkProbe.Background)
      ctx.layerMetric("core.get_jobs", p.jobsWhere(_.startsWith("timed get:")).size.toDouble, "count")
      ctx.layerMetric("core.flush_s", flushJobs.map(j => j.endMs - j.startMs).sum / 1e3, "s")
      val stalled = served.getWin.count { case (s, e) =>
        flushJobs.exists(j => j.startMs * 1000000L < e && j.endMs * 1000000L > s)
      }
      ctx.layerMetric("core.flush_stalled_gets", stalled.toDouble, "count")
      ctx.layerMetric("core.range_jobs", p.jobsWhere(_.startsWith("timed range:")).size.toDouble, "count")
      val planMs = served.rangeWin.map { case (s, e) => p.queriesIn(s, e).map(_.totalMs).sum.toDouble }
      ctx.layerMetric("core.range_plan_ms", planMs.sum, "ms")
      Substrate.report(ctx, p, fromMs, toMs, codegenS)
    }
    ctx.extra("gets") = served.getUs.size
    ctx.extra("ranges") = served.rangeMs.size
    ctx.extra("store_rows") = expectedLen
  }
}
