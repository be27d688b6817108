package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark harness: every declared query (cold, one-shot,
  * headline queries first then deterministic name order) plus the
  * reference's own benchmark dimensions
  * (BASELINE.md: bulk append, full scan, contiguous range read, random point
  * reads, concurrent readers) against a scratch VectorTable.
  * Prints ONE JSON line for the driver.
  *
  * Degraded-host resilience (round-4 lesson: BENCH_r04 was rc=124 with zero
  * dimensions recorded because the one JSON line printed only after ALL
  * dims finished):
  *   - a wall-clock budget (GRAFT_BENCH_BUDGET_S, default 2400 s) is
  *     checked before EACH dimension; once exceeded, remaining dims are
  *     skipped (recorded as -2.0) and the JSON line still prints with the
  *     skips counted in n_failed/failed;
  *   - the reference-parity store dims run BEFORE the query corpus but
  *     under a SUB-budget (25% of the total): round 5 showed a 14.8 MB/s
  *     disk making the 1M-row store dims eat the whole 2400 s and starve
  *     all 119 query dims — the headline metric. Once the store block's
  *     share is spent its remaining dims skip (-2.0) and the query corpus
  *     always gets the rest of the budget;
  *   - the first store dim (100k append) doubles as a disk-speed probe:
  *     if it exceeds 20 s (healthy hosts: <2 s) the 1M-row dims run at
  *     100k scale instead, with the actual scale recorded in the dim name
  *     (e.g. `store_bulk_append_1m_scaled100k`) so numbers are never
  *     silently compared across scales;
  *   - BENCH_DETAIL.json is rewritten after EVERY dimension via
  *     temp-file + ATOMIC_MOVE (always a complete JSON document even
  *     under a hard kill mid-write).
  */
object Bench {

  final case class BenchRec(name: String, n: Long, payload: String)
  /** Array-heavy row mirroring the reference's `DynamicStruct` with a
    * growing `Vec<usize>` (tests/tests/vector_performance_test.rs:8,67-98).
    */
  final case class ArrayRec(id: Long, xs: Seq[Long])
  /** All-fixed-width row mirroring the reference's static-layout 1M bench
    * (30-byte rows, static_vector_manage_service.rs:185,218-240) — takes
    * the PLAIN-encoded static write path (SchemaIntrospect → manifest
    * layout=static, LayoutEncodingSpec).
    */
  final case class FixedRec(a: Long, b: Long, c: Double, d: Boolean)

  /** Args (all optional, driver passes none): `[sfDir] [detailFile]
    * [headline]` — the third arg restricts the run to the curated headline
    * subset with store dims skipped. `graft.tools.ScaleCorpus` uses this
    * to produce the per-round second scale point (BENCH_DETAIL_sf1.json
    * over a 10×-replica corpus) with the SAME dim machinery and names as
    * the official sf0.1 run.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val detailFile = if (args.length > 1) args(1) else "BENCH_DETAIL.json"
    val headlineOnly = args.length > 2 && args(2) == "headline"
    val budgetS = sys.env.getOrElse("GRAFT_BENCH_BUDGET_S", "2400").toDouble
    val benchT0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - benchT0) / 1e9

    val spark = graft.core.GraftSession.local("graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    // Per-dim reference timings from the PREVIOUS record of this detail
    // file (read before the first overwrite — at round start that is the
    // committed run): the spike detector below compares against these.
    // Only trusted when the record is for the SAME corpus dir.
    val refQueries: Map[String, Double] =
      try {
        val p = java.nio.file.Paths.get(detailFile)
        if (!java.nio.file.Files.isReadable(p)) Map.empty
        else {
          // whitespace-tolerant: Bench writes compact JSON, but a record
          // touched by any pretty-printing tool must still parse
          val txt = java.nio.file.Files.readString(p).replaceAll("\\s", "")
          if (!txt.contains("\"sf\":\"" + sfDir + "\"")) Map.empty
          else {
            val qsec = txt.indexOf("\"queries\":{")
            if (qsec < 0) Map.empty
            else "\"([A-Za-z0-9_]+)\":(-?[0-9.]+)".r
              .findAllMatchIn(txt.substring(qsec + 10))
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
          }
        }
      } catch { case _: Throwable => Map.empty }

    // Insertion-ordered results; -1.0 = failed, -2.0 = budget-skipped.
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // Dims flagged as spikes (>3x their reference) and immediately
    // remeasured in isolation: name -> (first, retry). Both numbers are
    // recorded so environment-vs-code is decidable PER DIM from the
    // artifact alone: retry ~ first = the code really costs that much;
    // retry ~ reference = the first sample was an environment episode.
    val retried = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    // GRAFT_BENCH_SAMPLES=2: EVERY dim (except one-time *_build memos,
    // whose second run is a pointer no-op) runs twice back-to-back, both
    // samples land in the artifact's "samples" block, and the OFFICIAL
    // value is the per-dim MIN — the committed-record protocol the
    // round-10 verdict asked for: ±30% single-sample host noise can't be
    // told from code with one number, so regression tables key off minima.
    val samplesWanted = sys.env.getOrElse("GRAFT_BENCH_SAMPLES", "1").toInt
    val samples = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    // Store-dim names are excluded from the headline `value` total, which
    // (as in rounds 1-4) covers the query corpus + index builds only.
    val storeDims = scala.collection.mutable.Set[String]()

    // Host primitives (filled right after warmup): every detail artifact
    // carries its own host-health block, diffable against PLANS.md's
    // reference point without a separate HostProbe rerun.
    var hostBlock: Seq[(String, Double)] = Seq.empty

    def writeDetail(): Unit = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val hs = hostBlock.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val rs = retried.map { case (k, (f, r)) =>
        "\"" + k + "\":{\"first\":" + f + ",\"retry\":" + r + "}" }.mkString("{", ",", "}")
      val ss = samples.map { case (k, (a, b)) =>
        "\"" + k + "\":{\"s1\":" + a + ",\"s2\":" + b + "}" }.mkString("{", ",", "}")
      val total = results.collect { case (k, v) if v >= 0 && !storeDims(k) => v }.sum
      val detailJson =
        s"""{"metric":"total_query_sec","value":$total,"unit":"sec","elapsed_s":$elapsedS,"budget_s":$budgetS,"n_samples":$samplesWanted,"host":$hs,"retries":$rs,"samples":$ss,"queries":$qs,"sf":"$sfDir"}"""
      // temp + ATOMIC_MOVE: a hard kill mid-rewrite must never leave a
      // truncated detail file (it is the only evidence a killed run has).
      try {
        val dir = java.nio.file.Paths.get(".")
        val tmp = java.nio.file.Files.createTempFile(dir, ".bench-detail", ".tmp")
        java.nio.file.Files.writeString(tmp, detailJson + "\n")
        java.nio.file.Files.move(tmp, dir.resolve(detailFile),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch { case _: Throwable => () }
    }

    // Store dims get 25% of the wall clock; everything else (index builds
    // + the query corpus, the headline metric) gets the full budget.
    val storeBudgetS = budgetS * sys.env.getOrElse("GRAFT_BENCH_STORE_FRAC", "0.25").toDouble
    // Per-dimension watchdog: round 5's 14.8 MB/s disk made ONE dim
    // (store_bulk_append_1m, 852 s) eat a third of the whole budget. A dim
    // that exceeds the cap has its Spark jobs cancelled (job group,
    // interruptOnCancel) and records -1.0; the run moves on.
    val dimCapS = sys.env.getOrElse("GRAFT_BENCH_DIM_CAP_S", "300").toDouble

    /** Run one dimension under the wall-clock budget: skip (never launch)
      * once the applicable budget is spent, cancel+move-on once the per-dim
      * cap is hit, never let one failure kill the harness, and persist the
      * detail file after every dimension.
      */
    def dim(name: String, store: Boolean = false)(f: => Unit): Unit = {
      if (store) storeDims += name
      val cap = if (store) storeBudgetS else budgetS
      def runOnce(): Double = {
        @volatile var res = -1.0
        val worker = new Thread(() => {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          try res = timed(f)
          catch { case e: Throwable =>
            // Log the cause (round 6: all 18 events dims recorded a bare
            // -1.0 after a testdata schema change — the error was the
            // whole diagnosis and it went nowhere).
            System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
            res = -1.0
          }
          finally spark.sparkContext.clearJobGroup()
        }, s"bench-$name")
        worker.setDaemon(true)
        worker.start()
        worker.join((dimCapS * 1000).toLong)
        if (worker.isAlive) {
          System.err.println(s"[bench] $name exceeded ${dimCapS}s cap: cancelling")
          try spark.sparkContext.cancelJobGroup(name) catch { case _: Throwable => () }
          worker.interrupt()
          worker.join(15000) // grace; if it still won't die, abandon (daemon)
          -1.0
        } else res
      }
      results(name) =
        if (elapsedS > cap) -2.0
        else {
          val first = runOnce()
          // one-time build dims never remeasure: their machine-wide memo
          // makes any second run a pointer-lookup no-op, which would
          // record ~0 and erase the build's real cost from the artifact
          val isBuild = name.endsWith("_build")
          if (samplesWanted > 1 && !isBuild && first >= 0 && elapsedS <= cap) {
            // committed-record mode: unconditional second sample, official
            // value = MIN (the consistent policy — a warm second sample is
            // never silently promoted only for spiked dims; every dim gets
            // the same treatment and both numbers are in the artifact)
            val second = runOnce()
            samples(name) = (first, second)
            if (second >= 0) math.min(first, second) else first
          } else {
            // Spike telemetry (single-sample mode): a dim >3x its reference
            // record (and above half a second — sub-100ms dims flap on
            // noise) gets ONE immediate isolated remeasure; both samples
            // land in the artifact and the official value is their MIN —
            // same min-of-samples policy as GRAFT_BENCH_SAMPLES=2, so
            // retried dims are no longer systematically warmer than their
            // committed reference (round-10 ADVICE).
            val ref = if (isBuild) -1.0 else refQueries.getOrElse(name, -1.0)
            if (ref > 0 && first > 3 * ref && first > 0.5 && elapsedS <= cap) {
              val retry = runOnce()
              retried(name) = (first, retry)
              System.err.println(
                f"[bench] $name spiked (${first}%.2fs vs ref ${ref}%.2fs): isolated retry ${retry}%.2fs")
              if (retry >= 0) math.min(first, retry) else first
            } else first
          }
        }
      writeDetail()
    }

    // Session/JIT warmup — no INPUT table is touched, so scan dimensions
    // stay honest, but the parquet read/write stack, codegen, and window
    // machinery are exercised on a scratch table; without this the
    // alphabetically-first query absorbs >1 s of cold-start that belongs
    // to the session, not the operator.
    spark.range(1000000).selectExpr("sum(id)").head()
    val warmDir = java.nio.file.Files.createTempDirectory("graft-bench-warm").toString + "/t"
    spark.range(10000).selectExpr("id", "CAST(id AS STRING) AS s", "id * 1.5 AS v")
      .write.parquet(warmDir)
    val warm = spark.read.parquet(warmDir)
    warm.where(org.apache.spark.sql.functions.col("id") > 100)
      .groupBy("s").agg(org.apache.spark.sql.functions.sum("v")).count()
    warm.withColumn("rn", org.apache.spark.sql.functions.row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("s").orderBy("id"))).count()

    // --- host self-adjudication block (HostProbe primitives, same JVM) ---
    // Runs after warmup, before any graded dimension: if the host is
    // degraded, the evidence lands in BENCH_DETAIL.json alongside the
    // inflated dims instead of requiring a separate judge-session rerun
    // (round 8's 104 s official vs 76.9 s same-code run). ~7 s healthy;
    // failures are logged, never fatal — the block is evidence, not a dim.
    hostBlock =
      try graft.tools.HostProbe.primitives(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] host probe failed: ${e.getMessage}"); Seq.empty }
    writeDetail()

    // --- store-level dimensions (reference harness workloads, BASELINE.md) ---
    // These run first: they are the direct comparison against the
    // reference's own published dimensions, so a budget-truncated run must
    // still record them. Each dim that depends on a prior dim's object
    // fails (-1.0) rather than crashing if that prior dim was skipped.
    import spark.implicits._
    // Append dims can run TWICE (samples mode / spike retry); each run
    // builds a fresh store, so the previous run's temp dir is deleted
    // first — a remeasured append must not leak its first store to disk.
    val dimRoots = scala.collection.mutable.Map[String, String]()
    def freshRoot(dimName: String, prefix: String): String = {
      dimRoots.remove(dimName).foreach { old =>
        try graft.core.Fs.deleteTree(java.nio.file.Paths.get(old))
        catch { case scala.util.control.NonFatal(_) => () }
      }
      val root = java.nio.file.Files.createTempDirectory(prefix).toString
      dimRoots(dimName) = root
      root
    }
    if (!headlineOnly) {
    var store: graft.core.VectorStore[BenchRec] = null
    var cached: graft.core.ReadCachedStore[BenchRec] = null
    val rnd = new scala.util.Random(42)
    val coldIds = Vector.fill(50)(rnd.nextInt(100000).toLong)
    dim("store_bulk_append_100k", store = true) {
      val root = freshRoot("store_bulk_append_100k", "graft-bench")
      store = graft.core.VectorStore.create[BenchRec](spark, root)
      val rows = (0 until 100000).map(i => BenchRec(s"user${i % 97}", i.toLong, s"payload-$i-${"x" * 40}"))
      store.pushx(rows)
    }
    dim("store_full_scan", store = true) {
      store.toDS().agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1))).head()
    }
    dim("store_range_read_1k", store = true)(assert(store.pullx(50000, 1000).size == 1000))
    dim("store_point_reads_50_cold", store = true) {
      cached = graft.core.ReadCachedStore.over(store)
      coldIds.foreach(cached.getting)
    }
    // hot phase re-reads the now-cached ids: measures the LRU hit path
    dim("store_point_reads_1k_cached", store = true) {
      (0 until 1000).foreach(i => cached.getting(coldIds(i % 50)))
    }
    // 10 concurrent reader threads over the warmed cache + live store
    // (reference dimension: cache_performance_test.rs multi-thread reads)
    dim("store_concurrent_10x100_reads", store = true) {
      val threads = (0 until 10).map { t =>
        new Thread(() => {
          val r = new scala.util.Random(t)
          (0 until 100).foreach { _ =>
            cached.getting(coldIds(r.nextInt(coldIds.size))).getOrElse(sys.error("miss"))
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    dim("store_point_reads_50_batched", store = true) {
      val got = store.getMany(coldIds)
      assert(got.size == coldIds.distinct.size)
    }
    // 1M-row dimensions at the reference harness's own scale
    // (COUNT=1,000,000: tests/tests/sample_data_test.rs:8,
    // cache_engine_performance_test.rs:14) so the comparison holds at
    // equal row counts, not just equal shapes. On a degraded disk
    // (round 5: 14.8 MB/s, 1M append = 852 s) the full scale would eat the
    // whole bench budget, so the 100k-append probe above decides the scale
    // and the dim NAME records it — a scaled number is never presented as
    // a 1M number.
    val probeS = results.getOrElse("store_bulk_append_100k", -1.0)
    val degradedHost = probeS < 0 || probeS > 20.0
    val n1m = if (degradedHost) 100000 else 1000000
    val tag1m = if (degradedHost) "_scaled100k" else ""
    if (degradedHost)
      System.err.println(s"[bench] degraded host (100k append ${probeS}s): 1M dims scaled to 100k")
    var store1m: graft.core.VectorStore[BenchRec] = null
    dim(s"store_bulk_append_1m$tag1m", store = true) {
      val root1m = freshRoot("store_bulk_append_1m", "graft-bench-1m")
      store1m = graft.core.VectorStore.create[BenchRec](spark, root1m)
      val rows1m = (0 until n1m).map(i => BenchRec(s"user${i % 97}", i.toLong, s"payload-$i-${"x" * 40}"))
      store1m.pushx(rows1m)
    }
    dim(s"store_full_scan_1m$tag1m", store = true) {
      store1m.toDS().agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1))).head()
    }
    dim(s"store_getall_1m$tag1m", store = true)(assert(store1m.getall().get.size == n1m))
    // array-heavy rows at the reference harness scale (COUNT=10,000,
    // growing list field — vector_performance_test.rs:8,67-98)
    var storeArr: graft.core.VectorStore[ArrayRec] = null
    dim("store_array_rows_10k_append", store = true) {
      val rootArr = freshRoot("store_array_rows_10k_append", "graft-bench-arr")
      storeArr = graft.core.VectorStore.create[ArrayRec](spark, rootArr)
      val arrRows = (0 until 10000).map(i => ArrayRec(i.toLong, (0L to (i % 100).toLong)))
      storeArr.pushx(arrRows)
    }
    dim("store_array_rows_10k_read", store = true)(assert(storeArr.getall().get.size == 10000))
    // static-layout 1M (reference static_vector_manage_service 1M bench)
    var storeFix: graft.core.VectorStore[FixedRec] = null
    dim(s"store_static_append_1m$tag1m", store = true) {
      val rootFix = freshRoot("store_static_append_1m", "graft-bench-fix")
      storeFix = graft.core.VectorStore.create[FixedRec](spark, rootFix)
      val fixRows = (0 until n1m).map(i => FixedRec(i.toLong, i * 2L, i * 0.5, (i & 1) == 0))
      storeFix.pushx(fixRows)
    }
    dim(s"store_static_range_read_500k$tag1m", store = true) {
      assert(storeFix.pullx(n1m / 4, n1m / 2).size == n1m / 2)
    }
    } // headlineOnly skips the store block (corpus-independent dims)

    // Curated headline subset: doubles as the query-corpus PRIORITY order
    // (below) and the stdout line's leading keys (bottom).
    val headline = Seq(
      "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier", "q6_forecast_revenue",
      "events_hourly_by_type", "events_user_sessions", "events_cohort_retention",
      "pipeline_clean_corpus", "dedup_lsh_candidates", "dedup_jaccard_verified",
      "dedup_simhash", "dedup_clusters", "pagerank_near_dups",
      "knn_brute_force", "embedding_near_dups", "ann_ivf_search", "ann_ivf_index_search",
      "text_tfidf_top_terms", "text_bm25_ranking", "median_quantity_per_flag",
      "grouping_sets_quantity", "rowid_range", "zonemap_orders_daterange", "zorder_rectangle",
      "top_order_per_customer", "asof_last_purchase", "skew_salted_join", "mm_decode_features",
      "ann_ivfpq_batch_search", "dedup_containment", "dedup_shared_ngrams",
      "dedup_exact_jaccard_join",
      "dedup_simhash_pairs", "dedup_report", "embedding_dup_clusters", "dedup_normalized_exact",
      "ann_ivf_index_search_trained", "dedup_report_streamed", "dedup_repeated_spans",
      "dedup_lsh_tuning", "dedup_simhash_pairs_wide", "dedup_delta_candidates",
      "dedup_lsh_candidates_k12", "dedup_lsh_candidates_k64",
      "dedup_cluster_stats_by_source", "dedup_rate_by_source",
      "dedup_lsh_recall", "dedup_delta_candidates_streamed",
      "dedup_delta_simhash", "dedup_delta_containment", "dedup_delta_spans", "dedup_delta_spans_streamed", "ann_ivf_filtered_search",
      "ann_ivf_filtered_batch_search", "ann_ivfpq_filtered_search",
      "dedup_exact_jaccard_join_collapsed",
      "dedup_semantic", "dedup_semantic_stats", "dedup_semantic_delta",
      "dedup_semantic_delta_streamed",
      "dedup_semantic_trained", "text_global_shuffle", "text_shard_balance",
      "text_quality_budget_cutoff", "text_subword_tokens", "text_subword_budget_cutoff", "text_subword_pack", "dedup_semantic_ingest", "dedup_semantic_report",
      "dedup_semantic_recall", "dedup_semantic_multiprobe", "text_packed_export",
      "dedup_semantic_keep_best", "dedup_paraphrase_candidates",
      "semantic_contamination", "semantic_contamination_ingest", "text_mixture_export",
      "pipeline_clean_export",
      "ann_ivf_probe_tuning", "ann_refine_recall", "ann_ivfpq_refined_search",
      "ann_ivf_compacted_search", "takedown_scan", "takedown_ivf_search", "takedown_lsh_delta", "takedown_everywhere", "text_chunk_windows", "text_chunk_udtf", "text_temperature_mixture",
      "text_subword_vocab_tokens", "text_subword_vocab_budget_cutoff",
      "text_bpe_tokens", "text_bpe_budget_cutoff", "text_bpe_pack",
      "text_bpe_encode", "text_bpe_mixture_export", "text_bpe_temperature_export",
      "text_bpe_curriculum_export", "text_bpe_payload_export",
      "takedown_bpe_export", "takedown_batch_1e5",
      "text_span_scrub", "dedup_span_ingest", "dedup_lsh_ingest", "pipeline_ingest_gates", "text_curriculum_export",
      "dedup_delta_candidates_compacted", "dedup_delta_simhash_compacted",
      "dedup_delta_containment_compacted", "dedup_delta_spans_compacted",
      "text_chunked_export", "semantic_cell_drift", "semantic_contamination_by_source", "embedding_stats", "text_temperature_export",
      "store_bulk_append_100k", "store_bulk_append_1m", "store_full_scan_1m", "store_getall_1m",
      "store_range_read_1k", "store_point_reads_50_cold", "store_point_reads_50_batched",
      "store_point_reads_1k_cached", "store_concurrent_10x100_reads",
      "store_static_append_1m", "store_static_range_read_500k",
      "rowid_table_build", "ivf_index_build", "lsh_index_build")

    // One-time table/index builds, timed as their own dimension: the rowid
    // table is built once per machine and reused across runs (the serving
    // query itself must cost a pruned range read, not a rebuild).
    dim("rowid_table_build")(graft.operators.Relational.prebuildRowidTable(spark, sfDir))
    dim("zonemap_table_build")(graft.operators.Relational.prebuildZoneTable(spark, sfDir))
    dim("zorder_layout_build")(graft.operators.Relational.prebuildZOrderLayout(spark, sfDir))
    dim("lsh_index_build")(graft.operators.Dedup.prebuildLshIndex(spark, sfDir))
    // the shared verified-pair graph build, reported as its own dim so
    // dedup_clusters/pagerank/triangles never silently absorb it
    dim("pair_graph_build")(graft.operators.Dedup.prebuildPairGraph(spark, sfDir))
    dim("streamed_docs_build")(graft.operators.Dedup.prebuildStreamedDocs(spark, sfDir))
    dim("streamed_lsh_index_build")(graft.operators.Dedup.prebuildStreamedLshIndex(spark, sfDir))
    dim("simhash_index_build")(graft.operators.Dedup.prebuildSimhashIndex(spark, sfDir))
    dim("containment_index_build")(graft.operators.Dedup.prebuildContainmentIndex(spark, sfDir))
    dim("span_index_build")(graft.operators.Dedup.prebuildSpanIndex(spark, sfDir))
    dim("streamed_span_index_build")(graft.operators.Dedup.prebuildStreamedSpanIndex(spark, sfDir))
    dim("span_ingest_corpus_build")(graft.operators.Dedup.prebuildSpanIngest(spark, sfDir))
    dim("lsh_ingest_corpus_build")(graft.operators.Dedup.prebuildLshIngest(spark, sfDir))
    dim("compacted_delta_index_build")(graft.operators.Dedup.prebuildCompactedDeltaIndexes(spark, sfDir))
    dim("ivf_index_build")(graft.operators.Similarity.ivfIndexFor(spark, sfDir))
    dim("ivf_trained_index_build")(graft.operators.Similarity.trainedIvfIndexFor(spark, sfDir))
    // the semantic ingest gate's one-time streamed landing of the corpus,
    // its own dim so dedup_semantic_ingest reports the WARM gate (round-13
    // verdict: the sf1 sweep showed 40.7 s of memoized landing inside the
    // query dim)
    dim("sem_ingest_corpus_build")(graft.operators.Similarity.semanticIngestRoot(spark, sfDir))
    // the streamed IVF landing behind dedup_semantic_delta_streamed — its
    // own dim so the query face reports the WARM index (the round-15 sf1
    // cold sweep showed 36.7 s of memoized landing inside the query dim,
    // the exact round-13 pathology, for this one uncovered face)
    dim("streamed_ivf_index_build")(graft.operators.Similarity.streamedIvfIndexRoot(spark, sfDir))
    dim("contam_ingest_corpus_build")(graft.operators.Similarity.contaminationIngestRoot(spark, sfDir))
    dim("refinery_corpus_build")(graft.operators.Pipeline.refineryRoot(spark, sfDir))
    dim("ivf_compacted_index_build")(graft.operators.Similarity.compactedIvfRoot(spark, sfDir))
    dim("takedown_corpus_build")(graft.operators.Similarity.prebuildTakedown(spark, sfDir))
    dim("takedown_lsh_corpus_build")(graft.operators.Dedup.prebuildTakedownLsh(spark, sfDir))
    dim("takedown_everywhere_build")(graft.operators.Takedown.prebuildEverywhere(spark, sfDir))
    dim("takedown_bpe_export_build")(graft.operators.TextOps.prebuildTakedownBpeExport(spark, sfDir))
    // one-time corpus-vocab derivation (driver-collected top-K), memoized —
    // the text_subword_vocab_* dims then price tokenization, not training
    dim("subword_vocab_build")(graft.operators.TextOps.corpusSubwordVocab(spark, sfDir))
    dim("bpe_merges_build")(graft.operators.TextOps.corpusBpeMerges(spark, sfDir))
    // --- maintenance & purge pricing (round-17 verdict #6) ---
    // the fixture memoizes two states; check dim = 100 steady-state
    // per-batch probes (must be ~ms each); fired dims clone the
    // fragmented state per run so a second sample re-pays the real work
    dim("maint_fixture_build")(graft.operators.MaintenancePricing.prebuild(spark, sfDir))
    dim("maint_check_100x")(graft.operators.MaintenancePricing.check100(spark, sfDir))
    dim("maint_fired_tail_merge")(graft.operators.MaintenancePricing.firedTailMerge(spark, sfDir))
    dim("maint_fired_index_compaction")(graft.operators.MaintenancePricing.firedIndexCompaction(spark, sfDir))
    dim("takedown_purge")(graft.operators.MaintenancePricing.maskAndPurge(spark, sfDir))
    // GDPR-batch erasure (round-17 verdict #6): 1e5 ids as a join operand
    // through mask -> registered index refresh -> purge
    dim("takedown_batch_1e5")(graft.operators.MaintenancePricing.takedownBatch1e5(spark, sfDir))
    dim("sec_index_build")(graft.operators.Relational.prebuildCustkeyIndex(spark, sfDir))
    dim("upsert_table_build")(graft.operators.Relational.prebuildUpsertTable(spark, sfDir))
    dim("mv_view_build")(graft.operators.Relational.prebuildPricingSummaryView(spark, sfDir))
    dim("bucketed_table_build")(graft.operators.Relational.prebuildBucketedTables(spark, sfDir))

    // --- the query corpus (cold, one-shot) ---
    // Headline queries run FIRST: under budget pressure the dims that get
    // recorded must be the ones the round is graded on. (The 420 s smoke
    // of the round-5 fix ran alphabetically and skipped q1/q3/q5/q6 while
    // ann_*/dedup_* ran — exactly backwards.) The rest follow in
    // deterministic name order.
    val prioQueries = headline.filter(SparkEntry.queries.contains)
    val restQueries =
      if (headlineOnly) Seq.empty
      else SparkEntry.queries.keys.toSeq.filterNot(prioQueries.contains).sorted
    (prioQueries ++ restQueries).foreach { name =>
      dim(name)(SparkEntry.queries(name)(spark, sfDir).count())
    }

    // Sketch-only cost (bench-only, no oracle — sketch estimates are
    // engine-specific): the declared `approx_sketches` query pays an exact
    // distinct shuffle FOR its accuracy invariants, so it no longer
    // measures what a sketch costs; this dimension does.
    if (!headlineOnly)
      dim("approx_sketches_sketch_only")(
        graft.operators.Relational.approxSketchesOnly(spark, sfDir).count())

    val all = results.toSeq
    val allMap = results.toMap
    val total = all.collect { case (k, v) if v >= 0 && !storeDims(k) => v }.sum
    val nSkipped = all.count(_._2 == -2.0)
    if (nSkipped > 0)
      System.err.println(s"[bench] budget ${budgetS}s exceeded at ${elapsedS}s: $nSkipped dims skipped")

    // stdout gets ONE compact line guaranteed to fit the tail window:
    // a curated headline subset at millisecond precision, padded with the
    // remaining dimensions while the 1850-char budget allows (the sbt
    // "[success] Total time ..." epilogue costs ~75 chars of the window).
    def fmt(v: Double): String =
      if (v < 0) v.toInt.toString
      else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString
    // cap the failed list: under mass failure an unbounded array would
    // itself overflow the tail window; n_failed carries the true count
    // (failures AND budget-skips both count — a skip is a missing number).
    val failedAll = all.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val failed = failedAll.take(8)
    val rest = all.map(_._1).filterNot(headline.contains)
    def render(names: Seq[String]): String = {
      val qs = names.map(k => "\"" + k + "\":" + fmt(allMap(k))).mkString("{", ",", "}")
      // host_s: primitive-probe total — one stdout number that flags a
      // degraded-host run (healthy sf0.1 reference ≈ 7 s; see detail file
      // for the per-primitive block)
      s"""{"metric":"total_query_sec","value":${fmt(total)},"unit":"sec","n_dims":${all.size},""" +
        s""""n_failed":${failedAll.size},"failed":${failed.mkString("[", ",", "]")},""" +
        s""""host_s":${fmt(hostBlock.map(_._2).sum)},"n_retried":${retried.size},""" +
        s""""detail":"$detailFile","queries":$qs,"sf":"$sfDir"}"""
    }
    var names = headline.filter(allMap.contains) ++ rest
    while (render(names).length > 1850 && names.nonEmpty) names = names.init
    println(render(names))
    spark.stop()
  }
}
