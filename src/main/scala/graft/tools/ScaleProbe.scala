package graft.tools

import java.nio.file.Files
import graft.operators.{Dedup, ExactSetCollapse, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling probe: run headline operator shapes on 1×/2×/4×
  * replicas of the sf0.1 tables and report the runtime growth factor.
  * A shape is scale-safe when time grows ≲ linearly with input (constant
  * factors amortize; no quadratic blowup, no single-task funnel).
  * Run: sbt "runMain graft.tools.ScaleProbe"
  */
object ScaleProbe {

  private def replicate(df: DataFrame, k: Int): DataFrame =
    (1 until k).foldLeft(df)((acc, _) => acc.unionAll(df))

  def main(args: Array[String]): Unit = {
    // optional arg = run only the named section (shapes, exact_join,
    // simhash_join, dup_heavy, contain_join, trained_recall,
    // persisted_idx) — the dup-heavy sweep is cheap to iterate alone
    val only = args.headOption
    def section(name: String)(body: => Unit): Unit =
      if (only.isEmpty || only.contains(name)) body
    val spark = graft.core.GraftSession.local("scaleprobe", "32")
    import spark.implicits._
    val d = "/root/testdata/sf0.1"
    spark.range(1000000).selectExpr("sum(id)").head() // JVM warmup

    val li = spark.read.parquet(s"$d/lineitem.parquet")
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val emb = spark.read.parquet(s"$d/embeddings.parquet")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val shapes: Seq[(String, Int => Unit)] = Seq(
      "q1_agg" -> { k =>
        replicate(li, k).groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2))), count(lit(1)))
          .collect(); ()
      },
      "q6_filter_agg" -> { k =>
        replicate(li, k)
          .where(col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
          .agg(sum(col("l_extendedprice"))).collect(); ()
      },
      "minhash_sig" -> { k =>
        replicate(docs, k)
          .select(graft.functions.TextFunctions.minhashSig(col("text"), 6).as("m"))
          .agg(sum(size(col("m")))).collect(); ()
      },
      "knn_scan" -> { k =>
        val q = Array.fill(64)(0.1f)
        replicate(emb, k)
          .select(graft.functions.VectorFunctions.cosineF(col("embedding"), lit(q)).as("s"))
          .orderBy(col("s").desc).limit(10).collect(); ()
      },
      "window_rank" -> { k =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_orderkey").orderBy("l_linenumber")
        replicate(li, k).withColumn("rn", row_number().over(w))
          .where(col("rn") === 1).agg(count(lit(1))).collect(); ()
      },
      "exact_quartiles" -> { k =>
        replicate(li, k).groupBy("l_returnflag")
          .agg(expr("percentile(l_quantity, array(0.25, 0.5, 0.75))")).collect(); ()
      },
      "histogram" -> { k =>
        replicate(li, k)
          .select((floor(col("l_extendedprice") / 5000.0)).cast("long").as("b"))
          .groupBy("b").agg(count(lit(1))).collect(); ()
      },
      "asof_union_window" -> { k =>
        // the as-of shape: union two sides, one key shuffle, one window pass
        val left = replicate(li, k).select(col("l_orderkey").as("key"),
          col("l_linenumber").cast("long").as("t"), lit(1).as("side"))
        val right = replicate(li, k).select(col("l_orderkey").as("key"),
          (col("l_linenumber").cast("long") - 1L).as("t"), lit(0).as("side"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("key").orderBy("t", "side")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        left.unionByName(right).withColumn("c", last(col("side")).over(w))
          .where(col("side") === 1).agg(count(lit(1))).collect(); ()
      },
      "gapfill_spine_join" -> { k =>
        val ev = replicate(spark.read.parquet(s"$d/documents.parquet"), k)
          .select(pmod(col("doc_id"), lit(500)).as("h"), col("lang"))
        val hourly = ev.groupBy("lang", "h").agg(count(lit(1)).as("n"))
        val spine = ev.select("lang").distinct()
          .crossJoin(spark.range(0, 500).toDF("h"))
        spine.join(hourly, Seq("lang", "h"), "left")
          .agg(sum(coalesce(col("n"), lit(0L)))).collect(); ()
      },
      "pack_fold" -> { k =>
        // sequence packing's shape: one shard shuffle + in-partition sort
        // + streaming fold (state is 3 vars regardless of shard size)
        val dd = replicate(docs, k)
          .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
          .withColumn("shard", pmod(col("doc_id"), lit(16)).cast("int"))
        dd.repartition(16, col("shard"))
          .sortWithinPartitions("shard", "doc_id")
          .select(col("shard"), col("doc_id"), col("n_tokens"))
          .as[(Int, Long, Int)]
          .mapPartitions { it =>
            var sh = Int.MinValue; var bin = 0L; var fill = 0L
            it.map { case (s0, id, nt) =>
              if (s0 != sh) { sh = s0; bin = 0; fill = nt.toLong }
              else if (fill + nt > 512) { bin += 1; fill = nt.toLong }
              else fill += nt
              (s0, bin)
            }
          }.toDF("shard", "bin").groupBy("shard").agg(max("bin")).collect(); ()
      },
      "lm_bigram_join" -> { k =>
        // text_lm_score's shape: pair stream joined to vocabulary-sized
        // count tables, then one doc_id re-aggregation
        val dd = replicate(docs, k).select(col("doc_id"), split(col("text"), " ").as("toks"))
        val pairs = dd.select(col("doc_id"), posexplode(expr(
            "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), (x, y) -> struct(x, y))")))
          .select(col("doc_id"), col("pos"), col("col.x").as("w1"), col("col.y").as("w2"))
        val uni = dd.select(explode(col("toks")).as("w1")).groupBy("w1").agg(count(lit(1)).as("cu"))
        val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
        pairs.join(big, Seq("w1", "w2")).join(uni, Seq("w1"))
          .groupBy("doc_id").agg(count(lit(1))).collect(); ()
      },
      "ivfpq_adc_topk" -> { k =>
        // ann_ivfpq_search's shape: prune to ~1/4 of rows (the nprobe/cells
        // fraction), fused ADC against a literal codebook, top-k merge
        val cb = (1 to 16).map(i => Seq.fill(64)(i * 0.01f))
        val q = Seq.fill(64)(0.1f)
        replicate(emb, k)
          .where(pmod(xxhash64(col("vec_id")), lit(4)) === 0)
          .select(graft.functions.VectorFunctions.pqAdcF(
            col("embedding"), typedLit(cb), typedLit(q), 8).as("adc"))
          .orderBy(col("adc").asc).limit(10).collect(); ()
      }
    )

    section("shapes") {
    println(f"${"shape"}%-14s ${"t1x"}%7s ${"t2x"}%7s ${"t4x"}%7s  growth(4x/1x)")
    shapes.foreach { case (name, run) =>
      run(1) // per-shape codegen warmup
      val t1 = time(run(1)); val t2 = time(run(2)); val t4 = time(run(4))
      println(f"$name%-14s $t1%7.2f $t2%7.2f $t4%7.2f  ${t4 / t1}%.2f×")
    }
    }

    // --- exact set-similarity join at replicated scales ------------------
    // Replicas get DISJOINT shingle universes (each replica's 52-bit hashes
    // offset by r·2^53) so a k× corpus is k independent copies — no
    // cross-replica duplicates inflating the pair count — and linear
    // growth in candidates/time is the honest scale signal for
    // prefix-bucket occupancy. Candidate counts are reported both sides of
    // the PPJoin length filter so its bite is visible at every scale.
    val shingled = docs
      .select(col("doc_id"), graft.functions.TextFunctions.shingleHashes(col("text")).as("sh"))
      .where(size(col("sh")) > 0)
      .localCheckpoint()
    val nDocs = shingled.count()
    section("exact_join") {
    println()
    println(f"${"exact_join"}%-14s ${"docs"}%7s ${"cand"}%8s ${"cand_lf"}%8s ${"pairs"}%7s  t(s)  growth")
    var t1exact = 0.0
    for (k <- Seq(1, 2, 4)) {
      val corpus = (0 until k).map { r =>
        shingled.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"),
          expr(s"transform(sh, x -> x + ${r}L * 9007199254740992L)").as("sh"))
      }.reduce(_ unionAll _)
      val t0 = System.nanoTime()
      val cand = Dedup.exactJaccardCandidatesOf(corpus, ppFilters = false).count()
      val candLf = Dedup.exactJaccardCandidatesOf(corpus, ppFilters = true).count()
      val pairs = Dedup.exactJaccardJoinOf(corpus).count()
      val dt = (System.nanoTime() - t0) / 1e9
      if (k == 1) t1exact = dt
      val label = s"rep${k}x"
      println(f"$label%-14s ${k * nDocs}%7d $cand%8d $candLf%8d $pairs%7d  $dt%.2f  ${dt / t1exact}%.2f×")
    }
    }

    // --- SimHash pigeonhole join at replicated scales --------------------
    // Replicas get every TOKEN prefixed (distinct hash streams → distinct
    // signatures → independent sub-corpora). Reported at BOTH widths: the
    // 16-bit candidates saturate (every doc collides in the 128-key
    // buckets — superlinear), the 64-bit path stays linear; the width
    // rule (simhashBitsFor) picks 64 for every corpus this size.
    section("simhash_join") {
    println()
    println(f"${"simhash_join"}%-14s ${"docs"}%7s ${"bits"}%5s ${"cand"}%9s ${"pairs"}%7s  t(s)")
    val nAllDocs = docs.count()
    for (bits <- Seq(16, 64); k <- Seq(1, 2, 4)) {
      val corpus = (0 until k).map { r =>
        docs.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"),
          expr(s"array_join(transform(split(text, ' '), t -> concat('r$r', t)), ' ')").as("text"))
      }.reduce(_ unionAll _)
      val t0 = System.nanoTime()
      val sigCol =
        if (bits == 16) graft.functions.TextFunctions.simhash16(col("text"))
        else graft.functions.TextFunctions.simhash64(col("text"))
      val sig = corpus.select(col("doc_id"), sigCol.as("simhash")).localCheckpoint()
      val cand = Dedup.simhashCandidatesWith(sig, bits).count()
      val pairs = Dedup.simhashNearDupPairsWith(sig, bits).count()
      val dt = (System.nanoTime() - t0) / 1e9
      val label = s"rep${k}x"
      println(f"$label%-13s ${k * nAllDocs}%7d $bits%5d $cand%9d $pairs%7d  $dt%.2f")
    }
    }

    // --- dup-heavy hot-bucket sweep --------------------------------------
    // The web-crawl pathology: C copies of ONE boilerplate page among the
    // 5k distinct docs. All copies share every MinHash band bucket and
    // every PPJoin prefix bucket, so candidate generation must emit the
    // C·(C−1)/2 copy-pairs — the question is WHERE that quadratic work
    // runs. The unconditional in-row expansion (cap=∞, the pre-round-11
    // form) builds all pairs as ONE array in ONE task; the occupancy-
    // capped hybrid (default cap) streams them through a per-pair-row
    // join. Hybrid time should stay bounded (≈ pair-count-proportional,
    // distributed); the in-row form degrades superlinearly per row and is
    // deliberately skipped at C=10⁴ (a ~50M-struct single-row array).
    section("dup_heavy") {
    println()
    println(f"${"dup_heavy"}%-14s ${"copies"}%7s ${"form"}%8s ${"pairs"}%9s  t(s)")
    val copyText = (1 to 30).map(i => s"boiler$i").mkString(" ")
    // second arg = copies list override (e.g. "10000" to rerun just one
    // size); GRAFT_DUPHEAVY_INROW=1 forces the in_row form at EVERY size —
    // the demonstration that the pre-round-11 unconditional in-row
    // expansion degrades/dies where the hybrid streams through
    val copiesList = args.lift(1).map(_.split(",").toSeq.map(_.toInt))
      .getOrElse(Seq(2500, 10000))
    val inRowAll = sys.env.contains("GRAFT_DUPHEAVY_INROW")
    // GRAFT_DUPHEAVY_ONLY=<label> reruns a single pair path (e.g.
    // ppjoin_join) without paying for the other four at c=10⁴
    val onlyPath = sys.env.get("GRAFT_DUPHEAVY_ONLY")
    def pathOn(label: String): Boolean = onlyPath.forall(_ == label)
    for (c <- copiesList) {
      val corpus = docs.select(col("doc_id"), col("text")).unionAll(
        spark.range(c).select((col("id") + 50000000L).as("doc_id"), lit(copyText).as("text")))
      lazy val bands = graft.operators.Dedup.bandRowsOf(corpus).localCheckpoint()
      for ((form, cap) <- Seq(
          ("hybrid", graft.operators.Dedup.bucketExpandCap),
          ("in_row", Int.MaxValue))
          if pathOn("minhash_bands") && !(form == "in_row" && c > 2500 && !inRowAll)) {
        val t0 = System.nanoTime()
        val n = Dedup.pairsFromBands(bands, cap).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"minhash_bands  $c%7d $form%8s $n%9d  $dt%.2f")
      }
      lazy val sig64 = corpus
        .select(col("doc_id"), graft.functions.TextFunctions.simhash64(col("text")).as("simhash"))
      lazy val shingled = corpus
        .select(col("doc_id"), graft.functions.TextFunctions.shingleHashes(col("text")).as("sh"))
        .where(size(col("sh")) > 0)
        .localCheckpoint()
      for ((form, cap) <- Seq(
          ("hybrid", graft.operators.Dedup.bucketExpandCap),
          ("in_row", Int.MaxValue))
          if pathOn("ppjoin_prefix") && !(form == "in_row" && c > 2500 && !inRowAll)) {
        val t0 = System.nanoTime()
        val n = Dedup.exactJaccardCandidatesOf(shingled, ppFilters = true, cap = cap).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"ppjoin_prefix  $c%7d $form%8s $n%9d  $dt%.2f")
      }
      // the remaining pair paths through the same clique: simhash pieces
      // (hybrid kernel, cap-toggleable), delta banding and the containment
      // probe×index join (both symmetric blocked bipartite joins — no
      // unconditional form exists to toggle, the bounded completion IS the
      // evidence)
      for ((form, cap) <- Seq(
          ("hybrid", graft.operators.Dedup.bucketExpandCap),
          ("in_row", Int.MaxValue))
          if pathOn("simhash_pieces") && !(form == "in_row" && c > 2500 && !inRowAll)) {
        val t0 = System.nanoTime()
        val n = Dedup.pairsFromBucketedRows(Dedup.simhashPieces(sig64, 64), Seq("pc", "pv"), cap).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"simhash_pieces $c%7d $form%8s $n%9d  $dt%.2f")
      }
      if (pathOn("delta_banding")) {
        val t0 = System.nanoTime()
        val n = Dedup.deltaCandidatesFromBands(bands, 50000000L + c / 2).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"delta_banding  $c%7d ${"blocked"}%8s $n%9d  $dt%.2f")
      }
      if (pathOn("contain_probe")) {
        val t0 = System.nanoTime()
        val n = Dedup.containmentCandidatesOf(shingled).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"contain_probe  $c%7d ${"blocked"}%8s $n%9d  $dt%.2f")
      }
      // the FULL exact join through the exact-set collapse: prefix and
      // reduction work runs on distinct sets (5 679 + 1 here), the clique
      // answer streams through the dedup-free intra expansion
      if (pathOn("ppjoin_join")) {
        val t0 = System.nanoTime()
        val n = Dedup.exactJaccardJoinOf(shingled).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"ppjoin_join    $c%7d ${"collapse"}%8s $n%9d  $dt%.2f")
      }
      // round-12: the ADAPTIVE production faces next to the raw kernels —
      // the collapse now routes every one of these paths, so the clique
      // legs should drop from bounded-quadratic kernel time to
      // distinct-sets time (delta_banding above is already adaptive; its
      // number IS the collapsed one)
      if (pathOn("minhash_adapt")) {
        val t0 = System.nanoTime()
        val n = Dedup.bandedPairsAdaptive(Dedup.signaturesOf(corpus), Dedup.bandsOf,
          Seq("band", "h1", "h2")).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"minhash_adapt  $c%7d ${"collapse"}%8s $n%9d  $dt%.2f")
      }
      if (pathOn("simhash_adapt")) {
        val t0 = System.nanoTime()
        val n = Dedup.simhashNearDupPairsWith(sig64, 64).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"simhash_adapt  $c%7d ${"collapse"}%8s $n%9d  $dt%.2f")
      }
      if (pathOn("contain_join")) {
        val t0 = System.nanoTime()
        val n = Dedup.containmentJoinOf(shingled).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"contain_join   $c%7d ${"collapse"}%8s $n%9d  $dt%.2f")
      }
      if (pathOn("delta_simhash")) {
        val t0 = System.nanoTime()
        val n = Dedup.deltaSimhashCandidates(sig64.localCheckpoint(), 50000000L + c / 2).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"delta_simhash  $c%7d ${"collapse"}%8s $n%9d  $dt%.2f")
      }
    }
    }

    // --- embedding clique: semantic dedup flat vs adaptive collapse ------
    // The dup-heavy pathology in the embedding modality: C copies of ONE
    // vector among the distinct corpus, all landing in one cell. The flat
    // verdict body pays C(C,2) cosine joins plus a quadratic edge list
    // into the component pass; the round-13 exact-vector collapse runs on
    // distinct vectors and members inherit the rep's label — no intra
    // pair ever materializes (the verdict expansion is a membership join,
    // not a pair stream). Flat at C=10⁴ is skipped by default
    // (GRAFT_EMBCLIQUE_FLAT=1 forces it) — ~5·10⁷ two-array join rows.
    section("emb_clique") {
    println()
    println(f"${"emb_clique"}%-14s ${"copies"}%7s ${"form"}%8s ${"dropped"}%9s  t(s)")
    val cvec = emb.where(col("vec_id") === 1L)
      .select("embedding").head.getSeq[Float](0)
    for (c <- Seq(2500, 10000)) {
      val corpus = emb.select(col("vec_id"), col("embedding")).unionAll(
        spark.range(c).select((col("id") + 60000000L).as("vec_id"),
          typedLit(cvec).as("embedding"))).localCheckpoint()
      val assign = corpus.select(col("vec_id"),
        pmod(xxhash64(col("embedding")), lit(32L)).cast("int").as("cell"))
      for (form <- Seq("flat", "adaptive")
           if !(form == "flat" && c > 2500 && !sys.env.contains("GRAFT_EMBCLIQUE_FLAT"))) {
        val t0 = System.nanoTime()
        val mode = if (form == "flat") ExactSetCollapse.Flat else ExactSetCollapse.Adaptive
        val n = Similarity.semanticVerdictsWith(assign, corpus, mode = mode)
          .where(!col("keep")).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"emb_clique     $c%7d $form%8s $n%9d  $dt%.2f")
      }
    }
    }

    // --- semantic ingest gate: driver edge volume vs committed size ------
    // The round-13 weak mark: the gate used to collect the FULL
    // (committed ∪ batch) × batch edge list. This leg grows the committed
    // corpus 16× while the micro-batch stays fixed (50 vectors covered by
    // a dense committed cell + a 50-vector novel near-clique): the edges
    // reaching the driver must stay EXACTLY the in-batch survivor graph
    // (C(50,2) = 1225) at every committed size — coverage is in-plan.
    section("sem_ingest") {
    println()
    println(f"${"sem_ingest"}%-14s ${"committed"}%9s ${"kept"}%5s ${"dropped"}%8s ${"drv_edges"}%9s  t(s)")
    def unitV(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(64)(r.nextFloat() * 2f - 1f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val cents = Array(unitV(1), unitV(2), unitV(3), unitV(4))
    // deterministic per-(id, position) perturbation ≤ 0.01 of a base
    // vector: cosine ≈ 1 to the base and to every sibling, distinct
    // vectors so the exact-vector collapse cannot shortcut the stress
    def nearCol(base: Array[Float], salt: Int) =
      transform(typedLit(base.toSeq), (x, i) =>
        (x + pmod(xxhash64(col("vec_id"), i, lit(salt)), lit(1000L)) / lit(100000.0))
          .cast("float"))
    for (n <- Seq(5000, 20000, 80000)) {
      val dir = Files.createTempDirectory("scaleprobe-semingest").toString
      val t = graft.core.VectorTable.create(spark, s"$dir/table")
      t.append(spark.range(n).select(col("id").as("vec_id"))
        .select(col("vec_id"), nearCol(cents(0), 1).as("embedding")))
      val idx = new java.util.concurrent.atomic.AtomicReference(
        graft.operators.IvfTableIndex.buildWith(t, s"$dir/index", cents))
      val batch = spark.range(50).select((col("id") + 10000000L).as("vec_id"))
        .select(col("vec_id"), nearCol(cents(0), 2).as("embedding"))
        .unionAll(spark.range(50).select((col("id") + 10000050L).as("vec_id"))
          .select(col("vec_id"), nearCol(cents(1), 3).as("embedding")))
      val t0 = System.nanoTime()
      val (kept, dropped) = graft.streaming.SemanticDedupIngest.appendDeduped(
        t, idx, batch, graft.operators.Similarity.nearDupThreshold, Some(0L))
      val dt = (System.nanoTime() - t0) / 1e9
      val drv = graft.streaming.SemanticDedupIngest.telemetryFor(t.root).driverEdges
      println(f"sem_ingest     $n%9d $kept%5d $dropped%8d $drv%9d  $dt%.2f")
    }
    }

    // --- containment join at replicated scales ---------------------------
    // Same disjoint-universe replication: the asymmetric prefix filter
    // must keep candidates linear in corpus size — the structural claim
    // behind serving dedup_containment at 100 TB.
    section("contain_join") {
    println()
    println(f"${"contain_join"}%-14s ${"docs"}%7s ${"cand"}%8s ${"pairs"}%7s  t(s)  growth")
    var t1contain = 0.0
    for (k <- Seq(1, 2, 4)) {
      val corpus = (0 until k).map { r =>
        shingled.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"),
          expr(s"transform(sh, x -> x + ${r}L * 9007199254740992L)").as("sh"))
      }.reduce(_ unionAll _)
      val t0 = System.nanoTime()
      val cand = Dedup.containmentCandidatesOf(corpus).count()
      val pairs = Dedup.containmentJoinOf(corpus).count()
      val dt = (System.nanoTime() - t0) / 1e9
      if (k == 1) t1contain = dt
      val label = s"rep${k}x"
      println(f"$label%-14s ${k * nDocs}%7d $cand%8d $pairs%7d  $dt%.2f  ${dt / t1contain}%.2f×")
    }
    }

    // --- trained-quantizer recall curve at replicated scales -------------
    // The oracle gate measures trained-vs-anchor at sf0.1's 5K vectors,
    // where the training sample IS the corpus. This probe materializes
    // 4x/8x corpora of DISTINCT vectors (each replica's embeddings rotated
    // by r positions — deterministic, norm-preserving, so replicas are
    // genuinely new points, not duplicates) and replays the honest
    // comparison OFF-sample: corpus-scaled cellsFor counts, hash-strided
    // training sample < corpus, kernel-path assignment. trained >= anchor
    // here is the evidence the serving fallback in ivfTrainedRecall is a
    // safety net, not a crutch.
    val base = Files.createTempDirectory("scaleprobe-ivf").toString
    section("trained_recall") {
    println()
    println(f"${"trained_recall"}%-14s ${"n"}%7s ${"cells"}%6s ${"anchor"}%7s ${"trained"}%8s  t(s)")
    for (k <- Seq(4, 8)) {
      val n0 = emb.count()
      val reps = (0 until k).map { r =>
        val rot = r % 63 + 1 // 1..63: never the identity for r > 0... except r=0 below
        val rotated = if (r == 0) emb
          else emb.select(
            (col("vec_id") + lit(r * n0)).as("vec_id"),
            expr(s"concat(slice(embedding, ${rot + 1}, ${64 - rot}), slice(embedding, 1, $rot))")
              .cast("array<float>").as("embedding"))
        rotated.select("vec_id", "embedding")
      }
      val dir = s"$base/rep$k"
      reps.reduce(_ unionAll _).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val t0 = System.nanoTime()
      val (aHits, tHits) = graft.operators.Similarity.trainedVsAnchorHits(spark, dir)
      val dt = (System.nanoTime() - t0) / 1e9
      val n = k * n0
      val cells = graft.operators.Similarity.cellsFor(n)
      val denom = (graft.operators.Similarity.ivfK * graft.operators.Similarity.panelSize).toDouble
      val label = s"rep${k}x"
      println(f"$label%-14s $n%7d $cells%6d ${aHits / denom}%7.3f ${tHits / denom}%8.3f  $dt%.1f" +
        (if (tHits >= aHits) "  trained>=anchor OK" else "  TRAINED LOST (fallback would serve anchors)"))
    }
    }

    // --- persisted TRAINED index: recall through the cell-pruned layout --
    // The in-memory comparison above measures centroid QUALITY; this
    // measures the full serving path — Lloyd-trained centroids fixed in a
    // persisted IvfTableIndex (built over the rep4x off-sample corpus,
    // cellsFor-scaled cells), panel recall@k via the partition-pruned
    // search against the brute-force truth over the same data.
    section("persisted_idx") {
    println()
    println(f"${"persisted_idx"}%-14s ${"n"}%7s ${"cells"}%6s ${"k"}%3s ${"recall"}%7s  t(s)")
    locally {
      val corpus = spark.read.parquet(s"$base/rep4/embeddings.parquet")
      val t0 = System.nanoTime()
      val vt = graft.core.VectorTable.create(spark, s"$base/idx-table")
      vt.append(corpus.select("vec_id", "embedding"))
      val idx = graft.operators.IvfTableIndex.build(vt, s"$base/idx", trained = true)
      val k = graft.operators.Similarity.ivfK
      val nprobe = graft.operators.Similarity.ivfNprobe
      val panel = corpus.where(col("vec_id") < graft.operators.Similarity.panelSize.toLong)
        .select("vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      var hits = 0L
      panel.foreach { case (qid, q) =>
        val exact = corpus.where(col("vec_id") =!= qid)
          .select(col("vec_id"),
            graft.functions.VectorFunctions.cosineF(col("embedding"), lit(q)).as("s"))
          .orderBy(col("s").desc, col("vec_id")).limit(k)
          .collect().map(_.getLong(0)).toSet
        val got = idx.search(q, k + 1, nprobe)
          .collect().map(_.getLong(0)).filter(_ != qid).take(k).toSet
        hits += exact.intersect(got).size
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val recall = hits.toDouble / (k.toDouble * panel.length)
      val label = "rep4x"
      println(f"$label%-14s ${vt.length}%7d ${idx.centroids.length}%6d $k%3d $recall%7.3f  $dt%.1f")
    }
    }
    spark.stop()
  }
}
