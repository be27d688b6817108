package graft.operators

import graft.core.{Memo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end LLM training-data cleaning pipeline, composed from the
  * verified operators — the "what this engine is for" query:
  *
  *   1. quality gate  (TextOps-style score ≥ threshold)
  *   2. exact dedup   (md5 grouping, keep lowest doc_id)
  *   3. near-dup drop (MinHash→LSH→Jaccard→connected components; keep each
  *                     cluster's canonical = min doc_id)
  *   4. emit the surviving corpus with token counts
  *
  * Every stage is one of the individually oracle-verified operators; the
  * composition is itself oracle-verified end-to-end. Scale shape: two
  * map-only passes over documents + the dedup shuffles (content-hash, LSH
  * bucket) + the tiny cluster join — nothing quadratic, nothing driver-side.
  */
object Pipeline {

  val minQuality = 0.5

  def cleanCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)

    // 1. quality gate (TextOps.qualityScores' arithmetic)
    val scored = TextOps.withQualityColumns(docs.withColumn("toks", TextOps.tokens("text")))
      .where(col("quality_score") >= minQuality)
      .select("doc_id", "text", "n_tokens")

    // 2. exact dedup: keep the lowest doc_id per content hash
    val exactKeep = scored
      .withColumn("content_hash", md5(col("text")))
      .withColumn("keep_id", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("content_hash")))
      .where(col("doc_id") === col("keep_id"))
      .select("doc_id", "n_tokens")

    // 3. near-dup canonical filter: drop any doc whose cluster canonical is
    //    a different (lower) doc_id. Clusters come from the verified pairs.
    val clusters = Dedup.duplicateClusters(s, d)
    exactKeep
      .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .where(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .select(col("doc_id"), col("n_tokens"))
  }

  /** Leakage-safe train/val/test split: the split key is the document's
    * near-dup CLUSTER CANONICAL, not the document — two near-duplicate
    * docs can never straddle train and eval (the train/test-contamination
    * failure mode dedup exists to prevent; splitting by doc hash alone
    * re-introduces it through surviving near-dup pairs). Singleton docs
    * are their own canonical.
    *
    * Deterministic: the 90/5/5 assignment hashes md5(canonical ∥ 'split')
    * — content-stable, seedless, the [[graft.operators.TextOps]] sampling
    * convention. Scale shape: the cluster map is candidate-graph-sized
    * (orders of magnitude under the corpus, AQE broadcasts it), the split
    * tag is a map-side expression, and the final aggregate has 3 groups.
    * The leakage guarantee is STRUCTURAL (split = f(canonical)), so the
    * oracle needs no straddle check — it recomputes the same counts.
    */
  def leakageSafeSplits(s: SparkSession, d: String): DataFrame = {
    val clusters = Dedup.duplicateClusters(s, d)
    val canon = Tables.documents(s, d).select("doc_id")
      .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("canon"))
    canon
      .withColumn("h", expr(
        "pmod(CAST(conv(substr(md5(concat(CAST(canon AS STRING), 'split')), 1, 13), 16, 10) AS BIGINT), 100)"))
      .withColumn("split",
        when(col("h") < 90, "train").when(col("h") < 95, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("canon")).as("n_clusters"))
  }

  /** The refinery end-to-end: the CLEANED corpus (quality gate → exact
    * dedup → near-dup canonical filter, i.e. [[cleanCorpus]]'s survivors)
    * routed through the leakage-safe split, with per-split document and
    * TOKEN budgets — the numbers a training run actually consumes
    * ("how many tokens of train data survive cleaning?"). One oracle row
    * set pins the full composition: every upstream stage's bug surfaces
    * here too.
    */
  def splitBudgets(s: SparkSession, d: String): DataFrame = {
    val cleaned = cleanCorpus(s, d) // (doc_id, n_tokens)
    val clusters = Dedup.duplicateClusters(s, d)
    cleaned
      .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("cluster_id"), col("doc_id")).as("canon"))
      .withColumn("h", expr(
        "pmod(CAST(conv(substr(md5(concat(CAST(canon AS STRING), 'split')), 1, 13), 16, 10) AS BIGINT), 100)"))
      .withColumn("split",
        when(col("h") < 90, "train").when(col("h") < 95, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"))
  }

  /** THE REFINERY WRITE: the cleaned corpus ([[cleanCorpus]]'s survivors —
    * quality gate → exact dedup → near-dup canonical filter) routed
    * through the packed-export plan ([[TextOps.packedFoldOf]]) — shard
    * count derived from the CLEANED token mass, survivors shuffled
    * deterministically and packed into budget bins. This is the last
    * stage of the pipeline this engine exists for: every upstream
    * operator's bug (a wrong quality score, a missed duplicate, a split
    * shard) surfaces in this one manifest, and the oracle replays the
    * whole composition end-to-end.
    */
  /** Cleaned (doc_id, text) survivors + their derived shard count —
    * shared by the manifest face and the writer.
    */
  private def cleanedDocsAndShards(s: SparkSession, d: String): (DataFrame, Int) = {
    val cleaned = cleanCorpus(s, d).localCheckpoint() // (doc_id, n_tokens), used twice
    val t = cleaned.agg(coalesce(sum(col("n_tokens").cast("long")), lit(0L)))
      .head().getLong(0)
    val nShards = math.max(1L,
      (t + TextOps.shardTokenBudget - 1) / TextOps.shardTokenBudget).toInt
    val docs = Tables.documents(s, d)
      .join(cleaned.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
    (docs, nShards)
  }

  /** The materialization of [[cleanExportManifest]]: cleaned survivors
    * written as one packed parquet file per shard.
    */
  def writeCleanPackedShards(s: SparkSession, d: String, out: String): Unit = {
    val (docs, nShards) = cleanedDocsAndShards(s, d)
    TextOps.writePackedShardsOf(s, docs, nShards, out)
  }

  def cleanExportManifest(s: SparkSession, d: String): DataFrame = {
    val (docs, nShards) = cleanedDocsAndShards(s, d)
    TextOps.packedFoldOf(s, docs, nShards)
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("bin_tokens"),
        min("pos").as("first_pos"), max("pos").as("last_pos"))
      .withColumn("n_shards", lit(nShards))
  }

  lazy val cleanExportSql: String = TextOps.packedManifestSqlOver(
    s"""SELECT d.doc_id, d.text
       |FROM documents d JOIN (${cleanCorpusSql.replace("\n", "\n  ")}) c
       |  ON d.doc_id = c.doc_id""".stripMargin)

  // lazy: composes cleanCorpusSql, declared below (val init order)
  lazy val splitBudgetsSql: String =
    s"""WITH cleaned AS (${cleanCorpusSql.replace("\n", "\n  ")}),
       | cl AS (${Dedup.duplicateClustersSql.replace("\n", "\n  ")}),
       | canon AS (
       |  SELECT c.doc_id, c.n_tokens, coalesce(cl.cluster_id, c.doc_id) AS canon
       |  FROM cleaned c LEFT JOIN cl ON cl.id = c.doc_id),
       | tagged AS (
       |  SELECT doc_id, n_tokens, canon,
       |   (('0x' || substr(md5(CAST(canon AS VARCHAR) || 'split'), 1, 13))::BIGINT) % 100 AS h
       |  FROM canon)
       |SELECT CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split,
       | COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM tagged GROUP BY 1""".stripMargin

  val leakageSafeSplitsSql: String =
    s"""WITH clusters AS (${Dedup.duplicateClustersSql.replace("\n", "\n  ")}),
       | canon AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS canon
       |  FROM documents d LEFT JOIN clusters c ON c.id = d.doc_id),
       | tagged AS (
       |  SELECT doc_id, canon,
       |   (('0x' || substr(md5(CAST(canon AS VARCHAR) || 'split'), 1, 13))::BIGINT) % 100 AS h
       |  FROM canon)
       |SELECT CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split,
       | COUNT(*) AS n_docs, CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_clusters
       |FROM tagged GROUP BY 1""".stripMargin

  val cleanCorpusSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, text, len(toks) AS n_tokens,
       |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 2.0
       |    + (CAST(n_chars AS DOUBLE) - (CAST(len(toks) AS DOUBLE) - 1.0)) / CAST(len(toks) AS DOUBLE) * 0.1
       |    - CAST(len(list_filter(toks, t -> t IN ('the','a','of','and'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       |      AS quality_score
       |  FROM (SELECT doc_id, text, n_chars, string_split(text, ' ') AS toks FROM documents)),
       | gated AS MATERIALIZED (
       |  SELECT doc_id, text, n_tokens FROM scored WHERE quality_score >= $minQuality),
       | exact_keep AS MATERIALIZED (
       |  SELECT doc_id, n_tokens FROM (
       |    SELECT doc_id, n_tokens,
       |      MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
       |    FROM gated) WHERE doc_id = keep_id),
       | clusters AS (${Dedup.duplicateClustersSql.replace("\n", "\n  ")})
       |SELECT e.doc_id, e.n_tokens
       |FROM exact_keep e LEFT JOIN clusters c ON c.id = e.doc_id
       |WHERE c.cluster_id IS NULL OR c.cluster_id = e.doc_id""".stripMargin

  // ===== the composed STREAMING refinery (all four ingest gates in one
  // write path) =====

  /** Eval carve-out for the streamed refinery — the same deterministic
    * `id % 50 = 0` held-out stand-in the contamination faces use.
    */
  val refineryEvalMod = 50L

  /** Stream-landed FULLY-REFINED corpus, memoized per (machine, sf dir):
    * the fused (vec_id, text, embedding) rows — non-eval ids only — are
    * staged as four sequentially-written id-range files and landed
    * through [[graft.streaming.RefineryIngest]] one file per micro-batch:
    * quality gate → exact dedup vs the committed hash store →
    * decontamination vs the fixed eval matrix → semantic dedup vs the
    * committed IVF index. The per-batch stage counts are persisted next
    * to the tables so the spec can pin streamed totals ≡ the batch
    * oracle's global counts without re-landing.
    */
  private[graft] def refineryRoot(s: SparkSession, d: String): String =
    Memo.machine(s, "graft-rowid-tables", "refinery", d, "#refinery#stages=6") { dir =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val fused = Tables.documents(s, d)
        .select(col("doc_id").as("vec_id"), col("text"))
        .join(emb, Seq("vec_id"))
        .where(col("vec_id") % refineryEvalMod =!= 0)
        .select(col("vec_id"), col("text"), col("embedding"))
      val evalRows = emb.where(col("vec_id") % refineryEvalMod === 0)
        .orderBy("vec_id").collect()
      val evalIds = evalRows.map(_.getLong(0))
      val evalVecs = evalRows.map(_.getSeq[Float](1).toArray)
      val maxId = fused.agg(max(col("vec_id"))).head.getLong(0)
      graft.streaming.StreamIngest.stageIdSpans(fused, "vec_id", maxId, dir)
      val docsTable = graft.core.VectorTable.create(s, s"$dir/docs")
      val hashStore = graft.core.VectorTable.create(s, s"$dir/hashes")
      val spanStore = graft.core.VectorTable.create(s, s"$dir/spans")
      val lexStore = graft.core.VectorTable.create(s, s"$dir/lex")
      val embTable = graft.core.VectorTable.create(s, s"$dir/emb")
      val spanIdx = new java.util.concurrent.atomic.AtomicReference(
        graft.operators.SpanIndex.build(spanStore, s"$dir/spanindex"))
      val lexIdx = new java.util.concurrent.atomic.AtomicReference(
        graft.operators.LshIndex.build(lexStore, s"$dir/lexindex"))
      val idx = new java.util.concurrent.atomic.AtomicReference(
        IvfTableIndex.buildWith(embTable, s"$dir/index", Similarity.centroids(s, d)))
      val acc = new java.util.concurrent.atomic.AtomicReference(
        graft.streaming.RefineryIngest.Counts.zero)
      graft.streaming.StreamIngest.replayStaged(s, fused.schema, dir)((stream, trigger) =>
        graft.streaming.RefineryIngest.start(stream, docsTable,
          hashStore, spanStore, lexStore, embTable, spanIdx, lexIdx, idx,
          evalIds, evalVecs, minQuality,
          Similarity.nearDupThreshold, s"$dir/ckpt", acc, trigger = trigger))
      require(docsTable.length > 0, "refinery landed nothing")
      val c = acc.get()
      java.nio.file.Files.write(dir.resolve("counts.txt"),
        s"${c.input},${c.qualityDropped},${c.exactDropped},${c.spanDropped},${c.lexicalDropped},${c.contamDropped},${c.semanticDropped},${c.landed}"
          .getBytes("UTF-8"))
    }

  /** Declared `pipeline_ingest_gates`: the composed streaming refinery,
    * gated the way each constituent face is gated — the four
    * SQL-expressible stage counts are oracle-replayed EXACTLY (quality
    * drop, exact-dedup drop with min-id-per-hash semantics, span-coverage
    * drop via the four-batch recurrence, eval-set contamination drop),
    * and the semantic stage — whose greedy sweep a
    * recursive CTE cannot express — is pinned by the same uniqueness
    * characterization as `dedup_semantic_ingest`: over the semantic
    * stage's input set, the landed rows are pairwise-independent within
    * cells and every semantically-dropped row has a landed neighbor in
    * its cell (the coverage measurement is id-agnostic; the stricter
    * smaller-id witness is what SemanticIngestSpec pins sequentially).
    * Both edge builders route through the shared hot-bucket-safe kernels.
    * The span stage's Spark side reads the PERSISTED span store (the
    * streamed landing's ground truth — every span-stage survivor is
    * recorded there); the oracle recomputes the same survivor set from
    * raw text via the landedₖ recurrence, so a green row value-verifies
    * the streamed span gate end-to-end.
    */
  def ingestGates(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = refineryRoot(s, d)
    val nonEval = Tables.documents(s, d).where(col("doc_id") % refineryEvalMod =!= 0)
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // Round-18: the face is a driver program of ~13 serial actions whose
    // first tier (input count, quality→exact chain, the two persisted
    // store reads, the eval-row collect, the landed read) is mutually
    // independent — overlapped from a small pool (guide §2.6), as are the
    // later kept/dropped materializations and the two invariant counts.
    // Every count and row set is unchanged; only submission order moved.
    final case class T1(nInput: Long = -1, nGated: Long = -1, nExact: Long = -1,
                        nSpanKeep: Long = -1, lexKeep: DataFrame = null,
                        nLexKeep: Long = -1,
                        evalRows: Array[org.apache.spark.sql.Row] = null,
                        landed: DataFrame = null)
    val t1 = graft.core.Par.tasks[T1](Seq(
      () => T1(nInput = nonEval.count()),
      () => {
        // stage 1-2 (batch replay of the stream's set-level semantics)
        val gated = TextOps.withQualityColumns(nonEval.withColumn("toks", TextOps.tokens("text")))
          .where(col("quality_score") >= minQuality)
          .select(col("doc_id"), col("text"))
          .localCheckpoint()
        val exactKeep = gated
          .withColumn("keep_id", min(col("doc_id")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))))
          .where(col("doc_id") === col("keep_id"))
          .select(col("doc_id").as("vec_id"))
        T1(nGated = gated.count(), nExact = exactKeep.count())
      },
      // stage 3: span-stage survivors from the persisted span store — the
      // streamed truth the oracle's recurrence recomputes from raw text
      () => T1(nSpanKeep = graft.core.VectorTable.open(s, s"$root/spans")
        .scan().select(col("doc_id")).count()),
      // stage 4: lexical survivors from the persisted lexical store
      () => {
        val lk = graft.core.VectorTable.open(s, s"$root/lex")
          .scan().select(col("doc_id").as("vec_id"))
          .localCheckpoint()
        T1(lexKeep = lk, nLexKeep = lk.count())
      },
      () => T1(evalRows = emb.where(col("vec_id") % refineryEvalMod === 0)
        .orderBy("vec_id").collect()),
      () => T1(landed = graft.core.VectorTable.open(s, s"$root/docs")
        .scan().select(col("vec_id")).localCheckpoint())))
    val nInput = t1(0).nInput
    val nGated = t1(1).nGated
    val nExact = t1(1).nExact
    val nSpanKeep = t1(2).nSpanKeep
    val lexKeep = t1(3).lexKeep
    val nLexKeep = t1(3).nLexKeep
    val evalRows = t1(4).evalRows
    val landed = t1(5).landed
    // stage 5
    val contaminated = Similarity.semanticContaminationOf(
      emb.join(lexKeep, Seq("vec_id"), "left_semi"),
      evalRows.map(_.getLong(0)), evalRows.map(_.getSeq[Float](1).toArray))
      .select(col("vec_id"))
    val semInput = lexKeep.join(contaminated, Seq("vec_id"), "left_anti")
      .join(Similarity.ivfAssign(s, d).select(col("vec_id"), col("cell")), Seq("vec_id"))
      .join(emb, Seq("vec_id"))
      .localCheckpoint()
    val nSemInput = semInput.count()
    // stage 4 characterization over the landed set
    val Seq(kept, dropped) = graft.core.Par.tasks[DataFrame](Seq(
      () => semInput.join(landed, Seq("vec_id"), "left_semi").localCheckpoint(),
      () => semInput.join(landed, Seq("vec_id"), "left_anti").localCheckpoint()))
    val embAll = semInput.select(col("vec_id"), col("embedding"))
    def scored(cand: DataFrame): DataFrame = cand
      .join(embAll.select(col("vec_id").as("doc_a"), col("embedding").as("ea")), Seq("doc_a"))
      .join(embAll.select(col("vec_id").as("doc_b"), col("embedding").as("eb")), Seq("doc_b"))
      .withColumn("sim", graft.functions.VectorFunctions.cosineF(col("ea"), col("eb")))
      .where(!isnan(col("sim")) && col("sim") >= Similarity.nearDupThreshold)
      .select("doc_a", "doc_b")
    val Seq(keptPairs, uncovered) = graft.core.Par.tasks[Long](Seq(
      () => scored(Dedup.pairsFromBucketedRowsRaw(
        kept.select(col("cell"), col("vec_id").as("doc_id")),
        Seq("cell"), Dedup.bucketExpandCap)).count(),
      () => {
        val coveredDropped = scored(Dedup.deltaPairsBlocked(
            kept.select(col("cell"), col("vec_id").as("doc_id")),
            dropped.select(col("cell"), col("vec_id").as("doc_id")), Seq("cell")))
          .select(explode(array(col("doc_a"), col("doc_b"))).as("vec_id"))
          .join(dropped.select(col("vec_id")), Seq("vec_id"), "left_semi").distinct()
        dropped.join(coveredDropped, Seq("vec_id"), "left_anti").count()
      }))
    Seq((nInput, nInput - nGated, nGated - nExact, nSemInput,
      uncovered == 0L, keptPairs == 0L))
      .toDF("n_input", "n_quality_dropped", "n_exact_dropped",
        "n_semantic_input", "dropped_dominated", "kept_independent")
      .withColumn("n_span_dropped", lit(nExact - nSpanKeep))
      .withColumn("n_lexical_dropped", lit(nSpanKeep - nLexKeep))
      .withColumn("n_contam_dropped", lit(nLexKeep - nSemInput))
      .select("n_input", "n_quality_dropped", "n_exact_dropped",
        "n_span_dropped", "n_lexical_dropped", "n_contam_dropped",
        "n_semantic_input", "kept_independent", "dropped_dominated")
  }

  /** Oracle twin: the five SQL-expressible counts replayed exactly —
    * quality/exact set-level, the span stage via the landedₖ recurrence
    * over the four deterministic id-quartile micro-batches (the same
    * unrolled shape as `dedup_span_ingest`'s oracle, restricted to
    * quality+exact survivors), the LEXICAL stage via the same recurrence
    * over the `dedup_jaccard_verified` pair set (banding + Jaccard are
    * symmetric per-pair functions, so the gate's bipartite candidates
    * coincide with the all-docs pair set restricted to
    * (survivor, batch-doc) endpoints — `dedup_lsh_ingest`'s argument) —
    * and the semantic invariants asserted TRUE (measured honestly
    * Spark-side, same stance as `dedup_semantic_ingest`).
    */
  lazy val ingestGatesSql: String = {
    val dim = Similarity.dim
    val W = Dedup.repeatedSpanWindow
    val S = Dedup.repeatedSpanStride
    val M = graft.functions.ShingleKernel.RollM
    val B = graft.functions.ShingleKernel.RollB
    def fold(e: String): String =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, $dim + 1), i -> $e)), (acc, x) -> acc + x)"
    // span-stage recurrence step k: batch-k exact survivors whose window
    // occurrences are < threshold-permille covered by spans of survivors
    // from batches < k (committed-only — batch docs never charge each
    // other, exactly the streamed gate's arithmetic)
    def cov(k: Int, prevSpans: String): String =
      s"""c$k AS MATERIALIZED (
         |  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
         |  FROM grams g JOIN nw ON g.doc_id = nw.doc_id AND nw.batch = $k
         |  WHERE g.gram_hash IN (SELECT gram_hash FROM $prevSpans)
         |  GROUP BY g.doc_id),
         | l$k AS MATERIALIZED (
         |  SELECT nw.doc_id FROM nw LEFT JOIN c$k ON nw.doc_id = c$k.doc_id
         |  WHERE nw.batch = $k AND (nw.n_windows = 0
         |    OR 1000 * COALESCE(c$k.n_dup, 0) // nw.n_windows < ${Dedup.spanScrubMaxPermille})),
         | s$k AS MATERIALIZED (
         |  SELECT gram_hash FROM $prevSpans
         |  UNION SELECT DISTINCT g.gram_hash FROM grams g JOIN l$k ON g.doc_id = l$k.doc_id)""".stripMargin
    def lex(k: Int, prev: String): String =
      s"""lx$k AS MATERIALIZED (
         |  SELECT skb.doc_id FROM skb
         |  WHERE skb.batch = $k AND NOT EXISTS (
         |    SELECT 1 FROM v JOIN $prev p ON v.doc_a = p.doc_id
         |    WHERE v.doc_b = skb.doc_id)),
         | sx$k AS MATERIALIZED (SELECT doc_id FROM $prev UNION ALL SELECT doc_id FROM lx$k)""".stripMargin
    s"""WITH scored AS (
       |  SELECT doc_id, text,
       |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 2.0
       |    + (CAST(n_chars AS DOUBLE) - (CAST(len(toks) AS DOUBLE) - 1.0)) / CAST(len(toks) AS DOUBLE) * 0.1
       |    - CAST(len(list_filter(toks, t -> t IN ('the','a','of','and'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       |      AS quality_score
       |  FROM (SELECT doc_id, text, n_chars, string_split(text, ' ') AS toks
       |        FROM documents WHERE doc_id % $refineryEvalMod <> 0)),
       | gated AS MATERIALIZED (
       |  SELECT doc_id, text FROM scored WHERE quality_score >= $minQuality),
       | exact_keep AS MATERIALIZED (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
       |    FROM gated) WHERE doc_id = keep_id),
       | ek AS MATERIALIZED (
       |  SELECT g.doc_id, g.text FROM gated g JOIN exact_keep k ON g.doc_id = k.doc_id),
       | pos AS (
       |  SELECT doc_id, text,
       |    unnest(range(1, len(text) - $W + 2, $S)) AS i
       |  FROM ek WHERE len(text) >= $W),
       | grams AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(i, i + $W),
       |                     j -> CAST(ord(text[j]) % 128 AS BIGINT))),
       |      (acc, c) -> (acc * $B + c) % $M) AS gram_hash
       |  FROM pos),
       | bm AS (SELECT MAX(doc_id) + 1 AS m FROM documents WHERE doc_id % $refineryEvalMod <> 0),
       | nw AS MATERIALIZED (
       |  SELECT e.doc_id,
       |    CAST(COALESCE(g.cnt, 0) AS BIGINT) AS n_windows,
       |    CASE WHEN e.doc_id < (SELECT m * 1 // 4 FROM bm) THEN 0
       |         WHEN e.doc_id < (SELECT m * 2 // 4 FROM bm) THEN 1
       |         WHEN e.doc_id < (SELECT m * 3 // 4 FROM bm) THEN 2
       |         ELSE 3 END AS batch
       |  FROM ek e LEFT JOIN
       |    (SELECT doc_id, COUNT(*) AS cnt FROM grams GROUP BY doc_id) g
       |    ON e.doc_id = g.doc_id),
       | l0 AS MATERIALIZED (SELECT doc_id FROM nw WHERE batch = 0),
       | s0 AS MATERIALIZED (SELECT DISTINCT g.gram_hash FROM grams g JOIN l0 ON g.doc_id = l0.doc_id),
       | ${cov(1, "s0")},
       | ${cov(2, "s1")},
       | ${cov(3, "s2")},
       | span_keep AS MATERIALIZED (
       |  SELECT doc_id FROM l0 UNION ALL SELECT doc_id FROM l1
       |  UNION ALL SELECT doc_id FROM l2 UNION ALL SELECT doc_id FROM l3),
       | v AS MATERIALIZED (${Dedup.jaccardVerifiedPairsSql.replace("\n", "\n  ")}),
       | skb AS MATERIALIZED (
       |  SELECT k.doc_id, nw.batch FROM span_keep k JOIN nw ON k.doc_id = nw.doc_id),
       | lx0 AS MATERIALIZED (SELECT doc_id FROM skb WHERE batch = 0),
       | sx0 AS MATERIALIZED (SELECT doc_id FROM lx0),
       | ${lex(1, "sx0")},
       | ${lex(2, "sx1")},
       | ${lex(3, "sx2")},
       | lex_keep AS MATERIALIZED (
       |  SELECT doc_id FROM lx0 UNION ALL SELECT doc_id FROM lx1
       |  UNION ALL SELECT doc_id FROM lx2 UNION ALL SELECT doc_id FROM lx3),
       | ev AS (
       |  SELECT vec_id AS eid, list_transform(embedding, x -> x::DOUBLE) AS ee
       |  FROM embeddings WHERE vec_id % $refineryEvalMod = 0),
       | co AS (
       |  SELECT e.vec_id, list_transform(e.embedding, x -> x::DOUBLE) AS ed
       |  FROM embeddings e JOIN lex_keep k ON e.vec_id = k.doc_id),
       | sc AS MATERIALIZED (
       |  SELECT co.vec_id, ev.eid,
       |   ${fold("ed[i] * ee[i]")} AS dot,
       |   ${fold("ed[i] * ed[i]")} AS na2,
       |   ${fold("ee[i] * ee[i]")} AS nb2
       |  FROM co, ev),
       | contam AS MATERIALIZED (
       |  SELECT vec_id FROM (
       |    SELECT vec_id, dot / (sqrt(na2) * sqrt(nb2)) AS sim
       |    FROM sc WHERE na2 > 0 AND nb2 > 0)
       |  GROUP BY vec_id HAVING MAX(sim) >= ${Similarity.nearDupThreshold})
       |SELECT
       |  (SELECT COUNT(*) FROM documents WHERE doc_id % $refineryEvalMod <> 0) AS n_input,
       |  (SELECT COUNT(*) FROM documents WHERE doc_id % $refineryEvalMod <> 0)
       |    - (SELECT COUNT(*) FROM gated) AS n_quality_dropped,
       |  (SELECT COUNT(*) FROM gated) - (SELECT COUNT(*) FROM exact_keep) AS n_exact_dropped,
       |  (SELECT COUNT(*) FROM exact_keep) - (SELECT COUNT(*) FROM span_keep) AS n_span_dropped,
       |  (SELECT COUNT(*) FROM span_keep) - (SELECT COUNT(*) FROM lex_keep) AS n_lexical_dropped,
       |  (SELECT COUNT(*) FROM contam) AS n_contam_dropped,
       |  (SELECT COUNT(*) FROM lex_keep) - (SELECT COUNT(*) FROM contam) AS n_semantic_input,
       |  TRUE AS kept_independent, TRUE AS dropped_dominated""".stripMargin
  }
}
