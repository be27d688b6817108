package graft.streaming

import graft.core.VectorTable
import graft.operators.{Dedup, IvfTableIndex, LshIndex, Maintenance, SpanIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BatchParam
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The COMPOSED refinery write path: every micro-batch of fused
  * (vec_id, text, embedding) rows runs the full curation chain before a
  * single row lands — the streaming twin of [[graft.operators.Pipeline]]'s
  * batch refinery, and the composition of the per-modality single-gate
  * streams ([[DedupIngest]], [[SpanScrubIngest]], [[ContaminationIngest]],
  * [[SemanticDedupIngest]]) into ONE ingest, ordered down the cost
  * gradient:
  *
  *   1. QUALITY (stateless, map-only): the exact
  *      [[graft.operators.TextOps.qualityScores]] arithmetic, dropping
  *      rows below the cutoff first — cheapest gate, biggest kill, and
  *      every later stage works on the thinned batch;
  *   2. EXACT DEDUP (hash state): min-vec_id representative per content
  *      hash within the batch, then an anti-join against the committed
  *      hash store. The store records every quality survivor ever seen —
  *      not just landed rows — so a doc dropped downstream still
  *      suppresses its later exact copies (the sequential min-id-per-hash
  *      semantics the batch oracle replays);
  *   3. SPAN COVERAGE (rolling-hash state): [[SpanScrubIngest.keptIds]]
  *      at [[graft.operators.Dedup.spanScrubMaxPermille]]‰ against the
  *      span index's windows of docs below the batch — one map-only
  *      rolling-hash pass + one hash-keyed semi-join, which is why it sits
  *      right after the exact hash join. The span store records every
  *      SPAN-STAGE SURVIVOR (the hash store's stance): boilerplate seen
  *      once gates every later recombination even if the doc itself later
  *      dies downstream, and the stage stays a pure function of (batch,
  *      survivors-so-far) the oracle can replay;
  *   4. LEXICAL NEAR-DUP (MinHash-LSH state): [[LshDedupIngest.droppedIds]]
  *      against the lexical index's band rows of docs below the batch and
  *      the lexical store's text. The lexical store records every
  *      LEXICAL-STAGE SURVIVOR (same stance as the hash and span stores),
  *      keeping the stage a pure recurrence the oracle replays;
  *   5. DECONTAMINATION (stateless, map-only):
  *      [[ContaminationIngest.cleanRows]] against the fixed eval matrix —
  *      one fused-kernel pass and an anti-join on vec_id;
  *   6. SEMANTIC DEDUP (committed-corpus state): the thinned batch lands
  *      through [[SemanticDedupIngest.appendDeduped]] unchanged — in-plan
  *      committed coverage, gated driver sweep, distributed MIS fallback;
  *   7. the kept ids' text rows land in the docs table, keeping the two
  *      stores id-aligned.
  *
  * At 100 TB each batch's cost is dominated by the semantic stage's
  * cell-bucketed candidate work on an already-thinned batch; stages 1–5
  * are map-only, one hash join, one span semi-join, one hot-bucket-capped
  * banding join sized to candidates, and one kernel pass.
  */
object RefineryIngest {

  /** Per-batch stage accounting (returned so specs can pin that streamed
    * totals equal the batch oracle's global counts).
    */
  final case class Counts(input: Long, qualityDropped: Long,
                          exactDropped: Long, spanDropped: Long,
                          lexicalDropped: Long, contamDropped: Long,
                          semanticDropped: Long, landed: Long) {
    def +(o: Counts): Counts = Counts(input + o.input,
      qualityDropped + o.qualityDropped, exactDropped + o.exactDropped,
      spanDropped + o.spanDropped, lexicalDropped + o.lexicalDropped,
      contamDropped + o.contamDropped, semanticDropped + o.semanticDropped,
      landed + o.landed)
  }
  object Counts { val zero: Counts = Counts(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L) }

  /** The quality gate's score column over (text, n_chars-free) rows —
    * n_chars is recomputed from the text so a fused stream needs no extra
    * column; `length(text)` equals the generator's `n_chars` for the
    * corpus (single-byte tokens). The ARITHMETIC is
    * [[graft.operators.TextOps.withQualityColumns]] itself — one shared
    * builder, so the batch face and this gate cannot drift (round-16
    * ADVICE; QualityFormulaSpec pins the equality).
    */
  private def withQuality(df: DataFrame): DataFrame =
    graft.operators.TextOps.withQualityColumns(
        df.withColumn("toks", split(col("text"), " "))
          .withColumn("n_chars", length(col("text"))))
      .drop("toks", "n_chars", "n_tokens", "ttr", "mean_token_len", "stop_ratio")

  /** One fully-gated batch append; returns the stage [[Counts]].
    *
    * REPLAY CONTRACT (round-15 ADVICE fix): the refinery mutates FIVE
    * stores per batch (hash, span, lexical, embeddings, docs), and a
    * stream restart after a partial batch (say, hash append committed,
    * the rest not yet) must re-execute exactly the uncommitted appends.
    * So there is NO whole-function replay guard — each
    * [[VectorTable.append]] (and [[SemanticDedupIngest.appendDeduped]])
    * self-guards on ITS OWN table's `manifest.streamBatch`, and every
    * stage is made replay-DETERMINISTIC:
    *   - the exact-dedup anti-join reads only hash rows with
    *     `vec_id < min(batch vec_id)` — the committed-BEFORE-this-batch
    *     view, identical whether or not this batch's own hash append has
    *     already landed (ids arrive ordered across batches, enforced
    *     below);
    *   - the span-coverage semi-join and the lexical banding join read
    *     only index rows with `doc_id < min(batch vec_id)` — the same
    *     before-this-batch view;
    *   - the kept-id set for the docs append derives from embTable
    *     MEMBERSHIP at `vec_id >= min(batch vec_id)` (zone-map-pruned on
    *     the driver), not from "the last appended span", which a replay
    *     would misread.
    * Every per-batch bound enters the plans as a [[BatchParam]], so from
    * the second batch on the stages reuse the classes the first compiled.
    */
  def appendRefined(docsTable: VectorTable, hashStore: VectorTable,
                    spanStore: VectorTable, lexStore: VectorTable,
                    embTable: VectorTable,
                    spanIdx: java.util.concurrent.atomic.AtomicReference[SpanIndex],
                    lexIdx: java.util.concurrent.atomic.AtomicReference[LshIndex],
                    idx: java.util.concurrent.atomic.AtomicReference[IvfTableIndex],
                    batch: DataFrame, evalIds: Array[Long],
                    evalVecs: Array[Array[Float]], minQuality: Double,
                    threshold: Double,
                    streamBatchId: Option[Long] = None): Counts = {
    val stats = batch.agg(count(lit(1)), min(col("vec_id"))).head()
    val total = stats.getLong(0)
    if (total == 0) return Counts.zero
    val minBatchId = stats.getLong(1)
    // ordered-arrival invariant for the hash store's before-this-batch
    // view (appendDeduped enforces the same for embTable, but over KEPT
    // rows only — the hash store additionally records dropped survivors,
    // so it needs its own check; parquet column stats make this cheap).
    // Skipped on a replay whose hash append already committed: the store
    // then legitimately holds THIS batch's ids, and the invariant was
    // checked when the batch first executed.
    if (hashStore.length > 0L &&
        !streamBatchId.exists(_ <= hashStore.manifest.streamBatch))
      StreamIngest.requireOrderedArrival("refinery", hashStore.scan(), "vec_id", minBatchId)

    // 1. quality — stateless projection + filter
    val scored = withQuality(batch)
      .where(col("quality_score") >= minQuality)
      .select(col("vec_id"), col("text"), col("embedding"))
      .localCheckpoint()
    val nScored = scored.count()

    // 2. exact dedup — min-id rep per hash in batch, anti-join the hashes
    //    committed BEFORE this batch (vec_id < minBatchId: deterministic
    //    under replay even after this batch's own hash append landed)
    val hashed = scored.withColumn("content_hash", md5(col("text")))
    val reps = hashed
      .withColumn("keep_id", min(col("vec_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("content_hash")))
      .where(col("vec_id") === col("keep_id"))
      .select(col("vec_id"), col("text"), col("embedding"), col("content_hash"))
    val novel =
      (if (hashStore.length == 0L) reps
       else reps.join(
         hashStore.scan().where(col("vec_id") < BatchParam(minBatchId))
           .select("content_hash"),
         Seq("content_hash"), "left_anti"))
        .select(col("vec_id"), col("text"), col("embedding"))
        .localCheckpoint()
    val nNovel = novel.count()
    // record EVERY quality survivor's hash (one rep per in-batch hash is
    // enough — same hash), regardless of what later stages decide;
    // append self-guards on hashStore.manifest.streamBatch
    val newHashes = reps.select(col("vec_id"), col("content_hash"))
    if (nScored > 0) hashStore.append(newHashes, streamBatchId = streamBatchId)

    // 3. span coverage — the span kernel over the exact survivors, against
    //    spans seen at this gate BEFORE this batch
    val spanKept = novel
      .join(SpanScrubIngest.keptIds(
          novel.select(col("vec_id").as("doc_id"), col("text")),
          spanIdx.get().windows.where(col("doc_id") < BatchParam(minBatchId)),
          Dedup.spanScrubMaxPermille).select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi")
      .localCheckpoint()
    val nSpanKept = spanKept.count()
    // record every span-stage survivor's windows (self-guarded append +
    // length-driven refresh — idempotent under replay either way)
    if (nSpanKept > 0) {
      spanStore.append(spanKept.select(col("vec_id").as("doc_id"), col("text")),
        streamBatchId = streamBatchId)
      spanIdx.set(spanIdx.get().refresh(spanStore))
    }

    // 4. lexical near-dup — the lexical kernel against the committed band
    //    rows below minBatchId (the before-this-batch view); survivors are
    //    recorded in the lexical store whatever later stages decide
    val lexKept = spanKept
      .join(LshDedupIngest.droppedIds(
          spanKept.select(col("vec_id").as("doc_id"), col("text")),
          lexIdx.get().bands.where(col("doc_id") < BatchParam(minBatchId)),
          lexStore).select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_anti")
      .localCheckpoint()
    val nLexKept = lexKept.count()
    if (nLexKept > 0) {
      lexStore.append(lexKept.select(col("vec_id").as("doc_id"), col("text")),
        streamBatchId = streamBatchId)
      lexIdx.set(lexIdx.get().refresh(lexStore))
    }

    // 5. decontamination — the contamination kernel against the fixed
    //    eval matrix
    val clean = ContaminationIngest.cleanRows(lexKept, evalIds, evalVecs)
      .select(col("vec_id"), col("text"), col("embedding"))
      .localCheckpoint()
    val nClean = clean.count()

    // 6. semantic dedup landing (in-plan committed coverage, gated sweep;
    //    self-guards on embTable.manifest.streamBatch — a replay whose emb
    //    append already committed returns (0,0) and stage 7 recovers the
    //    kept set from membership instead)
    SemanticDedupIngest.appendDeduped(embTable, idx,
      clean.select(col("vec_id"), col("embedding")), threshold,
      streamBatchId = streamBatchId)

    // 7. the kept ids are this batch's clean ids that LANDED in embTable —
    //    pure membership, valid on first run and on replay alike (ids are
    //    unique and ordered, so embTable rows at vec_id >= minBatchId are
    //    exactly this batch's kept rows); docs append self-guards
    val keptIds =
      (if (embTable.length == 0L) clean.select(col("vec_id")).limit(0)
       else clean.select(col("vec_id")).join(
         embTable.scanFrom("vec_id", minBatchId).select(col("vec_id")),
         Seq("vec_id"), "left_semi"))
        .localCheckpoint()
    val kept = keptIds.count()
    if (kept > 0) {
      docsTable.append(
        clean.select(col("vec_id"), col("text"))
          .join(keptIds, Seq("vec_id"), "left_semi"),
        streamBatchId = streamBatchId)
    }
    // 8. AUTOMATIC maintenance (round 16): threshold-triggered compaction
    //    keeps a continuously-fed refinery's file counts bounded without
    //    operator intervention — cheap metadata checks per batch; fired
    //    work is the existing byte-sized compactions (policy and cost
    //    story in [[graft.operators.Maintenance]]). Runs AFTER the
    //    landings, in the same single-writer maintenance slot.
    Seq(docsTable, hashStore, spanStore, lexStore, embTable)
      .foreach(t => Maintenance.maintainTable(t))
    Maintenance.maintainIndex(spanIdx.get().root, () => { spanIdx.get().compact(); () })
    Maintenance.maintainIndex(lexIdx.get().root, () => { lexIdx.get().compact(); () })
    Maintenance.maintainPartitionedIndex(idx.get().root, () => { idx.get().compact(); () })

    Counts(total, total - nScored, nScored - nNovel, nNovel - nSpanKept,
      nSpanKept - nLexKept, nLexKept - nClean, nClean - kept, kept)
  }

  /** COMPOSED takedown across the refinery's FIVE stores (round 16): one
    * call masks the doc ids in docs/hash/span/lex/emb, refreshes every
    * dependent index (consuming the masks — rowid-addressed affected-file
    * rewrites), then physically purges each store so the documents' text,
    * hashes, spans and vectors leave every current-version file. The gate
    * stores intentionally FORGET the documents: a future near-copy of a
    * taken-down doc re-admits, which is what a right-to-be-forgotten
    * delete means for a dedup gate. `purge = true` is the default because
    * the refinery's gates read the stores' PHYSICAL surface (`scan()` —
    * the replay-deterministic view); without the purge the gates would
    * keep consulting masked rows. Run between batches (the same
    * single-writer maintenance slot as compaction). Returns newly-masked
    * counts per store.
    */
  def takedown(ids: Seq[Long], docsTable: VectorTable, hashStore: VectorTable,
               spanStore: VectorTable, lexStore: VectorTable,
               embTable: VectorTable,
               spanIdx: java.util.concurrent.atomic.AtomicReference[SpanIndex],
               lexIdx: java.util.concurrent.atomic.AtomicReference[LshIndex],
               idx: java.util.concurrent.atomic.AtomicReference[IvfTableIndex],
               purge: Boolean = true): Map[String, Long] = {
    import graft.operators.Takedown
    // each store REGISTERS its dependent index (round 17): the composition
    // owns the refresh-before-purge order per store
    Takedown.everywhere(ids,
      Seq(Takedown.Store("docs", docsTable, "vec_id"),
        Takedown.Store("hash", hashStore, "vec_id"),
        Takedown.Store("span", spanStore, "doc_id", refreshIndexes = Seq(
          () => { spanIdx.set(spanIdx.get().refresh(spanStore)); () })),
        Takedown.Store("lex", lexStore, "doc_id", refreshIndexes = Seq(
          () => { lexIdx.set(lexIdx.get().refresh(lexStore)); () })),
        Takedown.Store("emb", embTable, "vec_id", refreshIndexes = Seq(
          () => { idx.set(idx.get().refresh(embTable)); () }))),
      purge = purge)
  }

  /** Streaming form: every micro-batch lands fully refined; per-batch
    * counts accumulate into `acc` for callers that pin totals.
    */
  def start(stream: DataFrame, docsTable: VectorTable, hashStore: VectorTable,
            spanStore: VectorTable, lexStore: VectorTable, embTable: VectorTable,
            spanIdx: java.util.concurrent.atomic.AtomicReference[SpanIndex],
            lexIdx: java.util.concurrent.atomic.AtomicReference[LshIndex],
            idx: java.util.concurrent.atomic.AtomicReference[IvfTableIndex],
            evalIds: Array[Long], evalVecs: Array[Array[Float]],
            minQuality: Double, threshold: Double, checkpointDir: String,
            acc: java.util.concurrent.atomic.AtomicReference[Counts],
            trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    // batchId-guarded accumulation (round-16 ADVICE): a within-process
    // query restart replays the last uncommitted batch, and appendRefined
    // intentionally recomputes its full Counts on the replay (the store
    // appends self-guard) — adding the replayed Counts again would
    // double-count them in `acc`. One add per batch id.
    val lastAccumulated = new java.util.concurrent.atomic.AtomicLong(-1L)
    StreamIngest.foreachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      val c = appendRefined(docsTable, hashStore, spanStore, lexStore,
        embTable, spanIdx, lexIdx, idx, batch, evalIds, evalVecs,
        minQuality, threshold, streamBatchId = Some(batchId))
      if (batchId > lastAccumulated.get()) {
        acc.updateAndGet(_ + c)
        lastAccumulated.set(batchId)
      }
      ()
    }
  }
}
