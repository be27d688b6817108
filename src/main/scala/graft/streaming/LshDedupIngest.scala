package graft.streaming

import graft.core.VectorTable
import graft.operators.{Dedup, LshIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** LEXICAL (MinHash-LSH) dedup-at-ingest — the most-used near-dup modality
  * in production text pipelines finally gets its drop-before-landing gate,
  * completing the per-modality ingest family (exact hashes → repeated
  * spans → eval leakage → semantic → lexical): a batch document is dropped
  * at the write path when banding it against the committed [[LshIndex]]
  * yields a candidate that VERIFIES as a Jaccard near-dup (≥ 1/2 over
  * distinct shingle-hash sets — the same threshold and arithmetic as
  * [[graft.operators.Dedup.jaccardVerifiedPairs]]); survivors land and the
  * index refreshes (only the appended span is signature-hashed).
  *
  * Near-dups are measured against the COMMITTED index only — batch docs
  * never charge each other (in-batch exact duplication is the exact gate's
  * job upstream; in-batch near-dups land once and gate every later batch).
  * That makes the gate a PURE function of (batch, landed-so-far), the same
  * contract as [[SpanScrubIngest]]: with deterministic batch boundaries
  * the whole multi-batch landing replays in SQL stage by stage, so the
  * declared face's oracle value-verifies the landed SET exactly —
  * signatures, banding and verification are all deterministic, and ids
  * arrive ordered (enforced below), so every checked pair has the
  * committed doc on the smaller-id side.
  *
  * Scale shape per batch: one map-only signature pass over the batch, one
  * hot-bucket-capped bipartite banding join against stored band rows
  * (never committed × committed — the blocked
  * [[graft.operators.Dedup.deltaPairsBlocked]] kernel), and Jaccard
  * verification sized to the CANDIDATES: only docs appearing in some
  * candidate pair get their shingle sets computed, with the committed
  * side's text pruned by a semi-join before the shingle kernel runs.
  */
object LshDedupIngest {

  /** Verification threshold — numerator/denominator of the Jaccard gate,
    * kept integer so the landed-set contract has no float boundary beyond
    * the (identically computed) division both engines share with
    * `jaccardVerifiedPairs`.
    */
  val tau: Double = 0.5

  /** The lexical gate's kernel: the `doc_id`s of `batch` (doc_id, text)
    * that band against `committedBands` — the caller's committed view of
    * the [[LshIndex]] band rows — and Jaccard-verify ≥ [[tau]] against
    * that committed doc's text in `committed`.
    *
    * Bipartite banding: committed bands × batch bands only, blocked per
    * bucket (a boilerplate batch cannot quadratically expand a hot
    * bucket); least/greatest canonicalization + id order ⇒ doc_a is
    * always the committed doc, doc_b the batch doc. Only docs in some
    * candidate pair get their shingle sets computed.
    */
  def droppedIds(batch: DataFrame, committedBands: DataFrame,
                 committed: VectorTable): DataFrame = {
    val cand = Dedup.deltaPairsBlocked(
      committedBands.select(col("band"), col("h1"), col("h2"), col("doc_id")),
      Dedup.bandRowsOf(batch).select(col("band"), col("h1"), col("h2"), col("doc_id")),
      Seq("band", "h1", "h2")).localCheckpoint()
    val shB = batch
      .join(cand.select(col("doc_b").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingleHashes(col("text")).as("sh"))
    // an EMPTY landed table carries no data columns yet (batch 0) — the
    // committed side is then the typed empty frame, same as its band rows
    val committedDocs =
      if (committed.length == 0L) batch.limit(0)
      else committed.scan().select(col("doc_id"), col("text"))
    val shA = committedDocs
      .join(cand.select(col("doc_a").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingleHashes(col("text")).as("sh"))
    cand
      .join(shA.select(col("doc_id").as("doc_a"), col("sh").as("sa")), Seq("doc_a"))
      .join(shB.select(col("doc_id").as("doc_b"), col("sh").as("sb")), Seq("doc_b"))
      .withColumn("inter", graft.functions.TextFunctions
        .sortedIntersectCount(col("sa"), col("sb")))
      .withColumn("uni", expr("size(sa) + size(sb) - inter"))
      // NaN (two empty shingle sets) fails the >= — an undefined Jaccard
      // is no evidence of duplication, same stance as jaccardVerifiedPairs
      .where(col("inter").cast("double") / col("uni").cast("double") >= tau)
      .select(col("doc_b").as("doc_id")).distinct()
  }

  /** One lexically-gated batch append; returns (kept, dropped). */
  def appendGated(table: VectorTable,
                  idx: java.util.concurrent.atomic.AtomicReference[LshIndex],
                  batch: DataFrame,
                  streamBatchId: Option[Long] = None): (Long, Long) = {
    if (streamBatchId.exists(_ <= table.manifest.streamBatch)) return (0L, 0L)
    val stats = batch.agg(count(lit(1)), min(col("doc_id"))).head()
    val total = stats.getLong(0)
    if (total == 0) return (0L, 0L)
    // ordered arrival keeps the committed doc on every pair's smaller-id
    // side — what lets the oracle replay the recurrence with one
    // direction-free join
    if (table.length > 0L)
      StreamIngest.requireOrderedArrival("lsh", table.scan(), "doc_id", stats.getLong(1))
    val b = batch.select(col("doc_id"), col("text")).localCheckpoint()
    val keptRows = batch
      .join(droppedIds(b, idx.get().bands, table), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val nKept = keptRows.count()
    if (nKept > 0) {
      table.append(keptRows, streamBatchId = streamBatchId)
      idx.set(idx.get().refresh(table))
    }
    // automatic threshold maintenance (graft.operators.Maintenance)
    graft.operators.Maintenance.maintainTable(table)
    graft.operators.Maintenance.maintainIndex(idx.get().root,
      () => { idx.get().compact(); () })
    (nKept, total - nKept)
  }

  /** Streaming form: every micro-batch lands lexically deduplicated
    * against the committed corpus.
    */
  def start(stream: DataFrame, table: VectorTable,
            idx: java.util.concurrent.atomic.AtomicReference[LshIndex],
            checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    StreamIngest.foreachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      appendGated(table, idx, batch, streamBatchId = Some(batchId)); ()
    }
}
