package graft.streaming

import graft.core.VectorTable
import graft.operators.{Dedup, SpanIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** SPAN-COVERAGE dedup-at-ingest — the exact-substring modality's gate,
  * completing the per-modality ingest family (exact hashes → within-corpus
  * near-dups → eval leakage → repeated spans): a batch document whose
  * rolling-hash windows are ≥ [[Dedup.spanScrubMaxPermille]]‰ covered by
  * spans of ALREADY-LANDED documents is boilerplate recombination and is
  * dropped before it lands; survivors land and the [[SpanIndex]] refreshes
  * (only the appended span is rolling-hashed).
  *
  * Coverage is measured against the COMMITTED index only — batch docs
  * never charge each other (in-batch exact duplication is the exact
  * gate's job upstream, and in-batch near-boilerplate lands once and
  * gates every later batch). That choice is what makes the gate a PURE
  * function of (batch, landed-so-far): with deterministic batch
  * boundaries the whole multi-batch landing replays in SQL stage by
  * stage, so the declared face's oracle verifies the landed SET exactly —
  * the strongest gate contract in the ingest family (the semantic gate
  * can only be characterization-pinned).
  *
  * Scale shape per batch: one map-only rolling-hash pass over the batch,
  * one hash-keyed semi-join against stored distinct span hashes, one
  * doc_id agg — no pair stage, no driver collect, never committed ×
  * committed.
  */
object SpanScrubIngest {

  /** The span gate's kernel: the `doc_id`s of `batch` (doc_id, text)
    * whose rolling-hash windows are under `maxPermille`‰ covered by the
    * `gram_hash` rows of `committed` — the caller's committed view. A doc
    * with no window is kept.
    */
  def keptIds(batch: DataFrame, committed: DataFrame, maxPermille: Long): DataFrame = {
    val wins = batch.select(col("doc_id"),
      explode_outer(graft.functions.TextFunctions.rollingHashes(
        col("text"), Dedup.repeatedSpanWindow, Dedup.repeatedSpanStride)).as("gram_hash"))
    val covered = wins.where(col("gram_hash").isNotNull)
      .join(committed.select("gram_hash").distinct(), Seq("gram_hash"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    wins
      .groupBy("doc_id")
      .agg(sum(when(col("gram_hash").isNotNull, 1L).otherwise(0L)).as("n_windows"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
      .where(col("n_windows") === 0L || expr("1000 * n_dup DIV n_windows") < maxPermille)
      .select("doc_id")
  }

  /** One span-gated batch append; returns (kept, dropped). */
  def appendScrubbed(table: VectorTable,
                     idx: java.util.concurrent.atomic.AtomicReference[SpanIndex],
                     batch: DataFrame, maxPermille: Long,
                     streamBatchId: Option[Long] = None): (Long, Long) = {
    if (streamBatchId.exists(_ <= table.manifest.streamBatch)) return (0L, 0L)
    val total = batch.count()
    if (total == 0) return (0L, 0L)
    val keptRows = batch
      .join(keptIds(batch, idx.get().windows, maxPermille), Seq("doc_id"), "left_semi")
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

  /** Streaming form: every micro-batch lands span-gated against the
    * committed corpus.
    */
  def start(stream: DataFrame, table: VectorTable,
            idx: java.util.concurrent.atomic.AtomicReference[SpanIndex],
            maxPermille: Long, checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    StreamIngest.foreachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      appendScrubbed(table, idx, batch, maxPermille, streamBatchId = Some(batchId)); ()
    }
}
