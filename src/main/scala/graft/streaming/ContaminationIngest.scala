package graft.streaming

import graft.core.VectorTable
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Decontamination-at-ingest: the streaming twin of
  * [[Similarity.semanticContamination]] — every micro-batch drops the
  * vectors that sit at cosine ≥ threshold from ANY eval-set vector before
  * they ever land, the same discipline as [[DedupIngest]] (exact hashes)
  * and [[SemanticDedupIngest]] (within-corpus near-dups) applied to
  * eval-set leakage. The eval set is benchmark-sized by construction and
  * FIXED for the stream's lifetime, so the gate is stateless and MAP-ONLY
  * per batch: eval vectors ride as a literal matrix through the fused
  * CentroidSims kernel, no join, no shuffle, no state store — each batch
  * costs one codegen'd pass regardless of how much history has landed
  * (unlike the dedup gates, contamination is against a static reference,
  * so there is no committed × batch stage at all).
  */
object ContaminationIngest {

  /** The contamination gate's kernel: `batch` (vec_id, embedding, …)
    * minus the rows within the near-dup threshold of an eval vector — one
    * map-only pass of the fused kernel, then an anti-join on `vec_id`.
    */
  def cleanRows(batch: DataFrame, evalIds: Array[Long],
                evalVecs: Array[Array[Float]]): DataFrame = {
    val contaminated = Similarity.semanticContaminationOf(
      batch.select(col("vec_id"), col("embedding")), evalIds, evalVecs)
    batch.join(contaminated.select(col("vec_id")), Seq("vec_id"), "left_anti")
  }

  /** One decontaminated batch append; returns (kept, dropped). */
  def appendClean(table: VectorTable, batch: DataFrame,
                  evalIds: Array[Long], evalVecs: Array[Array[Float]],
                  streamBatchId: Option[Long] = None): (Long, Long) = {
    if (streamBatchId.exists(_ <= table.manifest.streamBatch)) return (0L, 0L)
    val total = batch.count()
    if (total == 0) return (0L, 0L)
    val kept = cleanRows(batch.select(col("vec_id"), col("embedding")), evalIds, evalVecs)
      .localCheckpoint()
    val nKept = kept.count()
    if (nKept > 0) table.append(kept, streamBatchId = streamBatchId)
    (nKept, total - nKept)
  }

  /** Streaming form: every micro-batch lands decontaminated. */
  def start(stream: DataFrame, table: VectorTable,
            evalIds: Array[Long], evalVecs: Array[Array[Float]],
            checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    StreamIngest.foreachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      appendClean(table, batch, evalIds, evalVecs, streamBatchId = Some(batchId)); ()
    }
}
