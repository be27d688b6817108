package graft.streaming

import graft.core.VectorTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Dedup-at-ingest: streaming append that drops records whose content is
  * already committed — the incremental form of exact dedup, fused into the
  * write path (a training-data pipeline ingests continuously; re-running
  * corpus-wide dedup per batch would be quadratic over time).
  *
  * Per micro-batch:
  *   1. in-batch exact dedup on the content hash;
  *   2. Bloom pre-filter against the committed corpus (driver-built from
  *      the table's hash column; false positives possible, false negatives
  *      impossible — so it only ever *shrinks* the exact check);
  *   3. exact anti-join of the surviving candidates against committed
  *      hashes (correctness; at scale this side is bucketed on the hash);
  *   4. append the novel rows.
  *
  * The bloom filter bounds the expensive exact join to the tiny
  * maybe-duplicate slice: with fpp=1%, 99% of truly-novel rows skip the
  * join entirely.
  */
object DedupIngest {

  val HashCol = "_content_hash"

  /** Content hash over `keyCols`: md5 of the field-separated concatenation.
    * The U+0001 separator keeps the key unambiguous — with no separator,
    * ("ab","c") and ("a","bc") would hash identically and distinct records
    * would be silently dropped as duplicates at ingest. NULL encodes as
    * U+0000, distinct from the separator and from any empty string.
    */
  private def withHash(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.withColumn(HashCol,
      md5(concat_ws("\u0001", keyCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)))

  /** One deduplicated batch append; returns (novel, dropped) counts.
    * With `streamBatchId`, a replayed micro-batch (foreachBatch is
    * at-least-once) is skipped entirely — see [[VectorTable.append]].
    */
  def appendDeduped(table: VectorTable, batch: DataFrame, keyCols: Seq[String],
                    expectedItems: Long = 1000000L, fpp: Double = 0.01,
                    streamBatchId: Option[Long] = None): (Long, Long) = {
    if (streamBatchId.exists(_ <= table.manifest.streamBatch)) return (0L, 0L)
    val total = batch.count()
    if (total == 0) return (0L, 0L)
    val hashed = withHash(batch, keyCols).dropDuplicates(HashCol)

    val novel =
      if (table.length == 0L) hashed
      else {
        val committedHashes = withHash(table.scan(), keyCols).select(HashCol)
        val bloom = committedHashes.stat.bloomFilter(HashCol, math.max(expectedItems, table.length), fpp)
        val bloomB = table.spark.sparkContext.broadcast(bloom)
        val mightContain = udf((h: String) => bloomB.value.mightContainString(h))
        val definitelyNovel = hashed.where(!mightContain(col(HashCol)))
        val maybeDup = hashed.where(mightContain(col(HashCol)))
        // exact check only for the bloom-positive slice
        val confirmedNovel = maybeDup.join(committedHashes, Seq(HashCol), "left_anti")
        definitelyNovel.unionByName(confirmedNovel)
      }

    val novelClean = novel.drop(HashCol)
    val appended = if (novelClean.isEmpty) 0L else {
      table.append(novelClean, streamBatchId = streamBatchId)
      table.length
    }
    val novelCount = if (appended == 0L) 0L else {
      val m = table.manifest
      m.batches.last.end - m.batches.last.start
    }
    // automatic threshold maintenance (graft.operators.Maintenance)
    graft.operators.Maintenance.maintainTable(table)
    (novelCount, total - novelCount)
  }

  /** Streaming form: every micro-batch lands deduplicated against the
    * whole committed history plus itself.
    */
  def start(stream: DataFrame, table: VectorTable, keyCols: Seq[String],
            checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    StreamIngest.foreachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      appendDeduped(table, batch, keyCols, streamBatchId = Some(batchId)); ()
    }
}
