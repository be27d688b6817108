package graft.streaming

import graft.core.{Fs, VectorTable}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, max}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming ingestion into a [[VectorTable]] — the reference's
  * write-behind pipeline (unbounded producer → bounded buffer → threshold/
  * time-triggered flush → append-only log, src/cache/writable_cache.rs:78-95)
  * expressed as `writeStream.foreachBatch`:
  *
  *  - each micro-batch is one `VectorTable.append` → one parquet batch dir +
  *    one manifest commit, so rowids stay dense in arrival order and the
  *    committed table is readable (with `len()` in O(1)) between batches —
  *    the reference's "reads see flushed data immediately" contract;
  *  - the trigger interval plays the role of the 10 ms flush poll
  *    (writable_cache.rs:94); size-based flushing is the micro-batch size;
  *  - foreachBatch alone is only at-least-once (a crash after the append but
  *    before the checkpoint commit replays the micro-batch), so the append
  *    records the stream batch id in the table manifest and replayed batches
  *    are skipped — making the sink idempotent and the pipeline effectively
  *    exactly-once, strictly stronger than the reference's flush-on-drop
  *    durability (writable_cache.rs:162-185).
  *
  * At scale this is the standard high-throughput ingest shape: the stream is
  * partitioned upstream (e.g. by Kafka partition); per-batch rowid assignment
  * is zipWithIndex over the batch's partitions, so no global bottleneck
  * beyond the (reference-equivalent) serialized manifest commit.
  */
object StreamIngest {

  /** Start ingesting a streaming DataFrame into `table`. The input must not
    * already carry `_rowid` (assigned here, dense, in arrival order).
    *
    * `compactEvery` > 0 folds small-files maintenance into the ingest
    * loop: every N applied micro-batches the table is compacted
    * (rowid-preserving), so a long-running stream doesn't degrade scan
    * and pruning performance under thousands of tiny batch dirs — the
    * auto-optimize behavior a production ingest pipeline needs.
    * Compaction commits don't advance the recorded stream batch id, so
    * replay idempotency is unaffected.
    *
    * `onBatch` runs at the END of every micro-batch, after the append,
    * optional compaction and view refreshes — the hook for maintaining
    * derived state that lives OUTSIDE the table (e.g. an incremental
    * [[graft.operators.LshIndex]] brought up to the new head per batch).
    * Like view refreshes it must be idempotent against replays (a
    * span-based index refresh is: a replayed batch leaves the head
    * unchanged, so the refresh is a no-op).
    */
  def start(
      stream: DataFrame,
      table: VectorTable,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      compactEvery: Int = 0,
      maintainViews: Seq[graft.core.MaterializedAggView] = Nil,
      onBatch: (VectorTable, Long) => Unit = (_, _) => ()
  ): StreamingQuery =
    foreachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      if (!batch.isEmpty) { table.append(batch, streamBatchId = Some(batchId)); () }
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0 &&
        table.manifest.batches.size > 1) { table.compact(); () }
      // automatic threshold maintenance (round 16): merge the
      // small-batch tail when it exceeds policy — O(tail), never the
      // O(table) full rewrite, so it is safe to leave ON for every
      // long-running ingest (graft.operators.Maintenance)
      graft.operators.Maintenance.maintainTable(table)
      // Streaming IVM: bring maintained rollups up to the new head inside
      // the micro-batch loop. refresh() is a basis-version no-op for
      // replayed batches (idempotent append → unchanged head), so the
      // views inherit the ingest's effective exactly-once semantics;
      // each refresh costs O(batch + |view|), never a base rescan.
      maintainViews.foreach(_.refresh())
      onBatch(table, batchId)
    }

  /** The one micro-batch driver every ingest gate starts: an append-mode
    * query on `trigger`, checkpointed under `checkpointDir`, that hands
    * each micro-batch and its stream batch id to `body`.
    */
  def foreachBatch(stream: DataFrame, checkpointDir: String, trigger: Trigger)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(body)
      .start()

  /** The ordered-arrival check of the gates whose verdicts read a
    * committed-before-this-batch view: the batch's smallest `idCol` must
    * exceed every committed one (committed rows are never dropped
    * retroactively, so an earlier id arriving late would break the
    * smaller-id-side invariant the gate's replay relies on). Returns the
    * committed max, -1 when `committed` is empty; parquet column stats
    * make it a footer-cheap agg.
    */
  def requireOrderedArrival(gate: String, committed: DataFrame, idCol: String,
                            batchMin: Long): Long = {
    val committedMax = committed.agg(coalesce(max(col(idCol)), lit(-1L)))
      .head().getLong(0)
    require(batchMin > committedMax,
      s"$gate ingest requires id-ordered arrival: batch min $idCol " +
        s"$batchMin <= committed max $committedMax")
    committedMax
  }

  /** Stage `df` for a one-file-per-micro-batch replay: ids [0, `maxId`]
    * of `idCol` are cut into four sequential ranges, each written as ONE
    * id-sorted parquet file `dir/staging/fNN.parquet` — read back with
    * `maxFilesPerTrigger = 1`, the ranges arrive as four batches in id
    * order.
    */
  def stageIdSpans(df: DataFrame, idCol: String, maxId: Long, dir: Path): Unit = {
    val staging = dir.resolve("staging")
    Files.createDirectories(staging)
    (0 until 4).foreach { i =>
      val lo = (maxId + 1) * i / 4
      val hi = (maxId + 1) * (i + 1) / 4
      val stage = dir.resolve(s"stage$i")
      df.where(col(idCol) >= lo && col(idCol) < hi)
        .coalesce(1).sortWithinPartitions(idCol)
        .write.parquet(stage.toString)
      val part = Fs.list(stage).find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalArgumentException(s"stage $i produced no parquet file"))
      Files.move(part, staging.resolve(f"f$i%02d.parquet"))
    }
  }

  /** Replay `dir/staging` one parquet file per micro-batch through the
    * query `start` builds on the stream, and wait until every staged file
    * has landed.
    */
  def replayStaged(s: SparkSession, schema: StructType, dir: Path)(
      start: (DataFrame, Trigger) => StreamingQuery): Unit =
    start(s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/staging"), Trigger.AvailableNow()).awaitTermination()
}
