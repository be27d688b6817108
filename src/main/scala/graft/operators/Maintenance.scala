package graft.operators

import graft.core.VectorTable

/** AUTOMATIC maintenance policy (round 16) — the round-15 verdict's
  * missing piece #2: compaction existed everywhere (per-index `compact()`,
  * [[IndexCompaction]], table [[VectorTable.compact]]) but nothing
  * TRIGGERED it, so a continuously-fed refinery accumulated one file per
  * batch per index until an operator intervened. This object is the
  * trigger: cheap threshold checks (file counts from directory walks — no
  * Spark job) that the streaming ingest paths run at the end of every
  * micro-batch, firing the existing compaction ops only when fragmentation
  * exceeds policy.
  *
  * Policy knobs (env-tunable, the [[graft.core.BufferedVectorStore]]
  * capacity convention):
  *   - `GRAFT_MAINT_FILE_FACTOR` (default 8): an index compacts when its
  *     live file count exceeds factor × the byte-sized target
  *     ([[IndexCompaction.targetFiles]]); a hive-partitioned (IVF) layout
  *     when any partition dir holds more than factor files; a table's
  *     small-batch tail merges when longer than factor batches
  *     ([[VectorTable.compactTail]] — the O(tail) log-structured merge,
  *     never the O(table) full rewrite).
  *
  * Scale shape: the CHECK is O(file count) metadata per batch; the fired
  * work is the existing byte-sized compaction, amortized O(n log n) over
  * the table's life. Factor 8 keeps probe tax bounded (~20% was measured
  * at 8 files/cell on the IVF layout, PLANS.md "Compaction pricing")
  * while letting micro-batches accumulate enough to be worth one rewrite.
  *
  * DELIBERATELY NOT automated here: [[VectorTable.purge]]. Purge resets
  * the delete-vector, and the mask is the signal every dependent index's
  * refresh consumes to invalidate affected entries — an auto-fired purge
  * racing an index that has not refreshed yet would erase the signal and
  * leave stale index rows serving deleted docs forever. Erasure therefore
  * belongs to the composed takedown ([[Takedown.everywhere]]), which
  * sequences mask → every index refresh → purge explicitly.
  */
object Maintenance {

  val fileFactor: Long =
    sys.env.getOrElse("GRAFT_MAINT_FILE_FACTOR", "8").toLong

  /** True iff the flat index layout at `root` exceeds policy. */
  def indexFragmented(root: String): Boolean =
    IndexCompaction.liveFileCount(root) >
      fileFactor * IndexCompaction.targetFiles(root)

  /** True iff the hive-partitioned layout at `root` exceeds policy
    * (files-per-partition is the probe cost there, not total files).
    */
  def partitionedFragmented(root: String): Boolean =
    IndexCompaction.maxFilesPerLeafDir(root) > fileFactor

  /** End-of-batch maintenance for one table: merge its small-batch tail
    * when longer than policy. Returns true iff work ran.
    */
  def maintainTable(t: VectorTable,
                    targetRowsPerFile: Long = 4_000_000L): Boolean =
    t.compactTail(targetRowsPerFile, maxTailBatches = fileFactor.toInt)

  /** End-of-batch maintenance for a flat-layout index: fire its compact()
    * when fragmented past policy. Returns true iff work ran.
    */
  def maintainIndex(root: String, compact: () => Unit): Boolean =
    if (indexFragmented(root)) { compact(); true } else false

  /** End-of-batch maintenance for a partitioned-layout (IVF) index. */
  def maintainPartitionedIndex(root: String, compact: () => Unit): Boolean =
    if (partitionedFragmented(root)) { compact(); true } else false
}
