package graft.streaming

import graft.core.VectorTable
import graft.operators.{IvfTableIndex, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BatchParam
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** SEMANTIC dedup-at-ingest: streaming append that drops a vector when a
  * KEPT vector already semantically covers it (cosine ≥ threshold within
  * the same IVF cell) — [[DedupIngest]]'s discipline lifted from exact
  * content hashes to embedding similarity. The committed corpus is by
  * construction duplicate-free, so each micro-batch only has to look at
  * (a) batch × committed within cells and (b) batch × batch — never
  * committed × committed, which is what makes continuous semantic dedup
  * linear over time instead of re-running a corpus-wide join per drop.
  *
  * Per micro-batch:
  *   1. assign the batch against the index's FIXED build-time centroids
  *      (the same contract as [[graft.operators.IvfTableIndex.refresh]]);
  *   2. one blocked bipartite pass (the shared hot-bucket-safe kernel)
  *      over (committed ∪ batch) × batch per cell scores every candidate
  *      pair once — NaN-explicit, so zero-norm vectors never match;
  *   3. batch vectors covered by a COMMITTED neighbor drop IN-PLAN via a
  *      distributed anti-join — the committed×batch edge stream never
  *      reaches the driver, because a batch landing in a dense region of
  *      a large committed corpus can match arbitrarily many committed
  *      rows (committed pairwise-below-threshold does NOT bound how many
  *      sit ≥ threshold from one new vector in high dimension);
  *   4. the survivors' in-batch edges — micro-batch-bounded after the
  *      exact-vector collapse — run a driver-side GREEDY sweep in vec_id
  *      order when they fit under `smallEdgeLimit` (the same fast-path
  *      stance as [[graft.operators.Dedup]]'s `connectedComponentsOf`);
  *      beyond the gate an iterative local-minima elimination computes
  *      the SAME lexicographically-first MIS distributively;
  *   5. kept rows append; the index refreshes over the appended span.
  *
  * Vectors must arrive in vec_id order across batches (enforced: the
  * batch's min vec_id must exceed the committed max — committed rows can
  * never be retroactively dropped, so out-of-order arrival would silently
  * violate the smaller-id-witness invariant the declared face gates).
  * Under that order the landed set is EXACTLY the greedy
  * (lexicographically-first) maximal independent set of the within-cell
  * similarity graph — the unique set that is (i) independent and (ii)
  * every dropped vector has a kept neighbor with a smaller id. That
  * uniqueness is the declared face's gate: the two properties are
  * measured over the full corpus after the stream lands, and TRUE/TRUE
  * pins the whole set without replaying the sequential sweep in SQL
  * (SemanticIngestSpec additionally pins the landed set against an
  * in-test sequential reference).
  */
object SemanticDedupIngest {

  /** Edge-count gate for the driver-side greedy sweep — same stance as
    * `connectedComponentsOf`'s small-graph fast path: under it a driver
    * sweep finishes in milliseconds; above it the distributed sweep runs.
    */
  val defaultSmallEdgeLimit: Long = 1000000L

  /** PER-TABLE sweep telemetry, keyed by table root (round-16 ADVICE:
    * the former global AtomicLongs interleaved when two streams ingested
    * concurrently in one JVM — per-root scoping makes each stream's
    * numbers its own). `driverEdges`: in-batch survivor edges the last
    * `appendDeduped` on that table collected to the driver (-1 when the
    * distributed path ran). `oversizedComponents`: how many
    * INDIVIDUALLY-oversized components that sweep routed through the
    * round loop (everything else was component-decomposed and
    * driver-swept exactly). Read by the ScaleProbe ingest leg and the
    * stress spec to prove the driver's share is bounded by the batch,
    * not the corpus.
    */
  final case class SweepTelemetry(driverEdges: Long, oversizedComponents: Long)

  private val sweepTelemetry =
    new java.util.concurrent.ConcurrentHashMap[String, SweepTelemetry]()

  def telemetryFor(root: String): SweepTelemetry =
    sweepTelemetry.getOrDefault(root, SweepTelemetry(-1L, -1L))

  private def recordDriverEdges(root: String, n: Long): Unit = {
    sweepTelemetry.compute(root, (_, old) =>
      SweepTelemetry(n, Option(old).map(_.oversizedComponents).getOrElse(-1L)))
    ()
  }

  private def recordOversized(root: String, n: Long): Unit = {
    sweepTelemetry.compute(root, (_, old) =>
      SweepTelemetry(Option(old).map(_.driverEdges).getOrElse(-1L), n))
    ()
  }

  /** One semantically-gated batch append; returns (kept, dropped). */
  def appendDeduped(table: VectorTable, idx: java.util.concurrent.atomic.AtomicReference[IvfTableIndex],
                    batch: DataFrame, threshold: Double,
                    streamBatchId: Option[Long] = None,
                    smallEdgeLimit: Long = defaultSmallEdgeLimit): (Long, Long) = {
    if (streamBatchId.exists(_ <= table.manifest.streamBatch)) return (0L, 0L)
    val spark = batch.sparkSession
    import spark.implicits._
    val stats = batch.agg(count(lit(1)), min(col("vec_id"))).head()
    val total = stats.getLong(0)
    if (total == 0) return (0L, 0L)
    val cur = idx.get()
    // the greedy-MIS contract (scaladoc above) needs committed ids below
    // batch ids
    val committedMax = StreamIngest.requireOrderedArrival("semantic", cur.data,
      "vec_id", stats.getLong(1))
    val sims = Similarity.centroidSimsColumn(cur.centroids)
    val assignedAll = batch.select(col("vec_id"), col("embedding"))
      .withColumn("sims", sims)
      .withColumn("cell",
        (array_position(col("sims"), array_max(col("sims"))) - 1).cast("int"))
      .select(col("vec_id"), col("embedding"), col("cell"))
      .localCheckpoint()

    // BATCH-LEVEL EXACT-VECTOR COLLAPSE (the shared round-11..13
    // discipline): a boilerplate drop — thousands of copies of one
    // vector — would otherwise put C(n,2) in-batch edges through the
    // driver sweep. Identical non-zero vectors can never BOTH be kept
    // (cosine ≈ 1 ≥ any dedup threshold), and a non-rep twin is always
    // suppressed by its min-id rep when the rep is kept, or by whatever
    // smaller kept vector covered the rep when it is not — so the greedy
    // result over reps EXTENDS to members as "never kept", exactly the
    // sequential semantics (SemanticIngestSpec pins a clique batch).
    // Zero-norm vectors have no neighbors at all (NaN cosine): every one
    // of them is kept unconditionally, bypassing the sweep. The grouping
    // key is the shared two-family fingerprint (Dedup.fpKeyed) — not a
    // single md5, where a false collision would silently DROP a distinct
    // vector rather than merely degrade a plan choice.
    val nz = assignedAll.where(
      expr("aggregate(embedding, 0.0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))") > lit(0.0))
    val zeroKept = assignedAll.select(col("vec_id"))
      .exceptAll(nz.select(col("vec_id")))
    val assigned = nz
      .join(
        graft.operators.Dedup.fpKeyedFor(
            nz.select(col("vec_id").as("doc_id"), col("embedding")), col("embedding"))
          .withColumn("rep", min(col("doc_id")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("f1"), col("f2"))))
          .where(col("doc_id") === col("rep"))
          .select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("embedding"), col("cell"))
      .localCheckpoint()

    // one blocked bipartite pass: (committed ∪ batch) × batch, per cell
    val committed = cur.data.select(col("vec_id"), col("embedding"), col("cell"))
    val pool = committed.unionByName(assigned)
    val cand = graft.operators.Dedup.deltaPairsBlockedFor(
      pool.select(col("cell"), col("vec_id").as("doc_id")),
      assigned.select(col("cell"), col("vec_id").as("doc_id")), Seq("cell"))
    val emb = pool.select(col("vec_id"), col("embedding"))
    val edges = cand
      .join(emb.select(col("vec_id").as("doc_a"), col("embedding").as("ea")), Seq("doc_a"))
      .join(emb.select(col("vec_id").as("doc_b"), col("embedding").as("eb")), Seq("doc_b"))
      .withColumn("sim", graft.functions.VectorFunctions.cosineF(col("ea"), col("eb")))
      .where(!isnan(col("sim")) && col("sim") >= threshold)
      .select("doc_a", "doc_b")
      .localCheckpoint()

    // 3 (in-plan): every pair has >= 1 batch member (the kernel's delta
    // side is the batch), and committed ids sit below batch ids, so a
    // mixed pair always has doc_a committed — the covered set is one
    // distributed filter + distinct, bounded by the BATCH even when a
    // dense cell matches each batch vector against thousands of
    // committed rows.
    val covered = edges.where(col("doc_a") <= BatchParam(committedMax))
      .select(col("doc_b").as("vec_id")).distinct()
      .localCheckpoint()

    // 4: greedy sweep over the in-batch survivor graph. Survivor edges
    // are micro-batch-bounded (both endpoints are batch reps), so the
    // driver fast path is the common case; the gate + distributed
    // fallback keep a pathological batch from becoming the repo's one
    // ungated driver collect.
    val inBatchEdges = edges.where(col("doc_a") > BatchParam(committedMax))
      .join(covered.select(col("vec_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .join(covered.select(col("vec_id").as("doc_b")), Seq("doc_b"), "left_anti")
      .select(col("doc_a"), col("doc_b")) // joins move key columns first
      .localCheckpoint()
    val nSurvivorEdges = inBatchEdges.count()
    val droppedSweep: DataFrame =
      if (nSurvivorEdges <= smallEdgeLimit) {
        recordDriverEdges(table.root, nSurvivorEdges)
        val pairs = inBatchEdges.collect().map(r => (r.getLong(0), r.getLong(1)))
        greedySweepDropped(pairs).toDF("vec_id")
      } else {
        recordDriverEdges(table.root, -1L)
        distributedGreedyDropped(inBatchEdges, smallEdgeLimit,
          telemetryRoot = table.root)
      }

    val keptIds = assigned.select(col("vec_id"))
      .join(covered, Seq("vec_id"), "left_anti")
      .join(droppedSweep, Seq("vec_id"), "left_anti")
      .unionByName(zeroKept)
    val keptRows = assignedAll.join(keptIds, Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    val nKept = keptRows.count()
    if (nKept > 0) {
      table.append(keptRows, streamBatchId = streamBatchId)
      idx.set(idx.get().refresh(table))
    }
    // automatic threshold maintenance (graft.operators.Maintenance); the
    // IVF layout is hive-partitioned, so the trigger is files-per-cell
    graft.operators.Maintenance.maintainTable(table)
    graft.operators.Maintenance.maintainPartitionedIndex(idx.get().root,
      () => { idx.get().compact(); () })
    (nKept, total - nKept)
  }

  /** The exact sequential greedy (lexicographically-first MIS) over an
    * in-memory (doc_a < doc_b) pair list; returns the DROPPED ids. Shared
    * by the whole-batch fast path and the per-component sweeps below.
    */
  private[streaming] def greedySweepDropped(pairs: Array[(Long, Long)]): Seq[Long] = {
    val neighbors = pairs.foldLeft(Map.empty[Long, List[Long]].withDefaultValue(Nil)) {
      case (m, (a, b)) => m.updated(a, b :: m(a)).updated(b, a :: m(b))
    }
    val kept = scala.collection.mutable.Set.empty[Long]
    val dropped = scala.collection.mutable.ArrayBuffer.empty[Long]
    neighbors.keys.toSeq.sorted.foreach { v =>
      if (neighbors(v).exists(u => u < v && kept(u))) dropped += v else kept += v
    }
    dropped.toSeq
  }

  /** Distributed lexicographically-first MIS over a (doc_a < doc_b) edge
    * list; returns the DROPPED node ids.
    *
    * SHAPE-AWARE ROUTING (round 15 — the round-14 verdict's one latent
    * worst case): exact greedy verdicts never cross connected components,
    * and the survivor graph's components are cell-bounded by
    * construction, so a >`smallEdgeLimit` batch is usually MANY
    * driver-size components rather than one huge sequential problem. The
    * graph is therefore component-decomposed first (the shared
    * pointer-jumping CC), small components are packed into
    * ≤`smallEdgeLimit`-edge groups and swept exactly on the driver
    * (bounded memory per collect, one job per group), and only a
    * component that is INDIVIDUALLY oversized runs the local-minima
    * round loop — whose worst case is O(chain length) rounds, inherent
    * to exact lexicographically-first MIS (each round keeps nodes never
    * on a doc_b side, drops their neighbors, recurses; induction on
    * vec_id shows this equals the sequential sweep). A realistic round
    * cap (10³, down from the round-14 2²⁰ effective-hang) throws with
    * diagnostics instead of grinding: a ≥1000-round component is a
    * pathological near-dup chain the pipeline owner must see, not a
    * workload to silently burn a cluster on.
    */
  private[streaming] def distributedGreedyDropped(
      edgesIn: DataFrame,
      smallEdgeLimit: Long = defaultSmallEdgeLimit,
      telemetryRoot: String = ""): DataFrame = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    // select BY NAME — the (doc_a < doc_b) orientation carries the greedy
    // semantics, and a positional rename after an upstream join (which
    // moves key columns first) would silently invert the graph
    val edges = edgesIn.select(col("doc_a"), col("doc_b")).localCheckpoint()
    val labels = graft.operators.Dedup.connectedComponentsFor(edges, smallEdgeLimit)
    val labeled = edges
      .join(labels.select(col("id").as("doc_a"), col("cluster_id")), Seq("doc_a"))
      .localCheckpoint()
    val sizes = labeled.groupBy("cluster_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))

    val droppedParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    // small components: pack into <= smallEdgeLimit-edge driver groups
    val small = sizes.filter(_._2 <= smallEdgeLimit)
    if (small.nonEmpty) {
      val groupOf = scala.collection.mutable.Map.empty[Long, Int]
      var group = 0; var acc = 0L
      small.sortBy(_._1).foreach { case (lbl, n) =>
        if (acc + n > smallEdgeLimit && acc > 0) { group += 1; acc = 0L }
        groupOf(lbl) = group; acc += n
      }
      val groupDf = groupOf.toSeq.toDF("cluster_id", "grp")
      val withGroup = labeled.join(groupDf, Seq("cluster_id")).localCheckpoint()
      (0 to group).foreach { g =>
        val pairs = withGroup.where(col("grp") === BatchParam(g))
          .select(col("doc_a"), col("doc_b"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        droppedParts += greedySweepDropped(pairs).toDF("vec_id")
      }
    }

    // oversized components: the round loop, each alone, capped
    val oversized = sizes.filter(_._2 > smallEdgeLimit)
    recordOversized(telemetryRoot, oversized.length.toLong)
    oversized.foreach { case (lbl, n) =>
      droppedParts += roundLoopDropped(
        labeled.where(col("cluster_id") === BatchParam(lbl)).select(col("doc_a"), col("doc_b")),
        componentLabel = lbl, componentEdges = n)
    }

    droppedParts.reduceOption(_ unionByName _)
      .getOrElse(Seq.empty[Long].toDF("vec_id"))
  }

  /** The local-minima elimination round loop over ONE oversized component.
    * Every round strictly shrinks the graph (the global minimum is always
    * a local minimum); exhausting the cap means a ≥`maxRounds`-deep
    * near-dup chain — throw with enough diagnostics to find it.
    */
  private[streaming] def roundLoopDropped(component: DataFrame, componentLabel: Long,
                                          componentEdges: Long,
                                          maxRounds: Int = 1000): DataFrame = {
    val spark = component.sparkSession
    import spark.implicits._
    var edges = component.localCheckpoint()
    var remaining = edges.count()
    var droppedAcc = Seq.empty[Long].toDF("vec_id").localCheckpoint()
    var rounds = 0
    while (remaining > 0 && rounds < maxRounds) {
      val keptRound = edges.select(col("doc_a").as("vec_id"))
        .join(edges.select(col("doc_b").as("vec_id")), Seq("vec_id"), "left_anti")
        .distinct()
      val droppedRound = edges
        .join(keptRound.select(col("vec_id").as("doc_a")), Seq("doc_a"), "left_semi")
        .select(col("doc_b").as("vec_id")).distinct()
        .localCheckpoint()
      droppedAcc = droppedAcc.unionByName(droppedRound).localCheckpoint()
      edges = edges
        .join(droppedRound.select(col("vec_id").as("doc_a")), Seq("doc_a"), "left_anti")
        .join(droppedRound.select(col("vec_id").as("doc_b")), Seq("doc_b"), "left_anti")
        .localCheckpoint()
      remaining = edges.count()
      rounds += 1
    }
    if (remaining > 0)
      throw new IllegalStateException(
        s"semantic ingest greedy sweep: component $componentLabel " +
          s"($componentEdges edges) still has $remaining edges after " +
          s"$maxRounds rounds — a pathological near-dup chain; raise the " +
          s"threshold, shrink the batch, or curate the source")
    droppedAcc
  }

  /** Streaming form: every micro-batch lands semantically deduplicated
    * against the committed history plus itself.
    */
  def start(stream: DataFrame, table: VectorTable,
            idx: java.util.concurrent.atomic.AtomicReference[IvfTableIndex],
            threshold: Double, checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    StreamIngest.foreachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      appendDeduped(table, idx, batch, threshold, streamBatchId = Some(batchId)); ()
    }
}
