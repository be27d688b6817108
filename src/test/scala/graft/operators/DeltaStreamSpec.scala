package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** `dedup_delta_candidates_streamed` composes the two production pieces of
  * continuous-ingest near-dup maintenance: the delta arrives as a STREAM
  * (one micro-batch per staged file) and the [[LshIndex]] is refreshed
  * inside the micro-batch loop via [[graft.streaming.StreamIngest]]'s
  * `onBatch` hook. Three pins:
  *
  *  1. EQUIVALENCE — the stream-maintained index serves exactly the pairs
  *     the batch two-stage index serves (the oracle separately proves both
  *     against a full recompute);
  *  2. INCREMENTALITY — on a crafted corpus the hook fires once per
  *     non-empty micro-batch and each refresh indexes only the appended
  *     span, ending band-row-identical to a from-scratch build;
  *  3. PLAN — the declared query reads ONLY the streamed index's stored
  *     band parquet (no documents scan, no text), same structural claim as
  *     the batch face.
  */
class DeltaStreamSpec extends SparkSpec {

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("streamed-index delta candidates ≡ batch-index delta candidates") {
    val batch = pairSet(Dedup.deltaCandidatePairs(spark, sf()))
    val streamed = pairSet(Dedup.deltaCandidatePairsStreamed(spark, sf()))
    assert(streamed.nonEmpty, "expected delta-touching pairs at sf0.001")
    assert(streamed == batch,
      s"streamed index diverges: extra=${(streamed diff batch).take(5)} " +
        s"missing=${(batch diff streamed).take(5)}")
  }

  test("per-micro-batch refresh is incremental and lossless on a crafted corpus") {
    import spark.implicits._
    val dir = tmpDir("delta-stream-spec")
    // 24 base + 12 delta docs; repeated token blocks give real shingle overlap
    val mk = (i: Long) => (i, (0 until 8).map(j => s"tok${(i / 3 + j) % 10}").mkString(" "))
    val base = (0L until 24L).map(mk)
    val delta = (24L until 36L).map(mk)
    val t = graft.core.VectorTable.create(spark, s"$dir/table")
    t.append(base.toDF("doc_id", "text"))
    val idx = new java.util.concurrent.atomic.AtomicReference(
      LshIndex.build(t, s"$dir/index"))
    val refreshes = new java.util.concurrent.atomic.AtomicInteger(0)
    delta.toDF("doc_id", "text").repartition(3).write.parquet(s"$dir/staging")
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING"))
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/staging")
    val q = graft.streaming.StreamIngest.start(stream, t, s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      onBatch = (tab, _) => {
        val cur = idx.get()
        val next = cur.refresh(tab)
        if (next ne cur) { idx.set(next); refreshes.incrementAndGet(); () }
      })
    q.awaitTermination()
    assert(refreshes.get() >= 2,
      s"expected ≥2 incremental refreshes (one per non-empty micro-batch), got ${refreshes.get()}")
    val all = (base ++ delta).toDF("doc_id", "text")
    val expect = Dedup.bandsOf(Dedup.signaturesOf(all))
    // logical band rows only — the layout also carries `_rowid`
    val got = idx.get().bands.select("doc_id", "band", "h1", "h2")
    assert(expect.exceptAll(got).isEmpty && got.exceptAll(expect).isEmpty,
      "stream-maintained band rows differ from a from-scratch build")
    // and the maintained index serves the right delta candidates
    val full = pairSet(Dedup.pairsFromBands(Dedup.bandsOf(Dedup.signaturesOf(all))))
    val want = full.filter { case (a, b) => a >= 24L || b >= 24L }
    val gotPairs = pairSet(Dedup.deltaCandidatesFromBands(idx.get().bands, 23L))
    assert(gotPairs == want,
      s"delta candidates off the streamed index diverge: extra=${(gotPairs diff want).take(5)} " +
        s"missing=${(want diff gotPairs).take(5)}")
  }

  test("streamed face reads only stored index band rows — no documents scan, no text") {
    val df = Dedup.deltaCandidatePairsStreamed(spark, sf())
    val rels = df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation
    }.collect { case fs: HadoopFsRelation => fs }
    assert(rels.nonEmpty, "expected file scans in the streamed delta plan")
    val paths = rels.flatMap(_.location.rootPaths.map(_.toString))
    assert(paths.forall(_.contains("docs-lsh-streamed-")),
      s"streamed delta plan scans outside the streamed index: $paths")
    val cols = rels.flatMap(_.schema.fieldNames).toSet
    assert(!cols.contains("text"), s"streamed delta plan reads document text: $cols")
  }
}
