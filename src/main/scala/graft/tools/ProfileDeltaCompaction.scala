package graft.tools

import graft.operators.{ContainmentIndex, Dedup, IndexCompaction, LshIndex, SimHashIndex, SpanIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Price the generalized delta-index compaction (round 15): for each
  * modality (LSH / SimHash / containment / span), build a deliberately
  * fragmented index (N span refreshes → N+ files), time the modality's
  * delta-style query on it, compact (timed), time again, and print the
  * file-count and latency deltas. The numbers land in PLANS.md as the
  * measured claim behind the shared [[IndexCompaction]] op — the same
  * protocol as [[ProfileCompaction]] priced for IVF.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ProfileDeltaCompaction [sfDir] [spans]"
  */
object ProfileDeltaCompaction {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spans = if (args.length > 1) args(1).toInt else 8
    val spark = graft.core.GraftSession.local("profile-delta-compaction")
    spark.sparkContext.setLogLevel("WARN")
    val dir = java.nio.file.Files.createTempDirectory("profile-delta-compaction").toString

    val docs = graft.core.Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val cutoff = maxId / 2

    def landSpans[I](tag: String, build: (graft.core.VectorTable, String) => I,
                     refresh: (I, graft.core.VectorTable) => I): (String, I) = {
      val t = graft.core.VectorTable.create(spark, s"$dir/$tag/table")
      var idx = build(t, s"$dir/$tag/index")
      (0 until spans).foreach { i =>
        val lo = (maxId + 1) * i / spans
        val hi = (maxId + 1) * (i + 1) / spans
        t.append(docs.where(col("doc_id") >= lo && col("doc_id") < hi))
        idx = refresh(idx, t)
      }
      (s"$dir/$tag/index", idx)
    }

    def price(tag: String, root: String, query: () => DataFrame,
              compact: () => Unit): Unit = {
      def run(): Double = {
        val t0 = System.nanoTime()
        query().collect()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm codegen/JIT
      val filesBefore = IndexCompaction.liveFileCount(root)
      val before = (1 to 3).map(_ => run()).min
      val tc = System.nanoTime()
      compact()
      val compactS = (System.nanoTime() - tc) / 1e9
      val filesAfter = IndexCompaction.liveFileCount(root)
      val after = (1 to 3).map(_ => run()).min
      println(f"PROFILE ${tag}%-12s files $filesBefore%3d -> $filesAfter%3d  " +
        f"query ${before}%.3f -> ${after}%.3f s (min of 3)  compact ${compactS}%.3f s")
    }

    {
      val (root, idx0) = landSpans[LshIndex]("lsh",
        (t, r) => LshIndex.build(t, r), (i, t) => i.refresh(t))
      var idx = idx0
      price("lsh", root,
        () => Dedup.deltaCandidatesFromBandsFor(idx.bands, cutoff),
        () => { idx = idx.compact() })
    }
    {
      val (root, idx0) = landSpans[SimHashIndex]("simhash",
        (t, r) => SimHashIndex.build(t, r), (i, t) => i.refresh(t))
      var idx = idx0
      price("simhash", root,
        () => idx.signatures.groupBy(expr("simhash & 65535").as("pc"))
          .agg(count(lit(1)).as("n")),
        () => { idx = idx.compact() })
    }
    {
      val (root, idx0) = landSpans[ContainmentIndex]("containment",
        (t, r) => ContainmentIndex.build(t, r), (i, t) => i.refresh(t))
      var idx = idx0
      price("containment", root,
        () => idx.entries.where(col("doc_id") > cutoff)
          .select(col("doc_id"), col("n")),
        () => { idx = idx.compact() })
    }
    {
      val (root, idx0) = landSpans[SpanIndex]("span",
        (t, r) => SpanIndex.build(t, r), (i, t) => i.refresh(t))
      var idx = idx0
      price("span", root,
        () => {
          val deltaHashes = idx.windows.where(col("doc_id") > cutoff)
            .select("gram_hash").distinct()
          idx.windows.join(deltaHashes, Seq("gram_hash"), "left_semi")
            .groupBy("gram_hash")
            .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
        },
        () => { idx = idx.compact() })
    }
    graft.core.Fs.deleteTree(java.nio.file.Paths.get(dir))
    spark.stop()
  }
}
