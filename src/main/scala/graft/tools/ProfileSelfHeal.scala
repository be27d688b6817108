package graft.tools

import graft.core.{Tables, VectorTable}
import graft.operators.{IndexCompaction, LshIndex}
import org.apache.spark.sql.functions._

/** Round-18 pricing probe for the tombstone SELF-HEAL path (round-17
  * verdict #4: the reconciliation flow was "reserved for flow violations"
  * with no number behind it). The flow violation: a purge() lands BEFORE
  * the registered indexes consumed the mask — [[graft.operators.Takedown.everywhere]]
  * enforces propagate-then-purge, so this only happens when someone purges
  * a table behind the indexes' back (manual erasure runs, a crashed
  * maintenance loop resuming out of order). The next refresh detects it
  * (tombstone drift exceeds the live mask) and self-heals via
  * [[IndexCompaction.deletedKeys]] FULL mode: index keys anti-joined
  * against the table's physical surface, unioned with the mask — one
  * slim-column pass over index + table keys, O(index), NOT O(affected).
  *
  * The probe prices that next to the steady-state mask-only refresh at
  * 1×/8×/32× index size, same fixed victim count: expect the steady path
  * ~flat (footer-span discovery + affected-file rewrite) and the
  * self-heal growing with the index (the reconciliation pass reads every
  * index key) — the number that justifies keeping the purge-last flow
  * discipline. Output: one JSON line per scale.
  */
object ProfileSelfHeal {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local("graft-profile-selfheal")
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val maxId = docs.agg(max("doc_id")).head.getLong(0)

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // first element is a JIT/codegen warmup: built, measured, not printed
    Seq(-1, 1, 8, 32).foreach { repsIn =>
      val warmup = repsIn < 0
      val reps = math.abs(repsIn)
      val dir = java.nio.file.Files.createTempDirectory(s"graft-selfheal-$reps").toString
      val corpus = (0 until reps).map { r =>
        docs.select((col("doc_id") + lit(r * (maxId + 1))).as("doc_id"), col("text"))
      }.reduce(_ unionAll _)
      val t = VectorTable.create(spark, s"$dir/t")
      val quarter = (maxId + 1) * reps / 4
      var idx: LshIndex = null
      (0 until 4).foreach { qi =>
        t.append(corpus.where(col("doc_id") >= qi * quarter &&
          (col("doc_id") < (qi + 1) * quarter || lit(qi == 3))))
        idx = if (idx == null) LshIndex.build(t, s"$dir/lsh") else idx.refresh(t)
      }
      val files = IndexCompaction.liveFileCount(s"$dir/lsh")
      val rows = idx.bands.count()

      // STEADY STATE: mask victims, refresh consumes them mask-only
      require(t.deleteWhere(col("doc_id") < 10) == 10L)
      val steadyS = timed { idx = idx.refresh(t) }

      // FLOW VIOLATION: mask the next victims, purge BEFORE refresh —
      // the drift (tomb - indexedMask) now exceeds the (empty) mask and
      // the refresh must reconcile against physical existence
      require(t.deleteWhere(col("doc_id") >= 10 && col("doc_id") < 20) == 10L)
      require(t.purge() > 0L)
      val healS = timed { idx = idx.refresh(t) }

      require(idx.bands.where(col("doc_id") < 20).count() == 0L,
        "self-heal must scrub the purged victims")

      graft.core.Fs.deleteTree(java.nio.file.Paths.get(dir))
      if (!warmup)
        println(s"""{"scale":$reps,"index_rows":$rows,"index_files":$files,""" +
          s""""steady_refresh_s":${steadyS.formatted("%.3f")},""" +
          s""""selfheal_refresh_s":${healS.formatted("%.3f")}}""")
    }
    spark.stop()
  }
}
