package graft.operators

import graft.SparkSpec
import graft.core.VectorTable
import org.apache.spark.sql.functions._

/** Round-17 introduced the restore-epoch guard (refresh REFUSED a restored
  * table); round 18 upgrades it to an O(affected-span) CATCH-UP: restore()
  * rewinds the head and later appends REUSE the dropped rowid range with
  * different content, so refresh now walks the manifest history to the
  * restored-to floor, drops exactly the index span files whose footer
  * rowid span reaches the floor (kept prefix hard-linked, atomic pointer
  * flip), re-spans from the floor, and records the new epoch — no manual
  * rebuild. The fallback (a restore that rewound mask state the index had
  * consumed — anti-joined rows would need resurrecting) re-derives in
  * place from rowid 0, still through the same refresh call.
  */
class RestoreIndexGuardSpec extends SparkSpec {
  import spark.implicits._

  private def docRows(ids: Range, tag: String = "") =
    ids.map(i => (i.toLong, s"alpha$tag$i bravo$tag$i charlie$tag$i delta$tag$i"))
      .toDF("doc_id", "text")

  private def liveFiles(root: String): Set[String] = {
    val d = IndexCompaction.dataDir(root)
    if (!java.nio.file.Files.isDirectory(d)) Set.empty
    else {
      val w = java.nio.file.Files.walk(d)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
      } finally w.close()
    }
  }

  test("refresh after restore catches up: dropped spans only, new epoch, no rebuild") {
    val dir = tmpDir("restore-catchup")
    val t = VectorTable.create(spark, s"$dir/t")
    t.append(docRows(0 until 20))
    val v1 = t.manifest.version
    var idx = LshIndex.build(t, s"$dir/lsh")
    var sec = graft.core.SecondaryIndex.build(t, "doc_id", s"$dir/sec")
    t.append(docRows(20 until 30))
    idx = idx.refresh(t) // the index now holds TWO spans: [0,20) + [20,30)
    sec = sec.refresh(t)
    val prefixFiles = liveFiles(s"$dir/lsh")
    t.restore(v1)
    // the reused-rowid hazard: regrow over the dropped range with new docs
    t.append(docRows(100 until 110, tag = "x"))
    idx = idx.refresh(t) // round 17 threw here; round 18 catches up
    sec = sec.refresh(t)
    assert(idx.indexedRestores == 1L, "catch-up must record the new epoch")
    assert(sec.indexedRestores == 1L)
    assert(idx.indexedLength == t.manifest.length)
    assert(idx.bands.where(col("doc_id") >= 20 && col("doc_id") < 30).count() == 0L,
      "rolled-back docs must not be indexed")
    assert(idx.bands.where(col("doc_id") >= 100).select("doc_id").distinct().count() == 10L,
      "the reused rowid range must serve the NEW content")
    assert(idx.bands.where(col("doc_id") < 20).select("doc_id").distinct().count() == 20L,
      "the untouched prefix must survive")
    // cost ∝ dropped spans: the prefix span's files are KEPT (hard-linked
    // under their own names), only the post-floor span was re-derived
    val after = liveFiles(s"$dir/lsh")
    val keptPrefix = prefixFiles.intersect(after)
    assert(keptPrefix.nonEmpty, "catch-up must keep the pre-floor span files")
    assert(prefixFiles.diff(after).nonEmpty, "the post-floor span files must be gone")
    // secondary index serves the same story
    assert(sec.lookup(100L).nonEmpty)
    assert(sec.lookup(25L).isEmpty, "rolled-back key must not resolve")
    // normal incremental life resumes at the new epoch
    t.append(docRows(200 until 205, tag = "y"))
    idx = idx.refresh(t)
    sec = sec.refresh(t)
    assert(idx.bands.where(col("doc_id") >= 200).select("doc_id").distinct().count() == 5L)
    assert(sec.lookup(200L).nonEmpty)
  }

  test("multi-restore window: the floor is the MIN restored-to length") {
    val dir = tmpDir("restore-catchup-multi")
    val t = VectorTable.create(spark, s"$dir/t")
    t.append(docRows(0 until 10))
    val v1 = t.manifest.version
    t.append(docRows(10 until 20))
    val v2 = t.manifest.version
    var idx = LshIndex.build(t, s"$dir/lsh")
    // two restores between refreshes with DIFFERENT targets
    t.restore(v2) // floor 20 (no-op for content)
    t.append(docRows(300 until 305, tag = "a"))
    t.restore(v1) // floor 10 — the binding one
    t.append(docRows(400 until 412, tag = "b"))
    idx = idx.refresh(t)
    assert(idx.indexedRestores == 2L)
    assert(idx.bands.where(col("doc_id") >= 10 && col("doc_id") < 20).count() == 0L,
      "docs above the MIN floor must be re-derived away")
    assert(idx.bands.where(col("doc_id") >= 300 && col("doc_id") < 310).count() == 0L)
    assert(idx.bands.where(col("doc_id") >= 400).select("doc_id").distinct().count() == 12L)
    assert(idx.bands.where(col("doc_id") < 10).select("doc_id").distinct().count() == 10L)
  }

  test("restore that rewinds CONSUMED mask state falls back to full re-derive") {
    val dir = tmpDir("restore-catchup-mask")
    val t = VectorTable.create(spark, s"$dir/t")
    t.append(docRows(0 until 20))
    val v1 = t.manifest.version
    var idx = LshIndex.build(t, s"$dir/lsh")
    t.deleteWhere(col("doc_id") < 3)
    idx = idx.refresh(t) // consumes the 3 tombstones (anti-joined away)
    assert(idx.bands.where(col("doc_id") < 3).count() == 0L)
    t.restore(v1) // rewinds the mask to EMPTY: docs 0-2 are live again
    idx = idx.refresh(t)
    assert(idx.indexedRestores == 1L)
    assert(idx.bands.where(col("doc_id") < 3).select("doc_id").distinct().count() == 3L,
      "resurrected rows must be re-indexed (full re-derive fallback)")
    assert(idx.bands.select("doc_id").distinct().count() == 20L)
  }

  test("masked rows inside the re-spanned range are scrubbed by the forced delete pass") {
    val dir = tmpDir("restore-catchup-scrub")
    val t = VectorTable.create(spark, s"$dir/t")
    t.append(docRows(0 until 20))
    val v1 = t.manifest.version
    var idx = LshIndex.build(t, s"$dir/lsh")
    t.append(docRows(20 until 30))
    idx = idx.refresh(t)
    t.restore(v1)
    t.append(docRows(100 until 110, tag = "x"))
    t.deleteWhere(col("doc_id") === 105L) // masked INSIDE the re-span range
    idx = idx.refresh(t)
    assert(idx.bands.where(col("doc_id") === 105L).count() == 0L,
      "a masked row in the restored range must not survive the catch-up")
    assert(idx.bands.where(col("doc_id") >= 100).select("doc_id").distinct().count() == 9L)
  }

  test("IVF refresh after restore catches up too (reused rowids serve new vectors)") {
    val dir = tmpDir("restore-catchup-ivf")
    val emb = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), col("embedding")).limit(60)
    val t = VectorTable.create(spark, s"$dir/t")
    t.append(emb.where(col("vec_id") < 40))
    val v1 = t.manifest.version
    val cs = emb.orderBy("vec_id").limit(4).collect().map(_.getSeq[Float](1).toArray)
    var idx = IvfTableIndex.buildWith(t, s"$dir/ivf", cs)
    t.append(emb.where(col("vec_id") >= 40))
    idx = idx.refresh(t)
    t.restore(v1)
    // reuse the rowid range with a DIFFERENT vector set (shifted ids)
    t.append(emb.where(col("vec_id") >= 40 && col("vec_id") < 50))
    idx = idx.refresh(t)
    assert(idx.indexedRestores == 1L)
    assert(idx.data.count() == t.liveCount)
    assert(idx.data.where(col("vec_id") >= 50).count() == 0L,
      "rolled-back vectors must be gone")
    assert(idx.data.where(col("vec_id") >= 40 && col("vec_id") < 50).count() == 10L)
  }

  IndexKinds.all.foreach { kind =>
    import IndexKinds.{ids, live, rows}

    test(s"${kind.name}: restore catch-up re-derives the reused rowid range and scrubs masked rows in it") {
      val dir = tmpDir("restore-kind")
      val t = VectorTable.create(spark, s"$dir/t")
      t.append(rows(spark, 0 until 20))
      val v1 = t.manifest.version
      var idx = kind.build(t, s"$dir/idx")
      t.append(rows(spark, 20 until 30))
      idx = idx.refresh(t)
      t.restore(v1)
      t.append(rows(spark, 100 until 110, tag = "x"))
      t.deleteWhere(col("doc_id") === 105L) // masked INSIDE the re-span range
      idx = idx.refresh(t)
      assert(idx.indexedRestores == 1L && idx.indexedLength == t.manifest.length)
      assert(ids(spark, kind, idx) == live(t),
        "rolled-back rows must be gone, the reused range must serve the new rows")
      val reopened = kind.open(spark, idx.root)
      assert(reopened.meta == idx.meta, "the published meta must reopen")
      t.append(rows(spark, 200 until 205, tag = "y"))
      idx = reopened.refresh(t)
      assert(ids(spark, kind, idx) == live(t), "incremental refresh must resume")
    }

    test(s"${kind.name}: a restore that rewinds consumed mask state re-derives the resurrected rows") {
      val dir = tmpDir("restore-kind-mask")
      val t = VectorTable.create(spark, s"$dir/t")
      t.append(rows(spark, 0 until 20))
      val v1 = t.manifest.version
      var idx = kind.build(t, s"$dir/idx")
      t.deleteWhere(col("doc_id") < 3)
      idx = idx.refresh(t)
      assert(ids(spark, kind, idx) == live(t))
      t.restore(v1) // docs 0-2 are live again
      idx = idx.refresh(t)
      assert(idx.indexedRestores == 1L)
      assert(ids(spark, kind, idx) == (0L until 20L).toSet)
    }
  }
}
