package graft.operators

import graft.SparkSpec
import graft.core.VectorTable
import org.apache.spark.sql.functions._

/** Round-17 (round-16 ADVICE, medium): the index staleness gate must be a
  * MONOTONIC tombstone total, not raw maskCount equality — purge() resets
  * maskCount, so an index could silently skip delete propagation once
  * later deletes grow the count back to the recorded value.
  *
  *   - consumed-then-purged: an index that consumed the mask BEFORE the
  *     purge stays quiet (the purge moves tombstones between maskCount and
  *     purged without changing the sum — no spurious work);
  *   - the exact ADVICE scenario: purge before the index refreshes, then
  *     new deletes bring maskCount back to the recorded value — the old
  *     gate would skip, the tombstone gate fires and SELF-HEALS by
  *     reconciling against physical existence;
  *   - the same contract for the IVF (partitioned) and key-index layouts.
  */
class TombstoneGateSpec extends SparkSpec {
  import spark.implicits._

  private def docRows(ids: Range) =
    ids.map(i => (i.toLong, s"alpha$i bravo$i charlie$i delta$i echo$i")).toDF("doc_id", "text")

  test("consumed-then-purged mask keeps the gate quiet (no spurious refresh work)") {
    val dir = tmpDir("tomb-quiet")
    val t = VectorTable.create(spark, s"$dir/t")
    t.append(docRows(0 until 60))
    var idx = LshIndex.build(t, s"$dir/lsh")
    assert(t.deleteWhere(col("doc_id") < 5) == 5L)
    idx = idx.refresh(t) // consume the mask
    assert(t.purge() == 5L)
    // sum preserved: maskCount -> purged, gate must see nothing to do
    assert(idx.refresh(t) eq idx,
      "a purge of an already-consumed mask must not re-fire propagation")
  }

  test("ADVICE scenario: purge before refresh, maskCount grows back — gate fires and self-heals") {
    val dir = tmpDir("tomb-heal")
    val t = VectorTable.create(spark, s"$dir/t")
    t.append(docRows(0 until 60))
    var idx = LshIndex.build(t, s"$dir/lsh")
    // victims A: masked AND purged without the index ever refreshing
    assert(t.deleteWhere(col("doc_id") < 4) == 4L)
    assert(t.purge() == 4L)
    assert(t.manifest.maskCount == 0L && t.manifest.purged == 4L)
    // victims B: bring maskCount back EXACTLY to the recorded indexedMask
    // (0 at build) + 4 — the old gate compared maskCount == indexedMask
    // and would skip once counts realign; force the realignment too
    assert(t.deleteWhere(col("doc_id") >= 4 && col("doc_id") < 8) == 4L)
    val healed = idx.refresh(t)
    // BOTH victim sets must be gone: B via the mask, A via physical
    // reconciliation (their masks were erased by the purge)
    assert(healed.bands.where(col("doc_id") < 8).count() == 0L,
      "victims deleted before an unconsumed purge must still leave the index")
    assert(healed.bands.select("doc_id").distinct().count() == 52L)
    // and the healed index is stable: another refresh is a no-op
    assert(healed.refresh(t) eq healed)
  }

  test("IVF index: missed purge self-heals through the reconciliation fallback") {
    val dir = tmpDir("tomb-ivf")
    val emb = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), col("embedding")).limit(120)
    val t = VectorTable.create(spark, s"$dir/t")
    t.append(emb)
    val cs = emb.orderBy("vec_id").limit(4).collect().map(_.getSeq[Float](1).toArray)
    var idx = IvfTableIndex.buildWith(t, s"$dir/ivf", cs)
    t.deleteWhere(col("vec_id") % 11 === 0)
    t.purge() // flow violation: purge without refreshing the index
    val healed = idx.refresh(t)
    assert(healed.data.where(col("vec_id") % 11 === 0).count() == 0L)
    assert(healed.data.count() == t.liveCount)
    assert(healed.refresh(t) eq healed)
  }

  test("secondary index: missed purge self-heals; consumed purge stays quiet") {
    val dir = tmpDir("tomb-sec")
    val t = VectorTable.create(spark, s"$dir/t")
    t.append(docRows(0 until 50))
    var sec = graft.core.SecondaryIndex.build(t, "doc_id", s"$dir/sec")
    t.deleteWhere(col("doc_id") === 7L)
    t.purge()
    sec = sec.refresh(t)
    assert(sec.lookup(7L).isEmpty, "missed purge must reconcile the key index")
    assert(sec.refresh(t) eq sec)
  }

  IndexKinds.all.foreach { kind =>
    import IndexKinds.{ids, live, rows}

    test(s"${kind.name}: a consumed-then-purged mask stays quiet; a missed purge self-heals") {
      val dir = tmpDir("tomb-kind")
      val t = VectorTable.create(spark, s"$dir/t")
      t.append(rows(spark, 0 until 40))
      var idx = kind.build(t, s"$dir/idx")
      t.deleteWhere(col("doc_id") < 5)
      idx = idx.refresh(t)
      assert(ids(spark, kind, idx) == live(t))
      t.purge()
      assert(idx.refresh(t) eq idx, "a purge of a consumed mask must not re-fire propagation")
      // masked AND purged without the index refreshing, then maskCount
      // grows back: only reconciling against the table finds the first set
      t.deleteWhere(col("doc_id") >= 5 && col("doc_id") < 9)
      t.purge()
      t.deleteWhere(col("doc_id") >= 9 && col("doc_id") < 13)
      val healed = idx.refresh(t)
      assert(ids(spark, kind, healed) == live(t) && live(t) == (13L until 40L).toSet)
      assert(healed.refresh(t) eq healed)
    }
  }

  test("indexes open from every meta form the earlier layout wrote") {
    import IndexKinds.{ids, live, rows}
    def write(root: String, file: String, text: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(root, file), text)
    val dir = tmpDir("tomb-legacy-meta")
    val t = VectorTable.create(spark, s"$dir/t")
    t.append(rows(spark, 0 until 20))
    val m = t.manifest
    val lsh = LshIndex.build(t, s"$dir/lsh")
    // "version,length": no mask, no restore epoch
    write(lsh.root, "meta.txt", s"${m.version},${m.length}")
    val lshOld = LshIndex.open(spark, lsh.root)
    assert(lshOld.meta == IndexMeta(m.version, m.length, 0L, 0L))
    val sec = graft.core.SecondaryIndex.build(t, "doc_id", s"$dir/sec")
    java.nio.file.Files.delete(java.nio.file.Paths.get(sec.root, "meta.txt"))
    write(sec.root, "version.txt", s"${m.version}\n${m.length}\n0\n0")
    assert(graft.core.SecondaryIndex.open(spark, sec.root, "doc_id").meta ==
      IndexMeta(m.version, m.length, 0L, 0L))
    write(sec.root, "version.txt", s"${m.version}\n${m.length}")
    val secOld = graft.core.SecondaryIndex.open(spark, sec.root, "doc_id")
    assert(secOld.meta == IndexMeta(m.version, m.length, 0L, 0L))
    val multi = graft.core.MultiIndex.build(t, Seq("doc_id", "vec_id"), s"$dir/multi")
    write(multi.root, "meta.txt", s"${m.version},${m.length},0,0\ndoc_id\nvec_id")
    assert(graft.core.MultiIndex.open(spark, multi.root).keyCols == Seq("doc_id", "vec_id"))
    // the old forms refresh like the new: deletes apply, the meta republishes
    t.deleteWhere(col("doc_id") < 4)
    val lshNew = lshOld.refresh(t)
    val secNew = secOld.refresh(t)
    assert(ids(spark, IndexKinds.all.head, lshNew) == live(t))
    assert(secNew.lookup(2L).isEmpty && secNew.lookup(5L).nonEmpty)
    assert(LshIndex.open(spark, lsh.root).meta == lshNew.meta)
    assert(graft.core.SecondaryIndex.open(spark, sec.root, "doc_id").meta == secNew.meta)
  }
}
