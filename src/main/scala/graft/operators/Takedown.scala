package graft.operators

import graft.core.{Memo, Tables, VectorTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** COMPOSED takedown (round 16) — the one-call "delete document X
  * everywhere" a 100 TB deployment actually needs (the round-15 verdict's
  * missing piece #4: every building block existed — [[VectorTable.deleteWhere]],
  * per-index refresh propagation, [[VectorTable.purge]] — but deleting one
  * document still meant an operator choreographing five stores and every
  * index by hand).
  *
  * The composition is strictly ordered:
  *   1. MASK: `deleteWhere(idCol ∈ ids)` on every registered store — the
  *      logical tombstone, effective immediately on every `liveScan`;
  *   2. PROPAGATE: every registered index hook runs (a hook refreshes its
  *      index, consuming the stores' masks to rewrite exactly the
  *      affected cells/files — rowid-addressed, see
  *      [[IndexMaintenance.refresh]]). Propagation MUST precede erasure:
  *      [[VectorTable.purge]] resets the mask, after which a refresh has
  *      nothing to consume;
  *   3. ERASE (optional): `purge()` each store — the masked rows' bytes
  *      leave every current-version file; the caller runs `vacuum` at its
  *      retention boundary to erase historical versions.
  *
  * Scale shape: step 1 is one broadcast semi-join per store (the id set
  * is takedown-sized), step 2 rewrites cost ∝ affected index files, step
  * 3 rewrites cost ∝ affected data files. Nothing scans a corpus.
  *
  * Reference analog: the engine's storage layer owns its bytes end to end
  * (src/services/); a store that cannot erase cannot satisfy the takedown
  * contract it names.
  */
object Takedown {

  /** One store participating in a composed takedown: the table, the
    * column its documents are identified by, and — REGISTER THESE — the
    * refresh hooks of every index maintained over the table. Purge resets
    * the delete-vector, so an index that has not consumed the mask before
    * erasure loses its invalidation signal; registering indexes on the
    * store (rather than remembering to list them in `propagate`) is what
    * lets the composition guarantee the refresh-before-purge order per
    * store (round-16 ADVICE). An index omitted from BOTH `refreshIndexes`
    * and `propagate` self-heals on its next refresh (the tombstone-total
    * gate detects the missed purge and reconciles against physical
    * existence, [[IndexMaintenance.deletedKeys]]) — but that recovery pays
    * an index-sized pass, so registration is the contract, reconciliation
    * the safety net.
    */
  final case class Store(name: String, table: VectorTable, idCol: String,
                         refreshIndexes: Seq[() => Unit] = Nil)

  /** Execute the composed takedown of `ids` over `stores`; each store's
    * registered `refreshIndexes` hooks and then the cross-store
    * `propagate` hooks run between masking and erasure. Returns
    * newly-masked row counts per store name (a doc absent from a store
    * contributes 0 — takedowns are idempotent end to end).
    *
    * The id set becomes an `isInCollection` literal inlined into every
    * task, which is right for takedown-sized sets only — above ~10⁴ ids
    * use the [[everywhere(ids:org\.apache\.spark\.sql\.DataFrame* DataFrame overload]],
    * which routes the set as a join operand instead.
    */
  def everywhere(ids: Seq[Long], stores: Seq[Store],
                 propagate: Seq[() => Unit] = Nil,
                 purge: Boolean = true): Map[String, Long] = {
    require(ids.nonEmpty, "takedown of an empty id set")
    compose(stores, propagate, purge) { st =>
      st.table.deleteWhere(col(st.idCol).isInCollection(ids))
    }
  }

  /** DataFrame-scale ids (round 17): the same composed takedown for a
    * GDPR-batch id set (10⁵–10⁶ ids, routine at 100 TB) — `ids`' first
    * column is the id, and it reaches each store's delete as a JOIN
    * operand ([[VectorTable.deleteWhereKeysIn]]: AQE broadcasts a small
    * set, shuffle-joins a huge one), never an `isInCollection` literal
    * inlined into every task.
    */
  def everywhere(ids: DataFrame, stores: Seq[Store],
                 propagate: Seq[() => Unit],
                 purge: Boolean): Map[String, Long] =
    compose(stores, propagate, purge) { st =>
      st.table.deleteWhereKeysIn(st.idCol, ids)
    }

  private def compose(stores: Seq[Store], propagate: Seq[() => Unit],
                      purge: Boolean)(mask: Store => Long): Map[String, Long] = {
    val masked = stores.map(st => st.name -> mask(st)).toMap
    stores.foreach(_.refreshIndexes.foreach(_.apply()))
    propagate.foreach(_.apply())
    if (purge) stores.foreach(_.table.purge())
    masked
  }

  // ----- declared face: takedown_everywhere ------------------------------

  /** Every `id % takedownEverywhereMod == 0` is taken down in the face's
    * fixture — deterministic, replayable arithmetic for the oracle.
    */
  val takedownEverywhereMod = 37L

  /** Memoized fixture: a docs store + an embeddings store with a
    * [[LshIndex]] and an [[IvfTableIndex]] over them, a composed takedown
    * of the `% mod == 0` ids through [[everywhere]] (mask → index
    * propagation → physical purge), built once per (machine, sf dir).
    */
  private[graft] def everywhereRoot(s: SparkSession, d: String): String =
    // v2: + secondary-index surface (round-16 second wave)
    Memo.machine(s, "graft-takedown", "everywhere", d,
        s"#takedown-everywhere#v2#m=$takedownEverywhereMod") { dir =>
      val docsT = VectorTable.create(s, s"$dir/docs")
      docsT.append(Tables.documents(s, d).select(col("doc_id"), col("text")))
      val embT = VectorTable.create(s, s"$dir/emb")
      embT.append(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      var lsh = LshIndex.build(docsT, s"$dir/lsh")
      var ivf = IvfTableIndex.build(embT, s"$dir/ivf")
      var sec = graft.core.SecondaryIndex.build(docsT, "doc_id", s"$dir/sec")
      // the victim id set spans BOTH id spaces (doc ids and vec ids can
      // cover different ranges; the takedown names documents, and each
      // store drops the ids it holds)
      val docVictims = Tables.documents(s, d)
        .where(col("doc_id") % takedownEverywhereMod === 0)
        .select("doc_id").collect().map(_.getLong(0))
      val embVictims = Tables.embeddings(s, d)
        .where(col("vec_id") % takedownEverywhereMod === 0)
        .select("vec_id").collect().map(_.getLong(0))
      // each store REGISTERS its dependent indexes — the composition
      // then owns the refresh-before-purge order per store
      val counts = everywhere((docVictims ++ embVictims).distinct.toSeq,
        Seq(
          Store("docs", docsT, "doc_id", refreshIndexes = Seq(
            () => { lsh = lsh.refresh(docsT); () },
            () => { sec = sec.refresh(docsT); () })),
          Store("emb", embT, "vec_id", refreshIndexes = Seq(
            () => { ivf = ivf.refresh(embT); () }))))
      require(counts("docs") > 0, "takedown_everywhere must delete rows")
    }

  def prebuildEverywhere(s: SparkSession, d: String): Unit = {
    everywhereRoot(s, d); ()
  }

  /** Declared `takedown_everywhere`: one row per serving surface of the
    * composed-takedown fixture — (surface, rows, victims_visible). A green
    * row proves (a) a taken-down doc appears in NO store's live view and
    * NO index-served surface (victims_visible = 0 everywhere), and (b) the
    * PHYSICAL store surfaces hold exactly the live rows (purge really
    * removed the bytes: `scan()` — the raw-parquet view — equals the live
    * count, which the oracle computes from the source tables).
    */
  def takedownEverywhere(s: SparkSession, d: String): DataFrame = {
    val root = everywhereRoot(s, d)
    val docsT = VectorTable.open(s, s"$root/docs")
    val embT = VectorTable.open(s, s"$root/emb")
    val lsh = LshIndex.open(s, s"$root/lsh")
    val ivf = IvfTableIndex.open(s, s"$root/ivf")
    // the secondary index's raw (k -> rowid) rows are read directly: the
    // surface being verified is the stored bytes, not a lookup API
    def victims(c: org.apache.spark.sql.Column) = c % takedownEverywhereMod === 0
    def row(surface: String, df: DataFrame, idCol: String): DataFrame =
      df.agg(count(lit(1)).as("rows"),
          sum(when(victims(col(idCol)), 1L).otherwise(0L)).as("victims_visible"))
        .select(lit(surface).as("surface"),
          col("rows").cast("long").as("rows"),
          coalesce(col("victims_visible"), lit(0L)).cast("long").as("victims_visible"))
    row("docs_live", docsT.liveScan(), "doc_id")
      .unionAll(row("docs_physical", docsT.scan(), "doc_id"))
      .unionAll(row("emb_live", embT.liveScan(), "vec_id"))
      .unionAll(row("emb_physical", embT.scan(), "vec_id"))
      .unionAll(row("lsh_index",
        lsh.bands.select("doc_id").distinct(), "doc_id"))
      .unionAll(row("ivf_index", ivf.data, "vec_id"))
      .unionAll(row("sec_index",
        s.read.parquet(IndexCompaction.dataDir(s"$root/sec").toString)
          .select(col("k").as("doc_id")), "doc_id"))
      .orderBy("surface")
  }

  /** The oracle recomputes every surface's row count from the SOURCE
    * tables (live = all minus the `% mod = 0` victims; the LSH index
    * holds one entry per live doc with >= 3 words — word-3-gram shingles
    * exist only then; the IVF index holds one entry per live vector) and
    * pins victims_visible to 0.
    */
  lazy val takedownEverywhereSql: String = {
    val m = takedownEverywhereMod
    s"""SELECT surface, rows, victims_visible FROM (
       | SELECT 'docs_live' AS surface,
       |   (SELECT COUNT(*) FROM documents WHERE doc_id % $m <> 0) AS rows,
       |   CAST(0 AS BIGINT) AS victims_visible
       | UNION ALL
       | SELECT 'docs_physical',
       |   (SELECT COUNT(*) FROM documents WHERE doc_id % $m <> 0), 0
       | UNION ALL
       | SELECT 'emb_live',
       |   (SELECT COUNT(*) FROM embeddings WHERE vec_id % $m <> 0), 0
       | UNION ALL
       | SELECT 'emb_physical',
       |   (SELECT COUNT(*) FROM embeddings WHERE vec_id % $m <> 0), 0
       | UNION ALL
       | SELECT 'lsh_index',
       |   (SELECT COUNT(*) FROM documents
       |    WHERE doc_id % $m <> 0 AND len(string_split(text, ' ')) >= 3), 0
       | UNION ALL
       | SELECT 'ivf_index',
       |   (SELECT COUNT(*) FROM embeddings WHERE vec_id % $m <> 0), 0
       | UNION ALL
       | SELECT 'sec_index',
       |   (SELECT COUNT(*) FROM documents WHERE doc_id % $m <> 0), 0
       |) ORDER BY surface""".stripMargin
  }
}
