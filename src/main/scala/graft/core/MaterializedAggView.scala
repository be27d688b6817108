package graft.core

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incrementally-maintained materialized aggregate view over a
  * [[VectorTable]]'s append-only rowid surface — the warehouse pattern the
  * reference's applications build by hand on top of `pushx` + full rescans
  * (e.g. the per-key recounts in tests/tests/sample_data_test.rs): here the
  * view is maintained from the CHANGE FEED, so a refresh after appending
  * ΔN rows costs O(ΔN + |view|), never a rescan of the base table.
  *
  * Maintained aggregates per group: row count, exact decimal sum (inputs
  * at (18,2), accumulator held at DECIMAL(28,2) across build AND refresh),
  * min, max of each tracked value column — the insert-monotone set (all
  * are mergeable from partial states, so increments compose associatively
  * and the refreshed view is bit-identical to a from-scratch rebuild; a
  * spec proves it and the declared query proves it against the DuckDB
  * oracle). Deletions/upserts are out of scope by construction: the view
  * tracks the physical append-only surface (`scan`), the same contract as
  * the reference's dense-rowid engine.
  *
  * Scale shape: the delta aggregation is one map-side-combined shuffle of
  * ONLY the appended rows; the merge is a shuffle of (|view| + |delta
  * groups|) rows on the group key. At 100 TB with a bounded group space
  * (the usual case for a maintained rollup) both sides are tiny relative
  * to the base. Nothing rescans history.
  *
  * Durability: each refresh writes a new `state-v{version}` parquet dir,
  * then atomically moves a CURRENT pointer file over the old one. A crash
  * between the two leaves the previous state authoritative and the new dir
  * an unreferenced orphan (same recovery stance as the table manifest).
  */
final class MaterializedAggView private (
    val spark: SparkSession,
    val table: VectorTable,
    val root: String,
    val keyCols: Seq[String],
    val valCols: Seq[String]) {

  import MaterializedAggView._

  /** Version of the base table this view currently reflects. */
  def basisVersion: Long = readCurrent(root)._1

  /** The maintained view: keyCols ++ (n_rows, <v>_sum [DECIMAL], <v>_min,
    * <v>_max per value column).
    */
  def read(): DataFrame = spark.read.parquet(s"$root/${readCurrent(root)._2}")

  /** Bring the view up to the table head by aggregating ONLY the rows
    * appended since [[basisVersion]] and merging group-wise. No-op (and no
    * new state dir) when the table hasn't advanced.
    */
  def refresh(): Unit = {
    val (basis, stateDir) = readCurrent(root)
    val head = table.versions.max
    if (head == basis) return
    // Restore-epoch guard. A length comparison is NOT enough: restore
    // below the basis followed by regrowth past the basis length passes a
    // length check while the rowid range [restoredLen, basisLen) now holds
    // DIFFERENT rows than the ones this view counted — changesBetween
    // (pure rowid arithmetic) cannot see that, so the view would silently
    // diverge. The manifest's restore counter tells "advanced" apart from
    // "rewound and regrown": any restore since the basis ⇒ refuse and
    // direct the caller to rebuild(). (Conservative: a restore to a
    // version ≥ basis is also refused — rebuild() is always safe.)
    val headM = Manifest.loadVersion(table.root, head)
    val basisM = Manifest.loadVersion(table.root, basis)
    require(basisM.restores == headM.restores,
      s"table was RESTOREd since the view basis (v$basis) — the insert-only " +
        "delta algebra cannot subtract dropped rows; call rebuild()")
    require(headM.length >= basisM.length,
      s"table rewound past the view basis (v$basis) — call rebuild()")
    val delta = aggregate(table.changesBetween(basis, head), keyCols, valCols)
    val old = spark.read.parquet(s"$root/$stateDir")
    val merged = mergeStates(old, delta, keyCols, valCols)
    writeState(merged, head)
  }

  /** From-scratch rebuild at the table's current head — the recovery path
    * after [[refresh]] refuses (table was restored past the basis). One
    * full aggregation of the base, same cost as [[MaterializedAggView.build]].
    */
  def rebuild(): Unit = {
    val head = table.versions.max
    writeState(aggregate(table.scan().drop(VectorTable.ROWID), keyCols, valCols), head)
  }

  private def writeState(df: DataFrame, version: Long): Unit = {
    val dir = f"state-v$version%012d"
    df.write.mode("overwrite").parquet(s"$root/$dir")
    Fs.replaceAtomically(Paths.get(root, "CURRENT"), s"$version $dir")
  }
}

object MaterializedAggView {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  // Accumulator type for sums. Inputs are exact at (18,2); Spark widens
  // SUM(DECIMAL(18,2)) to (28,2), and build() persists that. The merge
  // must stay at (28,2) too: narrowing the accumulator back to (18,2)
  // (the round-5 defect) silently NULLed group sums past 10^16 via the
  // non-ANSI overflow cast on the first refresh. Consumers narrow/cast at
  // read() time if they want a tighter type.
  private val SumType = DecimalType(28, 2)

  /** Group-aggregate `df` into the maintainable state shape. */
  private def aggregate(df: DataFrame, keyCols: Seq[String], valCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        valCols.flatMap(v => Seq(
          sum(dec(col(v))).cast(SumType).as(s"${v}_sum"),
          min(col(v)).as(s"${v}_min"),
          max(col(v)).as(s"${v}_max"))): _*)

  /** Merge two partial states group-wise (full outer on the keys). */
  private def mergeStates(a: DataFrame, b: DataFrame,
                          keyCols: Seq[String], valCols: Seq[String]): DataFrame = {
    val bb = b.select(b.columns.map(c =>
      if (keyCols.contains(c)) col(c) else col(c).as(s"${c}_r")): _*)
    a.join(bb, keyCols, "full_outer")
      .select(keyCols.map(col) ++ Seq(
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("n_rows_r"), lit(0L))).as("n_rows")) ++
        valCols.flatMap { v =>
          Seq(
            (coalesce(col(s"${v}_sum"), lit(0).cast(SumType)) +
              coalesce(col(s"${v}_sum_r"), lit(0).cast(SumType)))
              .cast(SumType).as(s"${v}_sum"),
            least(col(s"${v}_min"), col(s"${v}_min_r")).as(s"${v}_min"),
            greatest(col(s"${v}_max"), col(s"${v}_max_r")).as(s"${v}_max"))
        }: _*)
  }

  private def readCurrent(root: String): (Long, String) = {
    val parts = Files.readString(Paths.get(root, "CURRENT")).trim.split(' ')
    (parts(0).toLong, parts(1))
  }

  /** Build the view over the table's CURRENT head (one full aggregation —
    * the only time the base is scanned) and persist it at `root`.
    */
  def build(table: VectorTable, root: String,
            keyCols: Seq[String], valCols: Seq[String]): MaterializedAggView = {
    require(keyCols.nonEmpty && valCols.nonEmpty, "need key and value columns")
    Files.createDirectories(Paths.get(root))
    Files.writeString(Paths.get(root, "VIEWDEF"),
      s"${keyCols.mkString(",")}|${valCols.mkString(",")}")
    val v = new MaterializedAggView(table.spark, table, root, keyCols, valCols)
    val head = table.versions.max
    v.writeState(aggregate(table.scan().drop(VectorTable.ROWID), keyCols, valCols), head)
    v
  }

  /** Reopen a persisted view (column lists come from VIEWDEF). */
  def open(table: VectorTable, root: String): MaterializedAggView = {
    val parts = Files.readString(Paths.get(root, "VIEWDEF")).trim.split('|')
    new MaterializedAggView(table.spark, table, root,
      parts(0).split(',').toSeq, parts(1).split(',').toSeq)
  }
}
