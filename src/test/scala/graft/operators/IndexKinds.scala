package graft.operators

import graft.core.{MultiIndex, SecondaryIndex, VectorTable}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every derived index kind as one spec input. All seven build over the
  * same (doc_id, vec_id, text, embedding) table and read back as the set
  * of source ids they index, so a spec states one invariant for all.
  */
object IndexKinds {

  /** `idCol` names the source id in the index's stored rows. */
  final case class Kind(name: String, build: (VectorTable, String) => DerivedIndex,
                        open: (SparkSession, String) => DerivedIndex, idCol: String)

  /** Fixed IVF centroids: the four axes of the 4-d test embeddings. */
  private val axes = Array.tabulate(4)(c => Array.tabulate(4)(j => if (j == c) 1f else 0f))

  val all: Seq[Kind] = Seq(
    Kind("LshIndex", LshIndex.build, LshIndex.open, "doc_id"),
    Kind("SimHashIndex", SimHashIndex.build, SimHashIndex.open, "doc_id"),
    Kind("SpanIndex", SpanIndex.build, SpanIndex.open, "doc_id"),
    Kind("ContainmentIndex", ContainmentIndex.build, ContainmentIndex.open, "doc_id"),
    Kind("IvfTableIndex", IvfTableIndex.buildWith(_, _, axes), IvfTableIndex.open, "vec_id"),
    Kind("SecondaryIndex", SecondaryIndex.build(_, "doc_id", _),
      SecondaryIndex.open(_, _, "doc_id"), "k"),
    Kind("MultiIndex", MultiIndex.build(_, Seq("doc_id"), _), MultiIndex.open, "k0"))

  /** Rows for `ids` (vec_id = doc_id): text long enough for span windows
    * and shingles, an embedding nearest the axis `id % 4`. `tag` gives a
    * re-used id different content.
    */
  def rows(spark: SparkSession, ids: Range, tag: String = ""): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      (i.toLong, i.toLong,
        s"alpha$tag$i bravo$tag$i charlie$tag$i delta$tag$i echo$tag$i foxtrot$tag$i",
        Array.tabulate(4)(j => if (j == i % 4) 1f else 0.1f))
    }.toDF("doc_id", "vec_id", "text", "embedding")
  }

  /** The distinct source ids in the index's live layout. */
  def ids(spark: SparkSession, kind: Kind, idx: DerivedIndex): Set[Long] = {
    val d = IndexCompaction.dataDir(idx.root)
    if (!IndexCompaction.hasParquet(d)) Set.empty
    else spark.read.parquet(d.toString).select(kind.idCol).distinct()
      .collect().map(_.getLong(0)).toSet
  }

  /** The table's live doc_ids — what every index must hold after refresh. */
  def live(t: VectorTable): Set[Long] =
    t.liveScan().select("doc_id").collect().map(_.getLong(0)).toSet
}
