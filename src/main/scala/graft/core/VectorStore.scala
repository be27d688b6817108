package graft.core

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Typed facade over [[VectorTable]] reproducing the reference's
  * `VectorEngine<T>` trait semantics exactly (reference:
  * src/vector_engine.rs:10-54):
  *
  *  - `pull`/`pullx` are partial — out-of-bounds throws (reference panics);
  *  - `get`/`getx` are total — `Option`, with the bound
  *    `index + count <= len` (src/vector_engine.rs:41);
  *  - `getall` returns `None` (not an empty seq) on an empty store
  *    (src/vector_engine.rs:47-53);
  *  - records come back in insertion order with a dense implicit rowid.
  *
  * The `Encoder[T]` context bound plays the role of the reference's
  * `Serialize + Deserialize + Clone + Send + Sync` bound
  * (src/vector_engine.rs:11-18).
  */
final class VectorStore[T: Encoder](val table: VectorTable) {
  private def spark: SparkSession = table.spark
  private val enc = implicitly[Encoder[T]]

  /** Append one record — reference `push` (src/vector_engine.rs:25).
    * Single-row writes are a Spark anti-pattern; batch callers should use
    * [[BufferedVectorStore]] (the reference likewise routes `push` through
    * its WritableCache).
    */
  def push(obj: T): Unit = pushx(Seq(obj))

  /** Bulk append, input order preserved — reference `pushx`.
    *
    * Large driver-local batches take the encoded fast path: rows are
    * serialized to `InternalRow`s in parallel on the driver (one encoder
    * serializer per chunk — serializers are not thread-safe but are cheap
    * to instantiate), then committed in a single stamp+write job via
    * [[VectorTable.appendEncoded]]. `spark.createDataset(Seq)` encodes the
    * same rows single-threaded and then pays a second task-serialization
    * round for the count pass — measured ~2× slower end-to-end at 1M rows.
    */
  def pushx(objs: Seq[T]): Unit = {
    if (objs.nonEmpty) {
      encodeSlices(objs) match {
        case Some((schema, slices)) => table.appendEncoded(schema, slices)
        case None => table.append(spark.createDataset(objs)(enc).toDF())
      }
    }
  }

  private def encodeSlices(objs: Seq[T])
      : Option[(org.apache.spark.sql.types.StructType,
                Seq[Array[org.apache.spark.sql.catalyst.InternalRow]])] = {
    import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
    val exprEnc = enc match {
      case e: ExpressionEncoder[T @unchecked] => Some(e)
      case a: AgnosticEncoder[T @unchecked]   => Some(ExpressionEncoder(a))
      case _                                  => None
    }
    exprEnc.map { e =>
      val data = objs.toIndexedSeq
      val n = data.size
      val k = math.max(1, math.min(spark.sparkContext.defaultParallelism, n / 32768))
      val bounds = (0 to k).map(i => (i.toLong * n / k).toInt)
      def encodeChunk(i: Int): Array[org.apache.spark.sql.catalyst.InternalRow] = {
        val ser = e.createSerializer()
        val out = new Array[org.apache.spark.sql.catalyst.InternalRow](bounds(i + 1) - bounds(i))
        var j = bounds(i)
        while (j < bounds(i + 1)) { out(j - bounds(i)) = ser(data(j)).copy(); j += 1 }
        out
      }
      val slices =
        if (k == 1) Seq(encodeChunk(0))
        else {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration._
          implicit val ec: ExecutionContext = ExecutionContext.global
          Await.result(Future.sequence((0 until k).map(i => Future(encodeChunk(i)))), 10.minutes)
        }
      (e.schema, slices)
    }
  }

  def len: Long = table.length
  def isEmpty: Boolean = table.isEmpty

  /** Point read; throws on OOB — reference `pull` (src/vector_engine.rs:27). */
  def pull(index: Long): T =
    get(index).getOrElse(
      throw new IndexOutOfBoundsException(s"pull($index) on store of length $len"))

  /** Range read [index, index+count); throws on OOB — reference `pullx`. */
  def pullx(index: Long, count: Long): Seq[T] =
    getx(index, count).getOrElse(
      throw new IndexOutOfBoundsException(s"pullx($index,$count) on store of length $len"))

  /** Bounds-checked point read — reference `get` (src/vector_engine.rs:33-39).
    * Serves from the direct-parquet path (no Spark job) when the schema
    * and layout allow: ~40 µs a key from a cached decoded page; a page's
    * first miss reads its one row (~0.5 ms) and its second decodes the
    * page (~3 ms for 500 rows) (store_serving, 4 cpus), matching the
    * reference's serving-read class (readable_cache.rs:68-80); otherwise
    * falls back to a pruned Spark read.
    */
  def get(index: Long): Option[T] = get(table.snapshot, index)

  /** [[get]] with the bound check and the read on one snapshot `s`. */
  private[core] def get(s: VectorTable.Snapshot, index: Long): Option[T] =
    if (index < 0 || index >= s.manifest.length) None
    else directGet(s, index).orElse(decode(table.rangeOf(s.manifest, index, 1L)).headOption)

  private def directGet(s: VectorTable.Snapshot, index: Long): Option[T] =
    directDecoder.flatMap { dec =>
      try table.pointRow(s, index).map(dec)
      catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Every row of `indices` read directly on snapshot `s`, or None if any
    * one can't be: all-or-fallback, as a partial direct result can't tell
    * "absent" from "file not directly servable". Stops at the first miss.
    */
  private def directAll(s: VectorTable.Snapshot, indices: Seq[Long]): Option[Seq[T]] =
    if (directDecoder.isEmpty) None
    else {
      val rows = indices.iterator.map(directGet(s, _)).takeWhile(_.isDefined).flatten.toVector
      if (rows.size == indices.size) Some(rows) else None
    }

  /** A direct-read row → T, built once per store if every field is a flat
    * supported type; None disables the fast path (the Spark decode handles
    * everything). Strings wrap the row's cached UTF-8 bytes, no copy.
    */
  private lazy val directDecoder: Option[DirectParquetRead.Row => T] =
    try {
      import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.types._
      val exprEncOpt = enc match {
        case e: ExpressionEncoder[T @unchecked] => Some(e)
        case a: AgnosticEncoder[T @unchecked]   => Some(ExpressionEncoder(a))
        case _                                  => None
      }
      exprEncOpt.flatMap { exprEnc =>
      val fields = exprEnc.schema.fields
      val supported = fields.forall(_.dataType match {
        case LongType | IntegerType | DoubleType | FloatType | BooleanType |
             StringType | BinaryType | ShortType | ByteType => true
        case _ => false
      })
      if (!supported) None
      else {
        val resolved = exprEnc.resolveAndBind()
        // deserializers carry mutable projection state → one per thread
        val deser = ThreadLocal.withInitial(() => resolved.createDeserializer())
        Some { r =>
          val row = new GenericInternalRow(fields.length)
          var i = 0
          while (i < fields.length) {
            val f = fields(i)
            val c = r.column(f.name)
            row.update(i,
              if (c < 0 || r.isNull(c)) null
              else f.dataType match {
                case StringType => r.utf8(c)
                case ShortType  => r.value(c).asInstanceOf[Int].toShort
                case ByteType   => r.value(c).asInstanceOf[Int].toByte
                case _          => r.value(c)
              })
            i += 1
          }
          deser.get()(row)
        }
      }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Bounds-checked range read — reference `getx` (src/vector_engine.rs:40-46).
    * Ranges of at most `directBatchLimit` rows read every row through the
    * direct-parquet path on one snapshot (no Spark job; a 16-row range of
    * cached pages takes ~0.4-0.5 ms);
    * longer ranges, and any short one with a row the direct path can't
    * serve, run one pruned Spark read.
    */
  def getx(index: Long, count: Long): Option[Seq[T]] = getx(table.snapshot, index, count)

  /** [[getx]] with the bound check and the read on one snapshot `s`. */
  private[core] def getx(s: VectorTable.Snapshot, index: Long, count: Long): Option[Seq[T]] =
    if (index < 0 || count < 0 || index + count > s.manifest.length) None
    else Some(
      (if (count <= VectorStore.directBatchLimit) directAll(s, index until index + count) else None)
        .getOrElse(decode(table.rangeOf(s.manifest, index, count))))

  /** Batched point reads — amortizes lookup cost across a batch;
    * out-of-range ids are simply absent from the result (total, like
    * `get`). Small batches (≤ `directBatchLimit`) serve from the
    * direct-parquet path when every key resolves there (no job; per key as
    * in [[get]]); larger batches — or any direct miss — fall back to ONE Spark job
    * with the IN-filter pushed to the scan, which amortizes better as the
    * batch grows and row groups get revisited.
    */
  def getMany(indices: Seq[Long]): Map[Long, T] = {
    if (indices.isEmpty) return Map.empty
    val s = table.snapshot
    if (indices.size <= VectorStore.directBatchLimit) {
      val inRange = indices.distinct.filter(i => i >= 0 && i < s.manifest.length)
      directAll(s, inRange) match {
        case Some(hits) => return inRange.zip(hits).toMap
        case None       => ()
      }
    }
    val df = table.pointsOf(s.manifest, indices)
    val payload = df.columns.filterNot(_ == VectorTable.ROWID).map(col)
    df.select(col(VectorTable.ROWID), struct(payload: _*).as("v"))
      .as[(Long, T)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, enc))
      .collect().toMap
  }

  /** Records whose indexed key equals `value`: secondary-index lookup +
    * batched point reads (small hit sets ride the direct-parquet path).
    * Result is in rowid order.
    */
  def findBy(index: SecondaryIndex, value: Any): Seq[T] = {
    val ids = index.lookup(value).sorted
    val hit = getMany(ids)
    ids.flatMap(hit.get)
  }

  /** Full scan — reference `getall` (src/vector_engine.rs:47-53). */
  def getall(): Option[Seq[T]] =
    if (isEmpty) None else Some(decode(table.scan()))

  /** The store as a Dataset (insertion order not guaranteed without an
    * explicit sort — use `_rowid` when order matters).
    */
  def toDS(): Dataset[T] =
    table.scan().drop(VectorTable.ROWID).as[T](enc)

  /** Collect in rowid order. Every row ends up on the driver regardless, so
    * ordering there (an O(n log n) array sort over already-collected pairs)
    * replaces the cluster-wide range-exchange `orderBy` would plan — at 1M
    * rows that exchange shuffles the full table once just to feed a collect.
    * Single-column stores keep the sorted-scan path (the tuple-encoder trick
    * needs a struct to carry the payload).
    */
  private def decode(df: org.apache.spark.sql.DataFrame): Seq[T] = {
    val dataCols = df.columns.filterNot(_ == VectorTable.ROWID)
    if (dataCols.length > 1) {
      implicit val pairEnc: Encoder[(Long, T)] =
        org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.scalaLong, enc)
      df.select(col(VectorTable.ROWID).as("_1"), struct(dataCols.map(col): _*).as("_2"))
        .as[(Long, T)]
        .collect()
        .sortBy(_._1)
        .toSeq
        .map(_._2)
    } else
      df.orderBy(col(VectorTable.ROWID))
        .drop(VectorTable.ROWID)
        .as[T](enc)
        .collect()
        .toSeq
  }
}

object VectorStore {
  /** getMany batches and getx ranges up to this size try the direct path
    * first; beyond it one Spark job amortizes better once pages are cold.
    * Measured on store_serving (4 cpus): ~40 µs a key from a cached
    * decoded page, ~0.5 ms for an uncached single-row read and ~3 ms for
    * a read that decodes a 500-row page, vs ~130 ms flat for the batched
    * job (local[32], warm footers).
    */
  val directBatchLimit = 16

  def create[T: Encoder](spark: SparkSession, root: String): VectorStore[T] =
    new VectorStore[T](VectorTable.create(spark, root))

  def open[T: Encoder](spark: SparkSession, root: String): VectorStore[T] =
    new VectorStore[T](VectorTable.open(spark, root))
}
