package graft.operators

import graft.core.{Memo, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, decoded/feature-extracted per partition.
  *
  * The image path uses a REAL codec — the JDK's `javax.imageio` PNG
  * encoder/decoder (zero extra dependencies): a parquet fixture of
  * deterministic PNGs is built once per corpus, and the decode/thumbnail
  * queries run actual PNG decodes per partition (the Scala analog of
  * `mapInPandas` batch processing: amortized setup, streaming iterators,
  * no driver collect). Because the fixture's pixels are a closed form of
  * doc_id, the DuckDB oracle predicts every decoded statistic
  * analytically — a codec or plumbing defect fails the hash gate.
  * Payload-level operators (metadata, chunking, frame energy, dedup) run
  * on the text-reinterpreted binary table, agnostic to the codec.
  */
object Multimodal {

  /** documents.text reinterpreted as an opaque binary payload — the column
    * layout an image/audio table would use: (id, blob, metadata...).
    */
  def asBinaryTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      col("source"),
      col("n_chars"))

  /** Metadata extraction without decoding: size + cryptographic digest —
    * pure column expressions, oracle-checkable.
    */
  def binaryMetadata(s: SparkSession, d: String): DataFrame =
    asBinaryTable(s, d).select(
      col("doc_id"),
      length(col("payload")).as("n_bytes"),
      sha2(col("payload"), 256).as("digest"),
      substring(hex(col("payload")), 1, 16).as("magic_hex"),
      col("source"))

  val binaryMetadataSql: String =
    """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
      | sha256(text) AS digest,
      | UPPER(substr(hex(CAST(text AS BLOB)), 1, 16)) AS magic_hex,
      | source
      |FROM documents""".stripMargin

  /** Fixed-size chunking with stride sampling — the frame-sample/resize
    * shape for audio/video payloads: split each payload into 32-byte
    * frames, keep every 4th, fingerprint each kept frame. Pure column
    * expressions (explode over a sequence), so the 100 TB form is a
    * map-only stage with no shuffle; a real codec would replace the md5
    * with a decode-and-featurize per frame.
    */
  def payloadChunks(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("i", explode(expr(
        "CASE WHEN n_chars > 0 THEN sequence(0, CAST(ceil(n_chars / 32.0) AS INT) - 1) ELSE array() END")))
      .where(pmod(col("i"), lit(4)) === 0)
      .select(
        col("doc_id"),
        col("i").cast("long").as("chunk_idx"),
        expr("length(substring(text, i * 32 + 1, 32))").as("chunk_len"),
        expr("md5(substring(text, i * 32 + 1, 32))").as("chunk_digest"))

  val payloadChunksSql: String =
    """SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
      | length(substr(text, CAST(i * 32 + 1 AS INTEGER), 32)) AS chunk_len,
      | md5(substr(text, CAST(i * 32 + 1 AS INTEGER), 32)) AS chunk_digest
      |FROM (SELECT doc_id, text,
      |        unnest(range(0, CAST(ceil(n_chars / 32.0) AS BIGINT))) AS i
      |      FROM documents WHERE n_chars > 0)
      |WHERE i % 4 = 0""".stripMargin

  /** Per-frame energy profile over the raw payload bytes — the codec-free
    * audio/video framing analysis (silence detection, peak localization):
    * 64-byte frames, per-frame unsigned-byte sums via the fused
    * [[graft.functions.ByteFrameEnergy]] kernel, then peak frame by
    * argmax (ties → lowest index, `array_position` of the max in both
    * engines). All integer arithmetic, so the oracle — which must walk
    * the hex string two chars at a time — matches bit-for-bit. Map-only:
    * at 100 TB this is one codegen'd pass over the payload column.
    */
  val frameEnergySize = 64

  def frameEnergy(s: SparkSession, d: String): DataFrame =
    asBinaryTable(s, d)
      .where(col("n_chars") > 0)
      .withColumn("energies",
        graft.functions.VectorFunctions.byteFrameEnergyF(col("payload"), frameEnergySize))
      .select(
        col("doc_id"),
        size(col("energies")).cast("long").as("n_frames"),
        expr("aggregate(energies, CAST(0 AS BIGINT), (a, x) -> a + x)").as("total_energy"),
        (array_position(col("energies"), array_max(col("energies"))) - 1L).as("peak_idx"),
        array_max(col("energies")).as("peak_energy"))

  val frameEnergySql: String =
    s"""WITH b AS (
       |  SELECT doc_id, hex(CAST(text AS BLOB)) AS h,
       |         octet_length(CAST(text AS BLOB)) AS n
       |  FROM documents WHERE n_chars > 0),
       | f AS (
       |  SELECT doc_id,
       |   list_transform(range(0, CAST(ceil(n / $frameEnergySize.0) AS BIGINT)), fi ->
       |     list_reduce(list_prepend(CAST(0 AS BIGINT),
       |       list_transform(range(fi * $frameEnergySize, least((fi + 1) * $frameEnergySize, n)),
       |         j -> CAST(('0x' || substr(h, CAST(2 * j + 1 AS INTEGER), 2)) AS BIGINT))),
       |       (a, x) -> a + x)) AS energies
       |  FROM b)
       |SELECT doc_id, CAST(len(energies) AS BIGINT) AS n_frames,
       | list_reduce(list_prepend(CAST(0 AS BIGINT), energies), (a, x) -> a + x) AS total_energy,
       | CAST(list_position(energies, list_max(energies)) - 1 AS BIGINT) AS peak_idx,
       | list_max(energies) AS peak_energy
       |FROM f""".stripMargin

  /** Schema produced by the PNG decoder. */
  val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("mean_byte", DoubleType, nullable = false)
  ))

  // PNG fixture geometry/pixels: closed-form in doc_id so the oracle can
  // predict every decoded statistic WITHOUT a codec. The Spark side runs
  // the real codec both ways (ImageIO PNG encode at fixture build, decode
  // in the queries); any codec/plumbing defect diverges the decoded stats
  // from the analytic oracle values and fails the hash gate.
  private def pngW(id: Long): Int = (id % 16 + 8).toInt
  private def pngH(id: Long): Int = (id % 11 + 8).toInt
  private def pngV(id: Long, x: Int, y: Int, c: Int): Int =
    ((id * 31 + 7L * x + 13L * y + 101L * c) % 256).toInt

  /** Real PNG bytes for one document: deterministic RGB pixels through the
    * JDK's ImageIO PNG encoder (lossless 8-bit — decode recovers the exact
    * samples).
    */
  def pngEncode(id: Long): Array[Byte] = {
    val (w, h) = (pngW(id), pngH(id))
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < 3) { raster.setSample(x, y, c, pngV(id, x, y, c)); c += 1 }
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Parquet fixture of REAL PNG payloads, one per document, built once
    * per (machine, corpus dir) behind the pointer protocol — the binary
    * column flows through parquet exactly like a production image table.
    */
  def pngFixture(s: SparkSession, d: String): DataFrame = {
    val dir = Memo.machine(s, "graft-png-fixtures", "png", d) { root =>
      val ids = Tables.documents(s, d).select("doc_id")
      val rows = ids.rdd.mapPartitions(_.map { r =>
        Row(r.getLong(0), pngEncode(r.getLong(0)))
      })
      s.createDataFrame(rows, StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("payload", BinaryType, nullable = false))))
        .write.mode("overwrite").parquet(root.toString)
    }
    s.read.parquet(dir)
  }

  /** Partition-wise PNG decode: the `mapInPandas`-shaped stage. One
    * decoder instantiation per row via ImageIO (its readers are per-call;
    * the per-partition iterator keeps setup amortizable for codecs that
    * need it), iterator in / iterator out, rows with an explicit schema.
    * Emitted stats are order-invariant over samples (sum → mean), so they
    * are insensitive to the decoder's internal band order.
    */
  /** Decode one PNG with a REUSED reader over a memory-backed stream.
    * `ImageIO.read(InputStream)` pays two per-call costs a per-row decode
    * loop must not: a reader-REGISTRY scan per image, and — the expensive
    * one — the default `FileCacheImageInputStream` wrapper, which spools
    * every image through a temp FILE, so decode throughput silently
    * inherits /tmp's disk speed (the round-18 driver window measured
    * mm_decode_features at 2.4× exactly because of this coupling). One
    * reader per partition + `MemoryCacheImageInputStream` keeps the whole
    * decode in memory; the decoded raster is bit-identical (same codec).
    */
  private def decodePng(reader: javax.imageio.ImageReader,
                        bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try { reader.setInput(iis, true, true); reader.read(0) }
    finally iis.close()
  }
  private def pngReader(): javax.imageio.ImageReader =
    javax.imageio.ImageIO.getImageReadersByFormatName("png").next()

  def decodeFeatures(s: SparkSession, d: String): DataFrame = {
    val bin = pngFixture(s, d)
    val rows = bin.rdd.mapPartitions { it =>
      val reader = pngReader() // once per task, not per row (guide §4.5)
      it.map { r =>
        val id = r.getLong(0)
        val img = decodePng(reader, r.getAs[Array[Byte]](1))
        val raster = img.getRaster
        val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var b = 0
            while (b < bands) { sum += raster.getSample(x, y, b); b += 1 }
            x += 1
          }
          y += 1
        }
        Row(id, w, h, bands, sum.toDouble / (w.toLong * h * bands).toDouble)
      }
    }
    s.createDataFrame(rows, decodedSchema)
  }

  /** The fixture's closed-form pixel model evaluated analytically — the
    * oracle predicts what a CORRECT codec must decode (integer sums, one
    * final divide).
    */
  val decodeFeaturesSql: String =
    """SELECT doc_id,
      | CAST(doc_id % 16 + 8 AS INTEGER) AS width,
      | CAST(doc_id % 11 + 8 AS INTEGER) AS height,
      | 3 AS channels,
      | CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        flatten(list_transform(range(0, doc_id % 16 + 8), x ->
      |          flatten(list_transform(range(0, doc_id % 11 + 8), y ->
      |            list_transform(range(0, 3), c ->
      |              (doc_id * 31 + 7 * x + 13 * y + 101 * c) % 256)))))),
      |      (acc, v) -> acc + v) AS DOUBLE)
      |   / CAST((doc_id % 16 + 8) * (doc_id % 11 + 8) * 3 AS DOUBLE) AS mean_byte
      |FROM documents""".stripMargin

  /** Schema of the thumbnail/feature stage: an 8-bin histogram of DECODED
    * pixel samples per image (the fixed-width featurization step after
    * "resize/decode").
    */
  val thumbnailSchema: StructType = StructType(
    StructField("doc_id", LongType, nullable = false) +:
      (0 until 8).map(b => StructField(s"h$b", IntegerType, nullable = false)))

  /** Fixed-size-batch feature extraction over REAL decoded pixels — the
    * `mapInPandas` batch contract made explicit: the partition iterator is
    * processed in batches of 64 rows (a real codec/model amortizes
    * per-BATCH setup — tensor allocation, accelerator dispatch — not just
    * per-partition), and each PNG decodes to a fixed-width feature row
    * (8-bin pixel-sample histogram — order-invariant, so band order
    * doesn't matter). Streaming iterators end to end: nothing
    * materializes beyond one batch per partition.
    */
  def thumbnailHistogram(s: SparkSession, d: String): DataFrame = {
    val bin = pngFixture(s, d)
    val rows = bin.rdd.mapPartitions { it =>
      val reader = pngReader() // once per task, not per row (guide §4.5)
      it.grouped(64).flatMap { batch =>
        // per-batch decoder setup would live here
        batch.map { r =>
          val img = decodePng(reader, r.getAs[Array[Byte]](1))
          val raster = img.getRaster
          val h = new Array[Int](8)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              var b = 0
              while (b < raster.getNumBands) {
                h(raster.getSample(x, y, b) >> 5) += 1
                b += 1
              }
              x += 1
            }
            y += 1
          }
          Row.fromSeq(r.getLong(0) +: h.toIndexedSeq)
        }
      }
    }
    s.createDataFrame(rows, thumbnailSchema)
  }

  /** The fixture pixel model's histogram, analytically — what a correct
    * decode must histogram to.
    */
  val thumbnailHistogramSql: String = {
    val samples =
      """flatten(list_transform(range(0, doc_id % 16 + 8), x ->
        |          flatten(list_transform(range(0, doc_id % 11 + 8), y ->
        |            list_transform(range(0, 3), c ->
        |              (doc_id * 31 + 7 * x + 13 * y + 101 * c) % 256)))))""".stripMargin
    val bins = (0 until 8).map(b =>
      s"CAST(len(list_filter($samples, v -> v // 32 = $b)) AS INTEGER) AS h$b")
      .mkString(",\n ")
    s"""SELECT doc_id,
       | $bins
       |FROM documents""".stripMargin
  }

  /** Exact binary dedup by content digest — the multimodal twin of text
    * exact-dedup: digests computed in the scan projection (the payload
    * itself never shuffles), one distinct aggregation, plus per-source
    * duplicate accounting so the result is non-empty even on a dupe-free
    * corpus (a 0-row oracle row proves nothing).
    */
  def binaryDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    asBinaryTable(s, d)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_payloads"),
        countDistinct(sha2(col("payload"), 256)).as("n_distinct"),
        (count(lit(1)) - countDistinct(sha2(col("payload"), 256))).as("n_dupes"),
        min(col("doc_id")).as("first_doc"))
  }

  val binaryDedupSql: String =
    """SELECT source, COUNT(*) AS n_payloads,
      | COUNT(DISTINCT sha256(text)) AS n_distinct,
      | COUNT(*) - COUNT(DISTINCT sha256(text)) AS n_dupes,
      | MIN(doc_id) AS first_doc
      |FROM documents GROUP BY source""".stripMargin

  /** Cross-modality fusion: documents joined to their embedding rows
    * (doc_id = vec_id) — the text × vector join every RAG/curation pipeline
    * runs. Emits text quality proxies next to the embedding norm; the join
    * is key-to-key (co-partitionable at scale; broadcast at corpus ratios
    * where embeddings ≪ documents).
    */
  def docEmbeddingFusion(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), size(split(col("text"), " ")).as("n_tokens"))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"), col("label"),
        sqrt(graft.functions.VectorFunctions.dotF(col("embedding"), col("embedding")))
          .as("norm"))
    docs.join(emb, "doc_id")
      .select("doc_id", "n_chars", "n_tokens", "label", "norm")
  }

  val docEmbeddingFusionSql: String =
    s"""SELECT d.doc_id, d.n_chars,
       | CAST(len(string_split(d.text, ' ')) AS INTEGER) AS n_tokens,
       | e.label,
       | sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |   list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)),
       |   (acc, p) -> acc + p)) AS norm
       |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id""".stripMargin
}
