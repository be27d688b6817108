package perfbench

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, index), so the expected record for any rowid can be
  * recomputed when checking a read, without keeping the inputs around.
  */
object Gen {

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, stream: Long, i: Long): Long = mix(mix(seed * 31 + stream) ^ i)

  /** A small sequential PRNG for op sequences (SplitMix64 stream). */
  final class Rng(seed: Long) {
    private var state = mix(seed)
    def nextLong(): Long = { state += 0x9E3779B97F4A7C15L; mix(state) }
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
    def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
    /** Fisher-Yates shuffle of `xs` in place; returns `xs`. */
    def shuffle[A](xs: Array[A]): Array[A] = {
      var i = xs.length - 1
      while (i > 0) {
        val j = nextInt(i + 1)
        val t = xs(i); xs(i) = xs(j); xs(j) = t
        i -= 1
      }
      xs
    }
    def gaussian(): Double = {
      val u1 = math.max(nextDouble(), 1e-300)
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * nextDouble())
    }
  }

  // ---------------------------------------------------------------- store

  /** The SampleData row shape of the reference's harness: ints, a UTF-8
    * string with CJK text, a boolean and a nullable string. The value at
    * rowid `i` of the store seeded `seed` is `record(seed, i)`.
    */
  def record(seed: Long, i: Long): Rec = {
    val h = hash(seed, 1, i)
    Rec(
      myNumber1 = i.toInt,
      myString1 = s"Hello, World! 你好世界 $i ${h & 0xffff}",
      myNumber2 = (h >>> 33).toInt,
      myBoolean1 = (h & 1L) == 0L,
      myString2 =
        if (java.lang.Long.remainderUnsigned(h >>> 7, 7L) == 0L) None
        else Some(s"This is another longer string. $i ${(h >>> 40) & 0xfff}"))
  }

  def records(seed: Long, from: Long, count: Int): Seq[Rec] =
    (0 until count).map(k => record(seed, from + k))

  /** User payload bytes of one record (strings as UTF-8, fixed-width
    * fields at their width) — the denominator of `space_amp`.
    */
  def payloadBytes(r: Rec): Long =
    4L + r.myString1.getBytes("UTF-8").length + 4L + 1L +
      r.myString2.map(_.getBytes("UTF-8").length.toLong).getOrElse(0L)

  // --------------------------------------------------------------- corpus

  /** The generated corpus's token vocabulary and shape follow the LLM
    * tables of the TPC-H-ish test data: 30 short words, 10-100 tokens per
    * document, five languages, twenty sources, 64-d unit embeddings with
    * ten labels, one embedding per 2.5 documents.
    */
  val vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "big", "fast", "slow", "row", "the", "agg", "key", "query",
    "a", "scan", "batch", "hash", "join", "sort", "filter", "group", "order",
    "line", "part", "customer")
  private val langs = Array("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh", "zh",
    "de", "de", "de", "fr", "fr", "fr", "es", "es", "es")
  val dim = 64

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** Replica-0 documents of a corpus: mostly fresh random texts, with 5 %
    * near-copies (an earlier text plus one token) and 0.5 % exact copies,
    * so the dedup faces have real pairs to find.
    */
  def docs(seed: Long, n: Int): Array[Doc] = {
    val out = new Array[Doc](n)
    var i = 0
    while (i < n) {
      val r = new Rng(hash(seed, 2, i))
      val u = r.nextDouble()
      val text =
        if (i > 20 && u < 0.005) out(r.nextInt(i)).text
        else if (i > 20 && u < 0.055) out(r.nextInt(i)).text + " dup"
        else freshText(r)
      out(i) = Doc(i.toLong, text, langs(r.nextInt(langs.length)), s"src${i % 20}")
      i += 1
    }
    out
  }

  /** 10-100 random vocabulary words. */
  def freshText(r: Rng): String = {
    val len = 10 + r.nextInt(91)
    val sb = new StringBuilder
    var k = 0
    while (k < len) {
      if (k > 0) sb.append(' ')
      sb.append(vocab(r.nextInt(vocab.length)))
      k += 1
    }
    sb.toString
  }

  /** A random unit vector of [[dim]] floats. */
  def unitVector(r: Rng): Array[Float] = {
    val v = Array.fill(dim)(r.gaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** `base` moved by a small random step and renormalized. */
  def near(base: Array[Float], r: Rng, step: Double): Array[Float] = {
    val v = base.map(_.toDouble + step * r.gaussian() / math.sqrt(dim.toDouble))
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** Replica-0 embeddings: random unit vectors, 3 % of them near-copies of
    * an earlier vector.
    */
  def embeddings(seed: Long, n: Int): Array[(Long, Array[Float], Int)] = {
    val out = new Array[(Long, Array[Float], Int)](n)
    var i = 0
    while (i < n) {
      val r = new Rng(hash(seed, 3, i))
      val v =
        if (i > 20 && r.nextDouble() < 0.03) near(out(r.nextInt(i))._2, r, 0.2)
        else unitVector(r)
      out(i) = (i.toLong, v, r.nextInt(10))
      i += 1
    }
    out
  }

  /** Key-offset replica `rep` of a document (the engine's ScaleCorpus
    * scheme): ids shifted by a stride, every token tagged with the replica
    * so replicas share no shingles; replica 0 is the identity.
    */
  def replicaDoc(d: Doc, rep: Int, stride: Long): Doc =
    if (rep == 0) d
    else d.copy(docId = d.docId + rep * stride,
      text = d.text.split(' ').map(t => s"r${rep}x$t").mkString(" "))

  /** Key-offset replica of an embedding: rotated by `rep % 63 + 1`
    * positions (norm-preserving, a distinct vector); replica 0 is the
    * identity.
    */
  def replicaEmbedding(e: (Long, Array[Float], Int), rep: Int,
                       stride: Long): (Long, Array[Float], Int) =
    if (rep == 0) e
    else {
      val rot = rep % 63 + 1
      (e._1 + rep * stride, e._2.drop(rot) ++ e._2.take(rot), e._3)
    }
}

/** SampleData row (reference `tests/tests/sample_data_test.rs`). */
final case class Rec(myNumber1: Int, myString1: String, myNumber2: Int,
                     myBoolean1: Boolean, myString2: Option[String])
