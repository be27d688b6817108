package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the embedding hot path (SURVEY.md §2.7:
  * scalar extensions as codegen'd `Expression`s, the fastest extension tier —
  * preferred over Scala UDFs because they stay inside whole-stage codegen:
  * no SerDe boundary, no boxing of the Float arrays, one fused loop per row).
  *
  * Numeric contract: accumulation is a strict left-to-right fold over
  * `(double) a[i] * (double) b[i]`, the same order as Spark's
  * `aggregate(zip_with(...))` and DuckDB's `list_reduce` — results are
  * bit-identical to the declarative forms, so swapping these in cannot
  * change oracle hashes.
  *
  * At 100 TB scale this is the difference between an embarrassingly
  * parallel codegen'd scan and an interpreter loop per element: brute-force
  * scoring over a 64-dim float column drops from per-element Catalyst
  * dispatch (zip_with builds an intermediate array per row) to a tight
  * JIT-compiled loop with zero allocation.
  */
abstract class FloatVectorFold extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, got ${left.dataType.sql} and ${right.dataType.sql}")
  }
}

/** dot_f(a, b): Σ (double)a[i]·(double)b[i] over Array[Float] columns. */
case class DotProductF(left: Expression, right: Expression) extends FloatVectorFold {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine_f(a, b): dot/(√‖a‖²·√‖b‖²) in one fused pass (three accumulators,
  * identical fold order to the three separate `aggregate` calls it replaces).
  * Returns NaN for a zero-norm input, like the declarative form.
  */
case class CosineSimilarityF(left: Expression, right: Expression) extends FloatVectorFold {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $x.getFloat($i);
         |  double $yi = (double) $y.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** sq_recon_cosine(x, q): int8 scalar-quantize `x` per-vector (code_i =
  * clamp(floor((x_i − mn)/scale + 0.5), 0, 255) with scale = (mx − mn)/255),
  * reconstruct x̂_i = mn + code_i·scale, and return cosine(x̂, q) — the whole
  * quantize→reconstruct→score path in one fused codegen'd loop.
  *
  * This is the serving shape for compressed-corpus search at 100 TB: the
  * 4-byte-float column shrinks 4× to int8 codes + 2 floats, and scoring
  * against the compressed form costs one tight loop, not a decode
  * materialization. A constant vector (scale = 0) reconstructs exactly to
  * `mn` — guarded so the quantizer itself never divides by zero. A
  * zero-NORM input still yields NaN (0/0 in the final division), matching
  * `cosine_f` and the oracle: DuckDB also produces NaN and both engines
  * order NaN above every real double, so cross-engine results agree. The
  * quantizer's min/max pass covers the FULL corpus vector (the documented
  * per-vector SQ8 contract) even if the query is shorter; the scoring
  * loop runs over the common prefix. Fold order matches the declarative/
  * oracle form (one left-to-right pass, three accumulators), so results
  * are bit-identical to DuckDB's `list_reduce` folds.
  */
case class SqReconCosine(left: Expression, right: Expression) extends FloatVectorFold {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val q = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), q.numElements())
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var i = 0
    while (i < x.numElements()) {
      val v = x.getFloat(i).toDouble
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    val scale = (mx - mn) / 255.0
    var dot = 0.0
    var nr = 0.0
    var nq = 0.0
    i = 0
    while (i < n) {
      val qi = q.getFloat(i).toDouble
      val recon =
        if (scale == 0.0) mn
        else {
          val code = math.min(255.0, math.max(0.0, math.floor((x.getFloat(i).toDouble - mn) / scale + 0.5)))
          mn + code * scale
        }
      dot += recon * qi; nr += recon * recon; nq += qi * qi
      i += 1
    }
    dot / (math.sqrt(nr) * math.sqrt(nq))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, q) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val mn = ctx.freshName("mn")
      val mx = ctx.freshName("mx")
      val v = ctx.freshName("v")
      val scale = ctx.freshName("scale")
      val dot = ctx.freshName("dot")
      val nr = ctx.freshName("nr")
      val nq = ctx.freshName("nq")
      val qi = ctx.freshName("qi")
      val code = ctx.freshName("code")
      val recon = ctx.freshName("recon")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $q.numElements());
         |double $mn = Double.POSITIVE_INFINITY; double $mx = Double.NEGATIVE_INFINITY;
         |for (int $i = 0; $i < $x.numElements(); $i++) {
         |  double $v = (double) $x.getFloat($i);
         |  if ($v < $mn) $mn = $v;
         |  if ($v > $mx) $mx = $v;
         |}
         |double $scale = ($mx - $mn) / 255.0;
         |double $dot = 0.0; double $nr = 0.0; double $nq = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $qi = (double) $q.getFloat($i);
         |  double $recon;
         |  if ($scale == 0.0) { $recon = $mn; } else {
         |    double $code = java.lang.Math.min(255.0, java.lang.Math.max(0.0,
         |      java.lang.Math.floor((((double) $x.getFloat($i)) - $mn) / $scale + 0.5)));
         |    $recon = $mn + $code * $scale;
         |  }
         |  $dot += $recon * $qi; $nr += $recon * $recon; $nq += $qi * $qi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nr) * java.lang.Math.sqrt($nq));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** pq_adc(x, codebook, q): product-quantization ADC distance in one fused
  * codegen'd kernel — for each of the M subspaces, argmin over the K
  * codebook entries of the subspace L2² (strict `<`, so ties keep the
  * lower code — the same semantics as lexicographic (dist, code) min),
  * then accumulate ‖q_m − c_{m,code}‖² in subspace order. Bit-identical
  * to the declarative HOF form (PqEquivalenceSpec / the DuckDB oracle):
  * every fold runs left-to-right over the same element order. The
  * declarative form costs ~ms/row in interpreted lambda dispatch; this is
  * a tight JIT loop — the difference between a 100 TB ADC scan being
  * feasible and not. `numSub` subspaces of `x.length / numSub` dims each.
  */
case class PqAdcDistance(first: Expression, second: Expression, third: Expression, numSub: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    def flat(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    val nested = second.dataType match {
      case ArrayType(ArrayType(FloatType, _), _) => true
      case _                                     => false
    }
    if (flat(first.dataType) && nested && flat(third.dataType) && numSub > 0)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_adc requires (ARRAY<FLOAT>, ARRAY<ARRAY<FLOAT>>, ARRAY<FLOAT>, numSub>0)")
  }

  override def nullSafeEval(xv: Any, cbv: Any, qv: Any): Any = {
    val x = xv.asInstanceOf[ArrayData]
    val cb = cbv.asInstanceOf[ArrayData]
    val q = qv.asInstanceOf[ArrayData]
    val dim = x.numElements()
    val sub = dim / numSub
    val k = cb.numElements()
    // geometry guard: the contract is full-dim codebook entries; a short
    // entry would read out of bounds under UnsafeArrayData (garbage, not
    // an error), and an empty codebook would index entry -1
    if (k == 0 || cb.getArray(0).numElements() < dim || q.numElements() < dim)
      throw new IllegalArgumentException(
        s"pq_adc: requires a non-empty codebook of >=${dim}-dim entries and a >=${dim}-dim query")
    var adc = 0.0
    var m = 0
    while (m < numSub) {
      var best = Double.PositiveInfinity
      var bestA = -1
      var a = 0
      while (a < k) {
        val c = cb.getArray(a)
        var d = 0.0
        var i = 0
        while (i < sub) {
          val diff = x.getFloat(m * sub + i).toDouble - c.getFloat(m * sub + i).toDouble
          d += diff * diff
          i += 1
        }
        if (d < best) { best = d; bestA = a }
        a += 1
      }
      val c = cb.getArray(bestA)
      var qd = 0.0
      var i = 0
      while (i < sub) {
        val diff = q.getFloat(m * sub + i).toDouble - c.getFloat(m * sub + i).toDouble
        qd += diff * diff
        i += 1
      }
      adc += qd
      m += 1
    }
    adc
  }

  // Emitted lines must not START with '|': Spark's Block materialization
  // stripMargins nested code again, eating one margin char per nesting
  // level (a leading "||" became "" and silently demoted this kernel to
  // interpreted mode — caught by CodegenFallbackSpec).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, cb, q) => {
      val sub = ctx.freshName("sub")
      val k = ctx.freshName("k")
      val adc = ctx.freshName("adc")
      val m = ctx.freshName("m")
      val a = ctx.freshName("a")
      val i = ctx.freshName("i")
      val best = ctx.freshName("best")
      val bestA = ctx.freshName("bestA")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val qd = ctx.freshName("qd")
      val diff = ctx.freshName("diff")
      s"""
         |int $sub = $x.numElements() / $numSub;
         |int $k = $cb.numElements();
         |if ($k == 0 || $cb.getArray(0).numElements() < $x.numElements() ||
         |    $q.numElements() < $x.numElements()) {
         |  throw new IllegalArgumentException(
         |    "pq_adc: requires a non-empty codebook of full-dim entries and a full-dim query");
         |}
         |double $adc = 0.0;
         |for (int $m = 0; $m < $numSub; $m++) {
         |  double $best = Double.POSITIVE_INFINITY;
         |  int $bestA = -1;
         |  for (int $a = 0; $a < $k; $a++) {
         |    org.apache.spark.sql.catalyst.util.ArrayData $c = $cb.getArray($a);
         |    double $d = 0.0;
         |    for (int $i = 0; $i < $sub; $i++) {
         |      double $diff = ((double) $x.getFloat($m * $sub + $i)) - ((double) $c.getFloat($m * $sub + $i));
         |      $d += $diff * $diff;
         |    }
         |    if ($d < $best) { $best = $d; $bestA = $a; }
         |  }
         |  org.apache.spark.sql.catalyst.util.ArrayData $c = $cb.getArray($bestA);
         |  double $qd = 0.0;
         |  for (int $i = 0; $i < $sub; $i++) {
         |    double $diff = ((double) $q.getFloat($m * $sub + $i)) - ((double) $c.getFloat($m * $sub + $i));
         |    $qd += $diff * $diff;
         |  }
         |  $adc += $qd;
         |}
         |${ev.value} = $adc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** pq_recon_err(x, codebook): PQ reconstruction error Σ_m min_a ‖x_m −
  * c_{a,m}‖² — the quantity PQ training minimizes — in one fused codegen'd
  * kernel. This is [[PqAdcDistance]]'s argmin half with the best distance
  * itself accumulated: same subspace walk, same strict-`<` argmin, same
  * m-ordered left-fold accumulation, so it is bit-identical to the
  * declarative `aggregate(... array_min(transform(...)))` form
  * (PqEquivalenceSpec) — which Spark evaluates as an INTERPRETED
  * CodegenFallback lambda tree costing ~10× per row; a corpus-sized
  * error scan (the trained-vs-anchor quality gate) needs the tight loop.
  * `numSub` subspaces of `x.length / numSub` dims each.
  */
case class PqReconError(left: Expression, right: Expression, numSub: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val flat = left.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    val nested = right.dataType match {
      case ArrayType(ArrayType(FloatType, _), _) => true
      case _                                     => false
    }
    if (flat && nested && numSub > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_recon_err requires (ARRAY<FLOAT>, ARRAY<ARRAY<FLOAT>>, numSub>0), got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(xv: Any, cbv: Any): Any = {
    val x = xv.asInstanceOf[ArrayData]
    val cb = cbv.asInstanceOf[ArrayData]
    val dim = x.numElements()
    val sub = dim / numSub
    val k = cb.numElements()
    if (k == 0 || cb.getArray(0).numElements() < dim)
      throw new IllegalArgumentException(
        s"pq_recon_err: requires a non-empty codebook of >=${dim}-dim entries")
    var err = 0.0
    var m = 0
    while (m < numSub) {
      var best = Double.PositiveInfinity
      var a = 0
      while (a < k) {
        val c = cb.getArray(a)
        var d = 0.0
        var i = 0
        while (i < sub) {
          val diff = x.getFloat(m * sub + i).toDouble - c.getFloat(m * sub + i).toDouble
          d += diff * diff
          i += 1
        }
        if (d < best) best = d
        a += 1
      }
      err += best
      m += 1
    }
    err
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, cb) => {
      val sub = ctx.freshName("sub")
      val k = ctx.freshName("k")
      val err = ctx.freshName("err")
      val m = ctx.freshName("m")
      val a = ctx.freshName("a")
      val i = ctx.freshName("i")
      val best = ctx.freshName("best")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      s"""
         |int $sub = $x.numElements() / $numSub;
         |int $k = $cb.numElements();
         |if ($k == 0 || $cb.getArray(0).numElements() < $x.numElements()) {
         |  throw new IllegalArgumentException(
         |    "pq_recon_err: requires a non-empty codebook of full-dim entries");
         |}
         |double $err = 0.0;
         |for (int $m = 0; $m < $numSub; $m++) {
         |  double $best = Double.POSITIVE_INFINITY;
         |  for (int $a = 0; $a < $k; $a++) {
         |    org.apache.spark.sql.catalyst.util.ArrayData $c = $cb.getArray($a);
         |    double $d = 0.0;
         |    for (int $i = 0; $i < $sub; $i++) {
         |      double $diff = ((double) $x.getFloat($m * $sub + $i)) - ((double) $c.getFloat($m * $sub + $i));
         |      $d += $diff * $diff;
         |    }
         |    if ($d < $best) { $best = $d; }
         |  }
         |  $err += $best;
         |}
         |${ev.value} = $err;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** centroid_sims(x, centroids): cosine(x, centroids[j]) for every j, as one
  * fused codegen'd loop returning ARRAY<DOUBLE> — the IVF assignment kernel
  * for corpus-scaled cell counts. The inline alternative (one
  * `cosine_f(x, lit(c_j))` column per centroid) generates O(cells) separate
  * expressions each re-walking the vector: fine at 8 cells, a
  * Janino-compile and code-size blowup at 4096. Here the generated code is
  * constant-size in the cell count, the query vector norm is computed once,
  * and each element is bit-identical to `cosine_f(x, c_j)` (same left
  * folds: ‖x‖² once over x, then per centroid dot and ‖c‖² in element
  * order), so swapping paths cannot change an argmax or an oracle hash.
  */
case class CentroidSims(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val flat = left.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    val nested = right.dataType match {
      case ArrayType(ArrayType(FloatType, _), _) => true
      case _                                     => false
    }
    if (flat && nested) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"centroid_sims requires (ARRAY<FLOAT>, ARRAY<ARRAY<FLOAT>>), got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val cs = b.asInstanceOf[ArrayData]
    val k = cs.numElements()
    var nx = 0.0
    var i = 0
    while (i < x.numElements()) {
      val xi = x.getFloat(i).toDouble
      nx += xi * xi
      i += 1
    }
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      val c = cs.getArray(j)
      val n = math.min(x.numElements(), c.numElements())
      var dot = 0.0
      var nc = 0.0
      i = 0
      while (i < n) {
        val xi = x.getFloat(i).toDouble
        val ci = c.getFloat(i).toDouble
        dot += xi * ci; nc += ci * ci
        i += 1
      }
      out(j) = dot / (math.sqrt(nx) * math.sqrt(nc))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, cs) => {
      val k = ctx.freshName("k")
      val nx = ctx.freshName("nx")
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val dot = ctx.freshName("dot")
      val nc = ctx.freshName("nc")
      val xi = ctx.freshName("xi")
      val ci = ctx.freshName("ci")
      s"""
         |int $k = $cs.numElements();
         |double $nx = 0.0;
         |for (int $i = 0; $i < $x.numElements(); $i++) {
         |  double $xi = (double) $x.getFloat($i);
         |  $nx += $xi * $xi;
         |}
         |double[] $out = new double[$k];
         |for (int $j = 0; $j < $k; $j++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $c = $cs.getArray($j);
         |  int $n = java.lang.Math.min($x.numElements(), $c.numElements());
         |  double $dot = 0.0; double $nc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = (double) $x.getFloat($i);
         |    double $ci = (double) $c.getFloat($i);
         |    $dot += $xi * $ci; $nc += $ci * $ci;
         |  }
         |  $out[$j] = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($nc));
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** byte_frame_energy(payload, frameSize): per-frame unsigned-byte sums
  * over a binary column — the framing primitive for audio/video payload
  * analysis (silence detection, peak localization, scene-cut heuristics)
  * that needs no codec: exact integer arithmetic, so it oracle-checks
  * bit-for-bit. One pass over the bytes, codegen'd; the declarative
  * equivalent (hex string + substr + conv per byte) costs ~100× in
  * interpreted dispatch and string allocation.
  */
case class ByteFrameEnergy(child: Expression, frameSize: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.BinaryType && frameSize > 0)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"byte_frame_energy requires BINARY and frameSize > 0, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[Array[Byte]]
    val nf = (bytes.length + frameSize - 1) / frameSize
    val e = new Array[Long](nf)
    var j = 0
    while (j < bytes.length) { e(j / frameSize) += (bytes(j) & 0xFF).toLong; j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(e)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val nf = ctx.freshName("nf")
      val e = ctx.freshName("e")
      val j = ctx.freshName("j")
      s"""
         |int $nf = ($x.length + $frameSize - 1) / $frameSize;
         |long[] $e = new long[$nf];
         |for (int $j = 0; $j < $x.length; $j++) {
         |  $e[$j / $frameSize] += (long) ($x[$j] & 0xFF);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($e);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ln_m(x): natural log via `java.lang.Math.log`. Spark's builtin `ln`
  * routes through `StrictMath.log` (fdlibm), which differs from C-libm
  * `ln` (DuckDB, Python) by 1 ulp on some inputs — measured on the
  * weighted-sample hash uniforms. `Math.log` (interpreted and as the
  * HotSpot intrinsic) bit-matches libm on all tested inputs, so
  * oracle-checked queries that genuinely need a transcendental use this.
  */
case class LogM(child: Expression) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"ln_m requires DOUBLE, got ${child.dataType.sql}")
  override def nullSafeEval(x: Any): Any = java.lang.Math.log(x.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Math.log($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Bounded driver-side scoring panel for the semantic-recall truth face:
  * the sampled (vec_id, cell, c1, c2, embedding) universe as flat primitive
  * arrays, shipped into [[RecallPanelScore]] as a codegen reference object
  * (the [[graft.functions.BpeMerges]] shape). The panel is bounded by the
  * face's sample cap (`Similarity.recallSampleTarget` ≈ 5000 rows × dim
  * floats ≈ 1.3 MB, at most twice that: the face refuses corpora above
  * `Similarity.recallCorpusCeiling`) — the same class as the centroid
  * panels.
  *
  * Numeric contract: [[score]]'s cosine is the identical three-accumulator
  * left fold over the identical stored floats as [[CosineSimilarityF]]
  * applied to the joined embedding columns, so the sim doubles are
  * bit-for-bit the ones the broadcast-join formulation produced. Missing
  * ids (either end not in the panel) yield NULL — exactly the rows the
  * inner joins dropped. NULL cell/c1/c2 use a sentinel that can never
  * equal a real cell id, reproducing SQL null-equality semantics in the
  * `same_cell` / `top2_shared` flags (a NULL comparison never produces
  * `true`, and the downstream `count(when(...))`s treat NULL as false —
  * the `coalesce(..., false)` the joined form applied).
  */
final class RecallPanel(ids: Array[Long], offs: Array[Int], lens: Array[Int],
                        data: Array[Float], cell: Array[Int],
                        c1: Array[Int], c2: Array[Int]) extends Serializable {
  require(ids.length == offs.length && ids.length == lens.length &&
    ids.length == cell.length && ids.length == c1.length && ids.length == c2.length,
    "RecallPanel: column arrays must be parallel")

  def size: Int = ids.length

  /** The i-th panel id (ids ascending) — the face re-emits the panel's id
    * universe as the truth-pair id set.
    */
  def idAt(i: Int): Long = ids(i)

  /** (sim, same_cell, top2_shared) for a pair of panel ids, or null when
    * either id is absent. Cosine fold order == [[CosineSimilarityF]].
    */
  def score(ida: Long, idb: Long): org.apache.spark.sql.catalyst.InternalRow = {
    val ia = java.util.Arrays.binarySearch(ids, ida)
    val ib = java.util.Arrays.binarySearch(ids, idb)
    if (ia < 0 || ib < 0) return null
    val n = math.min(lens(ia), lens(ib))
    val oa = offs(ia)
    val ob = offs(ib)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = data(oa + i).toDouble
      val yi = data(ob + i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val sim = dot / (math.sqrt(na) * math.sqrt(nb))
    val ca = cell(ia); val cb = cell(ib)
    val sameCell = ca != RecallPanel.NullCell && cb != RecallPanel.NullCell && ca == cb
    val a1 = c1(ia); val a2 = c2(ia)
    val b1 = c1(ib); val b2 = c2(ib)
    val top2Shared =
      (a1 != RecallPanel.NullCell && (a1 == b1 || a1 == b2)) ||
        (a2 != RecallPanel.NullCell && (a2 == b1 || a2 == b2))
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](sim, sameCell, top2Shared))
  }
}

object RecallPanel {
  /** NULL sentinel for cell/c1/c2 — never equals a real (≥ 0) cell id, and
    * the flag logic guards the LEFT operand so sentinel == sentinel never
    * matches (SQL: NULL = NULL is NULL, and NULL || false is not true).
    */
  val NullCell: Int = Int.MinValue

  /** Build from driver rows (vec_id, cell | null, c1 | null, c2 | null,
    * embedding | null). Ids must be unique (the face's frames are keyed by
    * vec_id); a null embedding stores length 0, whose cosine is 0/0 = NaN —
    * dropped by the face's NaN filter exactly as the joined form's NULL sim
    * was.
    */
  def fromRows(rows: Array[org.apache.spark.sql.Row]): RecallPanel = {
    val sorted = rows.sortBy(_.getLong(0))
    val n = sorted.length
    val ids = new Array[Long](n)
    val offs = new Array[Int](n)
    val lens = new Array[Int](n)
    val cell = new Array[Int](n)
    val c1 = new Array[Int](n)
    val c2 = new Array[Int](n)
    var total = 0
    var i = 0
    while (i < n) {
      val r = sorted(i)
      ids(i) = r.getLong(0)
      cell(i) = if (r.isNullAt(1)) NullCell else r.getInt(1)
      c1(i) = if (r.isNullAt(2)) NullCell else r.getInt(2)
      c2(i) = if (r.isNullAt(3)) NullCell else r.getInt(3)
      lens(i) = if (r.isNullAt(4)) 0 else r.getSeq[Float](4).length
      offs(i) = total
      total += lens(i)
      i += 1
    }
    val data = new Array[Float](total)
    i = 0
    while (i < n) {
      if (lens(i) > 0) {
        val e = sorted(i).getSeq[Float](4)
        var j = 0
        while (j < lens(i)) { data(offs(i) + j) = e(j); j += 1 }
      }
      i += 1
    }
    new RecallPanel(ids, offs, lens, data, cell, c1, c2)
  }
}

/** recall_panel_score(doc_a, doc_b): STRUCT<sim DOUBLE, same_cell BOOLEAN,
  * top2_shared BOOLEAN> from a [[RecallPanel]] — the four broadcast-join
  * attachments (two embedding sides, two metadata sides) plus the cosine
  * kernel of the recall face fused into ONE in-stage lookup pair, so the
  * quadratic truth-pair stream flows scan → score → filter → aggregate
  * with no Exchange and no per-pair row copying of 2×dim float arrays.
  * NULL when either id is absent from the panel (the inner joins' drop).
  */
case class RecallPanelScore(left: Expression, right: Expression, panel: RecallPanel)
    extends BinaryExpression {
  import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

  override def dataType: DataType = StructType(Seq(
    StructField("sim", DoubleType, nullable = false),
    StructField("same_cell", BooleanType, nullable = false),
    StructField("top2_shared", BooleanType, nullable = false)))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two BIGINT arguments, got ${left.dataType.sql} and ${right.dataType.sql}")

  override def nullSafeEval(a: Any, b: Any): Any =
    panel.score(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("recallPanel", panel, classOf[RecallPanel].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = $ref.score($a, $b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-API + SQL-registration surface for the native expressions. */
object VectorFunctions {

  def dotF(a: Column, b: Column): Column =
    Bridge.column(DotProductF(Bridge.expression(a), Bridge.expression(b)))

  def cosineF(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarityF(Bridge.expression(a), Bridge.expression(b)))

  def sqReconCosineF(a: Column, b: Column): Column =
    Bridge.column(SqReconCosine(Bridge.expression(a), Bridge.expression(b)))

  def lnM(a: Column): Column = Bridge.column(LogM(Bridge.expression(a)))

  def pqReconErrF(x: Column, cb: Column, numSub: Int): Column =
    Bridge.column(PqReconError(Bridge.expression(x), Bridge.expression(cb), numSub))

  def centroidSimsF(x: Column, centroids: Column): Column =
    Bridge.column(CentroidSims(Bridge.expression(x), Bridge.expression(centroids)))

  def byteFrameEnergyF(a: Column, frameSize: Int): Column =
    Bridge.column(ByteFrameEnergy(Bridge.expression(a), frameSize))

  def pqAdcF(x: Column, cb: Column, q: Column, numSub: Int): Column =
    Bridge.column(PqAdcDistance(Bridge.expression(x), Bridge.expression(cb),
      Bridge.expression(q), numSub))

  def recallPanelScoreF(a: Column, b: Column, panel: RecallPanel): Column =
    Bridge.column(RecallPanelScore(Bridge.expression(a), Bridge.expression(b), panel))

  /** Register `dot_f` / `cosine_f` / `sq_recon_cosine` for SQL use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Bridge.registerFunction(spark, "dot_f", args => DotProductF(args(0), args(1)))
    Bridge.registerFunction(spark, "cosine_f", args => CosineSimilarityF(args(0), args(1)))
    Bridge.registerFunction(spark, "sq_recon_cosine", args => SqReconCosine(args(0), args(1)))
    Bridge.registerFunction(spark, "ln_m", args => LogM(args(0)))
    Bridge.registerFunction(spark, "centroid_sims", args => CentroidSims(args(0), args(1)))
    // pq_adc(x, codebook, q, numSub) — numSub must be an integer literal
    Bridge.registerFunction(spark, "pq_adc", args => PqAdcDistance(args(0), args(1), args(2),
      args(3) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"pq_adc: numSub must be an integer literal, got $other")
      }))
  }
}
