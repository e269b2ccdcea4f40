package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Whole-vector transforms as single codegen passes.
  *
  * The higher-order forms these replace are CodegenFallback: every element
  * costs an interpreted lambda dispatch, and a literal-array `element_at`
  * inside the lambda re-evaluates the WHOLE CreateArray per access —
  * measured ~200 µs/row on 64-dim vectors (3.7–4.1 s for a 20k-row scan at
  * sf1: `simsearch_quant`, `embedding_abtt`, `rank_fusion_rrf`), vs ~0.2 µs
  * for these loops. Arithmetic is per-element IEEE double, identical
  * operation order to the HOF forms, so outputs are bit-identical (pinned
  * in FunctionsSpec) and the DuckDB oracles are untouched.
  *
  * Null-element contract: fixture embeddings carry no null elements (the
  * [[VectorDot]] family's standing contract). The HOF forms these kernels
  * claim bit-parity with PROPAGATE null elements; a primitive output array
  * cannot, so rather than silently zero-filling (a value change hidden
  * behind a parity claim — r13 advice) a null element THROWS, the TopKRows
  * 2^53-guard discipline: a contract breach surfaces loudly at the first
  * row that violates it.
  */
object VectorOps {

  private def nullElement(op: String, i: Int): Nothing =
    throw new IllegalArgumentException(
      s"$op: null element at position $i — the codegen kernel's output " +
        "array cannot hold nulls, and zero-filling would silently diverge " +
        "from the null-propagating HOF form it is pinned bit-equal to; " +
        "clean the vector column upstream (fixture embeddings are " +
        "null-free by contract)")

  /** Symmetric max-abs int8 quantization: scale = max|v|/127,
    * out_i = floor(v_i / scale + 0.5); an all-zero (or empty) vector maps
    * to zeros. Same double-op order as the HOF form
    * `transform(v, x => floor(x / (ma/127) + 0.5))`. */
  def quantize(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Double](n)
    var ma = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) nullElement("int8_quantize", i)
      val a = math.abs(v.getDouble(i))
      if (a > ma) ma = a
      i += 1
    }
    if (ma != 0.0) {
      val s = ma / 127.0d
      i = 0
      while (i < n) {
        out(i) = math.floor(v.getDouble(i) / s + 0.5d)
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** ABTT per-row transform: out_i = v_i − mu_i − pc_i·d (center on the
    * corpus mean, deflect the top principal direction scaled by the row's
    * precomputed projection d = pcᵀ(v−μ)). Output length is
    * min(|v|, |mu|, |pc|) — equal by the caller's dims contract. */
  def centerDeflect(v: ArrayData, d: Double, mu: Array[Double],
      pc: Array[Double]): ArrayData = {
    val n = math.min(v.numElements(), math.min(mu.length, pc.length))
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) nullElement("center_deflect", i)
      out(i) = v.getDouble(i) - mu(i) - pc(i) * d
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Sign-bit binarization into one 64-bit code: bit `i` is set iff element
    * `i` is non-null and ≥ 0.0 (−0.0 counts as ≥ 0, like the SQL comparison
    * it mirrors; a null element is the SQL form's false, not a contract
    * breach, since the output holds no per-element slot). Only the first 64
    * dimensions participate — the fixture embeddings are exactly 64-dim,
    * and a wider vector would need an `array<long>` code (documented
    * contract, not a silent wrap).
    *
    * NaN yields a ZERO bit (Java's `NaN >= 0.0` is false); DuckDB's float
    * total order ranks NaN above everything, so its `v[i] >= 0` would set
    * the bit — the engines DISAGREE on NaN elements. Out of contract today
    * (embedding_qa_report screens non-finite rows before any vector reaches
    * this kernel), recorded so a future fixture with NaNs fails the
    * simsearch_hamming oracle loudly for the right reason rather than
    * looking like a packing bug.
    *
    * Binarization runs once per corpus vector on the retrieval hot path
    * (simsearch_hamming's candidate stage), where the HOF formulation
    * `aggregate(transform(sequence(...)))` would be interpreted; this loop
    * keeps the candidate stage one fused scan: pack → XOR → popcount →
    * TakeOrdered. */
  def signPack(v: ArrayData): Long = {
    val n = math.min(v.numElements(), 64)
    var code = 0L
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i) && v.getDouble(i) >= 0.0) code |= (1L << i)
      i += 1
    }
    code
  }
}

/** `centerDeflect` sibling for product quantization: the WHOLE ADC pass —
  * per-subspace nearest-code assignment plus the two LUT sums — fused into
  * one loop. See [[PqAdc]] for the contract. */
object PqAdcOps {

  /** Returns [am, rm]: per subspace s, pick code c minimizing
    * dot(v[s·dSub ..], subC[s][c]) · −2 + c2[s][c] (strict <, lowest index
    * on ties — the argmin-fold contract), then am += qdotM[s][c],
    * rm += c2M[s][c]. Dots are ascending folds; null elements skip
    * (VectorDot SUM semantics); positions beyond |v| contribute nothing
    * (the slice-shortfall contract of the column form). */
  def adc(v: ArrayData, subC: Array[Double], c2: Array[Double],
      qdotM: Array[Long], c2M: Array[Long],
      nSub: Int, dSub: Int, nCodes: Int): ArrayData = {
    val n = v.numElements()
    var am = 0L
    var rm = 0L
    var s = 0
    while (s < nSub) {
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < nCodes) {
        var acc = 0.0
        var i = 0
        while (i < dSub) {
          val p = s * dSub + i
          if (p < n && !v.isNullAt(p))
            acc += v.getDouble(p) * subC((s * nCodes + c) * dSub + i)
          i += 1
        }
        val d = acc * -2.0 + c2(s * nCodes + c)
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      am += qdotM(s * nCodes + best)
      rm += c2M(s * nCodes + best)
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(am, rm))
  }
}

/** Fused PQ asymmetric-distance computation: one codegen pass per row
  * instead of nSub unrolled argmin folds — the fold form referenced each
  * distance expression twice per step (exponential duplication), each dot
  * ran over a fresh `slice` allocation, and projection collapse duplicated
  * every code column into both LUT consumers: measured ~260 µs/row
  * (simsearch_pq 5.2 s at sf1) vs ~0.5 µs for this loop. Same double-op
  * order (ascending dot folds, −2·dot + ‖c‖², strict-< lowest-index
  * argmin) and integer-micro LUTs, so the DuckDB oracle is untouched;
  * parity vs the unrolled form is pinned in FunctionsSpec. */
case class PqAdc(child: Expression,
    subC: IndexedSeq[Double], c2: IndexedSeq[Double],
    qdotM: IndexedSeq[Long], c2M: IndexedSeq[Long],
    nSub: Int, dSub: Int, nCodes: Int) extends UnaryExpression {

  @transient private lazy val subCArr = subC.toArray
  @transient private lazy val c2Arr = c2.toArray
  @transient private lazy val qdotArr = qdotM.toArray
  @transient private lazy val c2mArr = c2M.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"pq_adc needs array<double>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    PqAdcOps.adc(input.asInstanceOf[ArrayData], subCArr, c2Arr, qdotArr,
      c2mArr, nSub, dSub, nCodes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val scRef = ctx.addReferenceObj("pqSubC", subCArr, "double[]")
    val c2Ref = ctx.addReferenceObj("pqC2", c2Arr, "double[]")
    val qdRef = ctx.addReferenceObj("pqQdot", qdotArr, "long[]")
    val cmRef = ctx.addReferenceObj("pqC2m", c2mArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PqAdcOps.adc($c, $scRef, $c2Ref, " +
        s"$qdRef, $cmRef, $nSub, $dSub, $nCodes);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdc =
    copy(child = newChild)
}

/** Row-local co-occurrence pair generation: for token i, pair it with each
  * of its `k` successors j ∈ (i, i+k], skipping self-pairs, emitting the
  * UNORDERED pair as "min SP max" (tokens are whitespace-split, so the
  * space separator makes the encoding injective). Replaces the
  * probe-explode + (doc_id, pos) self-JOIN formulation of windowed
  * co-occurrence: pair generation is per-row work that feeds straight into
  * a partial aggregation — the k·tokens pair stream never shuffles
  * pre-aggregation, where the join form shuffled it twice (probe + partner
  * sides). Null elements are skipped on either side of a pair. */
object WindowPairs {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  private val SP = UTF8String.fromString(" ")

  def pairs(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    // capacity HINT only, in long arithmetic: n·k wraps int with the
    // k = MaxValue all-pairs mode (it pre-allocated a ~4e8-slot list per
    // row — an executor OOM, caught by the r13 verify gate); cap by the
    // true pair bound and a fixed ceiling, growth handles the rest
    val bound = math.min(n.toLong * k, n.toLong * math.max(0, n - 1) / 2L)
    val out = new java.util.ArrayList[AnyRef](
      math.max(16L, math.min(bound, 1L << 16)).toInt)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val a = toks.getUTF8String(i)
        var j = i + 1
        // long arithmetic: k = Int.MaxValue means "all successors" (the
        // whole-document pair form) and i + k must not wrap negative
        val end = math.min(i.toLong + k, (n - 1).toLong).toInt
        while (j <= end) {
          if (!toks.isNullAt(j)) {
            val b = toks.getUTF8String(j)
            val c = a.compareTo(b)
            if (c != 0) {
              val (lo, hi) = if (c < 0) (a, b) else (b, a)
              out.add(UTF8String.concat(lo, SP, hi))
            }
          }
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `centerDeflect(v, d)` against the plan-constant (mu, pc) pair — see
  * [[VectorOps.centerDeflect]]. The constants are IndexedSeq so plan
  * equality/canonicalization compares them by VALUE (an Array field would
  * compare by reference and defeat subexpression elimination). */
case class CenterDeflect(v: Expression, d: Expression,
    mu: IndexedSeq[Double], pc: IndexedSeq[Double]) extends BinaryExpression {

  override def left: Expression = v
  override def right: Expression = d

  @transient private lazy val muArr: Array[Double] = mu.toArray
  @transient private lazy val pcArr: Array[Double] = pc.toArray

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (v.dataType, d.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"center_deflect needs (array<double>, double), got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.centerDeflect(a.asInstanceOf[ArrayData],
      b.asInstanceOf[java.lang.Double], muArr, pcArr)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val muRef = ctx.addReferenceObj("cdMu", muArr, "double[]")
    val pcRef = ctx.addReferenceObj("cdPc", pcArr, "double[]")
    nullSafeCodeGen(ctx, ev, (vv, dd) =>
      s"${ev.value} = graft.functions.VectorOps.centerDeflect($vv, $dd, $muRef, $pcRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CenterDeflect =
    copy(v = newLeft, d = newRight)
}
