package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused scalar-quantization arithmetic (round 17) — the SQ family's
  * per-row hot loops, previously interpreted zip_with/aggregate lambda
  * batteries (HOF closures never enter codegen; the dequantize alone
  * was TWO nested zip_with passes allocating a struct per component,
  * evaluated per row of every probe's candidate scan).
  *
  * Bit parity with the composable forms (kept in
  * [[graft.operators.Similarity]] as the executable specs;
  * ExtensionsSpec differences them): per component i,
  * `deq_i = lo_i + ((int(q8_i) + 128) * (hi_i − lo_i)) / 255.0` with
  * the range `hi_i − lo_i` precomputed at plan time exactly as the
  * composable literal array was, and the same IEEE operation order
  * (int-to-double multiply, divide, add). zip_with's length semantics
  * are reproduced: the output spans max(|q8|, dims), components past
  * the shorter side (or null inputs) are null.
  */
case class SqDequantizeExpr(
    child: Expression,
    lo: IndexedSeq[Double],
    hi: IndexedSeq[Double])
    extends UnaryExpression
    with CodegenFallback {

  require(lo.length == hi.length, "lo/hi dimension mismatch")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(ByteType, _) => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<tinyint>, got ${t.simpleString}")
    }

  override protected def withNewChildInternal(
      newChild: Expression): SqDequantizeExpr = copy(child = newChild)

  // content-compared fields (two equal bound vectors canonicalize
  // equal); the hot loops read flat copies
  @transient private lazy val loA: Array[Double] = lo.toArray
  @transient private lazy val hiA: Array[Double] = hi.toArray
  @transient private lazy val range: Array[Double] =
    Array.tabulate(lo.length)(i => hiA(i) - loA(i))

  override def nullSafeEval(input: Any): Any = {
    val q = input.asInstanceOf[ArrayData]
    val qn = q.numElements()
    val dims = lo.length
    val n = math.max(qn, dims)
    val out = new Array[Any](n)
    var i = 0
    val m = math.min(qn, dims)
    while (i < m) {
      if (!q.isNullAt(i))
        out(i) = loA(i) + ((q.getByte(i).toInt + 128).toDouble * range(i)) / 255.0
      i += 1
    }
    new GenericArrayData(out)
  }

  override def prettyName: String = "graft_sq_dequantize"
}

/** (q8, v) → struct(err_sum, clip_sum) — the per-row terms of
  * [[graft.operators.Similarity.sqDriftMetrics]] in ONE pass:
  *  - `err_sum` = Σ_i |v_i − deq(q8_i)| (the composable
  *    aggregate-over-zip_with left fold from 0.0, same order); null —
  *    matching the composable null-poisoned fold — when the arrays
  *    differ in length from each other or the bounds, or any component
  *    is null.
  *  - `clip_sum` = Σ_i (v_i < lo_i or v_i > hi_i ? 1 : 0) over
  *    max(|v|, dims) components, where a null/past-end comparison
  *    contributes 0 (the composable `when(null…).otherwise(0)` path).
  */
case class SqDriftTermsExpr(
    left: Expression,
    right: Expression,
    lo: IndexedSeq[Double],
    hi: IndexedSeq[Double])
    extends BinaryExpression
    with CodegenFallback {

  require(lo.length == hi.length, "lo/hi dimension mismatch")

  override def dataType: DataType = StructType(Seq(
    StructField("err_sum", DoubleType, nullable = true),
    StructField("clip_sum", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ByteType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<tinyint>, array<double>), got " +
            s"${l.simpleString}, ${r.simpleString}")
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): SqDriftTermsExpr =
    copy(left = newLeft, right = newRight)

  // content-compared fields (two equal bound vectors canonicalize
  // equal); the hot loops read flat copies
  @transient private lazy val loA: Array[Double] = lo.toArray
  @transient private lazy val hiA: Array[Double] = hi.toArray
  @transient private lazy val range: Array[Double] =
    Array.tabulate(lo.length)(i => hiA(i) - loA(i))

  // BinaryExpression's default null propagation would drop the CLIP
  // count for a null-q8 / non-null-v row, but the composable clip fold
  // depends only on v (round-17 review fix): null v nulls both fields
  // (≡ a null struct to every consumer), null q8 nulls only err_sum
  override def eval(
      input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val r = right.eval(input)
    if (r == null) return null
    nullSafeEval(left.eval(input), r)
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val v = r.asInstanceOf[ArrayData]
    val vn = v.numElements()
    if (l == null) {
      // err_sum null (the composable fold over a null deq array);
      // clip_sum still counts from v alone
      var clip0 = 0.0
      val m0 = math.min(vn, lo.length)
      var j0 = 0
      while (j0 < m0) {
        if (!v.isNullAt(j0)) {
          val x = v.getDouble(j0)
          if (x < loA(j0) || x > hiA(j0)) clip0 += 1.0
        }
        j0 += 1
      }
      return org.apache.spark.sql.catalyst.InternalRow(null, clip0)
    }
    val q = l.asInstanceOf[ArrayData]
    val qn = q.numElements()
    val dims = lo.length
    // err fold spans max(|v|, |deq|) where |deq| = max(|q8|, dims);
    // any component outside the common prefix (or null) poisons the
    // whole fold to null, exactly like acc + null in the composable
    val errLen = math.max(vn, math.max(qn, dims))
    var err: java.lang.Double = null
    if (vn == errLen && qn == errLen && dims == errLen) {
      var ok = true
      var s = 0.0
      var i = 0
      while (ok && i < errLen) {
        if (q.isNullAt(i) || v.isNullAt(i)) ok = false
        else {
          val deq =
            loA(i) + ((q.getByte(i).toInt + 128).toDouble * range(i)) / 255.0
          s += math.abs(v.getDouble(i) - deq)
        }
        i += 1
      }
      if (ok) err = s
    }
    // clip fold spans max(|v|, dims); null / past-end comparisons
    // contribute 0 (CaseWhen's otherwise path)
    var clip = 0.0
    val m = math.min(vn, dims)
    var j = 0
    while (j < m) {
      if (!v.isNullAt(j)) {
        val x = v.getDouble(j)
        if (x < loA(j) || x > hiA(j)) clip += 1.0
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(err, clip)
  }

  override def prettyName: String = "graft_sq_drift_terms"
}

/** (v, lo, hi) → int8 codes — the fused form of
  * [[graft.operators.Similarity.quantizeInt8]]'s in-plan encode, with
  * the bounds as per-row ARRAY COLUMNS (the broadcast 1-row bounds
  * frame rides a crossJoin, so lo/hi are plan attributes, not driver
  * constants). Per component: num = x − l; range = h − l;
  * code = (range == 0 ? 0 : round(num·255/range)) − 128 as tinyint —
  * `round` replicated as Spark's Round(double, 0):
  * `BigDecimal.valueOf(x).setScale(0, HALF_UP)`. zip_with length/null
  * semantics as [[SqDequantizeExpr]].
  */
case class SqEncodeColsExpr(
    first: Expression,
    second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(ByteType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (
            ArrayType(DoubleType, _),
            ArrayType(DoubleType, _),
            ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects three array<double>, got " +
            s"${a.simpleString}, ${b.simpleString}, ${c.simpleString}")
    }

  override protected def withNewChildrenInternal(
      f: Expression,
      s: Expression,
      t: Expression): SqEncodeColsExpr = copy(first = f, second = s, third = t)

  override def nullSafeEval(v0: Any, l0: Any, h0: Any): Any = {
    val v = v0.asInstanceOf[ArrayData]
    val lo = l0.asInstanceOf[ArrayData]
    val hi = h0.asInstanceOf[ArrayData]
    val vn = v.numElements()
    val bn = math.min(lo.numElements(), hi.numElements())
    val n = math.max(vn, math.max(lo.numElements(), hi.numElements()))
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      // branch order mirrors the composable when-chain EXACTLY,
      // including zip_with's null padding past the shorter side: a
      // zero range yields code −128 even for a null/absent component
      // (the `when` tests only the range), while a null/absent bound
      // nulls the range and a null/absent component nulls the rounded
      // branch (round-17 review fix: the first cut stopped at the
      // common prefix and missed the zero-range-past-|v| case)
      if (i < bn && !lo.isNullAt(i) && !hi.isNullAt(i)) {
        val l = lo.getDouble(i)
        val range = hi.getDouble(i) - l
        if (range == 0d) out(i) = (0d - 128d).toByte
        else if (i < vn && !v.isNullAt(i)) {
          val num = v.getDouble(i) - l
          val raw = num * 255d / range
          // Spark's Round passes non-finite doubles through (only the
          // composable's ANSI cast then fails); BigDecimal.valueOf
          // would throw a bare NumberFormatException instead
          val scaled =
            if (java.lang.Double.isFinite(raw))
              java.math.BigDecimal
                .valueOf(raw)
                .setScale(0, java.math.RoundingMode.HALF_UP)
                .doubleValue()
            else raw
          val d = scaled - 128d
          // the composable form's ANSI tinyint cast FAILS LOUDLY on a
          // component outside the bounds, or NaN/Infinity (cannot
          // happen for bounds derived from the same corpus); a silent
          // wrap here would be a plausibly-wrong code instead
          if (!java.lang.Double.isFinite(d) || d < -128d || d > 127d)
            throw new ArithmeticException(
              s"quantizeInt8: scaled code $d outside tinyint range — " +
                "input component outside the quantization bounds")
          out(i) = d.toByte
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def prettyName: String = "graft_sq_encode_cols"
}

/** (q8, lo, hi) → array<double> — [[SqDequantizeExpr]] with the
  * bounds as per-row array columns ([[graft.operators.Similarity
  * .dequantizeInt8]]'s shape): l + ((int(q)+128)·(h−l))/255.
  */
case class SqDequantizeColsExpr(
    first: Expression,
    second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (
            ArrayType(ByteType, _),
            ArrayType(DoubleType, _),
            ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<tinyint>, array<double>, " +
            s"array<double>), got ${a.simpleString}, ${b.simpleString}, " +
            s"${c.simpleString}")
    }

  override protected def withNewChildrenInternal(
      f: Expression,
      s: Expression,
      t: Expression): SqDequantizeColsExpr =
    copy(first = f, second = s, third = t)

  override def nullSafeEval(q0: Any, l0: Any, h0: Any): Any = {
    val q = q0.asInstanceOf[ArrayData]
    val lo = l0.asInstanceOf[ArrayData]
    val hi = h0.asInstanceOf[ArrayData]
    val n = math.max(q.numElements(), math.max(lo.numElements(), hi.numElements()))
    val m = math.min(q.numElements(), math.min(lo.numElements(), hi.numElements()))
    val out = new Array[Any](n)
    var i = 0
    while (i < m) {
      if (!q.isNullAt(i) && !lo.isNullAt(i) && !hi.isNullAt(i)) {
        val l = lo.getDouble(i)
        val range = hi.getDouble(i) - l
        out(i) = l + ((q.getByte(i).toInt + 128).toDouble * range) / 255.0
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def prettyName: String = "graft_sq_dequantize_cols"
}

object SqExpressions {
  def dequantize(q8: Column, lo: Seq[Double], hi: Seq[Double]): Column =
    org.apache.spark.sql.graftbridge.ExprBridge.column(
      SqDequantizeExpr(
        org.apache.spark.sql.graftbridge.ExprBridge.expression(q8),
        lo.toIndexedSeq,
        hi.toIndexedSeq))

  def encodeCols(v: Column, lo: Column, hi: Column): Column =
    org.apache.spark.sql.graftbridge.ExprBridge.column(
      SqEncodeColsExpr(
        org.apache.spark.sql.graftbridge.ExprBridge.expression(v),
        org.apache.spark.sql.graftbridge.ExprBridge.expression(lo),
        org.apache.spark.sql.graftbridge.ExprBridge.expression(hi)))

  def dequantizeCols(q8: Column, lo: Column, hi: Column): Column =
    org.apache.spark.sql.graftbridge.ExprBridge.column(
      SqDequantizeColsExpr(
        org.apache.spark.sql.graftbridge.ExprBridge.expression(q8),
        org.apache.spark.sql.graftbridge.ExprBridge.expression(lo),
        org.apache.spark.sql.graftbridge.ExprBridge.expression(hi)))

  def driftTerms(
      q8: Column,
      v: Column,
      lo: Seq[Double],
      hi: Seq[Double]): Column =
    org.apache.spark.sql.graftbridge.ExprBridge.column(
      SqDriftTermsExpr(
        org.apache.spark.sql.graftbridge.ExprBridge.expression(q8),
        org.apache.spark.sql.graftbridge.ExprBridge.expression(v),
        lo.toIndexedSeq,
        hi.toIndexedSeq))
}
