package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity.
  *
  * Why a custom Expression (brief preference order (b)): the composable
  * form — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — evaluates an
  * interpreted lambda per vector element (HigherOrderFunction closures
  * never enter whole-stage codegen), allocating per element. For ANN
  * scoring the dot product IS the hot loop; this expression evaluates
  * dot, |a| and |b| in one tight JVM loop over the unboxed ArrayData
  * buffers — no per-element closures, no intermediate arrays.
  *
  * Semantics match [[VectorFunctions.cosine]] bit-for-bit: elements
  * widened to double, left-to-right summation, dot/(sqrt(na)*sqrt(nb)).
  * Null if either side is null, if the lengths differ (the composable
  * `zip_with` pads with null, nulling the sum — a silent truncation to
  * the shorter side would return a plausible WRONG similarity for a
  * mis-dimensioned query), or if any element is null. NaN propagates
  * like plain double math.
  *
  * Implements [[doGenCode]] (brief: "a native Catalyst Expression (with
  * doGenCode)"): the generated Java is the same fused loop, spliced
  * into the surrounding WholeStageCodegen so ANN scoring stays in one
  * compiled pipeline instead of breaking out to interpreted eval per
  * row. [[nullSafeEval]] remains the interpreted twin (constant
  * folding, non-codegen parents); the ExtensionsSpec parity tests pin
  * both paths to the composable form bit-for-bit.
  */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects array<float|double>, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  @inline private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    val af = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val bf = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elem(a, i, af)
      val y = elem(b, i, bf)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val af =
          left.dataType.asInstanceOf[ArrayType].elementType == FloatType
        val bf =
          right.dataType.asInstanceOf[ArrayType].elementType == FloatType
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val i = ctx.freshName("i")
        val x = ctx.freshName("x")
        val y = ctx.freshName("y")
        val getA = if (af) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
        val getB = if (bf) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  final int $n = $a.numElements();
           |  double $dot = 0.0;
           |  double $na = 0.0;
           |  double $nb = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    final double $x = $getA;
           |    final double $y = $getB;
           |    $dot += $x * $y;
           |    $na += $x * $x;
           |    $nb += $y * $y;
           |  }
           |  if (!${ev.isNull}) {
           |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
           |  }
           |}
         """.stripMargin
      })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)

  override def prettyName: String = "graft_cosine_sim"
}

/** Registration + Column-level access for the native expressions. */
/** array<double> → nearest-centroid index under squared-L2 — the fused
  * form of the k-means assignment step ([[graft.operators.Similarity
  * .kmeansAssign]]'s `nearestCentroid` UDF). The ScalaUDF converted
  * every vector ArrayData → boxed Seq[Double] per row per call (once
  * per Lloyd iteration plus the final assignment — a per-row
  * allocation battery on every IVF-family index BUILD); this
  * expression walks the unboxed ArrayData buffer directly.
  *
  * Arithmetic is REPLICATED from the UDF exactly: per centroid c in
  * ascending order, d = Σ_{i < min(dims)} (v(i) − ct(i))² accumulated
  * left-to-right in doubles, winner by STRICT `<` (ties to the lowest
  * centroid index) — so assignments are bit-identical to the UDF's
  * (ExtensionsSpec differences them over the embeddings corpus), and
  * every downstream artifact (cluster layout, centroid re-averages,
  * survivors) is unchanged.
  *
  * The centroid matrix rides IN the expression (driver-built constant,
  * k·dim doubles — model-sized, the LocalLookup precedent), held as
  * content-compared sequences (two equal matrices canonicalize equal)
  * and flattened to one row-major array on first use so the hot loop
  * reads a flat buffer.
  */
case class NearestCentroidExpr(
    child: Expression,
    centroids: IndexedSeq[IndexedSeq[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  // NO non-empty require: an EMPTY corpus seeds zero centroids and the
  // UDF spec tolerated that (its loop never runs, best = 0) — the
  // assignment is never evaluated because the frame has no rows
  // (EmptyInputSpec pins the family's empty-in/empty-out contract)

  override def dataType: DataType =
    org.apache.spark.sql.types.IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<double>, got ${t.simpleString}")
    }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroidExpr = copy(child = newChild)

  @transient private lazy val k = centroids.length
  @transient private lazy val dims: Array[Int] = centroids.map(_.length).toArray
  @transient private lazy val offsets: Array[Int] =
    dims.scanLeft(0)(_ + _).init
  @transient private lazy val flat: Array[Double] = centroids.flatten.toArray

  // the UDF spec FAILED LOUDLY (NPE) on a null vector; a silent null
  // cluster here would flow a corrupt row into the index layout
  // (round-17 review fix — loud-failure parity, with a better message)
  override def eval(
      input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null)
      throw new IllegalArgumentException(
        "nearest-centroid assignment got a NULL vector — k-means inputs " +
          "must be non-null embeddings")
    nullSafeEval(v)
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val vn = v.numElements()
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < k) {
      val base = offsets(c)
      val n = math.min(dims(c), vn)
      var d = 0.0
      var i = 0
      while (i < n) {
        val x = v.getDouble(i) - flat(base + i)
        d += x * x
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  override def prettyName: String = "graft_nearest_centroid"
}

object NearestCentroidExpr {
  def ofColumn(c: Column, centroids: Array[Array[Double]]): Column =
    org.apache.spark.sql.graftbridge.ExprBridge.column(
      NearestCentroidExpr(
        org.apache.spark.sql.graftbridge.ExprBridge.expression(c),
        centroids.map(_.toIndexedSeq).toIndexedSeq))
}

object VectorExpressions {
  val CosineName = "graft_cosine_sim"

  /** Single source of truth for the builder — shared with
    * GraftExtensions' SQL-extension injection so the two registration
    * paths cannot diverge (the [[SignatureExpressions]] convention).
    */
  val cosineBuilder: Seq[Expression] => Expression =
    exprs => CosineSimilarityExpr(exprs(0), exprs(1))

  /** Idempotent per-session registration (temp function registry). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      CosineName, cosineBuilder, "built-in")

  /** Native cosine — requires [[register]] on the session first. */
  def cosineFast(a: Column, b: Column): Column =
    call_function(CosineName, a, b)
}
