package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** Native Catalyst expressions for the dense-vector hot loops (SURVEY §4.4
  * preference order: custom `Expression` with codegen before anything
  * else). The higher-order-function formulations in
  * [[graft.functions.VectorFunctions]] are CodegenFallback-interpreted and
  * allocate per element; these generate a tight primitive loop inside
  * whole-stage codegen — the difference is ~10× on pairwise similarity
  * scans (see BENCH history).
  *
  * Both operands must be array<double>; summation is sequential in element
  * order, bit-identical to the `aggregate(zip_with(...))` forms they
  * replace.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // operands must already be array<double> (callers cast; see
  // VectorFunctions.cosineFast)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    val den = math.sqrt(nx) * math.sqrt(ny)
    if (den == 0.0) null else java.lang.Double.valueOf(dot / den)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName locals: fixed names collide with sibling expressions
      // in the same generated scope → janino rejects → interpreter
      val n = ctx.freshName("cosN")
      val dot = ctx.freshName("cosDot")
      val nx = ctx.freshName("cosNx")
      val ny = ctx.freshName("cosNy")
      val i = ctx.freshName("cosI")
      val xi = ctx.freshName("cosXi")
      val yi = ctx.freshName("cosYi")
      val den = ctx.freshName("cosDen")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i); double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |double $den = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |if ($den == 0.0) { ${ev.isNull} = true; }
         |else { ${ev.value} = $dot / $den; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Plain dot product, same contract as [[CosineSimilarity]]. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    java.lang.Double.valueOf(dot)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("dotN")
      val dot = ctx.freshName("dotAcc")
      val i = ctx.freshName("dotI")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $dot += $a.getDouble($i) * $b.getDouble($i); }
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Squared L2 distance; summation element order matches the interpreted
  * `aggregate(zip_with((x - y)²))` form. Length mismatch yields NULL
  * (zip_with null-pads and the interpreted sum nulls out) — a
  * truncated/dirty vector must not rank with an artificially small
  * partial distance (the PqAdcDistance stance). */
case class L2Squared(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "l2_squared"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var d = 0.0; var i = 0
    while (i < n) {
      val t = x.getDouble(i) - y.getDouble(i); d += t * t; i += 1
    }
    java.lang.Double.valueOf(d)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("l2N")
      val d = ctx.freshName("l2D")
      val i = ctx.freshName("l2I")
      val t = ctx.freshName("l2T")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $t = $a.getDouble($i) - $b.getDouble($i);
         |    $d += $t * $t;
         |  }
         |  ${ev.value} = $d;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Argmin centroid index: `left` is an array<double> vector, `right` a
  * (foldable, broadcast-as-literal) array<array<double>> centroid matrix.
  * Returns the 0-based index of the centroid with the smallest squared L2
  * distance; ties keep the first (lowest) index, so callers that order the
  * matrix by centroid id ascending get the canonical (distance, cid)
  * tiebreak. Null vector or empty matrix → null. A vector whose every
  * distance is NaN/Infinite (a NaN component, or an overflow to ∞)
  * deterministically lands in cell 0 — one dirty embedding must not be
  * able to return an out-of-range index and fail a 100 TB assign job.
  *
  * This is the map-only IVF coarse-quantization kernel: one tight
  * |centroids|×dims loop per row inside whole-stage codegen, no join, no
  * window, no shuffle — the corpus never moves (reference: clinpy has no
  * ANN; this serves the training-pipeline brief).
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val m = b.asInstanceOf[ArrayData]
    val k = m.numElements()
    if (k == 0) return null
    var best = 0 // NaN/Inf-everywhere rows stay in-range (cell 0)
    var bestD = Double.PositiveInfinity
    var j = 0
    while (j < k) {
      val c = m.getArray(j)
      val n = math.min(v.numElements(), c.numElements())
      var d = 0.0; var i = 0
      while (i < n) {
        val t = v.getDouble(i) - c.getDouble(i)
        d += t * t; i += 1
      }
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    java.lang.Integer.valueOf(best)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // every local via freshName: fixed names (`i`, `k`, …) collide
      // with siblings in the same generated scope (e.g. a transform
      // lambda in the same projection) — janino then rejects the whole
      // method and the projection silently falls back to interpreted
      val k = ctx.freshName("k")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val t = ctx.freshName("t")
      s"""
         |int $k = $b.numElements();
         |if ($k == 0) { ${ev.isNull} = true; }
         |else {
         |  int $best = 0;
         |  double $bestD = Double.POSITIVE_INFINITY;
         |  for (int $j = 0; $j < $k; $j++) {
         |    org.apache.spark.sql.catalyst.util.ArrayData $c = $b.getArray($j);
         |    int $n = java.lang.Math.min($a.numElements(), $c.numElements());
         |    double $d = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double $t = $a.getDouble($i) - $c.getDouble($i);
         |      $d += $t * $t;
         |    }
         |    if ($d < $bestD) { $bestD = $d; $best = $j; }
         |  }
         |  ${ev.value} = $best;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Dense matrix-vector product: `left` a (foldable, broadcast-as-
  * literal) row-major matrix array<array<double>>, `right` the vector.
  * Returns array<double> of rows·vec — the rotation kernel for OPQ
  * (every row is R_i · x). One tight rows×dims loop in codegen; like
  * NearestCentroid, the matrix ships once as a literal reference and
  * the corpus never shuffles. Row/vector length mismatch → null (a
  * truncated vector must not silently rotate into garbage). */
case class MatVec(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "mat_vec"

  override def nullSafeEval(m: Any, v: Any): Any =
    VectorExprHelpers.matVec(m.asInstanceOf[ArrayData],
      v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (m, v) =>
      s"""
         |${ev.value} = graft.functions.expressions.VectorExprHelpers
         |  .matVec($m, $v);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Static helpers callable from generated code. */
object VectorExprHelpers {
  def matVec(m: ArrayData, v: ArrayData): ArrayData = {
    val rows = m.numElements()
    val n = v.numElements()
    val out = new Array[Any](rows)
    var r = 0
    while (r < rows) {
      val row = m.getArray(r)
      // null row or length mismatch -> null result, never a crash or a
      // silent partial rotation
      if (row == null || row.numElements() != n) return null
      var d = 0.0; var i = 0
      while (i < n) { d += row.getDouble(i) * v.getDouble(i); i += 1 }
      out(r) = d
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Product-quantization asymmetric-distance (ADC) kernel: `left` is a
  * PQ code (array<bigint> of per-subspace codeword INDEXES), `right` the
  * query's lookup table (array<array<double>>: per subspace, the
  * precomputed squared L2 distance from the query's subvector to every
  * codeword). The approximate distance is m table lookups summed in
  * subspace order — no vector math touches the corpus row at all, which
  * is the entire point of PQ (Jégou, Douze, Schmid, "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011): the scan
  * reads an 8-byte code instead of a 256-byte embedding.
  *
  * A code outside its subspace table (corrupt input) yields null rather
  * than an arbitrary distance — one dirty row must not rank. */
case class PqAdcDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_distance"

  override def nullSafeEval(codeA: Any, lutA: Any): Any = {
    val code = codeA.asInstanceOf[ArrayData]
    val lut = lutA.asInstanceOf[ArrayData]
    // a truncated/overlong code (subspace count != LUT's) is as corrupt
    // as an out-of-range index: a partial sum would rank artificially
    // LOW, so the row must not rank at all
    if (code.numElements() != lut.numElements()) return null
    val m = code.numElements()
    var d = 0.0
    var s = 0
    while (s < m) {
      val c = code.getLong(s)
      val l = lut.getArray(s)
      if (c < 0 || c >= l.numElements()) return null
      d += l.getDouble(c.toInt)
      s += 1
    }
    java.lang.Double.valueOf(d)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (code, lut) => {
      val m = ctx.freshName("pqM")
      val d = ctx.freshName("pqD")
      val s = ctx.freshName("pqS")
      val c = ctx.freshName("pqC")
      val l = ctx.freshName("pqL")
      s"""
         |int $m = $code.numElements();
         |if ($m != $lut.numElements()) { ${ev.isNull} = true; }
         |double $d = 0.0;
         |for (int $s = 0; !${ev.isNull} && $s < $m; $s++) {
         |  long $c = $code.getLong($s);
         |  org.apache.spark.sql.catalyst.util.ArrayData $l = $lut.getArray($s);
         |  if ($c < 0 || $c >= $l.numElements()) { ${ev.isNull} = true; }
         |  else { $d += $l.getDouble((int) $c); }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Column forms of the expressions above, built directly (see
  * [[TextExpressions]]). */
object VectorExpressions {

  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  def nearestCentroid(vec: Column, matrix: Column): Column =
    column(NearestCentroid(expression(vec), expression(matrix)))

  def pqAdcDistance(code: Column, lut: Column): Column =
    column(PqAdcDistance(expression(code), expression(lut)))

  def matVec(matrix: Column, vec: Column): Column =
    column(MatVec(expression(matrix), expression(vec)))
}
