package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Bloom-filter membership probe as a native codegen'd expression.
  *
  * `first` is a 64-bit key (callers hash arbitrary values with
  * `xxhash64(...)`), `second` the filter bitmap as a (foldable,
  * broadcast-as-literal) array<bigint> of m/64 words, `third` the number
  * of hash functions k. Bit indexes derive from the SAME chained-xxhash64
  * family the builder ([[graft.ext.Sketches.buildBloomBits]]) computes
  * with built-in columns — `xxhash64(key, i) = XXH64.hashLong(i,
  * XXH64.hashLong(key, 42))` — so build and probe agree bit for bit with
  * no custom hashing on the build side at all.
  *
  * Semantics are the Bloom contract: `false` is definite absence, `true`
  * means "present or false positive" (rate set at build time). The probe
  * is a tight k-iteration loop inside whole-stage codegen: one array
  * word load + shift per hash, no allocation, no method dispatch.
  */
case class BloomMightContain(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def nullSafeEval(key: Any, bitsA: Any, kA: Any): Any = {
    val bits = bitsA.asInstanceOf[ArrayData]
    val k = kA.asInstanceOf[Int]
    val m = bits.numElements().toLong * 64L
    if (m == 0L) return java.lang.Boolean.FALSE // empty filter holds nothing
    val h0 = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashLong(key.asInstanceOf[Long], 42L)
    var i = 0
    while (i < k) {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(i.toLong, h0)
      val idx = ((h % m) + m) % m
      if (((bits.getLong((idx >>> 6).toInt) >>> (idx & 63L)) & 1L) == 0L)
        return java.lang.Boolean.FALSE
      i += 1
    }
    java.lang.Boolean.TRUE
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (key, bits, k) => {
      // fresh locals: the probe can appear several times in ONE generated
      // function (both branches of a prefilter), where fixed names would
      // collide and kick the whole predicate back to the interpreter
      val m = ctx.freshName("bloomM")
      val ok = ctx.freshName("bloomOk")
      val h0 = ctx.freshName("bloomH0")
      val h = ctx.freshName("bloomH")
      val idx = ctx.freshName("bloomIdx")
      val i = ctx.freshName("bloomI")
      s"""
         |long $m = (long) $bits.numElements() * 64L;
         |boolean $ok = $m != 0L;
         |long $h0 = org.apache.spark.sql.catalyst.expressions.XXH64
         |  .hashLong($key, 42L);
         |for (int $i = 0; $ok && $i < $k; $i++) {
         |  long $h = org.apache.spark.sql.catalyst.expressions.XXH64
         |    .hashLong((long) $i, $h0);
         |  long $idx = (($h % $m) + $m) % $m;
         |  if ((($bits.getLong((int)($idx >>> 6)) >>> ($idx & 63L)) & 1L) == 0L) {
         |    $ok = false;
         |  }
         |}
         |${ev.value} = $ok;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(newFirst, newSecond, newThird)
}

/** Exact O(1) membership of a BIGINT in a LITERAL set — the honest form
  * of a large `isin`: `isin(4M values)` builds an In expression with 4M
  * literal CHILDREN (the analyzer grinds long before the set is "too big
  * to broadcast"), while this carries the set as ONE array<bigint>
  * literal (8 B/entry in the plan) and builds a java.util.HashSet once
  * on the driver at codegen time, shipped to executors as a codegen
  * reference object. Per row: one O(1) probe, no allocation.
  *
  * `right` must be foldable — the set is part of the PLAN, like the
  * bloom bitmap above (and unlike it, membership is exact: no false
  * positives). Used by the corpus-level line-dedup rewrites, whose
  * frequent sets are heavy-hitter-bounded but can still reach millions
  * of entries. */
case class LongSetContains(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "in_long_set"

  @transient private lazy val set: java.util.HashSet[java.lang.Long] = {
    require(right.foldable,
      "in_long_set expects a literal array<bigint> set")
    val s = new java.util.HashSet[java.lang.Long]()
    val arr = right.eval().asInstanceOf[ArrayData]
    if (arr != null) {
      var i = 0
      val n = arr.numElements()
      while (i < n) { s.add(arr.getLong(i)); i += 1 }
    }
    s
  }

  override def nullSafeEval(v: Any, setArr: Any): Any =
    java.lang.Boolean.valueOf(set.contains(v.asInstanceOf[Long]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("graftLongSet", set,
      "java.util.HashSet<java.lang.Long>")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = $setRef.contains($v);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Column forms of the expressions above, built directly (see
  * [[TextExpressions]]). */
object SketchExpressions {

  /** Column form: true iff `key` (a BIGINT) may be in the filter. */
  def bloomMightContain(key: Column, bits: Column, k: Column): Column =
    column(BloomMightContain(expression(key), expression(bits),
      expression(k)))

  /** Column form of [[LongSetContains]]: exact membership of `key`
    * (BIGINT) in the literal array<bigint> `set`. */
  def inLongSet(key: Column, set: Column): Column =
    column(LongSetContains(expression(key), expression(set)))
}
