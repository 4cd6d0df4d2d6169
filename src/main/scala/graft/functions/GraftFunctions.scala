package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.expressions.{BloomMightContain, CdcBoundaries, CharUnitLength, CharUnitSubstr, CosineSimilarity, DotProduct, L2Squared, LongSetContains, MatVec, NearestCentroid, NfcNormalize, PqAdcDistance, TfNormSq, WinnowedGrams, WordShingles}

/** The engine's SQL function surface, one list consumed two ways:
  *
  *  - [[graft.plans.GraftExtensions]] `injectFunction`s it, so ANY
  *    session built with `spark.sql.extensions=graft.plans.GraftExtensions`
  *    (thriftserver, pure-SQL apps, `GraftSession.local`) can call the
  *    codegen'd hot-path expressions from plain SQL with no library
  *    import;
  *  - [[register]] installs the same builders as session temp functions,
  *    the one explicit route for a session built without the extension.
  *
  * The Column helpers (TextExpressions, VectorExpressions,
  * SketchExpressions) build the same Catalyst expressions directly, so
  * DataFrame and SQL callers get identical semantics and identical
  * codegen, and a helper call never touches the function registry.
  */
object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  private def arity(name: String, n: Int)(b: Builder): Builder = exprs => {
    if (exprs.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n arguments, got ${exprs.length}")
    b(exprs)
  }

  private def intLiteral(name: String, e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$name expects an integer literal, got expression $e")
    e.eval() match {
      case i: Int  => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$name expects an integer literal, got $other")
    }
  }

  /** Closed-end overlap length, 0 when disjoint — the expression-level
    * mirror of `ranges/Intervals.overlapLength` (analyzer coercion
    * handles int/long operand mixes). */
  private def overlapLength(s1: Expression, e1: Expression,
      s2: Expression, e2: Expression): Expression =
    Greatest(Seq(Literal(0L),
      Add(Subtract(Least(Seq(e1, e2)), Greatest(Seq(s1, s2))), Literal(1L))))

  private def entry(name: String, usage: String, b: Builder)
      : (FunctionIdentifier, ExpressionInfo, Builder) =
    // the simple ExpressionInfo ctor: richer ones assert a _FUNC_-templated
    // usage format; the doc string here serves the reader, not DESCRIBE
    (FunctionIdentifier(name), new ExpressionInfo(getClass.getName, name), b)

  /** (identifier, info, builder) triples in `injectFunction` shape. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    entry("graft_cosine",
      "graft_cosine(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) - cosine similarity",
      arity("graft_cosine", 2)(e => CosineSimilarity(e(0), e(1)))),
    entry("graft_dot",
      "graft_dot(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) - dot product",
      arity("graft_dot", 2)(e => DotProduct(e(0), e(1)))),
    entry("graft_nearest_centroid",
      "graft_nearest_centroid(v ARRAY<DOUBLE>, m ARRAY<ARRAY<DOUBLE>>) -" +
        " 0-based index of the L2-nearest centroid row (first-wins ties)",
      arity("graft_nearest_centroid", 2)(e => NearestCentroid(e(0), e(1)))),
    entry("graft_shingles",
      "graft_shingles(text STRING, n INT) - distinct word n-gram shingles",
      arity("graft_shingles", 2)(e =>
        WordShingles(e(0), intLiteral("graft_shingles", e(1))))),
    entry("graft_nfc",
      "graft_nfc(text STRING) - Unicode NFC canonical composition",
      arity("graft_nfc", 1)(e => NfcNormalize(e(0)))),
    entry("graft_mat_vec",
      "graft_mat_vec(m ARRAY<ARRAY<DOUBLE>>, v ARRAY<DOUBLE>) - row-major" +
        " matrix-vector product (the OPQ rotation kernel)",
      arity("graft_mat_vec", 2)(e => MatVec(e(0), e(1)))),
    entry("graft_winnowed_grams",
      "graft_winnowed_grams(text STRING, gramLen INT, w INT) - winnowed" +
        " char-gram (pos, hash) stream for substring dedup",
      arity("graft_winnowed_grams", 3)(e =>
        WinnowedGrams(e(0), intLiteral("graft_winnowed_grams", e(1)),
          intLiteral("graft_winnowed_grams", e(2))))),
    entry("graft_tf_norm_sq",
      "graft_tf_norm_sq(text STRING) - sum of squared per-token counts" +
        " over whitespace tokens (the VSM document norm, exact integer)",
      arity("graft_tf_norm_sq", 1)(e => TfNormSq(e(0)))),
    entry("graft_char_unit_length",
      "graft_char_unit_length(text STRING) - UTF-16 code-unit length" +
        " (the unit WinnowedGrams positions count)",
      arity("graft_char_unit_length", 1)(e => CharUnitLength(e(0)))),
    entry("graft_char_unit_substr",
      "graft_char_unit_substr(text STRING, start INT, end INT) -" +
        " code-unit substring, 1-based inclusive bounds, clamped",
      arity("graft_char_unit_substr", 3)(e =>
        CharUnitSubstr(e(0), e(1), e(2)))),
    entry("graft_l2sq",
      "graft_l2sq(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) - squared L2 distance",
      arity("graft_l2sq", 2)(e => L2Squared(e(0), e(1)))),
    entry("graft_pq_adc",
      "graft_pq_adc(code ARRAY<BIGINT>, lut ARRAY<ARRAY<DOUBLE>>) -" +
        " PQ asymmetric distance: sum of per-subspace LUT lookups",
      arity("graft_pq_adc", 2)(e => PqAdcDistance(e(0), e(1)))),
    entry("graft_bloom_might_contain",
      "graft_bloom_might_contain(key BIGINT, bits ARRAY<BIGINT>, k INT) -" +
        " Bloom probe: false = definitely absent, true = maybe present",
      arity("graft_bloom_might_contain", 3)(e =>
        BloomMightContain(e(0), e(1), e(2)))),
    entry("graft_cdc_boundaries",
      "graft_cdc_boundaries(text STRING, w INT, modulus INT) - CDC" +
        " chunk-boundary positions (rolling polynomial hash, one pass)",
      arity("graft_cdc_boundaries", 3)(e =>
        CdcBoundaries(e(0), intLiteral("graft_cdc_boundaries", e(1)),
          intLiteral("graft_cdc_boundaries", e(2))))),
    entry("graft_in_long_set",
      "graft_in_long_set(key BIGINT, set ARRAY<BIGINT>) - exact O(1)" +
        " membership in a literal set (one plan literal, not N children)",
      arity("graft_in_long_set", 2)(e => LongSetContains(e(0), e(1)))),
    entry("graft_overlap_length",
      "graft_overlap_length(s1, e1, s2, e2) - closed-end interval overlap" +
        " length, 0 when disjoint",
      arity("graft_overlap_length", 4)(e =>
        overlapLength(e(0), e(1), e(2), e(3)))),
    entry("graft_overlap_fraction",
      "graft_overlap_fraction(s1, e1, s2, e2) - fraction of [s1,e1]" +
        " covered by [s2,e2]",
      arity("graft_overlap_fraction", 4)(e =>
        Divide(Cast(overlapLength(e(0), e(1), e(2), e(3)), DoubleType),
          Cast(Add(Subtract(e(1), e(0)), Literal(1L)), DoubleType)))))

  /** Temp-function registration for sessions built without the extension.
    * Each function registers independently (an all-or-nothing guard on
    * one name would leave the rest unregistered if the user dropped or
    * shadowed it). Every call replaces all 17 functions, so a user's own
    * temp function under a graft_* name is replaced too, and Spark logs
    * one WARN per replaced name: call it once per session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (id, _, b) =>
      reg.createOrReplaceTempFunction(id.funcName, b, "built-in")
    }
  }
}
