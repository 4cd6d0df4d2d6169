package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.functions.expressions.TextExpressions

/** The native WordShingles expression must be value-identical to the
  * higher-order-function composition it replaces (and hence to the DuckDB
  * oracle CTE): same split semantics, window join, distinct order,
  * short-doc fallback. */
class TextExprSpec extends SparkSpecBase {
  import spark.implicits._

  private val cases = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b c",                         // exactly n tokens (n=3)
    "a b",                           // short doc → whole-doc shingle
    "one",                           // single token
    "",                              // empty → [""]
    "  leading and   multi   spaces\ttabs\nnewlines  ",
    "dup dup dup dup dup",           // duplicate shingles collapse
    "x y z x y z x y z")             // repeated trigram

  test("wordShingles == array_distinct(transform(slice)) composition") {
    for (n <- Seq(1, 2, 3, 8)) {
      val df = cases.toDF("text")
      val got = df.select(TextExpressions.wordShingles(col("text"), n))
        .as[Seq[String]].collect().toSeq
      val toks = TextFunctions.tokens(col("text"))
      val want = df.select(
          when(size(toks) >= n,
            array_distinct(transform(sequence(lit(0), size(toks) - n),
              i => array_join(slice(toks, i + 1, lit(n)), " "))))
            .otherwise(array(array_join(toks, " "))))
        .as[Seq[String]].collect().toSeq
      assert(got == want, s"n=$n")
    }
  }

  test("wordShingles stays inside whole-stage codegen") {
    val df = cases.toDF("text")
      .select(explode(TextExpressions.wordShingles(col("text"), 3)))
    // "*(n)" prefixes mark operators inside a whole-stage-codegen span
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Generate explode(word_shingles"), plan)
    assert(df.count() > 0)
  }

  test("tfNormSq == aggregate(array_distinct) composition, in codegen") {
    val df = cases.toDF("text")
    val got = df.select(TextExpressions.tfNormSq(col("text")))
      .as[Long].collect().toSeq
    val toks = TextFunctions.tokens(col("text"))
    val want = df.select(
        aggregate(array_distinct(toks), lit(0L), (acc, t) => {
          val c = size(filter(toks, x => x === t)).cast("long")
          acc + c * c
        })).as[Long].collect().toSeq
    assert(got == want)
    // hand value: 5x 'dup' -> 25; 3 distinct tokens x3 each -> 27
    val m = cases.zip(got).toMap
    assert(m("dup dup dup dup dup") == 25L)
    assert(m("x y z x y z x y z") == 27L)
    assert(m("") == 1L) // split("") keeps one empty token, like the SQL
    // null text null-propagates (unary null semantics)
    val n = Seq[Option[String]](None, Some("a a")).toDF("text")
      .select(TextExpressions.tfNormSq(col("text")))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(n.toSet == Set(None, Some(4L)))
    // stays inside whole-stage codegen (no CodegenFallback wrapper) —
    // repartition first: a bare local relation constant-folds the
    // projection into a LocalTableScan and shows no stage at all
    val q = df.repartition(2)
      .select(TextExpressions.tfNormSq(col("text")))
    q.collect() // AQE prints codegen stages only in the FINAL plan
    val plan = q.queryExecution.executedPlan.toString
    assert(raw"\*\(\d+\) Project \[tf_norm_sq".r.findFirstIn(plan).isDefined,
      plan)
  }

  test("charUnitSubstr/charUnitLength: code-unit semantics, clamped bounds") {
    // BMP text: identical to the codepoint builtins
    val df = Seq("hello world").toDF("text")
    val bmp = df.select(
        TextExpressions.charUnitSubstr(col("text"), lit(3), lit(7)),
        TextExpressions.charUnitLength(col("text")),
        substring(col("text"), 3, 5), length(col("text")))
      .collect().head
    assert(bmp.getString(0) == bmp.getString(2) && bmp.getString(0) == "llo w")
    assert(bmp.getInt(1) == bmp.getInt(3))
    // supplementary plane: 𝄞 is TWO code units — the unit system
    // WinnowedGrams positions count, where length() sees one codepoint
    val g = Seq("a𝄞b").toDF("text")
    val sp = g.select(
        TextExpressions.charUnitLength(col("text")),
        length(col("text")),
        TextExpressions.charUnitSubstr(col("text"), lit(2), lit(3)),
        // clamping: bounds past either end never throw
        TextExpressions.charUnitSubstr(col("text"), lit(-5), lit(99)),
        TextExpressions.charUnitSubstr(col("text"), lit(3), lit(2)))
      .collect().head
    assert(sp.getInt(0) == 4 && sp.getInt(1) == 3)
    assert(sp.getString(2) == "𝄞")
    assert(sp.getString(3) == "a𝄞b")
    assert(sp.getString(4) == "")
  }

  test("NfcNormalize composes decomposed sequences; unicodeClean " +
      "strips controls, collapses runs, preserves CJK/astral/newlines") {
    val df = Seq(
      (1L, "cafe\u0301"),            // decomposed -> café (4 cps)
      (2L, "café"),             // already NFC: identity
      (3L, "a\u0007b\tc  d"),        // BEL out, tab+spaces collapse
      (4L, "你 好\n\n𝄞 x "),     // CJK + newline + astral kept
      (5L, null.asInstanceOf[String])).toDF("id", "text")
    import graft.functions.expressions.TextExpressions
    val nfc = df.select(col("id"),
        TextExpressions.nfcNormalize(col("text")).as("n"))
      .orderBy("id").collect()
    assert(nfc(0).getString(1) == "café")
    assert(nfc(1).getString(1) == "café")
    assert(nfc(4).isNullAt(1))
    val got = graft.ext.TextAnalysis.unicodeClean(df, "text")
      .orderBy("id").collect().map(r =>
        if (r.isNullAt(2)) null else r.getString(2))
    assert(got(0) == "café")
    assert(got(2) == "ab c d")
    assert(got(3) == "你 好\n\n𝄞 x")
    assert(got(4) == null)
  }

  test("Dedup.shingled emits one row per distinct shingle") {
    val df = Seq(("d1", "a b c d"), ("d2", "a b")).toDF("doc_id", "text")
    val got = graft.ext.Dedup.shingled(df, "doc_id", "text", 3)
      .as[(String, String)].collect().toSet
    assert(got == Set(("d1", "a b c"), ("d1", "b c d"), ("d2", "a b")))
  }
}
