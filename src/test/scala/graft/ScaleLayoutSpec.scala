package graft

import org.apache.spark.sql.functions._
import graft.ext.Skew

/** Pins the skew-handling behaviors the 100 TB design relies on:
  * salted aggregation and join equivalence, bloom-prefiltered joins. */
class ScaleLayoutSpec extends SparkSpecBase {
  import spark.implicits._

  test("salted aggregation == plain aggregation") {
    val df = spark.range(20000)
      .select((col("id") % 3).cast("string").as("k"),
        (col("id") % 97).cast("double").as("v"))
    val got = Skew.saltedSumAgg(df, Seq("k"), salts = 16,
        aggs = Seq("n" -> count(lit(1)),
          "total" -> sum(col("v").cast("decimal(18,6)"))))
      .select(col("k"), col("n").cast("long"), col("total").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    val want = df.groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,6)")).cast("double").as("total"))
      .as[(String, Long, Double)].collect().toSet
    assert(got == want)
  }

  test("salted ops tolerate unhashable (map) columns in the payload") {
    // xxhash64 rejects MapType at any nesting depth — the salt must
    // skip such columns, not throw (they ride as payload, the salt
    // only needs per-row determinism)
    val df = spark.range(2000).select(
      (col("id") % 3).cast("string").as("k"),
      col("id").as("v"),
      map(lit("a"), col("id").cast("string")).as("props"),
      array(struct(map(lit("x"), col("id")).as("m"))).as("nested"))
    val got = Skew.saltedSumAgg(df, Seq("k"), salts = 8,
        aggs = Seq("n" -> count(lit(1)), "s" -> sum(col("v"))))
      .select("k", "n", "s").as[(String, Long, Long)].collect().toSet
    val want = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == want)
    val small = Seq(("0", 1L), ("1", 2L), ("2", 3L)).toDF("k", "w")
    assert(Skew.saltedJoin(df, small, Seq("k"), salts = 4).count() ==
      df.join(small, Seq("k")).count())
  }

  test("salted join == plain join; no row lost or duplicated") {
    // two keys only — maximal skew: a plain shuffle join would put each
    // key's entire big side in one reducer
    val big = spark.range(30000).select(
      (col("id") % 2).cast("string").as("k"), col("id").as("v"))
    val small = Seq(("0", 100L), ("1", 200L), ("orphan", 9L))
      .toDF("k", "w")
    val got = Skew.saltedJoin(big, small, Seq("k"), salts = 8)
      .select("k", "v", "w").as[(String, Long, Long)].collect()
    val want = big.join(small, Seq("k"))
      .select("k", "v", "w").as[(String, Long, Long)].collect()
    // exact multiset equality: each big row meets exactly ONE replica
    assert(got.sorted.toSeq == want.sorted.toSeq)
    assert(got.length == 30000)
  }

  test("bloomPrefilteredJoin == plain join; probe filters before the join") {
    val big = spark.range(50000).select(
      (col("id") % 1000).as("k"), col("id").as("v"))
    val small = spark.range(7).select(
      (col("id") * 131).as("k"), (col("id") + 100).as("w"))
    val got = Skew.bloomPrefilteredJoin(big, small, Seq("k"))
    val want = big.join(small, Seq("k"))
      .select("k", "v", "w").as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got.select("k", "v", "w").as[(Long, Long, Long)]
      .collect().toSeq.sorted == want)
    assert(want.nonEmpty)
    // the probe is a Filter on the big side BELOW the join — the
    // map-side drop that saves the shuffle at scale
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), plan)
    // mixed key TYPES: the join coerces INT to match BIGINT — the
    // bloom hash must too (native-type hashing would false-negative
    // every true match)
    val bigInt = spark.range(5000).select(
      (col("id") % 1000).cast("int").as("k"), col("id").as("v"))
    val gotMixed = Skew.bloomPrefilteredJoin(bigInt, small, Seq("k"))
      .select("k", "v", "w").as[(Long, Long, Long)].collect().toSeq.sorted
    val wantMixed = bigInt.join(small, Seq("k"))
      .select("k", "v", "w").as[(Long, Long, Long)].collect().toSeq.sorted
    assert(gotMixed == wantMixed && wantMixed.nonEmpty)
    // INT vs DOUBLE keys: the join coerces both to DOUBLE, where a
    // string rendering diverges ('1' vs '1.0') — hashing must happen
    // at the coerced type, or every true match false-negatives out
    val smallDbl = spark.range(7).select(
      (col("id") * 131).cast("double").as("k"), (col("id") + 100).as("w"))
    val gotDbl = Skew.bloomPrefilteredJoin(bigInt, smallDbl, Seq("k"))
      .select(col("k").cast("long"), col("v"), col("w"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val wantDbl = bigInt.join(smallDbl, Seq("k"))
      .select(col("k").cast("long"), col("v"), col("w"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(gotDbl == wantDbl && wantDbl.nonEmpty)
    // incompatible (string vs numeric) key types are rejected loudly —
    // comparison coercion differs from set-op widening there, so
    // guessing risks silent row drops
    val smallStr = small.select(col("k").cast("string").as("k"), col("w"))
    intercept[IllegalArgumentException] {
      Skew.bloomPrefilteredJoin(bigInt, smallStr, Seq("k"))
    }
  }
}
