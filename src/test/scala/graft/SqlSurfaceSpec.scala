package graft

import graft.core.FilterSpec

/** The engine is also consumable through plain Spark SQL: register the
  * warehouse tables as views and query with `spark.sql`. Catalyst plans
  * the same operators either way — this pins the SQL surface works. */
class SqlSurfaceSpec extends SparkSpecBase {
  import spark.implicits._

  test("domain tables query identically through spark.sql") {
    Seq(("chr1", 31L, 60L, "+", 11L), ("chr1", 25L, 65L, "+", 12L),
      ("chr2", 500L, 600L, "-", 13L))
      .toDF("chrom", "start", "end", "strand", "id")
      .createOrReplaceTempView("junc")
    Seq(("s1", 11L, 25L), ("s2", 11L, 40L), ("s1", 12L, 15L))
      .toDF("samplename", "junction", "uniq_map")
      .createOrReplaceTempView("bridge")

    val sql = spark.sql(
      """SELECT j.chrom, j.start, j.end, b.samplename, b.uniq_map
        |FROM junc j JOIN bridge b ON j.id = b.junction
        |WHERE j.chrom = 'chr1' AND j.start <= 40 AND j.end >= 31
        |ORDER BY j.id, b.samplename""".stripMargin).collect()
    assert(sql.length == 3)
    assert(sql.head.getString(3) == "s1")
  }

  test("custom codegen expressions are callable from SQL") {
    val r = spark.sql(
      """SELECT graft_cosine(CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>),
        |                    CAST(array(2.0, 4.0) AS ARRAY<DOUBLE>)) AS c,
        |       graft_dot(CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>),
        |                 CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>)) AS d""".stripMargin)
      .head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) == 11.0)
  }

  test("round-4 codegen expressions are callable from SQL") {
    val r = spark.sql(
      """SELECT graft_l2sq(CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>),
        |                  CAST(array(4.0, 6.0) AS ARRAY<DOUBLE>)) AS d2,
        |       graft_pq_adc(CAST(array(1, 0) AS ARRAY<BIGINT>),
        |                    CAST(array(array(10.0, 20.0),
        |                               array(30.0, 40.0)) AS ARRAY<ARRAY<DOUBLE>>)) AS adc,
        |       graft_nearest_centroid(
        |         CAST(array(0.9, 0.0) AS ARRAY<DOUBLE>),
        |         CAST(array(array(0.0, 0.0), array(1.0, 0.0))
        |              AS ARRAY<ARRAY<DOUBLE>>)) AS cell""".stripMargin)
      .head()
    assert(r.getDouble(0) == 25.0) // 9 + 16
    assert(r.getDouble(1) == 50.0) // lut[0][1] + lut[1][0] = 20 + 30
    assert(r.getInt(2) == 1)
    // bloom round-trip entirely in SQL: bits built via the same chained
    // xxhash64 family the probe replays
    val keys = spark.range(100).selectExpr("xxhash64(id) AS k")
    keys.createOrReplaceTempView("bloom_keys")
    val (bits, k) = graft.ext.Sketches.buildBloomBits(keys, "k", 100, 0.01)
    val bitsSql = bits.mkString("array(", "L,", "L)")
    val hit = spark.sql(
      s"""SELECT graft_bloom_might_contain(xxhash64(42L),
         |  CAST($bitsSql AS ARRAY<BIGINT>), $k) AS present""".stripMargin)
      .head().getBoolean(0)
    assert(hit) // 42 is one of the 100 inserted keys
  }

  test("graft_pq_adc: subspace-count mismatch -> null in both paths") {
    // codegen path: a 1-subspace code against a 2-subspace LUT is as
    // corrupt as an out-of-range index — a partial sum would rank
    // artificially LOW, so the row must not rank at all
    val r = spark.sql(
      """SELECT graft_pq_adc(CAST(array(1) AS ARRAY<BIGINT>),
        |                    CAST(array(array(10.0, 20.0),
        |                               array(30.0, 40.0)) AS ARRAY<ARRAY<DOUBLE>>)) AS adc"""
        .stripMargin).head()
    assert(r.isNullAt(0), "truncated PQ code must yield null, not a partial sum")
    // interpreted path: eval the expression directly
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val code = Literal.create(Array(1L), ArrayType(LongType))
    val lut = Literal.create(Array(Array(10.0, 20.0), Array(30.0, 40.0)),
      ArrayType(ArrayType(DoubleType)))
    val e = graft.functions.expressions.PqAdcDistance(code, lut)
    assert(e.eval(null) == null)
    // and an equal-length code still sums
    val ok = graft.functions.expressions.PqAdcDistance(
      Literal.create(Array(1L, 0L), ArrayType(LongType)), lut)
    assert(ok.eval(null) == 50.0)
  }

  test("graft_mat_vec: rotates from SQL; null row / length mismatch -> null") {
    val r = spark.sql(
      """SELECT graft_mat_vec(CAST(array(array(0.0, 1.0), array(1.0, 0.0))
        |                          AS ARRAY<ARRAY<DOUBLE>>),
        |                     CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>)) AS swap,
        |       graft_mat_vec(CAST(array(array(1.0, 2.0),
        |                                CAST(NULL AS ARRAY<DOUBLE>))
        |                          AS ARRAY<ARRAY<DOUBLE>>),
        |                     CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>)) AS nullrow,
        |       graft_mat_vec(CAST(array(array(1.0, 2.0, 3.0))
        |                          AS ARRAY<ARRAY<DOUBLE>>),
        |                     CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>)) AS short""".stripMargin)
      .head()
    assert(r.getSeq[Double](0) == Seq(4.0, 3.0))
    assert(r.isNullAt(1)) // null row degrades to null, never an NPE
    assert(r.isNullAt(2)) // length mismatch likewise
  }

  test("GraftExtensions session: every injected function resolves in pure SQL") {
    import org.apache.spark.sql.SparkSession
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // same SparkContext, fresh session state WITH the extension installed
    val s2 = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-test")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    try {
      // every injected function resolves with zero library calls
      val r = s2.sql(
        """SELECT graft_overlap_length(0L, 9L, 5L, 100L)   AS len,
          |       graft_overlap_fraction(0L, 9L, 5L, 100L) AS frac,
          |       graft_shingles('a b c', 2)               AS sh,
          |       graft_cosine(CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>),
          |                    CAST(array(2.0, 4.0) AS ARRAY<DOUBLE>)) AS c
          |""".stripMargin).head()
      assert(r.getLong(0) == 5L)
      assert(r.getDouble(1) == 0.5)
      assert(r.getSeq[String](2) == Seq("a b", "b c"))
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-12)
    } finally {
      // s2 shares the context — never stop() it; just restore the session
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("Column helpers need no SQL functions and leave the registry alone") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.functions.{col, lit}
    import graft.functions.{GraftFunctions, VectorFunctions}
    import graft.functions.expressions.{SketchExpressions => SE, TextExpressions => TE, VectorExpressions => VE}
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .appName("graft-no-ext-test")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    try {
      // the shared test context installs GraftExtensions in every session;
      // dropping its functions from this session's own registry stands in
      // for a session built without the extension
      val reg = s2.sessionState.functionRegistry
      def graftNames = reg.listFunction().map(_.funcName)
        .filter(_.startsWith("graft_")).toSet
      GraftFunctions.all.foreach { case (id, _, _) => reg.dropFunction(id) }
      assert(graftNames.isEmpty)

      val df = s2.sql(
        """SELECT 'the quick brown fox jumps over the quick dog' AS text,
          |       CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>) AS a,
          |       CAST(array(2.0, 4.0) AS ARRAY<DOUBLE>) AS b,
          |       CAST(array(array(0.0, 1.0), array(1.0, 0.0))
          |            AS ARRAY<ARRAY<DOUBLE>>) AS m,
          |       CAST(array(1, 0) AS ARRAY<BIGINT>) AS code,
          |       CAST(array(array(10.0, 20.0), array(30.0, 40.0))
          |            AS ARRAY<ARRAY<DOUBLE>>) AS lut,
          |       2L AS key, CAST(array(-1) AS ARRAY<BIGINT>) AS bits, 3 AS k,
          |       CAST(array(1, 2) AS ARRAY<BIGINT>) AS lset""".stripMargin)
      val t = col("text")
      val helpers = Seq(
        TE.wordShingles(t, 2), TE.nfcNormalize(t), TE.winnowedGrams(t, 3, 1),
        TE.cdcBoundaries(t, 4, 3), TE.tfNormSq(t), TE.charUnitLength(t),
        TE.charUnitSubstr(t, lit(5), lit(9)),
        VE.cosine(col("a"), col("b")), VE.dot(col("a"), col("b")),
        VE.nearestCentroid(col("a"), col("m")),
        VE.pqAdcDistance(col("code"), col("lut")),
        VE.matVec(col("m"), col("a")),
        SE.bloomMightContain(col("key"), col("bits"), col("k")),
        SE.inLongSet(col("key"), col("lset")))
      val got = df.select(helpers: _*).head()
      assert((0 until 14).forall(i => !got.isNullAt(i)), got)
      assert(got.getAs[String](6) == "quick")
      assert(math.abs(got.getDouble(7) - 1.0) < 1e-12)
      assert(got.getSeq[Double](11) == Seq(2.0, 1.0))
      assert(got.getBoolean(13))
      assert(graftNames.isEmpty) // no helper registered anything

      // a user's own function under a graft_* name survives a helper call
      s2.udf.register("graft_cosine", (_: Seq[Double], _: Seq[Double]) => 42.0)
      df.select(VectorFunctions.cosineFast(col("a"), col("b"))).head()
      assert(s2.sql("SELECT graft_cosine(a, b) FROM VALUES " +
        "(array(1.0D), array(2.0D)) AS v(a, b)").head().getDouble(0) == 42.0)
      assert(graftNames == Set("graft_cosine"))

      // the explicit route: register once, then the SQL names resolve to
      // the same expressions the helpers build
      reg.dropFunction(FunctionIdentifier("graft_cosine"))
      GraftFunctions.register(s2)
      assert(graftNames == GraftFunctions.all.map(_._1.funcName).toSet)
      val viaSql = df.selectExpr(
        "graft_shingles(text, 2)", "graft_nfc(text)",
        "graft_winnowed_grams(text, 3, 1)", "graft_cdc_boundaries(text, 4, 3)",
        "graft_tf_norm_sq(text)", "graft_char_unit_length(text)",
        "graft_char_unit_substr(text, 5, 9)", "graft_cosine(a, b)",
        "graft_dot(a, b)", "graft_nearest_centroid(a, m)",
        "graft_pq_adc(code, lut)", "graft_mat_vec(m, a)",
        "graft_bloom_might_contain(key, bits, k)",
        "graft_in_long_set(key, lset)").head()
      assert(viaSql == got)
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("FilterSpec array values compare against array columns") {
    val df = Seq((1L, Seq(0, 1)), (2L, Seq(1, 1)), (3L, Seq(0, 0)))
      .toDF("id", "gt")
    assert(df.filter(FilterSpec("gt", "=", Seq(0, 1)).toColumn)
      .select("id").head().getLong(0) == 1L)
    assert(df.filter(FilterSpec("gt", "!=", Seq(1, 1)).toColumn).count() == 2)
  }
}
