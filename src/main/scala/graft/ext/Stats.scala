package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact distributed descriptive statistics.
  *
  * Spark's native `stddev_samp`/`corr` stream doubles through Welford-style
  * merges, so the low bits depend on partition boundaries — two runs of the
  * same query on different cluster layouts disagree in the last ulps, and
  * no two engines agree bit-for-bit. That is fine for exploration and
  * useless for regression gates, reproducible training-data filters, or
  * cross-engine verification at 100 TB.
  *
  * This module derives the same statistics from ORDER-INDEPENDENT exact
  * moment sums instead:
  *
  *   1. quantize each value to an integer grid: `floor(x*scale + 0.5)`
  *      (multiply/add/floor are IEEE-identical in every engine — unlike
  *      double→decimal casts, which round via engine-specific paths);
  *   2. aggregate Σx, Σx², Σxy, n as exact DECIMAL(38,0) — associative,
  *      commutative, overflow-safe far beyond 100 TB row counts;
  *   3. derive mean/variance/stddev/corr with one fixed double expression
  *      tree over the exact sums.
  *
  * The result is bit-reproducible under any partitioning, any AQE plan,
  * and across engines (the DuckDB oracle runs the same formula).
  * Accuracy: the quantization grid (caller-chosen `scale`) bounds the
  * input error; for data with fixed decimal precision (prices, counts)
  * pick scale = 10^decimals and the statistics are EXACT.
  */
object Stats {

  /** `floor(x*scale + 0.5)` as a long — deterministic integer quantization
    * (round-half-up, negatives round toward +inf in both engines). */
  def quantize(c: Column, scale: Double): Column =
    floor(c.cast("double") * lit(scale) + lit(0.5))

  private def dsum38(c: Column): Column = sum(c.cast("decimal(38,0)"))

  /** Product in DECIMAL space: `floor` yields LONG, and a long×long
    * product wraps silently past 2^63 (quantized epoch-millis squared,
    * for instance) — cast each factor to DECIMAL(19,0) FIRST so the
    * product carries full precision into the DECIMAL(38,0) sum. The
    * oracle does the same cast-then-multiply. */
  private def dprod(a: Column, b: Column): Column =
    a.cast("decimal(19,0)") * b.cast("decimal(19,0)")

  /** Exact moment sums per group: n, Σq, Σq² of the quantized value. */
  def moments(df: DataFrame, value: Column, scale: Double,
      keys: Seq[String]): DataFrame = {
    val q = quantize(value, scale)
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        dsum38(q).as("s1"),
        dsum38(dprod(q, q)).as("s2"))
  }

  /** n / mean / sample variance / sample stddev per group, exact on a
    * 1/scale grid. One shuffle on the group key; everything else is
    * map-side partial aggregation. */
  def descriptive(df: DataFrame, value: Column, scale: Double,
      keys: Seq[String]): DataFrame = {
    val nD = col("n").cast("double")
    val s1 = col("s1").cast("double")
    val s2 = col("s2").cast("double")
    // fixed expression tree — identical IEEE ops in any engine
    val varPop = (nD * s2 - s1 * s1) / (nD * nD)
    val varSamp = (nD * s2 - s1 * s1) / (nD * (nD - lit(1.0)))
    moments(df, value, scale, keys)
      .select(keys.map(col) ++ Seq(
        col("n"),
        (s1 / nD / lit(scale)).as("mean"),
        (varSamp / lit(scale * scale)).as("var_samp"),
        sqrt(varPop / lit(scale * scale)).as("stddev_pop")): _*)
  }

  /** Pearson correlation per group from exact cross-moments. Correlation
    * is scale-invariant, so the quantization grids cancel except for the
    * grid error itself. */
  def pearson(df: DataFrame, x: Column, xScale: Double, y: Column,
      yScale: Double, keys: Seq[String]): DataFrame = {
    val qx = quantize(x, xScale)
    val qy = quantize(y, yScale)
    val agg = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        dsum38(qx).as("sx"), dsum38(dprod(qx, qx)).as("sxx"),
        dsum38(qy).as("sy"), dsum38(dprod(qy, qy)).as("syy"),
        dsum38(dprod(qx, qy)).as("sxy"))
    val nD = col("n").cast("double")
    val sx = col("sx").cast("double"); val sxx = col("sxx").cast("double")
    val sy = col("sy").cast("double"); val syy = col("syy").cast("double")
    val sxy = col("sxy").cast("double")
    val r = (nD * sxy - sx * sy) /
      sqrt((nD * sxx - sx * sx) * (nD * syy - sy * sy))
    agg.select(keys.map(col) ++ Seq(col("n"), r.as("corr")): _*)
  }

  /** Order-independent table content digest — the release-integrity
    * primitive: two tables (or two replicas, two engine runs, two
    * releases) have the same (n_rows, digest_hi, digest_lo) iff they
    * hold the same
    * row MULTISET over `cols`, checkable at 100 TB with one map-side-
    * combined aggregate and nothing but a count and a DECIMAL sum on
    * the wire. Each row canonicalizes to a \u0001-separated string of
    * LENGTH-PREFIXED cells (`len:value`, NULL as a bare \u0002) — the
    * netstring device: a raw join would let a value CONTAINING \u0001
    * shift cell boundaries, making ("x\u0001y", "z") and
    * ("x", "y\u0001z") digest equal; the length prefix keeps every
    * boundary parseable no matter what bytes the values hold (and a
    * value that IS the literal "\u0002" encodes as "1:\u0002", never
    * the null marker). The canonical strings hash through the
    * engine-portable md5-u32 device and the hashes SUM exactly:
    * addition commutes, so partitioning, merge order, and row order
    * are all invisible. The empty table digests to 0, not NULL — a
    * NULL digest would make the equality gate between two empty
    * releases evaluate to NULL. Drift detection, not cryptography —
    * an adversary can forge collisions, a flaky pipeline cannot.
    *
    * The accumulating STATE is DECIMAL(38,0) — a sum of u32 over 10^12
    * rows exceeds int64 but not 38 digits — while the OUTPUT renders
    * the digest as two BIGINTs, `digest_hi = digest div 2^63` /
    * `digest_lo = digest mod 2^63` ([[digestSplit]]): DECIMAL(38,x) is
    * the one output type whose cross-engine canonicalization differs
    * (parquet fixed-len-byte-array vs HUGEINT-backed rendering, r8
    * verdict), whereas two int64 halves are canonical everywhere and
    * lossless up to 2^126 rows·2^32 — beyond any physical corpus.
    *
    * Caveat: only use string-stable column types (integers, strings,
    * dates); floats render differently across engines. */
  def contentDigest(df: DataFrame, cols: Seq[String],
      keys: Seq[String] = Nil): DataFrame = {
    require(cols.nonEmpty, "contentDigest needs at least one column")
    val canon = concat_ws("\u0001", cols.map { c =>
      val s = col(c).cast("string")
      when(s.isNull, lit("\u0002"))
        .otherwise(concat(length(s).cast("string"), lit(":"), s))
    }: _*)
    val h = Sketches.hashU32(canon)
    val aggs = Seq(count(lit(1)).as("n_rows"),
      coalesce(sum(h.cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("__digest"))
    val st =
      if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    st.select((keys.map(col) :+ col("n_rows")) ++
      digestSplit("__digest"): _*)
  }

  /** Split a non-negative DECIMAL(38,0) digest column into (digest_hi,
    * digest_lo) BIGINT halves via divmod 2^63 — exact integral decimal
    * arithmetic (`div` is Spark's IntegralDivide, defined on decimals
    * and returning LONG; `%` stays decimal until the final lossless
    * cast, since the remainder is < 2^63 by construction). Factored
    * out so the overflow behavior above int64 is spec-pinnable on
    * literal wide decimals without building a 10^10-row table. */
  private[graft] def digestSplit(digestCol: String): Seq[Column] = {
    val two63 = "CAST('9223372036854775808' AS DECIMAL(38,0))"
    Seq(expr(s"CAST(`$digestCol` div $two63 AS BIGINT)").as("digest_hi"),
      expr(s"CAST(`$digestCol` % $two63 AS BIGINT)").as("digest_lo"))
  }

  /** One-pass table profile (the ANALYZE/data-quality primitive): for
    * each named column — row count, null count, exact distinct count,
    * and min/max (computed on the NATIVE type, then rendered as string
    * so one long-form schema fits every column). Output one row per
    * column: (col_name, n_rows, n_nulls, n_distinct, min_val, max_val).
    *
    * Plan: ONE Aggregate over the table. Multiple exact countDistincts
    * make Catalyst plan an Expand (one duplicated stream per distinct
    * column) — the price of oracle-checkable exact counts. The
    * long-form pivot is driver-free: one literal-struct array inlined
    * over the single aggregate row. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = count(lit(1)).as("__rows") +: cols.flatMap(c => Seq(
      sum(col(c).isNull.cast("long")).as(s"__nul_$c"),
      countDistinct(col(c)).as(s"__dst_$c"),
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col("__rows").as("n_rows"),
        col(s"__nul_$c").as("n_nulls"),
        col(s"__dst_$c").as("n_distinct"),
        col(s"__min_$c").as("min_val"),
        col(s"__max_$c").as("max_val"))): _*)).as("__p"))
      .select("__p.*")
  }

  /** Classifier calibration sweep (the PR-curve table): for every
    * DISTINCT score value taken as the decision threshold "keep iff
    * score ≥ t", the exact confusion counts and scaled-e9
    * precision/recall/F1. This is how a quality-classifier gate's
    * threshold is actually chosen before a 100 TB filtering run —
    * sweep the scored+labeled calibration set, pick the knee.
    *
    * Inputs: `scoreE9Col` — the score as a scaled BIGINT (the
    * repo-wide exact-edge convention, e.g. q172's `score_e9`);
    * `labelCol` — BOOLEAN ground truth (NULL counts as negative).
    * Output, one row per distinct score, descending-threshold
    * cumulative: (threshold_e9, tp, fp, fn, tn, precision_e9,
    * recall_e9, f1_e9) — every column an exact BIGINT. precision/
    * recall are floor((tp·10⁹)/denominator) computed through a
    * DECIMAL(20,0) widening so the product never overflows int64
    * even at 100 TB doc counts (`div` on decimals is IntegralDivide
    * → LONG); F1 is the standard harmonic mean RECOMPOSED from the
    * already-floored e9 pair — deterministic in any engine because
    * both stages are floor divisions of exact integers.
    *
    * Plan shape: one hash aggregation by score (map-side partials
    * collapse the corpus to |distinct scores| rows) + window passes
    * over that collapsed table. The window frame is global and
    * single-task BY DESIGN — a calibration sweep's row count is the
    * distinct-score count; for continuous float scores quantize to a
    * grid first (the scaled-e9 input contract already is one). */
  def thresholdSweep(df: DataFrame, scoreE9Col: String,
      labelCol: String): DataFrame =
    thresholdSweepCounts(df.withColumn("__one", lit(1L)),
      scoreE9Col, labelCol, "__one")

  /** [[thresholdSweep]] over PRE-AGGREGATED counts — rows are
    * (score, truth, n) tuples instead of one row per example. This is
    * the shape a streaming maintenance of the sweep folds to (q220:
    * the online Update-mode (score, truth) count table), and both
    * paths share this one derivation so the twins cannot drift. */
  def thresholdSweepCounts(df: DataFrame, scoreE9Col: String,
      labelCol: String, nCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = df
      .groupBy(col(scoreE9Col).cast("long").as("threshold_e9"))
      .agg(
        sum(when(coalesce(col(labelCol), lit(false)), col(nCol))
          .otherwise(0L)).as("__pos"),
        sum(when(coalesce(col(labelCol), lit(false)), lit(0L))
          .otherwise(col(nCol))).as("__neg"))
    val cum = Window.orderBy(col("threshold_e9").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    per
      .withColumn("tp", sum(col("__pos")).over(cum))
      .withColumn("fp", sum(col("__neg")).over(cum))
      .withColumn("__tpos", sum(col("__pos")).over(all))
      .withColumn("__tneg", sum(col("__neg")).over(all))
      .withColumn("fn", col("__tpos") - col("tp"))
      .withColumn("tn", col("__tneg") - col("fp"))
      .withColumn("precision_e9",
        // guard tp+fp=0 like recall/F1: unreachable via thresholdSweep
        // (every score row has n>=1) but the pre-aggregated entry
        // point — the streaming-twin shape — can see zero-count rows
        when(col("tp") + col("fp") > 0,
            expr("CAST(tp AS DECIMAL(20,0)) * 1000000000 div (tp + fp)"))
          .otherwise(lit(0L)))
      .withColumn("recall_e9",
        when(col("__tpos") > 0,
            expr("CAST(tp AS DECIMAL(20,0)) * 1000000000 div __tpos"))
          .otherwise(lit(0L)))
      .withColumn("f1_e9",
        when(col("precision_e9") + col("recall_e9") > 0,
            expr("(2 * precision_e9 * recall_e9)" +
              " div (precision_e9 + recall_e9)"))
          .otherwise(lit(0L)))
      .select("threshold_e9", "tp", "fp", "fn", "tn",
        "precision_e9", "recall_e9", "f1_e9")
  }

  /** Multi-class classification report: per class — support, tp/fp/fn,
    * floor-e9 precision/recall/F1, plus the macro-F1 (same constant on
    * every row). The class spine is truths ∪ predictions, so a class
    * the model never predicts (or never occurs) still reports its
    * zeros. The corpus collapses in ONE (truth, pred) aggregation
    * ([[confusionCounts]]); the report derives from that ≤|classes|²
    * matrix through [[classificationReportFromMatrix]]. */
  def classificationReport(df: DataFrame, truthCol: String,
      predCol: String): DataFrame =
    classificationReportFromMatrix(confusionCounts(df, truthCol, predCol))

  /** The counts half of [[classificationReport]]: ONE (truth, pred,
    * n) count aggregation. Its counts only grow, so it also runs as an
    * Update-mode streaming aggregation whose sink rows MAX-fold to the
    * same matrix (the q235 streaming row). */
  def confusionCounts(df: DataFrame, truthCol: String,
      predCol: String): DataFrame =
    df.groupBy(col(truthCol).as("truth"), col(predCol).as("pred"))
      .agg(count(lit(1)).as("n"))

  /** The derivation half of [[classificationReport]] over a
    * pre-aggregated (truth, pred, n) confusion matrix — the streaming
    * row's folded counts derive through these SAME expressions. */
  def classificationReportFromMatrix(m: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val classes = m.select(col("truth").as("cls"))
      .union(m.select(col("pred"))).distinct()
    val tp = m.where(col("truth") === col("pred"))
      .select(col("truth").as("cls"), col("n").as("__tp"))
    val support = m.groupBy(col("truth").as("cls"))
      .agg(sum(col("n")).as("__sup"))
    val predicted = m.groupBy(col("pred").as("cls"))
      .agg(sum(col("n")).as("__prd"))
    val all = Window.partitionBy()
    classes
      .join(tp, Seq("cls"), "left")
      .join(support, Seq("cls"), "left")
      .join(predicted, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("__tp"), lit(0L)).as("tp"),
        coalesce(col("__sup"), lit(0L)).as("support"),
        coalesce(col("__prd"), lit(0L)).as("predicted"))
      .withColumn("fp", col("predicted") - col("tp"))
      .withColumn("fn", col("support") - col("tp"))
      .withColumn("precision_e9",
        when(col("predicted") > 0,
            expr("CAST(tp AS DECIMAL(20,0)) * 1000000000 div predicted"))
          .otherwise(lit(0L)))
      .withColumn("recall_e9",
        when(col("support") > 0,
            expr("CAST(tp AS DECIMAL(20,0)) * 1000000000 div support"))
          .otherwise(lit(0L)))
      .withColumn("f1_e9",
        when(col("precision_e9") + col("recall_e9") > 0,
            expr("(2 * precision_e9 * recall_e9)" +
              " div (precision_e9 + recall_e9)"))
          .otherwise(lit(0L)))
      .withColumn("__sumf1", sum(col("f1_e9")).over(all))
      .withColumn("__k", count(lit(1)).over(all))
      .withColumn("macro_f1_e9", expr("__sumf1 div __k"))
      .select("cls", "support", "tp", "fp", "fn",
        "precision_e9", "recall_e9", "f1_e9", "macro_f1_e9")
  }

  /** Two-sample χ² distribution-drift report (the dataset-shift
    * monitor): given per-row (bucket, isCurrent) observations —
    * language mix, length decile, source share — compare the CURRENT
    * slice's bucket distribution against the REFERENCE slice's with
    * the classic contingency χ², computed EXACTLY in integers:
    *
    *   cell χ² = (o − e)²/e  with  e = rowTotal·colTotal/N
    *           = (o·N − r·c)² / (N·r·c)
    *
    * rendered as floor-e9 via divmod so no float ever enters
    * (`q·10⁹ + (rem·10⁹) div D`). Exactness bound (documented, not
    * checked): |o·N − r·c| must stay under ~10¹⁸ (DECIMAL(38,0)
    * squares; DuckDB HUGEINT has the same ceiling) — beyond ~10⁹-row
    * contingency tables, feed a uniform sample. Output per bucket:
    * n_ref, n_cur, chi2_cell_e9 (both sides' cells summed), plus the
    * constant total_chi2_e9 and dof = buckets − 1; compare the total
    * against the χ²(dof) critical value offline.
    *
    * ONE (bucket, side) aggregation collapses the corpus; everything
    * after runs on ≤|buckets| rows. */
  def chiSquareDrift(df: DataFrame, bucketCol: String,
      currentCol: String): DataFrame =
    chiSquareFromCounts(driftCounts(df, bucketCol, currentCol))

  /** The counts half of [[chiSquareDrift]]: ONE per-bucket aggregation
    * carrying both sides' counts (bucket, n_ref, n_cur). Its counts
    * only grow, so it also runs as an Update-mode streaming aggregation
    * whose sink rows MAX-fold to the same table (the q237 streaming
    * row). */
  def driftCounts(df: DataFrame, bucketCol: String,
      currentCol: String): DataFrame =
    df.groupBy(col(bucketCol).as("bucket"))
      .agg(
        sum(when(coalesce(col(currentCol), lit(false)), 0L)
          .otherwise(1L)).as("n_ref"),
        sum(when(coalesce(col(currentCol), lit(false)), 1L)
          .otherwise(0L)).as("n_cur"))

  /** The derivation half of [[chiSquareDrift]] over pre-aggregated
    * (bucket, n_ref, n_cur) counts — the shape the streaming row's
    * folded Update-mode counts arrive in; both paths share these
    * expressions. */
  def chiSquareFromCounts(per: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
    // cell(o, r, c, n): exact floor-e9 of (o·n − r·c)²/(n·r·c)
    def cell(o: String, c: String): String = {
      val a = s"(CAST($o AS DECIMAL(38,0)) * __n - __r * $c)"
      val d = s"(__n * __r * $c)"
      s"(CASE WHEN $c = 0 THEN 0 ELSE " +
        s"($a * $a div $d) * 1000000000 + " +
        s"(($a * $a % $d) * 1000000000) div $d END)"
    }
    per
      .withColumn("__n",
        sum(col("n_ref") + col("n_cur")).over(all).cast("decimal(38,0)"))
      .withColumn("__cref",
        sum(col("n_ref")).over(all).cast("decimal(38,0)"))
      .withColumn("__ccur",
        sum(col("n_cur")).over(all).cast("decimal(38,0)"))
      .withColumn("__r",
        expr("CAST(n_ref + n_cur AS DECIMAL(38,0))"))
      .withColumn("chi2_cell_e9",
        expr(s"CAST(${cell("n_ref", "__cref")} + " +
          s"${cell("n_cur", "__ccur")} AS BIGINT)"))
      .withColumn("total_chi2_e9",
        sum(col("chi2_cell_e9")).over(all))
      .withColumn("dof", count(lit(1)).over(all) - lit(1L))
      .select("bucket", "n_ref", "n_cur", "chi2_cell_e9",
        "total_chi2_e9", "dof")
  }

  /** Two-sample Kolmogorov–Smirnov drift on an INTEGER-valued column
    * (lengths, token counts, quantized scores) — the distribution-
    * shift monitor that catches shape changes χ² bucketing can miss.
    * Computed EXACTLY: D = max_v |F_ref(v) − F_cur(v)| over the
    * distinct values, with the fractions cleared to the integer
    * numerator |cumRef·nCur − cumCur·nRef| (DECIMAL(38,0); exact while
    * nRef·nCur < ~10²⁹ — beyond that, sample) and ONE floor-e9
    * division at the end. Output one row: n_ref, n_cur, ks_e9,
    * ks_at_value (the smallest value attaining D — min-struct argmax).
    *
    * Plan: one value-keyed aggregation collapses the corpus; the
    * cumulative window runs single-task over the |distinct values|
    * frame BY DESIGN (integer-valued monitoring columns are
    * low-cardinality; quantize continuous scores first). */
  def ksDrift(df: DataFrame, valueCol: String,
      currentCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = df.groupBy(col(valueCol).cast("long").as("v"))
      .agg(
        sum(when(coalesce(col(currentCol), lit(false)), 0L)
          .otherwise(1L)).as("r"),
        sum(when(coalesce(col(currentCol), lit(false)), 1L)
          .otherwise(0L)).as("c"))
    val wCum = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    per
      .withColumn("__cr", sum(col("r")).over(wCum))
      .withColumn("__cc", sum(col("c")).over(wCum))
      .withColumn("__nr", sum(col("r")).over(all))
      .withColumn("__nc", sum(col("c")).over(all))
      .withColumn("__num",
        expr("abs(CAST(__cr AS DECIMAL(38,0)) * __nc" +
          " - CAST(__cc AS DECIMAL(38,0)) * __nr)"))
      .agg(max(col("__nr")).as("n_ref"), max(col("__nc")).as("n_cur"),
        min(struct(
          (lit(0).cast("decimal(38,0)") - col("__num")).as("neg"),
          col("v").as("v"))).as("__b"))
      .select(col("n_ref"), col("n_cur"),
        when(col("n_ref") > 0 && col("n_cur") > 0,
          expr("CAST(((0 - __b.neg) * 1000000000)" +
            " div (CAST(n_ref AS DECIMAL(38,0)) * n_cur) AS BIGINT)"))
          .otherwise(lit(0L)).as("ks_e9"),
        col("__b").getField("v").as("ks_at_value"))
  }

  /** Per-group percentile-rank score normalization: quality scores
    * from different sources live on different scales, so mixing or
    * thresholding them jointly first maps each to its WITHIN-GROUP
    * percentile rank — `(rank − 1)/(n − 1)` (SQL PERCENT_RANK), here
    * floored to e9 so the normalized score is an exact BIGINT (ties
    * share a rank; a single-row group normalizes to 0). The
    * DECIMAL(20,0) widening keeps (rank−1)·10⁹ exact past int64 group
    * sizes. NULL scores sort FIRST in Spark and LAST in DuckDB —
    * filter them out before calling if the score column is nullable.
    *
    * One shuffle by group + per-group sort — the standard window
    * shape; groups are sources/domains, so the per-group frame is the
    * natural unit of work. Output: input columns + `pctl_e9`. */
  def groupPercentileRank(df: DataFrame, groupCols: Seq[String],
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(groupCols.nonEmpty, "groupPercentileRank needs group columns")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(scoreCol).asc)
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    df.withColumn("__r", rank().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("pctl_e9",
        when(col("__n") > 1,
            expr("CAST((__r - 1) AS DECIMAL(20,0)) * 1000000000" +
              " div (__n - 1)"))
          .otherwise(lit(0L)))
      .drop("__r", "__n")
  }
}
