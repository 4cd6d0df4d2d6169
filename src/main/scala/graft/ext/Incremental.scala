package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance — the materialized-view refresh
  * primitive: instead of re-scanning the fact history on every refresh,
  * keep a per-group PARTIAL-AGGREGATE state table (count / exact
  * decimal sum / min / max) and fold each new batch in with a merge
  * that is itself just an aggregation of `state ∪ state(delta)`.
  *
  * Every component is associative and commutative (counts and DECIMAL
  * sums add exactly — no float drift under any merge order; min/max
  * are semilattice joins), so `merge(state(a), state(b)) ==
  * state(a ∪ b)` EXACTLY — spec-pinned, and the q130 oracle recomputes
  * the final answer from scratch over all rows.
  *
  * Cost model at 100 TB: refresh = one aggregation of the DELTA (its
  * own map-side partials) + a merge shuffle of |touched groups ∪
  * snapshot groups| state rows — group-cardinality-sized, never
  * history-sized. Derived values (mean here; variance would ride a
  * sum-of-squares column the same way) are computed only at read time
  * by [[finish]], never stored — storing them would break mergeability.
  */
object Incremental {

  /** Per-group partial-aggregate state of one batch of rows. The sum
    * is normalized to DECIMAL(38,2) so state and merged-state carry
    * the SAME schema (Spark widens summed decimals; without the cast,
    * `merge` output would not union with fresh state). */
  def aggregateState(df: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(col(valueCol).cast("decimal(18,2)"))
          .cast("decimal(38,2)").as("sum_val"),
        min(col(valueCol)).as("min_val"),
        max(col(valueCol)).as("max_val"))

  /** Fold two state tables (snapshot + delta-state, or any two). */
  def merge(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_val")).cast("decimal(38,2)").as("sum_val"),
        min(col("min_val")).as("min_val"),
        max(col("max_val")).as("max_val"))

  /** Read-time projection: the user-facing aggregate row, with derived
    * values (mean) computed from the exact state — one IEEE division,
    * reproducible in any engine. */
  def finish(state: DataFrame): DataFrame =
    state.withColumn("mean_val",
      col("sum_val").cast("double") / col("n_rows").cast("double"))

  /** Per-group bivariate moment state — the mergeable form of
    * correlation/regression: exact DECIMAL sums of (x, y, x², y², xy)
    * over non-null pairs. Sums add exactly in any order, so
    * `corrMerge(state(a), state(b)) == state(a ∪ b)` EXACTLY — the
    * same IVM contract as [[aggregateState]], extended to second
    * moments. Inputs quantize to DECIMAL(18,6) (products carry 12
    * fractional digits; 26 integral digits absorb 10¹² rows of 10¹²-
    * sized products before overflow). Derived statistics (Pearson r,
    * OLS slope/intercept, means) live in [[corrFinish]] — storing them
    * would break mergeability. */
  def corrState(df: DataFrame, keys: Seq[String],
      xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("decimal(18,6)")
    val y = col(yCol).cast("decimal(18,6)")
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(x).cast("decimal(38,6)").as("sum_x"),
        sum(y).cast("decimal(38,6)").as("sum_y"),
        sum(x * x).cast("decimal(38,12)").as("sum_xx"),
        sum(y * y).cast("decimal(38,12)").as("sum_yy"),
        sum(x * y).cast("decimal(38,12)").as("sum_xy"))
  }

  /** Fold two bivariate states (snapshot + delta, or any two). */
  def corrMerge(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_x")).cast("decimal(38,6)").as("sum_x"),
        sum(col("sum_y")).cast("decimal(38,6)").as("sum_y"),
        sum(col("sum_xx")).cast("decimal(38,12)").as("sum_xx"),
        sum(col("sum_yy")).cast("decimal(38,12)").as("sum_yy"),
        sum(col("sum_xy")).cast("decimal(38,12)").as("sum_xy"))

  /** Read-time statistics off the exact state: means, covariance,
    * Pearson r, OLS slope/intercept (y on x). Every derived value is
    * a fixed sequence of correctly-rounded IEEE double ops over the
    * exact decimal sums (×, −, ÷, sqrt — no transcendental), so any
    * engine replaying the same expression gets the same bits.
    * Degenerate groups (n < 2 or zero variance) yield NULL r/slope —
    * never a division crash. */
  def corrFinish(state: DataFrame): DataFrame = {
    val n = col("n_rows").cast("double")
    val sx = col("sum_x").cast("double")
    val sy = col("sum_y").cast("double")
    val sxx = col("sum_xx").cast("double")
    val syy = col("sum_yy").cast("double")
    val sxy = col("sum_xy").cast("double")
    val covN = n * sxy - sx * sy // n²·covariance
    val varXN = n * sxx - sx * sx
    val varYN = n * syy - sy * sy
    state
      .withColumn("mean_x", sx / n)
      .withColumn("mean_y", sy / n)
      .withColumn("pearson_r",
        when(col("n_rows") >= 2 && varXN > 0 && varYN > 0,
          covN / sqrt(varXN * varYN)))
      .withColumn("slope",
        when(col("n_rows") >= 2 && varXN > 0, covN / varXN))
      .withColumn("intercept",
        when(col("n_rows") >= 2 && varXN > 0,
          (sy - (covN / varXN) * sx) / n))
  }

  /** Winsorized mean off the exact histogram: clamp every value to its
    * group's [p5, p95] grid percentiles (the
    * [[percentilesFromState]] rank selection), then aggregate the
    * CLAMPED UNITS — integer arithmetic end to end, one IEEE division
    * at the edge, so the result is engine-reproducible bit for bit.
    * The robust-mean companion of the q150 IQR fences: instead of
    * FLAGGING outliers it absorbs them into the cut values (the
    * standard winsorized estimator). Cuts join back to the histogram
    * NULL-SAFELY (a NULL group key is a legitimate group — the
    * percentiles lesson) and the cut table is group-sized, so the
    * join broadcasts. Output: (keys…, n_values, lo_unit, hi_unit,
    * winsorized_mean). */
  def winsorizedMean(hist: DataFrame, keys: Seq[String],
      scale: Double): DataFrame = {
    val cuts = percentilesFromState(hist, keys,
        Seq(("__lo", 5, 100), ("__hi", 95, 100)))
      .select(keys.map(col) :+ col("__lo") :+ col("__hi"): _*)
    // cuts derive FROM hist, so the join is a self-join — alias both
    // sides or the analyzer rejects the key columns as ambiguous
    val joined =
      if (keys.isEmpty) hist.crossJoin(broadcast(cuts))
      else hist.alias("__wh")
        .join(broadcast(cuts.alias("__wc")),
          keys.map(k => col(s"__wh.$k") <=> col(s"__wc.$k"))
            .reduce(_ && _))
        .select(keys.map(k => col(s"__wh.$k").as(k)) ++
          Seq(col("__wh.unit").as("unit"), col("__wh.c").as("c"),
            col("__wc.__lo").as("__lo"),
            col("__wc.__hi").as("__hi")): _*)
    joined
      .withColumn("__cu",
        least(greatest(col("unit"), col("__lo")), col("__hi")))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("c")).as("n_values"),
        max(col("__lo")).as("lo_unit"), max(col("__hi")).as("hi_unit"),
        sum(col("__cu") * col("c")).as("__s"))
      .withColumn("winsorized_mean",
        (col("__s").cast("double") / col("n_values").cast("double")) /
          lit(scale))
      .drop("__s")
  }

  /** Incremental JOIN maintenance (insert-only IVM): the DELTA of an
    * inner equi-join when both sides receive appends —
    *
    *   Δ(A ⋈ B) = (ΔA ⋈ B) ∪ (A ⋈ ΔB) ∪ (ΔA ⋈ ΔB)
    *
    * so `snapA.join(snapB) ∪ joinDelta(...) == (A∪ΔA) ⋈ (B∪ΔB)`
    * exactly (the three terms partition the new pairs by which side of
    * each pair is new — no overlap, no misses). Insert-only by
    * contract: deletions/updates need retraction counts, which the
    * aggregate-state path handles; facts and dims are append-only in
    * the pipelines this serves.
    *
    * Scale shape: every term joins a DELTA against something, so with
    * delta ≪ snapshot both snapshot scans run as broadcast-hash joins
    * (delta side hinted) — the history is scanned twice map-only and
    * SHUFFLED never, the [[graft.ext.Dedup.connectedComponentsDelta]]
    * convention applied to joins. Output columns follow
    * `snapA.join(snapB, keys)` (keys, A payload, B payload). */
  def joinDelta(snapA: DataFrame, deltaA: DataFrame,
      snapB: DataFrame, deltaB: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "joinDelta needs at least one key")
    val newA = snapA.join(broadcast(deltaB), keys)
    val newB = broadcast(deltaA).join(snapB, keys)
    val newBoth = deltaA.join(broadcast(deltaB), keys)
    // align all three to the canonical snapA⋈snapB column order
    val cols = snapA.join(snapB, keys).columns.map(col).toSeq
    newB.select(cols: _*)
      .unionByName(newA.select(cols: _*))
      .unionByName(newBoth.select(cols: _*))
  }

  /** Value-domain histogram state — the mergeable form of EXACT order
    * statistics: quantize to an integer grid of 1/100ths (`unit =
    * floor(v·100 + 0.5)`), keep `(keys…, unit, c)`. Counts add, so
    * `histogramMerge(state(a), state(b)) == state(a ∪ b)` EXACTLY and
    * any percentile is a read-time rank selection — an incrementally
    * maintained exact median/p99, which mergeable INTERPOLATING
    * sketches cannot give. State size is bounded by |groups| × |value
    * grid| regardless of row count — the trade that makes it a state
    * table; for unbounded-domain measures use a sketch instead. */
  def histogramState(df: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(keys.map(col) :+
        floor(col(valueCol) * lit(100.0) + lit(0.5)).cast("long")
          .as("unit"): _*)
      .agg(count(lit(1)).as("c"))

  /** Fold two histogram states (snapshot + delta, or any two). */
  def histogramMerge(a: DataFrame, b: DataFrame,
      keys: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy((keys :+ "unit").map(col): _*)
      .agg(sum(col("c")).as("c"))

  /** Read-time exact percentiles off a histogram state: for each
    * `(outName, num, den)` the order statistic at rank
    * ceil((num/den)·n) — all rank arithmetic integral
    * (ceil(a/b) = (a + b − 1) div b), the selection one integer
    * cumulative sum over the (groups × grid)-sized state, never the
    * raw rows. Adds `n_values`. */
  def percentilesFromState(hist: DataFrame, keys: Seq[String],
      percentiles: Seq[(String, Int, Int)]): DataFrame = {
    require(percentiles.nonEmpty, "need at least one percentile")
    percentiles.foreach { case (_, num, den) =>
      require(num > 0 && den > 0 && num <= den,
        s"percentile must be in (0, 1]: $num/$den")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy("unit")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val aggs = percentiles.map { case (name, num, den) =>
      min(when(col("cum") >= expr(s"($num*n + ${den - 1}) div $den"),
        col("unit"))).as(name)
    } :+ max(col("n")).as("n_values")
    // group total as a window sum over the SAME partitioning as the
    // cumulative sum (one shuffle serves both), not a separate
    // aggregate joined back on the keys: a using-column equi-join
    // never matches NULL group keys, so NULL-keyed groups silently
    // vanished; window partitioning groups NULLs together.
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    hist.withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
