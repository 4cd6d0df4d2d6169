package graft.ranges

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalable interval joins (SURVEY §2.3 J6–J9, §4.4).
  *
  * A naive interval join on `(chrom)` equi keys + a range predicate makes
  * Spark evaluate the predicate for every same-chromosome pair — a
  * per-chromosome nested loop that collapses at genome scale (few, huge
  * keys → extreme skew). The standard fix is **binning**: assign every
  * interval to the fixed-width bins it touches, equi-join on
  * `(keys..., bin)`, then apply the exact predicate.
  *
  * Duplicate elimination is done WITHOUT a distinct shuffle: an
  * overlapping pair co-occurs in every shared bin, but it is kept only in
  * the canonical bin `floor(max(start1, start2) / width)` — which both
  * sides of an overlapping pair are guaranteed to touch — so each pair
  * survives exactly once.
  *
  * At 100 TB this plan is: two scans → explode (cheap, ~(len/width + 1)×
  * fanout) → one shuffle each on (keys, bin) → hash join → codegen'd
  * filter. No skew by chromosome (bins spread each chromosome over many
  * partitions), no nested loop, no distinct.
  */
object RangeJoin {

  /** Explode `df` rows into the bins [floor(start/w), floor(end/w)]. */
  private def binned(df: DataFrame, start: String, end: String,
      width: Long): DataFrame =
    df.withColumn("__bin",
      explode(sequence(
        floor(col(start) / lit(width)).cast("long"),
        floor(col(end) / lit(width)).cast("long"))))

  /** Interval-overlap join (closed ends).
    *
    * @param keys    equality keys present on both sides (e.g. chrom, strand)
    * @param width   bin width in coordinate units; choose ≈ the upper
    *                quantile of interval length so fanout stays ~2
    * @return        rows pairing every overlapping (left, right) couple;
    *                all left columns + all right columns (names must be
    *                disjoint apart from `keys`)
    */
  def overlapJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      width: Long = 10000L): DataFrame = {
    val l = binned(left, lStart, lEnd, width)
    val r = binned(right, rStart, rEnd, width)
    l.join(r, keys :+ "__bin")
      .filter(Intervals.overlaps(col(lStart), col(lEnd), col(rStart), col(rEnd)))
      .filter(col("__bin") ===
        floor(greatest(col(lStart), col(rStart)) / lit(width)).cast("long"))
      .drop("__bin")
  }

  /** Interval-overlap join against a SMALL interval set, with ZERO
    * shuffle of the big side — the annotation pattern (100 TB of reads
    * against a gene model of ~10^6 rows, or a fact stream against a
    * config-sized interval table).
    *
    * [[overlapJoin]] shuffles BOTH sides on (keys, bin); when one side
    * fits the broadcast threshold that shuffle is pure waste. Here the
    * small side is binned and broadcast, so the plan is: big scan →
    * map-only bin explode (~2× fanout) → BroadcastHashJoin on
    * (keys, bin) → codegen'd exact filter + canonical-bin dedup. No
    * exchange anywhere — the big side streams through untouched, and
    * the whole pipeline stays in one WholeStageCodegen span. Binning the
    * broadcast side (vs broadcasting raw and filtering) keeps the probe
    * cost per big row at the handful of intervals sharing its bins, not
    * every same-key interval.
    *
    * Same semantics as [[overlapJoin]] (closed ends, each overlapping
    * pair exactly once) — spec-asserted equal. */
  def overlapJoinBroadcast(big: DataFrame, small: DataFrame,
      keys: Seq[String], lStart: String, lEnd: String, rStart: String,
      rEnd: String, width: Long = 10000L): DataFrame = {
    val l = binned(big, lStart, lEnd, width)
    val r = broadcast(binned(small, rStart, rEnd, width))
    l.join(r, keys :+ "__bin")
      .filter(Intervals.overlaps(col(lStart), col(lEnd), col(rStart), col(rEnd)))
      .filter(col("__bin") ===
        floor(greatest(col(lStart), col(rStart)) / lit(width)).cast("long"))
      .drop("__bin")
  }

  /** Distinct left-row ids having at least one overlap partner — the
    * matched side of [[overlapAntiJoin]]. The
    * binned candidate join skips the canonical-bin dedup (existence
    * doesn't care how often a pair co-occurs); the id-distinct replaces
    * it. */
  private def matchedIds(left: DataFrame, right: DataFrame,
      keys: Seq[String], lStart: String, lEnd: String, rStart: String,
      rEnd: String, leftId: String, width: Long): DataFrame = {
    val l = binned(left.select((keys :+ leftId :+ lStart :+ lEnd)
      .map(col): _*), lStart, lEnd, width)
    val r = binned(right, rStart, rEnd, width)
    l.join(r, keys :+ "__bin")
      .filter(Intervals.overlaps(col(lStart), col(lEnd), col(rStart), col(rEnd)))
      .select(col(leftId)).distinct()
  }

  /** Interval anti-join: left rows overlapping NO right interval
    * (bedtools `intersect -v` — "unannotated reads"). `leftId` must
    * uniquely identify left rows. */
  def overlapAntiJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      leftId: String, width: Long = 10000L): DataFrame =
    left.join(matchedIds(left, right, keys, lStart, lEnd, rStart, rEnd,
      leftId, width), Seq(leftId), "left_anti")

  /** Point-in-interval join: right rows whose [rStart, rEnd] contains the
    * left point column (J6 gene/transcript containment,
    * `junction.py:159-164`). Left explodes to a single bin per row. */
  def containmentJoin(points: DataFrame, intervals: DataFrame,
      keys: Seq[String], pointCol: String, rStart: String, rEnd: String,
      width: Long = 10000L): DataFrame = {
    val p = points.withColumn("__bin",
      floor(col(pointCol) / lit(width)).cast("long"))
    val iv = binned(intervals, rStart, rEnd, width)
    p.join(iv, keys :+ "__bin")
      .filter(Intervals.contains(col(rStart), col(rEnd), col(pointCol)))
      .drop("__bin")
  }

  /** Scalar tolerance join: pairs whose numeric values are within ±tol
    * (J7 generalized). Left value joins right values in the band
    * `floor(v/tol)` ± 1, then the exact |l - r| <= tol filter applies.
    * Each qualifying pair matches exactly one (leftBand, rightBand)
    * combination, so no dedup pass is needed. */
  def toleranceJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      lVal: String, rVal: String, tol: Double): DataFrame = {
    val l = left.withColumn("__band",
      explode(array(
        floor(col(lVal) / lit(tol)).cast("long") - lit(1L),
        floor(col(lVal) / lit(tol)).cast("long"),
        floor(col(lVal) / lit(tol)).cast("long") + lit(1L))))
    val r = right.withColumn("__band",
      floor(col(rVal) / lit(tol)).cast("long"))
    l.join(r, keys :+ "__band")
      .filter(abs(col(lVal) - col(rVal)) <= lit(tol))
      .drop("__band")
  }
}
