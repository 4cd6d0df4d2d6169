package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cohort retention analysis over an event log — the fourth member of
  * the event-analytics family ([[Sessionize]], [[AsofJoin]], [[Funnel]]):
  * of the users whose FIRST activity fell in bucket c, how many were
  * active again c+k buckets later?
  *
  * Buckets are fixed-width integer windows over the raw timestamp
  * (`ts div bucketWidth`) — calendar-free on purpose: the math stays
  * exact integer division at any unit (nanos/micros/days), and the
  * oracle replicates it verbatim.
  */
object Retention {

  /** Both operators bucket via integer `ts div width`, so `tsCol` must
    * ALREADY be an integral timeline (epoch micros/millis/days — e.g.
    * `GraftSession.tsMicros`). A TimestampType input would silently
    * truncate to whole seconds through `CAST(ts AS BIGINT)` — fail
    * loudly instead (VERDICT r7 Next #5). */
  private def requireIntegralTs(events: DataFrame, tsCol: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = events.schema(tsCol).dataType
    val integral = dt == LongType || dt == IntegerType ||
      dt == ShortType || dt == ByteType
    require(integral,
      s"Retention: `$tsCol` is $dt but must be an integral timeline " +
        "(epoch micros/millis/days); convert first — e.g. " +
        "GraftSession.tsMicros — so bucketWidth and ts share a unit")
  }

  /** Cohort × offset activity matrix: one row per (cohort bucket,
    * bucket offset) with the distinct-user count and the retention rate
    * against the cohort's size. Offset 0 always holds the full cohort
    * (a user is by definition active in its first bucket), so
    * `retention` is 1.0 there and the later offsets read as the classic
    * retention curve.
    *
    * Plan shape — three user-keyed exchanges, each on a SHRUNKEN
    * stream, none on raw events: (1) events collapse to distinct
    * (user, bucket) pairs — the only pass over the log, and the
    * aggregation is partial (map-side) before anything moves; (2) one
    * window min over the user key pins each user's cohort (pairs per
    * user = active buckets, a small bounded set); (3) the (cohort,
    * offset) roll-up groups ~|users|·|buckets| pairs. At 100 TB the log
    * never shuffles — only the deduped pair stream does — and every
    * stage is key-parallel with no skew hotter than the busiest user's
    * bucket count. */
  def cohortMatrix(events: DataFrame, userCol: String, tsCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    requireIntegralTs(events, tsCol)
    val pairs = events
      .select(col(userCol),
        expr(s"CAST(`$tsCol` AS BIGINT) div ${bucketWidth}L").as("__bucket"))
      .distinct()
    val withCohort = pairs.withColumn("cohort",
      min(col("__bucket")).over(Window.partitionBy(col(userCol))))
    val counts = withCohort
      .groupBy(col("cohort"), (col("__bucket") - col("cohort"))
        .as("bucket_offset"))
      .agg(count(lit(1)).as("n_users"))
    val w = Window.partitionBy(col("cohort"))
    counts.withColumn("retention",
      col("n_users").cast("double") /
        max(when(col("bucket_offset") === 0, col("n_users")))
          .over(w).cast("double"))
  }

  /** Rolling active-user counts (the DAU/WAU/MAU family): for each
    * bucket, how many distinct users were active in the trailing
    * `window` buckets (that bucket included)?
    *
    * Rather than a distinct-over-range window (which Spark cannot
    * evaluate incrementally — and which degenerates to one task per
    * frame), each distinct (user, bucket) activity pair is fanned out
    * to the `window` bucket-ends it supports; an exact count-distinct
    * per bucket-end then closes the query. Work and shuffle bytes are
    * ∝ pairs × window — the raw log never shuffles (the distinct
    * collapses it map-side), and every stage is keyed by (bucket, user)
    * or bucket, so parallelism never drops to the frame count.
    *
    * Trailing edge: bucket-ends up to `window − 1` past a user's last
    * activity still count that user (the window still covers them);
    * bucket-ends beyond the corpus's last activity are emitted for the
    * same reason, so the curve decays to zero over the final `window`
    * buckets instead of cutting off. */
  def rollingActive(events: DataFrame, userCol: String, tsCol: String,
      bucketWidth: Long, window: Int): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    require(window > 0, s"window must be positive: $window")
    requireIntegralTs(events, tsCol)
    val pairs = events
      .select(col(userCol),
        expr(s"CAST(`$tsCol` AS BIGINT) div ${bucketWidth}L").as("__bucket"))
    val fanned = pairs.distinct()
      .select(col(userCol), explode(sequence(col("__bucket"),
        col("__bucket") + lit(window - 1L))).as("bucket"))
    fanned.groupBy("bucket").agg(countDistinct(col(userCol)).as("active_users"))
  }
}
