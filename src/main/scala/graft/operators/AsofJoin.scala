package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed as-of join, backward (for every left row, the most recent
  * right row with `rightTs <= leftTs`) and forward (the earliest right
  * row with `rightTs >= leftTs`), within the same key group.
  *
  * Not in the reference (SURVEY §2.3 notes its absence) — added as a
  * first-class time-series operator for event/feature alignment.
  *
  * Implementation is the union-tag trick, which Spark executes as ONE
  * shuffle + sort over the combined stream (no join at all):
  * right rows and left rows interleave in (key, ts) order; a running
  * `last(right_payload, ignoreNulls)` window carries the latest right
  * payload forward onto each left row. At 100 TB this is
  * shuffle-by-key + in-partition sort — the minimal possible movement
  * for this semantics, with no risk of the O(|L|·|R|) blowup a naive
  * `ts_r <= ts_l` range join has.
  *
  * Equal timestamps: right rows sort BEFORE left rows, so a right row at
  * exactly leftTs matches (>= semantics). Right rows must be unique per
  * (keys, ts) — pre-aggregate duplicates or results are tie-broken by
  * window order of the duplicates.
  */
object AsofJoin {

  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String): DataFrame =
    asof(left, right, keys, leftTs, rightTs, forward = false)

  /** Forward as-of: for every left row, the EARLIEST right row with
    * `rightTs >= leftTs` in the same key group (the "next event"
    * alignment). Same one-shuffle union-tag plan as [[backward]], with
    * the window order reversed; a right row at exactly leftTs matches. */
  def forward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String): DataFrame =
    asof(left, right, keys, leftTs, rightTs, forward = true)

  /** Tag and union the two sides: right rows carry their payload
    * struct in `__r` with `__src = 0`, left rows carry `__r = null`,
    * `__src = 1` and their own columns (null-padded on the right
    * stream). Returns the union plus the left/right payload column
    * name lists the final projection needs. */
  private def tagUnion(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTs: String, rightTs: String)
      : (DataFrame, Seq[String], Seq[String]) = {
    val rightPayloadCols = right.columns.filterNot(c =>
      keys.contains(c) || c == rightTs).toSeq
    val clash = rightPayloadCols.toSet
      .intersect(left.columns.filterNot(keys.contains).toSet)
    require(clash.isEmpty,
      s"asof join: right payload columns collide with left columns " +
        s"(${clash.mkString(", ")}) — rename one side first")
    val payload = struct(rightPayloadCols.map(col): _*)
    val taggedRight = right.select(
      keys.map(col) ++ Seq(col(rightTs).as("__ts"), payload.as("__r"),
        lit(0).as("__src")): _*)
    val leftCols = left.columns
      .filterNot(c => keys.contains(c) || c == leftTs).toSeq
    val taggedLeft = left.select(
      keys.map(col) ++ Seq(col(leftTs).as("__ts"),
        lit(null).cast(taggedRight.schema("__r").dataType).as("__r"),
        lit(1).as("__src")) ++ leftCols.map(col): _*)
    // pad the right stream with the left's columns so the union lines up
    val paddedRight = leftCols.foldLeft(taggedRight)((df, c) =>
      df.withColumn(c, lit(null).cast(left.schema(c).dataType)))
    (taggedLeft.unionByName(paddedRight), leftCols, rightPayloadCols)
  }

  /** The final projection of [[asof]]: keep left rows, unpack the
    * matched right payload. Expects `__match`. */
  private def finish(matched: DataFrame, keys: Seq[String],
      leftTs: String, leftCols: Seq[String],
      rightPayloadCols: Seq[String]): DataFrame =
    matched.filter(col("__src") === 1)
      .drop("__r", "__src")
      .withColumnRenamed("__ts", leftTs)
      .select((keys.map(col) :+ col(leftTs)) ++
        leftCols.map(col) ++
        rightPayloadCols.map(c => col("__match").getField(c).as(c)): _*)

  private def asof(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, forward: Boolean): DataFrame = {
    val (unioned, leftCols, rightPayloadCols) =
      tagUnion(left, right, keys, leftTs, rightTs)

    // backward walks time ascending (latest right ≤ leftTs wins);
    // forward walks it descending (earliest right ≥ leftTs wins). The
    // forward walk is evaluated as backward on a NEGATED timeline — an
    // ascending sort over `-ts` — rather than `__ts.desc`: the
    // ascending form keeps the sort prefix radix-friendly and matches
    // the machinery the backward path exercises (adjudicated round 8:
    // the desc-ordered window ran ~1.7× slower than its exact mirror on
    // the same data; see BENCH.md). At equal ts (__ord ties), right
    // (__src=0) still sorts before left, so an exactly-simultaneous
    // right row matches in both directions.
    import org.apache.spark.sql.types.{DateType, NumericType,
      TimestampNTZType, TimestampType}
    val tsOrder: Column =
      if (!forward) col("__ts").asc
      else unioned.schema("__ts").dataType match {
        case TimestampType => (-unix_micros(col("__ts"))).asc
        case TimestampNTZType =>
          (-unix_micros(col("__ts").cast("timestamp"))).asc
        case DateType => (-col("__ts").cast("int")).asc
        case _: NumericType => (-col("__ts")).asc
        // non-numeric, non-temporal timeline: no total negation exists —
        // fall back to the descending sort (correct, just not the fast
        // path; unreachable for every graft call site today)
        case _ => col("__ts").desc
      }
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(tsOrder, col("__src").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    finish(unioned
        .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w)),
      keys, leftTs, leftCols, rightPayloadCols)
  }

  /** As-of join with a tolerance window: match only if the right row is
    * within `maxGap` time units before the left row.
    *
    * Gap units: `TimestampType` columns are cast to long before
    * differencing (whole SECONDS — without the cast, timestamp
    * subtraction yields a day-time interval that can't compare to a
    * long). Numeric timestamp columns (epoch nanos/millis/fractional
    * units) difference in their NATIVE type — no cast, so fractional
    * gaps are not silently truncated into the window. */
  def backwardWithin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, maxGap: Long,
      rightTsOut: String = "matched_ts"): DataFrame = {
    val r2 = right.withColumn(rightTsOut, col(rightTs))
    val joined = backward(left, r2, keys, leftTs, rightTs)
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    def ts(c: org.apache.spark.sql.Column) =
      left.schema(leftTs).dataType match {
        case TimestampType => c.cast("long")
        // NTZ→long is not a valid cast; route through TimestampType
        // (session-tz interpretation — consistent on both sides of the
        // difference, so the gap is unaffected)
        case TimestampNTZType => c.cast("timestamp").cast("long")
        case _ => c
      }
    val within = col(rightTsOut).isNotNull &&
      (ts(col(leftTs)) - ts(col(rightTsOut))) <= maxGap
    val outCols = r2.columns.filterNot(c => keys.contains(c) || c == rightTs)
    outCols.foldLeft(joined)((df, c) =>
      df.withColumn(c, when(within, col(c))))
  }
}
