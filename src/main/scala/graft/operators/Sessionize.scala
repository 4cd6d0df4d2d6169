package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch gap-based sessionization — the offline twin of
  * `streaming/EventStreams.sessionizeByGap` (which holds per-key state in
  * a stream; this derives the same sessions from a complete table).
  *
  * Execution shape at scale: ONE shuffle on `keys`, then two
  * in-partition window passes over the sorted run (lag to detect gaps,
  * running sum to number sessions) sharing the exchange and sort. No
  * join, no explode; memory is O(1) per row beyond the sort.
  *
  * `tsCol` must be numeric (e.g. epoch nanos — see
  * GraftSession.nanosToTimestamp notes); `gap` is in the same unit.
  * `tieBreak` columns make the in-key order total when timestamps can
  * collide, which keeps session numbering deterministic.
  */
object Sessionize {

  def byGap(df: DataFrame, keys: Seq[String], tsCol: String, gap: Long,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val order: Seq[Column] = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    // first row per key: lag is NULL -> comparison NULL -> otherwise(0)
    val breaks = when(col(tsCol) - lag(col(tsCol), 1).over(w) > gap, 1)
      .otherwise(0)
    df.withColumn("__brk", breaks)
      .withColumn("session_seq", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__brk")
  }

  /** Per-session rollup: count + span per (keys, session). */
  def sessions(df: DataFrame, keys: Seq[String], tsCol: String, gap: Long,
      tieBreak: Seq[String] = Nil): DataFrame =
    byGap(df, keys, tsCol, gap, tieBreak)
      .groupBy((keys :+ "session_seq").map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("start_ts"), max(col(tsCol)).as("end_ts"))
}
