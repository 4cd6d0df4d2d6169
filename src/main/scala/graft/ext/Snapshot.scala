package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (SCD type-2) history over a change log —
  * the "compact a CDC / event stream into a versioned snapshot" operator
  * a corpus-maintenance pipeline runs on every refresh: given rows of
  * (key, tracked attributes, ts), produce one row per VERSION with
  * `[valid_from, valid_to)` validity intervals, where consecutive rows
  * whose tracked attributes did not change collapse into one version and
  * the latest version per key has `valid_to = NULL`.
  *
  * Execution shape at scale: ONE shuffle on `keys`, then two
  * in-partition window passes sharing that exchange — a lag pass to
  * detect attribute changes (null-safe on every tracked column) and,
  * after dropping no-change rows, a lead pass to stitch each version's
  * `valid_to` to the next version's `valid_from`. No join, no state
  * beyond the sort. Both window passes order by (`tsCol`, `tieBreak`*)
  * so versioning is total and deterministic even when timestamps collide
  * (the q94 lesson: EVERY window pass repeats the full unique sort key).
  *
  * `tsCol` must be an integral timeline (epoch micros — route Spark
  * timestamps through `GraftSession.tsMicros` first); an integral
  * `valid_to` subtracts exactly for duration roll-ups.
  */
object Snapshot {

  /** Full rebuild: change log → SCD2 history. */
  def scd2FromLog(log: DataFrame, keys: Seq[String], tracked: Seq[String],
      tsCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty && tracked.nonEmpty,
      "scd2FromLog needs key and tracked columns")
    val order: Seq[Column] = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    // Null-safe per-column change test; the first row per key keeps
    // unconditionally (lag(ts) is NULL only there — tsCol is required
    // non-null on the log).
    val changed = tracked.map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _)
    val versions = log
      .withColumn("__keep", lag(col(tsCol), 1).over(w).isNull || changed)
      .filter(col("__keep"))
      .drop("__keep")
      .withColumnRenamed(tsCol, "valid_from")
    val wk = Window.partitionBy(keys.map(col): _*)
      .orderBy((col("valid_from") +: tieBreak.map(col)).map(_.asc): _*)
    versions
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wk))
      .withColumn("version_seq", row_number().over(wk).cast("long"))
      .select((keys ++ tracked).map(col)
        :+ col("version_seq") :+ col("valid_from") :+ col("valid_to"): _*)
  }

  /** Snapshot reconstruction: table state as of time `t` (one row per
    * key that existed then) — a filter, no join, no window. */
  def asOf(history: DataFrame, t: Long): DataFrame =
    history.filter(col("valid_from") <= lit(t) &&
      (col("valid_to").isNull || col("valid_to") > lit(t)))

  /** Key-level diff of two snapshots (two `asOf` instants, two corpus
    * releases, two table versions): one row per key present in either,
    * classified `added` / `removed` / `changed` / `unchanged` with the
    * before/after tracked values side by side (`old_*` / `new_*`).
    * The release-audit primitive a corpus pipeline runs between
    * versions.
    *
    * One full outer join on `keys` — hash-partitioned both sides, AQE
    * handles skew; comparison is null-safe per tracked column, and
    * presence markers (not tracked-null tests) drive the add/remove
    * classification so NULL tracked values diff correctly. */
  def diff(before: DataFrame, after: DataFrame, keys: Seq[String],
      tracked: Seq[String]): DataFrame = {
    require(tracked.nonEmpty, "diff needs tracked columns")
    val b = before.select(keys.map(col) ++
      tracked.map(c => col(c).as(s"old_$c")) :+
      lit(true).as("__b"): _*)
    val a = after.select(keys.map(col) ++
      tracked.map(c => col(c).as(s"new_$c")) :+
      lit(true).as("__a"): _*)
    val anyChanged = tracked
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    b.join(a, keys, "full_outer")
      .withColumn("change_type",
        when(col("__b").isNull, lit("added"))
          .when(col("__a").isNull, lit("removed"))
          .when(anyChanged, lit("changed"))
          .otherwise(lit("unchanged")))
      .drop("__b", "__a")
  }

  /** Point-in-time enrichment: label every fact row with the dimension
    * VERSION that was valid at the fact's own timestamp — the lakehouse
    * "join facts to an SCD2 dimension without time-travel reads"
    * primitive. Facts that precede their key's first version (or whose
    * key has no history) come back with NULL version columns.
    *
    * Rides [[graft.operators.AsofJoin.backward]]'s union-tag plan: one
    * shuffle on (keys), one in-partition sort, NO join operator and no
    * O(|facts|·|versions|) range-join risk. Correctness leans on SCD2
    * interval contiguity (each version's valid_to IS the next
    * valid_from), so the latest `valid_from <= ts` version is
    * automatically the interval containing ts; zero-length versions
    * (valid_to == valid_from, born when several changes share one
    * timestamp) are valid at NO instant and are dropped first — which
    * also restores the as-of contract that right rows are unique per
    * (keys, ts). */
  def enrichAsOf(facts: DataFrame, history: DataFrame, keys: Seq[String],
      factTs: String): DataFrame = {
    val live = history.filter(col("valid_to").isNull ||
      col("valid_to") =!= col("valid_from"))
    graft.operators.AsofJoin.backward(facts, live, keys, factTs,
      "valid_from")
  }
}
