package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint suite (the Deequ/great-expectations
  * shape): callers state WHAT must hold — non-null, unique, in-range,
  * in-set, regex, referential integrity — and the suite compiles the
  * whole check list into the cheapest plan that measures all of it.
  *
  * This is the validation gate a 100 TB training-data pipeline runs
  * between ingest and training: a constraint report is tiny (one row per
  * check), so the ENTIRE cost is how many times the fact table is read
  * and shuffled. The compilation rules:
  *
  *   - Every row-local check (not-null / range / set / regex) becomes one
  *     conditional-sum column in a SINGLE Aggregate over the table — one
  *     scan, map-side partials, no shuffle beyond the final 1-row merge,
  *     no matter how many checks ride along.
  *   - Uniqueness rides the same Aggregate as `COUNT(*complete) -
  *     COUNT(DISTINCT cols)`. Exact distinct makes Catalyst plan an
  *     Expand (one duplicated stream per distinct clause) — the price
  *     of oracle-checkable exact violation counts.
  *   - Each foreign-key check is one LEFT JOIN against the DISTINCT dim
  *     keys + the same conditional-sum Aggregate. The dim key set is
  *     deduplicated before the join, so Catalyst broadcasts it whenever
  *     it fits (dimension tables at 100 TB fact scale almost always do)
  *     — making the FK check a map-only pass over the fact table.
  *
  * Output (one row per check, stable schema, ordered by check name):
  *   (check_name, n_rows, n_violations, passed)
  * where `n_rows` is the population the check evaluated (all rows for
  * row-local checks, non-null FK values for foreign keys — SQL FK
  * semantics: NULL references are not violations; add a NotNull check on
  * the column when they should be).
  */
object Quality {

  sealed trait Check { def name: String }

  /** Column must be non-null on every row. */
  final case class NotNull(column: String) extends Check {
    def name: String = s"not_null($column)"
  }

  /** Column tuple must be unique across the table (rows with any NULL
    * component are excluded from both sides of the comparison, matching
    * `COUNT(DISTINCT ...)` semantics). Violations = excess duplicate
    * rows. */
  final case class Unique(columns: Seq[String]) extends Check {
    require(columns.nonEmpty, "Unique needs at least one column")
    def name: String = s"unique(${columns.mkString(",")})"
  }

  /** Non-null values must satisfy lo <= value <= hi. */
  final case class InRange(column: String, lo: Double, hi: Double)
      extends Check {
    def name: String = s"in_range($column,$lo,$hi)"
  }

  /** Non-null values must be one of the accepted values. The name
    * carries the value list so two different InSet checks on one
    * column stay distinct under the duplicate-name guard. */
  final case class InSet(column: String, values: Seq[String])
      extends Check {
    require(values.nonEmpty, "InSet needs at least one accepted value")
    def name: String = s"in_set($column:${values.mkString(",")})"
  }

  /** Non-null values must match the (anchor it yourself) regex — Spark
    * `RLIKE` and DuckDB `regexp_matches` are both partial-match, so the
    * same pattern means the same thing on both engines. The name
    * carries the pattern for the same reason as [[InSet]]. */
  final case class MatchesRegex(column: String, pattern: String)
      extends Check {
    def name: String = s"regex($column:$pattern)"
  }

  /** Every non-null value must exist in `dimCol` of `dim`. */
  final case class ForeignKey(column: String, dim: DataFrame,
      dimCol: String) extends Check {
    def name: String = s"fk($column)"
  }

  /** Row-local violation indicator (NULL-free: always 0 or 1). */
  private[graft] def violation(c: Check): Column = c match {
    case NotNull(col0) => col(col0).isNull.cast("long")
    case InRange(col0, lo, hi) =>
      (col(col0).isNotNull && !(col(col0) >= lit(lo) &&
        col(col0) <= lit(hi))).cast("long")
    case InSet(col0, vs) =>
      (col(col0).isNotNull && !col(col0).isin(vs: _*)).cast("long")
    case MatchesRegex(col0, p) =>
      (col(col0).isNotNull && !col(col0).rlike(p)).cast("long")
    case other =>
      throw new IllegalArgumentException(s"not row-local: $other")
  }

  /** Time-windowed constraint monitoring — the suite per event-time
    * window instead of per table: (window_start, window_end,
    * check_name, n_rows, n_violations) with `window_start`/`window_end`
    * as epoch micros (integral — immune to the timestamp-zone parquet
    * round-trip ambiguity). Row-local checks ONLY: uniqueness and FK
    * need global state, which is the batch [[suite]]'s job; a windowed
    * violation monitor is the streaming gate (drift alarms, error-rate
    * dashboards) and works unchanged on a streaming DataFrame — see
    * [[graft.streaming.EventStreams.streamingQuality]].
    *
    * Same compilation: ONE aggregate, every check a conditional sum
    * riding it, map-side partials per window. */
  def windowedSuite(df: DataFrame, timeWindow: Column,
      checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "windowedSuite needs at least one check")
    require(checks.forall {
      case _: ForeignKey | _: Unique => false; case _ => true
    }, "windowedSuite supports row-local checks only (uniqueness/FK " +
      "need global state — use suite())")
    val aggs = count(lit(1)).as("__rows") +: checks.zipWithIndex.map {
      case (c, i) => sum(violation(c)).as(s"__v_$i")
    }
    df.groupBy(timeWindow.as("__w"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("__w"), explode(array(checks.zipWithIndex.map {
        case (c, i) => struct(
          lit(c.name).as("check_name"),
          col("__rows").as("n_rows"),
          col(s"__v_$i").cast("long").as("n_violations"))
      }: _*)).as("__c"))
      .select(unix_micros(col("__w.start")).as("window_start"),
        unix_micros(col("__w.end")).as("window_end"),
        col("__c.*"))
  }

  /** Run the suite; see object doc for the plan shape. */
  def suite(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "suite needs at least one check")
    require(checks.map(_.name).distinct.size == checks.size,
      "duplicate check names — same constraint listed twice")

    val rowLocal = checks.filter {
      case _: ForeignKey => false; case _ => true
    }
    val fks = checks.collect { case f: ForeignKey => f }

    // ONE Aggregate for every non-FK check.
    val localReport: Option[DataFrame] =
      if (rowLocal.isEmpty) None else Some {
        // positional internal aliases — check names carry punctuation
        // that col() would parse as struct paths
        val aggs = count(lit(1)).as("__rows") +:
          rowLocal.zipWithIndex.map {
            case (Unique(cols), i) =>
              val complete = cols.map(col(_).isNotNull).reduce(_ && _)
              val distinctCnt =
                countDistinct(col(cols.head), cols.tail.map(col): _*)
              (sum(complete.cast("long")) - distinctCnt).as(s"__v_$i")
            case (c, i) => sum(violation(c)).as(s"__v_$i")
          }
        df.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(rowLocal.zipWithIndex.map {
            case (c, i) => struct(
              lit(c.name).as("check_name"),
              col("__rows").as("n_rows"),
              // empty input: sums aggregate to NULL, and a NULL
              // `passed` would let an empty upstream partition sail
              // through the gate — zero rows have zero violations
              coalesce(col(s"__v_$i").cast("long"), lit(0L))
                .as("n_violations"))
          }: _*)).as("__c"))
          .select("__c.*")
      }

    // One dedup+left-join+aggregate per FK; the distinct dim key set
    // broadcasts when small. A LEFT join (not anti) so population and
    // violations come out of the same single pass.
    val fkReports: Seq[DataFrame] = fks.map { fk =>
      val dimKeys = fk.dim.select(col(fk.dimCol).as("__dim_key")).distinct()
      df.select(col(fk.column).as("__fk"))
        .filter(col("__fk").isNotNull)
        .join(dimKeys, col("__fk") === col("__dim_key"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("__dim_key").isNull.cast("long")).as("n_violations"))
        .select(lit(fk.name).as("check_name"), col("n_rows"),
          coalesce(col("n_violations"), lit(0L)).as("n_violations"))
    }

    (localReport.toSeq ++ fkReports)
      .reduce(_ unionByName _)
      .withColumn("passed", col("n_violations") === lit(0L))
      .orderBy("check_name")
  }
}
