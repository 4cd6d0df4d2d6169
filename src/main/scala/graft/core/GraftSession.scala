package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Session + table access helpers shared by the query API, Verify and Bench.
  *
  * Design notes (100 TB posture):
  *  - AQE on: runtime coalescing, broadcast conversion and skew-join
  *    splitting replace the reference's hand-placed SQLite indexes
  *    (SURVEY §4.2).
  *  - shuffle.partitions defaults to the local core count here; on a real
  *    cluster this is set per-job to ~2-3x total cores (AQE coalesces down).
  */
object GraftSession {

  /** Spark settings that route the `file` scheme through [[LocalFs]] for
    * both Hadoop APIs: FileSystem (Parquet commits, `.tbi` writes) and
    * FileContext (streaming checkpoints). Every other scheme keeps its
    * own implementation. */
  val localFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs.Checksummed].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.Context].getName)

  /** Build a local session with the settings every entry point shares. */
  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = SparkSession.builder()
      .config(localFsConf)
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      // the SQL function surface (GraftFunctions)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // parquet timestamps as int64 micros: portable to DuckDB/Arrow readers
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // events.ts physical type has drifted across driver rounds
      // (TIMESTAMP(NANOS) in r1-r5, timestamp[us] from r6). nanosAsLong
      // makes the NANOS case readable at all (Spark has no nanos type);
      // micros reads as a timestamp regardless. All consumers go through
      // the schema-adaptive tsMicros/tsTimestamp helpers below.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Read one of the driver-generated test tables (TESTDATA.md). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Spread a LOCAL single-split scan across the session's cores.
    *
    * The driver's tables are single-row-group parquet files, which Spark
    * cannot split: the scan and every narrow stage above it (explode
    * fanout, broadcast-join probe) runs on one core. For most queries the
    * single-threaded shuffle write costs more than it saves (measured:
    * blanket spreading regressed the bench 48.8 → 133.7 s), so this is
    * applied ONLY where heavy per-row fanout sits above the scan — the
    * binned range-join inputs. On a production cluster the scan has
    * thousands of splits and no spread is needed; this is a small-SF
    * artifact adapter, which is why it lives with the entry queries and
    * not inside the RangeJoin library. */
  def spread(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (cores > 1) df.repartition(cores) else df
  }

  /** Long nanos → timestamp with microsecond truncation. Division goes
    * through decimal: a double `/ 1000` has 256 ns of ulp at 2024-epoch
    * nanos and lands microseconds off by one. */
  def nanosToTimestamp(c: Column): Column = {
    import org.apache.spark.sql.functions._
    timestamp_micros(floor(c.cast("decimal(38,0)") / lit(1000)).cast("long"))
  }

  /** The ONE entry point onto the events.ts integer-microsecond timeline.
    *
    * The driver has shipped `events.parquet` with `ts` as parquet
    * TIMESTAMP(NANOS) (read as long nanos under nanosAsLong) in rounds
    * 1-5 and as timestamp[us] (read as TIMESTAMP_NTZ) from round 6 — so
    * the physical type is a moving target. Every event-analytics query
    * (q52/q53/q107/q108/q109) derives its timeline from this
    * helper: a future regeneration flips a branch here instead of
    * breaking five queries at analysis time. The DuckDB oracle side
    * (`epoch_us(ts)`) is physical-type-independent already.
    *
    * The NTZ→TZ cast is exact because the session TZ is pinned UTC
    * (config above); `unix_micros` then yields the same integers DuckDB's
    * `epoch_us` sees. The long branch keeps exact integer division —
    * never a double path. */
  def tsMicros(df: DataFrame, c: String = "ts"): Column = {
    import org.apache.spark.sql.functions._
    df.schema(c).dataType match {
      case LongType                        => expr(s"`$c` div 1000")
      case TimestampType | TimestampNTZType =>
        unix_micros(col(c).cast(TimestampType))
      case other => throw new IllegalArgumentException(
        s"events timeline column `$c` has unsupported type $other " +
          "(expected long nanos or a timestamp)")
    }
  }

  /** Schema-adaptive `ts` → proper TimestampType frame (the streaming
    * entry shape: watermarks and window() need a real timestamp column).
    * Same drift rationale as [[tsMicros]]. */
  def tsTimestamp(df: DataFrame, c: String = "ts"): DataFrame =
    df.schema(c).dataType match {
      case LongType         => df.withColumn(c, nanosToTimestamp(df(c)))
      case TimestampType    => df
      case TimestampNTZType =>
        df.withColumn(c, df(c).cast(TimestampType)) // exact: session TZ UTC
      case other => throw new IllegalArgumentException(
        s"events timeline column `$c` has unsupported type $other " +
          "(expected long nanos or a timestamp)")
    }
}
