package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** Benchmark JVM: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <result.json> [--tables <dir>]
  *                [--generate-only | --setup-only]
  * }}}
  *
  * Steps: generate the inputs (not timed); start the session and warm it
  * up `SetupRepeats` times, the median being set-up time; run the timed
  * region; write the result record to --out. With --trace 1 the same run
  * also records spans and engine counters. --setup-only starts one session
  * and exits: the build records its class-data archive from that run.
  */
object Main {
  val SetupRepeats = 5

  val workloads: Map[String, Workload] =
    Seq(DomainPath, EntryRows).map(w => w.name -> w).toMap

  def main(argv: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    if (argv.contains("--setup-only")) {
      val spark = GraftSession.local(cores)
      warmUp(spark)
      spark.stop()
      return
    }
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val w = workloads.getOrElse(args("workload"),
      sys.error(s"unknown workload ${args("workload")}; known: ${workloads.keys.mkString(", ")}"))
    val seed = args("seed").toLong
    val work = new File(args("work")).getAbsoluteFile
    work.mkdirs()
    args.get("tables").foreach(t => sys.props("perfbench.tables") = new File(t).getAbsolutePath)

    val g0 = System.nanoTime()
    w.generate(seed, work.getPath)
    val generateS = (System.nanoTime() - g0) / 1e9
    if (argv.contains("--generate-only")) {
      println(Json(Map("workload" -> w.name, "seed" -> seed, "properties" -> w.properties)))
      return
    }

    val traced = args("trace") == "1"
    var spark: SparkSession = null
    val sessions = (0 until SetupRepeats).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores)
      warmUp(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val tracer = new Tracer(traced)
    val meter = if (traced) Some(new Meter(spark)) else None
    val ctx = new Ctx(spark, tracer, meter)
    val cachedBefore = ctx.cachedEntries
    val r0 = System.nanoTime()
    val timed = w.run(ctx, seed, args("seconds").toDouble, work.getPath)
    val runS = (System.nanoTime() - r0) / 1e9
    meter.foreach(_.finish())

    val lat = (if (timed.latencyOps.isEmpty) ctx.ops.toSeq
      else timed.latencyOps.map(ctx.ops(_))).map(_.ms)
    val fixed = timed.fixedOps.map(ctx.ops(_))
    val record = Map[String, Any](
      "workload" -> w.name, "seed" -> seed, "trace" -> traced, "cores" -> cores.toInt,
      "loop" -> "closed, one client",
      "generate_s" -> generateS, "run_with_checks_s" -> runS,
      "setup_s" -> Stats.median(sessions), "setup_first_s" -> sessions.head,
      "setup_session_samples" -> sessions,
      "wall_s" -> fixed.map(_.ms).sum / 1e3,
      "cpu_s" -> fixed.map(_.cpuMs).sum / 1e3,
      "latency_p50_ms" -> Stats.median(lat),
      "latency_p90_ms" -> Stats.percentile(lat, 90),
      "latency_samples" -> lat.size,
      "ops_total" -> ctx.ops.size,
      "ops_failed" -> ctx.ops.count(_.failed),
      "failures" -> ctx.failures.toSeq,
      "ops" -> ctx.ops.groupBy(_.name).map { case (n, os) =>
        n -> Map("n" -> os.size, "p50_ms" -> Stats.percentile(os.map(_.ms).toSeq, 50),
          "p90_ms" -> Stats.percentile(os.map(_.ms).toSeq, 90), "layer" -> os.head.layer) },
      "guards" -> Map(
        "cached_plans_before" -> cachedBefore,
        "cached_plans_after_op" -> ctx.cachedAfter.toMap,
        "conf_drift" -> ctx.confDrift.toSeq,
        "expected" -> Seq("AnalyticQueries.replayFeedCache persists one sorted events " +
          "feed per (session, table dir): the streaming rows leave one cached plan")),
      "input_properties" -> w.properties
    ) ++ timed.record ++ (if (traced) Layers.summary(w, ctx, timed) else Map.empty)

    if (traced) tracer.writeJsonl(new File(work, "spans.jsonl").getPath)
    Files.writeString(Paths.get(args("out")), Json(record))
    ctx.meter.foreach(_.close())
    spark.stop()
  }

  /** A small shuffle and aggregation, so the first op is not the one that
    * loads the engine's classes and compiles its first plans. */
  def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(0, 20000, 1, 4).groupBy((col("id") % 13).as("k")).agg(sum("id"))
      .orderBy("k").collect()
  }
}
