package perfbench

/** Per-layer metrics of a traced run, named `<layer>.<metric>` after the
  * repo's modules; `spark.*` is the engine as its listeners see it. */
object Layers {

  /** The per-layer metrics every workload reports (BENCHMARK.json). */
  def common(ctx: Ctx): Map[String, Double] = {
    val costs = ctx.meter.get.costs
    val mine = ctx.ops.map(o => costs.getOrElse(o.id, new OpCost))
    val n = math.max(1, ctx.ops.size).toDouble
    val self = ctx.trace.selfMs
    Map(
      "spark.planning_ms_per_op" -> mine.map(_.planningMs).sum / n,
      "spark.jobs_per_op" -> mine.map(_.jobs).sum / n,
      "spark.tasks_per_op" -> mine.map(_.tasks).sum / n,
      "spark.task_ms_per_op" -> mine.map(_.taskMs).sum / n,
      "spark.longest_task_ms" -> mine.map(_.longestTaskMs).maxOption.getOrElse(0L).toDouble,
      "spark.shuffle_write_bytes_per_op" -> mine.map(_.shuffleWriteBytes).sum / n,
      "spark.input_bytes_per_op" -> mine.map(_.inputBytes).sum / n,
      "trace.program_self_ms_per_op" -> self.filter(_._1 != "spark").values.sum / n,
      "trace.engine_call_ms_per_op" -> self.getOrElse("spark", 0.0) / n,
      "trace.spans" -> ctx.trace.spans.size.toDouble)
  }

  def summary(w: Workload, ctx: Ctx, timed: Timed): Map[String, Any] = {
    val costs = ctx.meter.get.costs
    val spans = ctx.trace.spans
    val opName = ctx.ops.map(o => o.id.toLong -> o.name).toMap
    /** ms in the spans named `name`, in ops whose name passes `op`. */
    def spanMs(op: String => Boolean, name: String => Boolean): Double =
      spans.filter(s => name(s.name) && opName.get(s.req).exists(op))
        .map(s => (s.endNs - s.startNs) / 1e6).sum
    val perOp = ctx.ops.groupBy(_.name).map { case (name, os) =>
      val c = new OpCost; os.foreach(o => costs.get(o.id).foreach(c += _))
      name -> (c.toMap.map { case (k, v) => k -> v / os.size } + ("n" -> os.size.toDouble))
    }
    val latency = ctx.ops.groupBy(_.name).flatMap { case (name, os) =>
      val layer = os.head.layer
      val ms = os.map(_.ms).toSeq
      Seq(s"$layer.$name.p50_ms" -> Stats.percentile(ms, 50),
        s"$layer.$name.p90_ms" -> Stats.percentile(ms, 90))
    }
    val specific: Map[String, Any] = w match {
      case DomainPath =>
        val files = timed.record("files_read").asInstanceOf[Map[Int, Long]]
        val rows = timed.record("row_ids").asInstanceOf[Map[Int, Long]]
        val examined = rows.keys.toSeq.flatMap(costs.get).map(_.inputRecords).sum
        Map(
          "ingest.read_plan_ms" -> spanMs(_ => true, n => n.startsWith("Readers.") ||
            n.startsWith("VcfReader.")),
          "ingest.normalize_variants_ms" ->
            spanMs(_.startsWith("base."), _ == "Normalize.normalizeVariants"),
          "ingest.normalize_junctions_ms" ->
            spanMs(_.startsWith("base."), _ == "Normalize.normalizeJunctions"),
          "ingest.append_variants_ms" ->
            spanMs(_.startsWith("append."), _ == "Normalize.normalizeVariants"),
          "ingest.append_junctions_ms" ->
            spanMs(_.startsWith("append."), _ == "Normalize.normalizeJunctions"),
          "core.write_ms" -> spanMs(_ => true, _ == "TableCatalog.write"),
          "core.output_files" -> timed.record("core.output_files"),
          "core.files_read_per_op" ->
            (if (files.isEmpty) 0.0 else files.values.sum.toDouble / files.size),
          "query.rows_examined_per_row_returned" ->
            examined.toDouble / math.max(1L, rows.values.sum),
          "sources.tabix_build_ms" -> spanMs(_ => true, _ == "Tabix.buildForVcf")) ++
          Seq("sources.tabix_index_loads", "sources.tabix_hit_ratio")
            .map(k => k -> timed.record(k))
      case EntryRows =>
        val build = timed.record("build_ms").asInstanceOf[Map[String, Double]]
        val exec = timed.record("exec_ms").asInstanceOf[Map[String, Double]]
        val out = timed.record("rows_out").asInstanceOf[Map[String, Long]]
        EntryRows.rows.flatMap(r => Seq(s"entry.$r.build_ms" -> build.getOrElse(r, -1.0),
          s"entry.$r.exec_ms" -> exec.getOrElse(r, -1.0),
          s"entry.$r.rows_out" -> out.getOrElse(r, -1L))).toMap ++ streaming(ctx)
      case _ => Map.empty
    }
    Map("per_layer" -> (common(ctx) ++ latency ++ specific),
      "self_ms_per_layer" -> ctx.trace.selfMs,
      "spark_per_op" -> perOp)
  }

  /** `streaming.*`: micro-batch phases per row and summed. */
  def streaming(ctx: Ctx): Map[String, Any] = {
    val byOp = ctx.meter.get.streamCosts
    val rows = ctx.ops.filter(_.layer == "streaming").map { o =>
      val c = byOp.getOrElse(o.id, new StreamCost)
      val d = c.durations
      o.name -> (Map(
        "batches" -> c.batches, "empty_batches" -> c.emptyBatches,
        "add_batch_ms" -> d("addBatch"), "query_planning_ms" -> d("queryPlanning"),
        "wal_commit_ms" -> d("walCommit"), "commit_offsets_ms" -> d("commitOffsets"),
        "latest_offset_ms" -> d("latestOffset"), "trigger_ms" -> d("triggerExecution"),
        "state_commit_ms" -> c.stateCommitMs, "state_rows" -> c.stateRows,
        "state_memory_bytes" -> c.stateMemory).map { case (k, v) => k -> v.toDouble } ++
        Map("wall_ms" -> o.ms, "feed_ms" -> (o.ms - d("triggerExecution"))))
    }
    val perRow = rows.flatMap { case (r, m) => m.map { case (k, v) => s"streaming.$r.$k" -> v } }
    val total = rows.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _)
      .map { case (k, v) => s"streaming.$k" -> v }
    (perRow ++ total).toMap
  }
}
