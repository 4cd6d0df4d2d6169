package graft.entry

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.core.GraftSession
import graft.ext.NgramLm
import graft.streaming.EventStreams

/** Round-2 analytic operator coverage: multi-dimensional aggregation
  * (CUBE), the full window-rank family, decorrelated scalar subqueries,
  * latest-per-key compaction, batch sessionization, ordered collection
  * aggregates, and dimension-wise vector aggregation.
  *
  * Determinism: same rules as RelationalQueries — DECIMAL sums for
  * anything summed in floating point, total ORDER BY with unique
  * tiebreakers, longs for every count-like output.
  */
object AnalyticQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.table(s, dir, name)

  /** Run `body` with `settings` in the session conf, then leave each key
    * as it was: set to its old value, or unset if it was not set. */
  private def withConf[A](s: SparkSession, settings: (String, String)*)(
      body: => A): A = {
    val set = s.conf.getAll // explicitly set keys only, no defaults
    val prev = settings.map { case (k, _) => k -> set.get(k) }
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** The replay harness every streaming row runs through: feed `feed`
    * to `op`'s micro-batch pipeline in three `order`-ordered batches
    * and return the raw sink rows. Callers fold the sink rows —
    * matrix-, users- or vocabulary-sized — on the driver.
    *
    * Scale shape: Spark range-partitions `feed` into THREE partitions
    * on `order` and sorts within each — the partitions ARE the
    * micro-batches, so batches stay ordered across boundaries — and
    * the driver streams one partition at a time through
    * `toLocalIterator`, so it never holds more than one batch (3 fetch
    * jobs; a 32-partition orderBy paid ~35 scheduler round-trips per
    * run). Each call sorts its own feed and keeps nothing after it
    * returns: the sort is small next to the per-batch state cost
    * (BENCH.md, round 12).
    *
    * `flush` makes a sentinel from the last row fed — the row with the
    * largest `order` key — and feeds it as a fourth batch, so
    * timer- and watermark-driven operators close their final windows;
    * the fold filters the sentinel's own emissions. */
  private[graft] def replay[T](s: SparkSession, feed: Dataset[T],
      order: Seq[Column])(op: Dataset[T] => Dataset[_],
      mode: OutputMode = OutputMode.Update(),
      flush: Option[T => T] = None,
      stateParts: Int = 4,
      noDataBatches: Option[Boolean] = None): Array[Row] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val enc: org.apache.spark.sql.Encoder[T] = feed.encoder
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[T]
    val sink = "replay_sink_" + java.util.UUID.randomUUID.toString
      .replace("-", "")
    // Size the stream's STATE partitioning to the harness load: the
    // partition count is frozen per query at start from
    // shuffle.partitions, and 32 state-store instances × several
    // stages × 4 micro-batches is pure task overhead for 100k-row
    // replays (the stream-stream q132 pays it hardest). Measured at
    // sf0.1 across the nine event replay rows: 8 → 28.8 s,
    // 4 → 23.9 s, 2 → 24.3 s — 4 is the AGGREGATE knee; the
    // timer/flush-driven rows have their own optima, so `stateParts`
    // is per-query (round-13 per-row sweep in BENCH.md). At real scale
    // the same knob sizes state partitions to throughput. Restored
    // after the stream so batch plans are untouched.
    //
    // No-data micro-batches exist so watermark-driven work (Append
    // emissions, event-time timers, eviction) can run without new
    // input. Every UPDATE-mode replay row here is a plain streaming
    // aggregation or a NoTimeout flatMapGroupsWithState — a no-data
    // batch can produce NO sink rows for them (updates only emit on
    // data; eviction timing is unobservable because the next data
    // batch runs at the same watermark) — yet each one costs a full
    // empty plan execution + state commit (measured 0.4–0.9 s/batch
    // at sf0.1, ~35% of a replay row). Skip them for Update mode;
    // Append rows keep the default (their final watermark emissions
    // happen IN the trailing no-data batches). The conf is frozen
    // into the stream at start() and restored for batch plans.
    // `noDataBatches` lets an Append row whose operators provably
    // cannot emit in a no-data batch (e.g. a watermarked INNER
    // stream-stream join — eviction only) opt out EXPLICITLY; a
    // future Update-mode row using event-time timers must likewise
    // opt back IN consciously (ADVICE r18).
    val ndbKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val ndb = noDataBatches.getOrElse(mode != OutputMode.Update())
    val q = withConf(s, ndbKey -> ndb.toString,
        "spark.sql.shuffle.partitions" -> stateParts.toString) {
      op(mem.toDS()).writeStream
        .outputMode(mode)
        .format("memory").queryName(sink).start()
    }
    try {
      val it = feed
        .repartitionByRange(3, order: _*)
        .sortWithinPartitions(order: _*)
        .rdd
        .mapPartitionsWithIndex((i, rs) => rs.map(d => (i, d)))
        .toLocalIterator
      val batch = new scala.collection.mutable.ArrayBuffer[T]
      var last = Option.empty[T]
      var cur = -1
      def feedBatch(): Unit = if (batch.nonEmpty) {
        mem.addData(batch.toSeq: _*); q.processAllAvailable()
        last = Some(batch.last)
        batch.clear()
      }
      while (it.hasNext) {
        val (p, d) = it.next()
        if (p != cur) { feedBatch(); cur = p }
        batch += d
      }
      feedBatch()
      for (f <- flush; l <- last) {
        mem.addData(f(l)); q.processAllAvailable()
      }
      s.table(sink).collect()
    } finally {
      q.stop()
      s.catalog.dropTempView(sink)
    }
  }

  /** The event log as a replay feed, in the operators' exact-micros
    * walk order: a millis-only sort could split a shared millisecond
    * across a batch boundary against the micros timeline (ADVICE r7).
    * `unix_micros` equals the operators' own key
    * floorDiv(getTime, 1000)·10⁶ + nanos/1000. */
  private def events(s: SparkSession,
      dir: String): Dataset[EventStreams.Event] = {
    import s.implicits._
    GraftSession.tsTimestamp(t(s, dir, "events"))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStreams.Event]
  }

  private val byTime = Seq(unix_micros(col("ts")), col("event_id"))

  /** The event rows' flush sentinel: 11 days past the last event pushes
    * the watermark past every real day, so timer-driven operators
    * (q148, q186) close their final windows. */
  private val flushEvents: EventStreams.Event => EventStreams.Event =
    last => EventStreams.Event(-1L,
      new java.sql.Timestamp(last.ts.getTime + 11L * 86400000L), -1L,
      "__flush", 0.0)

  /** The docs corpus as a replay feed: (doc_id, text) in three
    * doc_id-ordered batches. */
  private def replayDocs(s: SparkSession, docs: DataFrame,
      op: DataFrame => DataFrame,
      mode: OutputMode = OutputMode.Update()): Array[Row] = {
    import s.implicits._
    replay(s,
      docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .as[(Long, String)],
      Seq(col("doc_id")))(ds => op(ds.toDF("doc_id", "text")), mode)
  }

  /** Streaming LM serve rows: the model trains once in batch on the en
    * slice (checkpointed — static sides re-evaluate per micro-batch),
    * the corpus replays through [[NgramLm.facts]] (n-gram explode,
    * stream-static model joins, ONE Update-mode per-doc aggregation;
    * each doc's state is write-once), and the sink rows MAX-fold per
    * doc and finish through [[NgramLm.finish]]'s zero-row spine. Each
    * row faces its batch twin's own oracle SQL. */
  private def lmServe(s: SparkSession, dir: String, order: Int,
      smoother: NgramLm.Smoother, vocabK: Option[Int]): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents")
    val en = d.where(col("lang") === "en").select("doc_id", "text")
    val model = NgramLm.train(en, "text", order, smoother)
    val vocab = vocabK.map(k =>
      NgramLm.vocabTopK(en, "text", k).localCheckpoint(true))
    val raw = replayDocs(s, d.select("doc_id", "text"),
      df => NgramLm.facts(df, "doc_id", "text", model, order, smoother,
        vocab))
    val folded = raw
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view
      .mapValues(vs => vs.maxBy(v => (v._2, v._3))).toSeq
      .map(_._2)
    NgramLm.finish(d.select("doc_id").distinct(),
        folded.toDF("doc_id", NgramLm.countCol(order), "sum_p_e9"),
        "doc_id", order)
      .orderBy("doc_id")
  }

  /** Streaming LM training rows: `docs` replays through the
    * order-`order` [[NgramLm.ngrams]] count aggregation (stateless
    * explode, ONE Update-mode aggregation; state ∝ distinct n-grams,
    * never the corpus), the monotone counts MAX-fold per n-gram, and
    * `derive` builds the row from the folded (w1..wn, n) table through
    * the batch row's own derivation. */
  private def lmTrain(s: SparkSession, docs: DataFrame, order: Int)(
      derive: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val raw = replayDocs(s, docs,
      df => NgramLm.ngrams(df, "text", order, None))
    val folded = raw
      .map(r => (0 until order).map(r.getString) -> r.getLong(order))
      .groupBy(_._1).view.mapValues(_.map(_._2).max)
      .toSeq.map { case (ws, n) => Row.fromSeq(ws :+ n) }
    val schema = StructType(
      NgramLm.words(order).map(StructField(_, StringType)) :+
        StructField("n", LongType, nullable = false))
    derive(s.createDataFrame(folded.asJava, schema))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CUBE: all four grouping combinations in one pass (Spark expands to
    // grouping sets, one shuffle). NULLS FIRST ordering matches DuckDB's
    // explicit NULLS FIRST.
    "q49_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total_price"))
        .orderBy(col("o_orderpriority").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)
    }),

    // Time-RANGE window frame: per customer, the rolling 30-day order
    // revenue and count — RANGE BETWEEN over day offsets (value-based
    // peers), not ROWS. One hash shuffle on the customer key + one
    // in-partition sort; exact DECIMAL window sums for hash parity.
    "q79_rolling_window" -> ((s, dir) => {
      val days = datediff(to_date(col("o_orderdate")),
        lit("1990-01-01").cast("date"))
      val w = Window.partitionBy("o_custkey").orderBy(col("__d"))
        .rangeBetween(-29, 0)
      t(s, dir, "orders")
        .withColumn("__d", days)
        .select(col("o_orderkey"), col("o_custkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double").as("rolling_revenue"),
          count(lit(1)).over(w).as("rolling_orders"))
        .orderBy("o_orderkey")
    }),

    // Window-rank family over a total (tie-free) order: rank/dense_rank/
    // ntile/percent_rank/cume_dist in one window pass.
    "q50_window_ranks" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      t(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderpriority"),
          rank().over(w).cast("long").as("rk"),
          dense_rank().over(w).cast("long").as("drk"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_orderkey")
    }),

    // Correlated scalar subquery, decorrelated the Spark way: the
    // per-segment aggregate joins back (broadcast — 5 rows). The
    // comparison is sum-based (balance * n > segment_sum) so it stays in
    // exact DECIMAL arithmetic: an avg in double would make boundary rows
    // engine-dependent.
    "q51_above_segment_avg" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val seg = cust.groupBy("c_mktsegment")
        .agg(sum(col("c_acctbal").cast("decimal(18,2)")).as("seg_sum"),
          count(lit(1)).as("seg_n"))
      cust.join(broadcast(seg), "c_mktsegment")
        .filter(col("c_acctbal").cast("decimal(18,2)") * col("seg_n") >
          col("seg_sum"))
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // Latest-per-key compaction (CDC/dedup-keep-newest): one shuffle +
    // in-partition sort, rank 1 kept. The training-pipeline "newest crawl
    // snapshot wins" primitive. Rank on the schema-adaptive microsecond
    // timeline (GraftSession.tsMicros — exact integer everywhere): the
    // oracle's reader sees micros, so both engines must break ties by
    // event_id on the identical integer timeline.
    "q52_latest_per_key" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val w = Window.partitionBy("user_id")
        .orderBy(GraftSession.tsMicros(ev).desc, col("event_id").desc)
      ev
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type"))
        .orderBy("user_id")
    }),

    // Batch gap sessionization (operators/Sessionize): lag + running sum
    // + rollup, all on one shuffle. Gap = 8h. Both engines sessionize the
    // identical integer-microsecond timeline (GraftSession.tsMicros,
    // schema-adaptive against testdata type drift).
    "q53_sessionize" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.Sessionize.sessions(
          ev.select(col("user_id"), col("event_id"),
              GraftSession.tsMicros(ev).as("ts_us")),
          keys = Seq("user_id"), tsCol = "ts_us", gap = 28800000000L,
          tieBreak = Seq("event_id"))
        .select(col("user_id"), col("session_seq"),
          col("n_events"), col("start_ts").as("start_us"),
          col("end_ts").as("end_us"))
        .orderBy("user_id", "session_seq")
    }),

    // First-touch strict-order conversion funnel view -> click ->
    // purchase: per user, when each step FIRST happened (strictly
    // after the previous step) and how deep the journey got. One
    // pushed-filter scan + one user-keyed agg per step; work ∝ the
    // step types' events. Same micros quantization as q53.
    "q107_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.Funnel.funnel(
          ev.select(col("user_id"), col("event_type"),
              GraftSession.tsMicros(ev).as("ts_us")),
          "user_id", "event_type", "ts_us",
          Seq("view", "click", "purchase"))
        .orderBy("user_id")
    }),

    // q107's single-pass twin, oracle-certified on its own: the
    // flatMapGroups state machine (operators/Funnel.funnelSinglePass)
    // against the SAME staged-MIN-chain SQL — the only oracle row
    // exercising a typed per-group walk, where off-by-one tie/horizon
    // bugs would hide from plan-level checks.
    "q115_funnel_single" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.Funnel.funnelSinglePass(
          ev.select(col("user_id"), col("event_type"),
              GraftSession.tsMicros(ev).as("ts_us")),
          "user_id", "event_type", "ts_us",
          Seq("view", "click", "purchase"))
        .orderBy("user_id")
    }),

    // Weekly cohort retention matrix (operators/Retention, the fourth
    // event-analytics member): users bucketed by the week of their
    // first event, then counted again at each later active week. The
    // event log collapses to distinct (user, week) pairs map-side
    // before anything shuffles. Same micros quantization as q53.
    "q108_retention" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.Retention.cohortMatrix(
          ev.select(col("user_id"), GraftSession.tsMicros(ev).as("ts_us")),
          "user_id", "ts_us", bucketWidth = 604800000000L)
        .orderBy("cohort", "bucket_offset")
    }),

    // Rolling 7-day active users (operators/Retention.rollingActive):
    // distinct (user, day) pairs fanned out to the 7 window-ends each
    // supports, then an exact count-distinct per window-end. The raw
    // log never shuffles; bytes ∝ pairs × 7.
    "q109_rolling_active" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.Retention.rollingActive(
          ev.select(col("user_id"), GraftSession.tsMicros(ev).as("ts_us")),
          "user_id", "ts_us", bucketWidth = 86400000000L, window = 7)
        .orderBy("bucket")
    }),

    // Markov transition matrix over the event log (the fifth
    // event-analytics member): how often does event type A follow
    // event type B for the same user, and with what probability? One
    // user-keyed window (lead over the micros timeline, event_id
    // tiebreak) pairs each event with its successor; the (from, to)
    // roll-up then groups a |types|²-sized stream — the log shuffles
    // once, the matrix is tiny. Probability = exact long counts
    // divided once at the end (IEEE-identical across engines).
    "q110_transitions" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val paired = ev
        .select(col("user_id"), col("event_id"), col("event_type"),
          GraftSession.tsMicros(ev).as("ts_us"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
      val m = paired
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_transitions"))
      m.withColumn("p", col("n_transitions").cast("double") /
          sum(col("n_transitions"))
            .over(Window.partitionBy(col("from_type"))).cast("double"))
        .orderBy("from_type", "to_type")
    }),

    // Inter-event think-time distribution: per event type, a histogram
    // of log2-bucketed gaps since the user's previous event — the
    // bot/burst-detection signal a curation pipeline reads before
    // trusting engagement counts. The bucket is length(bin(gap)) =
    // floor(log2)+1 computed in INTEGER space on both engines (a float
    // log2 would flip at exact powers of two); same single user-keyed
    // window as q110, then a (type, bucket)-sized roll-up.
    "q111_interevent_hist" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").asc, col("event_id").asc)
      ev
        .select(col("user_id"), col("event_id"), col("event_type"),
          GraftSession.tsMicros(ev).as("ts_us"))
        .withColumn("__gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("__gap").isNotNull)
        .withColumn("gap_bucket", length(bin(col("__gap"))).cast("long"))
        .groupBy("event_type", "gap_bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "gap_bucket")
    }),

    // Per-type hourly burst z-scores (bot/scrape detection — the
    // anomaly signal a curation pipeline checks before trusting
    // engagement counts): each (type, hour) count scored against the
    // type's own mean/std over hours. Determinism device (q55/q59
    // family): every aggregate is an exact LONG sum (n, n², bucket
    // count); mean/var/z then derive through the IDENTICAL
    // double-expression tree on both engines — IEEE ops on identical
    // inputs, no sum-order dependence anywhere. Two tiny shuffles:
    // the (type, hour) roll-up and the per-type stats window over the
    // bucket stream.
    "q113_burst_zscore" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val counts = ev
        .select(col("event_type"), GraftSession.tsMicros(ev).as("ts_us"))
        .select(col("event_type"),
          expr("ts_us div 3600000000").as("bucket")) // exact integer div
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type")
      val stats = counts
        .withColumn("__sn", sum(col("n")).over(w))
        .withColumn("__sq", sum(col("n") * col("n")).over(w))
        .withColumn("__c", count(lit(1)).over(w))
      val mean = col("__sn").cast("double") / col("__c")
      val varr = greatest(
        col("__sq").cast("double") / col("__c") - mean * mean, lit(0.0))
      stats
        .withColumn("z", when(varr > 0,
          (col("n").cast("double") - mean) / sqrt(varr)).otherwise(0.0))
        .select("event_type", "bucket", "n", "z")
        .orderBy("event_type", "bucket")
    }),

    // Sequential path mining (the k-gram journey roll-up): how often
    // does each 3-step event-type path occur across user timelines?
    // q110's single user-keyed window with TWO leads instead of one —
    // the log still shuffles once; the roll-up is |types|³-sized.
    // The "what do users do next" primitive behind journey maps and
    // next-action models.
    "q122_path_trigrams" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").asc, col("event_id").asc)
      ev
        .select(col("user_id"), col("event_id"), col("event_type"),
          GraftSession.tsMicros(ev).as("ts_us"))
        .withColumn("step2", lead(col("event_type"), 1).over(w))
        .withColumn("step3", lead(col("event_type"), 2).over(w))
        .filter(col("step3").isNotNull)
        .groupBy(col("event_type").as("step1"), col("step2"),
          col("step3"))
        .agg(count(lit(1)).as("n_paths"))
        .orderBy("step1", "step2", "step3")
    }),

    // OLAP over q53's sessions: the session-SIZE distribution — how
    // many sessions have n events, and how long do they run? Rollups
    // on the session table (already one shuffle), exact long sums,
    // mean as one IEEE division of exact operands (q113's device).
    "q116_session_stats" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.Sessionize.sessions(
          ev.select(col("user_id"), col("event_id"),
            GraftSession.tsMicros(ev).as("ts_us")),
          keys = Seq("user_id"), tsCol = "ts_us", gap = 28800000000L,
          tieBreak = Seq("event_id"))
        .groupBy("n_events")
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("end_ts") - col("start_ts")).as("total_duration_us"))
        .withColumn("mean_duration_us",
          col("total_duration_us").cast("double") / col("n_sessions"))
        .orderBy("n_events")
    }),

    // Time-to-convert distribution: among users completing the q107
    // funnel, the log2 histogram of (purchase time − first view time)
    // — the conversion-latency curve. Integer bin(bucket) device from
    // q111; work rides q107's shrinking-agg plan.
    "q117_time_to_convert" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.Funnel.funnel(
          ev.select(col("user_id"), col("event_type"),
            GraftSession.tsMicros(ev).as("ts_us")),
          "user_id", "event_type", "ts_us",
          Seq("view", "click", "purchase"))
        .filter(col("step_reached") === 3)
        .withColumn("latency_bucket",
          length(bin(col("t3") - col("t1"))).cast("long"))
        .groupBy("latency_bucket")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("latency_bucket")
    }),

    // The streaming path faces the oracle end-to-end (VERDICT r7 Next
    // #7): the event log replays through streaming/EventStreams
    // .streamingTransitions — a real flatMapGroupsWithState
    // micro-batch pipeline, three time-ordered batches — and the
    // summed per-batch DELTAS must rebuild q110's exact transition
    // matrix against the SAME DuckDB SQL. State carry across batch
    // boundaries (the per-user (type, ts, id) seed) is exactly what a
    // wrong carry would break here. Driver-side collect is the test
    // harness feeding the stream, not the operator (which is keyed
    // state, bounded per user); the matrix itself is |types|²=25 rows.
    "q118_streaming_transitions" -> ((s, dir) => {
      val deltas = replay(s, events(s, dir), byTime)(
        graft.streaming.EventStreams.streamingTransitions)
      // fold the delta stream to the matrix: exact long sums per
      // (from, to), probability as one IEEE division — q110's device
      val matrix = deltas
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      val byFrom = matrix.groupBy(_._1._1).view
        .mapValues(_.map(_._2).sum).toMap
      val out = matrix.map { case ((f, to), n) =>
        (f, to, n, n.toDouble / byFrom(f))
      }
      s.createDataFrame(out.toSeq)
        .toDF("from_type", "to_type", "n_transitions", "p")
        .orderBy("from_type", "to_type")
    }),

    // q118's device applied to retention (the second streaming oracle
    // row): the log replays through streamingRetention — stateful
    // cohort pinning + seen-bucket dedup per user — and the summed
    // deltas must rebuild q108's cohort matrix against its SQL.
    // Bucket index parity: the operator floors epoch-MILLIS by the
    // week in ms, q108 floors epoch-MICROS by the week in µs — the
    // same integer for every event (µs = ms·1000 + r, r<1000 cannot
    // cross a week·1000 boundary). Retention rate derives from the
    // exact summed longs, one IEEE division per row.
    "q119_streaming_retention" -> ((s, dir) => {
      val deltas = replay(s, events(s, dir), byTime)(
        graft.streaming.EventStreams.streamingRetention(_,
          bucketWidthMs = 604800000L))
      val matrix = deltas
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      val cohortSize = matrix.collect {
        case ((c, 0L), n) => c -> n
      }.toMap
      val out = matrix.map { case ((c, off), n) =>
        (c, off, n, n.toDouble / cohortSize(c))
      }
      s.createDataFrame(out.toSeq)
        .toDF("cohort", "bucket_offset", "n_users", "retention")
        .orderBy("cohort", "bucket_offset")
    }),

    // The third streaming oracle row (after q118/q119): the log
    // replays through streamingFunnel — the per-user n-longs state
    // machine — and the LAST update per user (max step_reached; the
    // machine never rewinds, so times fill monotonically) must equal
    // q107's staged-SQL funnel. Exercises cross-batch state carry on
    // the strict-> first-touch walk, where an off-by-one at a batch
    // boundary (a step-2 event opening batch 2 against a step-1 time
    // carried from batch 1) would diverge.
    "q121_streaming_funnel" -> ((s, dir) => {
      import s.implicits._
      val updates = replay(s, events(s, dir), byTime)(
        graft.streaming.EventStreams.streamingFunnel(_,
          Seq("view", "click", "purchase")))
      val NONE = Long.MinValue
      val finalRows = updates
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
        .groupBy(_._1).values.map(_.maxBy(_._2)) // latest = deepest
        .map { case (u, reached, ts) =>
          def t(i: Int) = if (ts(i) == NONE) None else Some(ts(i))
          (u, t(0), t(1), t(2), reached)
        }.toSeq
      finalRows.toDF("user_id", "t1", "t2", "t3", "step_reached")
        .orderBy("user_id")
    }),

    // SCD2 changelog compaction (ext/Snapshot): the event stream as a
    // CDC log — per user, consecutive same-type events collapse into
    // one VERSION row with [valid_from, valid_to) validity and a
    // per-key version number. One user-keyed shuffle, two shared-sort
    // window passes (lag change-detect, lead stitch).
    "q124_scd2_history" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.ext.Snapshot.scd2FromLog(
          ev.select(col("user_id"), col("event_id"), col("event_type"),
            GraftSession.tsMicros(ev).as("ts_us")),
          keys = Seq("user_id"), tracked = Seq("event_type"),
          tsCol = "ts_us", tieBreak = Seq("event_id"))
        .orderBy("user_id", "version_seq")
    }),

    // The fourth streaming oracle row (after q118/q119/q121): the log
    // replays through streamingScd2 — the per-user one-triple version
    // state machine — and the folded emissions (closed-beats-open per
    // (user, version): an open row is superseded by its own closing
    // emission) must equal q124's batch history against the SAME
    // DuckDB SQL. Exercises cross-batch version carry, where an
    // off-by-one at a boundary (a change opening batch 2 must close
    // the version carried from batch 1 at the new event's ts) would
    // diverge on every straddling version.
    "q127_streaming_scd2" -> ((s, dir) => {
      import s.implicits._
      val rows = replay(s, events(s, dir), byTime)(
        graft.streaming.EventStreams.streamingScd2)
      val folded = rows
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))
        .groupBy(t => (t._1, t._3)).values
        .map(es => es.find(_._5.isDefined).getOrElse(es.head))
        .toSeq
      folded.toDF("user_id", "event_type", "version_seq", "valid_from",
          "valid_to")
        .orderBy("user_id", "version_seq")
    }),

    // The sixth streaming oracle row — and the STREAM-STREAM member:
    // the log replays through streamingAttribution (watermarked
    // interval self-join, both sides live streams, append mode) and
    // the driver fold keeps the LATEST click per purchase; the oracle
    // is the relational latest-click-per-purchase query. Exercises
    // two-stream state buffering across batch boundaries (a click in
    // batch 1 must still match a purchase in batch 3 if inside the
    // 1 h gap and watermark).
    "q132_streaming_attribution" -> ((s, dir) => {
      import s.implicits._
      // noDataBatches = false: the operator is ONE watermarked INNER
      // stream-stream join — matches emit in the data batch that
      // completes them; a no-data batch can only advance the watermark
      // and EVICT buffered state, never produce a row (outer joins and
      // timer operators, which do emit on watermark advance, are not
      // in this plan). Round 19 measured the three trailing no-data
      // batches at 0.51-0.58 s each, ~38% of the stream wall, rows=0 in
      // every one (`graft.tools.ReplayProf q132_streaming_attribution`
      // prints the per-batch progress). Oracle stays green at sf0.01 +
      // sf0.001.
      val rows = replay(s, events(s, dir), byTime)(ds =>
        graft.streaming.EventStreams.streamingAttribution(ds, "click",
          "purchase", maxGapSeconds = 3600),
        org.apache.spark.sql.streaming.OutputMode.Append(),
        noDataBatches = Some(false))
      val folded = rows
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        .groupBy(_._1).values
        .map(_.maxBy(p => (p._4, p._5))) // latest click, id tiebreak
        .toSeq
      folded.toDF("purchase_id", "user_id", "purchase_us", "click_us",
          "click_id")
        .orderBy("purchase_id")
    }),

    // The fifth streaming oracle row: the log replays through
    // streamingQuality — the windowed constraint monitor (range drift
    // + unexpected-category + null checks per day) — and the
    // MAX-folded Update emissions (per-window counts only grow as
    // batches arrive) must equal the oracle's direct windowed
    // conditional sums. The pure-windowed-state member of the
    // streaming family: no per-key state at all.
    "q131_streaming_quality" -> ((s, dir) => {
      import s.implicits._
      import graft.ext.Quality._
      val checks = Seq(InRange("value", 0.0, 250.0),
        InSet("event_type", Seq("view", "click", "purchase", "signup")),
        NotNull("value"))
      val rows = replay(s, events(s, dir), byTime)(ds =>
        graft.streaming.EventStreams.streamingQuality(ds.toDF(), checks,
          window_ = "1 day"))
      val folded = rows
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)) ->
          ((r.getLong(3), r.getLong(4))))
        .groupBy(_._1).view
        .mapValues(vs => (vs.map(_._2._1).max, vs.map(_._2._2).max))
        .toSeq
        .map { case ((ws, we, cn), (nr, nv)) => (ws, we, cn, nr, nv) }
      folded.toDF("window_start", "window_end", "check_name", "n_rows",
          "n_violations")
        .orderBy("window_start", "check_name")
    }),

    // Point-in-time enrichment against the q124 history (the "join
    // facts to an SCD2 dimension at the fact's own timestamp"
    // primitive, Snapshot.enrichAsOf): every event gets the state
    // VERSION active at its instant — i.e. its run number — and the
    // output is the run-length histogram. The enrich is the as-of
    // union-tag plan (one user shuffle, no join operator); the oracle
    // reconstructs the same instant semantics with DuckDB's native
    // ASOF JOIN — an independent implementation of the lookup.
    "q126_state_runs" -> ((s, dir) => {
      val evt = t(s, dir, "events")
      val ev = evt.select(col("user_id"), col("event_id"),
        col("event_type"), GraftSession.tsMicros(evt).as("ts_us"))
      val dim = graft.ext.Snapshot.scd2FromLog(ev, keys = Seq("user_id"),
          tracked = Seq("event_type"), tsCol = "ts_us",
          tieBreak = Seq("event_id"))
        .withColumnRenamed("event_type", "state_type")
      graft.ext.Snapshot.enrichAsOf(
          ev.select("user_id", "event_id", "ts_us"), dim,
          keys = Seq("user_id"), factTs = "ts_us")
        .groupBy("user_id", "version_seq")
        .agg(count(lit(1)).as("run_events"))
        .groupBy("run_events")
        .agg(count(lit(1)).as("n_runs"))
        .orderBy("run_events")
    }),

    // Release-audit diff (Snapshot.diff over two asOf instants): the
    // user-state table at 1/3 vs 2/3 of the timeline, every key
    // classified added/changed/unchanged (SCD2 has no deletes, so
    // `removed` is structurally empty here — SnapshotSpec covers it),
    // rolled up per (change_type, old, new) transition. The two diff
    // instants derive from ONE bounded min/max aggregate with pure
    // integer arithmetic mirrored in the oracle.
    "q128_snapshot_diff" -> ((s, dir) => {
      val evt = t(s, dir, "events")
      val ev = evt.select(col("user_id"), col("event_id"),
        col("event_type"), GraftSession.tsMicros(evt).as("ts_us"))
      // both asOf sides of the diff read the history — materialize it
      // once (the q73/q105 lazy-fanout lesson)
      val hist = org.apache.spark.sql.graftshim.CheckpointShim
        .materialize(graft.ext.Snapshot.scd2FromLog(ev,
          keys = Seq("user_id"), tracked = Seq("event_type"),
          tsCol = "ts_us", tieBreak = Seq("event_id")))._1
      val r = ev.agg(min(col("ts_us")), max(col("ts_us"))).head()
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      val t1 = mn + (mx - mn) / 3
      val t2 = mn + 2 * ((mx - mn) / 3)
      graft.ext.Snapshot.diff(
          graft.ext.Snapshot.asOf(hist, t1)
            .select(col("user_id"), col("event_type")),
          graft.ext.Snapshot.asOf(hist, t2)
            .select(col("user_id"), col("event_type")),
          keys = Seq("user_id"), tracked = Seq("event_type"))
        .groupBy("change_type", "old_event_type", "new_event_type")
        .agg(count(lit(1)).as("n_keys"))
        .orderBy("change_type", "old_event_type", "new_event_type")
    }),

    // Session co-occurrence lift (market-basket association over q116's
    // sessions): which event types appear in the SAME session more
    // often than independence predicts? One session groupBy collects
    // the sorted type set, pairs/singles/total emerge from ONE explode
    // of per-session combination arrays (no self-join — the pair space
    // is Σ t_s² with t_s ≤ |type vocab|, generated map-side), then the
    // tiny (|types|²)-row count table joins itself broadcast-style.
    // lift = (N·c_ab)/(c_a·c_b) as one IEEE division of exact longs.
    "q125_session_lift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val sets = graft.operators.Sessionize.byGap(
          ev.select(col("user_id"), col("event_id"), col("event_type"),
            GraftSession.tsMicros(ev).as("ts_us")),
          keys = Seq("user_id"), tsCol = "ts_us", gap = 28800000000L,
          tieBreak = Seq("event_id"))
        .groupBy("user_id", "session_seq")
        .agg(array_sort(collect_set(col("event_type"))).as("types"))
      // pairs (a<b, the sorted array's i<j), singles (t, NULL), and a
      // per-session (NULL, NULL) marker — one explode, one count
      val pairsArr = expr(
        """flatten(transform(types, (x, i) ->
          |  transform(slice(types, i + 2, size(types)), y ->
          |    struct(x AS type_a, y AS type_b))))""".stripMargin)
      val singlesArr = expr(
        "transform(types, x -> struct(x AS type_a, " +
          "CAST(NULL AS STRING) AS type_b))")
      val marker = expr(
        "array(struct(CAST(NULL AS STRING) AS type_a, " +
          "CAST(NULL AS STRING) AS type_b))")
      // the tiny (≤|types|²) count table feeds FOUR consumers below —
      // materialize it or each one re-runs the whole session chain
      // (the q73/q105 lazy-fanout lesson; plan-checked this round)
      val counts = org.apache.spark.sql.graftshim.CheckpointShim
        .materialize(sets
          .select(explode(concat(pairsArr, singlesArr, marker)).as("p"))
          .select("p.*")
          .groupBy("type_a", "type_b")
          .agg(count(lit(1)).as("c")))._1
      val pairs = counts.filter(col("type_a").isNotNull &&
        col("type_b").isNotNull)
        .select(col("type_a"), col("type_b"), col("c").as("c_ab"))
      val singles = counts.filter(col("type_a").isNotNull &&
        col("type_b").isNull)
      val nSessions = counts.filter(col("type_a").isNull)
        .select(col("c").as("n_sessions"))
      pairs
        .join(broadcast(singles.select(col("type_a").as("__ta"),
          col("c").as("c_a"))), col("type_a") === col("__ta"))
        .join(broadcast(singles.select(col("type_a").as("__tb"),
          col("c").as("c_b"))), col("type_b") === col("__tb"))
        .crossJoin(broadcast(nSessions))
        .select(col("type_a"), col("type_b"), col("c_ab"),
          col("c_a"), col("c_b"),
          ((col("n_sessions") * col("c_ab")).cast("double") /
            (col("c_a") * col("c_b")).cast("double")).as("lift"))
        .orderBy("type_a", "type_b")
    }),

    // Ordered collection aggregate: set-collect, sort, join — the
    // listagg/string_agg surface with deterministic element order.
    "q54_array_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(array_join(sort_array(collect_set(col("o_orderstatus"))), ",")
            .as("statuses"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // Dimension-wise centroid per label: posexplode + grouped exact sum
    // — the distributed "mean embedding" primitive (no collect, no UDAF;
    // shuffle carries (label, dim) keys). The sum runs over
    // floor(x*1e7 + 0.5) BIGINTs: double→decimal casts round differently
    // across engines (Spark goes through the shortest string repr), but
    // mul/add/floor are IEEE-identical everywhere, so the quantized sum
    // is bit-reproducible under any partial-aggregation order.
    "q55_dim_centroid" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy("label", "pos")
        .agg((sum(floor(col("col").cast("double") * lit(1e7) + lit(0.5)))
            .cast("double") / (count(lit(1)) * lit(1e7))).as("centroid"))
        .select(col("label"), col("pos").cast("long").as("pos"),
          col("centroid"))
        .orderBy("label", "pos")
    }),

    // Salted hot-key enrichment: every event joined to its type's
    // global stats — |types| is tiny, so EVERY join key is hot and a
    // plain shuffle join serializes each type into one reducer. The
    // salted form (ext/Skew.saltedJoin) spreads each type over 32
    // reducers; identical rows to the plain join (the oracle IS the
    // plain join). At test scale Spark broadcasts the exploded dim —
    // also shuffle-free; the salt's reducer-spreading is probed in the
    // forced-shuffle regime (ScaleProbe salted_join).
    "q136_salted_enrich" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val dim = ev.groupBy("event_type")
        .agg(count(lit(1)).as("type_count"))
      graft.ext.Skew.saltedJoin(ev.select("event_id", "event_type"),
          dim, Seq("event_type"), salts = 32)
        .select("event_id", "event_type", "type_count")
        .orderBy("event_id")
    }),

    // Robust daily-volume anomaly flags: per type, median + MAD of the
    // daily event counts, day anomalous iff |n − median| > 3·MAD. All
    // arithmetic exact in IEEE (integer counts, interpolated medians on
    // the half grid), so the float columns hash-match the oracle. Two
    // tiny shuffles (day roll-up, per-type stats); the stats join back
    // is |types|-sized → broadcast.
    "q137_mad_anomaly" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .select(col("event_type"),
          GraftSession.tsMicros(ev).as("tn"))
        .selectExpr("event_type", "tn div 86400000000 as day")
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val med = daily.groupBy("event_type")
        .agg(expr("percentile(n, 0.5)").as("med"))
      val dev = daily.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("n") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .select(col("event_type"), col("day"), col("n"), col("med"),
          col("mad"),
          (col("dev") > lit(3d) * col("mad")).cast("int").as("is_anomaly"))
        .orderBy("event_type", "day")
    }),

    // Funnel conversion rates with Wilson 95% intervals — the
    // experiment-analysis readout over q107's funnel: step survivor
    // counts roll up exactly (longs), and every float op in the
    // Wilson formula is the SAME IEEE expression tree the oracle
    // writes, so the bounds hash-match bit-for-bit.
    "q151_funnel_wilson" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val f = graft.operators.Funnel.funnel(
        ev.select(col("user_id"), col("event_type"),
          GraftSession.tsMicros(ev).as("ts_us")),
        "user_id", "event_type", "ts_us",
        Seq("view", "click", "purchase"))
      val counts = f.agg(
        sum((col("step_reached") >= 1).cast("long")).as("n1"),
        sum((col("step_reached") >= 2).cast("long")).as("n2"),
        sum((col("step_reached") >= 3).cast("long")).as("n3"))
      val z2 = lit(1.96) * lit(1.96)
      counts.select(explode(array(
          struct(lit("1_view->click").as("step"), col("n1").as("n"),
            col("n2").as("k")),
          struct(lit("2_click->purchase").as("step"), col("n2").as("n"),
            col("n3").as("k")))).as("t"))
        .select(col("t.step").as("step"), col("t.n").as("n"),
          col("t.k").as("k"))
        .withColumn("nd", col("n").cast("double"))
        .withColumn("p", col("k").cast("double") / col("n").cast("double"))
        .withColumn("wilson_low",
          (col("p") + z2 / (lit(2.0) * col("nd"))) /
            (lit(1.0) + z2 / col("nd")) -
          lit(1.96) * sqrt(col("p") * (lit(1.0) - col("p")) / col("nd") +
            z2 / (lit(4.0) * col("nd") * col("nd"))) /
            (lit(1.0) + z2 / col("nd")))
        .withColumn("wilson_high",
          (col("p") + z2 / (lit(2.0) * col("nd"))) /
            (lit(1.0) + z2 / col("nd")) +
          lit(1.96) * sqrt(col("p") * (lit(1.0) - col("p")) / col("nd") +
            z2 / (lit(4.0) * col("nd") * col("nd"))) /
            (lit(1.0) + z2 / col("nd")))
        .select("step", "n", "k", "p", "wilson_low", "wilson_high")
        .orderBy("step")
    }),

    // The EIGHTH streaming oracle row: online per-day value
    // percentiles — streamingValueHistogram's windowed micro-batch
    // emissions max-folded (monotone Update counts, the q131 device)
    // into a histogram that percentilesFromState rank-selects, vs the
    // oracle computing the same day/percentile grid relationally from
    // raw rows. Exercises streaming + mergeable state + read-time
    // selection in one row.
    "q152_streaming_percentiles" -> ((s, dir) => {
      import s.implicits._
      // stateParts=2: per-row knee (round-13 sweep, BENCH.md) — the
      // windowed-histogram state is small and 2 state-store instances
      // beat the 9-row aggregate's knee of 4 here (3.67 vs 3.98 s)
      val raw = replay(s, events(s, dir), byTime)(
        ds => graft.streaming.EventStreams.streamingValueHistogram(ds)
          .as[(Long, String, Long, Long)],
        stateParts = 2)
      val folded = raw
        .map(r => ((r.getLong(0), r.getString(1), r.getLong(2)),
          r.getLong(3)))
        .groupBy(_._1).map { case ((ws, tp, unit), rs) =>
          (ws, tp, unit, rs.map(_._2).max)
        }.toSeq
      graft.ext.Incremental.percentilesFromState(
          folded.toDF("window_start", "event_type", "unit", "c"),
          Seq("window_start", "event_type"),
          Seq(("p50_cents", 1, 2), ("p90_cents", 9, 10),
            ("p99_cents", 99, 100)))
        .orderBy("window_start", "event_type")
    }),

    // The NINTH streaming oracle row: the mergeable correlation state
    // as a windowed streaming aggregate — per (day, type) exact LONG
    // sums of (second-of-day, cents) moments; monotone Update
    // emissions fold by max n, then corrFinish's fixed IEEE
    // expression derives r/slope — faced by the oracle's from-scratch
    // sums through the SAME expression.
    "q163_streaming_corr" -> ((s, dir) => {
      import s.implicits._
      // stateParts=2: per-row knee (round-13 sweep, BENCH.md) — the
      // per-(day,type) moment state is tiny; 2.70 vs 3.10 s at 4
      val raw = replay(s, events(s, dir), byTime)(
        ds => graft.streaming.EventStreams.streamingCorrState(ds)
          .as[(Long, String, Long, Long, Long, Long, Long, Long)],
        stateParts = 2)
      val folded = raw
        .map(r => ((r.getLong(0), r.getString(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6), r.getLong(7))))
        .groupBy(_._1).map { case ((ws, tp), rs) =>
          val best = rs.map(_._2).maxBy(_._1)
          (ws, tp, best._1, best._2, best._3, best._4, best._5, best._6)
        }.toSeq
      graft.ext.Incremental.corrFinish(folded.toDF("window_start",
          "event_type", "n_rows", "sum_x", "sum_y", "sum_xx", "sum_yy",
          "sum_xy"))
        .select(col("window_start"), col("event_type"), col("n_rows"),
          col("sum_xy"), col("mean_x"), col("mean_y"), col("pearson_r"),
          col("slope"))
        .orderBy("window_start", "event_type")
    }),

    // The SEVENTH streaming oracle row: q138's LOCF gap fill replayed
    // through streamingGapFill's timer-driven micro-batch pipeline
    // (watermark closes each day; EventTimeTimeout emits interior gap
    // days). The operator emits each type's [first data day, last data
    // day] span; the fold pads to the global spine — leading zeros
    // before a type's first day, trailing LOCF after its last — the
    // cross-type bounds a per-key operator cannot know. Faces q138's
    // SAME DuckDB SQL (two implementations, one ground truth).
    "q148_streaming_gap_fill" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.EventStreams
      val raw = replay(s, events(s, dir), byTime)(
        ds => EventStreams.streamingGapFill(
          ds.filter(col("event_type") === "__flush" ||
            graft.ext.Curation.hashU32("gf1", col("event_id")) <
              42949672L)),
        mode = org.apache.spark.sql.streaming.OutputMode.Append(),
        flush = Some(flushEvents))
      val rows = raw
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getInt(3)))
        .filter(_._1 != "__flush")
      val d0 = rows.map(_._2).min
      val d1 = rows.map(_._2).max
      val byType = rows.groupBy(_._1)
      val folded = byType.toSeq.flatMap { case (tp, rs) =>
        val byDay = rs.map(r => r._2 -> r).toMap
        val first = rs.map(_._2).min
        val last = rs.map(_._2).max
        val lastN = byDay(last)._3
        (d0 to d1).map { d =>
          byDay.get(d) match {
            case Some((_, _, n, g)) => (tp, d, n, g)
            case None if d < first  => (tp, d, 0L, 1)
            case None               => (tp, d, lastN, 1) // d > last
          }
        }
      }
      folded.toDF("event_type", "day", "n_filled", "is_gap")
        .orderBy("event_type", "day")
    }),

    // The TENTH streaming twin — incremental GRAPH maintenance: the
    // heavy-usage user↔event-type bipartite graph (an edge when a
    // user's count for a type reaches 15) maintained ONLINE by
    // streamingEdgeBirths (per-user monotone count state, each edge
    // born exactly once), then the distributed batch kCore peel over
    // the streamed-in edge set — the production shape where graph
    // analytics consume maintained edge deltas instead of re-scanning
    // the event log. The oracle rebuilds the same graph with a batch
    // GROUP BY ... HAVING and replays the peel as the q159-style
    // recursive CTE: stream-maintenance + Spark peel vs batch SQL +
    // DuckDB peel — two fully independent paths, one ground truth.
    "q165_streaming_kcore" -> ((s, dir) => {
      import graft.streaming.EventStreams
      val births = replay(s, events(s, dir), byTime)(
        ds => EventStreams.streamingEdgeBirths(ds, minCount = 15L))
        .map(r => (r.getString(0), r.getString(1)))
      // the exactly-once birth contract is load-bearing for the graph
      // (a duplicate edge would double kCore's degree counts) — fail
      // loudly rather than dedup silently
      require(births.distinct.length == births.length,
        "streamingEdgeBirths emitted a duplicate edge")
      val edges = s.createDataFrame(births.toSeq).toDF("u", "v")
      graft.ext.Graph.kCore(edges, "u", "v", k = 2)
        .select(col("id").as("vertex"), col("degree"))
        .orderBy("vertex")
    }),

    // The ELEVENTH streaming twin: online boilerplate-frequency
    // maintenance (the streaming form of q171's batch delta). The
    // rebuilt-lines corpus replays through the harness in three
    // doc_id-ordered batches; one streaming aggregation maintains
    // per-line distinct-doc counts (array_distinct per doc = the batch
    // countDistinct, since docs arrive exactly once); Update emissions
    // fold by MAX and the read-time >2 filter is the LIVE frequent set
    // — compared against the batch SQL frequency the q169 rewrite
    // uses. Keys on the line string so DuckDB can replay (production
    // keys on xxhash64: 16-byte state rows, same counts).
    "q175_streaming_boilerplate" -> ((s, dir) => {
      import s.implicits._
      val rows = replayDocs(s, TextQueries.rebuiltLines(s, dir, 4),
        df => graft.streaming.EventStreams
          .streamingLineFrequency(df, "text"))
      rows.map(r => r.getString(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toSeq
        .filter(_._2 > 2L)
        .toDF("line", "n_docs")
        .orderBy("line")
    }),

    // The TWELFTH streaming twin: online CDC chunk-frequency
    // maintenance (q175's device at CHUNK granularity — VERDICT r12
    // Next #6). The raw documents replay through the same replay
    // harness in three doc_id-ordered batches; the native rolling-hash
    // chunker runs map-side ON THE STREAM, a streaming aggregation
    // maintains (chunk_h, n_docs); MAX-folded Update emissions with a
    // read-time >= 2 filter rebuild exactly the shared-chunk set the
    // q178 batch SQL computes.
    "q182_streaming_cdc_freq" -> ((s, dir) => {
      import s.implicits._
      val rows = replayDocs(s,
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        df => graft.streaming.EventStreams
          .streamingChunkFrequency(df, "text", w = 8, modulus = 32))
      rows.map(r => r.getString(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toSeq
        .filter(_._2 >= 2L)
        .toDF("chunk_h", "n_docs")
        .orderBy("chunk_h")
    }),

    // The THIRTEENTH streaming twin: event-time gap sessionization —
    // sessionizeByGap (flatMapGroupsWithState + EventTimeTimeout, one
    // open session + a counter per user, mid-batch gap splits on the
    // sorted batch slice) replayed over the time-ordered feed, closed
    // sessions flushed by the watermark push, against q53's batch SQL
    // (two implementations, one ground truth). `total` is an
    // arrival-order float sum, so the oracle-facing columns are the
    // exact-integer five; the flush event's own user (-1) is harness,
    // not data.
    "q186_streaming_sessionize" -> ((s, dir) => {
      import s.implicits._
      val raw = replay(s, events(s, dir), byTime)(
        ds => graft.streaming.EventStreams.sessionizeByGap(ds,
          gapMs = 28800000L),
        mode = org.apache.spark.sql.streaming.OutputMode.Append(),
        flush = Some(flushEvents))
      raw.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(4), r.getLong(5)))
        .filter(_._1 != -1L)
        .toSeq
        .toDF("user_id", "session_seq", "n_events", "start_us", "end_us")
        .orderBy("user_id", "session_seq")
    }),

    // The FOURTEENTH streaming twin: ONLINE LSH near-dup maintenance.
    // Documents replay through streamingBandIndex — band buckets as
    // keyed state, candidate pairs emitted as docs arrive (old x new
    // AND same-batch new x new) — then the fold set-dedupes the
    // multi-band emissions and runs the batch exact-jaccard verify on
    // candidates only. Faces q35's own oracle SQL: the online band
    // index must reproduce the batch MinHash+LSH pair set
    // bit-for-bit. (Oracle binding lives next to minhashSql in
    // TextQueries.)
    "q187_streaming_band_index" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val raw = replayDocs(s, docs,
        df => graft.streaming.EventStreams.streamingBandIndex(
          df, "doc_id", "text", shingleN = 3, k = 12, bands = 4)
          .toDF("a_id", "b_id"),
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      val cand = raw.map(r => (r.getLong(0), r.getLong(1)))
        .distinct.toSeq.toDF("a_id", "b_id")
      graft.ext.Dedup.verifyJaccard(cand, docs, "doc_id", "text",
          shingleN = 3, threshold = 0.5)
        .orderBy("a_id", "b_id")
    }),

    // The FIFTEENTH streaming twin: online per-source quota
    // maintenance (q185's batch cap, maintained as docs arrive).
    // Kept-set changes are NOT monotone — a longer doc evicts a
    // shorter one — so the fold device is versioned whole-ranking
    // emission + MAX-version-per-group selection, not the counting
    // twins' per-row MAX. Faces q185's own oracle SQL.
    "q190_streaming_source_quota" -> ((s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .as[(String, Long, Long)]
      val raw = replay(s, rows, Seq(col("doc_id")))(
        ds => graft.streaming.EventStreams.streamingGroupQuota(ds, k = 10),
        org.apache.spark.sql.streaming.OutputMode.Append())
      val folded = raw
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      val lastVer = folded.groupBy(_._1).view
        .mapValues(_.map(_._2).max).toMap
      folded
        .filter(t => t._2 == lastVer(t._1))
        .map(t => (t._1, t._5, t._3, t._4))
        .toSeq
        .toDF("source", "quota_rank", "doc_id", "n_chars")
        .orderBy("source", "quota_rank")
    }),

    // The SIXTEENTH streaming twin: at-least-once ingest dedup.
    // Every event is delivered TWICE (map-only explode duplication —
    // the redelivery a real at-least-once source produces) and
    // dropDuplicatesWithinWatermark must emit each event exactly
    // once; the ground truth is simply the events table itself. This
    // is the bounded-state form (per-key state evicted past the
    // watermark horizon) that survives an unbounded feed where plain
    // streaming dropDuplicates grows forever.
    "q192_streaming_ingest_dedup" -> ((s, dir) => {
      import s.implicits._
      val raw = replay(s, events(s, dir), byTime)(
        ds => {
          val doubled = ds.toDF()
            .withColumn("__copy", explode(array(lit(0), lit(1))))
            .drop("__copy")
          graft.streaming.EventStreams.dedupWithinWatermark(
              doubled, Seq("event_id"), "10 minutes")
            .select(col("event_id"), col("user_id"), col("event_type"))
        },
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      raw.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSeq.toDF("event_id", "user_id", "event_type")
        .orderBy("event_id")
    }),

    // The SEVENTEENTH streaming twin: stream-vs-snapshot content
    // decontamination. New docs (id >= 250) PLUS ten planted
    // re-crawls of snapshot docs (ids 0-9 re-tagged +1000000 — the
    // duplicate delivery a fresh crawl actually produces, and the
    // guarantee the row is never vacuous) stream in; streamNewRows
    // passes only those whose md5(text) is NOT in the id < 250
    // snapshot — the bloom bitmap rides into every micro-batch as a
    // plan literal, negative probes pass with zero join work, bloom
    // hits confirm against the broadcast key set (FPs die there). The
    // ground truth is the plain batch anti-join over the same feed.
    "q194_streaming_decontaminate" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val snapshot = d.filter(col("doc_id") < 250)
        .select(col("doc_id"), col("text"))
      val feed = d.filter(col("doc_id") >= 250)
        .select(col("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") < 10)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val raw = replayDocs(s, feed,
        df => graft.streaming.EventStreams.streamNewRows(
            df, snapshot, md5(col("text")))
          .select("doc_id"),
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      raw.map(_.getLong(0)).toSeq.toDF("doc_id").orderBy("doc_id")
    }),

    // The EIGHTEENTH streaming twin: the online classifier gate — the
    // APPLY half of the curation stack goes online like dedup, quota
    // and decontamination already did. The full docs corpus streams in
    // thirds; the pinned q172 model rides into every micro-batch as a
    // constant-folded map literal; per batch the work is a stateless
    // per-row decimal fold (no state store, no watermark, no window —
    // the cheapest twin). Output faces q172's own oracle SQL: the
    // online gate must reproduce the batch classifyLinear row-for-row,
    // scaled-BIGINT edge included. Exactly-once per doc (each doc
    // arrives once and its verdict is self-contained), so the fold is
    // a plain collect + sort.
    "q198_streaming_classifier" -> ((s, dir) => {
      import s.implicits._
      val (m, p) = TextQueries.pinnedModel(s)
      val raw = replayDocs(s,
        t(s, dir, "documents").select("doc_id", "text"),
        df => graft.streaming.EventStreams.streamingClassifierGate(
            df, "doc_id", "text", m, p)
          .select(col("doc_id"), col("label"),
            (col("score").cast("decimal(18,9)") *
              lit(1000000000L).cast("decimal(10,0)"))
              .cast("bigint").as("score_e9")),
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      raw.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq.toDF("doc_id", "label", "score_e9")
        .orderBy("doc_id")
    }),

    // The NINETEENTH streaming twin: online DSIR importance scoring —
    // the data-selection stack's scoring half goes online next to the
    // classifier gate. Every arriving doc gets its exact-decimal
    // weight = score(en) − score(es) from the same stateless per-row
    // fold; the top-100 SELECTION is the fold's batch decision over
    // the scored pool (sortWith, not sortBy(-w) — the Long.MinValue
    // negation pitfall), facing q173's own oracle SQL row-for-row.
    "q199_streaming_dsir" -> ((s, dir) => {
      import s.implicits._
      val (m, p) = TextQueries.pinnedModel(s)
      val raw = replayDocs(s,
        t(s, dir, "documents").select("doc_id", "text"),
        df => graft.streaming.EventStreams.streamingImportanceGate(
            df, "doc_id", "text", m, p,
            targetLabel = "en", rawLabel = "es")
          .select(col("doc_id"),
            (col("weight").cast("decimal(18,9)") *
              lit(1000000000L).cast("decimal(10,0)"))
              .cast("bigint").as("weight_e9")),
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      raw.map(r => (r.getLong(0), r.getLong(1)))
        .toSeq
        .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
        .take(100)
        .toDF("doc_id", "weight_e9")
        .orderBy(col("weight_e9").desc, col("doc_id"))
    }),

    // The TWENTIETH streaming twin: online NB term-count maintenance —
    // TRAINING goes online (the q196 exact-integer core kept fresh as
    // labeled docs arrive). One Update-mode (label, term) count
    // aggregation, with one DocSentinel marker per doc so doc
    // counts ride in the same single aggregation; counts are MONOTONE
    // so the exactly-once fold is MAX per key, and the trainer's
    // rollups (label totals, vocab size, doc totals) are exact
    // derivations over the folded table — the same rollups batch
    // trainNaiveBayesCounts computes from ITS aggregate. Faces q196's
    // own oracle SQL row-for-row.
    "q200_streaming_nb_counts" -> ((s, dir) => {
      import s.implicits._
      val sentinel = graft.streaming.EventStreams.DocSentinel
      val raw = replayDocs(s,
        t(s, dir, "documents").select("doc_id", "text"),
        df => graft.streaming.EventStreams.streamingTermCounts(
          df.withColumn("label",
            element_at(array(lit("en"), lit("es"), lit("fr")),
              ((col("doc_id") % 3) + 1).cast("int"))),
          "label", "text"))
      val folded = raw
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val docCounts = folded.collect {
        case ((l, t), n) if t == sentinel => l -> n
      }
      require(docCounts.nonEmpty && folded.keys.map(_._1).toSet ==
          docCounts.keySet,
        "sentinel doc-marker rows missing for some label — doc counts " +
          "would be silently wrong")
      val tc = folded.filter(_._1._2 != sentinel)
      val tot = tc.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val v = math.max(tc.keys.map(_._2).toSet.size, 1).toLong
      val nTotal = docCounts.values.sum
      tc.toSeq.map { case ((l, term), n) =>
          (term, l, n, tot(l), v, docCounts(l), nTotal) }
        .toDF("term", "label", "n", "tot", "v", "n_docs", "n_total")
        .orderBy("label", "term")
    }),

    // The TWENTY-FIRST streaming twin: the online contamination gate —
    // benchmark decontamination at ingest time. Corpus docs (id >= 10)
    // stream in; the eval suite (id < 10) is an xxhash64-collapsed
    // plan-literal long set probed per shingle — every micro-batch is
    // a stateless map-only scan. Faces q64's own oracle SQL.
    "q202_streaming_contamination" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val raw = replayDocs(s,
        d.filter(col("doc_id") >= 10).select("doc_id", "text"),
        df => graft.streaming.EventStreams.streamingContamination(
          df, "doc_id", "text",
          d.filter(col("doc_id") < 10).select("text"), n = 3),
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      raw.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)))
        .toSeq
        .toDF("doc_id", "n_shingles", "n_contaminated", "contamination")
        .orderBy("doc_id")
    }),

    // The TWENTY-SECOND streaming twin: online ANN serving against
    // SAVED SQ8 codes — the steady-state serving shape the on-codes
    // paths claim (BENCH.md's 1.7× win) finally under the gate: the
    // corpus is trained + encoded ONCE in batch (the at-ingest
    // artifact, materialized so micro-batches never re-run it) and the
    // 10 query vectors arrive as a stream in thirds. Per micro-batch
    // the stateless map-only encode + integer scoring emits (q_id,
    // n_id, sqdist) facts; the top-5 cut is the fold's batch decision
    // (exact integer sort — the q199 convention). Faces q201's own
    // oracle SQL row-for-row: the online serving path must reproduce
    // the batch train+encode+rank pipeline bit-for-bit.
    "q205_streaming_ann_serve" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val mm = graft.ext.Similarity.sq8MinMax(e, "embedding")
        .localCheckpoint(true) // the trained artifact, built once
      val codes = graft.ext.Similarity.sq8Encode(
          e.select(col("vec_id"), col("embedding")), "embedding", mm)
        .select(col("vec_id"), col("sq8_code"))
        .localCheckpoint(true) // the persisted at-ingest code table
      val feed = e.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("long").as("_1"),
          col("embedding").as("_2"))
        .as[(Long, Array[Float])]
      val raw = replay(s, feed, Seq(col("_1")))(
        ds => graft.streaming.EventStreams.streamingSq8Serve(
          ds.toDF("vec_id", "embedding"), "vec_id", "embedding",
          codes, "vec_id", "sq8_code", mm),
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      raw.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
          rows.sortWith((a, b) => a._3 < b._3 ||
              (a._3 == b._3 && a._2 < b._2))
            .take(5).zipWithIndex
            .map { case ((q, n, d), i) => (q, n, i + 1, d) }
        }
        .toDF("q_id", "n_id", "rank", "sqdist")
        .orderBy("q_id", "rank")
    }),

    // The TWENTY-FOURTH streaming twin: feature standardization at
    // ingest — the μ/σ artifact trains once in batch (materialized),
    // arriving vectors z-score map-only against the plan-literal
    // arrays (the SAME standardizeApply method as the batch operator,
    // so the twins cannot drift). Stateless; faces q210's own SQL.
    "q216_streaming_standardize" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val stats = graft.ext.Similarity.standardizeStats(e, "embedding")
        .localCheckpoint(true) // the at-ingest artifact
      val feed = e.select(col("vec_id").cast("long").as("_1"),
          col("embedding").as("_2"))
        .as[(Long, Array[Float])]
      val raw = replay(s, feed, Seq(col("_1")))(
        ds => graft.ext.Similarity.standardizeApply(
            ds.toDF("vec_id", "embedding"), "embedding", stats)
          .select(col("vec_id"), col("zvec")),
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      raw.flatMap(r => r.getSeq[Double](1).zipWithIndex.map {
          case (z, i) => (r.getLong(0), i, z)
        }).toSeq
        .toDF("vec_id", "dim", "z")
        .orderBy("vec_id", "dim")
    }),

    // The THIRTY-SIXTH streaming twin: online corpus-diversity
    // maintenance — q230's distinct-bigram monitor kept fresh at
    // ingest. groupedBigramCounts verbatim as ONE Update-mode
    // aggregation; MAX fold; per group Σ counts = instances and
    // |keys| = distinct, derived through the SHARED diversityRatios.
    // Faces q230's own oracle SQL row-for-row.
    "q248_streaming_diversity" -> ((s, dir) => {
      import s.implicits._
      val feed = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("_1"),
          col("lang").as("_2"), col("text").as("_3"))
        .as[(Long, String, String)]
      val raw = replay(s, feed, Seq(col("_1")))(
        ds => graft.ext.TextAnalysis.groupedBigramCounts(
          ds.toDF("doc_id", "lang", "text"), "lang", "text"),
        mode = org.apache.spark.sql.streaming.OutputMode.Update())
      val folded = raw
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toSeq
      val perGroup = folded.groupBy(_._1._1).toSeq
        .map { case (g, vs) =>
          (g, vs.map(_._2).sum, vs.length.toLong)
        }
      graft.ext.TextAnalysis.diversityRatios(
          perGroup.toDF("lang", "n_grams", "n_distinct"))
        .orderBy("lang")
    }),

    // Online trained-LM document scoring (lmServe): the en-slice KN
    // bigram model at D = 3/4. Faces q250's own oracle SQL row-for-row.
    "q260_streaming_kn_score" -> ((s, dir) =>
      lmServe(s, dir, 2, NgramLm.Fixed, None)),

    // q260 one order up: the en-slice KN trigram model at D = 3/4. Faces
    // q267's own oracle SQL row-for-row.
    "q268_streaming_kn_trigram_score" -> ((s, dir) =>
      lmServe(s, dir, 3, NgramLm.Fixed, None)),

    // The FORTY-THIRD streaming twin — STREAM×STREAM near-dup in the
    // LEAN two-phase shape (verdict r16 items #6/#7): both sides of
    // every pair arrive on the SAME stream, the watermarked band-key
    // self-join carries ONLY (id, ts, band, bkey) in state (no
    // shingle payload), candidate pairs dedup IN-STREAM to
    // once-per-pair (dropDuplicatesWithinWatermark), and the exact
    // jaccard verify runs downstream as stateless stream-static joins
    // against the materialized doc-shingle store. Event times SPREAD
    // deterministically (ts + doc_id%600 s, all inside the 1-hour
    // window) so the ±window predicate and watermark eviction are
    // genuinely exercised. NO driver-side dedup: the streaming output
    // IS the batch output. Faces q35's own oracle SQL row-for-row.
    "q265_stream_stream_neardup" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val store = d.select(col("doc_id").cast("long").as("__id"),
          graft.functions.expressions.TextExpressions.wordShingles(
            col("text"), 3).as("__sharr"))
        .localCheckpoint(true) // the at-ingest doc-shingle sink
      val feed = d
        .select(col("doc_id").cast("long").as("_1"),
          expr("timestampadd(SECOND, CAST(doc_id % 600 AS INT)," +
            " TIMESTAMP'2026-01-01 00:00:00')").as("_2"),
          col("text").as("_3"))
        .as[(Long, java.sql.Timestamp, String)]
      // stateParts=2: per-row knee (r18 optimization sweep at n=3:
      // 1→6.73, 2→6.57, 4→7.00, 8→7.72 s) — the symmetric-hash join
      // carries 4 state stores per side per partition, so fewer,
      // fuller state partitions win at this replay size.
      // noDataBatches = false (q132's reasoning): the plan is ONE
      // watermarked INNER stream-stream join, then
      // dropDuplicatesWithinWatermark and stateless stream-static
      // joins — none of them emits in a no-data batch, which can only
      // advance the watermark and evict state. Every pair appears in
      // the data batch where its later doc arrives. ReplayProf at
      // sf0.01 showed three rows=0 batches, ~30% of trigger time.
      val raw = replay(s, feed, Seq(col("_1")))(
        ds => graft.streaming.EventStreams.streamStreamMinhashPairs(
          ds.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
          docShingles = Some(store)),
        mode = org.apache.spark.sql.streaming.OutputMode.Append(),
        stateParts = 2, noDataBatches = Some(false))
      raw.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
        .toDF("a_id", "b_id", "jaccard")
        .orderBy("a_id", "b_id")
    }),

    // The FORTY-SECOND streaming twin: Unicode cleanup at ingest —
    // the batch projection verbatim (stateless Append; the planted
    // decomposed-accent/BEL/double-space device rides in the feed, so
    // every cleanup stage provably fires online too). Faces q262's
    // own oracle SQL row-for-row.
    "q263_streaming_unicode_clean" -> ((s, dir) => {
      import s.implicits._
      val planted = t(s, dir, "documents").withColumn("text",
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" cafe\u0301\u0007  end")))
          .otherwise(col("text")))
      val raw = replayDocs(s, planted.select("doc_id", "text"),
        df => graft.ext.TextAnalysis.unicodeClean(df, "text")
          .select(col("doc_id"), length(col("text")).as("n_before"),
            length(col("clean_text")).as("n_after"), col("clean_text")),
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      raw.map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getString(3)))
        .toSeq
        .toDF("doc_id", "n_before", "n_after", "clean_text")
        .orderBy("doc_id")
    }),

    // The THIRTY-SEVENTH streaming twin: CELL-KEYED online ANN
    // serving — the sublinear upgrade of q205's brute serve: the
    // corpus is trained (learned centroids), cell-assigned, and
    // SQ8-encoded ONCE in batch (the at-ingest artifacts,
    // materialized so micro-batches never re-run them); arriving
    // query vectors encode + probe MAP-ONLY against the plan-literal
    // artifacts and stream-static EQUI-join their own cell's
    // candidates — per-batch work ∝ cell population, not corpus.
    // Emits integer candidate facts; the top-3 cut is the fold's
    // batch decision. Faces q209's own oracle SQL row-for-row: the
    // online cell-keyed path must reproduce the batch trained-IVF-SQ8
    // train+assign+encode+rank pipeline bit-for-bit.
    "q251_streaming_ivf_serve" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val cents = graft.ext.Similarity.trainCentroids(
          e, "vec_id", "embedding", k = 4, iters = 2)
        .localCheckpoint(true) // the trained coarse quantizer
      val mm = graft.ext.Similarity.sq8MinMax(e, "embedding")
        .localCheckpoint(true) // the trained scalar quantizer
      val coded = graft.ext.Similarity.sq8Encode(
          graft.ext.Similarity.ivfAssign(
            e.select(col("vec_id"), col("embedding")),
            "vec_id", "embedding", cents),
          "embedding", mm)
        .select(col("vec_id"), col("cid"), col("sq8_code"))
        .localCheckpoint(true) // the persisted at-ingest code table
      val feed = e.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("long").as("_1"),
          col("embedding").as("_2"))
        .as[(Long, Array[Float])]
      val raw = replay(s, feed, Seq(col("_1")))(
        ds => graft.streaming.EventStreams.streamingIvfSq8Serve(
          ds.toDF("vec_id", "embedding"), "vec_id", "embedding",
          coded, "vec_id", "cid", "sq8_code", mm, cents),
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      raw.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
          rows.sortWith((a, b) => a._3 < b._3 ||
              (a._3 == b._3 && a._2 < b._2))
            .take(3).zipWithIndex
            .map { case ((q, n, d), i) => (q, n, i + 1, d) }
        }
        .toDF("q_id", "n_id", "rank", "sqdist")
        .orderBy("q_id", "rank")
    }),

    // Online Kneser-Ney count maintenance (lmTrain) — LM TRAINING kept
    // fresh at ingest, the continuation statistics derived from the
    // folded bigram counts, the same top-200 cut. Faces q246's own
    // oracle SQL row-for-row.
    "q247_streaming_kn_counts" -> ((s, dir) =>
      lmTrain(s, t(s, dir, "documents").select("doc_id", "text"), 2)(NgramLm.continuationTable(_)
        .orderBy(col("n").desc, col("w1"), col("w2"))
        .limit(200))),

    // Online smoothed-LM maintenance: q247's folded counts through the
    // batch KN bigram probabilities (D = 3/4). Faces q249's own oracle
    // SQL row-for-row.
    "q257_streaming_kn_probabilities" -> ((s, dir) =>
      lmTrain(s, t(s, dir, "documents").select("doc_id", "text"), 2)(counts =>
        NgramLm.probabilities(Map(2 -> counts), 2, NgramLm.Fixed)
          .orderBy(col("n").desc, col("w1"), col("w2"))
          .limit(200))),

    // q257 one order up (train online at n=3; serve online: q268). Faces
    // q266's own oracle SQL row-for-row.
    "q272_streaming_kn_trigram_probabilities" -> ((s, dir) =>
      lmTrain(s, t(s, dir, "documents").select("doc_id", "text"), 3)(counts =>
        NgramLm.probabilities(Map(3 -> counts), 3, NgramLm.Fixed)
          .orderBy(col("n").desc, col("w1"), col("w2"), col("w3"))
          .limit(200))),

    // q272 at the PRODUCTION discount (per-level count-of-counts D,
    // three-stage floor). Faces q274's own oracle SQL row-for-row.
    "q280_streaming_kn_trigram_estd" -> ((s, dir) =>
      lmTrain(s, t(s, dir, "documents").select("doc_id", "text"), 3)(counts =>
        NgramLm.probabilities(Map(3 -> counts), 3, NgramLm.Estimated)
          .orderBy(col("n").desc, col("w1"), col("w2"), col("w3"))
          .limit(200))),

    // q260 at the PRODUCTION (estimated) discount. Faces q275's own
    // oracle SQL row-for-row.
    "q281_streaming_kn_estd_score" -> ((s, dir) =>
      lmServe(s, dir, 2, NgramLm.Estimated, None)),

    // q260 under MODIFIED KN (three count-indexed discounts). Faces
    // q283's own oracle SQL row-for-row.
    "q285_streaming_kn_mkn_score" -> ((s, dir) =>
      lmServe(s, dir, 2, NgramLm.Modified, None)),

    // q268 under MODIFIED KN at both levels. Faces q284's own oracle SQL
    // row-for-row.
    "q286_streaming_kn_trigram_mkn_score" -> ((s, dir) =>
      lmServe(s, dir, 3, NgramLm.Modified, None)),

    // q260 under WITTEN-BELL (the unigram table replaces the
    // continuation marginal). Faces q295's own oracle SQL row-for-row.
    "q300_streaming_witten_bell_score" -> ((s, dir) =>
      lmServe(s, dir, 2, NgramLm.WittenBell, None)),

    // q268's shape under STUPID BACKOFF (five stream-static count joins,
    // no continuation marginals). Faces q293's own oracle SQL row-for-
    // row.
    "q296_streaming_stupid_backoff_score" -> ((s, dir) =>
      lmServe(s, dir, 3, NgramLm.StupidBackoff, None)),

    // OPEN-VOCABULARY q260 (top-24 vocab; broadcast vocab dim joins in
    // front of the cascade). Faces q290's own oracle SQL row-for-row.
    "q291_streaming_kn_unk_score" -> ((s, dir) =>
      lmServe(s, dir, 2, NgramLm.Fixed, Some(24))),

    // q272 under MODIFIED KN on the 'en' slice (q278's training set),
    // with q278's per-bucket rank-67 finish. Faces q278's own oracle SQL
    // row-for-row.
    "q287_streaming_kn_trigram_mkn" -> ((s, dir) =>
      lmTrain(s, t(s, dir, "documents").where(col("lang") === "en")
          .select("doc_id", "text"), 3) { counts =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(least(col("n"), lit(3L)))
          .orderBy(col("n").desc, col("w1"), col("w2"), col("w3"))
        NgramLm.probabilities(Map(3 -> counts), 3, NgramLm.Modified)
          .withColumn("__rk", row_number().over(w))
          .where(col("__rk") <= 67).drop("__rk")
          .orderBy(col("n").desc, col("w1"), col("w2"), col("w3"))
      }),

    // q268 at the PRODUCTION discounts (per-level estimated D). Faces
    // q276's own oracle SQL row-for-row.
    "q282_streaming_kn_trigram_estd_score" -> ((s, dir) =>
      lmServe(s, dir, 3, NgramLm.Estimated, None)),

    // The THIRTY-THIRD streaming twin: line-quality filtering at
    // ingest — the batch HOF projection verbatim (stateless,
    // Append-legal); the twin pins stream legality and instance
    // parity. Faces q242's own oracle SQL row-for-row.
    "q243_streaming_line_filter" -> ((s, dir) => {
      import s.implicits._
      val raw = replayDocs(s,
        TextQueries.rebuiltLines(s, dir, 4),
        df => graft.ext.Curation.lineQualityFilter(
          df, "doc_id", "text", minAlphaE9 = 860000000L),
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      raw.map(r => (r.getLong(0), r.getString(1)))
        .toSeq
        .toDF("doc_id", "text")
        .orderBy("doc_id")
    }),

    // The THIRTY-FOURTH streaming twin: online OOV-rate maintenance —
    // the tokenizer-coverage diagnostic at ingest. The top-20
    // vocabulary trains once in batch (materialized), rides as an
    // xxhash64 plan-literal set probed in-scan; ONE Update-mode
    // per-source aggregation of the monotone (tokens, oov) sums; MAX
    // fold; rates through the SHARED oovRates expressions. Faces
    // q244's own oracle SQL row-for-row.
    "q245_streaming_oov" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val vocab = d.select(explode(filter(
            graft.functions.TextFunctions.tokens(col("text")),
            tk => length(tk) > 0)).as("term"))
        .groupBy("term").agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col("term")).limit(20)
        .select("term")
        .localCheckpoint(true) // the batch-trained vocabulary artifact
      val feed = d.select(col("doc_id").cast("long").as("_1"),
          col("source").as("_2"), col("text").as("_3"))
        .as[(Long, String, String)]
      val raw = replay(s, feed, Seq(col("_1")))(
        ds => graft.streaming.EventStreams.streamingOovCounts(
          ds.toDF("doc_id", "source", "text"), "source", "text", vocab),
        mode = org.apache.spark.sql.streaming.OutputMode.Update())
      val folded = raw
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view
        .mapValues(vs => (vs.map(_._2._1).max, vs.map(_._2._2).max))
        .toSeq.map { case (src, (nt, no)) => (src, nt, no) }
      graft.ext.TextAnalysis.oovRates(
          folded.toDF("source", "n_tokens", "n_oov"))
        .orderBy("source")
    }),

    // The THIRTY-SECOND streaming twin: online PII-prevalence
    // maintenance — q239's governance counters kept fresh at ingest
    // (the same deterministic PII planting applied in the feed
    // projection). piiCounts verbatim as ONE Update-mode aggregation;
    // monotone sums → MAX fold; rates derive through the SHARED
    // piiRates expressions. Faces q239's own oracle SQL row-for-row.
    "q241_streaming_pii" -> ((s, dir) => {
      import s.implicits._
      val feed = t(s, dir, "documents")
        .withColumn("text", concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit(" u"), col("doc_id"), lit("@example.com")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(lit(" id "), col("doc_id") * 1000000 + 123456))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(13)) === 0,
            lit(" see https://example.com/x")).otherwise(lit(""))))
        .select(col("doc_id").cast("long").as("_1"),
          col("source").as("_2"), col("text").as("_3"))
        .as[(Long, String, String)]
      val raw = replay(s, feed, Seq(col("_1")))(
        ds => graft.ext.TextAnalysis.piiCounts(
          ds.toDF("doc_id", "source", "text"), "source", "text"),
        mode = org.apache.spark.sql.streaming.OutputMode.Update())
      val folded = raw
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .groupBy(_._1).view
        .mapValues(vs => (vs.map(_._2._1).max, vs.map(_._2._2).max,
          vs.map(_._2._3).max, vs.map(_._2._4).max))
        .toSeq.map { case (src, (d, e, u, n)) => (src, d, e, u, n) }
      graft.ext.TextAnalysis.piiRates(
          folded.toDF("source", "n_docs", "n_email", "n_url",
            "n_longnum"))
        .orderBy("source")
    }),

    // The THIRTY-FIRST streaming twin: online drift-count maintenance
    // — q236's χ² monitor kept fresh at ingest. ONE Update-mode
    // per-bucket aggregation carries both sides' monotone counts; MAX
    // fold; the χ² derives through the SHARED chiSquareFromCounts
    // expressions. Faces q236's own oracle SQL row-for-row.
    "q237_streaming_drift" -> ((s, dir) => {
      import s.implicits._
      val feed = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("_1"),
          col("lang").as("_2"),
          (length(col("source")) > 4).as("_3"))
        .as[(Long, String, Boolean)]
      val raw = replay(s, feed, Seq(col("_1")))(
        ds => graft.streaming.EventStreams.streamingDriftCounts(
          ds.toDF("doc_id", "lang", "is_cur"), "lang", "is_cur"),
        mode = org.apache.spark.sql.streaming.OutputMode.Update())
      val folded = raw
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view
        .mapValues(vs => (vs.map(_._2._1).max, vs.map(_._2._2).max))
        .toSeq.map { case (b, (nr, nc)) => (b, nr, nc) }
      graft.ext.Stats.chiSquareFromCounts(
          folded.toDF("bucket", "n_ref", "n_cur"))
        .orderBy("bucket")
    }),

    // The THIRTIETH streaming twin: online confusion-matrix
    // maintenance — the q234 classification report kept fresh at
    // ingest. Prediction is the stateless lang-ID projection per row;
    // ONE Update-mode (truth, pred) count aggregation; counts
    // monotone → MAX fold; the report derives through the SHARED
    // classificationReportFromMatrix expressions. Faces q234's own
    // oracle SQL row-for-row.
    "q235_streaming_confusion" -> ((s, dir) => {
      import s.implicits._
      val feed = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("_1"),
          col("lang").as("_2"), col("text").as("_3"))
        .as[(Long, String, String)]
      val raw = replay(s, feed, Seq(col("_1")))(
        ds => graft.streaming.EventStreams.streamingConfusionCounts(
          graft.ext.TextAnalysis.withLangId(
            ds.toDF("doc_id", "lang", "text"), "text",
            TextQueries.langMarkers),
          "lang", "lang_guess"),
        mode = org.apache.spark.sql.streaming.OutputMode.Update())
      val folded = raw
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).max)
        .toSeq.map { case ((tr, pr), n) => (tr, pr, n) }
      graft.ext.Stats.classificationReportFromMatrix(
          folded.toDF("truth", "pred", "n"))
        .orderBy("cls")
    }),

    // The TWENTY-NINTH streaming twin: online tokenizer-fertility
    // maintenance — the q229 report kept fresh at ingest via ONE
    // Update-mode per-lang sum aggregation; every sum is monotone so
    // the fold is MAX per (lang, column), and the ratios derive from
    // the folded sums through the SHARED fertilityRatios expressions.
    // Faces q229's own oracle SQL row-for-row.
    "q232_streaming_fertility" -> ((s, dir) => {
      import s.implicits._
      val feed = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("_1"),
          col("lang").as("_2"), col("text").as("_3"))
        .as[(Long, String, String)]
      val raw = replay(s, feed, Seq(col("_1")))(
        ds => graft.streaming.EventStreams.streamingFertilityCounts(
          ds.toDF("doc_id", "lang", "text"), "lang", "text"),
        mode = org.apache.spark.sql.streaming.OutputMode.Update())
      val folded = raw
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .groupBy(_._1).view
        .mapValues(vs => (vs.map(_._2._1).max, vs.map(_._2._2).max,
          vs.map(_._2._3).max, vs.map(_._2._4).max))
        .toSeq.map { case (l, (d, t0, b, c)) => (l, d, t0, b, c) }
      graft.ext.TextAnalysis.fertilityRatios(
          folded.toDF("lang", "n_docs", "n_tokens", "n_bpe_tokens",
            "n_chars"))
        .orderBy("lang")
    }),

    // The TWENTY-EIGHTH streaming twin: FIM at ingest — the batch
    // transform is a pure per-row projection, so the streaming
    // operator IS fimTransform verbatim (the q216 convention); the
    // twin pins that the plan is Append-legal and the instance list
    // identical. Faces q227's own oracle SQL row-for-row.
    "q228_streaming_fim" -> ((s, dir) => {
      import s.implicits._
      val raw = replayDocs(s,
        t(s, dir, "documents").select("doc_id", "text"),
        df => graft.ext.Curation.fimTransform(
          df, "doc_id", "text", seed = "fim1", rate = 0.75),
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      raw.map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getString(4)))
        .toSeq
        .toDF("doc_id", "fim_mode", "prefix", "middle", "suffix")
        .orderBy("doc_id")
    }),

    // The THIRTY-EIGHTH streaming twin: span corruption at ingest —
    // the q228 convention (the batch operator is a pure zero-shuffle
    // per-row projection, so the SAME method streams verbatim;
    // stateless Append, no state store). Faces q252's own oracle SQL
    // row-for-row.
    "q253_streaming_span_corrupt" -> ((s, dir) => {
      import s.implicits._
      val raw = replayDocs(s,
        t(s, dir, "documents").select("doc_id", "text"),
        df => graft.ext.Curation.spanCorrupt(
          df, "doc_id", "text", seed = "sc1", startDenom = 8,
          spanLen = 2),
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      raw.map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3)))
        .toSeq
        .toDF("doc_id", "input_text", "target_text", "n_spans")
        .orderBy("doc_id")
    }),

    // The THIRTY-NINTH streaming twin: online mixture-WEIGHT
    // maintenance — q221's temperature weights kept fresh at ingest:
    // the state is the per-language token-count table (the q232
    // fertility state re-grouped by lang — same withTokenCounts
    // n_tokens definition, ONE Update-mode agg, monotone counts, MAX
    // fold), and the folded counts derive through the SHARED
    // temperatureMixture method (sqrt-chain numerators, exact-fold
    // denominator), so the online weights cannot drift from the
    // batch planner's. Faces q221's own oracle SQL row-for-row.
    "q254_streaming_mixture_weights" -> ((s, dir) => {
      import s.implicits._
      val feed = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("_1"),
          col("lang").as("_2"), col("text").as("_3"))
        .as[(Long, String, String)]
      val raw = replay(s, feed, Seq(col("_1")))(
        ds => graft.streaming.EventStreams.streamingFertilityCounts(
            ds.toDF("doc_id", "lang", "text"), "lang", "text")
          .select(col("lang"), col("n_tokens")),
        mode = org.apache.spark.sql.streaming.OutputMode.Update())
      val folded = raw.map(r => r.getString(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toSeq
        .map { case (g, n) => (g, n) }
      graft.ext.Curation.temperatureMixture(
          folded.toDF("lang", "n_tokens"), "lang", "n_tokens",
          alpha = 0.5)
        .orderBy("lang")
    }),

    // The TWENTY-SEVENTH streaming twin: mixture execution at ingest —
    // q217's UniMax allocation trains once in batch, rides as plan
    // literals, and arriving docs expand stateless into their (doc,
    // epoch) training instances (explode is Append-legal; the
    // fractional-epoch hash is the batch operator's own md5
    // threshold). Exactly-once per doc, fold = plain collect. Faces
    // q225's own oracle SQL row-for-row.
    "q226_streaming_mixture" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val alloc = graft.ext.Curation.unimaxAllocationOfTotal(
          graft.ext.TextAnalysis.withTokenCounts(d, "text"),
          "lang", "n_tokens", epochCap = 2L, budgetNum = 3L,
          budgetDen = 2L)
        .localCheckpoint(true) // the batch-trained allocation artifact
      val feed = d.select(col("doc_id").cast("long").as("_1"),
          col("lang").as("_2"))
        .as[(Long, String)]
      val raw = replay(s, feed, Seq(col("_1")))(
        ds => graft.streaming.EventStreams.streamingMixtureExecute(
          ds.toDF("doc_id", "lang"), "doc_id", "lang", alloc,
          seed = "um1"),
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      raw.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq
        .toDF("doc_id", "lang", "epoch")
        .orderBy("doc_id", "epoch")
    }),

    // The TWENTY-SIXTH streaming twin: online eval-leakage facts — the
    // decontamination REPORT direction (q223) at ingest time. Corpus
    // docs stream in; each eval item's shingle-hash set rides as a
    // plan literal and the per-(doc, eval) containment facts emit
    // stateless in Append mode; the per-eval rollup (max containment,
    // worst doc, τ count) is the fold's batch decision over the
    // self-contained facts (exactly-once per doc). Faces q223's own
    // oracle SQL row-for-row.
    "q224_streaming_eval_leakage" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val evalT = d.filter(col("doc_id") < 10)
      val raw = replayDocs(s,
        d.filter(col("doc_id") >= 10).select("doc_id", "text"),
        df => graft.streaming.EventStreams.streamingEvalLeakage(
          df, "doc_id", "text",
          evalT.select(col("doc_id").as("eval_id"), col("text")),
          "eval_id", "text", n = 3),
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      val facts = raw.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq // (doc_id, eval_id, containment_e9)
      val spine = evalT.select(col("doc_id").as("eval_id"),
          size(graft.functions.expressions.TextExpressions
            .wordShingles(col("text"), 3)).cast("long")
            .as("n_shingles"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val byEval = facts.groupBy(_._2)
      spine.toSeq.map { case (eid, nsh) =>
          val ps = byEval.getOrElse(eid, Seq.empty)
          val worst: Option[Long] = ps
            .sortWith((a, b) => a._3 > b._3 ||
              (a._3 == b._3 && a._1 < b._1))
            .headOption.map(_._1)
          (eid, nsh,
            if (ps.isEmpty) 0L else ps.map(_._3).max,
            worst,
            ps.count(_._3 >= 300000000L).toLong)
        }
        .toDF("eval_id", "n_shingles", "max_containment_e9",
          "worst_doc_id", "n_docs_over")
        .orderBy("eval_id")
    }),

    // The TWENTY-FIFTH streaming twin: online threshold calibration —
    // the PR-curve sweep (q218) maintained as labeled docs arrive. One
    // Update-mode (score, truth) count aggregation (the stateless
    // per-row score fold + a single agg — two aggs in one streaming
    // query are illegal); counts are MONOTONE so the exactly-once fold
    // is MAX per key, and the sweep itself derives from the folded
    // table through Stats.thresholdSweepCounts — the SAME derivation
    // the batch operator runs, so the twins cannot drift. Faces q218's
    // own oracle SQL row-for-row.
    "q220_streaming_threshold_sweep" -> ((s, dir) => {
      import s.implicits._
      val (m, p) = TextQueries.pinnedModel(s)
      val feed = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("_1"), col("text").as("_2"),
          coalesce(col("lang") === "en", lit(false)).as("_3"))
        .as[(Long, String, Boolean)]
      val raw = replay(s, feed, Seq(col("_1")))(
        ds => graft.streaming.EventStreams.streamingScoreCounts(
          ds.toDF("doc_id", "text", "is_en"), "text", "is_en",
          m, p, label = "en"),
        mode = org.apache.spark.sql.streaming.OutputMode.Update())
      val folded = raw
        .map(r => (r.getLong(0), r.getBoolean(1)) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toSeq
        .map { case ((t9, pos), n) => (t9, pos, n) }
      graft.ext.Stats.thresholdSweepCounts(
          folded.toDF("threshold_e9", "is_pos", "n"),
          "threshold_e9", "is_pos", "n")
        .orderBy(col("threshold_e9").desc)
    }),

    // The TWENTY-THIRD streaming twin: the online repetition-quality
    // gate — the Gopher repetition rules at ingest. Stateless per-row
    // array ops end to end (the n-gram fractions are the batch
    // operator's own shared code; the top-word share re-expresses the
    // batch groupBy as a bounded per-row HOF fold). Faces q213's own
    // oracle SQL row-for-row.
    "q214_streaming_repetition" -> ((s, dir) => {
      import s.implicits._
      val raw = replayDocs(s,
        t(s, dir, "documents").select("doc_id", "text"),
        df => graft.streaming.EventStreams.streamingRepetitionGate(
          df, "doc_id", "text"),
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      raw.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4)))
        .toSeq
        .toDF("doc_id", "n_tokens", "dup_bigram_frac",
          "dup_trigram_frac", "top_word_frac")
        .orderBy("doc_id")
    }),

    // CUSUM changepoint statistic per type over the daily series, in
    // the DRAWDOWN form S_i = cum_i − min_{j≤i} cum_j (equivalent to
    // the recursive max(0, S+dev) but expressible as exact window ops:
    // integer running sum − rownum·mean keeps every float op a single
    // mirrored IEEE expression — no order-dependent float summation,
    // so the doubles hash-match). Shift flag vs 3σ from exact long
    // moments (the q113 device).
    "q144_cusum" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .select(col("event_type"), GraftSession.tsMicros(ev).as("tn"))
        .selectExpr("event_type", "tn div 86400000000 as day")
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val stats = daily.groupBy("event_type").agg(
        count(lit(1)).as("cnt"), sum(col("n")).as("sx"),
        sum(col("n") * col("n")).as("sxx"))
      val wRun = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wOrd = Window.partitionBy("event_type").orderBy("day")
      daily.join(broadcast(stats), "event_type")
        .withColumn("mean",
          col("sx").cast("double") / col("cnt").cast("double"))
        .withColumn("cum_dev",
          sum(col("n")).over(wRun).cast("double") -
            row_number().over(wOrd).cast("double") * col("mean"))
        .withColumn("cusum",
          col("cum_dev") - min(col("cum_dev")).over(wRun))
        .withColumn("sigma",
          sqrt((col("cnt") * col("sxx") - col("sx") * col("sx"))
            .cast("double")) / col("cnt").cast("double"))
        .select(col("event_type"), col("day"), col("n"), col("cum_dev"),
          col("cusum"),
          (col("cusum") > lit(3d) * col("sigma")).cast("int")
            .as("is_shift"))
        .orderBy("event_type", "day")
    }),

    // Bloom-prefiltered selective enrichment: events joined to the
    // ~0.5% "VIP" user dim — ext/Skew.bloomPrefilteredJoin drops
    // non-VIP events MAP-SIDE (codegen bloom probe on the scan), so
    // only matching rows ever shuffle; false positives die in the
    // join, making the result exactly the plain join (the oracle).
    "q145_bloom_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val dim = ev.filter(col("user_id") % 199 === 0)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
      graft.ext.Skew.bloomPrefilteredJoin(
          ev.select("event_id", "user_id"), dim, Seq("user_id"))
        .select("event_id", "user_id", "n_events")
        .orderBy("event_id")
    }),

    // Weighted PageRank over the event-type transition graph (q110's
    // edge list as link weights) — ext/Graph power iteration in
    // exact-fold mode: per-target contributions fold ascending by
    // source, so all 10 iterations of float arithmetic are
    // bit-reproducible against the oracle's unrolled-CTE mirror.
    "q140_pagerank" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val paired = ev
        .select(col("user_id"), col("event_id"), col("event_type"),
          GraftSession.tsMicros(ev).as("ts_us"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
      val edges = paired
        .groupBy(col("event_type").as("src"), col("to_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.ext.Graph.pageRank(edges, "src", "dst", Some("w"),
          damping = 0.85, iters = 10, exactFold = true)
        .select(col("id").as("node"), col("rank").as("pagerank"))
        .orderBy("node")
    }),

    // Time-series regularization: the per-type daily series on a 1%
    // hash sample (real gaps), re-gridded onto the full day spine and
    // gap-filled by LOCF. Spine = |types| × days rows born map-side
    // from one 1-row min/max broadcast (the q85 idiom); the fill is
    // last-non-null over one per-type window — one key shuffle total,
    // never a per-gap join.
    "q138_gap_fill" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .select(col("event_type"), col("event_id"),
          GraftSession.tsMicros(ev).as("tn"))
        .filter(graft.ext.Curation.hashU32("gf1", col("event_id")) <
          lit(42949672L))
        .selectExpr("event_type", "tn div 86400000000 as day")
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val bounds = daily.agg(min(col("day")).as("d0"),
        max(col("day")).as("d1"))
      val spine = daily.select("event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy("event_type").orderBy("day")
      spine.join(daily, Seq("event_type", "day"), "left")
        .withColumn("n_filled",
          coalesce(last(col("n"), ignoreNulls = true).over(w), lit(0L)))
        .withColumn("is_gap", col("n").isNull.cast("int"))
        .select("event_type", "day", "n_filled", "is_gap")
        .orderBy("event_type", "day")
    }))

  private val oracleSqlBase: Map[String, String] = Map(
    // q124: the same lag change-detect → filter → lead stitch chain;
    // BOTH window passes order by (tn, event_id) — one window's output
    // feeding a second window needs the full unique sort key in each
    // pass (the q94 lesson) or DuckDB may split ties differently.
    "q124_scd2_history" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS tn FROM events),
        |c AS (SELECT user_id, event_id, event_type, tn,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY tn, event_id) AS prev
        |  FROM e),
        |k AS (SELECT user_id, event_id, event_type, tn FROM c
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY tn, event_id) AS BIGINT) AS version_seq,
        |  tn AS valid_from,
        |  lead(tn) OVER (PARTITION BY user_id
        |    ORDER BY tn, event_id) AS valid_to
        |FROM k ORDER BY user_id, version_seq""".stripMargin,
    // q132: relational latest-click-per-purchase within the gap — the
    // ground truth the stream-stream join + last-touch fold must hit
    "q132_streaming_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  epoch_us(ts) AS tn FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, tn FROM e
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, tn FROM e
        |  WHERE event_type = 'click'),
        |j AS (SELECT p.purchase_id, p.user_id, p.tn AS purchase_us,
        |    c.tn AS click_us, c.click_id
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.tn <= p.tn AND c.tn >= p.tn - 3600000000),
        |r AS (SELECT *, row_number() OVER (PARTITION BY purchase_id
        |    ORDER BY click_us DESC, click_id DESC) AS rn FROM j)
        |SELECT purchase_id, user_id, purchase_us, click_us, click_id
        |FROM r WHERE rn = 1 ORDER BY purchase_id""".stripMargin,
    // q131: direct windowed conditional sums — epoch-micros floor-div
    // day buckets match Spark's epoch-aligned window(); one wide
    // aggregate pivoted long by a literal check-name cross join
    "q131_streaming_quality" ->
      """WITH e AS (SELECT epoch_us(ts) AS tn, event_type, value
        |  FROM events),
        |w AS (SELECT tn // 86400000000 * 86400000000 AS ws,
        |  event_type, value FROM e),
        |a AS (SELECT ws, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN value IS NOT NULL AND NOT
        |    (value >= 0.0 AND value <= 250.0) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v_range,
        |  CAST(SUM(CASE WHEN event_type IS NOT NULL AND event_type
        |    NOT IN ('view', 'click', 'purchase', 'signup')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v_set,
        |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v_null
        |  FROM w GROUP BY 1)
        |SELECT a.ws AS window_start, a.ws + 86400000000 AS window_end,
        |  c.check_name, a.n_rows,
        |  CASE c.check_name
        |    WHEN 'in_range(value,0.0,250.0)' THEN v_range
        |    WHEN 'in_set(event_type:view,click,purchase,signup)'
        |      THEN v_set
        |    ELSE v_null END AS n_violations
        |FROM a CROSS JOIN (SELECT unnest(['in_range(value,0.0,250.0)',
        |  'in_set(event_type:view,click,purchase,signup)',
        |  'not_null(value)']) AS check_name) c
        |ORDER BY window_start, check_name""".stripMargin,
    // q126: identical SCD2 CTE chain as q124, zero-length versions
    // dropped, then DuckDB's NATIVE ASOF JOIN does the point-in-time
    // lookup the Spark side evaluates with the union-tag window plan
    "q126_state_runs" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS tn FROM events),
        |c AS (SELECT user_id, event_id, event_type, tn,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY tn, event_id) AS prev
        |  FROM e),
        |k AS (SELECT user_id, event_id, event_type, tn FROM c
        |  WHERE prev IS NULL OR prev <> event_type),
        |h AS (SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY tn, event_id) AS BIGINT) AS version_seq,
        |  tn AS valid_from,
        |  lead(tn) OVER (PARTITION BY user_id
        |    ORDER BY tn, event_id) AS valid_to
        |FROM k),
        |live AS (SELECT * FROM h
        |  WHERE valid_to IS NULL OR valid_to <> valid_from),
        |enr AS (SELECT e.user_id, e.event_id, l.version_seq
        |  FROM e ASOF JOIN live l
        |  ON e.user_id = l.user_id AND e.tn >= l.valid_from),
        |runs AS (SELECT user_id, version_seq, COUNT(*) AS run_events
        |  FROM enr GROUP BY 1, 2)
        |SELECT run_events, COUNT(*) AS n_runs
        |FROM runs GROUP BY 1 ORDER BY run_events""".stripMargin,
    // q128: q124's SCD2 chain + two as-of snapshot filters + FULL
    // OUTER JOIN classification; integer thirds arithmetic mirrored
    // exactly ( // is DuckDB integer division); NULLS FIRST pins the
    // added/removed rows' sort slots to Spark's asc default
    "q128_snapshot_diff" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS tn FROM events),
        |b AS (SELECT MIN(tn) AS mn, MAX(tn) AS mx FROM e),
        |c AS (SELECT user_id, event_id, event_type, tn,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY tn, event_id) AS prev
        |  FROM e),
        |k AS (SELECT user_id, event_id, event_type, tn FROM c
        |  WHERE prev IS NULL OR prev <> event_type),
        |h AS (SELECT user_id, event_type, tn AS valid_from,
        |  lead(tn) OVER (PARTITION BY user_id
        |    ORDER BY tn, event_id) AS valid_to
        |FROM k),
        |s1 AS (SELECT user_id, event_type FROM h, b
        |  WHERE valid_from <= mn + (mx - mn) // 3
        |    AND (valid_to IS NULL OR valid_to > mn + (mx - mn) // 3)),
        |s2 AS (SELECT user_id, event_type FROM h, b
        |  WHERE valid_from <= mn + 2 * ((mx - mn) // 3)
        |    AND (valid_to IS NULL OR valid_to > mn + 2 * ((mx - mn) // 3))),
        |d AS (SELECT
        |  CASE WHEN s1.user_id IS NULL THEN 'added'
        |       WHEN s2.user_id IS NULL THEN 'removed'
        |       WHEN s1.event_type IS DISTINCT FROM s2.event_type
        |         THEN 'changed'
        |       ELSE 'unchanged' END AS change_type,
        |  s1.event_type AS old_event_type,
        |  s2.event_type AS new_event_type
        |  FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id)
        |SELECT change_type, old_event_type, new_event_type,
        |  COUNT(*) AS n_keys
        |FROM d GROUP BY 1, 2, 3
        |ORDER BY change_type, old_event_type NULLS FIRST,
        |  new_event_type NULLS FIRST""".stripMargin,
    // q125: the oracle derives the same counts RELATIONALLY (distinct
    // session-type set + self-join on the session) — an independent
    // formulation of the combination-explode plan; lift division
    // mirrored on exact longs.
    "q125_session_lift" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS tn FROM events),
        |g AS (SELECT user_id, event_id, event_type, tn,
        |  CASE WHEN tn - lag(tn) OVER (PARTITION BY user_id
        |    ORDER BY tn, event_id) > 28800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (SELECT user_id, event_type,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY tn, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM g),
        |st AS (SELECT DISTINCT user_id, session_seq, event_type FROM s),
        |n AS (SELECT COUNT(*) AS n_sessions FROM
        |  (SELECT DISTINCT user_id, session_seq FROM st)),
        |si AS (SELECT event_type, COUNT(*) AS c FROM st GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS c_ab
        |  FROM st a JOIN st b ON a.user_id = b.user_id
        |    AND a.session_seq = b.session_seq
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.c_ab, sa.c AS c_a, sb.c AS c_b,
        |  CAST(n.n_sessions * p.c_ab AS DOUBLE) /
        |    CAST(sa.c * sb.c AS DOUBLE) AS lift
        |FROM p
        |JOIN si sa ON sa.event_type = p.type_a
        |JOIN si sb ON sb.event_type = p.type_b
        |CROSS JOIN n
        |ORDER BY type_a, type_b""".stripMargin,
    "q79_rolling_window" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |  CAST(o_totalprice AS DECIMAL(18,2)) AS p,
        |  CAST(o_orderdate AS DATE) - DATE '1990-01-01' AS d FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  CAST(SUM(p) OVER win AS DOUBLE) AS rolling_revenue,
        |  COUNT(*) OVER win AS rolling_orders
        |FROM o
        |WINDOW win AS (PARTITION BY o_custkey ORDER BY d
        |               RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "q49_cube" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "q50_window_ranks" ->
      """SELECT o_orderkey, o_orderpriority,
        | CAST(rank() OVER w AS BIGINT) AS rk,
        | CAST(dense_rank() OVER w AS BIGINT) AS drk,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | percent_rank() OVER w AS pr,
        | cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice ASC, o_orderkey ASC)
        |ORDER BY o_orderkey""".stripMargin,
    "q51_above_segment_avg" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
        |  (SELECT COUNT(*) FROM customer c2
        |   WHERE c2.c_mktsegment = c.c_mktsegment)
        |  > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer c2
        |     WHERE c2.c_mktsegment = c.c_mktsegment)
        |ORDER BY c_custkey""".stripMargin,
    "q52_latest_per_key" ->
      """SELECT user_id, event_id AS last_event_id, event_type FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,
    "q53_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tn FROM events),
        |g AS (SELECT user_id, event_id, tn,
        |  CASE WHEN tn - lag(tn) OVER (PARTITION BY user_id
        |    ORDER BY tn, event_id) > 28800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (SELECT user_id, tn,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY tn, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM g)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        | MIN(tn) AS start_us, MAX(tn) AS end_us
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin,
    // q107: the staged MIN chain replayed in SQL — each step joins the
    // previous stage and takes the earliest strictly-later event.
    // step_reached as a sum of non-null flags == the Spark fold.
    "q107_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tn FROM events),
        |s1 AS (SELECT user_id, MIN(tn) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.tn) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.tn > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.tn) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.tn > s2.t2 GROUP BY 1)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
        |  CAST((s1.t1 IS NOT NULL)::INT + (s2.t2 IS NOT NULL)::INT
        |     + (s3.t3 IS NOT NULL)::INT AS INTEGER) AS step_reached
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // q121: the streaming state machine vs q107's staged ground truth —
    // third independent implementation (staged SQL, batch single-pass
    // q115, online q121), one oracle
    "q121_streaming_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tn FROM events),
        |s1 AS (SELECT user_id, MIN(tn) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.tn) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.tn > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.tn) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.tn > s2.t2 GROUP BY 1)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
        |  CAST((s1.t1 IS NOT NULL)::INT + (s2.t2 IS NOT NULL)::INT
        |     + (s3.t3 IS NOT NULL)::INT AS INTEGER) AS step_reached
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // q108: the same three-stage shape — distinct pairs, per-user window
    // min, (cohort, offset) roll-up, retention via the offset-0 peer.
    "q108_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS b FROM events),
        |d AS (SELECT DISTINCT user_id, b FROM e),
        |c AS (SELECT user_id, b, MIN(b) OVER (PARTITION BY user_id) AS cohort FROM d),
        |m AS (SELECT cohort, b - cohort AS bucket_offset, COUNT(*) AS n_users
        |      FROM c GROUP BY 1, 2)
        |SELECT cohort, bucket_offset, n_users,
        |  CAST(n_users AS DOUBLE) /
        |  CAST(MAX(CASE WHEN bucket_offset = 0 THEN n_users END)
        |       OVER (PARTITION BY cohort) AS DOUBLE) AS retention
        |FROM m ORDER BY cohort, bucket_offset""".stripMargin,
    // q119: the streaming twin faces q108's ground truth — the
    // stateful per-user cohort machine vs the window SQL, one oracle
    "q119_streaming_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS b FROM events),
        |d AS (SELECT DISTINCT user_id, b FROM e),
        |c AS (SELECT user_id, b, MIN(b) OVER (PARTITION BY user_id) AS cohort FROM d),
        |m AS (SELECT cohort, b - cohort AS bucket_offset, COUNT(*) AS n_users
        |      FROM c GROUP BY 1, 2)
        |SELECT cohort, bucket_offset, n_users,
        |  CAST(n_users AS DOUBLE) /
        |  CAST(MAX(CASE WHEN bucket_offset = 0 THEN n_users END)
        |       OVER (PARTITION BY cohort) AS DOUBLE) AS retention
        |FROM m ORDER BY cohort, bucket_offset""".stripMargin,
    // q109: the same fan-out — each distinct (user, day) pair supports
    // the 7 window-ends d..d+6; exact distinct count per window-end.
    "q109_rolling_active" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS b FROM events),
        |d AS (SELECT DISTINCT user_id, b FROM e),
        |x AS (SELECT user_id, b + o.o AS bucket
        |      FROM d, (SELECT UNNEST(range(0, 7)) AS o) o)
        |SELECT bucket, COUNT(DISTINCT user_id) AS active_users
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    // q110: the identical lead-pair + roll-up, probability from the
    // same exact long counts
    "q110_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS tn FROM events),
        |n AS (SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY tn, event_id) AS to_type FROM e),
        |m AS (SELECT from_type, to_type, COUNT(*) AS n_transitions
        |      FROM n WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_transitions,
        |  CAST(n_transitions AS DOUBLE) /
        |  CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)
        |    AS p
        |FROM m ORDER BY from_type, to_type""".stripMargin,
    // q118: the streaming twin faces the IDENTICAL ground truth as
    // q110 — two independent implementations (batch window vs
    // micro-batch state machine), one oracle
    "q118_streaming_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS tn FROM events),
        |n AS (SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY tn, event_id) AS to_type FROM e),
        |m AS (SELECT from_type, to_type, COUNT(*) AS n_transitions
        |      FROM n WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_transitions,
        |  CAST(n_transitions AS DOUBLE) /
        |  CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)
        |    AS p
        |FROM m ORDER BY from_type, to_type""".stripMargin,
    // q122: the same lead window, two steps ahead
    "q122_path_trigrams" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS tn FROM events),
        |n AS (SELECT event_type AS step1,
        |  lead(event_type, 1) OVER w AS step2,
        |  lead(event_type, 2) OVER w AS step3 FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tn, event_id))
        |SELECT step1, step2, step3, COUNT(*) AS n_paths
        |FROM n WHERE step3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY step1, step2, step3""".stripMargin,
    // q116: q53's session CTE chain + the size rollup; mean division
    // mirrored on exact longs
    "q116_session_stats" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tn FROM events),
        |g AS (SELECT user_id, event_id, tn,
        |  CASE WHEN tn - lag(tn) OVER (PARTITION BY user_id
        |    ORDER BY tn, event_id) > 28800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (SELECT user_id, tn,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY tn, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM g),
        |sess AS (SELECT user_id, session_seq, COUNT(*) AS n_events,
        |  MAX(tn) - MIN(tn) AS dur FROM s GROUP BY 1, 2)
        |SELECT n_events, COUNT(*) AS n_sessions,
        |  CAST(SUM(dur) AS BIGINT) AS total_duration_us,
        |  CAST(SUM(dur) AS DOUBLE) / COUNT(*) AS mean_duration_us
        |FROM sess GROUP BY 1 ORDER BY n_events""".stripMargin,
    // q117: q107's staged MIN chain, completers only, q111's integer
    // log2 bucket over the end-to-end latency
    "q117_time_to_convert" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tn FROM events),
        |s1 AS (SELECT user_id, MIN(tn) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.tn) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.tn > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.tn) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.tn > s2.t2 GROUP BY 1)
        |SELECT CAST(length(bin(s3.t3 - s1.t1)) AS BIGINT) AS latency_bucket,
        |  COUNT(*) AS n_users
        |FROM s3 JOIN s1 USING (user_id)
        |GROUP BY 1 ORDER BY latency_bucket""".stripMargin,
    // q113: the identical long-sum → double-derivation tree — operand
    // order mirrored expression by expression
    "q113_burst_zscore" ->
      """WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |  COUNT(*) AS n FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, bucket, n,
        |  SUM(n) OVER w AS sn, SUM(n*n) OVER w AS sq, COUNT(*) OVER w AS c
        |  FROM c WINDOW w AS (PARTITION BY event_type))
        |SELECT event_type, bucket, n,
        |  CASE WHEN greatest(CAST(sq AS DOUBLE)/c -
        |         (CAST(sn AS DOUBLE)/c)*(CAST(sn AS DOUBLE)/c), 0.0) > 0
        |    THEN (CAST(n AS DOUBLE) - CAST(sn AS DOUBLE)/c) /
        |      sqrt(greatest(CAST(sq AS DOUBLE)/c -
        |        (CAST(sn AS DOUBLE)/c)*(CAST(sn AS DOUBLE)/c), 0.0))
        |    ELSE 0.0 END AS z
        |FROM s ORDER BY event_type, bucket""".stripMargin,
    // q111: integer log2 bucket via length(bin(gap)) on both engines —
    // no float log anywhere
    "q111_interevent_hist" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS tn FROM events),
        |g AS (SELECT event_type,
        |  tn - lag(tn) OVER (PARTITION BY user_id
        |    ORDER BY tn, event_id) AS gap FROM e)
        |SELECT event_type, CAST(length(bin(gap)) AS BIGINT) AS gap_bucket,
        |  COUNT(*) AS n
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY 1, 2 ORDER BY event_type, gap_bucket""".stripMargin,
    "q54_array_agg" ->
      """SELECT o_orderpriority,
        | array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q55_dim_centroid" ->
      """SELECT label, CAST(i - 1 AS BIGINT) AS pos,
        | CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e7 + 0.5)
        |           AS BIGINT)) AS DOUBLE)
        |   / (COUNT(*) * 1e7) AS centroid
        |FROM embeddings, unnest(generate_series(1, len(embedding))) u(i)
        |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin,
    // q151: q107's staged CTEs rolled to survivor counts, Wilson
    // bounds as the IDENTICAL IEEE expression trees (1.96*1.96 folded
    // engine-side in both — a pre-folded 3.8416 literal would be a
    // DIFFERENT double, the q140 lesson)
    "q151_funnel_wilson" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tn FROM events),
        |s1 AS (SELECT user_id, MIN(tn) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.tn) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.tn > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.tn) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.tn > s2.t2 GROUP BY 1),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n3
        |  FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)),
        |t AS (SELECT '1_view->click' AS step, n1 AS n, n2 AS k FROM c
        |      UNION ALL SELECT '2_click->purchase', n2, n3 FROM c),
        |x AS (SELECT step, n, k, CAST(n AS DOUBLE) AS nd,
        |    CAST(k AS DOUBLE)/CAST(n AS DOUBLE) AS p FROM t)
        |SELECT step, n, k, p,
        |  (p + (1.96*1.96)/(2.0*nd))/(1.0 + (1.96*1.96)/nd)
        |  - 1.96 * SQRT(p*(1.0-p)/nd + (1.96*1.96)/(4.0*nd*nd))/(1.0 + (1.96*1.96)/nd)
        |    AS wilson_low,
        |  (p + (1.96*1.96)/(2.0*nd))/(1.0 + (1.96*1.96)/nd)
        |  + 1.96 * SQRT(p*(1.0-p)/nd + (1.96*1.96)/(4.0*nd*nd))/(1.0 + (1.96*1.96)/nd)
        |    AS wilson_high
        |FROM x ORDER BY step""".stripMargin,
    // q163: the relational mirror of the streamed correlation state —
    // day windows epoch-aligned (the q131 device), integer moment
    // sums, then corrFinish's exact double expression term for term
    "q163_streaming_corr" ->
      """WITH v AS (SELECT
        |    epoch_us(ts) // 86400000000 * 86400000000 AS ws,
        |    event_type,
        |    (epoch_us(ts) % 86400000000) // 1000000 AS x,
        |    CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |st AS (SELECT ws, event_type, COUNT(*) AS n_rows,
        |    CAST(SUM(x) AS BIGINT) AS sum_x,
        |    CAST(SUM(y) AS BIGINT) AS sum_y,
        |    CAST(SUM(x*x) AS BIGINT) AS sum_xx,
        |    CAST(SUM(y*y) AS BIGINT) AS sum_yy,
        |    CAST(SUM(x*y) AS BIGINT) AS sum_xy
        |  FROM v GROUP BY 1, 2),
        |d AS (SELECT ws, event_type, n_rows, sum_xy,
        |    CAST(n_rows AS DOUBLE) AS n, CAST(sum_x AS DOUBLE) AS sx,
        |    CAST(sum_y AS DOUBLE) AS sy, CAST(sum_xx AS DOUBLE) AS sxx,
        |    CAST(sum_yy AS DOUBLE) AS syy, CAST(sum_xy AS DOUBLE) AS sxy
        |  FROM st)
        |SELECT ws AS window_start, event_type, n_rows, sum_xy,
        |  sx / n AS mean_x, sy / n AS mean_y,
        |  CASE WHEN n_rows >= 2 AND (n * sxx - sx * sx) > 0
        |            AND (n * syy - sy * sy) > 0
        |    THEN (n * sxy - sx * sy)
        |      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END
        |    AS pearson_r,
        |  CASE WHEN n_rows >= 2 AND (n * sxx - sx * sx) > 0
        |    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope
        |FROM d ORDER BY window_start, event_type""".stripMargin,
    // q152: the relational mirror of the streamed histogram + rank
    // selection — day windows epoch-aligned (the q131 device), rank
    // arithmetic integral (the q149 device)
    "q152_streaming_percentiles" ->
      """WITH v AS (SELECT
        |    epoch_us(ts) // 86400000000 * 86400000000 AS ws,
        |    event_type, CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS cent
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT ws, event_type, cent, COUNT(*) AS c
        |  FROM v GROUP BY 1, 2, 3),
        |w AS (SELECT ws, event_type, cent, SUM(c) OVER (
        |  PARTITION BY ws, event_type ORDER BY cent
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h),
        |n AS (SELECT ws, event_type, COUNT(*) AS n FROM v GROUP BY 1, 2)
        |SELECT w.ws AS window_start, w.event_type,
        |  MIN(CASE WHEN cum >= (n.n + 1) // 2 THEN cent END) AS p50_cents,
        |  MIN(CASE WHEN cum >= (9*n.n + 9) // 10 THEN cent END) AS p90_cents,
        |  MIN(CASE WHEN cum >= (99*n.n + 99) // 100 THEN cent END) AS p99_cents,
        |  MAX(n.n) AS n_values
        |FROM w JOIN n USING (ws, event_type)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q136's ground truth IS the plain (unsalted) join — result
    // identity is the whole claim of the salted rewrite
    "q136_salted_enrich" ->
      """WITH c AS (SELECT event_type, COUNT(*) AS type_count
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, c.type_count
        |FROM events e JOIN c USING (event_type)
        |ORDER BY event_id""".stripMargin,
    // exact-in-IEEE robust stats: integer daily counts, quantile_cont
    // medians land on the half grid, abs/3· stay exact
    "q137_mad_anomaly" ->
      """WITH d AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, quantile_cont(n, 0.5) AS med
        |  FROM d GROUP BY 1),
        |dev AS (SELECT d.event_type, d.day, d.n, m.med,
        |    abs(d.n - m.med) AS dev
        |  FROM d JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT dev.event_type, dev.day, dev.n, dev.med, md.mad,
        |  CASE WHEN dev.dev > 3*md.mad THEN 1 ELSE 0 END AS is_anomaly
        |FROM dev JOIN md USING (event_type)
        |ORDER BY event_type, day""".stripMargin,
    // every float op a single mirrored IEEE expression (the window
    // SUM stays in integers; only the final cast/multiply/subtract
    // are float) — segment-tree vs incremental window internals
    // cannot differ on integer sums
    "q144_cusum" ->
      """WITH d AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, COUNT(*) AS cnt, SUM(n) AS sx,
        |    SUM(n*n) AS sxx FROM d GROUP BY 1),
        |j AS (SELECT d.event_type, d.day, d.n, st.cnt, st.sx, st.sxx,
        |    CAST(st.sx AS DOUBLE)/CAST(st.cnt AS DOUBLE) AS mean
        |  FROM d JOIN st USING (event_type)),
        |wi AS (SELECT event_type, day, n, cnt, sx, sxx,
        |    CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DOUBLE)
        |    - CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY day) AS DOUBLE) * mean AS cum_dev
        |  FROM j),
        |c AS (SELECT event_type, day, n, cum_dev,
        |    cum_dev - MIN(cum_dev) OVER (PARTITION BY event_type
        |      ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cusum,
        |    SQRT(CAST(cnt*sxx - sx*sx AS DOUBLE))/CAST(cnt AS DOUBLE)
        |      AS sigma
        |  FROM wi)
        |SELECT event_type, day, n, cum_dev, cusum,
        |  CASE WHEN cusum > 3*sigma THEN 1 ELSE 0 END AS is_shift
        |FROM c ORDER BY event_type, day""".stripMargin,
    // q145's ground truth IS the plain join — the bloom prefilter must
    // be invisible in the result
    "q145_bloom_join" ->
      """WITH dim AS (SELECT user_id, COUNT(*) AS n_events
        |  FROM events WHERE user_id % 199 = 0 GROUP BY 1)
        |SELECT e.event_id, e.user_id, dim.n_events
        |FROM events e JOIN dim USING (user_id)
        |ORDER BY event_id""".stripMargin,
    // independent LOCF formulation: correlated latest-day-with-data
    // subquery per spine cell (the operator uses a single window pass —
    // different machinery, same fill)
    "q138_gap_fill" ->
      """WITH d AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n
        |  FROM events
        |  WHERE CAST(concat('0x', substr(md5(concat('gf1','#',CAST(event_id AS VARCHAR))),1,8)) AS BIGINT) < 42949672
        |  GROUP BY 1, 2),
        |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM d),
        |s AS (SELECT t.event_type, u.day
        |  FROM (SELECT DISTINCT event_type FROM d) t, b,
        |       unnest(generate_series(b.d0, b.d1)) u(day))
        |SELECT s.event_type, s.day,
        |  COALESCE((SELECT dd.n FROM d dd
        |    WHERE dd.event_type = s.event_type AND dd.day <= s.day
        |    ORDER BY dd.day DESC LIMIT 1), 0) AS n_filled,
        |  CASE WHEN ex.n IS NULL THEN 1 ELSE 0 END AS is_gap
        |FROM s LEFT JOIN d ex
        |  ON s.event_type = ex.event_type AND s.day = ex.day
        |ORDER BY s.event_type, s.day""".stripMargin)

  /** q140's oracle: 10 power iterations UNROLLED as chained CTEs (a
    * recursive CTE cannot aggregate in its recursive member), each one
    * folding per-target contributions via the order-preserving
    * `list(… ORDER BY src)` + `list_sum(list_transform(…))` device —
    * the same fold order as the Spark side's sort_array + aggregate,
    * so ten rounds of float arithmetic stay bit-identical. */
  private def pageRankOracle(iters: Int): String = {
    val head =
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS tn FROM events),
        |nx AS (SELECT event_type AS src, lead(event_type) OVER
        |  (PARTITION BY user_id ORDER BY tn, event_id) AS dst FROM e),
        |ed AS (SELECT src, dst, COUNT(*) AS w FROM nx
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |outw AS (SELECT src, SUM(w) AS wout FROM ed GROUP BY 1),
        |en AS (SELECT ed.src, ed.dst,
        |  CAST(ed.w AS DOUBLE)/CAST(outw.wout AS DOUBLE) AS p
        |  FROM ed JOIN outw USING (src)),
        |nodes AS (SELECT DISTINCT v FROM
        |  (SELECT src AS v FROM ed UNION ALL SELECT dst FROM ed)),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        |p0 AS (SELECT v, 1.0/nn.n AS r FROM nodes CROSS JOIN nn)"""
        .stripMargin
    val rounds = (1 to iters).map { i =>
      s""",
         |c$i AS (SELECT en.dst AS v, list_sum(list_transform(
         |  list(p${i - 1}.r * en.p ORDER BY en.src), x -> x)) AS s
         |  FROM en JOIN p${i - 1} ON en.src = p${i - 1}.v
         |  GROUP BY en.dst),
         |p$i AS (SELECT nodes.v,
         |  (1.0 - 0.85)/nn.n + 0.85 * COALESCE(c$i.s, 0.0) AS r
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN c$i ON nodes.v = c$i.v)""".stripMargin
    }.mkString
    head + rounds +
      s"\nSELECT v AS node, r AS pagerank FROM p$iters ORDER BY node"
  }

  /** q165's peel, the q159 recursive-CTE device on the heavy-usage
    * bipartite graph: the edge list is the batch GROUP BY ... HAVING
    * the stream maintains online; the peel carries the removed-vertex
    * list through monotone recursion, caps at 12 rounds (this graph's
    * depth is ≤4 — 12 leaves loud margin) and asserts the last two
    * rounds agree so an under-peeled core can never pass silently. */
  private val streamingKcoreSql: String =
    """WITH RECURSIVE e AS (
      |  SELECT 'u:' || CAST(user_id AS VARCHAR) AS u,
      |         't:' || event_type AS v
      |  FROM events GROUP BY user_id, event_type HAVING COUNT(*) >= 15),
      |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      |peel(it, removed) AS (
      |  SELECT 0, CAST([] AS VARCHAR[])
      |  UNION ALL
      |  SELECT it + 1, removed || (
      |    SELECT COALESCE(list(u ORDER BY u), CAST([] AS VARCHAR[]))
      |    FROM (SELECT s.u FROM sym s
      |          WHERE NOT list_contains(p.removed, s.u)
      |            AND NOT list_contains(p.removed, s.v)
      |          GROUP BY s.u HAVING COUNT(*) < 2))
      |  FROM peel p WHERE it < 12),
      |fix AS (SELECT CASE WHEN
      |    (SELECT removed FROM peel WHERE it = 12) =
      |    (SELECT removed FROM peel WHERE it = 11)
      |  THEN (SELECT removed FROM peel WHERE it = 12)
      |  ELSE error('q165 oracle: peel not at fixpoint after 12 rounds')
      |  END AS removed)
      |SELECT s.u AS vertex, COUNT(*) AS degree
      |FROM sym s, fix r
      |WHERE NOT list_contains(r.removed, s.u)
      |  AND NOT list_contains(r.removed, s.v)
      |GROUP BY s.u ORDER BY vertex""".stripMargin

  /** q115 is funnelSinglePass against q107's OWN ground truth — one
    * SQL text, two independent Spark implementations checked. */
  /** q175's batch ground truth: the q169 frequency chain (same shared
    * reconstruction CTE) with per-doc DISTINCT lines — exactly what the
    * streaming aggregation maintains online. */
  private def streamingBoilerplateSql: String =
    TextQueries.rebuiltSqlCte(4) +
      """,
        |lines AS (SELECT DISTINCT doc_id, l
        |          FROM rebuilt, unnest(string_split(text, chr(10))) u(l)
        |          WHERE length(l) > 0)
        |SELECT l AS line, COUNT(*) AS n_docs
        |FROM lines GROUP BY l HAVING COUNT(*) > 2
        |ORDER BY line""".stripMargin

  /** q182's batch ground truth: the q178 chunk-frequency chain (same
    * shared polynomial-boundary CTE) restricted to its frequency half
    * — exactly the (chunk_h, n_docs >= 2) artifact the streaming
    * aggregation maintains online. */
  private def streamingCdcFreqSql: String =
    TextQueries.cdcSqlCte(8, 32) +
      """,
        |ch AS (SELECT doc_id, c AS chunk
        |  FROM bd, unnest(list_transform(generate_series(1, len(b2) - 1),
        |    i -> t[b2[i]+1 : b2[i+1]])) u(c)
        |  WHERE length(c) > 0)
        |SELECT md5(chunk) AS chunk_h, COUNT(DISTINCT doc_id) AS n_docs
        |FROM ch GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
        |ORDER BY chunk_h""".stripMargin

  val oracleSql: Map[String, String] =
    oracleSqlBase +
      ("q115_funnel_single" -> oracleSqlBase("q107_funnel")) +
      ("q127_streaming_scd2" -> oracleSqlBase("q124_scd2_history")) +
      ("q148_streaming_gap_fill" -> oracleSqlBase("q138_gap_fill")) +
      ("q165_streaming_kcore" -> streamingKcoreSql) +
      ("q175_streaming_boilerplate" -> streamingBoilerplateSql) +
      ("q182_streaming_cdc_freq" -> streamingCdcFreqSql) +
      ("q186_streaming_sessionize" -> oracleSqlBase("q53_sessionize")) +
      ("q190_streaming_source_quota" ->
        TextQueries.oracleSql("q185_source_quota")) +
      // exactly-once output under doubled delivery == the table itself
      ("q192_streaming_ingest_dedup" ->
        """SELECT event_id, user_id, event_type FROM events
          |ORDER BY event_id""".stripMargin) +
      // the plain batch anti-join on content hash, over the same
      // feed (new docs + ten planted re-crawls, which the anti-join
      // removes by definition)
      ("q194_streaming_decontaminate" ->
        """WITH feed AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
          |  UNION ALL
          |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 10)
          |SELECT s.doc_id FROM feed s
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM documents t
          |  WHERE t.doc_id < 250 AND md5(t.text) = md5(s.text))
          |ORDER BY doc_id""".stripMargin) +
      // the online classifier gate must reproduce the batch apply
      // row-for-row — same oracle as q172
      ("q198_streaming_classifier" ->
        TextQueries.oracleSql("q172_classifier_apply")) +
      // online scoring + batch top-k selection must reproduce the
      // batch DSIR row-for-row — same oracle as q173
      ("q199_streaming_dsir" ->
        TextQueries.oracleSql("q173_dsir_select")) +
      // online count maintenance must converge to the batch trainer's
      // exact artifact — same oracle as q196
      ("q200_streaming_nb_counts" ->
        TextQueries.oracleSql("q196_nb_train")) +
      // the online gate must reproduce the batch contamination scan
      // row-for-row — same oracle as q64
      ("q202_streaming_contamination" ->
        CurationQueries.oracleSql("q64_contamination")) +
      // online serving on saved codes must reproduce the batch SQ8
      // train+encode+rank pipeline row-for-row — same oracle as q201
      ("q205_streaming_ann_serve" ->
        VectorQueries.oracleSql("q201_sq8_topk")) +
      // the online repetition gate must reproduce the batch signals
      // row-for-row — same oracle as q213
      ("q214_streaming_repetition" ->
        TextQueries.oracleSql("q213_repetition_signals")) +
      // standardize-at-ingest must reproduce the batch z-scores
      // row-for-row — same oracle as q210
      ("q216_streaming_standardize" ->
        VectorQueries.oracleSql("q210_embed_standardize")) +
      // the online calibration counts, swept through the shared
      // derivation, must reproduce the batch PR-curve row-for-row —
      // same oracle as q218
      ("q220_streaming_threshold_sweep" ->
        TextQueries.oracleSql("q218_threshold_sweep")) +
      // the online leakage facts, rolled up by the fold, must
      // reproduce the batch report row-for-row — same oracle as q223
      ("q224_streaming_eval_leakage" ->
        CurationQueries.oracleSql("q223_eval_leakage")) +
      // the at-ingest epoch expansion must reproduce the batch
      // mixture materialization row-for-row — same oracle as q225
      ("q226_streaming_mixture" ->
        CurationQueries.oracleSql("q225_mixture_execute")) +
      // FIM at ingest is the batch projection verbatim — same oracle
      // as q227
      ("q228_streaming_fim" ->
        CurationQueries.oracleSql("q227_fim_transform")) +
      // the folded online sums, derived through the shared ratio
      // expressions, must reproduce the batch report — same oracle
      // as q229
      ("q232_streaming_fertility" ->
        TextQueries.oracleSql("q229_tokenizer_fertility")) +
      // the folded online confusion matrix, derived through the
      // shared report expressions, must reproduce the batch report —
      // same oracle as q234
      ("q235_streaming_confusion" ->
        TextQueries.oracleSql("q234_classification_report")) +
      // the folded online drift counts, derived through the shared χ²
      // expressions, must reproduce the batch monitor — same oracle
      // as q236
      ("q237_streaming_drift" ->
        StatsQueries.oracleSql("q236_chi2_drift")) +
      // the folded online governance counters, derived through the
      // shared rate expressions, must reproduce the batch report —
      // same oracle as q239
      ("q241_streaming_pii" ->
        TextQueries.oracleSql("q239_pii_prevalence")) +
      // line filtering at ingest is the batch projection verbatim —
      // same oracle as q242
      ("q243_streaming_line_filter" ->
        TextQueries.oracleSql("q242_line_quality_filter")) +
      // the folded online coverage counts, derived through the shared
      // rate expressions, must reproduce the batch diagnostic — same
      // oracle as q244
      ("q245_streaming_oov" ->
        TextQueries.oracleSql("q244_oov_rate")) +
      // online LM-count maintenance must converge to the batch
      // trainer's exact table — same oracle as q246
      ("q247_streaming_kn_counts" ->
        TextQueries.oracleSql("q246_kn_counts")) +
      // the folded online gram counts, derived through the shared
      // ratio expressions, must reproduce the batch diversity monitor
      // — same oracle as q230
      ("q248_streaming_diversity" ->
        TextQueries.oracleSql("q230_distinct_ngrams")) +
      // the online cell-keyed serve must reproduce the batch
      // trained-IVF-SQ8 pipeline row-for-row — same oracle as q209
      ("q251_streaming_ivf_serve" ->
        VectorQueries.oracleSql("q209_ivf_sq8_trained_topk")) +
      // span corruption at ingest is the batch projection verbatim —
      // same oracle as q252
      ("q253_streaming_span_corrupt" ->
        CurationQueries.oracleSql("q252_span_corrupt")) +
      // the folded online token counts, derived through the shared
      // sqrt-chain/exact-fold expressions, must reproduce the batch
      // mixture weights row-for-row — same oracle as q221
      ("q254_streaming_mixture_weights" ->
        CurationQueries.oracleSql("q221_temperature_mixture")) +
      // the folded online counts, derived through the shared KN
      // closed form, must reproduce the batch smoothed table — same
      // oracle as q249
      ("q257_streaming_kn_probabilities" ->
        TextQueries.oracleSql("q249_kn_probabilities")) +
      // online serving against the saved LM must reproduce the batch
      // scorer row-for-row — same oracle as q250
      ("q260_streaming_kn_score" ->
        TextQueries.oracleSql("q250_kn_doc_score")) +
      // online serving against the saved TRIGRAM LM must reproduce
      // the batch scorer row-for-row — same oracle as q267
      ("q268_streaming_kn_trigram_score" ->
        TextQueries.oracleSql("q267_kn_trigram_doc_score")) +
      // the folded online trigram counts, derived through the shared
      // closed form, must reproduce the batch smoothed table — same
      // oracle as q266
      ("q272_streaming_kn_trigram_probabilities" ->
        TextQueries.oracleSql("q266_kn_trigram_probabilities")) +
      // the folded online trigram counts derived through the shared
      // estimated-D closed form must reproduce the batch production
      // smoother — same oracle as q274
      ("q280_streaming_kn_trigram_estd" ->
        TextQueries.oracleSql("q274_kn_trigram_estimated_discount")) +
      // online serving at the estimated discount must reproduce the
      // batch estimated-D scorer row-for-row — same oracle as q275
      ("q281_streaming_kn_estd_score" ->
        TextQueries.oracleSql("q275_kn_estd_doc_score")) +
      // online trigram serving at the per-level estimated discounts
      // must reproduce the batch scorer — same oracle as q276
      ("q282_streaming_kn_trigram_estd_score" ->
        TextQueries.oracleSql("q276_kn_trigram_estd_doc_score")) +
      // online serving under modified KN must reproduce the batch
      // three-discount scorers row-for-row — same oracles as q283/q284
      ("q285_streaming_kn_mkn_score" ->
        TextQueries.oracleSql("q283_kn_mkn_doc_score")) +
      ("q286_streaming_kn_trigram_mkn_score" ->
        TextQueries.oracleSql("q284_kn_trigram_mkn_doc_score")) +
      // online trigram count maintenance derived through the modified-
      // KN closed form must reproduce the batch model — same oracle
      // as q278
      ("q287_streaming_kn_trigram_mkn" ->
        TextQueries.oracleSql("q278_kn_trigram_modified")) +
      // open-vocabulary online serving must reproduce the batch
      // <unk>-mapped scorer — same oracle as q290
      ("q291_streaming_kn_unk_score" ->
        TextQueries.oracleSql("q290_kn_unk_doc_score")) +
      // online stupid-backoff serving must reproduce the batch
      // cascade — same oracle as q293
      ("q296_streaming_stupid_backoff_score" ->
        TextQueries.oracleSql("q293_stupid_backoff_doc_score")) +
      // online Witten-Bell serving must reproduce the batch cascade
      // — same oracle as q295
      ("q300_streaming_witten_bell_score" ->
        TextQueries.oracleSql("q295_witten_bell_doc_score")) +
      // cleanup at ingest is the batch projection verbatim — same
      // oracle as q262
      ("q263_streaming_unicode_clean" ->
        TextQueries.oracleSql("q262_unicode_clean")) +
      // stream×stream pairing must reproduce the batch LSH near-dup
      // scan row-for-row — same oracle as q35
      ("q265_stream_stream_neardup" ->
        TextQueries.oracleSql("q35_minhash_lsh")) +
      ("q140_pagerank" -> pageRankOracle(10))
}
