package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.GraftSession
import graft.streaming.EventStreams

class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def batchEvents =
    GraftSession.tsTimestamp(GraftSession.table(spark, sf, "events"))

  /** Driver-log events sorted on the operators' own exact-micros key —
    * a millis-only sort could split a shared millisecond across a
    * batch boundary in an order that contradicts the micros timeline
    * (ADVICE r7). */
  private def orderedDriverEvents: Array[EventStreams.Event] = {
    import spark.implicits._
    batchEvents
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Event].collect().sortBy(e =>
        (Math.floorDiv(e.ts.getTime, 1000L) * 1000000L +
          e.ts.getNanos / 1000L, e.event_id))
  }

  /** Spec-side replay of hand-picked batches (the entry rows use
    * `AnalyticQueries.replay`): feed `batches` through `op`'s
    * micro-batch pipeline into a memory sink and return the
    * materialized sink table. */
  private def replayToSink(name: String,
      batches: Seq[Seq[EventStreams.Event]],
      op: org.apache.spark.sql.Dataset[EventStreams.Event] =>
        org.apache.spark.sql.Dataset[_],
      mode: org.apache.spark.sql.streaming.OutputMode =
        org.apache.spark.sql.streaming.OutputMode.Update())
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[EventStreams.Event]
    val q = op(mem.toDS()).writeStream.outputMode(mode)
      .format("memory").queryName(name).start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val out = spark.table(name)
      out.count() // materialize while the query is live
      out
    } finally q.stop()
  }

  /** Run a streaming query over a finite source synchronously into an
    * in-memory sink and return the materialized result table. */
  private def runToMemory(streaming: org.apache.spark.sql.DataFrame,
      name: String): org.apache.spark.sql.DataFrame = {
    val q = streaming.writeStream.format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Stream-static enrichment: the live stream joined against a
    * broadcast static dimension, stateless on the stream side. */
  private def enriched(events: org.apache.spark.sql.DataFrame,
      dim: org.apache.spark.sql.DataFrame, key: String)
      : org.apache.spark.sql.DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  private def thirds(rows: Array[EventStreams.Event])
      : Seq[Seq[EventStreams.Event]] =
    rows.grouped((rows.length + 2) / 3).map(_.toSeq).toSeq

  test("event-time gap sessionization closes sessions via the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    val sessions = EventStreams.sessionizeByGap(mem.toDS(),
      gapMs = 10 * 60 * 1000) // 10-minute gap
    val q = sessions.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("gap_sessions").start()
    try {
      def ev(id: Long, user: Long, minute: Long) = EventStreams.Event(
        id, new java.sql.Timestamp(minute * 60000), user, "click", 1.0)
      // (timestamps start at minute 60: a row exactly at the initial
      // watermark of 0 would be discarded as late)
      mem.addData(ev(1, 1, 60), ev(2, 1, 65)) // u1 session
      q.processAllAvailable()
      mem.addData(ev(3, 2, 180)) // advances watermark to 65
      q.processAllAvailable()
      mem.addData(ev(4, 3, 240)) // watermark 180 > u1 timeout 75 → u1 closes
      q.processAllAvailable()
      mem.addData(ev(5, 4, 400)) // watermark 240 > u2 timeout 190 → u2 closes
      q.processAllAvailable()
      // (user_id, n_events, start_us, end_us) — micros timeline
      val closed = spark.table("gap_sessions").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(4), r.getLong(5)))
      assert(closed.contains((1L, 2L, 60 * 60000000L, 65 * 60000000L)))
      assert(closed.contains((2L, 1L, 180 * 60000000L, 180 * 60000000L)))
    } finally q.stop()
  }

  test("gap sessionization splits WITHIN a micro-batch and numbers " +
      "session_seq in time order") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionizeByGap(mem.toDS(),
        gapMs = 10 * 60 * 1000)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("gap_split_sessions").start()
    try {
      def ev(id: Long, user: Long, minute: Long) = EventStreams.Event(
        id, new java.sql.Timestamp(minute * 60000), user, "click", 1.0)
      // one batch, one user, THREE sessions separated by >10-min gaps —
      // fed deliberately out of order: the operator must sort the
      // batch's slice, split mid-batch, and emit the first two closed
      // sessions immediately (the third stays open on a timer)
      mem.addData(ev(3, 1, 200), ev(1, 1, 60), ev(4, 1, 202),
        ev(2, 1, 65), ev(5, 1, 400))
      q.processAllAvailable()
      val got = spark.table("gap_split_sessions").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))
        .sortBy(_._1)
      assert(got.toSeq == Seq(
        (0L, 2L, 60 * 60000000L, 65 * 60000000L),
        (1L, 2L, 200 * 60000000L, 202 * 60000000L)))
      // a later event past the open session's timeout closes session 2
      mem.addData(ev(6, 2, 600))
      q.processAllAvailable()
      mem.addData(ev(7, 3, 700))
      q.processAllAvailable()
      val all = spark.table("gap_split_sessions").collect()
        .filter(_.getLong(0) == 1L).map(r => r.getLong(1)).sorted
      assert(all.toSeq == Seq(0L, 1L, 2L))
    } finally q.stop()
  }

  test("streamingClassifierGate: bit-identical to batch classifyLinear " +
      "(unseen tokens, null/empty text, tie-break), streams in Append") {
    import graft.ext.TextAnalysis
    val m = Seq(("apple", "fruit", "0.500000001"), ("pear", "fruit", "0.40"),
        ("iron", "metal", "0.50"), ("zinc", "metal", "0.45"))
      .toDF("term", "label", "w")
      .select($"term", $"label", $"w".cast("decimal(18,9)").as("weight"))
    val p = Seq(("fruit", "-0.20", "-0.05"), ("metal", "-0.20", "-0.03"))
      .toDF("label", "pr", "un")
      .select($"label", $"pr".cast("decimal(18,9)").as("prior"),
        $"un".cast("decimal(18,9)").as("unseen"))
    val docs = Seq(
      (0L, "apple pear mystery"),          // unseen token in the mix
      (1L, "iron zinc iron"),
      (2L, ""),                            // score = prior, tie → label asc
      (3L, null.asInstanceOf[String]),
      (4L, "mystery words only here")      // all-unseen: unseen decides
    ).toDF("doc_id", "text")
    val batch = TextAnalysis.classifyLinear(docs, "doc_id", "text", m, p)
      .select($"doc_id", $"label", $"score".cast("decimal(27,9)")
        .as("score"))
      .orderBy("doc_id").collect().toSeq
    val online = EventStreams.streamingClassifierGate(
        docs, "doc_id", "text", m, p)
      .select($"doc_id", $"label", $"score".cast("decimal(27,9)")
        .as("score"))
      .orderBy("doc_id").collect().toSeq
    assert(online == batch, s"online $online vs batch $batch")
    // and the same plan is Append-legal on a real stream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.streamingClassifierGate(
        mem.toDS().toDF("doc_id", "text"), "doc_id", "text", m, p)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("clf_gate").start()
    try {
      mem.addData((0L, "apple pear mystery"), (1L, "iron zinc iron"))
      q.processAllAvailable()
      val got = spark.table("clf_gate").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(got == Map(0L -> "fruit", 1L -> "metal"))
    } finally q.stop()
  }

  test("streamingImportanceGate: bit-identical to batch " +
      "importanceWeights, unknown label refused") {
    import graft.ext.TextAnalysis
    val m = Seq(("good", "tgt", "0.50"), ("clean", "tgt", "0.35"),
        ("spam", "raw", "0.50"), ("junk", "raw", "0.45"))
      .toDF("term", "label", "w")
      .select($"term", $"label", $"w".cast("decimal(18,9)").as("weight"))
    val p = Seq(("tgt", "-0.20", "-0.05"), ("raw", "-0.25", "-0.03"))
      .toDF("label", "pr", "un")
      .select($"label", $"pr".cast("decimal(18,9)").as("prior"),
        $"un".cast("decimal(18,9)").as("unseen"))
    val docs = Seq(
      (10L, "good clean text"), (11L, "spam junk"),
      (12L, "neutral words here"), (13L, "")).toDF("doc_id", "text")
    val batch = TextAnalysis.importanceWeights(docs, "doc_id", "text",
        m, p, "tgt", "raw")
      .select($"doc_id", $"weight".cast("decimal(29,9)").as("weight"))
      .orderBy("doc_id").collect().toSeq
    val online = EventStreams.streamingImportanceGate(docs, "doc_id",
        "text", m, p, "tgt", "raw")
      .select($"doc_id", $"weight".cast("decimal(29,9)").as("weight"))
      .orderBy("doc_id").collect().toSeq
    assert(online == batch, s"online $online vs batch $batch")
    val e = intercept[IllegalArgumentException] {
      EventStreams.streamingImportanceGate(docs, "doc_id", "text",
        m, p, "tgt", "nope")
    }
    assert(e.getMessage.contains("nope"))
  }

  test("streamingTermCounts: Update-mode re-emissions fold by MAX to " +
      "the exact batch counts; sentinel rides the same aggregation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val q = EventStreams.streamingTermCounts(
        mem.toDS().toDF("label", "text"), "label", "text")
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("nb_counts").start()
    try {
      // 'apple' for label a arrives in BOTH batches: Update mode
      // re-emits the key with the grown count — the fold must take
      // MAX, not sum (sum would double-count the first batch)
      mem.addData(("a", "apple pear"), ("b", "iron"))
      q.processAllAvailable()
      mem.addData(("a", "apple apple"), ("b", null.asInstanceOf[String]))
      q.processAllAvailable()
      val folded = spark.table("nb_counts").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val sent = EventStreams.DocSentinel
      assert(folded(("a", "apple")) == 3L)
      assert(folded(("a", "pear")) == 1L)
      assert(folded(("b", "iron")) == 1L)
      // sentinel = per-label doc counts (null-text doc still counts)
      assert(folded(("a", sent)) == 2L && folded(("b", sent)) == 2L)
    } finally q.stop()
  }

  test("streamingContamination: bit-identical to batch contamination " +
      "(distinct shingles, short docs, null text dropped)") {
    import graft.ext.Curation
    val evalSet = Seq("the quick brown fox", "hello world")
      .toDF("text")
    val docs = Seq(
      (0L, "the quick brown fox jumps"),  // contains eval 3-grams
      (1L, "totally clean document text here"),
      (2L, "hi"),                         // < n tokens: whole-text shingle
      (3L, "the quick the quick the quick brown"), // repeated: DISTINCT
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"n_shingles", $"n_contaminated",
          $"contamination")
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val batch = norm(Curation.contamination(docs, evalSet, "doc_id",
      "text", n = 3))
    val online = norm(EventStreams.streamingContamination(docs, "doc_id",
      "text", evalSet, n = 3))
    assert(online == batch, s"online $online vs batch $batch")
    // null-text doc absent from both (the batch contract)
    assert(!online.exists(_._1 == 4L))
    // the distinct-shingle contract: doc 3's 7 tokens yield 5 shingle
    // positions but only 3 DISTINCT shingles (the repeats collapse)
    val d3 = online.find(_._1 == 3L).get
    assert(d3._2 == 3L, s"expected 3 distinct shingles, got ${d3._2}")
  }

  test("event-time sessions run on the RocksDB state store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    // large keyed state belongs off-heap: RocksDB provider (NOTES #3).
    // Session conf, not a sink option — sink options don't reach the
    // state store machinery.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = EventStreams.sessionizeByGap(mem.toDS(), gapMs = 10 * 60 * 1000)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("rocks_sessions").start()
    try {
      def ev(id: Long, user: Long, minute: Long) = EventStreams.Event(
        id, new java.sql.Timestamp(minute * 60000), user, "click", 1.0)
      mem.addData(ev(1, 1, 60), ev(2, 1, 65))
      q.processAllAvailable()
      mem.addData(ev(3, 2, 180)); q.processAllAvailable()
      mem.addData(ev(4, 3, 240)); q.processAllAvailable()
      val closed = spark.table("rocks_sessions").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(closed.contains((1L, 2L)))
      assert(q.lastProgress.stateOperators(0).customMetrics
        .containsKey("rocksdbFilesCopied"),
        "state store is not RocksDB-backed")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streamingFunnel: time-ordered batches reproduce the batch funnel") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    // the SessionizeSpec adversarial fixture (ties, out-of-order,
    // non-entrants) in milliseconds, split into 3 time-ordered batches
    val fixture = Seq(
      (1L, "purchase", 5L), (1L, "view", 10L), (2L, "click", 5L),
      (3L, "view", 10L), (3L, "click", 10L), (4L, "click", 1L),
      (2L, "view", 10L), (3L, "purchase", 12L), (4L, "purchase", 2L),
      (1L, "click", 20L), (1L, "purchase", 30L), (3L, "click", 15L))
    val batches = Seq(fixture.filter(_._3 <= 10),
      fixture.filter(e => e._3 > 10 && e._3 <= 15), fixture.filter(_._3 > 15))
    def ev(t: (Long, String, Long)) = EventStreams.Event(
      t._3 * 100 + t._1, new java.sql.Timestamp(t._3), t._1, t._2, 1.0)
    val mem = MemoryStream[EventStreams.Event]
    val steps = Seq("view", "click", "purchase")
    val q = EventStreams.streamingFunnel(mem.toDS(), steps).writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("funnel_stream").start()
    try {
      batches.foreach { b => mem.addData(b.map(ev): _*); q.processAllAvailable() }
      // latest update per user == the batch operator's final row
      val got = spark.table("funnel_stream")
        .groupByKey(_.getLong(0)).mapGroups { (u, it) =>
          val last = it.toSeq.maxBy(_.getInt(1)) // funnel only advances
          (u, last.getInt(1), last.getSeq[Long](2).map(t =>
            if (t == Long.MinValue) None else Some(t)))
        }.collect().toSet
      // streaming step_ts is epoch MICROS; the ms fixture ts maps via
      // x1000 on the batch side for the comparison
      val want = graft.operators.Funnel.funnelSinglePass(
          fixture.map(t => (t._1, t._2, t._3 * 1000L))
            .toDF("user_id", "event_type", "ts"),
          "user_id", "event_type", "ts", steps)
        .collect().map(r => (r.getLong(0), r.getInt(4),
          (1 to 3).map(i => Option(r.get(i)).map(_.asInstanceOf[Long]))))
        .toSet
      assert(want.nonEmpty && got == want)
    } finally q.stop()
  }

  test("streamingTransitions: summed deltas == batch transition matrix") {
    import spark.implicits._
    val got = replayToSink("trans_stream", thirds(orderedDriverEvents),
        EventStreams.streamingTransitions)
      .groupBy("from_type", "to_type")
      .agg(org.apache.spark.sql.functions.sum("delta").as("n"))
      .as[(String, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // ground truth: the batch q110 counts over the same log
    val want = graft.SparkEntry.queries("q110_transitions")(
        spark, "/root/testdata/sf0.001")
      .select("from_type", "to_type", "n_transitions")
      .as[(String, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(want.nonEmpty && got == want)
  }

  test("streamingScd2: folded emissions == batch SCD2 history") {
    import spark.implicits._
    // fold: per (user, version), closed beats open — an open emission
    // is always superseded by its own later closing emission
    val got = replayToSink("scd2_stream", thirds(orderedDriverEvents),
        EventStreams.streamingScd2)
      .as[EventStreams.Scd2Delta].collect()
      .groupBy(d => (d.user_id, d.version_seq)).values
      .map(emissions => emissions.find(_.valid_to.isDefined)
        .getOrElse(emissions.head))
      .map(d => (d.user_id, d.state, d.version_seq, d.valid_from,
        d.valid_to))
      .toSet
    val ev = GraftSession.table(spark, sf, "events")
    val want = graft.ext.Snapshot.scd2FromLog(
        ev.select(col("user_id"), col("event_id"), col("event_type"),
          GraftSession.tsMicros(ev).as("ts_us")),
        keys = Seq("user_id"), tracked = Seq("event_type"),
        tsCol = "ts_us", tieBreak = Seq("event_id"))
      .select("user_id", "event_type", "version_seq", "valid_from",
        "valid_to")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long])))
      .toSet
    assert(want.nonEmpty && got == want)
  }

  test("streamingCorrState: max-folded emissions == batch moment sums") {
    import spark.implicits._
    // batch ground truth: the same integer moment sums per (day, type)
    val batch = batchEvents.filter(col("value").isNotNull)
      .withColumn("__ws", expr(
        "(unix_micros(ts) div 86400000000) * 86400000000"))
      .withColumn("__x", expr("(unix_micros(ts) % 86400000000) div 1000000"))
      .withColumn("__y", floor(col("value") * 100d + 0.5d).cast("long"))
      .groupBy("__ws", "event_type")
      .agg(count(lit(1)).as("n"), sum("__x").as("sx"), sum("__y").as("sy"),
        sum(col("__x") * col("__x")).as("sxx"),
        sum(col("__y") * col("__y")).as("syy"),
        sum(col("__x") * col("__y")).as("sxy"))
      .as[(Long, String, Long, Long, Long, Long, Long, Long)]
      .collect().map(t => (t._1, t._2) -> (t._3, t._4, t._5, t._6,
        t._7, t._8)).toMap
    // streamed in three time-ordered batches; Update emissions per key
    // only grow — max-n fold recovers the final state
    val raw = replayToSink("corr_state", thirds(orderedDriverEvents),
        ds => EventStreams.streamingCorrState(ds)
          .as[(Long, String, Long, Long, Long, Long, Long, Long)])
      .as[(Long, String, Long, Long, Long, Long, Long, Long)]
      .collect()
    val folded = raw.groupBy(t => (t._1, t._2)).map { case (k, rs) =>
      k -> rs.map(t => (t._3, t._4, t._5, t._6, t._7, t._8))
        .maxBy(_._1)
    }
    assert(folded == batch && batch.nonEmpty)
  }

  test("streamingCorrState: an int64-overflowing moment raises, never wraps") {
    import spark.implicits._
    // value 1e9 → y = 1e11 cents → y² = 1e22 per row: one row already
    // exceeds int64 — the decimal state holds it exactly and the
    // output-edge guard must raise instead of emitting wrapped garbage
    val wild = Seq(EventStreams.Event(1L,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 1L, "view", 1e9))
    val ex = intercept[Exception] {
      replayToSink("corr_overflow", Seq(wild),
        ds => EventStreams.streamingCorrState(ds)
          .as[(Long, String, Long, Long, Long, Long, Long, Long)])
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("exceeds int64")),
      msgs(ex).mkString(" | "))
  }

  test("streamingQuality: max-folded update emissions == batch windowed suite") {
    import spark.implicits._
    import graft.ext.Quality
    import graft.ext.Quality._
    val checks = Seq(InRange("value", 0.0, 250.0),
      InSet("event_type", Seq("view", "click", "purchase", "signup")),
      NotNull("value"))
    // per-window counts only grow across update emissions → fold = max
    val got = replayToSink("quality_stream", thirds(orderedDriverEvents),
        ds => EventStreams.streamingQuality(ds.toDF(), checks,
          window_ = "1 day"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4))))
      .groupBy(_._1).view
      .mapValues(vs => (vs.map(_._2._1).max, vs.map(_._2._2).max))
      .toMap
    val want = Quality.windowedSuite(batchEvents,
        org.apache.spark.sql.functions.window($"ts", "1 day"), checks)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    assert(want.nonEmpty && got == want)
    assert(want.values.map(_._2).sum > 0) // real violations monitored
  }

  test("streamingAttribution: stream-stream pairs == batch interval join") {
    import spark.implicits._
    val got = replayToSink("attr_stream", thirds(orderedDriverEvents),
        ds => EventStreams.streamingAttribution(ds, "click", "purchase",
          maxGapSeconds = 3600),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // batch ground truth: the same interval join, no streams
    val ev = batchEvents.select(col("event_id"), col("user_id"),
      col("event_type"),
      GraftSession.tsMicros(batchEvents).as("tn"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"),
        $"user_id".as("p_user"), $"tn".as("purchase_us"))
    val c = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("c_user"),
        $"tn".as("click_us"))
    val want = p.join(c, $"p_user" === $"c_user" &&
        $"click_us" <= $"purchase_us" &&
        $"click_us" >= $"purchase_us" - 3600000000L)
      .select($"purchase_id", $"p_user", $"purchase_us", $"click_us",
        $"click_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(want.nonEmpty && got == want)
  }

  test("streamingRetention: summed deltas == batch cohort matrix") {
    import spark.implicits._
    val week = 604800000L // ms
    val rows = orderedDriverEvents
    // late PRE-cohort activity as a 4th batch: a bucket two weeks
    // before an existing user's pinned cohort must absorb silently —
    // a floored offset-0 delta would double-count the user in its
    // cohort denominator
    val u = rows.head
    val late = Seq(EventStreams.Event(999999L,
      new java.sql.Timestamp(u.ts.getTime - 2 * week), u.user_id,
      u.event_type, 1.0))
    val got = replayToSink("ret_stream", thirds(rows) :+ late,
        EventStreams.streamingRetention(_, week))
      .groupBy("cohort", "bucket_offset")
      .agg(org.apache.spark.sql.functions.sum("delta").as("n"))
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val want = graft.operators.Retention.cohortMatrix(
        batchEvents.select(col("user_id"),
          org.apache.spark.sql.functions.unix_millis(col("ts")).as("ms")),
        "user_id", "ms", bucketWidth = week)
      .select("cohort", "bucket_offset", "n_users")
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(want.nonEmpty && got == want)
  }

  test("watermarked streaming dedup: bounded state, dupes dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    val deduped = EventStreams.dedupWithinWatermark(
      mem.toDS().toDF(), Seq("event_id"), watermark = "10 minutes")
    val q = deduped.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("dedup_stream").start()
    try {
      def ev(id: Long, minute: Long) = EventStreams.Event(
        id, new java.sql.Timestamp(minute * 60000), 1L, "click", 1.0)
      mem.addData(ev(1, 60), ev(1, 60), ev(2, 61)) // in-batch dup of id 1
      q.processAllAvailable()
      mem.addData(ev(1, 62)) // cross-batch dup, watermark not yet past
      q.processAllAvailable()
      mem.addData(ev(3, 500)) // advances watermark far past id 1's state
      q.processAllAvailable()
      mem.addData(ev(1, 501)) // state evicted → re-emits (documented)
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").collect()
        .map(_.getLong(0)).toSeq
      assert(ids.count(_ == 1L) == 2, ids.mkString(",")) // once per horizon
      assert(ids.count(_ == 2L) == 1 && ids.count(_ == 3L) == 1)
    } finally q.stop()
  }

  test("stream-static enrichment join == batch join; stream side stateless") {
    val dim = Seq(("click", 2.0), ("view", 0.5))
      .toDF("event_type", "weight")
    val batch = enriched(batchEvents, dim, "event_type")
      .select(col("event_id"), col("weight"))
      .orderBy("event_id").collect()

    val dir = tmpDir("enrich-in")
    batchEvents.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val got = runToMemory(
        enriched(stream, dim, "event_type")
          .select(col("event_id"), col("weight")), "enriched_stream")
      .orderBy("event_id").collect()

    assert(batch.length > 0 && got.length == batch.length)
    assert(got.sameElements(batch))
    // unmatched types survive the left join with null weight
    assert(batch.exists(_.isNullAt(1)) ==
      batchEvents.join(dim, Seq("event_type"), "left_anti").count() > 0)
  }

  test("streamNewRows: stream-vs-snapshot bloom dedup == batch anti join") {
    // snapshot = docs 0..99; stream = the whole corpus arriving as files
    val docs = GraftSession.table(spark, sf, "documents")
      .select("doc_id", "text")
    // canonical 5-token-prefix key: cross-boundary prefix dups exist at
    // this sf, so the dedup genuinely removes rows
    val key = md5(array_join(
      slice(graft.functions.TextFunctions.tokens(col("text")), 1, 5), " "))
    val snapshot = docs.filter(col("doc_id") < 100)
    val newDocs = docs.filter(col("doc_id") >= 100)
    val want = graft.ext.Dedup.newRowsBloom(newDocs, snapshot, key)
      .select("doc_id").as[Long].collect().sorted.toSeq

    val dir = tmpDir("bloom-stream-in")
    newDocs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val got = runToMemory(
        EventStreams.streamNewRows(stream, snapshot, key), "bloom_new")
      .select("doc_id").as[Long].collect().sorted.toSeq

    assert(want.nonEmpty && got == want)
    assert(got.length < newDocs.count(), "dedup must remove the planted dups")
  }

  test("streamNewRows: null-key stream row lands in the output exactly once") {
    // a RAW column key (no hash wrapper) so the null-text row carries a
    // genuinely null key into the probe and the confirm anti join — the
    // branch the round-5 `coalesce(probe, false)` fix routes to the
    // definite-new side, matching batch newRowsBloom (whose anti join
    // keeps null-key rows: null === anything is never true)
    val snapshot = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val newRows = Seq((10L, "alpha"), (11L, "delta"),
      (12L, null.asInstanceOf[String]), (13L, "beta"))
      .toDF("doc_id", "text")
    val key = col("text")
    val want = graft.ext.Dedup.newRowsBloom(newRows, snapshot, key)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(want == Seq(11L, 12L),
      s"batch twin must keep the genuinely-new and the null-key row: $want")

    val dir = tmpDir("bloom-null-in")
    newRows.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val got = runToMemory(
        EventStreams.streamNewRows(stream, snapshot, key), "bloom_null_new")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == want, s"stream=$got batch=$want")
    assert(got.count(_ == 12L) == 1, "null-key row must appear exactly once")
  }

  test("streamingEdgeBirths: exactly-once edges == batch HAVING; " +
      "split-invariant; online degrees consistent") {
    import spark.implicits._
    val rows = orderedDriverEvents
    def run(batches: Seq[Seq[EventStreams.Event]], name: String) =
      replayToSink(name, batches,
        ds => EventStreams.streamingEdgeBirths(ds, minCount = 15L))
        .as[(String, String, Long)].collect().toSeq
    val got3 = run(thirds(rows), "edges3")
    val got1 = run(Seq(rows.toSeq), "edges1")
    // every edge born exactly once, and the edge SET equals the batch
    // GROUP BY ... HAVING count >= 15 graph
    assert(got3.map(t => (t._1, t._2)).distinct.length == got3.length)
    val want = batchEvents.groupBy("user_id", "event_type").count()
      .filter($"count" >= 15)
      .select(concat(lit("u:"), $"user_id".cast("string")),
        concat(lit("t:"), $"event_type"))
      .as[(String, String)].collect().toSet
    assert(want.nonEmpty &&
      got3.map(t => (t._1, t._2)).toSet == want)
    // batch-boundary invariance: one batch and three batches agree on
    // edges AND birth degrees (in-batch events sort on the carried
    // (ts, event_id) key, so the birth order is the timeline's)
    assert(got1.sorted == got3.sorted)
    // online degree consistency: per user, birth degrees are 1..d in
    // birth order, and the final degree equals the batch degree
    val byUser = got3.groupBy(_._1)
    byUser.foreach { case (u, bs) =>
      assert(bs.map(_._3).sorted == (1L to bs.length.toLong), u)
    }
    val wantDeg = want.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(byUser.view.mapValues(_.map(_._3).max).toMap == wantDeg)
  }

  test("stateless curation ops stream as-is: chunk/split/upsample == batch") {
    // chunkTokens, assignSplits and upsampleSources are pure per-row
    // column pipelines — they run UNCHANGED on a stream in append mode
    // with no watermark and no state. This pins that contract (a later
    // "optimization" that sneaks in an aggregate or window would break
    // the streaming plan loudly here).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext.{Curation, TextAnalysis}
    implicit val sc = spark.sqlContext
    val rows = Seq(
      (1L, "a b c d e f g h i j", "src0"),
      (2L, "k l m", "src1"),
      (3L, "n o p q r s t u v w x y z a b", "src2"),
      (4L, "one two", "src3"))
    val mem = MemoryStream[(Long, String, String)]
    val sdf = mem.toDF().toDF("doc_id", "text", "source")
    def ops(df: org.apache.spark.sql.DataFrame) = {
      val split = Curation.assignSplits(df, "doc_id", "sp1",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val up = Curation.upsampleSources(split, "source", "doc_id",
        Seq("src0" -> 2.0, "src1" -> 0.0), "mix2")
      TextAnalysis.chunkTokens(up.withColumn("text",
          concat_ws(" ", col("split"), col("text"), col("copy"))),
        "doc_id", "text", chunkSize = 4, overlap = 1)
    }
    mem.addData(rows.take(2): _*)
    mem.addData(rows.drop(2): _*)
    val streamed = runToMemory(ops(sdf), "curation_ops")
      .collect().map(_.toSeq).toSet
    val batch = ops(rows.toDF("doc_id", "text", "source"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streamingSq8Serve: stream-static scoring + integer fold == " +
      "batch sq8TopKOnCodes") {
    import graft.ext.Similarity
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val corpus = (0L until 30L).map { id =>
      (id, (0 until 8).map(d =>
        (((id * 31 + d * 17) % 23).toFloat - 11f) / 3f).toArray)
    }.toDF("id", "vec")
    val mm = Similarity.sq8MinMax(corpus, "vec").localCheckpoint(true)
    val codes = Similarity.sq8Encode(corpus, "vec", mm)
      .select(col("id"), col("sq8_code")).localCheckpoint(true)
    val batch = Similarity.sq8TopKOnCodes(codes, "id", "sq8_code",
        col("id") < 5, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(batch.size == 15) // 5 queries × top-3: the fixture is live
    // the 5 query vectors arrive in two micro-batches, out of id order
    // (arrival order must not matter: every emission is a stateless
    // per-pair fact and the fold is an integer sort)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = EventStreams.streamingSq8Serve(
        mem.toDS().toDF("id", "vec"), "id", "vec",
        codes, "id", "sq8_code", mm)
      .writeStream.outputMode("append").format("memory")
      .queryName("sq8_serve").start()
    val qs = corpus.filter(col("id") < 5)
      .as[(Long, Array[Float])].collect()
    try {
      mem.addData(qs.filter(_._1 >= 3).toSeq: _*); q.processAllAvailable()
      mem.addData(qs.filter(_._1 < 3).toSeq: _*); q.processAllAvailable()
      val raw = spark.table("sq8_serve").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(raw.length == 5 * 29) // every (query, non-self) pair scored
      val folded = raw.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortWith((a, b) => a._3 < b._3 ||
            (a._3 == b._3 && a._2 < b._2))
          .take(3).zipWithIndex
          .map { case ((qq, n, d), i) => (qq, n, i + 1, d) }
      }.toSet
      assert(folded == batch)
    } finally q.stop()
  }

  test("streamingIvfSq8Serve: cell-keyed stream-static join + integer " +
      "fold == batch trained ivfSq8TopK") {
    import graft.ext.Similarity
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val corpus = (0L until 30L).map { id =>
      (id, (0 until 8).map(d =>
        (((id * 31 + d * 17) % 23).toFloat - 11f) / 3f).toArray)
    }.toDF("id", "vec")
    val cents = Similarity.trainCentroids(corpus, "id", "vec",
        k = 3, iters = 2)
      .localCheckpoint(true)
    val mm = Similarity.sq8MinMax(corpus, "vec").localCheckpoint(true)
    val coded = Similarity.sq8Encode(
        Similarity.ivfAssign(corpus, "id", "vec", cents), "vec", mm)
      .select(col("id"), col("cid"), col("sq8_code"))
      .localCheckpoint(true)
    val batch = Similarity.ivfSq8TopK(corpus, "id", "vec", cents,
        col("id") < 5, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(batch.nonEmpty)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = EventStreams.streamingIvfSq8Serve(
        mem.toDS().toDF("id", "vec"), "id", "vec",
        coded, "id", "cid", "sq8_code", mm, cents)
      .writeStream.outputMode("append").format("memory")
      .queryName("ivf_serve").start()
    val qs = corpus.filter(col("id") < 5)
      .as[(Long, Array[Float])].collect()
    try {
      // arrival order must not matter: stateless per-pair facts
      mem.addData(qs.filter(_._1 >= 3).toSeq: _*); q.processAllAvailable()
      mem.addData(qs.filter(_._1 < 3).toSeq: _*); q.processAllAvailable()
      val raw = spark.table("ivf_serve").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // cell-keyed: candidates are the query's OWN cell only — far
      // fewer than the brute serve's 5×29 all-pairs
      assert(raw.length < 5 * 29)
      val folded = raw.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortWith((a, b) => a._3 < b._3 ||
            (a._3 == b._3 && a._2 < b._2))
          .take(3).zipWithIndex
          .map { case ((qq, n, d), i) => (qq, n, i + 1, d) }
      }.toSet
      assert(folded == batch)
    } finally q.stop()
  }

  test("streamStreamMinhashPairs: self-join pairs across micro-batches " +
      "== batch minhashNearDup after band dedup") {
    import graft.ext.Dedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base),
      (2L, base + " tail"),                        // near-dup of 1
      (3L, "completely different words in this one entirely"),
      (4L, base + " tail"),                        // exact dup of 2
      (5L, "another unrelated document about nothing at all"))
    val batch = Dedup.minhashNearDup(docs.toDF("doc_id", "text"),
        "doc_id", "text", shingleN = 3, k = 12, bands = 4,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(batch.nonEmpty) // planted dups are live
    // event times SPREAD inside the 1-hour window (ADVICE r16: one
    // shared literal never exercised the ±window predicate)
    def ts(minutes: Int) = java.sql.Timestamp.valueOf(
      s"2026-01-01 00:${"%02d".format(minutes)}:00")
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = EventStreams.streamStreamMinhashPairs(
        mem.toDS().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts")
      .writeStream.outputMode("append").format("memory")
      .queryName("ss_pairs").start()
    try {
      // the (1,2) and (2,4) pairs SPAN batches — the state store must
      // match across them, not just within one micro-batch
      mem.addData((1L, ts(0), docs(0)._2), (3L, ts(5), docs(2)._2))
      q.processAllAvailable()
      mem.addData((2L, ts(10), docs(1)._2), (5L, ts(15), docs(4)._2))
      q.processAllAvailable()
      mem.addData((4L, ts(20), docs(3)._2))
      q.processAllAvailable()
      val got = spark.table("ss_pairs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet // band-collision dedup: the self-contained contract
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("streamStreamMinhashPairs lean store path: signature-only " +
      "state, EXACTLY-once per pair, out-of-window pair never emits") {
    import graft.ext.Dedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base),
      (2L, base + " tail"),                        // near-dup of 1
      (3L, "completely different words in this one entirely"),
      (4L, base + " tail"),                        // exact dup of 2
      (5L, "another unrelated document about nothing at all"),
      (6L, base + " tail"))                        // dup — but 3h LATE
    val inWindow = docs.filter(_._1 != 6L)
    val batch = Dedup.minhashNearDup(inWindow.toDF("doc_id", "text"),
        "doc_id", "text", shingleN = 3, k = 12, bands = 4,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(batch.nonEmpty)
    val store = docs.toDF("doc_id", "text")
      .select(col("doc_id").as("__id"),
        graft.functions.expressions.TextExpressions.wordShingles(
          col("text"), 3).as("__sharr"))
      .localCheckpoint(true)
    def ts(minutes: Int) = java.sql.Timestamp.valueOf(
      "2026-01-01 0%d:%02d:00".format(minutes / 60, minutes % 60))
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = EventStreams.streamStreamMinhashPairs(
        mem.toDS().toDF("doc_id", "ts", "text"), "doc_id", "text",
        "ts", docShingles = Some(store))
      .writeStream.outputMode("append").format("memory")
      .queryName("ss_pairs_lean").start()
    try {
      mem.addData((1L, ts(0), docs(0)._2), (3L, ts(5), docs(2)._2))
      q.processAllAvailable()
      mem.addData((2L, ts(10), docs(1)._2), (5L, ts(15), docs(4)._2))
      q.processAllAvailable()
      mem.addData((4L, ts(20), docs(3)._2))
      q.processAllAvailable()
      // doc 6 is an exact dup of 2/4 but arrives 3 h after them —
      // outside the ±1 h join window: it must pair with NOTHING
      mem.addData((6L, ts(200), docs(5)._2))
      q.processAllAvailable()
      val rows = spark.table("ss_pairs_lean").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      // exactly-once: the raw Append output has NO band-collision
      // duplicates (the in-stream dropDuplicatesWithinWatermark)
      assert(rows.size == rows.distinct.size,
        s"per-band duplicates leaked: $rows")
      assert(!rows.exists(p => p._1 == 6L || p._2 == 6L),
        s"out-of-window pair emitted: $rows")
      assert(rows.toSet == batch, s"stream ${rows.toSet} vs $batch")
    } finally q.stop()
  }

  test("streamStreamMinhashPairs lean path: a STALE store (candidate " +
      "doc missing) fails the query loudly instead of dropping pairs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again"
    // the store KNOWS doc 1 but NOT doc 2 — a lagging store sink
    val store = Seq((1L, base)).toDF("doc_id", "text")
      .select(col("doc_id").as("__id"),
        graft.functions.expressions.TextExpressions.wordShingles(
          col("text"), 3).as("__sharr"))
      .localCheckpoint(true)
    def ts(m: Int) = java.sql.Timestamp.valueOf(
      "2026-01-01 00:%02d:00".format(m))
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = EventStreams.streamStreamMinhashPairs(
        mem.toDS().toDF("doc_id", "ts", "text"), "doc_id", "text",
        "ts", docShingles = Some(store))
      .writeStream.outputMode("append").format("memory")
      .queryName("ss_pairs_stale").start()
    val ex = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] {
      mem.addData((1L, ts(0), base), (2L, ts(5), base + " tail"))
      q.processAllAvailable()
    }
    try {
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("doc-shingle store")),
        s"unexpected failure: ${msgs(ex)}")
    } finally q.stop()
  }

  test("streamingClassifierGate: a model past maxModelRows refuses " +
      "loudly, naming the batch classifyLinear") {
    // one row past the 1 << 20 plan-literal cap
    val weights = spark.range(1048577L)
      .select(concat(lit("w"), col("id").cast("string")).as("term"),
        lit("en").as("label"), lit("0.1").cast("decimal(18,9)").as("weight"))
    val priors = Seq(("en", "-0.2", "0.01"), ("es", "-0.3", "0.02"))
      .toDF("label", "p", "u")
      .select(col("label"), col("p").cast("decimal(18,9)").as("prior"),
        col("u").cast("decimal(18,9)").as("unseen"))
    val docsDf = Seq((0L, "w1 w2 zzz")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      EventStreams.streamingClassifierGate(docsDf, "doc_id", "text",
        weights, priors)
    }
    assert(ex.getMessage.contains("classifyLinear"))
  }

  test("streamingBandIndex: cross-batch AND same-batch pairs, " +
      "deduped candidates == batch LSH candidates; maxBucket is loud") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    // three near-identical docs (one band-colliding family) + one
    // unrelated doc; docs 1,2 share a batch (new x new), doc 3 arrives
    // later (old x new across batches)
    val t0 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.streamingBandIndex(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .toDF("a_id", "b_id").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("band_idx").start()
    try {
      mem.addData((1L, t0), (2L, t0), (4L, "one two three four five"))
      q.processAllAvailable()
      mem.addData((3L, t0))
      q.processAllAvailable()
      val got = spark.table("band_idx")
        .as[(Long, Long)].collect().toSet // set-dedupe multi-band emits
      assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    } finally q.stop()
    // a degenerate bucket must fail loudly, not accrete quadratically:
    // one doc past the 4096-id bucket ceiling
    val mem2 = MemoryStream[(Long, String)]
    val q2 = EventStreams.streamingBandIndex(
        mem2.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .toDF("a_id", "b_id").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("band_idx_guard").start()
    try {
      mem2.addData((1L to 4097L).map(i => (i, t0)))
      val e = intercept[Exception](q2.processAllAvailable())
      def msgs(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs(e).contains("would exceed 4096 ids"), msgs(e).take(300))
    } finally q2.stop()
  }

  test("JVM hash twins equal the SQL column forms") {
    import graft.ext.Curation
    val ids = Seq(1L, 42L, 999999L, 7L)
    val sqlSide = ids.toDF("id")
      .select(col("id"), Curation.shuffleKey("tw", col("id")).as("k"),
        Curation.hashU32("tw", col("id")).as("h"),
        Curation.shard("tw", col("id"), 8).as("s"))
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    ids.foreach { id =>
      assert(sqlSide(id) == ((HashTwins.shuffleKeyJvm("tw", id.toString),
        HashTwins.hashU32Jvm("tw", id.toString),
        HashTwins.hashU32Jvm("tw", id.toString) % 8)), s"id=$id")
    }
  }

  test("streamingValueHistogram: max-folded emissions == batch histogram") {
    val rows = orderedDriverEvents
    val got = replayToSink("vh_sink", thirds(rows),
        ds => EventStreams.streamingValueHistogram(ds))
      .as[(Long, String, Long, Long)].collect()
      .groupBy(r => (r._1, r._2, r._3))
      .map { case (k, rs) => k -> rs.map(_._4).max }
    val want = batchEvents.filter($"value".isNotNull)
      .groupBy(window($"ts", "1 day"), $"event_type",
        floor($"value" * 100d + 0.5d).cast("long").as("unit"))
      .count()
      .select(unix_micros($"window.start"), $"event_type", $"unit",
        $"count")
      .as[(Long, String, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    assert(got == want)
    assert(want.nonEmpty)
    // Update-mode emissions for a key are monotone — max IS the final
    // count (the fold's correctness condition)
    assert(got.values.sum == want.values.sum)
  }

  test("streamingGapFill: timer-driven LOCF emission == batch fill") {
    val dayMs = 86400000L
    def ev(id: Long, day: Long, tp: String) = EventStreams.Event(
      id, new java.sql.Timestamp(day * dayMs + 3600000L), 1L, tp, 1.0)
    // type a: days 100, 101, 104 (gap 102-103), 106; type b: 103 only.
    // Batches are TIME-ORDERED (the harness contract — a type-b event
    // delivered after the watermark passed its day would be late data,
    // correctly dropped); the split lands mid-gap so the 102/103 gap
    // rows must emit from a later batch's watermark/timeout, not from
    // data on those days
    val events = Seq(
      ev(1, 100, "a"), ev(2, 100, "a"), ev(3, 101, "a"),
      ev(6, 103, "b"), ev(4, 104, "a"), ev(5, 106, "a"))
    val batches = Seq(events.take(3), events.slice(3, 5),
      Seq(events(5), ev(99, 120, "flush")))
    val got = replayToSink("gapfill_sink", batches,
      ds => EventStreams.streamingGapFill(ds),
      org.apache.spark.sql.streaming.OutputMode.Append())
      .as[(String, Long, Long, Int)].collect().toSet
      .filterNot(_._1 == "flush")
    val want = Set(
      ("a", 100L, 2L, 0), ("a", 101L, 1L, 0),
      ("a", 102L, 1L, 1), ("a", 103L, 1L, 1),
      ("a", 104L, 1L, 0), ("a", 105L, 1L, 1), ("a", 106L, 1L, 0),
      ("b", 103L, 1L, 0))
    assert(got == want, s"got=$got")
    // re-replay with every event in ONE batch: same rows (the
    // cross-batch carry only changes WHEN rows emit, never what)
    val oneShot = replayToSink("gapfill_sink1",
      Seq(events :+ ev(99, 120, "flush")),
      ds => EventStreams.streamingGapFill(ds),
      org.apache.spark.sql.streaming.OutputMode.Append())
      .as[(String, Long, Long, Int)].collect().toSet
      .filterNot(_._1 == "flush")
    assert(oneShot == want)
  }

  test("streamingScoreCounts: Update re-emissions fold by MAX and sweep " +
      "to the exact batch PR-curve through the shared derivation") {
    import graft.ext.Stats
    val m = Seq(("good", "tgt", "0.50"), ("clean", "tgt", "0.35"))
      .toDF("term", "label", "w")
      .select($"term", $"label", $"w".cast("decimal(18,9)").as("weight"))
    val p = Seq(("tgt", "-0.20", "0"))
      .toDF("label", "pr", "un")
      .select($"label", $"pr".cast("decimal(18,9)").as("prior"),
        $"un".cast("decimal(18,9)").as("unseen"))
    // docs 0/5 share (score, truth) across batches (the MAX-fold key),
    // doc 1 shares the score with opposite truth (splits the key), one
    // null-truth doc (counts negative), one null-text doc (score =
    // prior)
    val docs = Seq(
      (0L, "good clean", Some(true)),
      (1L, "good clean", Some(false)),
      (2L, "good", Some(true)),
      (3L, "plain words", None),
      (4L, null.asInstanceOf[String], Some(false)),
      (5L, "clean good", Some(true)))
    val docsDf = docs.toDF("doc_id", "text", "is_pos")
    val batch = {
      val scored = graft.ext.TextAnalysis.scoreLinear(
          docsDf, "doc_id", "text", m, p)
        .where($"label" === "tgt")
        .select($"doc_id", ($"score".cast("decimal(18,9)") *
          lit(1000000000L).cast("decimal(10,0)")).cast("bigint")
          .as("score_e9"))
        .join(docsDf.select($"doc_id", $"is_pos"), Seq("doc_id"))
      Stats.thresholdSweep(scored, "score_e9", "is_pos")
        .orderBy($"threshold_e9".desc).collect().toSeq
    }
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, Option[Boolean])]
    val q = EventStreams.streamingScoreCounts(
        mem.toDS().toDF("doc_id", "text", "is_pos"),
        "text", "is_pos", m, p, label = "tgt")
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("score_counts").start()
    try {
      // doc 0 and doc 5 land in DIFFERENT batches with the SAME
      // (score, truth) key: Update re-emits the grown count — the
      // fold must take MAX, not sum
      mem.addData(docs(0), docs(3))
      q.processAllAvailable()
      mem.addData(docs(1), docs(2), docs(4), docs(5))
      q.processAllAvailable()
      val folded = spark.table("score_counts").collect()
        .map(r => (r.getLong(0), r.getBoolean(1)) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toSeq
        .map { case ((t9, pos), n) => (t9, pos, n) }
      val online = Stats.thresholdSweepCounts(
          folded.toDF("threshold_e9", "is_pos", "n"),
          "threshold_e9", "is_pos", "n")
        .orderBy($"threshold_e9".desc).collect().toSeq
      assert(online == batch, s"online $online vs batch $batch")
      // the re-emitted (score=0.65e9, pos) key folded to its FINAL
      // count of 2 (docs 0 and 5), and the opposite-truth doc 1 split
      // into its own key with count 1
      assert(folded.contains((650000000L, true, 2L)), folded)
      assert(folded.contains((650000000L, false, 1L)), folded)
    } finally q.stop()
  }

  test("streamingEvalLeakage: per-doc facts roll up to the exact batch " +
      "report; oversized suites refused") {
    import graft.ext.Curation
    val evalSet = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "zz yy"),
      (2L, "nothing matches this text")).toDF("eval_id", "text")
    val corpusRows = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "alpha beta gamma unrelated"),
      (12L, "zz yy and more"),
      (13L, "alpha beta gamma delta"),
      (14L, null.asInstanceOf[String]))
    val batch = Curation.evalLeakage(
        corpusRows.toDF("doc_id", "text"),
        evalSet.withColumnRenamed("eval_id", "doc_id"),
        "doc_id", "text", n = 3, tauE9 = 600000000L)
      .orderBy("eval_id")
      .collect().map(r => (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4))).toSeq
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.streamingEvalLeakage(
        mem.toDS().toDF("doc_id", "text"), "doc_id", "text",
        evalSet, "eval_id", "text", n = 3)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("leak_facts").start()
    try {
      mem.addData(corpusRows(0), corpusRows(4))
      q.processAllAvailable()
      mem.addData(corpusRows(1), corpusRows(2), corpusRows(3))
      q.processAllAvailable()
      val facts = spark.table("leak_facts").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val byEval = facts.groupBy(_._2)
      val online = Seq(0L, 1L, 2L).map { eid =>
        val ps = byEval.getOrElse(eid, Seq.empty)
        (eid,
          if (ps.isEmpty) 0L else ps.map(_._3).max,
          ps.sortWith((a, b) => a._3 > b._3 ||
            (a._3 == b._3 && a._1 < b._1)).headOption.map(_._1)
            .getOrElse(-1L),
          ps.count(_._3 >= 600000000L).toLong)
      }
      assert(online == batch, s"online $online vs batch $batch")
      // zero-hit pairs never emit (doc 12 matches nothing)
      assert(!facts.exists(_._1 == 12L), facts)
    } finally q.stop()
    // one item past the 1 << 14 plan-literal cap
    val bigSuite = spark.range(16385L)
      .select(col("id").as("eval_id"), lit("alpha beta gamma").as("text"))
    val e = intercept[IllegalArgumentException] {
      EventStreams.streamingEvalLeakage(
        mem.toDS().toDF("doc_id", "text"), "doc_id", "text",
        bigSuite, "eval_id", "text", n = 3)
    }
    assert(e.getMessage.contains("too large"))
  }

  test("streamingMixtureExecute: at-ingest epoch expansion matches the " +
      "batch executeMixture instance list; oversized alloc refused") {
    import graft.ext.Curation
    val docs = Seq((1L, "g1"), (2L, "g1"), (3L, "g1"), (4L, "g2"),
      (5L, "g2"))
    val docsDf = docs.toDF("id", "grp")
    val alloc = Seq(("g1", 30L, 45L), ("g2", 20L, 40L), ("g3", 0L, 0L))
      .toDF("grp", "n_tokens", "alloc_tokens")
    val batch = Curation.executeMixture(docsDf, "grp", "id", alloc, "s1")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sorted
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.streamingMixtureExecute(
        mem.toDS().toDF("id", "grp"), "id", "grp", alloc, "s1")
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("mix_exec").start()
    try {
      mem.addData(docs(0), docs(1))
      q.processAllAvailable()
      mem.addData(docs(2), docs(3), docs(4))
      q.processAllAvailable()
      val online = spark.table("mix_exec").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq.sorted
      assert(online == batch, s"online $online vs batch $batch")
    } finally q.stop()
    // one group past the 1 << 16 plan-literal cap
    val bigAlloc = spark.range(65537L)
      .select(col("id").cast("string").as("grp"), lit(1L).as("n_tokens"),
        lit(1L).as("alloc_tokens"))
    val e = intercept[IllegalArgumentException] {
      EventStreams.streamingMixtureExecute(
        mem.toDS().toDF("id", "grp"), "id", "grp", bigAlloc, "s1")
    }
    assert(e.getMessage.contains("too large"))
  }

  test("streamingFertilityCounts: cross-batch MAX-fold of the monotone " +
      "sums reproduces the batch report through the shared ratios") {
    import graft.ext.TextAnalysis
    val docs = Seq(
      (1L, "en", "ab cd"), (2L, "en", "a,b"), (3L, "zh", "xy"),
      (4L, "en", "more words here"))
    val batch = TextAnalysis.tokenizerFertility(
        docs.toDF("doc_id", "lang", "text"), "lang", "text")
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSeq
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val q = EventStreams.streamingFertilityCounts(
        mem.toDS().toDF("doc_id", "lang", "text"), "lang", "text")
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("fert_counts").start()
    try {
      // 'en' spans both batches: Update re-emits grown sums — MAX fold
      mem.addData(docs(0), docs(2)); q.processAllAvailable()
      mem.addData(docs(1), docs(3)); q.processAllAvailable()
      val folded = spark.table("fert_counts").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .groupBy(_._1).view
        .mapValues(vs => (vs.map(_._2._1).max, vs.map(_._2._2).max,
          vs.map(_._2._3).max, vs.map(_._2._4).max))
        .toSeq.map { case (l, (d, t, b, c)) => (l, d, t, b, c) }
      val online = TextAnalysis.fertilityRatios(
          folded.toDF("lang", "n_docs", "n_tokens", "n_bpe_tokens",
            "n_chars"))
        .orderBy("lang").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
        .toSeq
      assert(online == batch, s"online $online vs batch $batch")
    } finally q.stop()
  }

  test("streamingConfusionCounts: cross-batch MAX-fold reproduces the " +
      "batch classification report through the shared derivation") {
    import graft.ext.Stats
    val rows = Seq(("a", "a"), ("a", "b"), ("b", "b"), ("a", "a"),
      ("c", "a"))
    val batch = Stats.classificationReport(
        rows.toDF("truth", "pred"), "truth", "pred")
      .orderBy("cls").collect().map(_.toSeq).toSeq
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val q = EventStreams.streamingConfusionCounts(
        mem.toDS().toDF("truth", "pred"), "truth", "pred")
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("conf_counts").start()
    try {
      // the (a, a) key spans both batches — MAX, not sum
      mem.addData(rows(0), rows(1)); q.processAllAvailable()
      mem.addData(rows(2), rows(3), rows(4)); q.processAllAvailable()
      val folded = spark.table("conf_counts").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).max)
        .toSeq.map { case ((t, p), n) => (t, p, n) }
      val online = Stats.classificationReportFromMatrix(
          folded.toDF("truth", "pred", "n"))
        .orderBy("cls").collect().map(_.toSeq).toSeq
      assert(online == batch, s"online $online vs batch $batch")
    } finally q.stop()
  }

  test("streamingDriftCounts: cross-batch MAX-fold reproduces the " +
      "batch chi-square monitor through the shared derivation") {
    import graft.ext.Stats
    val rows = (Seq.fill(30)(("x", false)) ++ Seq.fill(10)(("x", true)) ++
      Seq.fill(10)(("y", false)) ++ Seq.fill(30)(("y", true)))
    val batch = Stats.chiSquareDrift(rows.toDF("b", "cur"), "b", "cur")
      .orderBy("bucket").collect().map(_.toSeq).toSeq
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, Boolean)]
    val q = EventStreams.streamingDriftCounts(
        mem.toDS().toDF("b", "cur"), "b", "cur")
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("drift_counts").start()
    try {
      val (h, t) = rows.splitAt(25) // 'x' keys span both batches
      mem.addData(h: _*); q.processAllAvailable()
      mem.addData(t: _*); q.processAllAvailable()
      val folded = spark.table("drift_counts").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view
        .mapValues(vs => (vs.map(_._2._1).max, vs.map(_._2._2).max))
        .toSeq.map { case (b, (nr, nc)) => (b, nr, nc) }
      val online = Stats.chiSquareFromCounts(
          folded.toDF("bucket", "n_ref", "n_cur"))
        .orderBy("bucket").collect().map(_.toSeq).toSeq
      assert(online == batch, s"online $online vs batch $batch")
    } finally q.stop()
  }

  test("streamingPiiCounts: cross-batch MAX-fold reproduces the batch " +
      "governance report through the shared rates") {
    import graft.ext.TextAnalysis
    val rows = Seq(
      (1L, "s1", "write to a.b@c.io today"),
      (2L, "s1", "see https://x.y/z now"),
      (3L, "s1", "account 1234567 flagged"),
      (4L, "s1", "clean text only"),
      (5L, "s2", "mail me x@y.zz"))
    val batch = TextAnalysis.piiPrevalence(
        rows.toDF("id", "source", "text"), "source", "text")
      .orderBy("source").collect().map(_.toSeq).toSeq
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val q = TextAnalysis.piiCounts(
        mem.toDS().toDF("id", "source", "text"), "source", "text")
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("pii_counts").start()
    try {
      // s1 spans both batches: the re-emitted counts fold by MAX
      mem.addData(rows(0), rows(1)); q.processAllAvailable()
      mem.addData(rows(2), rows(3), rows(4)); q.processAllAvailable()
      val folded = spark.table("pii_counts").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .groupBy(_._1).view
        .mapValues(vs => (vs.map(_._2._1).max, vs.map(_._2._2).max,
          vs.map(_._2._3).max, vs.map(_._2._4).max))
        .toSeq.map { case (s0, (d, e, u, n)) => (s0, d, e, u, n) }
      val online = TextAnalysis.piiRates(
          folded.toDF("source", "n_docs", "n_email", "n_url",
            "n_longnum"))
        .orderBy("source").collect().map(_.toSeq).toSeq
      assert(online == batch, s"online $online vs batch $batch")
    } finally q.stop()
  }

  test("streamingOovCounts: plan-literal vocab probe folds to the " +
      "batch join's exact counts through the shared rates") {
    import graft.ext.TextAnalysis
    val vocab = Seq("the", "fox").toDF("term")
    val rows = Seq((1L, "a", "the fox the dog"), (2L, "a", "cat"),
      (3L, "b", "zz yy"))
    val batch = TextAnalysis.oovRate(
        rows.toDF("id", "grp", "text"), "grp", "text", vocab)
      .orderBy("grp").collect().map(_.toSeq).toSeq
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val q = EventStreams.streamingOovCounts(
        mem.toDS().toDF("id", "grp", "text"), "grp", "text", vocab)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("oov_counts").start()
    try {
      mem.addData(rows(0)); q.processAllAvailable()
      mem.addData(rows(1), rows(2)); q.processAllAvailable()
      val folded = spark.table("oov_counts").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view
        .mapValues(vs => (vs.map(_._2._1).max, vs.map(_._2._2).max))
        .toSeq.map { case (g, (nt, no)) => (g, nt, no) }
      val online = TextAnalysis.oovRates(
          folded.toDF("grp", "n_tokens", "n_oov"))
        .orderBy("grp").collect().map(_.toSeq).toSeq
      assert(online == batch, s"online $online vs batch $batch")
    } finally q.stop()
  }

  test("streamingDiversityCounts: folded gram counts reproduce the " +
      "batch distinct-n monitor through the shared ratios") {
    import graft.ext.TextAnalysis
    // (5,'b') has leading+trailing whitespace: split(-1) keeps the
    // empty tokens, and BOTH sides must count them identically
    val docs = Seq((1L, "a", "x y x y x"), (2L, "a", "x y"),
      (3L, "a", "solo"), (4L, "b", "q w"), (5L, "b", " q w "))
    val batch = TextAnalysis.distinctNgramRatio(
        docs.toDF("id", "grp", "text"), "grp", "text", n = 2)
      .orderBy("grp").collect().map(_.toSeq).toSeq
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val q = TextAnalysis.groupedBigramCounts(
        mem.toDS().toDF("id", "grp", "text"), "grp", "text")
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("div_counts").start()
    try {
      // the ('a', 'x y') key spans both batches — MAX, not sum
      mem.addData(docs(0)); q.processAllAvailable()
      mem.addData(docs(1), docs(2), docs(3), docs(4))
      q.processAllAvailable()
      val folded = spark.table("div_counts").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toSeq
      val perGroup = folded.groupBy(_._1._1).toSeq
        .map { case (g, vs) => (g, vs.map(_._2).sum, vs.length.toLong) }
      val online = TextAnalysis.diversityRatios(
          perGroup.toDF("grp", "n_grams", "n_distinct"))
        .orderBy("grp").collect().map(_.toSeq).toSeq
      assert(online == batch, s"online $online vs batch $batch")
    } finally q.stop()
  }

  test("streamingFertilityCounts folded through temperatureMixture == " +
      "batch mixture weights (twin #39's derivation)") {
    import graft.ext.{Curation, TextAnalysis}
    val docs = Seq((1L, "en", "a b c d"), (2L, "en", "e f"),
      (3L, "fr", "x y z"), (4L, "de", "q"))
    val batch = Curation.temperatureMixture(
        TextAnalysis.withTokenCounts(
          docs.toDF("id", "grp", "text"), "text"),
        "grp", "n_tokens", alpha = 0.5)
      .orderBy("grp").collect().map(_.toSeq).toSeq
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val q = EventStreams.streamingFertilityCounts(
        mem.toDS().toDF("id", "grp", "text"), "grp", "text")
      .select(col("grp"), col("n_tokens"))
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("mix_counts").start()
    try {
      // 'en' spans both batches — MAX fold, monotone counts
      mem.addData(docs(0)); q.processAllAvailable()
      mem.addData(docs(1), docs(2), docs(3)); q.processAllAvailable()
      val folded = spark.table("mix_counts").collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toSeq
        .map { case (g, n) => (g, n) }
      val online = Curation.temperatureMixture(
          folded.toDF("grp", "n_tokens"), "grp", "n_tokens", 0.5)
        .orderBy("grp").collect().map(_.toSeq).toSeq
      assert(online == batch, s"online $online vs batch $batch")
    } finally q.stop()
  }

  test("streamingKnCounts: cross-batch MAX-fold converges to the batch " +
      "LM table through the shared continuation derivation") {
    import graft.ext.NgramLm
    val docs = Seq((1L, "the cat sat"), (2L, "the cat ran"), (3L, "cat"))
    val batch = NgramLm.continuationTable(NgramLm.ngrams(
        docs.toDF("id", "text"), "text", 2, None))
      .orderBy("w1", "w2").collect().map(_.toSeq).toSeq
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = NgramLm.ngrams(mem.toDS().toDF("id", "text"), "text", 2, None)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("kn_counts").start()
    try {
      // (the, cat) spans both batches — MAX, not sum
      mem.addData(docs(0)); q.processAllAvailable()
      mem.addData(docs(1), docs(2)); q.processAllAvailable()
      val folded = spark.table("kn_counts").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).max)
        .toSeq.map { case ((w1, w2), n) => (w1, w2, n) }
      val online = NgramLm.continuationTable(folded.toDF("w1", "w2", "n"))
        .orderBy("w1", "w2").collect().map(_.toSeq).toSeq
      assert(online == batch, s"online $online vs batch $batch")
    } finally q.stop()
  }

  test("streamingKnScoreEstimatedD: Update-mode serving at the " +
      "estimated discount converges to the batch scorer through the " +
      "shared facts/finish halves") {
    import graft.ext.NgramLm
    val train = Seq("the cat sat", "the cat ran").toDF("text")
    val model = NgramLm.train(train, "text", 2, NgramLm.Estimated)
    val docs = Seq((1L, "the cat sat"), (2L, "dog cat"),
      (3L, "the ran"), (4L, "solo"))
    val batch = NgramLm.scoreDocs(docs.toDF("doc_id", "text"), "doc_id",
        "text", model, 2, NgramLm.Estimated, None)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = NgramLm.facts(mem.toDS().toDF("doc_id", "text"), "doc_id",
        "text", model, 2, NgramLm.Estimated, None)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("kn_estd_score").start()
    try {
      mem.addData(docs(0), docs(1)); q.processAllAvailable()
      mem.addData(docs(2), docs(3)); q.processAllAvailable()
      val folded = spark.table("kn_estd_score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view
        .mapValues(vs => vs.maxBy(v => (v._2, v._3))).toSeq
        .map(_._2)
      val online = NgramLm.finish(docs.map(_._1).toDF("doc_id"),
          folded.toDF("doc_id", "n_bigrams", "sum_p_e9"), "doc_id", 2)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(online == batch, s"online $online vs batch $batch")
    } finally q.stop()
  }

  test("streamingLineQualityFilter: Append-legal, instance-identical " +
      "to the batch projection") {
    import graft.ext.Curation
    val docs = Seq((1L, "abcde fgh\nab 12"), (2L, "!!\n??"))
    val batch = Curation.lineQualityFilter(
        docs.toDF("doc_id", "text"), "doc_id", "text", 800000000L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = Curation.lineQualityFilter(
        mem.toDS().toDF("doc_id", "text"), "doc_id", "text", 800000000L)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("line_filter").start()
    try {
      mem.addData(docs: _*); q.processAllAvailable()
      val online = spark.table("line_filter").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      assert(online == batch, s"online $online vs batch $batch")
    } finally q.stop()
  }

  test("streamingFim: the batch projection is Append-legal on a real " +
      "stream and emits the identical instance rows") {
    import graft.ext.Curation
    val docs = Seq((1L, "abcdefgh"), (2L, "你好世界吧"), (3L, "x"))
    val batch = Curation.fimTransform(docs.toDF("doc_id", "text"),
        "doc_id", "text", "f1", rate = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSeq.sorted
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = Curation.fimTransform(mem.toDS().toDF("doc_id", "text"),
        "doc_id", "text", "f1", rate = 1.0)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("fim_stream").start()
    try {
      mem.addData(docs(0)); q.processAllAvailable()
      mem.addData(docs(1), docs(2)); q.processAllAvailable()
      val online = spark.table("fim_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getString(4))).toSeq.sorted
      assert(online == batch, s"online $online vs batch $batch")
    } finally q.stop()
  }

  test("replay harness leaves the session conf as it found it, also on failure") {
    val ndb = "spark.sql.streaming.noDataMicroBatches.enabled"
    val sc = spark.sparkContext
    // frames other suites cached in this shared session are not this
    // case's concern: start from an empty cache
    spark.catalog.clearCache()
    val before = spark.conf.getAll
    assert(!before.contains(ndb))
    val rdds = sc.getPersistentRDDs.keySet
    // one session, three replays: Append with no-data batches off
    // (q132), the flush sentinel (q186), Update on two state parts
    // (q152). None may leave a cached feed for the next one to read.
    Seq("q132_streaming_attribution", "q186_streaming_sessionize",
        "q152_streaming_percentiles").foreach { row =>
      graft.SparkEntry.queries(row)(spark, sf).collect()
      assert(spark.conf.getAll == before, row)
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$row left a cached plan")
      val added = sc.getPersistentRDDs.keySet -- rdds
      assert(added.isEmpty, s"$row left persisted RDDs $added")
    }
    // a failing op, with shuffle.partitions unset as well
    val parts = "spark.sql.shuffle.partitions"
    spark.conf.unset(parts)
    try {
      val unset = spark.conf.getAll
      val err = intercept[IllegalStateException](
        graft.entry.AnalyticQueries.replay[(Long, String)](spark,
          Seq((1L, "a")).toDS(), Seq(col("_1")))(
          _ => throw new IllegalStateException("op failed"),
          org.apache.spark.sql.streaming.OutputMode.Update()))
      assert(err.getMessage == "op failed")
      assert(spark.conf.getAll == unset)
    } finally spark.conf.set(parts, before(parts))
    assert(spark.conf.getAll == before)
  }
}
