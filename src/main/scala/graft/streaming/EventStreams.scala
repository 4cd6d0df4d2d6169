package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming pipelines over the `events` shape (event_id, ts,
  * user_id, event_type, value, props).
  *
  * The reference has no streaming surface (SURVEY §1.2: "no streams");
  * these are the scale-out extensions a continuously-ingested project
  * needs: the same transforms run identically on `spark.read` (backfill)
  * and `spark.readStream` (live), which is the point of the DataFrame
  * abstraction.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)

  /** Online constraint monitoring — [[graft.ext.Quality.windowedSuite]]
    * on a stream: per event-time window, violation counts for each
    * row-local check (range drift, unexpected categories, null bursts
    * — the error-rate dashboard feed). Pure windowed aggregation:
    * per-window partial sums, state bounded by a 1-hour watermark, no
    * per-key state at all. In Update mode the per-window counts are
    * emitted monotonically non-decreasing, so a keyed sink folds with
    * MAX per (window, check) — spec- and oracle-pinned (q131). */
  def streamingQuality(events: DataFrame,
      checks: Seq[graft.ext.Quality.Check],
      window_ : String = "5 minutes"): DataFrame =
    graft.ext.Quality.windowedSuite(
      events.withWatermark("ts", "1 hour"),
      org.apache.spark.sql.functions.window(col("ts"), window_),
      checks)
  /** Online boilerplate-frequency maintenance (the streaming twin of
    * the q171 batch delta, ext/Dedup.lineFrequencySnapshot): documents
    * arrive append-only, each contributes its DISTINCT line units once
    * (array_distinct is the map-side guarantee of the batch path's
    * countDistinct — a doc repeating a line never double-counts), and
    * one streaming aggregation maintains per-line document frequencies.
    * Update-mode emissions are monotone counts, so a keyed sink folds
    * with MAX (the [[streamingQuality]] convention); a read-time
    * `> maxDocFreq` filter over the folded state IS the live frequent
    * set — the boilerplate list is always current without rescanning
    * the corpus. State is bounded by distinct lines (the batch
    * artifact's own bound), the exact analogue of the persisted
    * (line_hash, n_docs) table; production keys on xxhash64(line)
    * (16-byte state rows) — the oracle row keys on the line itself so
    * DuckDB can replay it. */
  def streamingLineFrequency(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(array_distinct(
        graft.functions.TextFunctions.lineUnits(col(textCol))))
      .as("line"))
      .groupBy("line")
      .agg(count(lit(1)).as("n_docs"))

  /** [[streamingLineFrequency]] at CDC-CHUNK granularity — the online
    * form of the q178 batch chunk-frequency chain: docs arrive
    * append-only, each is chunked map-side by the native rolling-hash
    * boundary expression (ext/Dedup.withCdcChunkArray — pure column
    * ops, so the same code runs on the stream), contributes its
    * DISTINCT chunk digests once, and one streaming aggregation
    * maintains the (chunk_h, n_docs) artifact. Update emissions are
    * monotone counts → keyed sink folds with MAX; a read-time
    * `>= 2` filter is the live shared-chunk set that drives CDC dedup
    * decisions without rescanning history. State ∝ distinct chunks
    * (≈ corpus chars / modulus); keys are md5 digests so the DuckDB
    * oracle replays them — production would key xxhash64 for 16-byte
    * state rows. */
  def streamingChunkFrequency(docs: DataFrame, textCol: String,
      w: Int = 8, modulus: Int = 32): DataFrame =
    graft.ext.Dedup.withCdcChunkArray(docs, textCol, w, modulus)
      .select(explode(array_distinct(transform(
          filter(col("__chunks"), c => length(c) > 0), c => md5(c))))
        .as("chunk_h"))
      .groupBy("chunk_h")
      .agg(count(lit(1)).as("n_docs"))

  /** Online value-distribution monitoring: per event-time day window
    * and type, the 1/100th value-grid histogram (the Incremental
    * histogramState device as a WINDOWED streaming aggregation) —
    * pure windowed state bounded by a zero-delay watermark, no
    * per-key custom state.
    * Update-mode emissions are per-(window, type, unit) counts, which
    * are MONOTONE, so a keyed sink folds with MAX (the
    * [[streamingQuality]] convention); read-time rank selection over
    * the folded histogram gives exact online p50/p90/p99 per window
    * ([[graft.ext.Incremental.percentilesFromState]]). Emits
    * `(window_start_us, event_type, unit, c)` — epoch-micros window
    * bounds, the engine-portable form. */
  def streamingValueHistogram(events: Dataset[Event]): DataFrame =
    events.toDF()
      .withWatermark("ts", "0 seconds")
      .filter(col("value").isNotNull)
      .groupBy(
        org.apache.spark.sql.functions.window(col("ts"), "1 day"),
        col("event_type"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
          .as("unit"))
      .agg(count(lit(1)).as("c"))
      .select(unix_micros(col("window.start")).as("window_start"),
        col("event_type"), col("unit"), col("c"))

  /** Windowed mergeable CORRELATION state — the streaming face of
    * [[graft.ext.Incremental.corrState]]: per (day window, event
    * type) the exact integer sums of (x, y, x², y², xy), where
    * x = second-of-day and y = value in cents (both integer-quantized,
    * so every sum is exact LONG arithmetic — no decimal state needed;
    * magnitudes bounded: a day of 10⁹ cent-valued events stays under
    * int64). No custom state: a plain windowed streaming aggregate
    * under a zero-delay watermark, so Update emissions per key only grow —
    * callers fold by max n and rank-derive r/slope at read time
    * ([[graft.ext.Incremental.corrFinish]] casts the long sums the
    * same way it casts decimals). */
  def streamingCorrState(events: Dataset[Event]): DataFrame = {
    // products and sums accumulate in DECIMAL(38,0) (exact, cannot
    // wrap — the batch corrState discipline) and only render as LONG
    // at the output edge, where an out-of-range sum raises instead of
    // silently wrapping (non-ANSI long sums wrap negative; a garbage
    // pearson_r with no error is the one failure mode a monitor must
    // never have)
    def asLong(c: org.apache.spark.sql.Column, name: String) =
      when(c > lit(Long.MaxValue).cast("decimal(38,0)") ||
          c < lit(Long.MinValue).cast("decimal(38,0)"),
        raise_error(concat(lit(s"streamingCorrState: $name exceeds "),
          lit("int64 — widen the window or rescale the values"))))
        .otherwise(c.cast("long")).as(name)
    val x = col("__x").cast("decimal(38,0)")
    val y = col("__y").cast("decimal(38,0)")
    events.toDF()
      .withWatermark("ts", "0 seconds")
      .filter(col("value").isNotNull)
      .withColumn("__x",
        expr("(unix_micros(ts) % 86400000000) div 1000000"))
      .withColumn("__y",
        floor(col("value") * lit(100d) + lit(0.5d))
          .cast("decimal(38,0)"))
      // a value too wild even for DECIMAL(38,0) cents would cast to
      // NULL and silently desync the sums from n_rows — raise instead
      .withColumn("__y", when(col("__y").isNull,
        raise_error(lit("streamingCorrState: value out of cent " +
          "range"))).otherwise(col("__y")))
      .groupBy(
        org.apache.spark.sql.functions.window(col("ts"), "1 day"),
        col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(x).cast("decimal(38,0)").as("__sx"),
        sum(y).cast("decimal(38,0)").as("__sy"),
        sum(x * x).cast("decimal(38,0)").as("__sxx"),
        sum(y * y).cast("decimal(38,0)").as("__syy"),
        sum(x * y).cast("decimal(38,0)").as("__sxy"))
      .select(unix_micros(col("window.start")).as("window_start"),
        col("event_type"), col("n_rows"),
        asLong(col("__sx"), "sum_x"), asLong(col("__sy"), "sum_y"),
        asLong(col("__sxx"), "sum_xx"), asLong(col("__syy"), "sum_yy"),
        asLong(col("__sxy"), "sum_xy"))
  }

  final case class ClosedSession(user_id: Long, session_seq: Long,
      n_events: Long, total: Double, start_us: Long, end_us: Long)
  final case class GapState(seq: Long, nEvents: Long, total: Double,
      firstUs: Long, lastUs: Long)

  /** Event-time gap sessionization: a user's session closes when no event
    * arrives within `gapMs` of EVENT time — driven by a zero-delay
    * watermark, so
    * late data and wall-clock stalls don't corrupt sessions (unlike the
    * processing-time variant). Emits each session exactly once, on close:
    * mid-batch when a later event in the SAME micro-batch opens the next
    * session (the batch's events are buffered and walked in (micros,
    * event_id) order — per-key arrival order isn't guaranteed after the
    * groupByKey shuffle), or via the event-time timer when the watermark
    * passes last + gap. Timeline is exact MICROS (the batch
    * Sessionize/q53 timeline; millis alone would tie-break
    * same-millisecond events differently), and `session_seq` numbers a
    * user's sessions from 0 in time order — so under in-order,
    * watermark-respecting delivery the closed-session stream is
    * row-identical to the batch operator (oracle q186). Per-key state is
    * ONE open session + a counter; the per-batch sort buffers only one
    * user's slice of one micro-batch.
    *
    * State lifetime: after a session closes, a tiny EMPTY state row
    * (just the seq counter) is kept so the user's next session numbers
    * correctly. That row lives FOREVER — exact session_seq across any
    * silence, but state grows with distinct users ever seen. */
  def sessionizeByGap(events: Dataset[Event],
      gapMs: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GapState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[GapState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            // keep the counter (an empty-session state, no timer): a
            // remove() here would restart session_seq at 0 for the
            // user's next session
            state.update(GapState(s.seq + 1L, 0L, 0.0,
              Long.MaxValue, Long.MinValue))
            Iterator(ClosedSession(user, s.seq, s.nEvents, s.total,
              s.firstUs, s.lastUs))
          } else {
            val evs = batch.toArray
              .map(e => (exactMicros(e.ts), e.event_id, e.value))
              .sortBy(t => (t._1, t._2))
            var st = state.getOption
              .getOrElse(GapState(0L, 0L, 0.0, Long.MaxValue, Long.MinValue))
            val out =
              new scala.collection.mutable.ArrayBuffer[ClosedSession]()
            evs.foreach { case (t, _, v) =>
              if (st.nEvents > 0L && t - st.lastUs > gapUs) {
                out += ClosedSession(user, st.seq, st.nEvents, st.total,
                  st.firstUs, st.lastUs)
                st = GapState(st.seq + 1L, 0L, 0.0,
                  Long.MaxValue, Long.MinValue)
              }
              st = GapState(st.seq, st.nEvents + 1L, st.total + v,
                math.min(st.firstUs, t), math.max(st.lastUs, t))
            }
            state.update(st)
            state.setTimeoutTimestamp(
              Math.floorDiv(st.lastUs, 1000L) + gapMs)
            out.iterator
          }
      }
  }

  /** At-least-once ingest dedup: drops rows whose key was already seen
    * within the watermark horizon. Unlike plain `dropDuplicates` on a
    * stream (whose key state grows forever), per-key state is evicted
    * once the watermark passes it — bounded state at any ingest volume,
    * which is the only form that survives an unbounded 100 TB/day feed.
    * A duplicate arriving after its key's state was evicted re-emits;
    * size the watermark to the source's redelivery window. */
  def dedupWithinWatermark(events: DataFrame,
      idCols: Seq[String] = Seq("event_id"),
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-vs-snapshot dedup — the online form of
    * [[graft.ext.Dedup.newRowsBloom]]: pass only stream rows whose
    * `key` does NOT exist in a static snapshot. The snapshot's Bloom
    * bitmap is built ONCE at plan time and rides into every micro-batch
    * as a plan literal; a negative probe is definite absence, so those
    * rows pass with zero join work (at typical delta-vs-corpus overlap,
    * almost every row). Only bloom-hit candidates anti-join the
    * broadcast snapshot key set — stateless (no state store, no
    * watermark), exactly the stream-static join contract.
    *
    * Contract: the snapshot KEY SET must be broadcastable (its bitmap
    * already is, 128 MB guard). The bitmap is sized for 1% false
    * positives by a plan-time count of the snapshot.
    * `key` must be an unresolved column expression valid on both
    * frames. */
  def streamNewRows(stream: DataFrame, snapshot: DataFrame,
      key: org.apache.spark.sql.Column): DataFrame = {
    val n = math.max(1L, snapshot.count())
    val (bits, k) = graft.ext.Sketches.buildBloomBits(
      snapshot.select(xxhash64(key).as("__k")), "__k", n, 0.01)
    val probe = graft.ext.Sketches.bloomMightContain(
      xxhash64(key), bits, k)
    val snapKeys = snapshot.select(key.as("__h")).distinct()
    // a null probe (possible only if a caller-supplied key expression
    // reaches the null-intolerant probe un-hashed) must land in the
    // definite-new branch, matching batch newRowsBloom, where the anti
    // join KEEPS null-key rows — a bare `!probe` would drop them from
    // both branches
    stream.filter(coalesce(probe, lit(false)))
      .join(broadcast(snapKeys), key === col("__h"), "leftanti")
      .unionByName(stream.filter(!coalesce(probe, lit(false))))
  }

  /** Ceilings on what the stateless gates below collect to the driver
    * and ship into every micro-batch as plan literals. */
  private val MaxEvalShingles = 4 << 20
  private val MaxEvalItems = 1 << 14
  private val MaxMixtureGroups = 1 << 16
  private val MaxVocab = 4 << 20
  private val MaxModelRows = 1 << 20

  /** Online benchmark-contamination gate — the streaming form of
    * [[graft.ext.Curation.contamination]]: per arriving document, the
    * fraction of its DISTINCT word n-gram shingles that occur anywhere
    * in the held-out eval corpus. STATELESS: the eval shingle set is
    * xxhash64-collapsed and collected to ONE plan-literal long set
    * probed per shingle (`graft_in_long_set`, O(1) per probe — the
    * removeBoilerplateLines device; an eval suite is KBs–MBs of
    * shingles, loud [[MaxEvalShingles]] guard), so every micro-batch is
    * a map-only scan. Exactness rides on 64-bit hash equality — the
    * same assumption the line-dedup winner election already makes; the
    * batch operator's string-equality join is the collision-free form
    * when that matters. Null-text docs emit nothing (the batch
    * contract: they can't be contaminated). */
  def streamingContamination(docs: DataFrame, idCol: String,
      textCol: String, evalSet: DataFrame, n: Int = 3): DataFrame = {
    val hs = evalSet
      .select(explode(graft.functions.expressions.TextExpressions
        .wordShingles(col("text"), n)).as("__s"))
      .select(xxhash64(col("__s")).as("__h")).distinct()
      .limit(MaxEvalShingles + 1).collect().map(_.getLong(0))
    require(hs.length <= MaxEvalShingles,
      s"eval corpus exceeds $MaxEvalShingles distinct shingles — too " +
        "large for a plan literal; use the batch contamination join")
    val setLit = typedlit(hs)
    val withSh = docs.filter(col(textCol).isNotNull)
      .withColumn("__sh", graft.functions.expressions.TextExpressions
        .wordShingles(col(textCol), n))
      // both counts projected to attributes BEFORE the ratio references
      // them (the HOF multi-reference rule)
      .withColumn("__n", size(col("__sh")).cast("long"))
      .withColumn("__hit",
        size(filter(col("__sh"), s => graft.functions.expressions
          .SketchExpressions.inLongSet(xxhash64(s), setLit)))
          .cast("long"))
    withSh.select(col(idCol), col("__n").as("n_shingles"),
      col("__hit").as("n_contaminated"),
      (col("__hit").cast("double") / col("__n").cast("double"))
        .as("contamination"))
  }

  /** Mixture execution at ingest — the streaming form of
    * [[graft.ext.Curation.executeMixture]]: the |groups|-row
    * allocation artifact (trained once in batch, e.g. UniMax q217)
    * rides as plan-literal maps (group → full epochs, group →
    * fractional threshold), and every arriving document expands
    * stateless into its (doc, epoch) training instances — full epochs
    * unconditionally, the fractional epoch by the same md5 threshold
    * as the batch operator (per-(seed, id) hash, so the online stream
    * and the batch expansion are the same instance list). explode is
    * stateless, so the plan is Append-legal with no watermark. Groups
    * absent from the allocation emit nothing (the batch inner-join
    * contract). `element_at` on map literals is a linear probe — fine
    * for mixture groups (languages/domains), guarded by
    * [[MaxMixtureGroups]]. */
  def streamingMixtureExecute(docs: DataFrame, idCol: String,
      groupCol: String, alloc: DataFrame, seed: String): DataFrame = {
    val rows = alloc.where(col("n_tokens") > 0)
      .select(col(groupCol).cast("string").as("__g"),
        expr("alloc_tokens div n_tokens").as("__ef"),
        expr("CAST((alloc_tokens % n_tokens) AS DECIMAL(20,0))" +
          " * 4294967296 div n_tokens").as("__th"))
      .limit(MaxMixtureGroups + 1).collect()
    require(rows.length <= MaxMixtureGroups,
      s"allocation exceeds $MaxMixtureGroups groups — too large for plan " +
        "literals; use the batch executeMixture join")
    val efullLit = typedlit(rows.map(r =>
      r.getString(0) -> r.getLong(1)).toMap)
    val threshLit = typedlit(rows.map(r =>
      r.getString(0) -> r.getLong(2)).toMap)
    docs
      .withColumn("__ef", element_at(efullLit, col(groupCol)))
      .withColumn("__th", element_at(threshLit, col(groupCol)))
      .where(col("__ef").isNotNull)
      .select(col(idCol), col(groupCol),
        explode(sequence(lit(0L), col("__ef"))).as("epoch"),
        col("__ef"), col("__th"))
      .where(col("epoch") < col("__ef") ||
        graft.ext.Curation.hashU32(seed, col(idCol)) < col("__th"))
      .select(col(idCol), col(groupCol), col("epoch"))
  }

  /** Online OOV-rate maintenance — the streaming half of
    * [[graft.ext.TextAnalysis.oovRate]]: the vocabulary collapses to
    * an xxhash64 plan-literal long set (the [[streamingContamination]]
    * device, loud [[MaxVocab]] guard) probed per token IN-SCAN, so the
    * per-row (tokens, oov) counts are map-only and ONE Update-mode
    * per-group aggregation carries the monotone sums → MAX fold; the
    * rate derives through the SHARED
    * [[graft.ext.TextAnalysis.oovRates]] expressions. Exactness rides
    * on 64-bit hash equality — the batch join is the collision-free
    * form. State ∝ |groups|. */
  def streamingOovCounts(docs: DataFrame, groupCol: String,
      textCol: String, vocab: DataFrame): DataFrame = {
    val hs = vocab.select(xxhash64(col("term")).as("__h")).distinct()
      .limit(MaxVocab + 1).collect().map(_.getLong(0))
    require(hs.length <= MaxVocab,
      s"vocabulary exceeds $MaxVocab distinct terms — too large for a " +
        "plan literal; use the batch oovRate join")
    val setLit = typedlit(hs)
    val toks = filter(graft.functions.TextFunctions.tokens(
      coalesce(col(textCol), lit(""))), t => length(t) > 0)
    docs
      .withColumn("__nt", size(toks).cast("long"))
      .withColumn("__oov",
        size(filter(toks, t => !graft.functions.expressions
          .SketchExpressions.inLongSet(xxhash64(t), setLit)))
          .cast("long"))
      .groupBy(col(groupCol))
      .agg(sum(col("__nt")).as("n_tokens"),
        sum(col("__oov")).as("n_oov"))
  }

  /** Online distribution-drift count maintenance — the streaming half
    * of [[graft.ext.Stats.chiSquareDrift]]: ONE Update-mode per-bucket
    * aggregation keeps both sides' counts fresh as rows arrive (both
    * sums ride the single aggregation). Counts are MONOTONE → MAX
    * fold; the χ² derives from the folded counts through the SHARED
    * [[graft.ext.Stats.chiSquareFromCounts]] expressions. State ∝
    * |buckets|. */
  def streamingDriftCounts(rows: DataFrame, bucketCol: String,
      currentCol: String): DataFrame =
    rows.groupBy(col(bucketCol).as("bucket"))
      .agg(
        sum(when(coalesce(col(currentCol), lit(false)), 0L)
          .otherwise(1L)).as("n_ref"),
        sum(when(coalesce(col(currentCol), lit(false)), 1L)
          .otherwise(0L)).as("n_cur"))

  /** Online confusion-matrix maintenance — the streaming half of
    * [[graft.ext.Stats.classificationReport]]: predictions are a
    * stateless per-row projection upstream (lang-ID, a pinned
    * classifier, any pure scoring column), and ONE Update-mode
    * (truth, pred) count aggregation keeps the confusion matrix fresh
    * as labeled examples arrive. Counts are MONOTONE → MAX fold; the
    * per-class report derives from the folded matrix through the
    * SHARED [[graft.ext.Stats.classificationReportFromMatrix]]
    * expressions, so the twins cannot drift. State ∝ |classes|². */
  def streamingConfusionCounts(docs: DataFrame, truthCol: String,
      predCol: String): DataFrame =
    docs.groupBy(col(truthCol).as("truth"), col(predCol).as("pred"))
      .agg(count(lit(1)).as("n"))

  /** Online tokenizer-fertility maintenance — the streaming half of
    * [[graft.ext.TextAnalysis.tokenizerFertility]]: ONE Update-mode
    * per-group aggregation keeps the exact count/token/subword/char
    * sums fresh as documents arrive (all four ride in the single
    * aggregation — a second agg in one streaming query is illegal).
    * Every sum is MONOTONE non-decreasing, so the exactly-once fold is
    * MAX per (group, column); the ratios derive from the folded sums
    * through the SHARED [[graft.ext.TextAnalysis.fertilityRatios]]
    * expressions, so the twins cannot drift. State ∝ |groups| — the
    * report itself, never the corpus. */
  def streamingFertilityCounts(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame =
    graft.ext.TextAnalysis.withTokenCounts(docs, textCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars"))

  /** Online eval-side leakage facts — the streaming half of
    * [[graft.ext.Curation.evalLeakage]]: per arriving corpus document,
    * one (idCol, eval_id, containment_e9) fact for every eval item it
    * shares a shingle with. STATELESS (Append-legal, no watermark):
    * each eval item's distinct shingle set rides as an xxhash64
    * plan-literal array and the per-item hit count is
    * `size(array_intersect(doc hashes, item hashes))` — per document
    * O(Σ|item|+|evals|·|doc|) array work, right for bounded benchmark
    * suites (loud [[MaxEvalItems]]/[[MaxEvalShingles]] guards; a huge
    * suite belongs in the batch join). Exactness rides on 64-bit hash
    * equality — the [[streamingContamination]] caveat. The per-eval
    * ROLLUP (max containment, worst doc, τ count) is the fold's batch
    * decision downstream: what streams is the corpus-sized half.
    * Null-text docs emit nothing (the batch contract). */
  def streamingEvalLeakage(docs: DataFrame, idCol: String,
      textCol: String, evalSet: DataFrame, evalIdCol: String,
      evalTextCol: String, n: Int = 3): DataFrame = {
    val items = evalSet
      .select(col(evalIdCol).cast("long").as("__eid"),
        transform(graft.functions.expressions.TextExpressions
          .wordShingles(col(evalTextCol), n), s => xxhash64(s))
          .as("__hs"))
      .limit(MaxEvalItems + 1)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    require(items.length <= MaxEvalItems,
      s"eval suite exceeds $MaxEvalItems items — too large for plan " +
        "literals; use the batch evalLeakage join")
    require(items.map(_._2.length.toLong).sum <= MaxEvalShingles,
      s"eval suite exceeds $MaxEvalShingles total shingles — too " +
        "large for plan literals; use the batch evalLeakage join")
    val probes = items.map { case (eid, hs) =>
      struct(lit(eid).as("eval_id"),
        size(array_intersect(col("__dh"), typedlit(hs))).cast("long")
          .as("hits"),
        lit(hs.length.toLong).as("n"))
    }
    docs.filter(col(textCol).isNotNull)
      .withColumn("__dh",
        transform(graft.functions.expressions.TextExpressions
          .wordShingles(col(textCol), n), s => xxhash64(s)))
      .select(col(idCol), explode(array(probes: _*)).as("__e"))
      .where(col("__e").getField("hits") > 0)
      .select(col(idCol),
        col("__e").getField("eval_id").as("eval_id"),
        expr("(__e.hits * 1000000000) div __e.n").as("containment_e9"))
  }

  /** Online classifier gate — the streaming form of
    * [[graft.ext.TextAnalysis.classifyLinear]] (the model-based
    * filtering stage of a curation stack, applied at ingest time):
    * per document, score(label) = prior + Σ_token w(token, label)
    * (unseen tokens contribute the per-label `unseen` weight), argmax
    * with the batch operator's (score desc, label asc) tie-break.
    *
    * ENTIRELY STATELESS and aggregation-free, so the plan is
    * append-mode legal with no watermark: the batch operator's
    * explode → broadcast-join → per-doc aggregation → rank-1 window
    * can't stream (unwatermarked aggregation + windows are illegal in
    * Append mode), so the same exact-decimal arithmetic is re-expressed
    * per ROW — one `aggregate()` fold over the token array per label,
    * against the model collected to a CONSTANT-FOLDED map literal that
    * rides into every micro-batch (the plan-literal device of
    * [[streamNewRows]]'s bloom). Values are bit-identical to
    * classifyLinear: every add is exact decimal (fold accumulator
    * decimal(38,9); magnitudes bounded), matched and unseen tokens
    * contribute exactly the batch formula's terms, and the argmax is
    * array_min over (−score, label) structs — same tie-break.
    *
    * Scale contract: the model must be collectible ([[MaxModelRows]]
    * guard, loud). `element_at` on a map LITERAL is a per-token linear
    * probe — O(|vocab|·tokens) per doc — which is fine for the pinned
    * marker-word gates this twin exists for; a 10⁶-term fastText vocab
    * belongs in the batch broadcast-join
    * [[graft.ext.TextAnalysis.classifyLinear]], not in a plan literal. */
  def streamingClassifierGate(docs: DataFrame, idCol: String,
      textCol: String, termWeights: DataFrame,
      priors: DataFrame): DataFrame = {
    val (withT, scores) = linearScoreColumns(docs, textCol,
      termWeights, priors)
    val entries = scores.map { case (lab, score) =>
      struct((lit(java.math.BigDecimal.ZERO).cast("decimal(27,9)") - score)
          .as("neg"),
        lit(lab).as("label"), score.as("score"))
    }
    val best = array_min(array(entries: _*))
    withT.select(col(idCol), best.getField("label").as("label"),
      best.getField("score").cast("decimal(18,9)").as("score"))
  }

  /** Online DSIR importance scoring — the streaming form of
    * [[graft.ext.TextAnalysis.importanceWeights]]: per arriving
    * document, the exact-decimal log-likelihood-ratio weight
    * score(targetLabel) − score(rawLabel) under a pinned two-class
    * model. Same stateless per-row fold device (and the same scale
    * contract) as [[streamingClassifierGate]]; the SELECTION over the
    * scored pool (top-k by weight) is a batch decision downstream —
    * what streams is the scoring, which is the corpus-sized half. */
  def streamingImportanceGate(docs: DataFrame, idCol: String,
      textCol: String, termWeights: DataFrame, priors: DataFrame,
      targetLabel: String, rawLabel: String): DataFrame = {
    val (withT, scores) = linearScoreColumns(docs, textCol,
      termWeights, priors)
    val sMap = scores.toMap
    require(sMap.contains(targetLabel) && sMap.contains(rawLabel),
      s"model priors must cover '$targetLabel' and '$rawLabel' " +
        s"(have ${scores.map(_._1).mkString(", ")})")
    // the same tight re-cast before the subtraction as the batch
    // operator's sum: (28,9) − (28,9) → (29,9), exact
    withT.select(col(idCol),
      (sMap(targetLabel).cast("decimal(28,9)") -
        sMap(rawLabel).cast("decimal(28,9)")).as("weight"))
  }

  /** Online threshold-calibration maintenance — the streaming half of
    * [[graft.ext.Stats.thresholdSweep]]: as labeled calibration docs
    * arrive, ONE Update-mode aggregation keeps the per-(score, truth)
    * example counts fresh (score = the pinned linear model's `label`
    * score as a scaled BIGINT, the same stateless per-row fold as
    * [[streamingClassifierGate]]). Counts are MONOTONE, so the
    * exactly-once fold is MAX per key; the PR-curve itself (cumulative
    * confusion counts, floor-e9 ratios) is an exact derivation over
    * the folded table through the SAME shared code path —
    * [[graft.ext.Stats.thresholdSweepCounts]] — the batch sweep uses,
    * so the twins cannot drift. NULL truth counts as negative (the
    * batch contract). State ∝ distinct scores × 2 — the collapsed
    * calibration table, never the corpus. */
  def streamingScoreCounts(docs: DataFrame, textCol: String,
      truthCol: String, termWeights: DataFrame, priors: DataFrame,
      label: String): DataFrame = {
    val (withT, scores) = linearScoreColumns(docs, textCol,
      termWeights, priors)
    val sMap = scores.toMap
    require(sMap.contains(label),
      s"model priors must cover '$label' " +
        s"(have ${scores.map(_._1).mkString(", ")})")
    withT.select(
        (sMap(label).cast("decimal(18,9)") *
          lit(1000000000L).cast("decimal(10,0)"))
          .cast("bigint").as("threshold_e9"),
        coalesce(col(truthCol), lit(false)).as("is_pos"))
      .groupBy("threshold_e9", "is_pos")
      .agg(count(lit(1)).as("n"))
  }

  /** Sentinel "term" counted once per document by
    * [[streamingTermCounts]] (leading \u0001 control char — absent
    * from any realistic token stream). The fold's presence guard only
    * detects MISSING sentinel rows, never collisions, so the operator
    * itself RAISES on any corpus token equal to this exact string: a
    * colliding token would otherwise inflate per-label doc counts and
    * vanish from the term counts silently. (Spelled as an explicit
    * escape — a raw control byte in source is invisible to review,
    * which is how the comment and the constant once drifted apart in
    * a reviewer's reading.) */
  val DocSentinel = "\u0001doc"

  /** Online (label, term) count maintenance — the streaming half of
    * the NB trainer (q196's exact-integer core kept fresh as labeled
    * documents arrive): one Update-mode aggregation counting each
    * (label, term) token instance PLUS one [[DocSentinel]] marker per
    * document, so per-label doc counts ride in the same single
    * streaming aggregation (a second aggregation in one streaming
    * query is illegal). Counts are MONOTONE non-decreasing, so the
    * exactly-once fold is MAX per key; the trainer's rollups (label
    * token totals, vocabulary size, doc totals) are exact derivations
    * over the folded table — the same rollups the batch
    * trainNaiveBayesCounts computes from ITS termCounts aggregate.
    * State ∝ vocab × labels (+ |labels| sentinel rows) — the bounded
    * model artifact, never the corpus. */
  def streamingTermCounts(docs: DataFrame, labelCol: String,
      textCol: String): DataFrame =
    docs.select(col(labelCol).as("label"),
        explode(concat(array(lit(DocSentinel)),
          transform(
            filter(graft.functions.TextFunctions.tokens(
              coalesce(col(textCol), lit(""))), t => length(t) > 0),
            t => when(t === lit(DocSentinel), raise_error(lit(
                "streamingTermCounts: corpus token collides with the " +
                  "doc-count sentinel — doc counts would corrupt")))
              .otherwise(t))))
          .as("term"))
      .groupBy("label", "term")
      .agg(count(lit(1)).as("n"))

  /** The shared stateless core of the linear-model streaming gates:
    * per label, ONE `aggregate()` fold over the document's token array
    * against the model collected to a constant-folded map literal.
    * Returns the tokenized frame and the (label asc, score Column)
    * pairs. Accumulator pinned at decimal(27,9): (27,9)+(18,9) →
    * (28,9) (the 38 cap is never reached, so scale is never shed — a
    * (38,9) accumulator hits the cap and Spark silently rounds to
    * scale 8), and the step-down cast back to (27,9) is exact for
    * these bounded magnitudes (|score| < |prior| + tokens·max|w|,
    * 18 integral digits of headroom). */
  private def linearScoreColumns(docs: DataFrame, textCol: String,
      termWeights: DataFrame, priors: DataFrame)
      : (DataFrame, Seq[(String, org.apache.spark.sql.Column)]) = {
    val pr = priors.select(col("label"),
        col("prior").cast("decimal(18,9)"),
        col("unseen").cast("decimal(18,9)"))
      .limit(MaxModelRows + 1).collect()
    require(pr.length <= MaxModelRows && pr.nonEmpty,
      s"priors table must have 1..$MaxModelRows rows (got ${pr.length})")
    val w = termWeights.select(col("term"), col("label"),
        col("weight").cast("decimal(18,9)"))
      .limit(MaxModelRows + 1).collect()
    require(w.length <= MaxModelRows,
      s"model exceeds $MaxModelRows rows — use the batch " +
        "classifyLinear (broadcast-join form) for vocabularies this large")
    val byLabel = w.groupBy(_.getString(1)).view
      .mapValues(_.map(r => (r.getString(0), r.getDecimal(2))).toSeq)
      .toMap
    val toks = filter(
      graft.functions.TextFunctions.tokens(
        coalesce(col(textCol), lit(""))),
      t => length(t) > 0)
    val withT = docs.withColumn("__t", toks)
    val prByLabel = pr.map(r =>
      r.getString(0) -> ((r.getDecimal(1), r.getDecimal(2)))).toMap
    val scores = pr.map(_.getString(0)).sorted.toSeq.map { lab =>
      val (prior, unseen) = prByLabel(lab)
      val terms = byLabel.getOrElse(lab, Seq.empty)
      val unseenLit = lit(unseen).cast("decimal(18,9)")
      // all-literal map_from_arrays: ConstantFolding collapses it to
      // one map literal, so the lambda's reference is a constant, not
      // a per-element rebuild (the HOF re-eval rule)
      val lookup: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (terms.isEmpty) _ => unseenLit
        else {
          val m = map_from_arrays(
            array(terms.map(t => lit(t._1)): _*),
            array(terms.map(t => lit(t._2).cast("decimal(18,9)")): _*))
          t => coalesce(element_at(m, t), unseenLit)
        }
      lab -> aggregate(col("__t"),
        lit(prior).cast("decimal(27,9)"),
        (acc, t) => (acc + lookup(t)).cast("decimal(27,9)"))
    }
    (withT, scores)
  }

  /** Online repetition-quality gate — the streaming form of
    * [[graft.ext.TextAnalysis.repetitionSignals]] (the Gopher/
    * MassiveText repetition rules applied at ingest time): ENTIRELY
    * STATELESS. The duplicate-n-gram fractions are the batch
    * operator's own map-only array ops (shared code, can't drift);
    * the top-word share — a per-doc groupBy in batch, illegal in an
    * Append-mode streaming plan — is re-expressed per ROW as a
    * bounded HOF fold: max over the doc's DISTINCT tokens of that
    * token's occurrence count. O(tokens · distinct) per document,
    * bounded by the document itself — never corpus state (the lambda
    * references only the projected `__t` attribute, so there is no
    * per-element re-eval of a non-trivial expression). Same exact
    * integer counts, same single divisions — faces q213's own oracle
    * SQL row-for-row. */
  def streamingRepetitionGate(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val withF = graft.ext.TextAnalysis
      .withRepetitionFractions(docs, idCol, textCol)
    val mx = array_max(transform(array_distinct(col("__t")),
      d => size(filter(col("__t"), x => x === d)).cast("long")))
    withF.select(col(idCol), col("__sz").as("n_tokens"),
      col("dup_bigram_frac"), col("dup_trigram_frac"),
      when(col("__sz") > 0,
        mx.cast("double") / col("__sz").cast("double"))
        .otherwise(lit(0.0)).as("top_word_frac"))
  }

  /** Online ANN serving against SAVED SQ8 codes — the serving shape
    * the on-codes paths ([[graft.ext.Similarity.sq8TopKOnCodes]])
    * exist for, completing their claim: the corpus is trained and
    * encoded ONCE at ingest (the persisted (id, sq8_code) byte-code
    * table plus the per-dim min/max artifact); QUERIES arrive as the
    * stream. Per micro-batch each arriving vector is encoded map-only
    * against the plan-literal artifact ([[graft.ext.Similarity
    * .sq8Encode]] — the identical rounding formula the ingest side
    * used), then scored against the static code table with the EXACT
    * INTEGER symmetric distance Σ(Δcode)² — a stateless stream-static
    * join (no state store, no watermark, no window: append-legal),
    * emitting immutable (q_id, n_id, sqdist) facts. The per-query
    * top-k cut is the consumer's fold over those facts — an exact
    * integer sort, the [[streamingImportanceGate]] convention: what
    * streams is the corpus-sized scoring half.
    *
    * Scale contract: the static side of a stream-static join
    * re-evaluates per micro-batch — pass a MATERIALIZED codes frame
    * (cache / localCheckpoint / a table read); each batch then scans
    * byte codes, 4× less memory traffic than the float corpus, which
    * is the point of serving on codes. */
  def streamingSq8Serve(queries: DataFrame, idCol: String,
      vecCol: String, codes: DataFrame, codeIdCol: String,
      codeCol: String, minMax: DataFrame): DataFrame = {
    val q = graft.ext.Similarity.sq8Encode(
        queries.select(col(idCol).as("q_id"), col(vecCol).as("__qv")),
        "__qv", minMax, out = "__qc")
      .select(col("q_id"), col("__qc"))
    val c = codes.select(col(codeIdCol).as("n_id"),
      col(codeCol).as("__nc"))
    q.crossJoin(c)
      .filter(col("n_id") =!= col("q_id"))
      // per-pair deltas projected BEFORE the fold references them (the
      // HOF multi-reference rule; mirrors sq8TopKOnCodes exactly)
      .withColumn("__d", zip_with(col("__qc"), col("__nc"),
        (a, b) => ((a - b) * (a - b)).cast("long")))
      .withColumn("sqdist",
        aggregate(col("__d"), lit(0L), (acc, x) => acc + x))
      .select("q_id", "n_id", "sqdist")
  }

  /** Cell-keyed streaming ANN serving — the SUBLINEAR upgrade of
    * [[streamingSq8Serve]] (which scans every code per micro-batch):
    * arriving query vectors SQ8-encode map-only against the saved
    * [[graft.ext.Similarity.sq8MinMax]] artifact, fan out to their
    * nearest coarse cell against the saved centroid table
    * (both plan literals — [[graft.ext.Similarity.probeAssign]], the
    * exact query-side assignment of the batch trained-IVF path), and
    * stream-static EQUI-join on the cell id against the materialized
    * coded corpus — per-batch candidates are ∝ the probed cells'
    * population, not the corpus. Emits (q_id, n_id, sqdist) integer
    * candidate facts; the top-k cut is the consumer fold's decision
    * (append mode has no window — the q205 convention). Entirely
    * stateless: no state store, no watermark; value-parity with the
    * batch [[graft.ext.Similarity.ivfSq8TopK]] is exact because both
    * sides share the encode, the assignment tiebreak, and the
    * all-integer symmetric distance.
    *
    * `codes` must carry (codeIdCol, cellCol, codeCol) — the at-ingest
    * assign+encode artifact (materialize it: static sides of
    * stream-static joins re-evaluate per micro-batch). */
  def streamingIvfSq8Serve(queries: DataFrame, idCol: String,
      vecCol: String, codes: DataFrame, codeIdCol: String,
      cellCol: String, codeCol: String, minMax: DataFrame,
      centroids: DataFrame): DataFrame = {
    val enc = graft.ext.Similarity.sq8Encode(
      queries.select(col(idCol).as("q_id"), col(vecCol).as("__qv")),
      "__qv", minMax, out = "__qc")
    val q = graft.ext.Similarity.probeAssign(enc, "__qv", centroids)
      .select(col("q_id"), col("cid"), col("__qc"))
    val c = codes.select(col(codeIdCol).as("n_id"),
      col(cellCol).as("cid"), col(codeCol).as("__nc"))
    q.join(c, Seq("cid"))
      .filter(col("n_id") =!= col("q_id"))
      // per-pair deltas projected BEFORE the fold references them (the
      // HOF multi-reference rule; mirrors sq8TopKOnCodes exactly)
      .withColumn("__d", zip_with(col("__qc"), col("__nc"),
        (a, b) => ((a - b) * (a - b)).cast("long")))
      .withColumn("sqdist",
        aggregate(col("__d"), lit(0L), (acc, x) => acc + x))
      .select("q_id", "n_id", "sqdist")
  }

  /** STREAM×STREAM near-duplicate pairs (two new docs arriving near
    * in time, which a stream-vs-snapshot join cannot pair): a
    * WATERMARKED SELF-JOIN of the arriving stream on its LSH band keys. Each arriving doc computes its
    * k-minhash signature and band keys map-only (the SAME
    * minhashSignature/bandKeys columns as the batch operator, so the
    * candidate sets agree); the stream joins ITSELF on (band, bkey)
    * with `a_id < b_id` and a ±1 hour event-time range — Spark
    * buffers each side's rows in the state store and matches ACROSS
    * micro-batches, so a pair split over two batches still pairs up;
    * the watermark bounds the state to 1 hour of event time (the
    * honest stream-stream cost: state ∝ docs per window × bands).
    * Verification is the batch operator's own exact jaccard over the
    * two distinct-shingle arrays, carried through the join. Signatures
    * are 12 minhashes of word 3-gram shingles in 4 bands; pairs at
    * jaccard >= 0.5 survive.
    *
    * Two state shapes (verdict r16 what's-wrong #3):
    *
    *   - `docShingles = None` (self-contained): the distinct-shingle
    *     arrays ride through the join state on BOTH sides × bands
    *     copies, and verification happens in-join. At 100 TB-rate
    *     ingest that multiplies state by the shingle payload — fine
    *     for bounded windows, documented cost otherwise.
    *   - `docShingles = Some(store)` (the LEAN production shape —
    *     the batch operator's own two-phase candidates→verify
    *     pattern): join state carries ONLY (id, ts, band, bkey);
    *     candidate pairs dedup IN-STREAM to once-per-pair via
    *     `dropDuplicatesWithinWatermark` (band copies of a pair share
    *     event times, so every copy lands inside the watermark), and
    *     the exact jaccard verify runs DOWNSTREAM as two STATELESS
    *     stream-static equi-joins against the persisted doc-shingle
    *     store ((id, shingle-array) — the at-ingest sink both
    *     streaming dedup twins already materialize). The store must
    *     contain every doc at-or-before its micro-batch (true of an
    *     at-ingest sink by construction).
    *
    * Contracts: (1) with a store, EXACTLY once per pair (the batch
    * contract); self-contained, at-least-once per pair — once per
    * colliding band, dedupe downstream. (2) pairs farther apart
    * than 1 hour in event time do NOT pair here — they are the
    * snapshot compaction's job
    * ([[graft.ext.Dedup.minhashNearDupDelta]]). Append-legal. */
  def streamStreamMinhashPairs(docs: DataFrame, idCol: String,
      textCol: String, tsCol: String,
      docShingles: Option[DataFrame] = None): DataFrame = {
    import graft.functions.TextFunctions.{bandKeys, minhashSignature}
    def shArr(c: org.apache.spark.sql.Column) =
      graft.functions.expressions.TextExpressions.wordShingles(c, 3)
    val lean = docShingles.isDefined
    val base = docs
      .select(col(idCol).as("__sid"),
        col(tsCol).cast("timestamp").as("__ts"),
        shArr(col(textCol)).as("__sharr"))
      // signature projected BEFORE bandKeys slices it (the q187 4x
      // lesson)
      .select(col("__sid"), col("__ts"), col("__sharr"),
        minhashSignature(col("__sharr"), 12).as("__sig"))
      .select(col("__sid"), col("__ts"), col("__sharr"),
        explode(bandKeys(col("__sig"), 4, 3)).as("__b"))
      .select(col("__sid"), col("__ts"), col("__sharr"),
        col("__b.band").as("band"), col("__b.bkey").as("bkey"))
    // the lean path drops the shingle payload BEFORE anything enters
    // the join state — that column-prune is the entire point
    val withBands =
      (if (lean) base.drop("__sharr") else base)
        .withWatermark("__ts", "1 hour")
    val lCols = Seq(col("__sid").as("a_sid"),
      col("__ts").as("a_ts"), col("band"), col("bkey")) ++
      (if (lean) Nil else Seq(col("__sharr").as("a_sh")))
    val rCols = Seq(col("__sid").as("b_sid"),
      col("__ts").as("b_ts"), col("band").as("band2"),
      col("bkey").as("bkey2")) ++
      (if (lean) Nil else Seq(col("__sharr").as("b_sh")))
    val joined = withBands.select(lCols: _*).join(
      withBands.select(rCols: _*),
      col("band") === col("band2") && col("bkey") === col("bkey2") &&
        col("a_sid") < col("b_sid") &&
        expr("b_ts BETWEEN a_ts - INTERVAL 1 hour" +
          " AND a_ts + INTERVAL 1 hour"))
    docShingles match {
      case Some(store) =>
        val sh = store.columns match {
          // accept either a prepared (__id, __sharr) frame or a raw
          // (idCol, textCol) doc table
          case cs if cs.contains("__sharr") => store
          case _ => store.select(col(idCol).as("__id"),
            shArr(col(textCol)).as("__sharr"))
        }
        joined
          .select(col("a_sid"), col("b_sid"), col("a_ts"))
          .dropDuplicatesWithinWatermark("a_sid", "b_sid")
          .join(sh.select(col("__id").as("a_sid"),
            col("__sharr").as("a_sh")), Seq("a_sid"), "left")
          .join(sh.select(col("__id").as("b_sid"),
            col("__sharr").as("b_sh")), Seq("b_sid"), "left")
          // a candidate pair whose doc is MISSING from the store is a
          // stale/lagging sink, not a non-pair — fail the query loudly
          // instead of silently dropping it (the exactly-once batch
          // contract would break with no error signal otherwise)
          .filter(when(col("a_sh").isNull || col("b_sh").isNull,
            raise_error(format_string(
              "doc-shingle store is missing doc(s) for candidate " +
                "pair (%s, %s) — stale or lagging store sink",
              col("a_sid"), col("b_sid"))))
            .otherwise(lit(true)))
          .withColumn("__inter",
            size(array_intersect(col("a_sh"), col("b_sh"))))
          .withColumn("jaccard", col("__inter").cast("double") /
            (size(col("a_sh")) + size(col("b_sh")) - col("__inter")))
          .filter(col("jaccard") >= 0.5)
          .select(col("a_sid").as("a_id"), col("b_sid").as("b_id"),
            col("jaccard"))
      case None =>
        joined
          .withColumn("__inter",
            size(array_intersect(col("a_sh"), col("b_sh"))))
          .withColumn("jaccard", col("__inter").cast("double") /
            (size(col("a_sh")) + size(col("b_sh")) - col("__inter")))
          .filter(col("jaccard") >= 0.5)
          .select(col("a_sid").as("a_id"), col("b_sid").as("b_id"),
            col("jaccard"))
    }
  }

  final case class QuotaState(ver: Long, top: Seq[(Long, Long)])

  /** Online per-group quota maintenance — the streaming twin of
    * [[graft.ext.Curation.groupQuota]] (the FineWeb/Dolma per-domain
    * cap, maintained as rows arrive instead of recomputed per
    * snapshot): keyed state holds each group's current top-k
    * ((metric desc, id asc) order, k-bounded — a few longs per group
    * FOREVER, never the group's history), and whenever a batch changes
    * a group's top-k the full new ranking is emitted under a
    * monotonically increasing version. A keyed sink folds by MAX
    * version per group (kept-set changes are not monotone — a longer
    * doc EVICTS a shorter one, so the per-row MAX fold of the counting
    * twins would be wrong; versioned whole-ranking emission is the
    * retraction-free device). Input rows: (group, id, metric); output
    * (group, ver, id, metric, quota_rank). */
  def streamingGroupQuota(rows: Dataset[(String, Long, Long)], k: Int)
      : DataFrame = {
    require(k >= 1, "quota k must be >= 1")
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_._1)
      .flatMapGroupsWithState[QuotaState,
        (String, Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g: String, batch: Iterator[(String, Long, Long)],
            state: GroupState[QuotaState]) =>
          val st = state.getOption.getOrElse(QuotaState(0L, Seq.empty))
          // sortWith, never sortBy(-metric): negating Long.MinValue
          // overflows to itself and would rank the worst metric first
          // (the Sketches.TopK lesson)
          val merged = (st.top ++ batch.map(t => (t._3, t._2)))
            .distinct
            .sortWith((a, b) =>
              a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
            .take(k)
          if (st.ver > 0L && merged == st.top) Iterator.empty
          else {
            val ver = st.ver + 1L
            state.update(QuotaState(ver, merged))
            merged.iterator.zipWithIndex.map { case ((m, id), i) =>
              (g, ver, id, m, (i + 1).toLong)
            }
          }
      }
      .toDF("group", "ver", "id", "metric", "quota_rank")
  }

  final case class BandBucket(ids: Seq[Long])

  /** ONLINE LSH band-index maintenance — the stateful form of the
    * stream-vs-snapshot band join: band buckets live in keyed state,
    * every arriving doc emits candidate pairs against its buckets'
    * existing members AND the batch's other newcomers, then joins the
    * bucket — so the full pair set (old×new and new×new) appears
    * online, with no snapshot compaction step. This is the streaming form of the
    * batch LSH candidate join: per-key state is one id list per
    * OCCUPIED band bucket (the [[graft.ext.Dedup.minhashBands]]
    * artifact itself, keyed), and lifetime emissions per bucket are
    * that bucket's |bucket|² — exactly the batch candidate bound.
    *
    * Signatures/band keys compute per row map-side (the
    * `minhashSignature` formulation, value-identical to the batch
    * aggregation chain), so candidates — and after the caller's exact
    * verify, pairs — replay the batch [[graft.ext.Dedup.minhashNearDup]]
    * bit-for-bit (oracle q187). A pair colliding in several bands
    * emits once per band: set-dedupe downstream. [[MaxBandBucket]] is
    * the heavy-hitter guard: a degenerate bucket (near-constant corpus)
    * fails loudly instead of accreting quadratic emissions. */
  def streamingBandIndex(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, k: Int = 12,
      bands: Int = 4): Dataset[(Long, Long)] = {
    require(k % bands == 0, "k must be divisible by bands")
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.TextFunctions.{bandKeys, minhashSignature}
    val rows = k / bands
    // each stage projected to a column BEFORE the next references it:
    // bandKeys slices the signature once per band, and an INLINE
    // signature expression would re-run all k minhash scans per band
    // (measured 4x on the q187 replay feed)
    val withBands = docs
      .select(col(idCol).cast("long").as("__sid"),
        graft.functions.expressions.TextExpressions.wordShingles(
          col(textCol), shingleN).as("__sharr"))
      .select(col("__sid"), minhashSignature(col("__sharr"), k).as("__sig"))
      .select(col("__sid"),
        explode(bandKeys(col("__sig"), bands, rows)).as("__b"))
      .select(concat_ws(":", col("__b.band"), col("__b.bkey")).as("__key"),
        col("__sid"))
      .as[(String, Long)]
    withBands
      .groupByKey(_._1)
      .flatMapGroupsWithState[BandBucket, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[(String, Long)],
            state: GroupState[BandBucket]) =>
          val old = state.getOption.map(_.ids).getOrElse(Seq.empty)
          val seen = old.toSet
          // arrival order inside a batch is not guaranteed: sort for a
          // deterministic new×new emission order (the fold dedupes, so
          // this is about reproducible transcripts, not correctness)
          val fresh = batch.map(_._2).toArray.distinct.sorted
            .filterNot(seen)
          require(old.size + fresh.length <= MaxBandBucket,
            s"streamingBandIndex: band bucket $key would exceed " +
              s"$MaxBandBucket ids (${old.size} + ${fresh.length}) — " +
              "a degenerate bucket makes candidate emissions quadratic; " +
              "pre-dedup the feed")
          val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
          var i = 0
          while (i < fresh.length) {
            val n = fresh(i)
            old.foreach { o =>
              if (o != n) out += ((math.min(o, n), math.max(o, n)))
            }
            var j = i + 1
            while (j < fresh.length) {
              out += ((fresh(i), fresh(j))); j += 1
            }
            i += 1
          }
          state.update(BandBucket(old ++ fresh))
          out.iterator
      }
  }

  /** Ceiling on the ids one [[streamingBandIndex]] bucket holds. */
  private val MaxBandBucket = 4096

  final case class FunnelUpdate(user_id: Long, step_reached: Int,
      step_ts: Seq[Long])

  /** Online conversion funnel — the streaming twin of
    * [[graft.operators.Funnel.funnelSinglePass]]: each micro-batch
    * emits the updated funnel position of every user it touched, with
    * ONE fixed-size state row per user forever (the n step times,
    * `Long.MinValue` = unreached) — an online funnel never re-scans
    * history, where the batch operator re-reads the log per run.
    *
    * Order contract: within a micro-batch events apply in (ts, then
    * arrival) order, so a single-batch stream reproduces the batch
    * funnel exactly (spec-asserted), and any stream whose batch
    * boundaries respect event-time order does too. Cross-batch
    * OUT-OF-ORDER events meet first-touch semantics: a step event
    * arriving after a later-ts event already advanced the machine
    * cannot retroactively lower a step time (the machine never
    * rewinds) — bounded lateness needs a watermark buffer, at the
    * price of lateness × rate state. Same-user step ties never advance
    * (strict `>`), matching both batch forms. */
  def streamingFunnel(events: Dataset[Event],
      steps: Seq[String]): Dataset[FunnelUpdate] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct == steps, "repeated step types are ambiguous")
    import events.sparkSession.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val n = steps.length
    val NONE = Long.MinValue
    events
      .filter(e => stepIdx.contains(e.event_type))
      // exactMicros, not getTime: same-millisecond steps differing in
      // micros must advance the strict > machine exactly as the batch
      // micros timeline does (step_ts is therefore epoch MICROS)
      .map(e => (e.user_id, stepIdx(e.event_type), exactMicros(e.ts)))
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], FunnelUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[(Long, Int, Long)],
            state: GroupState[Array[Long]]) =>
          val times = state.getOption.getOrElse(Array.fill(n)(NONE))
          var reached = times.indexOf(NONE) match {
            case -1 => n
            case i  => i
          }
          val sorted = batch.map { case (_, si, ts) => (si, ts) }
            .toArray.sortBy(_._2)
          var i = 0
          while (i < sorted.length && reached < n) {
            val (si, ts) = sorted(i)
            if (si == reached &&
                (reached == 0 || ts > times(reached - 1))) {
              times(reached) = ts
              reached += 1
            }
            i += 1
          }
          if (reached == 0) Iterator.empty // never entered the funnel
          else {
            state.update(times)
            Iterator(FunnelUpdate(user, reached, times.toSeq))
          }
      }
  }

  final case class TransitionDelta(from_type: String, to_type: String,
      delta: Long)

  /** Exact epoch micros from a Timestamp — `getTime` alone is millis
    * and would tie-break same-millisecond events differently than the
    * batch micros timeline (GraftSession.tsMicros). */
  private def exactMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Online event-transition counting — the streaming twin of the
    * batch transition matrix (entry q110): each micro-batch emits
    * per-(from, to) COUNT DELTAS for the user transitions it
    * completed, with ONE (type, ts, id) triple of state per user
    * forever — the previous event, which seeds the first transition of
    * the next batch. A downstream rolling sum (or the memory-sink
    * aggregation in the spec) reconstructs the full matrix; emitting
    * deltas keeps the operator append-friendly and the state bounded
    * where a stateful matrix per key would grow with |types|².
    *
    * Order contract (the [[streamingFunnel]] convention): in-batch
    * events pair in (ts, event_id) order seeded by the carried state,
    * so time-ordered batches reproduce the batch matrix exactly
    * (spec-asserted); cross-batch late events pair in arrival order. */
  def streamingTransitions(events: Dataset[Event])
      : Dataset[TransitionDelta] = {
    import events.sparkSession.implicits._
    events
      .map(e => (e.user_id, e.event_type, exactMicros(e.ts), e.event_id))
      .groupByKey(_._1)
      .flatMapGroupsWithState[(String, Long, Long), TransitionDelta](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[(Long, String, Long, Long)],
            state: GroupState[(String, Long, Long)]) =>
          val sorted = batch.map { case (_, t, ts, id) => (t, ts, id) }
            .toArray.sortBy { case (_, ts, id) => (ts, id) }
          if (sorted.isEmpty) Iterator.empty
          else {
            val deltas = scala.collection.mutable.Map
              .empty[(String, String), Long]
            var prev = state.getOption.map(_._1)
            sorted.foreach { case (t, _, _) =>
              prev.foreach { p =>
                deltas((p, t)) = deltas.getOrElse((p, t), 0L) + 1L
              }
              prev = Some(t)
            }
            val lastRow = sorted.last
            state.update(lastRow)
            deltas.iterator.map { case ((f, t), d) =>
              TransitionDelta(f, t, d)
            }
          }
      }
  }

  /** STREAM-STREAM windowed attribution join — purchases matched to
    * the clicks that preceded them within `maxGapSeconds`, both sides
    * live streams (the q114 last-touch family, fully online). This is
    * Spark's watermarked interval self-join: each side buffers rows
    * only until the watermark passes `ts + maxGap`, so state is
    * bounded by (event rate × gap window), independent of stream
    * length — the canonical two-stream pattern the engine must
    * support beyond stream-static enrichment.
    *
    * Emits EVERY (purchase, click) pair in the window (append-mode
    * legal — pairs are immutable facts); last-touch reduces
    * downstream: max (click_ts, click_id) per purchase, exactly the
    * q132 fold, which the oracle pins to a relational
    * latest-click-per-purchase query. Timestamps surface as exact
    * epoch micros. */
  def streamingAttribution(events: Dataset[Event], fromType: String,
      toType: String, maxGapSeconds: Long): DataFrame = {
    val df = events.toDF()
    val clicks = df.filter(col("event_type") === fromType)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val buys = df.filter(col("event_type") === toType)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    buys.join(clicks, expr(
        s"""p_user = c_user AND click_ts <= purchase_ts
           |AND click_ts >= purchase_ts - INTERVAL $maxGapSeconds SECONDS"""
          .stripMargin), "inner")
      .select(col("purchase_id"), col("p_user").as("user_id"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        unix_micros(col("click_ts")).as("click_us"),
        col("click_id"))
  }

  final case class Scd2Delta(user_id: Long, state: String,
      version_seq: Long, valid_from: Long, valid_to: Option[Long])

  /** Online SCD2 compaction — the streaming twin of
    * [[graft.ext.Snapshot.scd2FromLog]]: the event stream is a CDC log
    * and each micro-batch emits VERSION rows for the per-user state
    * machine it advanced — every version CLOSED in the batch (with its
    * `valid_to` stitched to the successor's `valid_from`) plus one
    * refreshed OPEN row (`valid_to = None`) for the user's current
    * version. A keyed sink folds emissions per (user_id, version_seq)
    * with closed-beats-open (an open row is always superseded by its
    * own closing emission), which reconstructs the batch operator's
    * exact history — spec-asserted against the full driver log.
    *
    * State per user: ONE (state, valid_from, version_seq) triple,
    * forever — bounded regardless of event volume; no-change events
    * are absorbed statefully and emit nothing.
    *
    * Order contract (the [[streamingFunnel]] convention): in-batch
    * events apply in (exact-micros, event_id) order seeded by the
    * carried state, so time-ordered batches reproduce the batch
    * history exactly; cross-batch late events apply in arrival order
    * (the price every online compactor pays). */
  def streamingScd2(events: Dataset[Event]): Dataset[Scd2Delta] = {
    import events.sparkSession.implicits._
    events
      .map(e => (e.user_id, e.event_type, exactMicros(e.ts), e.event_id))
      .groupByKey(_._1)
      .flatMapGroupsWithState[(String, Long, Long), Scd2Delta](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[(Long, String, Long, Long)],
            state: GroupState[(String, Long, Long)]) =>
          val sorted = batch.map { case (_, t, ts, id) => (t, ts, id) }
            .toArray.sortBy { case (_, ts, id) => (ts, id) }
          if (sorted.isEmpty) Iterator.empty
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Delta]
            var cur = state.getOption // (state, valid_from, version_seq)
            sorted.foreach { case (t, ts, _) =>
              cur match {
                case Some((ct, cf, cv)) if ct != t =>
                  out += Scd2Delta(user, ct, cv, cf, Some(ts))
                  cur = Some((t, ts, cv + 1L))
                case None => cur = Some((t, ts, 1L))
                case _ => () // same state: absorbed, nothing emitted
              }
            }
            val (ct, cf, cv) = cur.get
            state.update((ct, cf, cv))
            out += Scd2Delta(user, ct, cv, cf, None)
            out.iterator
          }
      }
  }

  final case class RetentionDelta(cohort: Long, bucket_offset: Long,
      delta: Long)

  /** Online cohort-retention counting — the streaming twin of
    * [[graft.operators.Retention.cohortMatrix]], completing the online
    * event-analytics family (sessions, funnel, transitions): each
    * micro-batch emits (cohort, bucket_offset) COUNT DELTAS for the
    * (user, bucket) activity pairs it saw FIRST, so a downstream
    * rolling sum reconstructs the cohort matrix's n_users at any
    * point. State per user = its cohort bucket + the set of buckets
    * already counted — bounded by the user's distinct active buckets
    * (the same per-user bound the batch operator's window groups by),
    * NOT by event volume: duplicate activity in a seen bucket is
    * absorbed statefully and emits nothing.
    *
    * Order contract: a user's cohort pins to the first bucket that
    * ARRIVES for it (in-batch, the minimum bucket of the batch — the
    * batch semantics); a strictly earlier bucket arriving in a LATER
    * batch cannot re-cohort the user retroactively (the already-
    * emitted deltas stand) and is absorbed SILENTLY — it joins `seen`
    * but emits nothing, because its honest offset is negative and
    * counting it at offset 0 would double-count the user in the
    * cohort-size denominator. Time-ordered batches therefore
    * reproduce the batch matrix exactly (spec-asserted); late data
    * degrades to arrival-order cohorts minus pre-cohort activity,
    * the price every online counter pays. */
  def streamingRetention(events: Dataset[Event], bucketWidthMs: Long)
      : Dataset[RetentionDelta] = {
    require(bucketWidthMs > 0, s"bucketWidthMs must be positive")
    import events.sparkSession.implicits._
    events
      .map(e => (e.user_id, Math.floorDiv(e.ts.getTime, bucketWidthMs)))
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Set[Long]), RetentionDelta](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[(Long, Long)],
            state: GroupState[(Long, Set[Long])]) =>
          val bs = batch.map(_._2).toArray
          if (bs.isEmpty) Iterator.empty
          else {
            val (cohort, seen0) = state.getOption
              .getOrElse((bs.min, Set.empty[Long]))
            var seen = seen0
            val fresh = scala.collection.mutable.ArrayBuffer.empty[Long]
            bs.sorted.foreach { b =>
              if (!seen.contains(b)) {
                seen += b
                // pre-cohort late buckets absorb without a delta: their
                // offset is negative, and a floored 0 would double-count
                // the user against its own cohort size
                if (b >= cohort) fresh += b
              }
            }
            state.update((cohort, seen))
            fresh.iterator.map(b =>
              RetentionDelta(cohort, b - cohort, 1L))
          }
      }
  }

  final case class FilledDay(event_type: String, day: Long,
      n_filled: Long, is_gap: Int)

  /** Per-type LOCF fill state: `lastEmitted` (= first data day − 1
    * until anything emits), the carried LOCF count, the max data day
    * seen, and the not-yet-closed per-day partial counts. `open` is
    * bounded by the days inside the watermark horizon plus any days
    * awaiting their closing watermark tick — never the stream's
    * history. */
  final case class LocfState(lastEmitted: Long, lastCount: Long,
      maxSeen: Long, open: Map[Long, Long])

  /** Online LOCF gap fill — the streaming twin of the batch day-spine
    * regularization (entry q138): per event type, daily counts emitted
    * AS THE WATERMARK CLOSES EACH DAY, with missing days filled by the
    * last observed count (`is_gap = 1`). Day d is closed once the
    * watermark passes (d+1)·86400s; the EventTimeTimeout re-fires the
    * group when no further data arrives so interior gap days still
    * emit. Emission stops at the type's last DATA day — leading
    * alignment to a global spine start and trailing extension are the
    * consumer's fold (they need cross-type bounds a per-key operator
    * cannot know).
    *
    * Until a type's first emission, the spine start re-derives from
    * the open map's minimum each round, so in-watermark out-of-order
    * arrivals extend it backward; after emission, data at or before
    * the frontier is LATE and drops (standard watermark semantics —
    * the watermark delay is zero). State per type: two longs + the
    * bounded `open` map. */
  def streamingGapFill(events: Dataset[Event]): Dataset[FilledDay] = {
    import events.sparkSession.implicits._
    val dayUs = 86400000000L
    val dayMs = 86400000L
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[LocfState, FilledDay](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (tp: String, batch: Iterator[Event],
            state: GroupState[LocfState]) =>
          var st = state.getOption.getOrElse(
            LocfState(Long.MinValue, 0L, Long.MinValue, Map.empty))
          if (!state.hasTimedOut) {
            val counts = batch
              .map(e => Math.floorDiv(exactMicros(e.ts), dayUs)).toSeq
              .groupBy(identity).map { case (d, ds) => d -> ds.size.toLong }
            // days at or before the emitted frontier are LATE (their
            // output already left) — drop them here, or they'd sit in
            // `open` forever. Days merely earlier than the first batch's
            // min are NOT late while nothing has emitted: lastEmitted
            // stays MinValue until the first real emission, so the
            // emission start below re-derives from min(open) each round
            // and an in-watermark earlier day still lands.
            val fresh =
              if (st.lastEmitted == Long.MinValue) counts
              else counts.filter { case (d, _) => d > st.lastEmitted }
            val open = fresh.foldLeft(st.open) { case (m, (d, c)) =>
              m.updated(d, m.getOrElse(d, 0L) + c)
            }
            val mx = if (open.isEmpty) st.maxSeen
              else math.max(st.maxSeen, open.keys.max)
            st = LocfState(st.lastEmitted, st.lastCount, mx, open)
          }
          val out = scala.collection.mutable.ArrayBuffer[FilledDay]()
          val startOpt =
            if (st.lastEmitted != Long.MinValue) Some(st.lastEmitted + 1)
            else st.open.keys.minOption
          startOpt.foreach { start =>
            // watermark is millis; day d closed iff d+1 <= wm/dayMs
            val closedMax =
              Math.floorDiv(state.getCurrentWatermarkMs(), dayMs) - 1
            var d = start
            var last = st.lastCount
            var open = st.open
            val stop = math.min(closedMax, st.maxSeen)
            while (d <= stop) {
              open.get(d) match {
                case Some(n) =>
                  out += FilledDay(tp, d, n, 0); last = n; open -= d
                case None =>
                  out += FilledDay(tp, d, last, 1)
              }
              d += 1
            }
            if (d > start) // emitted something: advance the frontier
              st = LocfState(d - 1, last, st.maxSeen, open)
          }
          state.update(st)
          // re-arm while days remain to close; the timestamp is the
          // instant the next pending day closes, provably > watermark
          if (st.lastEmitted < st.maxSeen && (st.open.nonEmpty ||
              st.lastEmitted != Long.MinValue)) {
            val nextDay =
              if (st.lastEmitted == Long.MinValue) st.open.keys.min
              else st.lastEmitted + 1
            state.setTimeoutTimestamp((nextDay + 1) * dayMs)
          }
          out.iterator
      }
  }

  final case class EdgeBirth(u: String, v: String, u_degree: Long)

  /** Online GRAPH maintenance — the tenth streaming twin, and the
    * streaming half of the incremental-graph story ([[graft.ext.Dedup
    * .connectedComponentsDelta]] is the batch half): the user ↔
    * event-type affinity graph maintained incrementally from the raw
    * event stream. An edge (user u, type t) is BORN the moment u's
    * t-count reaches `minCount` (the "heavy-usage" bipartite graph —
    * `SELECT user_id, event_type GROUP BY 1,2 HAVING count(*) >=
    * minCount` in batch); each birth is emitted exactly once, tagged
    * with u's bipartite degree at birth (how many of u's types are
    * heavy so far — online degree maintenance, the building block
    * every online graph algorithm sits on).
    *
    * State: ONE row per user — a per-type count map, bounded by
    * |event types| per user, never by stream length; counts are
    * monotone so a birth can fire only once per edge no matter how
    * batches split (spec-asserted 1-batch == 3-batch). In-batch events
    * apply in (ts, event_id) order seeded by the carried counts (the
    * [[streamingFunnel]] convention), so time-ordered replays emit
    * deterministic birth degrees too. The emitted append-only edge
    * stream IS the maintained graph: downstream analytics (q165 runs
    * [[graft.ext.Graph.kCore]]) consume it without ever re-scanning
    * the event log — at 100 TB/day of events the graph deltas are the
    * only thing that moves. */
  def streamingEdgeBirths(events: Dataset[Event], minCount: Long)
      : Dataset[EdgeBirth] = {
    require(minCount >= 1, "minCount must be >= 1")
    import events.sparkSession.implicits._
    events
      .map(e => (e.user_id, e.event_type, exactMicros(e.ts), e.event_id))
      .groupByKey(_._1)
      .flatMapGroupsWithState[Map[String, Long], EdgeBirth](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[(Long, String, Long, Long)],
            state: GroupState[Map[String, Long]]) =>
          var counts = state.getOption.getOrElse(Map.empty[String, Long])
          var degree = counts.valuesIterator.count(_ >= minCount).toLong
          val sorted = batch.map { case (_, t, ts, id) => (t, ts, id) }
            .toArray.sortBy { case (_, ts, id) => (ts, id) }
          val births = scala.collection.mutable.ArrayBuffer.empty[EdgeBirth]
          sorted.foreach { case (t, _, _) =>
            val c = counts.getOrElse(t, 0L) + 1L
            counts += (t -> c)
            if (c == minCount) {
              degree += 1L
              births += EdgeBirth(s"u:$user", s"t:$t", degree)
            }
          }
          state.update(counts)
          births.iterator
      }
  }
}
