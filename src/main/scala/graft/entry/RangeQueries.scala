package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftSession
import graft.ranges.{Intervals, RangeJoin}

/** Interval-join operator coverage (SURVEY §2.3 J6–J9) over deterministic
  * integer intervals derived from the test tables. The Spark side runs the
  * binned [[RangeJoin]] (the scale path); the oracle is the naive θ-join —
  * equal results prove the binning + canonical-bin dedup exact.
  *
  * Operator map: J6 → q09 (overlap), q25 (containment); J7 → q10
  * (tolerance); J8/C5 → q11 (reciprocal overlap fraction).
  */
object RangeQueries {

  /** q26/q68 shared construction: purchases as-of-aligned to clicks.
    * Clicks pre-aggregate to one row per (user_id, ts) — AsofJoin's
    * uniqueness precondition — in BOTH directions. */
  private def asofAlign(s: SparkSession, dir: String,
      forward: Boolean): DataFrame = {
    // ts used opaquely (both sides + oracle compare the same raw values),
    // so q26/q68 are robust to the events.ts physical-type drift
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("tsn"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("tsn"))
      .agg(max(col("event_id")).as("click_id"))
    val aligned =
      if (forward)
        graft.operators.AsofJoin.forward(purchases, clicks,
          Seq("user_id"), "tsn", "tsn")
      else
        graft.operators.AsofJoin.backward(purchases, clicks,
          Seq("user_id"), "tsn", "tsn")
    aligned.select("event_id", "user_id", "click_id").orderBy("event_id")
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.table(s, dir, name)

  /** orders → intervals: chrom 0-4, start in [0,5000), length 1-41.
    * Spread: the binned join probes millions of candidate pairs per input
    * row above this scan; a local single-split file would run that on one
    * core (GraftSession.spread). */
  private def orderIntervals(s: SparkSession, dir: String): DataFrame =
    GraftSession.spread(t(s, dir, "orders")).select(
      (col("o_orderkey") % 5).as("chrom"),
      ((col("o_orderkey") * 7) % 5000).as("s1"),
      ((col("o_orderkey") * 7) % 5000 + 1 + col("o_orderkey") % 40).as("e1"),
      col("o_orderkey"))

  /** supplier → a SMALL annotation interval set (100–1000 rows at test
    * sf): chrom 0-4, start in [0,5000), length 1-61 — the gene-model /
    * config-table side of the broadcast annotation join. */
  private def supplierIntervals(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier").select(
      (col("s_suppkey") % 5).as("chrom"),
      ((col("s_suppkey") * 11) % 5000).as("s1"),
      ((col("s_suppkey") * 11) % 5000 + 1 + col("s_suppkey") % 60).as("e1"),
      col("s_suppkey"))

  /** events → intervals: chrom 0-4, start in [0,5000), length 1-26. */
  private def eventIntervals(s: SparkSession, dir: String): DataFrame =
    GraftSession.spread(t(s, dir, "events")).select(
      (col("event_id") % 5).as("chrom"),
      ((col("event_id") * 13) % 5000).as("s2"),
      ((col("event_id") * 13) % 5000 + 1 + col("event_id") % 25).as("e2"),
      col("event_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Interval-set union (bedtools merge): maximal merged intervals per
    // chrom via the running-max-end window — one key shuffle, work in
    // interval count, never genome length.
    "q94_interval_merge" -> ((s, dir) => {
      graft.ranges.IntervalSets.mergeOverlapping(
          orderIntervals(s, dir), Seq("chrom"), "s1", "e1")
        .orderBy("chrom", "m_start")
    }),

    // Interval COMPLEMENT (bedtools complement within the covered
    // span): the maximal gaps strictly between q94's merged islands —
    // one lag window over the island-count-sized merged set.
    "q195_interval_complement" -> ((s, dir) => {
      graft.ranges.IntervalSets.complement(
          orderIntervals(s, dir), Seq("chrom"), "s1", "e1")
        .orderBy("chrom", "g_start")
    }),

    // Coverage depth (bedtools genomecov shape): constant-depth
    // segments from the +1/-1 endpoint sweep; work ∝ endpoints.
    "q95_coverage_depth" -> ((s, dir) => {
      graft.ranges.IntervalSets.coverageDepth(
          orderIntervals(s, dir), Seq("chrom"), "s1", "e1")
        .orderBy("chrom", "seg_start")
    }),

    // Interval-set subtraction (bedtools subtract): regions covered by
    // order-intervals but by NO event-interval — two running depths in
    // one sweep, remnants welded by the gap-1 island merge.
    "q96_interval_subtract" -> ((s, dir) => {
      graft.ranges.IntervalSets.subtract(
          orderIntervals(s, dir), eventIntervals(s, dir),
          Seq("chrom"), "s1", "e1", "s2", "e2")
        .orderBy("chrom", "m_start")
    }),

    // q94/q95/q96's bucketed two-pass twins, width auto-derived from
    // the data (deriveBucketWidth) — the few-key 100-TB escape hatch
    // oracle-certified end to end, not just spec-≡. The driver tables'
    // 5-key regime is the documented LOSS regime for these forms
    // (BENCH.md round 6); the queries certify VALUES, BENCH.md's 1-key
    // measurements the scale claim.
    "q99_interval_merge_bucketed" -> ((s, dir) => {
      graft.ranges.IntervalSets.mergeOverlappingBucketed(
          orderIntervals(s, dir), Seq("chrom"), "s1", "e1")
        .select("chrom", "m_start", "m_end", "n_merged")
        .orderBy("chrom", "m_start")
    }),
    "q100_coverage_depth_bucketed" -> ((s, dir) => {
      graft.ranges.IntervalSets.coverageDepthBucketed(
          orderIntervals(s, dir), Seq("chrom"), "s1", "e1")
        .select("chrom", "seg_start", "seg_end", "depth")
        .orderBy("chrom", "seg_start")
    }),
    "q101_interval_subtract_bucketed" -> ((s, dir) => {
      graft.ranges.IntervalSets.subtractBucketed(
          orderIntervals(s, dir), eventIntervals(s, dir),
          Seq("chrom"), "s1", "e1", "s2", "e2")
        .select("chrom", "m_start", "m_end", "n_merged")
        .orderBy("chrom", "m_start")
    }),

    // Interval-set similarity (bedtools jaccard): per chrom, the
    // covered-base agreement of the order-interval and event-interval
    // tracks — one two-depth endpoint sweep, exact long base counts,
    // jaccard as one IEEE division, intersection-interval count via
    // the in-sort lag test.
    "q120_interval_jaccard" -> ((s, dir) => {
      graft.ranges.IntervalSets.jaccard(
          orderIntervals(s, dir), eventIntervals(s, dir),
          Seq("chrom"), "s1", "e1", "s2", "e2")
        .orderBy("chrom")
    }),

    // J6: interval-overlap join via binned equi-join (the junctions ×
    // genes overlap of junction.py:159-164 at scale).
    "q09_interval_join" -> ((s, dir) => {
      RangeJoin.overlapJoin(
        orderIntervals(s, dir), eventIntervals(s, dir),
        keys = Seq("chrom"), "s1", "e1", "s2", "e2", width = 64L)
        .select("chrom", "o_orderkey", "event_id")
        .orderBy("chrom", "o_orderkey", "event_id")
    }),

    // Broadcast annotation join: the q09 overlap semantics when one
    // side is dim-sized — binned small side broadcast, big side
    // streams map-only (zero exchanges before the output sort;
    // RangesSpec pins plan + equality with the shuffling form).
    "q135_broadcast_annotate" -> ((s, dir) => {
      RangeJoin.overlapJoinBroadcast(
        eventIntervals(s, dir), supplierIntervals(s, dir),
        keys = Seq("chrom"), "s2", "e2", "s1", "e1", width = 64L)
        .select("chrom", "event_id", "s_suppkey")
        .orderBy("chrom", "event_id", "s_suppkey")
    }),

    // Interval anti-join (bedtools intersect -v): event intervals with
    // NO annotation overlap — the "unannotated reads" report. Binned
    // existence probe → id-distinct → one left_anti; never emits
    // pairings.
    "q142_annotation_gaps" -> ((s, dir) => {
      RangeJoin.overlapAntiJoin(
        eventIntervals(s, dir), supplierIntervals(s, dir),
        keys = Seq("chrom"), "s2", "e2", "s1", "e1",
        leftId = "event_id", width = 64L)
        .select("chrom", "event_id", "s2", "e2")
        .orderBy("chrom", "event_id")
    }),

    // J7: banded tolerance join — same-type event pairs with values
    // within ±0.5 (junction.py:285-290's ±bp slack, generalized).
    "q10_tolerance_join" -> ((s, dir) => {
      val ev = GraftSession.spread(t(s, dir, "events"))
      val a = ev.select(col("event_type"), col("event_id").as("e1"),
        col("value").as("v1"))
      val b = ev.select(col("event_type"), col("event_id").as("e2"),
        col("value").as("v2"))
      RangeJoin.toleranceJoin(a, b, Seq("event_type"), "v1", "v2", 0.5)
        .filter(col("e1") < col("e2"))
        .select("event_type", "e1", "e2")
        .orderBy("event_type", "e1", "e2")
    }),

    // J8/C5: reciprocal overlap-fraction join (Junction.samples overlap
    // mode, junction.py:294-318 + utils.py:7-25) — the reference's
    // client-side Python loop becomes a binned join + codegen'd fraction.
    "q11_overlap_fraction" -> ((s, dir) => {
      val a = orderIntervals(s, dir)
      val b = orderIntervals(s, dir).select(
        col("chrom"), col("s1").as("s2"), col("e1").as("e2"),
        col("o_orderkey").as("o_orderkey2"))
      RangeJoin.overlapJoin(a, b, Seq("chrom"), "s1", "e1", "s2", "e2", 64L)
        .filter(col("o_orderkey") < col("o_orderkey2"))
        .withColumn("frac12",
          Intervals.overlapFraction(col("s1"), col("e1"), col("s2"), col("e2")))
        .withColumn("frac21",
          Intervals.overlapFraction(col("s2"), col("e2"), col("s1"), col("e1")))
        .filter(col("frac12") >= 0.5 && col("frac21") >= 0.5)
        .select("chrom", "o_orderkey", "o_orderkey2", "frac12", "frac21")
        .orderBy("chrom", "o_orderkey", "o_orderkey2")
    }),

    // As-of join (absent from the reference, SURVEY §2.3; added as a
    // first-class time-series operator): for each purchase, the latest
    // click at-or-before it per user. One shuffle + sort, no join node.
    "q26_asof" -> ((s, dir) => asofAlign(s, dir, forward = false)),

    // The forward direction of q26: each purchase aligned to the NEXT
    // click at-or-after it (same one-shuffle union-tag plan, window
    // order reversed).
    "q68_asof_forward" -> ((s, dir) => asofAlign(s, dir, forward = true)),

    // Last-touch attribution (AsofJoin.backwardWithin first-classed):
    // each purchase credits the user's latest click within the 1-hour
    // window before it — the marketing/causality primitive. Same
    // one-shuffle union-tag as-of plan as q26, plus the gap predicate
    // nulling matches outside the window; value rides through
    // UNTOUCHED (no float arithmetic → hash-stable).
    "q114_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val base = ev.select(col("event_id"), col("user_id"),
        col("event_type"), GraftSession.tsMicros(ev).as("ts_us"),
        col("value"))
      val purchases = base.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("value"))
      val clicks = base.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_us").as("cts"))
        .agg(max(col("event_id")).as("click_id"))
      graft.operators.AsofJoin.backwardWithin(purchases, clicks,
          Seq("user_id"), "ts_us", "cts", maxGap = 3600000000L,
          rightTsOut = "click_ts")
        .select(col("event_id"), col("user_id"), col("click_id"),
          col("click_ts"),
          when(col("click_id").isNotNull, col("value"))
            .as("attributed_value"))
        .orderBy("event_id")
    }),

    // Nearest-feature join (bedtools closest; ranges/Closest): each
    // query interval's closest event-interval — binned overlap ∪ two
    // as-of alignments ∪ integer argmin, no all-pairs stage. The query
    // side subsets to 1% so the ORACLE's naive θ-join stays checkable;
    // the Spark plan is identical at any query count.
    "q112_closest" -> ((s, dir) => {
      graft.ranges.Closest.closest(
          orderIntervals(s, dir).filter(col("o_orderkey") % 100 === 7),
          eventIntervals(s, dir), Seq("chrom"),
          "s1", "e1", "s2", "e2", "event_id", width = 64L)
        .select("chrom", "o_orderkey", "closest_id", "distance")
        .orderBy("o_orderkey")
    }),

    // J6 (point form) + J9: containment join classifying points into a
    // small interval dimension (the intron/exon membership test of
    // junction.py:229-263).
    "q25_membership" -> ((s, dir) => {
      val bins = s.range(50).select(
        (col("id") % 5).as("chrom"),
        (col("id") / 5).cast("long").as("bin_id"),
        ((col("id") / 5).cast("long") * 500).as("lo"),
        ((col("id") / 5).cast("long") * 500 + 499).as("hi"))
      val points = t(s, dir, "events").select(
        (col("event_id") % 5).as("chrom"),
        ((col("event_id") * 13) % 5000).as("p"),
        col("event_id"))
      RangeJoin.containmentJoin(points, bins, Seq("chrom"), "p", "lo", "hi", 500L)
        .groupBy("chrom", "bin_id").agg(count(lit(1)).as("n"))
        .orderBy("chrom", "bin_id")
    }))

  private val oracleSqlBase: Map[String, String] = Map(
    // q114: DuckDB's native ASOF LEFT JOIN + the same gap CASE — the
    // window nulling replicated column by column
    "q114_attribution" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS tn, value
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_us(ts) AS ctn, MAX(event_id) AS cid
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id,
        |  CASE WHEN p.tn - c.ctn <= 3600000000 THEN c.cid END AS click_id,
        |  CASE WHEN p.tn - c.ctn <= 3600000000 THEN c.ctn END AS click_ts,
        |  CASE WHEN p.tn - c.ctn <= 3600000000 THEN p.value
        |       END AS attributed_value
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.tn >= c.ctn
        |ORDER BY p.event_id""".stripMargin,
    // the naive per-chrom θ-join ground truth for q112: every
    // (query, feature) pair scored by the same integer distance, the
    // (distance, id) argmin kept. Checkable only because the query
    // side is the 1% subset — which is the point of the comparison:
    // the Spark side never builds these pairs.
    "q112_closest" ->
      """WITH q AS (SELECT o_orderkey%5 AS chrom, (o_orderkey*7)%5000 AS s1,
        |  (o_orderkey*7)%5000 + 1 + o_orderkey%40 AS e1, o_orderkey
        |  FROM orders WHERE o_orderkey % 100 = 7),
        |f AS (SELECT event_id%5 AS chrom, (event_id*13)%5000 AS s2,
        |  (event_id*13)%5000 + 1 + event_id%25 AS e2, event_id FROM events),
        |c AS (SELECT q.chrom, q.o_orderkey, f.event_id,
        |        CAST(CASE WHEN f.s2 <= q.e1 AND f.e2 >= q.s1 THEN 0
        |             WHEN f.e2 < q.s1 THEN q.s1 - f.e2
        |             ELSE f.s2 - q.e1 END AS BIGINT) AS dist
        |      FROM q JOIN f ON q.chrom = f.chrom)
        |SELECT chrom, o_orderkey, event_id AS closest_id, dist AS distance
        |FROM c
        |QUALIFY row_number() OVER (PARTITION BY o_orderkey
        |                           ORDER BY dist, event_id) = 1
        |ORDER BY o_orderkey""".stripMargin,
    // two-depth sweep + gap-1 island weld. Positions are UNIQUE per
    // chrom after the delta groupBy, and the island windows run over
    // disjoint segments ordered by unique seg_start — so every window
    // ORDER BY here is total without extra tiebreakers (the q94
    // two-pass tie hazard cannot arise).
    "q96_interval_subtract" ->
      """WITH a AS (SELECT o_orderkey%5 AS chrom, (o_orderkey*7)%5000 AS s,
        |  (o_orderkey*7)%5000 + 1 + o_orderkey%40 AS e FROM orders),
        |b AS (SELECT event_id%5 AS chrom, (event_id*13)%5000 AS s,
        |  (event_id*13)%5000 + 1 + event_id%25 AS e FROM events),
        |ev AS (SELECT chrom, s AS pos, 1 AS da, 0 AS db FROM a
        |  UNION ALL SELECT chrom, e+1, -1, 0 FROM a
        |  UNION ALL SELECT chrom, s, 0, 1 FROM b
        |  UNION ALL SELECT chrom, e+1, 0, -1 FROM b),
        |p AS (SELECT chrom, pos, SUM(da) AS dA, SUM(db) AS dB
        |      FROM ev GROUP BY 1, 2),
        |w AS (SELECT chrom, pos,
        |        SUM(dA) OVER (PARTITION BY chrom ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ad,
        |        SUM(dB) OVER (PARTITION BY chrom ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bd,
        |        LEAD(pos) OVER (PARTITION BY chrom ORDER BY pos) - 1 AS seg_end
        |      FROM p),
        |segs AS (SELECT chrom, pos AS ss, seg_end AS se FROM w
        |         WHERE seg_end IS NOT NULL AND ad > 0 AND bd = 0),
        |m AS (SELECT chrom, ss, se,
        |  CASE WHEN ss > COALESCE(MAX(se) OVER (PARTITION BY chrom ORDER BY ss
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9223372036854775808) + 1
        |       THEN 1 ELSE 0 END AS isnew FROM segs),
        |g AS (SELECT chrom, ss, se, SUM(isnew) OVER (PARTITION BY chrom ORDER BY ss
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid FROM m)
        |SELECT chrom, MIN(ss) AS m_start, MAX(se) AS m_end, COUNT(*) AS n_merged
        |FROM g GROUP BY chrom, gid ORDER BY chrom, m_start""".stripMargin,
    // the q96 sweep with both/either coverage sums; positions unique
    // per chrom after the delta groupBy so both window passes (running
    // depths + the lag) are order-deterministic without tiebreakers;
    // every SUM output is cast back from HUGEINT, jaccard divides the
    // exact longs once
    "q120_interval_jaccard" ->
      """WITH a AS (SELECT o_orderkey%5 AS chrom, (o_orderkey*7)%5000 AS s,
        |  (o_orderkey*7)%5000 + 1 + o_orderkey%40 AS e FROM orders),
        |b AS (SELECT event_id%5 AS chrom, (event_id*13)%5000 AS s,
        |  (event_id*13)%5000 + 1 + event_id%25 AS e FROM events),
        |ev AS (SELECT chrom, s AS pos, 1 AS da, 0 AS db FROM a
        |  UNION ALL SELECT chrom, e+1, -1, 0 FROM a
        |  UNION ALL SELECT chrom, s, 0, 1 FROM b
        |  UNION ALL SELECT chrom, e+1, 0, -1 FROM b),
        |p AS (SELECT chrom, pos, SUM(da) AS dA, SUM(db) AS dB
        |      FROM ev GROUP BY 1, 2),
        |w AS (SELECT chrom, pos,
        |        SUM(dA) OVER (PARTITION BY chrom ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ad,
        |        SUM(dB) OVER (PARTITION BY chrom ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bd,
        |        LEAD(pos) OVER (PARTITION BY chrom ORDER BY pos) AS nxt
        |      FROM p),
        |s AS (SELECT chrom, nxt - pos AS len,
        |        (ad > 0 AND bd > 0) AS cov_both,
        |        (ad > 0 OR bd > 0) AS cov_any,
        |        CASE WHEN ad > 0 AND bd > 0 AND NOT COALESCE(
        |          LAG(ad > 0 AND bd > 0) OVER (PARTITION BY chrom
        |            ORDER BY pos), false) THEN 1 ELSE 0 END AS newint
        |      FROM w QUALIFY nxt IS NOT NULL)
        |SELECT chrom,
        |  CAST(SUM(CASE WHEN cov_both THEN len ELSE 0 END) AS BIGINT)
        |    AS intersection_bp,
        |  CAST(SUM(CASE WHEN cov_any THEN len ELSE 0 END) AS BIGINT)
        |    AS union_bp,
        |  CAST(SUM(CASE WHEN cov_both THEN len ELSE 0 END) AS DOUBLE) /
        |  CAST(SUM(CASE WHEN cov_any THEN len ELSE 0 END) AS DOUBLE)
        |    AS jaccard,
        |  CAST(SUM(newint) AS BIGINT) AS n_intersections
        |FROM s GROUP BY chrom ORDER BY chrom""".stripMargin,
    // running-max-end island window. The ORDER BY carries o_orderkey as
    // a UNIQUE tiebreaker: isnew and the gid running sum are two
    // separate window passes here, and with duplicate (s, e) rows the
    // engine may order ties differently in each pass — the isnew=1 row
    // of a tie group can land mid-group in the second pass, splitting
    // an island inconsistently (seen at sf0.1: overlapping "islands").
    // Spark needs no tiebreak only because both expressions share ONE
    // Window operator and therefore one physical sort.
    "q94_interval_merge" ->
      """WITH iv AS (SELECT o_orderkey%5 AS chrom, (o_orderkey*7)%5000 AS s,
        |  (o_orderkey*7)%5000 + 1 + o_orderkey%40 AS e, o_orderkey AS k FROM orders),
        |m AS (SELECT chrom, s, e, k,
        |  CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY chrom ORDER BY s, e, k
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9223372036854775808)
        |       THEN 1 ELSE 0 END AS isnew FROM iv),
        |g AS (SELECT chrom, s, e, SUM(isnew) OVER (PARTITION BY chrom ORDER BY s, e, k
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid FROM m)
        |SELECT chrom, MIN(s) AS m_start, MAX(e) AS m_end, COUNT(*) AS n_merged
        |FROM g GROUP BY chrom, gid ORDER BY chrom, m_start""".stripMargin,
    // q94's merge chain + one lag over the merged islands
    "q195_interval_complement" ->
      """WITH iv AS (SELECT o_orderkey%5 AS chrom, (o_orderkey*7)%5000 AS s,
        |  (o_orderkey*7)%5000 + 1 + o_orderkey%40 AS e, o_orderkey AS k FROM orders),
        |m AS (SELECT chrom, s, e, k,
        |  CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY chrom ORDER BY s, e, k
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9223372036854775808)
        |       THEN 1 ELSE 0 END AS isnew FROM iv),
        |g AS (SELECT chrom, s, e, SUM(isnew) OVER (PARTITION BY chrom ORDER BY s, e, k
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid FROM m),
        |isl AS (SELECT chrom, MIN(s) AS m_start, MAX(e) AS m_end
        |        FROM g GROUP BY chrom, gid),
        |lg AS (SELECT chrom, m_start,
        |        LAG(m_end) OVER (PARTITION BY chrom ORDER BY m_start) AS pe
        |       FROM isl)
        |SELECT chrom, pe + 1 AS g_start, m_start - 1 AS g_end
        |FROM lg WHERE pe IS NOT NULL AND m_start > pe + 1
        |ORDER BY chrom, g_start""".stripMargin,
    // +1/-1 endpoint sweep; positions unique per chrom after the delta
    // groupBy, so the running sum and lead are order-deterministic
    "q95_coverage_depth" ->
      """WITH iv AS (SELECT o_orderkey%5 AS chrom, (o_orderkey*7)%5000 AS s,
        |  (o_orderkey*7)%5000 + 1 + o_orderkey%40 AS e FROM orders),
        |ev AS (SELECT chrom, s AS pos, 1 AS d FROM iv
        |       UNION ALL SELECT chrom, e+1, -1 FROM iv),
        |p AS (SELECT chrom, pos, SUM(d) AS delta FROM ev GROUP BY 1, 2
        |      HAVING SUM(d) <> 0),
        |w AS (SELECT chrom, pos,
        |        CAST(SUM(delta) OVER (PARTITION BY chrom ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS depth,
        |        LEAD(pos) OVER (PARTITION BY chrom ORDER BY pos) - 1 AS seg_end
        |      FROM p)
        |SELECT chrom, pos AS seg_start, seg_end, depth
        |FROM w WHERE seg_end IS NOT NULL
        |ORDER BY chrom, seg_start""".stripMargin,
    "q09_interval_join" ->
      """WITH a AS (SELECT o_orderkey%5 AS chrom, (o_orderkey*7)%5000 AS s1,
        |  (o_orderkey*7)%5000 + 1 + o_orderkey%40 AS e1, o_orderkey FROM orders),
        | b AS (SELECT event_id%5 AS chrom, (event_id*13)%5000 AS s2,
        |  (event_id*13)%5000 + 1 + event_id%25 AS e2, event_id FROM events)
        |SELECT chrom, o_orderkey, event_id FROM a JOIN b USING (chrom)
        |WHERE s1 <= e2 AND s2 <= e1
        |ORDER BY chrom, o_orderkey, event_id""".stripMargin,
    "q135_broadcast_annotate" ->
      """WITH a AS (SELECT event_id%5 AS chrom, (event_id*13)%5000 AS s2,
        |  (event_id*13)%5000 + 1 + event_id%25 AS e2, event_id FROM events),
        | b AS (SELECT s_suppkey%5 AS chrom, (s_suppkey*11)%5000 AS s1,
        |  (s_suppkey*11)%5000 + 1 + s_suppkey%60 AS e1, s_suppkey FROM supplier)
        |SELECT chrom, event_id, s_suppkey FROM a JOIN b USING (chrom)
        |WHERE s2 <= e1 AND s1 <= e2
        |ORDER BY chrom, event_id, s_suppkey""".stripMargin,
    "q142_annotation_gaps" ->
      """WITH a AS (SELECT event_id%5 AS chrom, (event_id*13)%5000 AS s2,
        |  (event_id*13)%5000 + 1 + event_id%25 AS e2, event_id FROM events),
        | b AS (SELECT s_suppkey%5 AS chrom, (s_suppkey*11)%5000 AS s1,
        |  (s_suppkey*11)%5000 + 1 + s_suppkey%60 AS e1, s_suppkey FROM supplier)
        |SELECT chrom, event_id, s2, e2 FROM a
        |WHERE NOT EXISTS (SELECT 1 FROM b
        |  WHERE b.chrom = a.chrom AND a.s2 <= b.e1 AND b.s1 <= a.e2)
        |ORDER BY chrom, event_id""".stripMargin,
    "q10_tolerance_join" ->
      """SELECT a.event_type, a.event_id AS e1, b.event_id AS e2
        |FROM events a JOIN events b ON a.event_type = b.event_type
        |WHERE abs(a.value - b.value) <= 0.5 AND a.event_id < b.event_id
        |ORDER BY a.event_type, e1, e2""".stripMargin,
    "q11_overlap_fraction" ->
      """WITH iv AS (SELECT o_orderkey%5 AS chrom, (o_orderkey*7)%5000 AS s,
        |  (o_orderkey*7)%5000 + 1 + o_orderkey%40 AS e, o_orderkey FROM orders)
        |SELECT a.chrom, a.o_orderkey, b.o_orderkey AS o_orderkey2,
        |  CAST(GREATEST(0, LEAST(a.e,b.e)-GREATEST(a.s,b.s)+1) AS DOUBLE)
        |    / CAST(a.e-a.s+1 AS DOUBLE) AS frac12,
        |  CAST(GREATEST(0, LEAST(a.e,b.e)-GREATEST(a.s,b.s)+1) AS DOUBLE)
        |    / CAST(b.e-b.s+1 AS DOUBLE) AS frac21
        |FROM iv a JOIN iv b ON a.chrom=b.chrom
        |WHERE a.s <= b.e AND b.s <= a.e AND a.o_orderkey < b.o_orderkey
        |  AND CAST(GREATEST(0, LEAST(a.e,b.e)-GREATEST(a.s,b.s)+1) AS DOUBLE)
        |    / CAST(a.e-a.s+1 AS DOUBLE) >= 0.5
        |  AND CAST(GREATEST(0, LEAST(a.e,b.e)-GREATEST(a.s,b.s)+1) AS DOUBLE)
        |    / CAST(b.e-b.s+1 AS DOUBLE) >= 0.5
        |ORDER BY a.chrom, a.o_orderkey, o_orderkey2""".stripMargin,
    "q26_asof" ->
      """WITH l AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn FROM events
        |           WHERE event_type='purchase'),
        | r AS (SELECT user_id, epoch_ns(ts) AS tsn, MAX(event_id) AS click_id
        |       FROM events WHERE event_type='click' GROUP BY 1,2)
        |SELECT l.event_id, l.user_id, r.click_id
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tsn >= r.tsn
        |ORDER BY l.event_id""".stripMargin,
    "q68_asof_forward" ->
      """WITH l AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn FROM events
        |           WHERE event_type='purchase'),
        | r AS (SELECT user_id, epoch_ns(ts) AS tsn, MAX(event_id) AS click_id
        |       FROM events WHERE event_type='click' GROUP BY 1,2)
        |SELECT l.event_id, l.user_id, r.click_id
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tsn <= r.tsn
        |ORDER BY l.event_id""".stripMargin,
    "q25_membership" ->
      """WITH bins AS (SELECT i%5 AS chrom, i//5 AS bin_id,
        |  (i//5)*500 AS lo, (i//5)*500+499 AS hi FROM range(50) t(i)),
        | p AS (SELECT event_id%5 AS chrom, (event_id*13)%5000 AS p FROM events)
        |SELECT chrom, bin_id, COUNT(*) AS n
        |FROM p JOIN bins USING (chrom)
        |WHERE p BETWEEN lo AND hi
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin)

  /** The bucketed twins produce VALUES identical to the simple forms
    * (the RangesSpec ≡ property at many widths/gaps), so they share
    * their oracles verbatim — the driver certifies the bucketed
    * execution path against the same ground truth. */
  val oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    "q99_interval_merge_bucketed" ->
      oracleSqlBase("q94_interval_merge"),
    "q100_coverage_depth_bucketed" ->
      oracleSqlBase("q95_coverage_depth"),
    "q101_interval_subtract_bucketed" ->
      oracleSqlBase("q96_interval_subtract"))
}
