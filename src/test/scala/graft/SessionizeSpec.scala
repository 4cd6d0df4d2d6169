package graft

import graft.operators.Sessionize

class SessionizeSpec extends SparkSpecBase {
  import spark.implicits._

  // u1: runs {10,20,25}, {100,105}, {200}; u2: one run {10, 15}
  private lazy val events = Seq(
    ("u1", 1L, 10L), ("u1", 2L, 20L), ("u1", 3L, 25L),
    ("u1", 4L, 100L), ("u1", 5L, 105L), ("u1", 6L, 200L),
    ("u2", 7L, 10L), ("u2", 8L, 15L)
  ).toDF("user", "event", "ts")

  test("byGap numbers sessions per key from 0, breaking on gap > g") {
    val got = Sessionize.byGap(events, Seq("user"), "ts", gap = 20L,
        tieBreak = Seq("event"))
      .select("user", "event", "session_seq")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("u1", 1L, 0L), ("u1", 2L, 0L), ("u1", 3L, 0L),
      ("u1", 4L, 1L), ("u1", 5L, 1L), ("u1", 6L, 2L),
      ("u2", 7L, 0L), ("u2", 8L, 0L)))
  }

  test("gap boundary: difference exactly == gap does NOT break") {
    val df = Seq(("k", 1L, 0L), ("k", 2L, 20L), ("k", 3L, 41L))
      .toDF("user", "event", "ts")
    val got = Sessionize.byGap(df, Seq("user"), "ts", gap = 20L)
      .select("event", "session_seq").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 0L), (2L, 0L), (3L, 1L)))
  }

  test("sessions rollup: counts and spans per session") {
    val got = Sessionize.sessions(events, Seq("user"), "ts", gap = 20L,
        tieBreak = Seq("event"))
      .select("user", "session_seq", "n_events", "start_ts", "end_ts")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("u1", 0L, 3L, 10L, 25L),
      ("u1", 1L, 2L, 100L, 105L),
      ("u1", 2L, 1L, 200L, 200L),
      ("u2", 0L, 2L, 10L, 15L)))
  }

  test("plan shape: one exchange feeds both window passes and the rollup") {
    val plan = Sessionize.sessions(events, Seq("user"), "ts", gap = 20L)
      .queryExecution.executedPlan.toString()
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected a single shuffle, got:\n$plan")
    assert(!plan.contains("Join"), "sessionization must not plan a join")
  }

  test("retention: cohort = first-activity bucket, offsets dedup per bucket") {
    import graft.operators.Retention
    val ev = Seq(
      // u1 cohort 0, active in buckets {0, 1, 3}
      (1L, 5L), (1L, 12L), (1L, 35L),
      // u2 cohort 1: two events in bucket 1 count ONCE; active {1, 2}
      (2L, 15L), (2L, 18L), (2L, 22L),
      // u3 cohort 0, only its first bucket
      (3L, 3L)
    ).toDF("user_id", "ts")
    val got = Retention.cohortMatrix(ev, "user_id", "ts", bucketWidth = 10L)
      .select("cohort", "bucket_offset", "n_users", "retention")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set(
      (0L, 0L, 2L, 1.0), (0L, 1L, 1L, 0.5), (0L, 3L, 1L, 0.5),
      (1L, 0L, 1L, 1.0), (1L, 1L, 1L, 1.0)))
  }

  test("retention ts contract: timestamp-typed input fails loudly") {
    // the internal bucket math is CAST(ts AS BIGINT) div width — on a
    // TimestampType column that would silently truncate to whole
    // SECONDS; the operator must reject it up front (VERDICT r7 #5)
    import graft.operators.Retention
    val ev = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("user_id", "ts")
    val e1 = intercept[IllegalArgumentException](
      Retention.cohortMatrix(ev, "user_id", "ts", 10L))
    assert(e1.getMessage.contains("integral timeline"))
    val e2 = intercept[IllegalArgumentException](
      Retention.rollingActive(ev, "user_id", "ts", 10L, 7))
    assert(e2.getMessage.contains("integral timeline"))
  }

  test("retention plan: join-free, shuffles only shrunken streams") {
    import graft.operators.Retention
    val ev = Seq((1L, 5L), (2L, 15L)).toDF("user_id", "ts")
    val plan = Retention.cohortMatrix(ev, "user_id", "ts", 10L)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"retention must not plan a join:\n$plan")
    // distinct pairs + per-user window + roll-up + per-cohort window
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 4, s"expected at most 4 exchanges, got:\n$plan")
  }

  test("rolling active: trailing-window distinct users, dedup within bucket") {
    import graft.operators.Retention
    val ev = Seq(
      // u1 active buckets {0, 2}; two events in bucket 0 count once
      (1L, 1L), (1L, 7L), (1L, 25L),
      // u2 active bucket {1} only
      (2L, 12L)
    ).toDF("user_id", "ts")
    val got = Retention.rollingActive(ev, "user_id", "ts",
        bucketWidth = 10L, window = 3)
      .as[(Long, Long)].collect().toMap
    // bucket-end b counts users active in [b-2, b]
    assert(got == Map(
      0L -> 1L,            // u1
      1L -> 2L, 2L -> 2L,  // u1 (b0 or b2) + u2 (b1)
      3L -> 2L,            // u1 (b2) + u2 (b1)
      4L -> 1L))           // u1 (b2) trailing edge
  }

  test("rolling active plan: join-free, only pair streams shuffle") {
    import graft.operators.Retention
    val ev = Seq((1L, 5L), (2L, 15L)).toDF("user_id", "ts")
    val plan = Retention.rollingActive(ev, "user_id", "ts", 10L, 7)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"rollingActive must not plan a join:\n$plan")
    // pair distinct + the count-distinct expand's two agg exchanges
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 3, s"expected at most 3 exchanges, got:\n$plan")
  }

  test("funnel: first-touch strict-order semantics, non-entrants") {
    import graft.operators.Funnel
    val ev = Seq(
      // u1 full journey; the ts=5 purchase precedes the view -> ignored
      (1L, "purchase", 5L), (1L, "view", 10L),
      (1L, "click", 20L), (1L, "purchase", 30L),
      // u2 stalls at step 1: its only click is BEFORE the view
      (2L, "click", 5L), (2L, "view", 10L),
      // u3: same-ts click does not advance (strict >); the later click
      // does; the purchase sits between view and that click -> stalls
      (3L, "view", 10L), (3L, "click", 10L),
      (3L, "click", 15L), (3L, "purchase", 12L),
      // u4 never enters the funnel (no view) -> absent from output
      (4L, "click", 1L), (4L, "purchase", 2L)
    ).toDF("user_id", "event_type", "ts")
    val got = Funnel.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          r.getInt(4)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == ((Some(10L), Some(20L), Some(30L), 3)))
    assert(got(2L) == ((Some(10L), None, None, 1)))
    assert(got(3L) == ((Some(10L), Some(15L), None, 2)))
  }

  test("funnelSinglePass == staged funnel (fixture + driver events)") {
    import graft.core.GraftSession
    import graft.operators.Funnel
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    def rows(df: DataFrame) = df
      .collect().map(r => (r.getLong(0), (0 until r.length - 1).drop(1)
        .map(i => Option(r.get(i))), r.getInt(r.length - 1))).toSet
    // the adversarial fixture from the staged test: out-of-order stall,
    // strict same-ts, non-entrants
    val ev = Seq(
      (1L, "purchase", 5L), (1L, "view", 10L),
      (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "click", 5L), (2L, "view", 10L),
      (3L, "view", 10L), (3L, "click", 10L),
      (3L, "click", 15L), (3L, "purchase", 12L),
      (4L, "click", 1L), (4L, "purchase", 2L)
    ).toDF("user_id", "event_type", "ts")
    val steps = Seq("view", "click", "purchase")
    assert(rows(Funnel.funnelSinglePass(ev, "user_id", "event_type",
      "ts", steps)) == rows(Funnel.funnel(ev, "user_id", "event_type",
      "ts", steps)), "single-pass diverges")
    // and on the real driver log (sf0.001, micros timeline)
    val raw = GraftSession.table(spark, "/root/testdata/sf0.001", "events")
    val dev = raw.select(col("user_id"), col("event_type"),
      GraftSession.tsMicros(raw).as("ts_us"))
    val staged = rows(Funnel.funnel(dev, "user_id", "event_type",
      "ts_us", steps))
    val single = rows(Funnel.funnelSinglePass(dev, "user_id",
      "event_type", "ts_us", steps))
    assert(staged.nonEmpty && single == staged)
    // plan contract: exactly one hash exchange (the user-key shuffle),
    // step-type IN filter pushed to the scan
    val plan = Funnel.funnelSinglePass(dev, "user_id", "event_type",
      "ts_us", steps).queryExecution.executedPlan.toString()
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"single-pass funnel must shuffle once:\n$plan")
    assert(!plan.contains("Join"), "single-pass funnel must not join")
  }
}
