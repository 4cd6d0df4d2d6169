package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequential conversion-funnel analysis over an event log — the
  * third member of the event-analytics family ([[Sessionize]],
  * [[AsofJoin]]): how far does each user get through an ordered list
  * of step types, and when did each step first happen?
  *
  * Semantics (the classic first-touch strict-order funnel): step 1's
  * time is the user's earliest step-1 event; step i's time is the
  * earliest step-i event STRICTLY after the user's step-(i-1) time.
  * Same-timestamp events do not advance the funnel (a conversion
  * cannot be simultaneous with its cause), and events before the
  * previous step never count — out-of-order journeys stall where the
  * order breaks.
  */
object Funnel {

  /** Per-user funnel row: (userCol, t1..tn, step_reached) with tk null
    * from the first unreached step on; users with no step-1 event are
    * absent (they never entered the funnel).
    *
    * Plan shape: one type-FILTERED scan per step (the equality
    * predicate pushes into the source scan, so each stage reads only
    * its step's events), one user-keyed aggregation per step over a
    * monotonically SHRINKING user set (stage i joins only users that
    * reached stage i-1), and a final left-join chain on the user key —
    * every exchange is on the same key, so AQE plans them as hash
    * joins with no extra repartition. Work ∝ the step types' event
    * counts, never the full log. (A single-shuffle mapGroups state
    * machine computes the same thing in one pass; this staged form
    * stays in Catalyst — pushed filters, codegen aggregates — and is
    * SQL-replicable, which is what makes it oracle-checkable. For long
    * step lists prefer [[funnelSinglePass]]: beyond ~6 steps the
    * chained join rounds lose — measured 16× at 12 steps / 2M events,
    * OOM at 10M, BENCH.md round 7.) */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct == steps,
      "repeated step types are ambiguous — strict-after semantics" +
        " already handle re-occurrence")
    val base = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("t1"))
      .select(col(userCol), col("t1"), col("t1").as("__tcur"))
    val stages = steps.tail.foldLeft(List(base)) { case (acc, st) =>
      val cand = events.filter(col(typeCol) === st)
        .select(col(userCol), col(tsCol).as("__ts"))
      val after = acc.head.join(cand, Seq(userCol))
        .filter(col("__ts") > col("__tcur"))
      after.groupBy(col(userCol), col("t1"))
        .agg(min(col("__ts")).as("__tcur")) :: acc
    }.reverse
    val perStep = stages.zipWithIndex.map { case (s, i) =>
      s.select(col(userCol), col("__tcur").as(s"t${i + 1}"))
    }
    perStep.tail.foldLeft(perStep.head) { (a, b) =>
        a.join(b, Seq(userCol), "left")
      }
      .withColumn("step_reached",
        steps.indices.map(i => col(s"t${i + 1}").isNotNull.cast("int"))
          .reduce(_ + _))
  }

  /** Single-pass [[funnel]]: the identical first-touch strict-order
    * result from ONE shuffle — a per-user state machine via
    * `flatMapGroups` — where the staged form pays one user-keyed
    * aggregation round per step. The long-step-list / few-steps-types
    * trade:
    *  - staged form: K join+agg rounds, but every stage is Catalyst
    *    codegen with pushed type filters — the oracle-checkable
    *    default, and the faster one for the classic 3-step funnel;
    *  - this form: the step-type IN-filter still pushes to the scan,
    *    then exactly one hash exchange on the user key; per-user work
    *    is a sort + walk of that user's step-type events. Use it when
    *    `steps` is long (a 12-step onboarding journey = 12 shuffle
    *    rounds staged, still 1 here).
    *
    * Memory contract: each task buffers ONE user's step-type events
    * (the journey, not the log) — bounded by the busiest user's funnel
    * activity, the same per-group bound every sessionizer accepts.
    *
    * Type contract: `userCol` must be integral (the event-log shape;
    * hash or dictionary-encode string keys first) and `tsCol` an
    * integer timeline ([[graft.core.GraftSession.tsMicros]]). Walk
    * correctness: events sort by ts; a step-i event advances the
    * machine only when strictly later than step i-1's time (same-ts
    * ties never advance, matching the staged `>`), so the first
    * accepted step-i event IS the minimum strictly-after candidate. */
  def funnelSinglePass(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct == steps,
      "repeated step types are ambiguous — strict-after semantics" +
        " already handle re-occurrence")
    val spark = events.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val n = steps.length
    val NONE = Long.MinValue // sentinel: encoder-friendly missing marker
    val typed = events
      .filter(col(typeCol).isin(steps: _*))
      .select(col(userCol).cast("long"), col(typeCol),
        col(tsCol).cast("long"))
      .as[(Long, String, Long)]
    val walked = typed.groupByKey(_._1).flatMapGroups {
      (user: Long, it: Iterator[(Long, String, Long)]) =>
        val journey = it.map { case (_, t, ts) => (stepIdx(t), ts) }.toArray
        java.util.Arrays.sort(journey,
          Ordering.by[(Int, Long), Long](_._2))
        val times = Array.fill(n)(NONE)
        var cur = 0
        var tcur = 0L
        var i = 0
        while (i < journey.length && cur < n) {
          val (si, ts) = journey(i)
          if (si == cur && (cur == 0 || ts > tcur)) {
            times(cur) = ts
            tcur = ts
            cur += 1
          }
          i += 1
        }
        if (times(0) == NONE) Iterator.empty // never entered the funnel
        else Iterator((user, times.toSeq, cur))
    }
    walked.toDF(userCol, "__times", "__reached")
      .select(col(userCol) +:
        steps.indices.map { i =>
          val c = col("__times")(i)
          when(c =!= NONE, c).as(s"t${i + 1}")
        } :+ col("__reached").cast("int").as("step_reached"): _*)
  }
}
