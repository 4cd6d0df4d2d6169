package graft

import graft.operators.AsofJoin

class AsofSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val left = Seq(
    ("u1", 100L, "p1"), ("u1", 205L, "p2"), ("u1", 50L, "p0"),
    ("u2", 300L, "p3")).toDF("user", "ts", "purchase")
  private lazy val right = Seq(
    ("u1", 90L, "c1"), ("u1", 100L, "c2"), ("u1", 200L, "c3"),
    ("u2", 400L, "c4")).toDF("user", "ts", "click")

  test("backward asof: latest right at-or-before each left") {
    val got = AsofJoin.backward(left, right, Seq("user"), "ts", "ts")
      .select("user", "ts", "purchase", "click")
      .as[(String, Long, String, Option[String])].collect().toSet
    assert(got == Set(
      ("u1", 50L, "p0", None),          // nothing at or before 50
      ("u1", 100L, "p1", Some("c2")),   // equal ts matches (>=)
      ("u1", 205L, "p2", Some("c3")),
      ("u2", 300L, "p3", None)))        // u2's only click is later
  }

  test("backwardWithin: matches outside the gap are nulled") {
    val got = AsofJoin.backwardWithin(left, right, Seq("user"), "ts", "ts",
        maxGap = 10L)
      .select("user", "ts", "click")
      .as[(String, Long, Option[String])].collect().toSet
    assert(got == Set(
      ("u1", 50L, None),
      ("u1", 100L, Some("c2")),
      ("u1", 205L, Some("c3")),        // gap 5 <= 10
      ("u2", 300L, None)))
  }

  test("backwardWithin on TimestampType columns (gap unit = seconds)") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val l = Seq(("u1", ts("2024-01-01 00:00:30"), "p1"),
      ("u1", ts("2024-01-01 00:05:00"), "p2"))
      .toDF("user", "ts", "purchase")
    val r = Seq(("u1", ts("2024-01-01 00:00:00"), "c1"))
      .toDF("user", "ts", "click")
    val got = AsofJoin.backwardWithin(l, r, Seq("user"), "ts", "ts",
        maxGap = 60L)
      .select("user", "purchase", "click")
      .as[(String, String, Option[String])].collect().toSet
    assert(got == Set(("u1", "p1", Some("c1")), ("u1", "p2", None)))
  }

  test("backward asof == brute force on random data") {
    val rnd = new scala.util.Random(42)
    val l = (0 until 400).map(i =>
      (s"u${rnd.nextInt(8)}", rnd.nextInt(1000).toLong, i.toLong))
      .toDF("user", "ts", "lid")
    // right side unique per (user, ts) as the contract requires
    val rRows = (0 until 400).map(i =>
      (s"u${rnd.nextInt(8)}", rnd.nextInt(1000).toLong, i.toLong))
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
    val r = rRows.toDF("user", "ts", "rid")

    val got = AsofJoin.backward(l, r, Seq("user"), "ts", "ts")
      .select("user", "ts", "lid", "rid")
      .as[(String, Long, Long, Option[Long])].collect()
      .map(x => x._3 -> x._4).toMap

    val byUser = rRows.groupBy(_._1)
    l.as[(String, Long, Long)].collect().foreach { case (u, ts, lid) =>
      val want = byUser.getOrElse(u, Seq.empty)
        .filter(_._2 <= ts).sortBy(x => (x._2, x._3)).lastOption.map(_._3)
      assert(got(lid) == want, s"lid=$lid user=$u ts=$ts")
    }
  }

  test("forward asof == brute force on random data") {
    val rnd = new scala.util.Random(7)
    val l = (0 until 400).map(i =>
      (s"u${rnd.nextInt(8)}", rnd.nextInt(1000).toLong, i.toLong))
      .toDF("user", "ts", "lid")
    val rRows = (0 until 400).map(i =>
      (s"u${rnd.nextInt(8)}", rnd.nextInt(1000).toLong, i.toLong))
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
    val r = rRows.toDF("user", "ts", "rid")

    val got = AsofJoin.forward(l, r, Seq("user"), "ts", "ts")
      .select("user", "ts", "lid", "rid")
      .as[(String, Long, Long, Option[Long])].collect()
      .map(x => x._3 -> x._4).toMap

    val byUser = rRows.groupBy(_._1)
    l.as[(String, Long, Long)].collect().foreach { case (u, ts, lid) =>
      // earliest right at-or-after ts; equal-ts right matches
      val want = byUser.getOrElse(u, Seq.empty)
        .filter(_._2 >= ts).sortBy(x => (x._2, -x._3)).headOption.map(_._3)
      assert(got(lid) == want, s"lid=$lid user=$u ts=$ts")
    }
  }

  test("asof plan has no join node — one shuffle + window") {
    val plan = AsofJoin.backward(left, right, Seq("user"), "ts", "ts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Window"))
  }
}
