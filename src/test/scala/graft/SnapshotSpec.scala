package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.Snapshot

class SnapshotSpec extends SparkSpecBase {
  import spark.implicits._

  // (key, state, ts, seq): u1 changes a->b->a with a no-change repeat;
  // u2 never changes; u3 has two changes on the SAME timestamp (tie
  // broken by seq) plus a re-change back on that timestamp
  private lazy val log = Seq(
    ("u1", "a", 100L, 1L), ("u1", "a", 200L, 2L), ("u1", "b", 300L, 3L),
    ("u1", "b", 400L, 4L), ("u1", "a", 500L, 5L),
    ("u2", "x", 150L, 6L),
    ("u3", "p", 100L, 7L), ("u3", "q", 100L, 8L), ("u3", "p", 100L, 9L))
    .toDF("k", "v", "ts", "seq")

  private def hist(df: DataFrame): DataFrame =
    Snapshot.scd2FromLog(df, Seq("k"), Seq("v"), "ts", Seq("seq"))

  private def rows(df: DataFrame) =
    df.select("k", "v", "version_seq", "valid_from", "valid_to")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long])))
      .sortBy(t => (t._1, t._3))

  test("consecutive same-value rows collapse; versions stitch exactly") {
    assert(rows(hist(log)).toSeq == Seq(
      ("u1", "a", 1L, 100L, Some(300L)),
      ("u1", "b", 2L, 300L, Some(500L)),
      ("u1", "a", 3L, 500L, None),
      ("u2", "x", 1L, 150L, None),
      ("u3", "p", 1L, 100L, Some(100L)),
      ("u3", "q", 2L, 100L, Some(100L)),
      ("u3", "p", 3L, 100L, None)))
  }

  test("null tracked values are versioned null-safely") {
    val l = Seq(("k", Some("a"), 1L, 1L), ("k", None, 2L, 2L),
      ("k", None, 3L, 3L), ("k", Some("a"), 4L, 4L))
      .toDF("k", "v", "ts", "seq")
    assert(rows(hist(l)).toSeq == Seq(
      ("k", "a", 1L, 1L, Some(2L)),
      ("k", null, 2L, 2L, Some(4L)),
      ("k", "a", 3L, 4L, None)))
  }

  test("asOf reconstructs the snapshot at any instant") {
    val h = hist(log)
    def snap(t: Long) = Snapshot.asOf(h, t)
      .select("k", "v").as[(String, String)].collect().toMap
    assert(snap(250L) == Map("u1" -> "a", "u2" -> "x", "u3" -> "p"))
    assert(snap(450L) == Map("u1" -> "b", "u2" -> "x", "u3" -> "p"))
    assert(snap(99L) == Map.empty[String, String])
    assert(snap(1000L) == Map("u1" -> "a", "u2" -> "x", "u3" -> "p"))
  }

  test("enrichAsOf labels facts with the version valid at their instant") {
    val dim = hist(log).withColumnRenamed("v", "state")
    // facts: before any history (ts=50), mid-version (250), exactly on
    // a boundary (300 -> the version STARTING at 300), and a key with
    // no history at all
    val facts = Seq(("u1", 50L, "f0"), ("u1", 250L, "f1"),
      ("u1", 300L, "f2"), ("zz", 100L, "f3")).toDF("k", "fts", "tag")
    val out = graft.ext.Snapshot.enrichAsOf(facts, dim, Seq("k"), "fts")
      .select("tag", "state", "version_seq")
      .collect().map(r => r.getString(0) ->
        ((Option(r.getString(1)), Option(r.get(2))))).toMap
    assert(out("f0") == ((None, None)))
    assert(out("f1") == ((Some("a"), Some(1L))))
    assert(out("f2") == ((Some("b"), Some(2L))))
    assert(out("f3") == ((None, None)))
  }

  test("enrichAsOf at a multi-change instant resolves to the surviving version") {
    // u3 has three versions born at ts=100; only version 3 (p) is valid
    // at any instant — zero-length versions must never match
    val dim = hist(log).withColumnRenamed("v", "state")
    val facts = Seq(("u3", 100L), ("u3", 999L)).toDF("k", "fts")
    val out = graft.ext.Snapshot.enrichAsOf(facts, dim, Seq("k"), "fts")
      .select("fts", "state", "version_seq")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(out == Set((100L, "p", 3L), (999L, "p", 3L)))
  }

  test("diff classifies added/removed/changed/unchanged, null-safely") {
    val before = Seq(("k1", Some("a")), ("k2", Some("b")),
      ("k3", Option.empty[String]), ("k4", Some("d")))
      .toDF("k", "v")
    val after = Seq(("k2", Some("B")), ("k3", Option.empty[String]),
      ("k4", Some("d")), ("k5", Some("e"))).toDF("k", "v")
    val out = graft.ext.Snapshot.diff(before, after, Seq("k"), Seq("v"))
      .select("k", "change_type", "old_v", "new_v")
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1),
        Option(r.getString(2)), Option(r.getString(3))))).toMap
    assert(out("k1") == (("removed", Some("a"), None)))
    assert(out("k2") == (("changed", Some("b"), Some("B"))))
    assert(out("k3") == (("unchanged", None, None))) // NULL==NULL
    assert(out("k4") == (("unchanged", Some("d"), Some("d"))))
    assert(out("k5") == (("added", None, Some("e"))))
  }

  test("history plan: one shuffle on the key, windows share it") {
    val exchanges = hist(log).queryExecution.executedPlan.toString()
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, "both window passes must reuse one key shuffle")
  }
}
