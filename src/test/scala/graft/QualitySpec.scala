package graft

import org.apache.spark.sql.functions._
import graft.ext.Quality
import graft.ext.Quality._

class QualitySpec extends SparkSpecBase {
  import spark.implicits._

  // id 4 duplicates id 3's key; nulls and out-of-domain values sprinkled
  private lazy val facts = Seq(
    (Some(1L), Some("a@x.org"), Some(10.0), "US"),
    (Some(2L), None, Some(-5.0), "DE"),
    (Some(3L), Some("bad-email"), Some(50.0), "FR"),
    (Some(3L), Some("c@y.net"), Some(200.0), "XX"),
    (None, Some("d@z.io"), None, "US"))
    .toDF("id", "email", "score", "country")

  private lazy val dim = Seq("US", "DE", "FR").toDF("code")

  private def report = Quality.suite(facts, Seq(
    NotNull("id"),
    Unique(Seq("id")),
    InRange("score", 0.0, 100.0),
    InSet("country", Seq("US", "DE", "FR", "GB")),
    MatchesRegex("email", "^[^@]+@[^@]+\\.[a-z]+$"),
    ForeignKey("country", dim, "code")))
    .collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap

  test("every check measures its own violation population") {
    val r = report
    assert(r("not_null(id)") == ((5L, 1L, false)))
    // 4 complete ids, 3 distinct -> 1 excess duplicate
    assert(r("unique(id)") == ((5L, 1L, false)))
    // -5.0 and 200.0 violate; NULL score is not a range violation
    assert(r("in_range(score,0.0,100.0)") == ((5L, 2L, false)))
    assert(r("in_set(country:US,DE,FR,GB)") == ((5L, 1L, false)))
    assert(r("regex(email:^[^@]+@[^@]+\\.[a-z]+$)") == ((5L, 1L, false)))
    // country has no NULLs here: population 5, XX unresolved
    assert(r("fk(country)") == ((5L, 1L, false)))
  }

  test("a clean table passes every check") {
    val clean = Seq((1L, "US"), (2L, "DE")).toDF("id", "country")
    val r = Quality.suite(clean, Seq(NotNull("id"), Unique(Seq("id")),
      ForeignKey("country", dim, "code"))).collect()
    assert(r.length == 3 && r.forall(_.getBoolean(3)))
    assert(r.forall(_.getLong(2) == 0L))
  }

  test("multi-column uniqueness counts composite duplicates only") {
    val df = Seq((1L, "a"), (1L, "b"), (1L, "a"), (2L, "a"))
      .toDF("k1", "k2")
    val r = Quality.suite(df, Seq(Unique(Seq("k1", "k2")))).head()
    assert(r.getLong(2) == 1L) // only the repeated (1,a)
  }

  test("NULL components are excluded from uniqueness on both sides") {
    val df = Seq((Some(1L), Some("a")), (None, Some("a")),
      (Some(1L), None)).toDF("k1", "k2")
    val r = Quality.suite(df, Seq(Unique(Seq("k1", "k2")))).head()
    assert(r.getLong(2) == 0L)
  }

  test("FK semantics: NULL references are not violations") {
    val df = Seq[(java.lang.Long, String)]((1L, "US"), (2L, null))
      .toDF("id", "country")
    val r = Quality.suite(df, Seq(ForeignKey("country", dim, "code")))
      .head()
    assert(r.getLong(1) == 1L && r.getLong(2) == 0L) // population excludes NULL
  }

  test("duplicate check names fail loudly") {
    intercept[IllegalArgumentException] {
      Quality.suite(facts, Seq(NotNull("id"), NotNull("id")))
    }
  }

  test("two DIFFERENT regex/set checks on one column coexist") {
    val r = Quality.suite(facts, Seq(
      MatchesRegex("email", "@"), MatchesRegex("email", "\\."),
      InSet("country", Seq("US")), InSet("country", Seq("US", "DE"))))
      .collect()
    assert(r.length == 4)
  }

  test("empty input: zero violations, every check passes") {
    val empty = facts.filter(lit(false))
    val r = Quality.suite(empty, Seq(NotNull("id"), Unique(Seq("id")),
      InRange("score", 0.0, 100.0), ForeignKey("country", dim, "code")))
      .collect()
    assert(r.length == 4)
    assert(r.forall(x => x.getLong(2) == 0L && x.getBoolean(3)))
  }

  test("all row-local checks compile into one aggregate over one scan") {
    val plan = Quality.suite(facts, Seq(NotNull("id"),
      InRange("score", 0.0, 100.0), InSet("country", Seq("US")),
      MatchesRegex("email", "@"))).queryExecution.optimizedPlan
    val scans = plan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.size == 1, s"expected one scan, got:\n$plan")
  }
}
