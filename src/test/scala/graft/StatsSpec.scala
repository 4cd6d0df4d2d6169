package graft

import org.apache.spark.sql.functions._
import graft.ext.Stats

class StatsSpec extends SparkSpecBase {
  import spark.implicits._

  // deterministic pseudo-random fixture: 2 groups, 500 rows, values on a
  // 1e-4 grid so scale=1e4 makes the statistics exact
  private lazy val df = {
    val rows = (1 to 1000).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      val x = math.floor(math.sin(i) * 12345.0) / 10000.0
      val y = math.floor(math.cos(i * 7) * 54321.0) / 10000.0
      (g, x, y)
    }
    rows.toDF("g", "x", "y")
  }

  test("descriptive matches Spark's native stddev/avg within 1e-9") {
    val got = Stats.descriptive(df, col("x"), 1e4, Seq("g"))
      .orderBy("g").collect()
    val exp = df.groupBy("g")
      .agg(count(lit(1)).as("n"), avg("x").as("mean"),
        var_samp("x").as("v"), stddev_pop("x").as("sd"))
      .orderBy("g").collect()
    got.zip(exp).foreach { case (g, e) =>
      assert(g.getLong(1) == e.getLong(1))
      assert(math.abs(g.getDouble(2) - e.getDouble(2)) < 1e-9, "mean")
      assert(math.abs(g.getDouble(3) - e.getDouble(3)) < 1e-9, "var")
      assert(math.abs(g.getDouble(4) - e.getDouble(4)) < 1e-9, "stddev")
    }
  }

  test("pearson matches Spark's native corr within 1e-9") {
    val got = Stats.pearson(df, col("x"), 1e4, col("y"), 1e4, Seq("g"))
      .orderBy("g").collect()
    val exp = df.groupBy("g").agg(corr("x", "y").as("r"))
      .orderBy("g").collect()
    got.zip(exp).foreach { case (g, e) =>
      assert(math.abs(g.getDouble(2) - e.getDouble(1)) < 1e-9)
    }
  }

  test("results are bit-identical under any partitioning") {
    def run(parts: Int): Seq[(String, Long, Double, Double, Double)] =
      Stats.descriptive(df.repartition(parts), col("x"), 1e4, Seq("g"))
        .orderBy("g")
        .as[(String, Long, Double, Double, Double)].collect().toSeq
    val p1 = run(1); val p7 = run(7); val p32 = run(32)
    // exact ==, not tolerance: the whole point of the moments formulation
    assert(p1 == p7 && p7 == p32)
  }

  test("native stddev_samp IS partition-order sensitive (motivation)") {
    // documents why Stats exists; if this ever starts passing with exact
    // equality everywhere, revisit — but do not rely on it
    val a = df.repartition(1).agg(var_samp("x")).first().getDouble(0)
    val b = df.repartition(13).agg(var_samp("x")).first().getDouble(0)
    assert(math.abs(a - b) < 1e-9) // close, but typically not identical
  }

  test("quantize recovers a decimal grid exactly despite double error") {
    // 900.68 * 100 = 90067.999... in double; quantize must yield 90068
    val got = Seq(900.68, -900.68, 0.005, -0.005)
      .toDF("v").select(Stats.quantize(col("v"), 100.0)).as[Long]
      .collect().toSeq
    assert(got == Seq(90068L, -90068L, 1L, 0L)) // floor(+0.5) half-up-to-+inf
  }

  test("kmv sketch: exact under k, stable under dups and partitioning") {
    import graft.ext.Sketches
    val small = (1 to 40).map(i => ("g", i.toLong)).toDF("grp", "v")
    val exact = Sketches.kmvDistinct(small, "grp", "v", k = 64, withExact = true).first()
    assert(exact.getDouble(1) == 40.0) // below k: estimate IS the count
    assert(exact.getLong(2) == 40L)

    val big = (1 to 5000).map(i => ("g", i.toLong)) ++
      (1 to 5000).map(i => ("h", (i % 700).toLong + 1))
    val df = big.toDF("grp", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sketches.kmvDistinct(d, "grp", "v", k = 64, withExact = true)
        .orderBy("grp").collect().toSeq.map(r =>
          (r.getString(0), r.getDouble(1), r.getLong(2)))
    val base = run(df)
    // duplicate rows don't move a distinct sketch
    assert(run(df.union(df)) == base)
    // merge order / partitioning doesn't either (associative partials)
    assert(run(df.repartition(7)) == base)
    assert(run(df.repartition(1)) == base)
    // ~1/sqrt(k-2) standard error; 4 sigma bound keeps the test stable
    val Seq((_, estG, 5000L), (_, estH, 700L)) = base
    assert(math.abs(estG - 5000.0) / 5000.0 < 0.5, s"estG=$estG")
    assert(math.abs(estH - 700.0) / 700.0 < 0.5, s"estH=$estH")
  }

  test("heavy hitters: exact counts, skew found, any partitioning") {
    import graft.ext.Sketches
    // 3 heavy values on a long uniform tail
    val rows = Seq.fill(2000)(7L) ++ Seq.fill(1500)(13L) ++
      Seq.fill(900)(99L) ++ (1 to 5600).map(i => (i % 1400).toLong + 1000)
    val df = rows.toDF("v") // 10000 rows
    def run(d: org.apache.spark.sql.DataFrame) =
      Sketches.heavyHitters(d, "v", phi = 0.05, k = 64)
        .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // exact: 7 and 13 are >= 5%; 99 (9%... 900/10000) also
    val expected = Seq((7L, 2000L), (13L, 1500L), (99L, 900L))
    assert(run(df) == expected)
    assert(run(df.repartition(17)) == expected) // merge-order independent
    // tail items (each 4 occurrences) never appear
  }

  test("grouped top-k == window row_number, any partitioning") {
    import graft.ext.Sketches
    val rnd = new scala.util.Random(11)
    val df = (1 to 3000).map { i =>
      (s"g${i % 4}", i.toLong, rnd.nextInt(50).toLong) // many score ties
    }.toDF("grp", "id", "score")
    def expected = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("grp")
        .orderBy(col("score").desc, col("id").asc)
      df.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 7)
        .select("grp", "rank", "id", "score")
        .orderBy("grp", "rank").collect().toSeq
    }
    def got(d: org.apache.spark.sql.DataFrame) =
      Sketches.groupedTopK(d, "grp", "id", "score", k = 7)
        .orderBy("grp", "rank").collect().toSeq
    assert(got(df) == expected)
    assert(got(df.repartition(13)) == expected) // merge-order independent
  }

  test("profile: nulls, exact distincts, native-typed min/max, one row per column") {
    import org.apache.spark.sql.Row
    val df = Seq[(java.lang.Long, String)](
      (9L, "b"), (10L, "a"), (10L, null), (2L, "c"), (null, "a"))
      .toDF("num", "s")
    val p = Stats.profile(df, Seq("num", "s"))
      .orderBy("col_name").collect()
    assert(p.length == 2)
    // min on the NATIVE type then cast: 2 < 9 < 10 numerically ("10"
    // would sort below "9" as a string — the bug this guards against)
    assert(p(0) == Row("num", 5L, 1L, 3L, "2", "10"))
    assert(p(1) == Row("s", 5L, 1L, 3L, "a", "c"))
    assert(Stats.profile(df.repartition(7), Seq("num", "s"))
      .orderBy("col_name").collect().toSeq == p.toSeq)
  }

  test("content digest: multiset-equal iff equal; order/partition blind") {
    import graft.ext.Stats
    val a = Seq((1L, Some("x")), (2L, None), (3L, Some("y")))
      .toDF("id", "v")
    def dig(df: org.apache.spark.sql.DataFrame) =
      Stats.contentDigest(df, Seq("id", "v")).head()
    val d0 = dig(a)
    // row order and partitioning are invisible
    assert(dig(a.orderBy($"id".desc).repartition(7)) == d0)
    // NULL vs absent-column-value distinction: (2, NULL) != (2, chr2-
    // lookalike absent) — changing the null to a value changes the hash
    val b = Seq((1L, Some("x")), (2L, Some("")), (3L, Some("y")))
      .toDF("id", "v")
    assert(dig(b) != d0)
    // any single-row mutation changes the digest
    val c = Seq((1L, Some("x")), (2L, None), (3L, Some("z")))
      .toDF("id", "v")
    assert(dig(c) != d0)
    // duplicate rows count: multiset, not set
    val dup = a.unionAll(a.limit(1))
    assert(dig(dup) != d0 && dig(dup).getLong(0) == 4L)
    // separator injection: a value CONTAINING the cell separator must
    // not shift boundaries — ("xy","z") vs ("x","yz")
    // digest DIFFERENTLY (the length-prefix netstring device)
    val inj1 = Seq(("xy", "z")).toDF("a", "b")
    val inj2 = Seq(("x", "yz")).toDF("a", "b")
    def dig2(df: org.apache.spark.sql.DataFrame) =
      Stats.contentDigest(df, Seq("a", "b")).head()
    assert(dig2(inj1) != dig2(inj2))
    // a value that IS the null-marker literal != an actual NULL
    val mk1 = Seq((1L, Some(""))).toDF("id", "v")
    val mk2 = Seq((1L, Option.empty[String])).toDF("id", "v")
    assert(dig(mk1) != dig(mk2))
    // empty table: digest (0, 0) in the hi/lo BIGINT pair, never NULL
    // (equality gates must not three-value on two legitimately
    // identical empty releases)
    val empty = dig(a.filter($"id" < 0))
    assert(empty.getLong(0) == 0L &&
      !empty.isNullAt(1) && empty.getLong(1) == 0L &&
      !empty.isNullAt(2) && empty.getLong(2) == 0L)
    // schema contract: (n_rows BIGINT, digest_hi BIGINT, digest_lo
    // BIGINT) — the canonical cross-engine rendering
    val sch = Stats.contentDigest(a, Seq("id", "v")).schema
    assert(sch.map(_.name) == Seq("n_rows", "digest_hi", "digest_lo"))
    assert(sch.forall(_.dataType ==
      org.apache.spark.sql.types.LongType))
  }

  test("digestSplit: exact divmod 2^63 on wide decimals above int64") {
    import graft.ext.Stats
    // literal DECIMAL(38,0) digests below / at / just above 2^63, and
    // far above int64 — the overflow path a 10^10-row table would hit,
    // pinned without building one (Stats.scala digestSplit contract)
    val two63 = BigInt("9223372036854775808") // 2^63
    val cases = Seq(
      BigInt(0), BigInt(1), BigInt(42),
      two63 - 1, // max lo, hi 0
      two63, // exactly 2^63 → (1, 0)
      two63 + 7, // (1, 7)
      two63 * 2 + 5, // 2^64 + 5 → (2, 5)
      two63 * 1000000 + 999, // deep hi
      BigInt(2).pow(125) + 12345) // near the 2^126 documented ceiling
    // build from string literals: the Scala BigDecimal encoder pins
    // DECIMAL(38,18), which cannot hold >10^20 — the string cast can
    val df = cases.map(v => Tuple1(v.toString)).toDF("__digest")
      .select($"__digest".cast("decimal(38,0)").as("__digest"))
    val got = df.select(Stats.digestSplit("__digest"): _*)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val want = cases.map(v => ((v / two63).toLong, (v % two63).toLong))
    assert(got == want)
    // reconstruction is lossless: hi * 2^63 + lo == original
    got.zip(cases).foreach { case ((hi, lo), v) =>
      assert(BigInt(hi) * two63 + BigInt(lo) == v)
    }
  }

  test("incremental state merge == direct aggregation, exactly") {
    import graft.ext.Incremental
    val rows = Seq(("g1", 10.25), ("g1", 0.75), ("g2", -3.50),
      ("g2", 99.99), ("g1", 7.00), ("g3", 1.01)).toDF("g", "v")
    def stateOf(df: org.apache.spark.sql.DataFrame) =
      Incremental.aggregateState(df, Seq("g"), "v")
    val direct = Incremental.finish(stateOf(rows))
      .orderBy("g").collect().toSeq
    // split so g2 is delta-only and g3 snapshot-only
    val snap = stateOf(rows.filter($"g" =!= "g2"))
    val delta = stateOf(rows.filter($"g" === "g2"))
    val merged = Incremental.finish(
        Incremental.merge(snap, delta, Seq("g")))
      .orderBy("g").collect().toSeq
    assert(merged == direct)
    // associativity: fold three batches pairwise in a different order
    val s1 = stateOf(rows.limit(2)); val s2 = stateOf(rows.limit(4)
      .exceptAll(rows.limit(2))); val s3 = stateOf(rows.exceptAll(rows.limit(4)))
    val folded = Incremental.finish(Incremental.merge(
        Incremental.merge(s1, s2, Seq("g")), s3, Seq("g")))
      .orderBy("g").collect().toSeq
    assert(folded == direct)
    // schema stability (names + types): merged state unions with fresh
    // state without decimal-precision drift
    assert(Incremental.merge(snap, delta, Seq("g")).schema
      .map(f => (f.name, f.dataType)) ==
      snap.schema.map(f => (f.name, f.dataType)))
  }

  test("winsorizedMean: clamp == brute force; NULL group key survives") {
    import graft.ext.Incremental
    val rows = (0 until 1500).map { i =>
      (s"g${i % 3}", ((i * 7919) % 997) / 10.0)
    } ++ Seq(("g0", 100000.0), ("g0", -100000.0)) // wild outliers
    val df = rows.toDF("g", "v")
    val hist = Incremental.histogramState(df, Seq("g"), "v")
    val got = Incremental.winsorizedMean(hist, Seq("g"), 100.0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[Double]("winsorized_mean"))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val cents = rs.map(r => math.floor(r._2 * 100.0 + 0.5).toLong).sorted
      val n = cents.length
      def cut(num: Int) = cents(((num * n + 99) / 100 - 1).max(0))
      val (lo, hi) = (cut(5), cut(95))
      val want = cents.map(c => c.max(lo).min(hi)).sum.toDouble / n / 100.0
      assert(got(g)._1 == n.toLong, g)
      assert(got(g)._2 == want, s"$g: ${got(g)._2} vs $want")
      // the winsorized mean shrugged off the planted ±100k outliers
      if (g == "g0") assert(math.abs(got(g)._2) < 100.0)
    }
    // NULL group key is a group (the percentiles lesson, re-asserted
    // through the null-safe cut join)
    val withNull = df.unionByName(Seq(
      (null.asInstanceOf[String], 5.0),
      (null.asInstanceOf[String], 7.0)).toDF("g", "v"))
    val gotN = Incremental.winsorizedMean(
        Incremental.histogramState(withNull, Seq("g"), "v"),
        Seq("g"), 100.0)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(gotN.get(None).contains(2L), gotN.keySet)
  }

  test("corrState: merge == recompute exactly; finish == brute force") {
    import graft.ext.Incremental
    val rows = (0 until 2000).map { i =>
      val x = (i % 50).toDouble
      // y correlated with x plus deterministic 2dp noise
      val y = math.floor((x * 3.0 + (i * 7919) % 97) * 100.0) / 100.0
      (s"g${i % 3}", x, y)
    }
    val df = rows.toDF("g", "x", "y")
    def state(d: org.apache.spark.sql.DataFrame) =
      Incremental.corrState(d, Seq("g"), "x", "y")
    // split three ways, fold pairwise — state identical to one-shot
    // (decimal sums add exactly in any order)
    val parts = Seq(df.filter($"x" < 15), df.filter($"x" >= 15 && $"x" < 35),
      df.filter($"x" >= 35))
    val merged = parts.map(state)
      .reduce(Incremental.corrMerge(_, _, Seq("g")))
    val direct = state(df)
    def rows6(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("g").collect().toSeq
    assert(rows6(merged) == rows6(direct))
    // schema stability: merged state unions with fresh state
    assert(merged.schema.map(f => (f.name, f.dataType)) ==
      direct.schema.map(f => (f.name, f.dataType)))
    // finish == driver brute force (IEEE tolerance: the brute force
    // sums doubles in a different order)
    val fin = Incremental.corrFinish(merged).orderBy("g").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Double]("pearson_r"), r.getAs[Double]("slope")))
      .toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val n = rs.size.toDouble
      val (sx, sy) = (rs.map(_._2).sum, rs.map(_._3).sum)
      val sxx = rs.map(r => r._2 * r._2).sum
      val syy = rs.map(r => r._3 * r._3).sum
      val sxy = rs.map(r => r._2 * r._3).sum
      val r0 = (n * sxy - sx * sy) /
        math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      val b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(math.abs(fin(g)._1 - r0) < 1e-9, s"$g r")
      assert(math.abs(fin(g)._2 - b) < 1e-9, s"$g slope")
      assert(fin(g)._1 > 0.5) // genuinely correlated fixture
    }
    // degenerate groups: n=1 and zero-variance x both yield NULL
    // r/slope, never a crash or an Infinity
    val degen = Seq(("solo", 1.0, 2.0), ("flat", 3.0, 1.0),
      ("flat", 3.0, 5.0)).toDF("g", "x", "y")
    val fd = Incremental.corrFinish(state(degen)).collect()
      .map(r => r.getString(0) -> r).toMap
    def nulls(g: String) = {
      val r = fd(g)
      r.isNullAt(r.fieldIndex("pearson_r")) &&
        r.isNullAt(r.fieldIndex("slope")) &&
        r.isNullAt(r.fieldIndex("intercept"))
    }
    assert(nulls("solo") && nulls("flat"))
  }

  test("joinDelta: snapshot join ∪ delta == full join, exactly") {
    import graft.ext.Incremental
    // multiset-sensitive fixture: duplicate keys on BOTH sides so every
    // delta term multiplies (a missed or double-counted term shows up
    // in the pair counts)
    val a = (0L until 60L).map(i => (i % 10, s"a$i")).toDF("k", "av")
    val b = (0L until 30L).map(i => (i % 12, s"b$i")).toDF("k", "bv")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "av", "bv").as[(Long, String, String)]
        .collect().toSeq.sorted
    val full = rows(a.join(b, Seq("k")))
    // split each side: ~1/3 of rows arrive as the delta
    val (sa, da) = (a.filter($"av".substr(2, 10).cast("long") % 3 =!= 0),
      a.filter($"av".substr(2, 10).cast("long") % 3 === 0))
    val (sb, db) = (b.filter($"bv".substr(2, 10).cast("long") % 4 =!= 0),
      b.filter($"bv".substr(2, 10).cast("long") % 4 === 0))
    val maintained = rows(sa.join(sb, Seq("k")).unionByName(
      Incremental.joinDelta(sa, da, sb, db, Seq("k"))))
    assert(maintained == full)
    // one-sided appends degrade correctly (empty delta terms vanish)
    assert(rows(sa.join(b, Seq("k")).unionByName(
      Incremental.joinDelta(sa, da, b, b.limit(0), Seq("k")))) == full)
    assert(rows(a.join(sb, Seq("k")).unionByName(
      Incremental.joinDelta(a, a.limit(0), sb, db, Seq("k")))) == full)
    // both snapshots empty: the delta IS the full join
    assert(rows(Incremental.joinDelta(a.limit(0), a, b.limit(0), b,
      Seq("k"))) == full)
    // scale shape: every term is a broadcast-hash join (the snapshots
    // never shuffle)
    val plan = Incremental.joinDelta(sa, da, sb, db, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin"), plan)
  }

  test("histogram state: merge == recompute; percentiles == brute force") {
    import graft.ext.Incremental
    val rows = (0 until 3000).map { i =>
      (s"g${i % 3}", ((i * 7919) % 997) / 10.0)
    }
    val df = rows.toDF("g", "v")
    def stateSet(d: org.apache.spark.sql.DataFrame) =
      Incremental.histogramState(d, Seq("g"), "v")
        .as[(String, Long, Long)].collect().toSet
    // three-way split folded pairwise == one-shot state
    val parts = Seq(df.filter($"v" < 30), df.filter($"v" >= 30 && $"v" < 60),
      df.filter($"v" >= 60))
    val merged = parts.map(Incremental.histogramState(_, Seq("g"), "v"))
      .reduce(Incremental.histogramMerge(_, _, Seq("g")))
      .as[(String, Long, Long)].collect().toSet
    assert(merged == stateSet(df))
    // read-time rank selection == brute-force sorted order statistic
    val got = Incremental.percentilesFromState(
        Incremental.histogramState(df, Seq("g"), "v"), Seq("g"),
        Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val cents = rs.map(r => math.floor(r._2 * 100.0 + 0.5).toLong).sorted
      def rank(num: Int, den: Int) =
        cents((num * cents.length + den - 1) / den - 1)
      assert(got(g) == ((rank(1, 2), rank(9, 10), rank(99, 100),
        cents.length.toLong)), s"group $g")
    }
    // null values are excluded, not zero-bucketed
    val withNulls = df.unionByName(
      Seq(("g0", null.asInstanceOf[java.lang.Double])).toDF("g", "v"))
    assert(stateSet(withNulls) == stateSet(df))
    // a NULL GROUP KEY is a legitimate group and must survive the
    // totals step (an equi-join on the keys silently dropped it; the
    // window-partitioned total keeps it)
    val nullKey = df.unionByName(Seq(
      (null.asInstanceOf[String], 1.0),
      (null.asInstanceOf[String], 2.0),
      (null.asInstanceOf[String], 3.0)).toDF("g", "v"))
    val gotNk = Incremental.percentilesFromState(
        Incremental.histogramState(nullKey, Seq("g"), "v"), Seq("g"),
        Seq(("p50", 1, 2)))
      .collect().map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(gotNk.contains(None), s"NULL group dropped: ${gotNk.keySet}")
    assert(gotNk(None) == ((200L, 3L))) // median of {100,200,300} cents
    assert(gotNk.size == 4) // g0..g2 + the NULL group, nothing lost
  }

  test("count-min: never underestimates, exact without collisions, " +
      "mergeable by cell sum, absent keys read their collision floor") {
    import graft.ext.Sketches
    // skewed key stream: key k appears k times, keys 1..40
    val keys = (1 to 40).flatMap(k => Seq.fill(k)(k.toLong)).toDF("k")
    val exact = (1 to 40).map(k => k.toLong -> k.toLong).toMap
    val cms = Sketches.countMin(keys, "k", depth = 4, width = 64).cache()
    assert(cms.count() <= 4 * 64)
    assert(cms.agg(sum("cnt")).head().getLong(0) == 4L * exact.values.sum)
    val probes = (1 to 45).map(_.toLong).toDF("k")
    val est = Sketches.countMinEstimate(cms, probes, "k", 4, 64)
      .as[(Long, Long)].collect().toMap
    // one-sided error: estimate >= true count for EVERY key (absent
    // keys 41..45 read >= 0 — their cells' collision mass)
    (1 to 45).foreach { k =>
      assert(est(k.toLong) >= exact.getOrElse(k.toLong, 0L), s"key $k")
    }
    // with 40 keys in 4 rows of 64 buckets, most keys see at least one
    // collision-free row — the min must be EXACT there; assert the
    // aggregate is tight: over half the present keys are exact
    val nExact = (1 to 40).count(k => est(k.toLong) == exact(k.toLong))
    assert(nExact > 20, s"only $nExact/40 exact")
    // mergeability: sketch(union) == cell-sum of the halves' sketches
    val h1 = (1 to 40).flatMap(k => Seq.fill(k / 2)(k.toLong)).toDF("k")
    val h2 = (1 to 40).flatMap(k =>
      Seq.fill(k - k / 2)(k.toLong)).toDF("k")
    val merged = Sketches.countMin(h1, "k", 4, 64)
      .unionByName(Sketches.countMin(h2, "k", 4, 64))
      .groupBy("row", "bucket").agg(sum("cnt").as("cnt"))
    val direct = cms.withColumnRenamed("cnt", "cnt2")
    assert(merged.join(direct, Seq("row", "bucket"), "full")
      .filter(coalesce(col("cnt"), lit(0L)) =!=
        coalesce(col("cnt2"), lit(0L))).count() == 0)
    cms.unpersist()
  }

  test("thresholdSweep: exact confusion counts and floor-e9 ratios") {
    // scores with a tie, a NULL truth (counts negative), 3 pos / 3 neg
    val rows = Seq(
      (5L, Some(true)), (5L, Some(false)), (3L, Some(true)),
      (3L, None), (1L, Some(false)), (1L, Some(true)))
    val df = rows.toDF("score_e9", "is_pos")
    val got = Stats.thresholdSweep(df, "score_e9", "is_pos")
      .orderBy(col("threshold_e9").desc)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // t=5: tp=1 fp=1 fn=2 tn=2; t=3: tp=2 fp=2; t=1: tp=3 fp=3
    assert(got.toSeq == Seq(
      (5L, 1L, 1L, 2L, 2L, 500000000L, 333333333L,
        2L * 500000000L * 333333333L / (500000000L + 333333333L)),
      (3L, 2L, 2L, 1L, 1L, 500000000L, 666666666L,
        2L * 500000000L * 666666666L / (500000000L + 666666666L)),
      (1L, 3L, 3L, 0L, 0L, 500000000L, 1000000000L,
        2L * 500000000L * 1000000000L / 1500000000L)))
    // invariants: recall monotone non-decreasing as threshold drops,
    // tp+fn constant
    val recalls = got.map(_._7).toSeq
    assert(recalls == recalls.sorted, recalls)
    assert(got.map(r => r._2 + r._4).distinct.length == 1)
  }

  test("thresholdSweep: all-negative truth never divides by zero") {
    val df = Seq((2L, false), (1L, false)).toDF("score_e9", "is_pos")
    val got = Stats.thresholdSweep(df, "score_e9", "is_pos")
      .orderBy(col("threshold_e9").desc)
      .collect().map(r => (r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got.forall(_ == ((0L, 0L, 0L))))
  }

  test("classificationReport: truths∪preds spine, never-predicted and " +
      "never-true classes report zeros, exact floor-e9 metrics") {
    val df = Seq(
      ("a", "a"), ("a", "a"), ("a", "b"),  // a: tp=2 fn=1
      ("b", "a"), ("b", "b"),              // b: tp=1 fp(a)=1
      ("c", "a")                           // c: never predicted
    ).toDF("truth", "pred")
    val got = Stats.classificationReport(df, "truth", "pred")
      .orderBy("cls").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8)))
    // a: sup 3, tp 2, predicted 4 -> fp 2; P=2e9/4, R=2e9/3
    val pA = 500000000L; val rA = 666666666L
    val f1A = 2 * pA * rA / (pA + rA)
    // b: sup 2, tp 1, predicted 2 -> fp 1; P=R=5e8, F1=5e8
    val f1B = 500000000L
    val macroF1 = (f1A + f1B + 0L) / 3
    assert(got.toSeq == Seq(
      ("a", 3L, 2L, 2L, 1L, pA, rA, f1A, macroF1),
      ("b", 2L, 1L, 1L, 1L, f1B, f1B, f1B, macroF1),
      ("c", 1L, 0L, 0L, 1L, 0L, 0L, 0L, macroF1)))
  }

  test("chiSquareDrift: identical distributions score 0; a hand 2x2 " +
      "case matches the exact rational") {
    val same = Seq(("x", false), ("x", true), ("y", false), ("y", true))
      .toDF("b", "cur")
    val gotSame = Stats.chiSquareDrift(same, "b", "cur")
      .collect().map(_.getLong(3))
    assert(gotSame.forall(_ == 0L))
    // 2x2: ref (30, 10), cur (10, 30); N=80, r_x=40, r_y=40,
    // c_ref=40, c_cur=40; every cell (o·N - r·c)² = (30·80-40·40)²
    // = 800² = 640000; D = 80·40·40 = 128000 -> cell = 5 exactly
    // -> chi2 per bucket = 2 cells = 10e9; total = 20e9
    val df = (Seq.fill(30)(("x", false)) ++ Seq.fill(10)(("x", true)) ++
      Seq.fill(10)(("y", false)) ++ Seq.fill(30)(("y", true)))
      .toDF("b", "cur")
    val got = Stats.chiSquareDrift(df, "b", "cur")
      .orderBy("bucket").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("x", 30L, 10L, 10000000000L, 20000000000L, 1L),
      ("y", 10L, 30L, 10000000000L, 20000000000L, 1L)))
  }

  test("ksDrift: identical distributions score 0; hand case matches " +
      "the exact rational with the smallest attaining value") {
    val same = Seq((1L, false), (1L, true), (2L, false), (2L, true))
      .toDF("v", "cur")
    val s0 = Stats.ksDrift(same, "v", "cur").head()
    assert(s0.getLong(2) == 0L)
    // ref: 1,1,2,3  cur: 2,3,3,4 -> D at v=1: |2*4-0*4|/16 = 0.5;
    // v=2: |3*4-1*4|=8 -> 0.5; v=3: |4*4-3*4|=4; v=4: 0.
    // max numerator 8 first attained at v=1 -> ks=0.5, at_value=1
    val df = (Seq(1L, 1L, 2L, 3L).map((_, false)) ++
      Seq(2L, 3L, 3L, 4L).map((_, true))).toDF("v", "cur")
    val r = Stats.ksDrift(df, "v", "cur").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 4L, 500000000L, 1L)))
  }

  test("piiPrevalence: the redaction patterns fire and the rates are " +
      "exact floors; report and scrubber share the patterns") {
    import graft.ext.TextAnalysis
    val df = Seq(
      ("s1", "write to a.b@c.io today"),
      ("s1", "see https://x.y/z now"),
      ("s1", "account 1234567 flagged"),
      ("s1", "clean text only"),
      ("s2", "all clean here")).toDF("source", "text")
    val got = TextAnalysis.piiPrevalence(df, "source", "text")
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got.toSeq == Seq(
      ("s1", 4L, 1L, 1L, 1L, 250000000L, 250000000L, 250000000L),
      ("s2", 1L, 0L, 0L, 0L, 0L, 0L, 0L)))
    // every doc the report counts is one the scrubber changes
    val changed = TextAnalysis.withRedaction(df, "text")
      .where(col("text") =!= col("text_redacted")).count()
    assert(changed == 3L)
  }

  test("groupPercentileRank: exact PERCENT_RANK with shared tie ranks " +
      "and single-row groups pinned to 0") {
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 20L), ("a", 4L, 40L),
      ("a", 5L, 50L),
      ("b", 6L, 7L)).toDF("src", "id", "score")
    val got = Stats.groupPercentileRank(df, Seq("src"), "score")
      .orderBy("id")
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    // group a, n=5: ranks 1,2,2,4,5 → (r-1)*1e9 // 4
    assert(got.toSeq == Seq(
      (1L, 0L), (2L, 250000000L), (3L, 250000000L), (4L, 750000000L),
      (5L, 1000000000L), (6L, 0L)))
  }
}
