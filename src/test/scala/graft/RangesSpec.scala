package graft

import org.apache.spark.sql.functions._
import graft.ranges.{Intervals, RangeJoin}

class RangesSpec extends SparkSpecBase {
  import spark.implicits._

  test("overlapFraction: the five analytic branches of calc_overlap") {
    // evaluated through the engine on a 1-row frame
    def frac(s1: Long, e1: Long, s2: Long, e2: Long): Double =
      Seq((s1, e1, s2, e2)).toDF("s1", "e1", "s2", "e2")
        .select(Intervals.overlapFraction($"s1", $"e1", $"s2", $"e2"))
        .head().getDouble(0)
    assert(frac(10, 19, 30, 40) == 0.0)              // disjoint
    assert(frac(10, 19, 5, 40) == 1.0)               // containment
    assert(frac(10, 19, 10, 19) == 1.0)              // identity
    assert(frac(10, 19, 15, 40) == 0.5)              // right partial
    assert(frac(10, 19, 0, 14) == 0.5)               // left partial
  }

  test("overlapFraction properties: bounds, containment, disjointness (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val iv = for {
      s <- Gen.chooseNum(0L, 1000L); len <- Gen.chooseNum(0L, 120L)
    } yield (s, s + len)
    // evaluate the whole random batch through the engine in one plan
    val cases = Gen.listOfN(300, Gen.zip(iv, iv)).sample.get
    val rows = cases.map { case ((s1, e1), (s2, e2)) => (s1, e1, s2, e2) }
      .toDF("s1", "e1", "s2", "e2")
      .withColumn("f", Intervals.overlapFraction($"s1", $"e1", $"s2", $"e2"))
      .collect()
    rows.foreach { r =>
      val (s1, e1, s2, e2, f) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(f >= 0.0 && f <= 1.0)
      if (e2 < s1 || e1 < s2) assert(f == 0.0) else assert(f > 0.0)
      if (s2 <= s1 && e1 <= e2) assert(f == 1.0)
    }
    // pure-expression symmetry property checked via ScalaCheck directly:
    // overlap length is symmetric in the two intervals
    val sym = Prop.forAll(iv, iv) { (a: (Long, Long), b: (Long, Long)) =>
      def len(x: (Long, Long), y: (Long, Long)) =
        math.max(0L, math.min(x._2, y._2) - math.max(x._1, y._1) + 1)
      len(a, b) == len(b, a)
    }
    assert(SCTest.check(SCTest.Parameters.default, sym).passed)
  }

  test("binned overlapJoin == naive theta join, each pair exactly once") {
    val r = new scala.util.Random(7)
    val left = (0 until 400).map { i =>
      val s = r.nextInt(2000).toLong
      (i.toLong, s"c${i % 3}", s, s + r.nextInt(150)) }
      .toDF("lid", "k", "ls", "le")
    val right = (0 until 400).map { i =>
      val s = r.nextInt(2000).toLong
      (i.toLong, s"c${i % 3}", s, s + r.nextInt(90)) }
      .toDF("rid", "k", "rs", "re")
    for (width <- Seq(16L, 64L, 1024L)) {
      val got = RangeJoin.overlapJoin(left, right, Seq("k"),
        "ls", "le", "rs", "re", width)
        .select("lid", "rid").as[(Long, Long)].collect().toSeq
      val want = left.join(right, Seq("k"))
        .filter($"ls" <= $"re" && $"rs" <= $"le")
        .select("lid", "rid").as[(Long, Long)].collect().toSeq
      assert(got.sorted == want.sorted, s"width=$width")
      assert(got.size == got.distinct.size, s"width=$width dup pairs")
    }
  }

  test("closest == naive per-key argmin; edge cases pinned") {
    import graft.ranges.Closest
    // randomized equivalence: closest via the 3-candidate plan must
    // equal the brute-force (distance, id) argmin over all same-key
    // pairs, at several bin widths
    val r = new scala.util.Random(23)
    val qs = (0 until 200).map { i =>
      val s = r.nextInt(2000).toLong
      (i.toLong, s"c${i % 3}", s, s + r.nextInt(80)) }
      .toDF("qid", "k", "qs", "qe")
    val fs = (0 until 150).map { i =>
      val s = r.nextInt(2000).toLong
      (i.toLong, s"c${i % 3}", s, s + r.nextInt(60)) }
      .toDF("fid", "k", "fs", "fe")
    def naive = {
      val pairs = qs.join(fs, Seq("k")).select($"qid", $"fid",
        when($"fs" <= $"qe" && $"fe" >= $"qs", 0L)
          .when($"fe" < $"qs", $"qs" - $"fe")
          .otherwise($"fs" - $"qe").as("d"))
      pairs.groupBy("qid")
        .agg(min(struct($"d", $"fid")).as("b"))
        .select($"qid", $"b.fid", $"b.d")
        .as[(Long, Long, Long)].collect().toSet
    }
    for (width <- Seq(16L, 64L, 1024L)) {
      val got = Closest.closest(qs, fs, Seq("k"), "qs", "qe",
          "fs", "fe", "fid", width)
        .select($"qid", $"closest_id", $"distance")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == naive, s"width=$width")
    }
    // pinned edges: overlap beats any gap; equal left/right gaps tie
    // to the smaller id; equal ends tie to the smaller id; a key with
    // no features is absent
    val q2 = Seq((1L, "a", 100L, 110L), (2L, "b", 50L, 60L))
      .toDF("qid", "k", "qs", "qe")
    val f2 = Seq(
      (10L, "a", 108L, 120L), // overlaps q1 -> distance 0
      (11L, "a", 90L, 95L),   // gap 5 left — loses to the overlap
      (12L, "a", 115L, 130L), // gap 5 right — loses too
      (20L, "a", 80L, 95L),   // same end as 21: id tie -> 20... but
      (21L, "a", 85L, 95L))   // both lose to the overlap anyway
      .toDF("fid", "k", "fs", "fe")
    val got2 = Closest.closest(q2, f2, Seq("k"), "qs", "qe",
        "fs", "fe", "fid")
      .select($"qid", $"closest_id", $"distance")
      .as[(Long, Long, Long)].collect().toSet
    assert(got2 == Set((1L, 10L, 0L))) // q2 ("b") has no features: absent
    // equidistant left/right around a gap query: min id wins
    val q3 = Seq((1L, "a", 100L, 100L)).toDF("qid", "k", "qs", "qe")
    val f3 = Seq((7L, "a", 104L, 110L), (3L, "a", 90L, 96L))
      .toDF("fid", "k", "fs", "fe")
    val got3 = Closest.closest(q3, f3, Seq("k"), "qs", "qe",
        "fs", "fe", "fid")
      .select($"closest_id", $"distance").as[(Long, Long)].collect().toSet
    assert(got3 == Set((3L, 4L))) // both at distance 4; 3 < 7
  }

  test("containmentJoin == naive point-in-interval join") {
    val pts = (0 until 300).map(i => (i.toLong, s"c${i % 2}", (i * 37 % 900).toLong))
      .toDF("pid", "k", "p")
    val ivs = (0 until 80).map { i =>
      val s = (i * 29 % 800).toLong; (i.toLong, s"c${i % 2}", s, s + 45) }
      .toDF("iid", "k", "s", "e")
    val got = RangeJoin.containmentJoin(pts, ivs, Seq("k"), "p", "s", "e", 32L)
      .select("pid", "iid").as[(Long, Long)].collect().toSeq.sorted
    val want = pts.join(ivs, Seq("k")).filter($"s" <= $"p" && $"p" <= $"e")
      .select("pid", "iid").as[(Long, Long)].collect().toSeq.sorted
    assert(got == want)
  }

  test("toleranceJoin == naive |a-b| <= tol join") {
    val r = new scala.util.Random(11)
    val a = (0 until 300).map(i => (i.toLong, s"g${i % 2}", r.nextDouble() * 50))
      .toDF("aid", "k", "av")
    val b = (0 until 300).map(i => (i.toLong, s"g${i % 2}", r.nextDouble() * 50))
      .toDF("bid", "k", "bv")
    val got = RangeJoin.toleranceJoin(a, b, Seq("k"), "av", "bv", 0.75)
      .select("aid", "bid").as[(Long, Long)].collect().toSeq.sorted
    val want = a.join(b, Seq("k")).filter(abs($"av" - $"bv") <= 0.75)
      .select("aid", "bid").as[(Long, Long)].collect().toSeq.sorted
    assert(got == want)
  }

  test("mergeOverlapping == naive union; gap=1 merges book-ends") {
    import graft.ranges.IntervalSets
    // fixed-seed random closed intervals over 2 keys
    val rnd = new scala.util.Random(7)
    val ivs = (0 until 300).map { _ =>
      val s = rnd.nextInt(2000).toLong
      (rnd.nextInt(2).toLong, s, s + rnd.nextInt(30).toLong)
    }
    def naive(gap: Long): Seq[(Long, Long, Long, Long)] =
      ivs.groupBy(_._1).toSeq.flatMap { case (k, group) =>
        val sorted = group.map(i => (i._2, i._3)).sortBy(identity)
        val islands = sorted.tail.foldLeft(
          List((sorted.head._1, sorted.head._2, 1L))) {
          case ((ms, me, n) :: rest, (s, e)) =>
            if (s <= me + gap) (ms, math.max(me, e), n + 1) :: rest
            else (s, e, 1L) :: (ms, me, n) :: rest
          case (Nil, _) => Nil
        }.reverse
        islands.map(i => (k, i._1, i._2, i._3))
      }.sorted
    for (gap <- Seq(0L, 1L, 5L)) {
      val got = IntervalSets.mergeOverlapping(
          ivs.toDF("k", "s", "e"), Seq("k"), "s", "e", gap)
        .select("k", "m_start", "m_end", "n_merged")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(got == naive(gap), s"gap=$gap")
      // islands are disjoint with > gap separation, counts sum to input
      got.groupBy(_._1).foreach { case (_, g) =>
        g.sortBy(_._2).sliding(2).foreach {
          case Seq(a, b) => assert(b._2 > a._3 + gap)
          case _ =>
        }
      }
      assert(got.map(_._4).sum == ivs.size)
    }
    // explicit book-end case: [1,10] + [11,20] merge only at gap >= 1
    val be = Seq((0L, 1L, 10L), (0L, 11L, 20L)).toDF("k", "s", "e")
    assert(IntervalSets.mergeOverlapping(be, Seq("k"), "s", "e", 0).count() == 2)
    assert(IntervalSets.mergeOverlapping(be, Seq("k"), "s", "e", 1).count() == 1)
    // duplicate-heavy shape (the sf0.1 q94 regression): every interval
    // x20 — tie groups must never split an island across the isnew and
    // gid window passes
    val dup = ivs.flatMap(i => Seq.fill(20)(i))
    val gotDup = IntervalSets.mergeOverlapping(
        dup.toDF("k", "s", "e"), Seq("k"), "s", "e", 0)
      .select("k", "m_start", "m_end", "n_merged")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val wantDup = naive(0).map(x => (x._1, x._2, x._3, x._4 * 20)).sorted
    assert(gotDup == wantDup)
  }

  test("interval ops: inverted intervals raise; IntegerType ends do not wrap") {
    import graft.ranges.IntervalSets
    val bad = Seq((0L, 5L, 3L)).toDF("k", "s", "e")
    intercept[Exception] {
      IntervalSets.coverageDepth(bad, Seq("k"), "s", "e").collect()
    }
    intercept[Exception] {
      IntervalSets.mergeOverlapping(bad, Seq("k"), "s", "e").collect()
    }
    // a NULL coordinate gets its own diagnosis, not "inverted: null > null"
    val nul = Seq((0L, Some(5L), Option.empty[Long])).toDF("k", "s", "e")
    val ex = intercept[Exception] {
      IntervalSets.coverageDepth(nul, Seq("k"), "s", "e").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("null interval coordinate")),
      s"expected the null-coordinate diagnosis, got: ${messages(ex)}")
    // an IntegerType end at Int.MaxValue: e+1 must move to long, not
    // wrap to a huge negative position
    val maxed = Seq((0, Int.MaxValue - 2, Int.MaxValue))
      .toDF("k", "s", "e")
    val segs = IntervalSets.coverageDepth(maxed, Seq("k"), "s", "e")
      .select("seg_start", "seg_end", "depth")
      .as[(Long, Long, Long)].collect().toSeq
    assert(segs == Seq((Int.MaxValue - 2L, Int.MaxValue.toLong, 1L)))
    val merged = IntervalSets.mergeOverlapping(maxed, Seq("k"), "s", "e")
      .select("m_start", "m_end").as[(Long, Long)].head()
    assert(merged == (Int.MaxValue - 2L, Int.MaxValue.toLong))
  }

  test("coverageDepthBucketed == coverageDepth for any bucket width") {
    import graft.ranges.IntervalSets
    val rnd = new scala.util.Random(13)
    val ivs = (0 until 150).map { _ =>
      val s = rnd.nextInt(800).toLong
      (rnd.nextInt(2).toLong, s, s + rnd.nextInt(50).toLong)
    }.toDF("k", "s", "e")
    val want = IntervalSets.coverageDepth(ivs, Seq("k"), "s", "e")
      .select("k", "seg_start", "seg_end", "depth")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    // widths straddling: sub-interval, typical, range-sized (degenerate
    // single bucket ≡ the unbucketed sweep), and 1 (every pos a bucket)
    for (w <- Seq(1L, 7L, 64L, 10000L)) {
      val got = IntervalSets.coverageDepthBucketed(ivs, Seq("k"), "s", "e", w)
        .select("k", "seg_start", "seg_end", "depth")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(got == want, s"bucketWidth=$w diverged")
    }
  }

  test("subtract == per-base brute force (A-covered, B-free, maximal regions)") {
    import graft.ranges.IntervalSets
    val rnd = new scala.util.Random(17)
    def mk(n: Int, maxLen: Int) = (0 until n).map { _ =>
      val s = rnd.nextInt(600).toLong
      (rnd.nextInt(2).toLong, s, s + rnd.nextInt(maxLen).toLong)
    }
    val a = mk(80, 40); val b = mk(40, 25)
    val got = IntervalSets.subtract(a.toDF("k", "s", "e"),
        b.toDF("k", "s", "e"), Seq("k"), "s", "e", "s", "e")
      .select("k", "m_start", "m_end")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    // brute force: per key, the sorted base positions covered by A and
    // not B, run-length encoded
    val want = (0L to 1L).flatMap { k =>
      val inA = (0L to 700L).filter(p =>
        a.exists(i => i._1 == k && i._2 <= p && p <= i._3) &&
        !b.exists(i => i._1 == k && i._2 <= p && p <= i._3))
      if (inA.isEmpty) Seq.empty
      else inA.tail.foldLeft(List((inA.head, inA.head))) {
        case ((s0, e0) :: rest, p) =>
          if (p == e0 + 1) (s0, p) :: rest else (p, p) :: (s0, e0) :: rest
        case (Nil, _) => Nil
      }.reverse.map(r => (k, r._1, r._2))
    }.sorted
    assert(got == want && want.nonEmpty)
    // remnants never touch B, and every remnant base is A-covered
    got.foreach { case (k, s, e) =>
      assert(!b.exists(i => i._1 == k && i._2 <= e && s <= i._3))
      (s to e).foreach { p =>
        assert(a.exists(i => i._1 == k && i._2 <= p && p <= i._3),
          s"remnant base $p on key $k not covered by A")
      }
    }
  }

  test("jaccard == per-base brute force; identity/disjoint/count pinned") {
    import graft.ranges.IntervalSets
    val rnd = new scala.util.Random(41)
    def mk(n: Int, maxLen: Int) = (0 until n).map { _ =>
      val s = rnd.nextInt(600).toLong
      (rnd.nextInt(2).toLong, s, s + rnd.nextInt(maxLen).toLong)
    }
    val a = mk(60, 40); val b = mk(40, 25)
    val got = IntervalSets.jaccard(a.toDF("k", "s", "e"),
        b.toDF("k", "s", "e"), Seq("k"), "s", "e", "s", "e")
      .select("k", "intersection_bp", "union_bp", "jaccard",
        "n_intersections")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    (0L to 1L).foreach { k =>
      def cov(set: Seq[(Long, Long, Long)]) = (0L to 700L).filter(p =>
        set.exists(i => i._1 == k && i._2 <= p && p <= i._3)).toSet
      val ca = cov(a); val cb = cov(b)
      val inter = ca.intersect(cb); val uni = ca.union(cb)
      // maximal intersection runs, counted per-base
      val nInt = inter.toSeq.sorted.foldLeft((0L, Long.MinValue)) {
        case ((n, prev), p) => (if (p == prev + 1) n else n + 1, p)
      }._1
      val (gi, gu, gj, gn) = got(k)
      assert(gi == inter.size.toLong && gu == uni.size.toLong,
        s"key $k bases: got ($gi, $gu) want (${inter.size}, ${uni.size})")
      assert(gj == inter.size.toDouble / uni.size)
      assert(gn == nInt, s"key $k n_intersections: got $gn want $nInt")
    }
    // identity: J = 1, one intersection interval per merged region
    val self = Seq((1L, 10L, 20L), (1L, 30L, 40L)).toDF("k", "s", "e")
    val idr = IntervalSets.jaccard(self, self, Seq("k"),
      "s", "e", "s", "e").collect().head
    assert(idr.getLong(1) == 22L && idr.getLong(2) == 22L &&
      idr.getDouble(3) == 1.0 && idr.getLong(4) == 2L)
    // disjoint tracks: J = 0, no intersection intervals
    val da = Seq((1L, 0L, 9L)).toDF("k", "s", "e")
    val db = Seq((1L, 20L, 29L)).toDF("k", "s", "e")
    val dr = IntervalSets.jaccard(da, db, Seq("k"),
      "s", "e", "s", "e").collect().head
    assert(dr.getLong(1) == 0L && dr.getLong(2) == 20L &&
      dr.getDouble(3) == 0.0 && dr.getLong(4) == 0L)
    // book-ended touch (closed coords): [0,9] and [9,20] share base 9
    val ta = Seq((1L, 0L, 9L)).toDF("k", "s", "e")
    val tb = Seq((1L, 9L, 20L)).toDF("k", "s", "e")
    val tr = IntervalSets.jaccard(ta, tb, Seq("k"),
      "s", "e", "s", "e").collect().head
    assert(tr.getLong(1) == 1L && tr.getLong(2) == 21L &&
      tr.getLong(4) == 1L)
  }

  test("complement: gaps ∪ islands tile the covered span exactly; " +
      "no flank gaps; single-island keys emit nothing") {
    import graft.ranges.IntervalSets
    val rnd = new scala.util.Random(11)
    val ivs = (0 until 200).map { _ =>
      val s = rnd.nextInt(3000).toLong
      (rnd.nextInt(3).toLong, s, s + rnd.nextInt(25).toLong)
    } :+ (9L, 100L, 200L) // single-island key: zero gap rows
    val df = ivs.toDF("k", "s", "e")
    val islands = IntervalSets.mergeOverlapping(df, Seq("k"), "s", "e")
      .select("k", "m_start", "m_end")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val gaps = IntervalSets.complement(df, Seq("k"), "s", "e")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(!gaps.exists(_._1 == 9L))
    // per key: islands and gaps alternate and tile [min, max] with no
    // overlap and no holes
    islands.groupBy(_._1).foreach { case (k, isl) =>
      val segs = (isl.map(i => (i._2, i._3, "i")) ++
        gaps.filter(_._1 == k).map(g => (g._2, g._3, "g"))).sortBy(_._1)
      segs.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b._1 == a._2 + 1, s"key $k: hole/overlap at $a -> $b")
          // book-ended ISLANDS are legal (gap=0 merge joins overlaps,
          // not touches); adjacent GAPS would mean a missed merge
          assert(!(a._3 == "g" && b._3 == "g"),
            s"key $k: two adjacent gap segments")
        case _ =>
      }
      assert(segs.head._3 == "i" && segs.last._3 == "i",
        s"key $k: complement emitted a flank gap")
    }
    assert(gaps.nonEmpty, "fixture produced no gaps — weaken density")
  }

  test("mergeOverlappingBucketed == mergeOverlapping at any width and gap") {
    import graft.ranges.IntervalSets
    val rnd = new scala.util.Random(29)
    // every 17th interval is a LONG span crossing many buckets — the
    // case that stresses the weld: its end dominates enterMax for
    // bucket after bucket, so whole buckets become welded prefixes
    val ivs = (0 until 200).map { i =>
      val s = rnd.nextInt(1000).toLong
      val len = if (i % 17 == 0) 3000L + rnd.nextInt(2000)
                else rnd.nextInt(40).toLong
      (rnd.nextInt(2).toLong, s, s + len)
    }
    val df = ivs.toDF("k", "s", "e")
    for (gap <- Seq(0L, 1L, 5L)) {
      val want = IntervalSets.mergeOverlapping(df, Seq("k"), "s", "e", gap)
        .select("k", "m_start", "m_end", "n_merged")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      // widths: every position its own bucket / sub-island / typical /
      // single degenerate bucket (≡ the unbucketed form)
      for (w <- Seq(1L, 7L, 64L, 10000L)) {
        val got = IntervalSets.mergeOverlappingBucketed(
            df, Seq("k"), "s", "e", w, gap)
          .select("k", "m_start", "m_end", "n_merged")
          .as[(Long, Long, Long, Long)].collect().toSeq.sorted
        assert(got == want, s"w=$w gap=$gap")
      }
    }
    // duplicate-heavy shape (the q94 tie-order regression class)
    val dup = ivs.flatMap(i => Seq.fill(10)(i)).toDF("k", "s", "e")
    val wantDup = IntervalSets.mergeOverlapping(dup, Seq("k"), "s", "e", 0)
      .select("k", "m_start", "m_end", "n_merged")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val gotDup = IntervalSets.mergeOverlappingBucketed(
        dup, Seq("k"), "s", "e", 64L, 0)
      .select("k", "m_start", "m_end", "n_merged")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(gotDup == wantDup)
  }

  test("subtractBucketed == subtract at any width, n_merged included") {
    import graft.ranges.IntervalSets
    val rnd = new scala.util.Random(31)
    def mk(n: Int, maxLen: Int, longEvery: Int) = (0 until n).map { i =>
      val s = rnd.nextInt(900).toLong
      val len = if (longEvery > 0 && i % longEvery == 0)
        2000L + rnd.nextInt(1500) else rnd.nextInt(35).toLong
      (rnd.nextInt(2).toLong, s, s + len)
    }
    val a = mk(120, 40, 19).toDF("k", "s", "e")
    val b = mk(50, 25, 23).toDF("k", "s", "e")
    val want = IntervalSets.subtract(a, b, Seq("k"), "s", "e", "s", "e")
      .select("k", "m_start", "m_end", "n_merged")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(want.nonEmpty)
    for (w <- Seq(1L, 7L, 64L, 10000L)) {
      val got = IntervalSets.subtractBucketed(
          a, b, Seq("k"), "s", "e", "s", "e", w)
        .select("k", "m_start", "m_end", "n_merged")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(got == want, s"w=$w")
    }
  }

  test("deriveBucketWidth: heuristic band; width-free overloads == simple forms") {
    import graft.ranges.IntervalSets
    val rnd = new scala.util.Random(37)
    val ivs = (0 until 300).map { _ =>
      val s = rnd.nextInt(5000).toLong
      (rnd.nextInt(2).toLong, s, s + rnd.nextInt(60).toLong)
    }
    val df = ivs.toDF("k", "s", "e")
    // the heuristic, verbatim: buckets = max(256, n/target) over the
    // combined coordinate domain
    val domain = ivs.map(_._3).max - ivs.map(_._2).min + 1
    assert(IntervalSets.deriveBucketWidth(df, "s", "e") ==
      math.max(1L, domain / 256L))
    // the derived width on the driver's q94 interval construction lands
    // in band: >= 1 and at most domain/256 (never a one-bucket collapse)
    val orders = graft.core.GraftSession.table(spark,
      "/root/testdata/sf0.001", "orders")
      .select((col("o_orderkey") % 5).as("k"),
        ((col("o_orderkey") * 7) % 5000).as("s"),
        ((col("o_orderkey") * 7) % 5000 + 1 + col("o_orderkey") % 40).as("e"))
    val wOrders = IntervalSets.deriveBucketWidth(orders, "s", "e")
    assert(wOrders >= 1L && wOrders <= 5041L / 256L, s"wOrders=$wOrders")
    // width-free overloads: identical values to the simple forms
    val wantM = IntervalSets.mergeOverlapping(df, Seq("k"), "s", "e")
      .select("k", "m_start", "m_end", "n_merged")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val gotM = IntervalSets.mergeOverlappingBucketed(df, Seq("k"), "s", "e")
      .select("k", "m_start", "m_end", "n_merged")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(gotM == wantM && wantM.nonEmpty)
    val wantC = IntervalSets.coverageDepth(df, Seq("k"), "s", "e")
      .select("k", "seg_start", "seg_end", "depth")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val gotC = IntervalSets.coverageDepthBucketed(df, Seq("k"), "s", "e")
      .select("k", "seg_start", "seg_end", "depth")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(gotC == wantC)
    val b = (0 until 60).map { _ =>
      val s = rnd.nextInt(5200).toLong
      (rnd.nextInt(2).toLong, s, s + rnd.nextInt(30).toLong)
    }.toDF("k", "s", "e")
    val wantS = IntervalSets.subtract(df, b, Seq("k"), "s", "e", "s", "e")
      .select("k", "m_start", "m_end", "n_merged")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val gotS = IntervalSets.subtractBucketed(df, b, Seq("k"), "s", "e",
        "s", "e")
      .select("k", "m_start", "m_end", "n_merged")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(gotS == wantS && wantS.nonEmpty)
    // empty input: width 1, not a crash or a zero
    assert(IntervalSets.deriveBucketWidth(
      df.filter(col("s") < 0), "s", "e") == 1L)
  }

  test("coverageDepth == per-base brute force; segments tile the span") {
    import graft.ranges.IntervalSets
    val rnd = new scala.util.Random(11)
    val ivs = (0 until 120).map { _ =>
      val s = rnd.nextInt(500).toLong
      (rnd.nextInt(2).toLong, s, s + rnd.nextInt(40).toLong)
    }
    val segs = IntervalSets.coverageDepth(
        ivs.toDF("k", "s", "e"), Seq("k"), "s", "e")
      .select("k", "seg_start", "seg_end", "depth")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    // per-base ground truth over each segment
    segs.foreach { case (k, ss, se, d) =>
      (ss to se).foreach { p =>
        val want = ivs.count(i => i._1 == k && i._2 <= p && p <= i._3)
        assert(want == d, s"k=$k pos=$p: depth $d, brute $want")
      }
    }
    // segments tile [min start, max end] per key with no gap or overlap
    segs.groupBy(_._1).foreach { case (k, g) =>
      val sorted = g.sortBy(_._2)
      assert(sorted.head._2 == ivs.filter(_._1 == k).map(_._2).min)
      assert(sorted.last._3 == ivs.filter(_._1 == k).map(_._3).max)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(b._2 == a._3 + 1)
        case _ =>
      }
      // depth actually changes at every boundary (segments are maximal)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._4 != b._4,
          s"k=$k: non-maximal segment at ${b._2}")
        case _ =>
      }
    }
  }

  test("overlapJoinBroadcast == overlapJoin; zero exchanges in the plan") {
    val big = spark.range(4000).select(
      (col("id") % 3).as("k"),
      ((col("id") * 17) % 997).as("s1"),
      ((col("id") * 17) % 997 + 1 + col("id") % 23).as("e1"),
      col("id").as("lid"))
    val small = spark.range(60).select(
      (col("id") % 3).as("k"),
      ((col("id") * 29) % 997).as("s2"),
      ((col("id") * 29) % 997 + 1 + col("id") % 40).as("e2"),
      col("id").as("rid"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select("k", "lid", "rid").as[(Long, Long, Long)].collect().toSet
    val bc = RangeJoin.overlapJoinBroadcast(big, small, Seq("k"),
      "s1", "e1", "s2", "e2", width = 64L)
    val shuffled = RangeJoin.overlapJoin(big, small, Seq("k"),
      "s1", "e1", "s2", "e2", width = 64L)
    val got = rows(bc)
    assert(got.nonEmpty && got == rows(shuffled))
    // the whole point: the big side streams map-only
    val plan = bc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("overlapAntiJoin: exactly the left rows with no overlapJoin partner") {
    val left = spark.range(2000).select(
      (col("id") % 3).as("k"),
      ((col("id") * 17) % 997).as("s1"),
      ((col("id") * 17) % 997 + 1 + col("id") % 23).as("e1"),
      col("id").as("lid"))
    val right = spark.range(40).select(
      (col("id") % 3).as("k"),
      ((col("id") * 29) % 997).as("s2"),
      ((col("id") * 29) % 997 + 1 + col("id") % 40).as("e2"),
      col("id").as("rid"))
    val anti = RangeJoin.overlapAntiJoin(left, right, Seq("k"),
      "s1", "e1", "s2", "e2", leftId = "lid", width = 64L)
      .select("lid").as[Long].collect().toSet
    // ground truth: left ids minus the distinct left ids of the full
    // pairing join
    val matched = RangeJoin.overlapJoin(left, right, Seq("k"),
      "s1", "e1", "s2", "e2", width = 64L)
      .select("lid").as[Long].collect().toSet
    assert(matched.nonEmpty && anti.nonEmpty)
    assert(anti == (0L until 2000L).toSet -- matched)
  }
}
