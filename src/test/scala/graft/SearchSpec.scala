package graft

import org.apache.spark.sql.functions._
import graft.ext.Search

/** Retrieval operators: BM25 scoring semantics and conjunctive search
  * vs a filter-based ground truth. */
class SearchSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "spark spark spark shuffle"),            // high tf of 'spark', short
    (2L, "spark shuffle join window merge sort"), // one 'spark', longer
    (3L, "shuffle join window merge sort scan"),  // no 'spark'
    (4L, "spark"),                                // tf 1, shortest doc
    (5L, "rare spark rare rare rare rare rare rare rare rare rare rare")
  ).toDF("doc_id", "text")

  test("bm25: tf saturation, length norm, and zero-score exclusion") {
    val r = Search.bm25(corpus, "doc_id", "text", Seq("spark"))
      .orderBy(col("score").desc, col("doc_id"))
      .select("doc_id", "score").as[(Long, Double)].collect()
    // doc 3 matches no term -> excluded entirely
    assert(!r.map(_._1).contains(3L))
    // repeated-term doc beats single-occurrence docs
    assert(r.head._1 == 1L)
    // among tf=1 docs, the shorter doc scores higher (length norm)
    val byId = r.toMap
    assert(byId(4L) > byId(2L))
    assert(byId(2L) > byId(5L))
    // saturation: tf=3 scores less than 3x the tf=1 score at equal dl
    // (the k1 denominator bends the curve)
    assert(byId(1L) < 3.0 * byId(4L))
    // every emitted score is strictly positive
    assert(r.forall(_._2 > 0.0))
  }

  test("bm25: rare terms outweigh common ones (idf)") {
    // 'rare' occurs in 1 of 5 docs, 'spark' in 4 of 5: with one
    // occurrence of each at the same dl, the rare term must dominate
    val r = Search.bm25(corpus, "doc_id", "text", Seq("rare", "spark"))
    val row5 = r.filter(col("doc_id") === 5L).select("score").as[Double].head()
    val row1 = r.filter(col("doc_id") === 1L).select("score").as[Double].head()
    assert(row5 > row1, s"rare-term doc must outrank: $row5 vs $row1")
  }

  test("bm25: multi-term score is the sum of single-term scores") {
    val both = Search.bm25(corpus, "doc_id", "text", Seq("spark", "shuffle"))
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val a = Search.bm25(corpus, "doc_id", "text", Seq("spark"))
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val b = Search.bm25(corpus, "doc_id", "text", Seq("shuffle"))
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    // df/avgdl stats are corpus-global, so term scores add exactly
    // (up to one double addition, which is what the engine does too)
    both.foreach { case (id, s) =>
      val expect = a.getOrElse(id, 0.0) + b.getOrElse(id, 0.0)
      assert(math.abs(s - expect) < 1e-12, s"doc $id: $s vs $expect")
    }
  }

  test("bm25: corpus never shuffles (no Exchange below the stats join)") {
    val plan = Search.bm25(corpus, "doc_id", "text", Seq("spark"))
      .queryExecution.executedPlan.toString
    // the single-row stats aggregate is the only exchange source; the
    // corpus side must reach the broadcast join without repartitioning
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 0,
      s"bm25 must not hash-partition the corpus:\n$plan")
  }

  test("vsmCosine: exact nnc.ntc cosine against a driver-side fold") {
    val texts = Map(
      1L -> "spark spark spark shuffle",
      2L -> "spark shuffle join window merge sort",
      3L -> "shuffle join window merge sort scan",
      4L -> "spark",
      5L -> "rare spark rare rare rare rare rare rare rare rare rare rare")
    def toks(id: Long) = texts(id).split("\\s+").toSeq
    def tf(id: Long, w: String) = toks(id).count(_ == w).toDouble
    val terms = Seq("spark", "shuffle")
    val n = 5.0
    val df1 = texts.keys.count(tf(_, "spark") > 0).toDouble   // 4
    val df2 = texts.keys.count(tf(_, "shuffle") > 0).toDouble // 3
    val idf1 = (n - df1 + 0.5) / (df1 + 0.5)
    val idf2 = (n - df2 + 0.5) / (df2 + 0.5)
    def want(id: Long): Double = {
      val normSq = toks(id).distinct.map(w => { val c = toks(id).count(_ == w).toLong; c * c }).sum
      (tf(id, "spark") * idf1 + tf(id, "shuffle") * idf2) /
        (math.sqrt(normSq.toDouble) * math.sqrt(idf1 * idf1 + idf2 * idf2))
    }
    val got = Search.vsmCosine(corpus, "doc_id", "text", terms)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L)) // all match some term
    got.foreach { case (id, s) =>
      assert(math.abs(s - want(id)) < 1e-12, s"doc $id: $s vs ${want(id)}")
    }
    // a doc that IS the (single-term) query is cosine-identical to it
    val pure = Search.vsmCosine(corpus, "doc_id", "text", Seq("spark"))
      .filter(col("doc_id") === 4L).select("score").as[Double].head()
    assert(pure == 1.0, s"pure single-term doc must score exactly 1: $pure")
    // docs matching no term are excluded
    val rare = Search.vsmCosine(corpus, "doc_id", "text", Seq("rare"))
      .select("doc_id").as[Long].collect().toSet
    assert(rare == Set(5L))
  }

  test("vsmCosine: corpus never shuffles (same contract as bm25)") {
    val plan = Search.vsmCosine(corpus, "doc_id", "text", Seq("spark"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 0,
      s"vsm must not hash-partition the corpus:\n$plan")
  }

  test("conjunctive search == filter-based ground truth") {
    val terms = Seq("shuffle", "spark")
    val postings = Search.buildPostings(corpus, "doc_id", "text")
    val got = Search.conjunctive(postings, terms)
      .select("doc_id", "total_tf").as[(Long, Long)].collect().sortBy(_._1)
    val toks = corpus.select(col("doc_id"),
      split(col("text"), "\\s+").as("t"))
    val want = toks
      .filter(terms.map(t => array_contains(col("t"), t)).reduce(_ && _))
      .select(col("doc_id"),
        aggregate(filter(col("t"), x => x.isin(terms: _*)),
          lit(0L), (acc, _) => acc + 1L).as("total_tf"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(got.sameElements(want))
    // duplicate query terms must not change the required match count
    val dup = Search.conjunctive(postings, terms ++ terms)
      .select("doc_id", "total_tf").as[(Long, Long)].collect().sortBy(_._1)
    assert(dup.sameElements(got))
  }

  test("phraseSearch: consecutive-token matches, overlaps and repeats included") {
    val postings = Search.buildPositionalPostings(corpus, "doc_id", "text")
    def run(phrase: String*) =
      Search.phraseSearch(postings, phrase)
        .as[(Long, Long)].collect().toMap
    // "spark shuffle" consecutively: doc1 at pos 3, doc2 at pos 1
    assert(run("spark", "shuffle") == Map(1L -> 1L, 2L -> 1L))
    // repeated word in the phrase; overlapping matches both count
    // (doc1 "spark spark spark ..." matches at pos 1 AND 2)
    assert(run("spark", "spark") == Map(1L -> 2L))
    // word order matters: "shuffle spark" never occurs
    assert(run("shuffle", "spark").isEmpty)
    // three-word chain crossing both joins
    assert(run("shuffle", "join", "window") == Map(2L -> 1L, 3L -> 1L))
    // ground truth independent of the index: slide over token arrays
    val want = corpus.as[(Long, String)].collect().flatMap { case (id, t) =>
      val w = t.split("\\s+")
      val n = w.sliding(2).count(p => p.sameElements(Array("spark", "shuffle")))
      if (n > 0) Some(id -> n.toLong) else None
    }.toMap
    assert(run("spark", "shuffle") == want)
    // a doubled index (batch re-appended) must not multiply matches —
    // the same hardening conjunctive has (2-word phrase would go 4x)
    val doubled = postings.unionAll(postings)
    assert(Search.phraseSearch(doubled, Seq("spark", "shuffle"))
      .as[(Long, Long)].collect().toMap == want)
  }

  test("conjunctive gate survives duplicated posting rows") {
    // a re-indexed batch appended twice: repeats must neither fake a
    // conjunction (doc 3 has 'shuffle' but no 'spark') nor overshoot
    // the n_terms gate for docs that do match
    val postings = Search.buildPostings(corpus, "doc_id", "text")
    val dup = postings.unionAll(postings.filter(col("term") === "shuffle"))
    val got = Search.conjunctive(dup, Seq("spark", "shuffle"))
      .select("doc_id").as[Long].collect().toSet
    val want = Search.conjunctive(postings, Seq("spark", "shuffle"))
      .select("doc_id").as[Long].collect().toSet
    assert(got == want && want.nonEmpty)
    assert(!got.contains(3L))
  }

  test("saved posting table: round-trip equality + partition pruning") {
    // the production shape: index once, persist partitioned BY TERM,
    // query forever — per-query work is the asked-for terms' postings
    val dir = tmpDir("postings")
    Search.buildPostings(corpus, "doc_id", "text")
      .write.mode("overwrite").partitionBy("term").parquet(dir)
    val saved = spark.read.parquet(dir)
    val q = Search.conjunctive(saved, Seq("spark", "shuffle"))
    val got = q.select("doc_id", "total_tf").as[(Long, Long)].collect().toSet
    val mem = Search.conjunctive(
        Search.buildPostings(corpus, "doc_id", "text"), Seq("spark", "shuffle"))
      .select("doc_id", "total_tf").as[(Long, Long)].collect().toSet
    assert(got == mem && got.nonEmpty)
    // the IN filter must land as a PARTITION filter on the saved index —
    // the scan lists only the two term directories, never the corpus.
    // (string match: AQE wraps the plan, so node-collect misses the scan)
    val plan = q.queryExecution.executedPlan.toString
    assert(raw"PartitionFilters: \[[^\]]*term".r.findFirstIn(plan).isDefined,
      s"term IN (...) did not become partition pruning:\n$plan")
    assert(!plan.contains("PushedFilters: [In(term"),
      s"term filter should prune partitions, not rows:\n$plan")
  }

  test("conjunctive search: term filter prunes before the aggregate") {
    val postings = Search.buildPostings(corpus, "doc_id", "text")
    val plan = Search.conjunctive(postings, Seq("spark"))
      .queryExecution.optimizedPlan.toString
    // the IN filter must sit BELOW the doc_id aggregate (deeper in the
    // tree = later in the print), not re-filter its output — that is
    // the "work proportional to matched postings" contract
    val aggIdx = plan.indexOf("Aggregate [doc_id")
    val termFilterIdx = plan.indexOf("(term")
    assert(aggIdx >= 0 && termFilterIdx >= 0, s"plan shape changed:\n$plan")
    assert(termFilterIdx > aggIdx,
      s"term filter must be below the doc aggregate:\n$plan")
  }

  test("rrfFuse: exact integer RRF over the union of ranked lists") {
    import spark.implicits._
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rank")
    val b = Seq((2L, 1), (4L, 2)).toDF("doc_id", "rank")
    val got = Search.rrfFuse(Seq("a" -> a, "b" -> b), "doc_id", "rank")
      .orderBy(col("rrf_e9").desc, col("doc_id"))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        r.getLong(3)))
    // contributions: 1e9//61=16393442, 1e9//62=16129032, 1e9//63=15873015
    assert(got.toSeq == Seq(
      (2L, 2L, 1L, 16129032L + 16393442L), // on both lists — fused top
      (1L, 1L, -1L, 16393442L),
      (4L, -1L, 2L, 16129032L),
      (3L, 3L, -1L, 15873015L)))
  }

  test("rboOverlap: identical lists hit the exact dyadic ceiling, " +
      "disjoint lists score 0, partial overlap matches the hand sum") {
    import spark.implicits._
    def ranked(q: Long, ids: Seq[Long]) =
      ids.zipWithIndex.map { case (i, r) => (q, i, r + 1) }
    // q1: identical; q2: disjoint; q3: same top-1, rank-2/3 swapped
    val a = (ranked(1L, Seq(10, 11, 12)) ++ ranked(2L, Seq(20, 21, 22)) ++
      ranked(3L, Seq(30, 31, 32))).toDF("q", "id", "rank")
    val b = (ranked(1L, Seq(10, 11, 12)) ++ ranked(2L, Seq(40, 41, 42)) ++
      ranked(3L, Seq(30, 32, 31))).toDF("q", "id", "rank")
    val got = graft.ext.Search.rboOverlap(a, b, "q", "id", "rank", k = 3)
      .orderBy("q").collect().map(r => (r.getLong(0), r.getDouble(1)))
    // identical: sum 2^-d for d=1..3 = 1 - 2^-3 = 0.875 EXACT (dyadic)
    assert(got(0) == ((1L, 0.875)))
    assert(got(1) == ((2L, 0.0)))
    // q3: X_1=1 (30), X_2=1 (31/32 swapped), X_3=3
    // -> 1/(1·2) + 1/(2·4) + 3/(3·8) = 0.5 + 0.125 + 0.125 = 0.75
    assert(got(2) == ((3L, 0.75)))
  }

  test("recallAtK: exact hit counts, zero-overlap spine row, ranks " +
      "beyond k ignored, floor-e9 rational") {
    import spark.implicits._
    def ranked(q: Long, ids: Seq[Int]) =
      ids.zipWithIndex.map { case (id, i) => (q, id.toLong, i + 1L) }
    val truth = (ranked(1L, Seq(10, 11, 12)) ++
      ranked(2L, Seq(20, 21, 22)) ++
      ranked(3L, Seq(30, 31, 32))).toDF("q", "id", "rank")
    val approx = (ranked(1L, Seq(10, 11, 12)) ++ // all 3 hit
      ranked(2L, Seq(99, 98, 20)) ++             // 1 hit at rank 3
      ranked(3L, Seq(31, 97, 96, 30))            // rank-4 '30' ignored
      ).toDF("q", "id", "rank")
    val got = graft.ext.Search.recallAtK(truth, approx, "q", "id",
        "rank", k = 3)
      .orderBy("q").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, 3L, 1000000000L),
      (2L, 1L, 333333333L),
      (3L, 1L, 333333333L)))
    // a truth query the approx never saw keeps a 0 row
    val t2 = (ranked(1L, Seq(10)) ++ ranked(9L, Seq(90)))
      .toDF("q", "id", "rank")
    val a2 = ranked(1L, Seq(10)).toDF("q", "id", "rank")
    val g2 = graft.ext.Search.recallAtK(t2, a2, "q", "id", "rank", 1)
      .orderBy("q").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(g2.toSeq == Seq((1L, 1L), (9L, 0L)))
  }

  test("rrfFuse: single system is a pure rank transform") {
    import spark.implicits._
    val a = Seq((7L, 1), (9L, 2)).toDF("doc_id", "rank")
    val got = Search.rrfFuse(Seq("only" -> a), "doc_id", "rank")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // floor(10^9 / (60 + rank))
    assert(got.toSeq == Seq((7L, 16393442L), (9L, 16129032L)))
  }
}
