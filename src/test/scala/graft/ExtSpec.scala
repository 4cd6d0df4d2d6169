package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, NgramLm, Similarity, TextAnalysis}

class ExtSpec extends SparkSpecBase {
  import spark.implicits._

  /** Squared L2 distance, the interpreted reference for the codegen'd
    * assignment kernels. */
  private def l2sq(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a.cast("array<double>"), b.cast("array<double>"),
      (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** Deterministic anisotropic corpus for the OPQ and residual-PQ
    * cases: a steep variance spectrum (pow(decay, i)) pushed through a
    * FIXED dense mixing matrix so the variance spreads across every PQ
    * subspace boundary — the case plain PQ splits badly and a rotation
    * provably helps. sin-hash "gaussians", so every run is exact, not
    * statistical. */
  private def anisotropicVecs(n: Int, d: Int,
      decay: Double): Seq[(Long, Array[Double])] = {
    val mix = Array.tabulate(d, d)((i, j) => math.sin(i * d + j + 1) / 2.0)
    val scales = Array.tabulate(d)(i => math.pow(decay, i))
    (0 until n).map { r =>
      val z = Array.tabulate(d)(i => math.sin(r * 37 + i * 11 + 0.5) +
        math.sin(r * 101 + i * 29))
      (r.toLong, Array.tabulate(d)(i =>
        (0 until d).map(j => mix(i)(j) * scales(j) * z(j)).sum))
    }
  }

  /** Mean squared reconstruction error of a trained codebook over the
    * corpus — the OPQ paper's objective. */
  private def distortion(df: org.apache.spark.sql.DataFrame, vcol: String,
      cb: org.apache.spark.sql.DataFrame, d: Int, m: Int): Double = {
    val cbm = cb.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toArray).toMap
    val sub = d / m
    Similarity.pqEncode(df, "vec_id", vcol, cb)
      .select(col(vcol).cast("array<double>"), col("pq_code"))
      .collect()
      .map { r =>
        val x = r.getSeq[Double](0); val code = r.getSeq[Long](1)
        (0 until m).map { s =>
          val cw = cbm(s)(code(s).toInt)
          (0 until sub).map(i => { val t = x(s * sub + i) - cw(i); t * t }).sum
        }.sum
      }.sum / df.count()
  }

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
    (2L, "the quick brown fox leaps over the lazy dog again and again"), // near dup of 0
    (3L, "completely different content about spark and parquet tables"),
    (4L, "another unrelated short text")).toDF("doc_id", "text")

  test("exact dedup groups identical content") {
    val g = Dedup.exact(docs, "doc_id", "text")
    assert(g.count() == 4)
    val dup = g.filter($"n_copies" === 2).head()
    assert(dup.getAs[Long]("keep_id") == 0L)
  }

  test("minhash LSH finds the near-dup pair and not the unrelated docs") {
    val pairs = Dedup.minhashNearDup(docs, "doc_id", "text",
      shingleN = 2, k = 12, bands = 4, threshold = 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard: exact dup scores 1.0") {
    val j = Dedup.ngramJaccard(docs, "doc_id", "text", 2, 0.99)
      .as[(Long, Long, Double)].collect()
    assert(j.exists(r => r._1 == 0L && r._2 == 1L && r._3 == 1.0))
  }

  test("prefixJaccardJoin == ngramJaccard pair-for-pair (prefix " +
      "filtering is exact) across thresholds") {
    // richer fixture: exact dup, near dup, disjoint docs, a doc-pair
    // right at a jaccard boundary, short (<shingleN) docs
    val fx = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup
      (2L, "alpha beta gamma delta epsilon zeta eta IOTA"),  // near dup
      (3L, "one two three four five six seven eight"),       // disjoint
      (4L, "one two three four five six seven NINE"),        // near dup
      (5L, "tiny doc"),                                      // < shingleN
      (6L, "tiny doc"),                                      // its dup
      (7L, "")).toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val naive = Dedup.ngramJaccard(fx, "doc_id", "text", 3, t)
        .select("a_id", "b_id", "jaccard")
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
      val pf = Dedup.prefixJaccardJoin(fx, "doc_id", "text", t, 3)
        .select("a_id", "b_id", "jaccard")
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(pf == naive, s"threshold $t: prefix-filter pairs diverge")
    }
    // sanity: the fixture is non-trivial at 0.5
    assert(Dedup.prefixJaccardJoin(fx, "doc_id", "text", 0.5, 3)
      .count() >= 3)
  }

  test("recallAtK: zero-overlap queries keep a 0.0 row, hits count " +
      "set-wise, recall is hits/k_truth") {
    import graft.ext.Similarity
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L),
      (3L, 30L)).toDF("q_id", "n_id")
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 20L), (2L, 21L),
      (4L, 40L)) // q3 has zero overlap; q4 is not in the truth set
      .toDF("q_id", "n_id")
    val got = Similarity.recallAtK(approx, truth)
      .select("q_id", "n_hit", "k_truth", "recall")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L, 2L, 0.5), (2L, 2L, 2L, 1.0),
      (3L, 0L, 1L, 0.0)))
  }

  test("editDistancePairs == brute-force levenshtein over the vocab, " +
      "transposition (distance-2) candidates filtered") {
    val vocab = Seq("table", "tble", "tabel", "cable", "scan", "scann",
      "sort", "sortt", "merge", "zzzz", "ab", "ba").toDF("term")
    val got = graft.ext.TextAnalysis.editDistancePairs(vocab)
      .select("a", "b").as[(String, String)].collect().toSet
    val terms = vocab.as[String].collect()
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      a <- terms; b <- terms if a < b && lev(a, b) <= 1
    } yield (a, b)).toSet
    assert(got == brute)
    // "ab"/"ba" share the deletion variants {a, b} but are distance 2:
    // the candidate must be generated AND filtered
    assert(!got.contains(("ab", "ba")))
    assert(got.contains(("table", "tble")))
  }

  test("simhash: identical docs at hamming 0") {
    val pairs = Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0))
    // above 3 the 4-chunk pigeonhole is incomplete (a pair can differ
    // in all four chunks) — must refuse, not silently under-report
    intercept[IllegalArgumentException](
      Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 4))
  }

  test("redaction scrubs emails, urls, digit runs") {
    val got = TextAnalysis.withRedaction(
      Seq((1L, "mail bob@example.com visit https://x.io/a?b=1 id 1234567 ok 123"))
        .toDF("doc_id", "text"), "text")
      .select("text_redacted").head().getString(0)
    assert(got == "mail <EMAIL> visit <URL> id <NUM> ok 123")
  }

  test("quality signals + filter") {
    val q = TextAnalysis.withQualitySignals(docs, "text")
    val r0 = q.filter($"doc_id" === 0).head()
    assert(r0.getAs[Int]("n_tokens") == 12)
    assert(r0.getAs[Double]("alpha_ratio") > 0.8)
    assert(q.filter($"n_chars".between(30, 100000) &&
      $"alpha_ratio" >= 0.5).count() == 4)
  }

  test("brute-force topk: exact self-similarity excluded, ranks dense") {
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat)) }
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" < 3),
      "vec_id", "embedding", k = 4)
    assert(top.count() == 12)
    assert(top.filter($"q_id" === $"n_id").count() == 0)
    val ranks = top.filter($"q_id" === 0).select("rank")
      .as[Int].collect().sorted.toSeq
    assert(ranks == Seq(1, 2, 3, 4))
  }

  test("ivf assign: matches naive window-argmin, plan is map-only") {
    import org.apache.spark.sql.expressions.Window
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 5 + d * 3).toFloat)) }
      .toDF("vec_id", "embedding")
    val cents = vecs.filter($"vec_id" < 6)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val fast = Similarity.ivfAssign(vecs, "vec_id", "embedding", cents)
    // naive reference: cross join + per-vector argmin window
    val naive = vecs.crossJoin(org.apache.spark.sql.functions.broadcast(cents))
      .withColumn("__d", l2sq($"embedding", $"cvec"))
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(
        Window.partitionBy($"vec_id").orderBy($"__d".asc, $"cid".asc)))
      .filter($"__rn" === 1)
      .select($"vec_id", $"cid".cast("long").as("cid"))
    val got = fast.select("vec_id", "cid").as[(Long, Long)].collect().toMap
    val want = naive.as[(Long, Long)].collect().toMap
    assert(got == want)
    // the whole point: no join, no window, no shuffle — corpus never moves
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in IVF assign plan:\n$plan")
    assert(!plan.contains("Exchange"), s"exchange in IVF assign plan:\n$plan")
    assert(!plan.contains("Join"), s"join in IVF assign plan:\n$plan")
  }

  test("multi-probe IVF: probe-1 == ivfTopK, recall rises with nProbe") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    // centroids: every 25th vector (deterministic, spread over the space)
    val cents = emb.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val isQuery = $"vec_id" < 50
    def topSets(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val p1 = topSets(Similarity.ivfTopKProbed(emb, "vec_id", "embedding",
      cents, isQuery, k = 5, nProbe = 1))
    val p1Single = topSets(Similarity.ivfTopK(emb, "vec_id", "embedding",
      cents, isQuery, k = 5))
    assert(p1 == p1Single, "nProbe=1 must equal the single-probe path")
    val p3 = topSets(Similarity.ivfTopKProbed(emb, "vec_id", "embedding",
      cents, isQuery, k = 5, nProbe = 3))
    val brute = topSets(Similarity.bruteForceTopK(emb,
      emb.filter(isQuery), "vec_id", "embedding", 5))
    def recall(got: Map[Long, Set[Long]]) =
      brute.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / brute.size
    val (r1, r3) = (recall(p1), recall(p3))
    info(f"ivf recall nProbe=1: $r1%.3f  nProbe=3: $r3%.3f")
    assert(r3 > r1, s"probing must lift recall: $r1 -> $r3")
  }

  test("IVF operating point: trained cells + multi-probe hit recall >= 0.6") {
    // pins one point from the published recall-vs-cost curve (BENCH.md):
    // k-means-trained 16 cells, nProbe=4 => each query scans 4/16 of the
    // corpus's cells (bounded cost) and must keep recall@5 >= 0.6 vs
    // brute force. Everything is hash-deterministic, so this is a fixed
    // number (0.628 at HEAD), not a flaky statistical bound.
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .cache()
    val isQuery = $"vec_id" < 50
    def topSets(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topSets(Similarity.bruteForceTopK(emb,
      emb.filter(isQuery), "vec_id", "embedding", 5))
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
      k = 16, iters = 2)
    val got = topSets(Similarity.ivfTopKProbed(emb, "vec_id", "embedding",
      cents, isQuery, k = 5, nProbe = 4))
    val recall = brute.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / brute.size
    info(f"ivf trained recall@5 (16 cells, 2 iters, nProbe=4): $recall%.3f")
    assert(recall >= 0.6, f"expected recall >= 0.6, got $recall%.3f")
  }

  test("trainCentroids: recovers well-separated clusters, deterministic") {
    // 3 tight clusters far apart in 4-d
    val centers = Seq(
      Array(0.0, 0.0, 0.0, 0.0), Array(10.0, 10.0, 0.0, 0.0),
      Array(0.0, 0.0, 10.0, 10.0))
    val vecs = (0 until 90).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.zipWithIndex.map { case (v, d) =>
        v + 0.1 * math.sin(i * 7 + d) })  // small deterministic jitter
    }.toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(vecs, "vec_id", "embedding",
      k = 3, iters = 4)
    assert(cents.count() == 3)
    // every true cluster lands wholly in one learned cell
    val asg = Similarity.ivfAssign(vecs, "vec_id", "embedding", cents)
      .select("vec_id", "cid").as[(Long, Long)].collect()
    val byTrue = asg.groupBy(_._1 % 3).view.mapValues(_.map(_._2).toSet)
    assert(byTrue.values.forall(_.size == 1), s"split cluster: $byTrue")
    assert(byTrue.values.flatten.toSet.size == 3, "cells collapsed")
    // bit-deterministic across runs and input partitioning
    val again = Similarity.trainCentroids(vecs.repartition(11), "vec_id",
      "embedding", k = 3, iters = 4)
      .orderBy("cid").collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val first = cents.orderBy("cid").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(again.toSeq == first.toSeq)
  }

  test("ivf assign: NaN/Inf vectors land in cell 0, never out-of-range") {
    val vecs = Seq(
      (0L, Array(0.0, 0.0)), (1L, Array(5.0, 5.0)),
      (2L, Array(Double.NaN, 1.0)), // NaN distance to all
      (3L, Array(1e200, 1e200)))    // (1e200)^2 overflows: d = Inf to all
      .toDF("vec_id", "embedding")
    val cents = vecs.filter($"vec_id" < 2)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val got = Similarity.ivfAssign(vecs, "vec_id", "embedding", cents)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(got(2L) == 0L, "NaN row must deterministically take cell 0")
    assert(got(3L) == 0L, "Inf-distance row must take cell 0")
    assert(got(0L) == 0L && got(1L) == 1L)
  }

  test("connectedComponents: non-convergence throws, never silent") {
    import graft.ext.Dedup
    // a 30-vertex path needs 29 propagation rounds, more than the 25
    // the operator allows
    val path = (1L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(path, "a", "b"))
    assert(e.getMessage.contains("did not converge in 25 rounds"))
  }

  test("connectedComponents: chains, cliques, isolated pairs, determinism") {
    import graft.ext.Dedup
    // a 7-vertex path (diameter 6 — forces multiple propagation
    // rounds), a triangle, an isolated pair
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L),
      (20L, 21L), (21L, 22L), (22L, 20L),
      (30L, 31L))
      .toDF("a", "b")
    val got = Dedup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert((1L to 7L).forall(got(_) == 1L))
    assert(Seq(20L, 21L, 22L).forall(got(_) == 20L))
    assert(got(30L) == 30L && got(31L) == 30L)
    assert(got.size == 12)
    // edge direction and input partitioning are irrelevant
    val flipped = Dedup.connectedComponents(
      edges.select($"b".as("a"), $"a".as("b")).repartition(7), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(flipped == got)
  }

  test("connectedComponents: superseded rounds release checkpoint blocks") {
    import graft.ext.Dedup
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // diameter-9 path => >= 9 propagation rounds, each one materialize
    val path = (1L until 10L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(path, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert((1L to 10L).forall(got(_) == 1L))
    // every intermediate round's blocks were unpersisted: only the final
    // labels RDD (backing the returned frame) may remain
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked checkpoint RDDs: $leaked")
  }

  test("connectedComponentsDelta == full CC on the combined edge set") {
    import graft.ext.Dedup
    def cc(e: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(e, "a", "b")
        .as[(Long, Long)].collect().toMap
    def delta(prevE: org.apache.spark.sql.DataFrame,
        newE: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponentsDelta(
        Dedup.connectedComponents(prevE, "a", "b"),
        newE, "a", "b")
        .as[(Long, Long)].collect().toMap
    // the delta (a) bridges two old components, (b) extends one with a
    // new vertex, (c) introduces a fully-new component, (d) repeats an
    // edge already inside an old component (no-op)
    val oldE = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("a", "b")
    val newE = Seq((3L, 10L), (21L, 22L), (50L, 51L), (1L, 3L))
      .toDF("a", "b")
    val got = delta(oldE, newE)
    assert(got == cc(oldE.unionByName(newE)))
    assert(Seq(1L, 2L, 3L, 10L, 11L).forall(got(_) == 1L)) // bridged
    assert(Seq(20L, 21L, 22L).forall(got(_) == 20L))       // extended
    assert(got(50L) == 50L && got(51L) == 50L)             // brand new
    // pure no-op delta: labeling unchanged
    val noop = delta(oldE, Seq((2L, 3L)).toDF("a", "b"))
    assert(noop == cc(oldE))
    // half-null delta edges contribute NOTHING (full CC drops them
    // entirely — a singleton for the non-null endpoint would diverge)
    val halfNull = Seq((java.lang.Long.valueOf(77L),
      null.asInstanceOf[java.lang.Long])).toDF("a", "b")
    assert(delta(oldE, halfNull) == cc(oldE))
    // self-loop delta edges likewise: the full CC's symmetrize step
    // drops them, so a self-loop on a BRAND-NEW vertex must not seed
    // a spurious singleton (delta == recompute), alone or mixed into
    // a batch with real edges
    val selfLoop = Seq((77L, 77L)).toDF("a", "b")
    assert(delta(oldE, selfLoop) == cc(oldE))
    val mixedLoop = Seq((77L, 77L), (3L, 10L), (2L, 2L)).toDF("a", "b")
    assert(delta(oldE, mixedLoop) ==
      cc(oldE.unionByName(Seq((3L, 10L)).toDF("a", "b"))))
    // chaining: folding two deltas == full CC over everything
    val e2 = Seq((22L, 50L)).toDF("a", "b")
    val chained = Dedup.connectedComponentsDelta(
        Dedup.connectedComponentsDelta(
          Dedup.connectedComponents(oldE, "a", "b"), newE, "a", "b"),
        e2, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(chained == cc(oldE.unionByName(newE).unionByName(e2)))
    // deterministic pseudo-random graph split into thirds and folded
    // incrementally — must match the one-shot labeling. Its diameter
    // is past the full CC's round limit, so the reference labeling is
    // a driver-side union-find (min id per component)
    val rnd = (0 until 120).map { i =>
      val a = (i * 7919L) % 90; val b = (i * 104729L + 13) % 90
      (a, b)
    }.filter(p => p._1 != p._2)
    val (b1, rest) = rnd.splitAt(40)
    val (b2, b3) = rest.splitAt(40)
    val inc = Dedup.connectedComponentsDelta(
        Dedup.connectedComponentsDelta(
          Dedup.connectedComponents(b1.toDF("a", "b"), "a", "b"),
          b2.toDF("a", "b"), "a", "b"),
        b3.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    rnd.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert(inc == parent.keys.map(v => v -> find(v)).toMap)
  }

  test("minhash delta == full near-dup restricted to new-doc pairs") {
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
    val snap = corpus.filter($"doc_id" < 250)
    val newD = corpus.filter($"doc_id" >= 250)
    // with a < b and new ids above the boundary, "involves a new doc"
    // is exactly b_id >= 250
    val full = Dedup.minhashNearDup(corpus, "doc_id", "text", 3, 12, 4, 0.5)
      .filter($"b_id" >= 250)
      .as[(Long, Long, Double)].collect().toSet
    val delta = Dedup.minhashNearDupDelta(newD, snap,
        Dedup.minhashBands(snap, "doc_id", "text", 3, 12, 4),
        "doc_id", "text", 3, 12, 4, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(delta == full)
    assert(delta.nonEmpty, "corpus should plant near-dup pairs across the boundary")
    assert(delta.forall(_._2 >= 250))
  }

  test("duplicate spans: cross-doc substrings merge to maximal extents") {
    val shared = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123" // 30 chars
    val d = Seq(
      (0L, s"xxxx${shared}yyyyyyyy"),
      (1L, s"zzzzzzzz${shared}wwww"),
      (2L, "totally unrelated text with no repeats at all in here"),
      (3L, "short")) // below gramLen: must emit nothing
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, "doc_id", "text", gramLen = 20)
      .as[(Long, Int, Int)].collect().toSet
    // doc0: 20-grams fully inside `shared` start at 5..15 -> span 5..34
    // (exactly the shared chars); doc1 likewise at 9..38
    assert(spans == Set((0L, 5, 34), (1L, 9, 38)))
  }

  test("duplicate spans: two separate spans per doc stay separate") {
    val s1 = "AAAAAAAAAABBBBBBBBBBCCCC" // 24 chars
    val s2 = "111111111122222222223333" // 24 chars
    val d = Seq(
      (0L, s"${s1}__gap-gap-gap-gap__${s2}"),
      (1L, s"pre $s1 post"),
      (2L, s"intro $s2 outro"))
      .toDF("doc_id", "text")
    val byDoc = Dedup.duplicateSpans(d, "doc_id", "text", gramLen = 20)
      .as[(Long, Int, Int)].collect().groupBy(_._1)
    assert(byDoc(0L).length == 2, s"expected 2 spans in doc0: ${byDoc(0L).toSeq}")
    assert(byDoc(0L).map(s => s._3 - s._2 + 1).forall(_ == 24))
    assert(byDoc(1L).length == 1 && byDoc(2L).length == 1)
  }

  test("removeDuplicateSpans: rewrite matches the span finder exactly") {
    val a = "A" * 25
    val clef = "𝄞" // 𝄞: TWO code units — the find step
    // positions in code units, so the rewrite must slice in them too
    val inputs = Seq(
      (1L, s"left context here! $a right context here"),
      (2L, s"$a completely different tail"),
      (3L, "no duplication in this document at all, none"),
      (4L, "exactly the same documents!!"), // whole-doc dup pair ->
      (5L, "exactly the same documents!!"), //   both rewrite to ""
      (6L, s"$clef$clef prefix! ${a}B$a suffix after"), // dup span AFTER
      (7L, s"${a}B$a some other ending entirely"))      // non-BMP chars
    val df = inputs.toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(df, "doc_id", "text", gramLen = 20)
      .as[(Long, Int, Int)].collect()
    def cleanOf(id: Long, text: String): String = {
      val sp = spans.filter(_._1 == id).sortBy(_._2)
      val sb = new StringBuilder
      var prev = 0
      sp.foreach { case (_, s, e) =>
        sb.append(text.substring(prev, s - 1)); prev = e }
      sb.append(text.substring(prev)).toString
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = Dedup.removeDuplicateSpans(df, "doc_id", "text", gramLen = 20)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    inputs.foreach { case (id, text) =>
      val want = cleanOf(id, text)
      assert(got(id)._1 == md5hex(want), s"doc $id hash")
      assert(got(id)._2 == (text.length - want.length).toLong, s"doc $id removed")
    }
    // untouched doc passes through; whole-doc dups rewrite to ""
    assert(got(3L)._2 == 0L)
    assert(got(4L)._1 == md5hex("") && got(5L)._1 == md5hex(""))
    assert(got(4L)._2 == inputs(3)._2.length.toLong)
    // the supplementary-plane prefix shifts code units vs codepoints;
    // cleanOf slices with Java (code-unit) substring, so agreement
    // here proves the rewrite applies extents in the finder's units
    assert(got(6L)._1 == md5hex(cleanOf(6L, inputs(5)._2)), "non-BMP slice")
    // the aggressive mode's fixpoint: re-running the finder on the
    // cleaned corpus finds nothing (every copy of every span is gone)
    val cleaned = inputs.map { case (id, t) => (id, cleanOf(id, t)) }
      .toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(cleaned, "doc_id", "text", gramLen = 20)
      .count() == 0L)
  }

  test("pq encode: matches naive per-subspace argmin; plan is map-only") {
    import org.apache.spark.sql.expressions.Window
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 11 + d * 3).toFloat)) }
      .toDF("vec_id", "embedding")
    val cb = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("cid"),
        posexplode(array((0 until 4).map(s =>
          slice($"embedding".cast("array<double>"), s * 4 + 1, 4)): _*)))
      .select($"pos".as("sub"), $"cid", $"col".as("cvec"))
    val fast = Similarity.pqEncode(vecs, "vec_id", "embedding", cb)
    // naive: per (vector, subspace) argmin over the codewords
    val want = (0 until 4).map { s =>
      vecs.select($"vec_id",
          slice($"embedding".cast("array<double>"), s * 4 + 1, 4).as("sv"))
        .crossJoin(broadcast(cb.filter($"sub" === s)))
        .withColumn("__d", l2sq($"sv", $"cvec"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy($"vec_id").orderBy($"__d".asc, $"cid".asc)))
        .filter($"__rn" === 1)
        .select($"vec_id", lit(s).as("sub"), $"cid")
    }.reduce(_.unionByName(_))
      .as[(Long, Int, Long)].collect()
      .map { case (id, s, cid) => (id, s) -> cid }.toMap
    val got = fast.select($"vec_id", $"pq_code")
      .as[(Long, Seq[Long])].collect().toMap
    assert(got.size == 50)
    got.foreach { case (id, code) =>
      code.zipWithIndex.foreach { case (cid, s) =>
        assert(cid == want((id, s)), s"code mismatch at vec $id sub $s")
      }
    }
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join") &&
      !plan.contains("Window"), s"PQ encode must be map-only:\n$plan")
  }

  test("pq adc: trained codebooks, recall vs brute force, deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .cache()
    val isQuery = $"vec_id" < 50
    def topSets(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topSets(Similarity.bruteForceTopK(emb,
      emb.filter(isQuery), "vec_id", "embedding", 5))
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 16, ksub = 32, iters = 2)
    assert(cb.count() == 16 * 32)
    assert(cb.groupBy("sub").count().as[(Int, Long)].collect().toMap
      .values.forall(_ == 32))
    def recall(got: Map[Long, Set[Long]]) = brute.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / brute.size
    val adc = topSets(Similarity.pqTopKAdc(emb, "vec_id", "embedding",
      cb, isQuery, k = 5))
    val rAdc = recall(adc)
    // raw ADC@k on near-uniform synthetic vectors is the HARD case for
    // quantization. Operating point m=16, ksub=32 (16 B codes = 16x
    // compression): adc 0.444 — the full sweep is in BENCH.md.
    info(f"pq recall@5 (m=16, ksub=32): adc=$rAdc%.3f")
    assert(rAdc >= 0.35, f"raw ADC recall collapsed: $rAdc%.3f")
    // bit-deterministic under input partitioning
    val again = topSets(Similarity.pqTopKAdc(emb.repartition(13), "vec_id",
      "embedding", cb, isQuery, k = 5))
    assert(again == adc)
  }

  test("sq8: exact code contract, 4x-compression recall vs brute " +
      "force, deterministic under repartition") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .cache()
    val isQuery = $"vec_id" < 50
    // code contract on a hand vector set: mn=0, mx=4 per dim
    val tiny = Seq((0L, Array(0f, 2f, 4f)), (1L, Array(4f, 0f, 0f)),
      (2L, Array(2f, 4f, 2f))).toDF("vec_id", "embedding")
    val mm = Similarity.sq8MinMax(tiny, "embedding")
    val codes = Similarity.sq8Encode(tiny, "embedding", mm)
      .select($"vec_id", $"sq8_code").as[(Long, Seq[Int])]
      .collect().toMap
    assert(codes(0L) == Seq(0, 128, 255))   // round(2*255/4) = 128 (half up)
    assert(codes(1L) == Seq(255, 0, 0))
    // recall: 1 byte/dim (64 B, 4x compression) keeps neighborhood
    // structure on near-uniform vectors far better than PQ's 16 B raw
    // ADC (0.444 in the PQ spec) — the byte budgets differ; this pins
    // SQ8's own operating point
    def topSets(df: org.apache.spark.sql.DataFrame) =
      df.select($"q_id", $"n_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topSets(Similarity.bruteForceTopK(emb,
      emb.filter(isQuery), "vec_id", "embedding", 5))
    val sq8 = topSets(Similarity.sq8TopK(emb, "vec_id", "embedding",
      isQuery, k = 5))
    val r = brute.map { case (q, t) =>
      sq8.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / brute.size
    info(f"sq8 symmetric recall@5: $r%.3f")
    // NOTE: symmetric SQ8 distance ranks by L2 of codes while the
    // brute baseline ranks by COSINE — recall measures the metric gap
    // too; 0.5+ on near-isotropic synthetics is the honest bar
    assert(r >= 0.5, f"sq8 recall collapsed: $r%.3f")
    val again = topSets(Similarity.sq8TopK(emb.repartition(13), "vec_id",
      "embedding", isQuery, k = 5))
    assert(again == sq8)
  }

  test("on-codes ADC serving path == inline encode path (PQ and IVF-PQ)") {
    // the steady-state contract: pqTrain/pqEncode/ivfAssign run once at
    // ingest; pqTopKAdcOnCodes / ivfPqTopKOnCodes over the stored
    // (id, cell, pq_code) layout must reproduce the inline operators'
    // rankings exactly — same codebooks, same queries
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .cache()
    val isQuery = $"vec_id" < 20
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int)].collect().toSet
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 16, ksub = 32, iters = 1)
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
      k = 16, iters = 1)
    // stored layout round-trips through parquet like a real artifact
    val dir = java.nio.file.Files.createTempDirectory("oncodes_").toString
    Similarity.pqEncode(
        Similarity.ivfAssign(emb, "vec_id", "embedding", cents),
        "vec_id", "embedding", cb)
      .select("vec_id", "cid", "pq_code")
      .write.mode("overwrite").parquet(s"$dir/codes")
    cb.write.mode("overwrite").parquet(s"$dir/cb")
    cents.write.mode("overwrite").parquet(s"$dir/cents")
    val codes = spark.read.parquet(s"$dir/codes")
    val cbL = spark.read.parquet(s"$dir/cb")
    val centsL = spark.read.parquet(s"$dir/cents")
    val queries = emb.filter(isQuery)
    assert(rows(Similarity.pqTopKAdcOnCodes(codes, "vec_id", "pq_code",
        queries, "vec_id", "embedding", cbL, k = 5)) ==
      rows(Similarity.pqTopKAdc(emb, "vec_id", "embedding", cb,
        isQuery, k = 5)))
    assert(rows(Similarity.ivfPqTopKOnCodes(codes, "vec_id", "cid",
        "pq_code", queries, "vec_id", "embedding", centsL, cbL,
        k = 5)) ==
      rows(Similarity.ivfPqTopK(emb, "vec_id", "embedding", cents, cb,
        isQuery, k = 5)))
    // the guard: a codebook with non-canonical cids must be rejected —
    // its stored codes would not be LUT indexes
    val gappy = cb.withColumn("cid", $"cid" * 2)
    val err = intercept[IllegalArgumentException](
      Similarity.pqTopKAdcOnCodes(codes, "vec_id", "pq_code",
        queries, "vec_id", "embedding", gappy, k = 5))
    assert(err.getMessage.contains("canonical"))
  }

  test("hardNegatives: top-k excluding positives, either orientation") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .cache()
    val isQuery = $"vec_id" < 12
    val pos = graft.ext.Dedup.embeddingNearDup(emb, "vec_id",
      "embedding", "label", threshold = 0.4).cache()
    val posSet = pos.select("a_id", "b_id").as[(Long, Long)].collect()
      .flatMap(p => Seq(p, p.swap)).toSet
    val got = Similarity.hardNegatives(emb, "vec_id", "embedding", pos,
        "a_id", "b_id", isQuery, k = 5)
      .as[(Long, Long, Int)].collect()
    // no positive and no self ever surfaces as a negative
    got.foreach { case (q, n, _) =>
      assert(q != n && !posSet((q, n)), s"($q,$n)")
    }
    // == brute-force ranking with the exclusion applied post hoc (the
    // deep shortlist guarantees 5 survivors per anchor)
    val brute = Similarity.bruteForceTopK(emb, emb.filter(isQuery),
        "vec_id", "embedding", k = 5 + posSet.size)
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq)
      .toMap
    val want = brute.map { case (q, ns) =>
      q -> ns.filterNot(n => posSet((q, n))).take(5)
    }
    val gotBy = got.groupBy(_._1).view
      .mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(gotBy == want)
    // orientation flip of the positive table changes nothing
    val flipped = pos.select($"b_id".as("a_id"), $"a_id".as("b_id"))
    val got2 = Similarity.hardNegatives(emb, "vec_id", "embedding",
        flipped, "a_id", "b_id", isQuery, k = 5)
      .as[(Long, Long, Int)].collect().toSet
    assert(got2 == got.toSet)
  }

  test("hardNegativesBatched: n-batch run == 1-batch run row-for-row") {
    // the broadcast-memory escape hatch for unbroadcastable anchor
    // sets: hash-sharded anchors, per-batch-restricted positives,
    // unioned batches — semantics must be bit-identical to the
    // unbatched plan for every batch count
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .cache()
    val isQuery = $"vec_id" < 12
    val pos = graft.ext.Dedup.embeddingNearDup(emb, "vec_id",
      "embedding", "label", threshold = 0.4).cache()
    val base = Similarity.hardNegatives(emb, "vec_id", "embedding", pos,
        "a_id", "b_id", isQuery, k = 5)
      .as[(Long, Long, Int)].collect().toSeq.sorted
    for (n <- Seq(1, 2, 5)) {
      val batched = Similarity.hardNegativesBatched(emb, "vec_id",
          "embedding", pos, "a_id", "b_id", isQuery, k = 5, nBatches = n)
        .as[(Long, Long, Int)].collect().toSeq.sorted
      assert(batched == base, s"nBatches=$n")
    }
  }

  test("opq: orthogonal rotation cuts PQ quantization distortion ~6x") {
    // anisotropic correlated corpus: 32-dim with a steep variance
    // spectrum that a FIXED dense mixing matrix spreads across every PQ
    // subspace boundary — the case plain PQ splits badly. Deterministic
    // throughout (sin-hash "gaussians", fixed mixer), so every number
    // here is exact, not statistical. The assertion targets the OPQ
    // paper's own objective — quantization DISTORTION — because at this
    // code budget recall@5 is a noisy proxy (gain +0.080 at HEAD,
    // asserted only directionally below).
    val d = 32; val m = 4; val ksub = 16
    val vecs = anisotropicVecs(600, d, decay = 0.4)
      .toDF("vec_id", "embedding").cache()
    val cb = Similarity.pqTrain(vecs, "vec_id", "embedding",
      m = m, ksub = ksub, iters = 2)
    val dPq = distortion(vecs, "embedding", cb, d, m)
    val rot = Similarity.opqRotation(vecs, "vec_id", "embedding", m = m)
    // orthogonality: R R^T == I (rows orthonormal) — rotations preserve
    // distances, so the ADC metric is unchanged by construction
    for (i <- 0 until d; j <- i until d) {
      val dot = (0 until d).map(c => rot(i)(c) * rot(j)(c)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-8, s"R not orthogonal at ($i,$j)")
    }
    val rotated = Similarity.rotate(vecs, "embedding", rot, "rvec").cache()
    val cbR = Similarity.pqTrain(rotated, "vec_id", "rvec",
      m = m, ksub = ksub, iters = 2)
    val dOpq = distortion(rotated, "rvec", cbR, d, m)
    info(f"quantization distortion: pq=$dPq%.5f opq=$dOpq%.5f " +
      f"(ratio ${dOpq / dPq}%.3f)")
    assert(dOpq < 0.3 * dPq,
      f"OPQ must cut distortion hard here: $dPq%.5f -> $dOpq%.5f")
    // recall moves the right way too (deterministic, so > is stable)
    val isQuery = $"vec_id" < 30
    def topSets(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topSets(Similarity.bruteForceTopK(vecs,
      vecs.filter(isQuery), "vec_id", "embedding", 5))
    def recall(got: Map[Long, Set[Long]]) = brute.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / brute.size
    val rPq = recall(topSets(Similarity.pqTopKAdc(vecs, "vec_id",
      "embedding", cb, isQuery, k = 5)))
    val rOpq = recall(topSets(Similarity.pqTopKAdc(rotated, "vec_id",
      "rvec", cbR, isQuery, k = 5)))
    info(f"recall@5: pq=$rPq%.3f opq=$rOpq%.3f")
    assert(rOpq > rPq)
  }

  test("residual IVF-PQ on ANISOTROPIC data: the regime the cell mean matters in") {
    // VERDICT r11 #5: the sf0.01 embeddings are near-isotropic — cell
    // means carry little variance there, so residual vs raw recall was
    // a wash (0.384 vs 0.388). This is the re-measure on the OPQ
    // anisotropic fixture (steep variance spectrum, dense mixer),
    // where coarse cells DO absorb real variance and the residual
    // codes should spend their budget on what's left. Deterministic
    // fixture + trainers, so the numbers are exact, not statistical.
    val d = 32
    val vecs = anisotropicVecs(600, d, decay = 0.4)
      .toDF("vec_id", "embedding").cache()
    val isQuery = $"vec_id" < 50
    def topSets(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topSets(Similarity.bruteForceTopK(vecs,
      vecs.filter(isQuery), "vec_id", "embedding", 5))
    def recall(got: Map[Long, Set[Long]]) = brute.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / brute.size
    val cents = Similarity.trainCentroids(vecs, "vec_id", "embedding",
      k = 16, iters = 2)
    val cbRaw = Similarity.pqTrain(vecs, "vec_id", "embedding",
      m = 4, ksub = 16, iters = 2)
    val cbRes = Similarity.pqTrainResidual(vecs, "vec_id", "embedding",
      cents, m = 4, ksub = 16, iters = 2)
    val rRaw = recall(topSets(Similarity.ivfPqTopK(vecs, "vec_id",
      "embedding", cents, cbRaw, isQuery, k = 5)))
    val rRes = recall(topSets(Similarity.ivfPqTopKResidual(vecs, "vec_id",
      "embedding", cents, cbRes, isQuery, k = 5)))
    info(f"anisotropic ivfpq recall@5 (m=4, ksub=16, 1 probe): " +
      f"raw=$rRaw%.3f residual=$rRes%.3f")
    // measured 0.164 -> 0.244 (+0.080, ~1.5x) at HEAD — here the gain
    // IS visible, confirming the isotropic wash was the data's fault,
    // not the operator's; the assertion pins a visible margin, not
    // just non-regression (fixture is deterministic, so this is exact)
    assert(rRes > rRaw + 0.05,
      f"residual must beat raw codes visibly on anisotropic data: " +
        f"$rRaw%.3f -> $rRes%.3f")
  }

  test("ANN index artifacts survive a parquet round-trip bit-for-bit") {
    // production lifecycle: train once, persist, serve forever — the
    // reloaded centroid/codebook tables must reproduce the in-memory
    // assignment and codes exactly (q84 already proves this for the
    // minhash band table)
    val vecs = anisotropicVecs(200, 16, decay = 0.6)
      .toDF("vec_id", "embedding").cache()
    val cents = Similarity.trainCentroids(vecs, "vec_id", "embedding",
      k = 4, iters = 2)
    val cb = Similarity.pqTrain(vecs, "vec_id", "embedding",
      m = 4, ksub = 8, iters = 2)
    val cDir = tmpDir("cents"); val cbDir = tmpDir("codebook")
    cents.write.mode("overwrite").parquet(cDir)
    cb.write.mode("overwrite").parquet(cbDir)
    val cents2 = spark.read.parquet(cDir)
    val cb2 = spark.read.parquet(cbDir)
    def asg(c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfAssign(vecs, "vec_id", "embedding", c)
        .select("vec_id", "cid").as[(Long, Long)].collect().sortBy(_._1).toSeq
    def codes(c: org.apache.spark.sql.DataFrame) =
      Similarity.pqEncode(vecs, "vec_id", "embedding", c)
        .select(col("vec_id"), col("pq_code").cast("array<string>"))
        .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    assert(asg(cents2) == asg(cents))
    assert(codes(cb2) == codes(cb))
  }

  test("opq allocation stays balanced on unit-norm vectors (all eigenvalues < 1)") {
    // L2-normalized embeddings are the dominant real case: trace(Cov)
    // <= 1, every eigen-log negative — a pure least-product greedy deal
    // degenerates there to contiguous PCA stacking (subspace 0 takes
    // all top variance). The count-first deal must keep the rotation
    // helpful, not harmful, in this regime.
    val d = 32; val m = 4
    val unit = anisotropicVecs(600, d, decay = 0.4)
      .map { case (id, v) =>
        val n = math.sqrt(v.map(x => x * x).sum); (id, v.map(_ / n))
      }.toDF("vec_id", "embedding").cache()
    val cb = Similarity.pqTrain(unit, "vec_id", "embedding",
      m = m, ksub = 16, iters = 2)
    val dPq = distortion(unit, "embedding", cb, d, m)
    val rot = Similarity.opqRotation(unit, "vec_id", "embedding", m = m)
    val rotated = Similarity.rotate(unit, "embedding", rot, "rvec").cache()
    val cbR = Similarity.pqTrain(rotated, "vec_id", "rvec",
      m = m, ksub = 16, iters = 2)
    val dOpq = distortion(rotated, "rvec", cbR, d, m)
    info(f"unit-norm distortion: pq=$dPq%.6f opq=$dOpq%.6f (ratio ${dOpq / dPq}%.3f)")
    assert(dOpq < 0.3 * dPq, // 0.171 at HEAD — same ~6x cut as unnormalized
      f"rotation must keep helping on normalized vectors: $dPq%.6f -> $dOpq%.6f")
  }

  test("semanticNearDup == all-pairs ground truth restricted to same cell") {
    // two tight clusters around orthogonal axes + one isolated vector;
    // centroids pinned at the axes so the cell split is unambiguous
    def v(axis: Int, eps: Double, dims: Int = 8): Array[Double] = {
      val a = Array.fill(dims)(eps); a(axis) = 1.0; a
    }
    val vecs = Seq(
      (10L, v(0, 0.01)), (11L, v(0, 0.02)), (12L, v(0, 0.03)),
      (20L, v(3, 0.01)), (21L, v(3, 0.02)),
      (30L, v(6, 0.4))).toDF("vec_id", "embedding")
    val cents = Seq((0L, v(0, 0.0)), (1L, v(3, 0.0)), (2L, v(6, 0.0)))
      .toDF("cid", "cvec")
    val got = Dedup.semanticNearDup(vecs, "vec_id", "embedding", cents, 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // ground truth: same-cell pairs with cosine >= 0.9, computed from
    // the SAME assignment the operator uses
    val asg = Similarity.ivfAssign(vecs, "vec_id", "embedding", cents)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    val raw = vecs.as[(Long, Array[Double])].collect()
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = (for {
      (ia, va) <- raw; (ib, vb) <- raw
      if ia < ib && asg(ia) == asg(ib) && cos(va, vb) >= 0.9
    } yield (ia, ib)).toSet
    assert(got == want)
    // the clusters actually paired up, and never across cells
    assert(want.contains((10L, 11L)) && want.contains((20L, 21L)))
    assert(got.forall { case (a, b) => asg(a) == asg(b) })
    assert(!got.exists { case (a, b) => a == 30L || b == 30L })
  }

  test("keepBestPerCluster: best score wins, ties to lowest id, singletons kept") {
    val docs = Seq(
      (1L, 0.30), (2L, 0.90), (3L, 0.50), // cluster {1,2,3} via 1-2, 2-3
      (4L, 0.70), (5L, 0.70),             // cluster {4,5}, tied score
      (6L, 0.10)                          // singleton
    ).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a_id", "b_id")
    val r = Dedup.keepBestPerCluster(docs, pairs, "doc_id", "q")
      .select("doc_id", "cluster", "is_kept")
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(r.map(x => x._1 -> x._2).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
    val kept = r.filter(_._3 == 1).map(_._1).toSet
    assert(kept == Set(2L, 4L, 6L)) // 2 by score; 4 by tie->lowest id; 6 singleton
    // exactly one keeper per cluster
    assert(r.groupBy(_._2).forall(_._2.count(_._3 == 1) == 1))
  }

  test("chunkTokens property: coverage and tail-drop hold for arbitrary shapes") {
    import org.scalacheck.Gen
    // random (n, chunkSize, overlap) shapes under a FIXED seed — a
    // failing shape must reproduce on the next run; one Spark job per
    // distinct (chunkSize, overlap) config (same-config docs batch up)
    val gen = Gen.listOfN(25, for {
      n <- Gen.chooseNum(1, 120)
      c <- Gen.chooseNum(2, 40)
      o <- Gen.chooseNum(0, c - 1)
    } yield (n, c, o))
    val shapes = gen(Gen.Parameters.default,
      org.scalacheck.rng.Seed(20260813L)).get.distinct
    shapes.groupBy { case (_, c, o) => (c, o) }.foreach {
      case ((c, o), group) =>
        val docs = group.zipWithIndex.map { case ((n, _, _), i) =>
          (i.toLong, (1 to n).map(t => s"w$t").mkString(" "), n)
        }.toDF("doc_id", "text", "n")
        val byDoc = TextAnalysis.chunkTokens(docs, "doc_id", "text", c, o)
          .select("doc_id", "chunk_id", "start_token", "n_tokens")
          .as[(Long, Int, Int, Int)].collect().groupBy(_._1)
        group.zipWithIndex.foreach { case ((n, _, _), i) =>
          val cs = byDoc(i.toLong).sortBy(_._2)
          val covered = cs.flatMap { case (_, _, s, len) =>
            s until (s + len) }.toSet
          assert(covered == (1 to n).toSet,
            s"coverage hole at n=$n c=$c o=$o")
          val ends = cs.map { case (_, _, s, len) => s + len - 1 }
          assert(ends.toSeq == ends.sorted.distinct.toSeq,
            s"redundant tail at n=$n c=$c o=$o")
          assert(cs.map(_._2).toSeq == cs.indices.toSeq)
        }
    }
  }

  test("chunkTokens: exact coverage, tail-drop rule, dense ids") {
    // token counts straddling every boundary case for chunk=5/overlap=2
    // (stride 3): below one chunk, exactly one, one+overlap edge, …
    val docs = Seq(1, 4, 5, 6, 7, 8, 12, 13).map { n =>
      (n.toLong, (1 to n).map(i => s"t$i").mkString(" "))
    }.toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkTokens(docs, "doc_id", "text",
      chunkSize = 5, overlap = 2)
      .select("doc_id", "chunk_id", "start_token", "n_tokens")
      .as[(Long, Int, Int, Int)].collect().groupBy(_._1)
    docs.as[(Long, String)].collect().foreach { case (id, text) =>
      val n = text.split(" ").length
      val cs = chunks(id).sortBy(_._2)
      // chunk ids dense from 0; starts at fixed stride 3
      assert(cs.map(_._2).toSeq == cs.indices.toSeq)
      assert(cs.forall { case (_, cid, s, _) => s == 1 + 3 * cid })
      // every token covered exactly: union of [s, s+len-1] == [1, n]
      val covered = cs.flatMap { case (_, _, s, len) => s until (s + len) }.toSet
      assert(covered == (1 to n).toSet, s"doc $id coverage hole")
      // tail-drop: every chunk past the first contributes a NEW token
      // (its end exceeds the previous chunk's end)
      val ends = cs.map { case (_, _, s, len) => s + len - 1 }
      assert(ends.sliding(2).forall(p => p.length < 2 || p(1) > p(0)),
        s"doc $id has a redundant tail chunk")
      // short docs collapse to exactly one chunk
      if (n <= 5) assert(cs.length == 1)
    }
  }

  test("ivfpq: single probe is cell-bounded") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .cache()
    val isQuery = $"vec_id" < 20
    val cents = emb.filter($"vec_id" % 60 === 0)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 16, ksub = 16, iters = 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int)].collect().toSet
    // every returned neighbor shares the query's own cell
    val single = rows(Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      cents, cb, isQuery, k = 3))
    val cellOf = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    single.foreach { case (q, n, _) =>
      assert(cellOf(q) == cellOf(n), s"pair ($q,$n) crosses cells")
    }
    assert(single.nonEmpty)
  }

  test("bloom filter: no false negatives, fpp near nominal") {
    import graft.ext.Sketches
    val members = (0L until 2000L).map(i => i * 31 + 7)
    val keysDf = members.toDF("v").select(xxhash64($"v").as("k"))
    val (bits, k) = Sketches.buildBloomBits(keysDf, "k", 2000, 0.01)
    assert(k > 1)
    // probe the members themselves and 18k guaranteed non-members
    val probed = (0L until 2000L).map(i => i * 31 + 7)
      .++((0L until 18000L).map(i => -1000000L - i))
      .toDF("v")
      .select($"v", Sketches.bloomMightContain(xxhash64($"v"), bits, k)
        .as("hit"))
      .as[(Long, Boolean)].collect()
    val (mem, non) = probed.partition(_._1 >= 0)
    assert(mem.forall(_._2), "bloom false negative — contract violation")
    val fp = non.count(_._2).toDouble / non.length
    info(f"bloom fpp measured: $fp%.4f (nominal 0.01)")
    assert(fp < 0.05, s"false-positive rate way off nominal: $fp")
  }

  test("newRowsBloom == plain anti join; confirm joins broadcast") {
    import graft.ext.Dedup
    val existing = (0L until 300L).map(i => (i, s"doc number ${i % 120} body"))
      .toDF("id", "text") // 120 distinct texts
    val newDf = (1000L until 1200L).map(i => (i, s"doc number ${i - 1000} body"))
      .toDF("id", "text") // ids 1000..1119 collide with existing texts
    val key = md5($"text")
    val got = Dedup.newRowsBloom(newDf, existing, key)
    val want = newDf.join(existing.select(md5($"text").as("__eh")).distinct(),
      md5($"text") === $"__eh", "leftanti")
    assert(got.select("id").as[Long].collect().sorted.toSeq ==
      want.select("id").as[Long].collect().sorted.toSeq)
    assert(got.count() == 80) // 1120..1199 are genuinely new
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"bloom-prefiltered dedup must not shuffle-join:\n$plan")
  }

  test("spellCandidates: neighborhood join + verify == true edit distance") {
    val vocab = Seq(("table", 10L), ("scan", 5L), ("ab", 2L), ("ba", 3L),
      ("a", 1L)).toDF("term", "cnt")
    val got = TextAnalysis.spellCandidates(vocab,
        Seq("tble", "ab", "zz"))
      .select("query_term", "term", "distance")
      .as[(String, String, Long)].collect().toSet
    // "ab"/"ba" share deletion variants but sit at distance 2 — the
    // false candidate the verify filter must kill; "zz" matches nothing
    assert(got == Set(("tble", "table", 1L), ("ab", "ab", 0L),
      ("ab", "a", 1L)))
  }

  test("removeBoilerplateLines: DISTINCT-doc threshold, in-doc repeats " +
      "survive, null/empty pinning") {
    // "nav bar" is in 3 distinct docs (> maxDocFreq=2) -> dropped
    // everywhere; "footer" is in only 2 docs -> kept; doc 3 repeats
    // "spam" 5 times but in ONE doc -> distinct-doc count is 1, kept.
    val corpus = Seq(
      (0L, "nav bar\nreal content zero\nfooter"),
      (1L, "nav bar\nreal content one\nfooter"),
      (2L, "nav bar\nreal content two"),
      (3L, "spam\nspam\nspam\nspam\nspam"),
      (4L, ""),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Dedup.removeBoilerplateLines(corpus, "doc_id", "text",
        maxDocFreq = 2)
      .orderBy("doc_id")
      .select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, "real content zero\nfooter", 2L, 1L),
      (1L, "real content one\nfooter", 2L, 1L),
      (2L, "real content two", 1L, 1L),
      (3L, "spam\nspam\nspam\nspam\nspam", 5L, 0L),
      (4L, "", 0L, 0L),
      (5L, "", 0L, 0L)))
    // no frequent lines at a high threshold -> identity rewrite
    val id = Dedup.removeBoilerplateLines(corpus, "doc_id", "text",
        maxDocFreq = 99)
      .filter($"n_lines_dropped" =!= 0).count()
    assert(id == 0)
  }

  test("dedupLinesKeepFirst: lowest (doc, pos) wins, in-doc dups " +
      "collapse, order preserved") {
    val corpus = Seq(
      (0L, "alpha\nbeta\nalpha"),          // in-doc dup: pos-2 alpha drops
      (1L, "beta\ngamma\nbeta"),  // beta lost to doc 0 pos 1; both go
      (2L, "gamma\ndelta"),               // gamma lost to doc 1 pos 1
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Dedup.dedupLinesKeepFirst(corpus, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, "alpha\nbeta", 2L, 1L),
      (1L, "gamma", 1L, 2L),
      (2L, "delta", 1L, 1L),
      (3L, "", 0L, 0L)))
    // every distinct line survives exactly once corpus-wide
    val survivors = got.flatMap(_._2.split("\n").filter(_.nonEmpty))
    assert(survivors.sorted == survivors.distinct.sorted &&
      survivors.toSet == Set("alpha", "beta", "gamma", "delta"))
  }

  test("removeBoilerplateLinesDelta: batch rewrite == full-union " +
      "rewrite") {
    // "nav" is frequent already in the history (3 docs); "ad" sits AT
    // the threshold (2 docs) and crosses it only when the batch lands;
    // "new-spam" becomes frequent entirely within the batch.
    val history = Seq(
      (0L, "nav\ncontent zero\nad"),
      (1L, "nav\ncontent one\nad"),
      (2L, "nav\ncontent two")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "ad\nfresh ten\nnew-spam"),
      (11L, "new-spam\nfresh eleven"),
      (12L, "new-spam\nfresh twelve")).toDF("doc_id", "text")
    val snap = Dedup.lineFrequencySnapshot(history, "doc_id", "text")
    val delta = Dedup.removeBoilerplateLinesDelta(batch, snap,
        "doc_id", "text", maxDocFreq = 2)
      .select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    val full = Dedup.removeBoilerplateLines(
        history.unionByName(batch), "doc_id", "text", maxDocFreq = 2)
      .filter($"doc_id" >= 10L)
      .select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(delta == full)
    // "ad" (2+1 docs) and "new-spam" (0+3) both dropped from the batch
    assert(delta == Seq(
      (10L, "fresh ten", 1L, 2L),
      (11L, "fresh eleven", 1L, 1L),
      (12L, "fresh twelve", 1L, 1L)))
  }

  test("trainNaiveBayes + classifyLinear: recovers training labels, " +
      "exact NB math, deterministic tie-break, null/empty docs") {
    val train = Seq(
      (0L, "fruit", "apple banana apple cherry"),
      (1L, "fruit", "banana apple mango"),
      (2L, "metal", "iron copper iron zinc"),
      (3L, "metal", "copper zinc steel iron")).toDF("doc_id", "lab", "text")
    val (m, p) = TextAnalysis.trainNaiveBayes(train, "lab", "text")
    // the exact smoothed log-likelihood, quantized the same way:
    // c(apple|fruit)=3, tot(fruit)=7, V=8 distinct terms
    val wApple = m.filter($"term" === "apple" && $"label" === "fruit")
      .select($"weight".cast("double")).as[Double].head()
    assert(math.abs(wApple -
      BigDecimal(math.log(4.0 / 15.0)).setScale(9,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    // unseen is per-label: log(1/(tot+V)) with DIFFERENT tot per label
    val un = p.select($"label", $"unseen".cast("double"))
      .as[(String, Double)].collect().toMap
    assert(math.abs(un("fruit") - math.log(1.0 / 15.0)) < 1e-9)
    // per-label, not global: tot(fruit)=7 vs tot(metal)=8 tokens, so
    // log(1/15) != log(1/16) — a single-unseen regression fails here
    assert(un("fruit") != un("metal"))
    // apply to the training docs + two fresh ones (incl. null text)
    val test = train.select($"doc_id", $"lab", $"text")
      .unionByName(Seq(
        (10L, "fruit", "mango mango banana unseen-word"),
        (11L, "metal", "steel zinc"),
        (12L, "?", null.asInstanceOf[String])).toDF("doc_id", "lab", "text"))
    val got = TextAnalysis.classifyLinear(test, "doc_id", "text", m, p)
      .select($"doc_id", $"label").as[(Long, String)].collect().toMap
    assert((0L to 3L).forall(i => got(i) ==
      (if (i < 2) "fruit" else "metal")))
    assert(got(10L) == "fruit" && got(11L) == "metal")
    // null text: score = prior + 0 — equal priors here (2 docs each),
    // so the (score desc, label asc) tie-break picks "fruit"
    assert(got(12L) == "fruit")
    // a label whose docs have ZERO tokens must keep its prior row
    // (left join) with unseen = log(1/(0+V)) — an inner join silently
    // dropped it from the model entirely
    val withEmpty = train.unionByName(
      Seq((20L, "void", ""), (21L, "void", null.asInstanceOf[String]))
        .toDF("doc_id", "lab", "text"))
    val (_, p2) = TextAnalysis.trainNaiveBayes(withEmpty, "lab", "text")
    val pv = p2.select($"label", $"prior".cast("double"),
      $"unseen".cast("double")).as[(String, Double, Double)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(pv.contains("void"))
    assert(math.abs(pv("void")._1 - math.log(2.0 / 6.0)) < 1e-9)
    assert(math.abs(pv("void")._2 - math.log(1.0 / 8.0)) < 1e-9)
  }

  test("trainNaiveBayesCounts: exact integer artifact, all-BIGINT edge") {
    val train = Seq(
      (0L, "fruit", "apple banana apple cherry"),
      (1L, "fruit", "banana apple mango"),
      (2L, "metal", "iron copper iron zinc"),
      (3L, "metal", "copper zinc steel iron")).toDF("doc_id", "lab", "text")
    val (c, d) = TextAnalysis.trainNaiveBayesCounts(train, "lab", "text")
    // the whole artifact is oracle-safe integers — no decimal, no log
    import org.apache.spark.sql.types.LongType
    assert(c.schema.fields.filter(_.name != "term")
      .filter(_.name != "label").forall(_.dataType == LongType))
    assert(d.schema.fields.filter(_.name != "label")
      .forall(_.dataType == LongType))
    val cm = c.select($"term", $"label", $"n", $"tot", $"v")
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // c(apple|fruit)=3 of tot(fruit)=7, V=8 — the same numbers the
    // weight spec derives log(4/15) from
    assert(cm(("apple", "fruit")) == ((3L, 7L, 8L)))
    assert(cm(("iron", "metal")) == ((3L, 8L, 8L)))
    val dm = d.select($"label", $"n_docs", $"n_total", $"tot")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(dm("fruit") == ((2L, 4L, 7L)) && dm("metal") == ((2L, 4L, 8L)))
  }

  test("importanceWeights: exact score(target) - score(raw) ratio") {
    val train = Seq(
      (0L, "tgt", "good clean prose text"),
      (1L, "raw", "spam spam noise junk")).toDF("doc_id", "lab", "text")
    val (m, p) = TextAnalysis.trainNaiveBayes(train, "lab", "text")
    val pool = Seq(
      (10L, "good clean text"),   // target-like
      (11L, "spam junk"),         // raw-like
      (12L, "neutral words here") // all unseen
    ).toDF("doc_id", "text")
    val w = TextAnalysis.importanceWeights(pool, "doc_id", "text",
        m, p, "tgt", "raw")
      .select($"doc_id", $"weight".cast("double"))
      .as[(Long, Double)].collect().toMap
    // brute-force the same quantized-decimal arithmetic
    val mw = m.select($"term", $"label", $"weight".cast("double"))
      .as[(String, String, Double)].collect()
      .map { case (t, l, v) => (t, l) -> v }.toMap
    val pr = p.select($"label", $"prior".cast("double"),
      $"unseen".cast("double")).as[(String, Double, Double)].collect()
      .map { case (l, a, b) => l -> (a, b) }.toMap
    def score(text: String, lab: String): Double = {
      val ts = text.split("\\s+").filter(_.nonEmpty)
      val (prior, unseen) = pr(lab)
      prior + ts.map(t => mw.getOrElse((t, lab), unseen)).sum
    }
    Seq(10L -> "good clean text", 11L -> "spam junk",
      12L -> "neutral words here").foreach { case (id, t) =>
      assert(math.abs(w(id) - (score(t, "tgt") - score(t, "raw"))) < 1e-9,
        s"doc $id")
    }
    assert(w(10L) > w(12L) && w(12L) > w(11L))
  }

  test("cdcChunks: lossless reassembly, content-defined boundaries " +
      "survive a head insertion, short/empty/null docs") {
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight while stars " +
      "shine brightly over the quiet sleeping village below us all"
    val docs = Seq(
      (0L, base),
      (1L, "PREFIX INSERTED " + base), // head edit shifts all offsets
      (2L, "tiny"),                    // shorter than the window
      (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs, "doc_id", "text", w = 8, modulus = 16)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Int, String)].collect().toSeq
    // chunks reassemble the document exactly, in chunk_id order
    val byDoc = ch.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).mkString).toMap
    assert(byDoc(0L) == base)
    assert(byDoc(1L) == "PREFIX INSERTED " + base)
    assert(byDoc(2L) == "tiny" && ch.count(_._1 == 2L) == 1)
    assert(!byDoc.contains(3L) && !byDoc.contains(4L))
    // the CDC property: despite the 16-char head insertion, doc 1
    // re-synchronizes and SHARES every chunk of doc 0 past the edit —
    // a fixed-window chunking would share (almost) none
    val c0 = ch.filter(_._1 == 0L).map(_._3).toSet
    val c1 = ch.filter(_._1 == 1L).map(_._3).toSet
    val shared = (c0 & c1).toSeq.map(_.length).sum
    assert(c0.size > 2, s"fixture too few chunks: ${c0.size}")
    assert(shared >= base.length / 2,
      s"CDC failed to re-sync after the head edit: $shared shared " +
        s"chars of ${base.length}")
  }

  test("cdcChunks: code-point unit system — non-BMP and BMP non-ASCII " +
      "chunk losslessly, boundaries match the oracle's ord()-formula") {
    // supplementary-plane text (emoji, CJK-B): boundary positions and
    // hashed values are code points, matching Spark substr and the
    // DuckDB CTE's t[p:p]/ord() — astral chars chunk correctly now,
    // they no longer throw (the round-13 guard, lifted as documented)
    val astral = ("shared prefix text 😀 emoji body 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 " +
      "𠀀𠀁𠀂 tail words continue here for a while longer ") * 3
    val bmp = "café crème 中文文本 " * 8
    for (txt <- Seq(astral, bmp)) {
      val (w, modulus) = (8, 16)
      val ch = Dedup.cdcChunks(Seq((0L, txt)).toDF("doc_id", "text"),
          "doc_id", "text", w = w, modulus = modulus)
        .orderBy("chunk_id").as[(Long, Int, String)].collect()
      // lossless tiling in chunk order
      assert(ch.map(_._3).mkString == txt)
      assert(ch.length > 2, s"fixture produced too few chunks: ${ch.length}")
      // independent transcription of the ORACLE's boundary rule
      // (cdcSqlCte): boundary after code-point p iff
      // Σ ord(cp at p−off)·B^off mod M ≡ 0 (mod modulus), w ≤ p < n
      import graft.functions.expressions.TextExprHelpers.{CdcBase, CdcMod}
      val cps = txt.codePoints().toArray
      val pows = Iterator.iterate(1L)(x => x * CdcBase % CdcMod)
        .take(w).toArray
      val expected = (w until cps.length).filter { p =>
        val win = (0 until w).map(off =>
          cps(p - 1 - off).toLong * pows(off) % CdcMod).sum % CdcMod
        win % modulus == 0
      }
      // chunk ends (code-point cumulative lengths, minus the tail)
      val ends = ch.map(c => c._3.codePointCount(0, c._3.length))
        .scanLeft(0)(_ + _).drop(1).dropRight(1).toSeq
      assert(ends == expected.toSeq,
        s"boundaries diverge from the oracle formula for ${txt.take(20)}…")
    }
  }

  test("mmrRerank: an exact duplicate of the first pick is demoted " +
      "below a less-relevant but diverse candidate") {
    // query 0 = (1,0,0); A and A2 are identical near-parallel vectors
    // (pure relevance ranks them 1-2); B is diverse at lower cosine.
    val corpus = Seq(
      (0L, Array(1f, 0f, 0f)),
      (100L, Array(0.99f, 0.1f, 0f)), // A
      (101L, Array(0.99f, 0.1f, 0f)), // A2 == A, higher id
      (102L, Array(0.7f, 0f, 0.7f))   // B, diverse
    ).toDF("vec_id", "embedding")
    val pure = Similarity.bruteForceTopK(corpus,
        corpus.filter(col("vec_id") < 1), "vec_id", "embedding", k = 2)
      .orderBy("rank").as[(Long, Long, Int)].collect().map(_._2).toSeq
    assert(pure == Seq(100L, 101L)) // relevance alone keeps the twin
    val mmr = Similarity.mmrRerank(corpus, "vec_id", "embedding",
        col("vec_id") < 1, k = 2, shortlist = 3, lambda = 0.5)
      .orderBy("mmr_rank").as[(Long, Long, Int)].collect().map(_._2).toSeq
    assert(mmr == Seq(100L, 102L)) // MMR swaps the twin for diversity
  }

  // ---- non-BMP parity sweep (VERDICT r14 Next #4): every position-
  // emitting text operator either proves itself on supplementary-plane
  // input or documents its unit bound loudly. cdcChunks got the
  // code-point lift in r14 (the test above); duplicateSpans/
  // removeDuplicateSpans are code-UNIT by design (one unit system for
  // find AND rewrite — proved here); chunkTokens is token-indexed
  // (proved here); editDistancePairs is code-POINT (substr deletions +
  // levenshtein — proved here); bpeTrain's tie-break bound is
  // documented at the API (UTF-16 vs UTF-8 order diverges only on
  // astral-vs-U+E000..FFFF ties — not fixture-provable, it's a genuine
  // cross-engine order difference).

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  test("duplicate-span family: astral text — code-UNIT extents, JVM " +
      "rewrite parity, fixpoint at winnowW = 1") {
    val dup = "😀😀 shared span with 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 emoji 𠀀𠀁𠀂 inside " +
      "that is long enough to cross several grams comfortably "
    val texts = Map(
      0L -> ("unique head zero " + dup + "unique tail zero"),
      1L -> ("completely different opening " + dup + "another ending"))
    val docsA = texts.toSeq.toDF("doc_id", "text")
    // JVM independent rewrite: apply 1-based inclusive code-unit
    // extents with String.substring — the reference the operator's
    // charUnitSubstr path must match
    def jvmClean(t: String, sp: Seq[(Int, Int)]): String = {
      val keep = new StringBuilder
      var cur = 1
      sp.sortBy(_._1).foreach { case (s, e) =>
        if (s > cur) keep.append(t.substring(cur - 1, s - 1))
        cur = math.max(cur, e + 1)
      }
      if (cur <= t.length) keep.append(t.substring(cur - 1))
      keep.toString
    }
    val spans = Dedup.duplicateSpans(docsA, "doc_id", "text",
        gramLen = 10)
      .as[(Long, Int, Int)].collect().toSeq
    assert(spans.map(_._1).toSet == Set(0L, 1L),
      "astral duplicated span not found in both docs")
    val byDoc = spans.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3))).toMap
    val cleanedRef = texts.map { case (id, t) =>
      id -> jvmClean(t, byDoc(id)) }
    val got = Dedup.removeDuplicateSpans(docsA, "doc_id", "text",
        gramLen = 10)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    got.foreach { case (id, hash, removed) =>
      assert(hash == md5hex(cleanedRef(id)),
        s"rewrite diverges from the code-unit reference (doc $id)")
      assert(removed == texts(id).length - cleanedRef(id).length)
    }
    // the shared astral region is actually cut (non-vacuous)
    assert(got.forall(_._3 > dup.length / 2))
    // exact extents: the finder on cleaned text is dry
    val again = cleanedRef.toSeq.toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(again, "doc_id", "text",
      gramLen = 10).count() == 0)
  }

  test("chunkTokens: astral tokens — token-indexed offsets and hashes " +
      "match a JVM reference") {
    val text = "😀 alpha 𝔘𝔫𝔦 beta 𠀀 gamma delta 😀😀 epsilon"
    val got = TextAnalysis.chunkTokens(
        Seq((0L, text)).toDF("doc_id", "text"),
        "doc_id", "text", chunkSize = 3, overlap = 1)
      .orderBy("chunk_id")
      .select("chunk_id", "start_token", "n_tokens", "chunk_hash")
      .as[(Int, Int, Int, String)].collect().toSeq
    val toks = text.split("\\s+")
    val step = 2
    val expect = Iterator.from(0)
      .map(i => 1 + i * step).takeWhile(_ <= toks.length)
      .filter(s => s == 1 || s + 1 <= toks.length) // the tail-drop rule
      .zipWithIndex.map { case (s, i) =>
        val chunk = toks.slice(s - 1, s - 1 + 3)
        (i, s, chunk.length, md5hex(chunk.mkString(" ")))
      }.toSeq
    assert(got == expect)
    assert(got.length >= 4) // several windows: the fixture is live
  }

  test("editDistancePairs: astral vocab — deletions and levenshtein " +
      "both count CODE POINTS; pairs match a brute-force reference") {
    val vocab = Seq("ab😀c", "abc", "a😀c", "😀bc", "ab😀", "xyz", "ab")
    // brute-force code-point levenshtein — the independent formulation
    def lev(a: Array[Int], b: Array[Int]): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expect = (for {
      a <- vocab; b <- vocab if a != b
      if lev(a.codePoints.toArray, b.codePoints.toArray) <= 1
    } yield Set(a, b)).toSet
    val got = TextAnalysis.editDistancePairs(vocab.toDF("term"))
      .as[(String, String, Long)].collect()
    assert(got.forall(_._3 == 1L))
    assert(got.map(p => Set(p._1, p._2)).toSet == expect)
    // the astral-substitution pair is present: abc vs a😀c meet on the
    // shared code-point deletion "ac" — a code-UNIT implementation
    // would need TWO edits and miss it
    assert(expect.contains(Set("abc", "a😀c")))
    assert(got.map(p => Set(p._1, p._2)).contains(Set("abc", "a😀c")))
  }

  test("dedupCdcKeepFirst: doc 0 untouched, shifted copy loses every " +
      "shared chunk, counts consistent with cdcChunks") {
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight while stars " +
      "shine brightly over the quiet sleeping village below us all"
    val docs = Seq(
      (0L, base),
      (1L, "PREFIX INSERTED " + base),  // shifted near-copy
      (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs, "doc_id", "text", w = 8, modulus = 16)
      .as[(Long, Int, String)].collect().toSeq
    val shared = ch.filter(_._1 == 0L).map(_._3).toSet &
      ch.filter(_._1 == 1L).map(_._3).toSet
    val got = Dedup.dedupCdcKeepFirst(docs, "doc_id", "text",
        w = 8, modulus = 16)
      .orderBy("doc_id")
      .select("doc_id", "text", "n_chunks_kept", "n_chunks_dropped")
      .as[(Long, String, Long, Long)].collect().toSeq
    // doc 0 owns every first occurrence -> byte-identical
    assert(got(0)._2 == base && got(0)._4 == 0L)
    // doc 1 loses exactly the shared chunks (its copies came second)
    assert(got(1)._4 == shared.size.toLong)
    assert(got(1)._2.length ==
      ("PREFIX INSERTED " + base).length - shared.toSeq.map(_.length).sum)
    assert(got(2) == ((2L, "", 0L, 0L)))
    // kept+dropped == that doc's cdc chunk count, both docs
    got.take(2).foreach { case (id, _, k, d) =>
      assert(k + d == ch.count(_._1 == id).toLong, s"doc $id")
    }
  }

  test("knBigramCounts/knTable: exact bigram and continuation counts; " +
      "sub-2-token docs emit nothing") {
    val df = Seq(
      "the cat sat",        // the-cat, cat-sat
      "the cat ran",        // the-cat, cat-ran
      "cat",                // nothing
      "").toDF("text")
    val got = NgramLm.continuationTable(
        NgramLm.ngrams(df, "text", 2, None))
      .orderBy("w1", "w2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // c: (the,cat)=2, (cat,sat)=1, (cat,ran)=1
    // pre(cat)=1 {the}; pre(sat)=1 {cat}; pre(ran)=1
    // post(the)=1 {cat}; post(cat)=2 {sat,ran}
    assert(got.toSeq == Seq(
      ("cat", "ran", 1L, 1L, 2L),
      ("cat", "sat", 1L, 1L, 2L),
      ("the", "cat", 2L, 1L, 1L)))
  }

  test("collocationLift: exact lift by hand, minCount cuts hapax " +
      "pairs, B and the marginals are instance totals") {
    val train = Seq("the cat sat", "the cat ran").toDF("text")
    // counts: (the,cat,2) (cat,sat,1) (cat,ran,1); B=4 instances
    // lt: the=2 cat=2; rt: cat=2 sat=1 ran=1
    val counts = NgramLm.ngrams(train, "text", 2, None)
    val all = TextAnalysis.collocationLift(counts, minCount = 1)
      .orderBy("w1", "w2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    // (the,cat): 2*4e9/(2*2)=2e9; (cat,sat): 1*4e9/(2*1)=2e9; ditto ran
    assert(all.toSeq == Seq(
      ("cat", "ran", 1L, 2000000000L),
      ("cat", "sat", 1L, 2000000000L),
      ("the", "cat", 2L, 2000000000L)))
    val cut = TextAnalysis.collocationLift(counts, minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(cut.toSeq == Seq(("the", "cat")))
  }

  test("knProbabilities: D=3/4 closed form by hand; knScoreDocs hits " +
      "all four back-off branches and keeps sub-2-token docs as zeros") {
    val train = Seq("the cat sat", "the cat ran").toDF("text")
    // counts: (the,cat,2) (cat,sat,1) (cat,ran,1); B=3
    // ctx: the(c1=2,post=1) cat(c1=2,post=2); pre: cat=1 sat=1 ran=1
    val counts = NgramLm.ngrams(train, "text", 2, None)
    val probs = NgramLm.probabilities(Map(2 -> counts), 2, NgramLm.Fixed)
      .orderBy("w1", "w2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    // p(cat|the) = ((8-3)*3 + 3*1*1)/(4*2*3) = 18/24 = 0.75
    // p(sat|cat) = ((4-3)*3 + 3*2*1)/24 = 9/24 = 0.375 (ran ditto)
    assert(probs.toSeq == Seq(
      ("cat", "ran", 1L, 375000000L),
      ("cat", "sat", 1L, 375000000L),
      ("the", "cat", 2L, 750000000L)))
    val docs = Seq(
      (1L, "the cat sat"), // seen+seen: (750000000+375000000)/2
      (2L, "dog cat"),     // w1 unseen, w2 pre=1: 1e9 // 3
      (3L, "the zzz"),     // w1 seen, w2 unseen: 0
      (4L, "the ran"),     // backoff: 3*post(the)*pre(ran) /(4*2*3)
      (5L, "solo")         // < 2 tokens: zero row via the spine
    ).toDF("doc_id", "text")
    val got = NgramLm.scoreDocs(docs, "doc_id", "text", Map(2 -> counts),
        2, NgramLm.Fixed, None)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 1125000000L, 562500000L),
      (2L, 1L, 333333333L, 333333333L),
      (3L, 1L, 0L, 0L),
      (4L, 1L, 125000000L, 125000000L),
      (5L, 0L, 0L, 0L)))
  }

  test("knProbabilitiesEstimatedD: Ney count-of-counts discount by " +
      "hand; M=0 degenerate falls back to the ML estimate") {
    val train = Seq("the cat sat", "the cat ran").toDF("text")
    // counts: (the,cat,2) (cat,sat,1) (cat,ran,1); n1=2 n2=1 M=4
    // D = 2/4 -> d_e9 = 500000000; B=3, pc = 1e9//3 = 333333333
    val got = NgramLm.probabilities(
        Map(2 -> NgramLm.ngrams(train, "text", 2, None)), 2,
        NgramLm.Estimated)
      .orderBy("w1", "w2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // p(sat|cat) = ((4-2)e9 + 2*2*333333333) // 8 = 416666666
    // p(cat|the) = ((8-2)e9 + 2*1*333333333) // 8 = 833333333
    assert(got.toSeq == Seq(
      ("cat", "ran", 1L, 500000000L, 416666666L),
      ("cat", "sat", 1L, 500000000L, 416666666L),
      ("the", "cat", 2L, 500000000L, 833333333L)))
    // every count >= 3: n1 = n2 = 0, M = 0 -> D=0, pure ML n/c1
    val deg = NgramLm.probabilities(
        Map(2 -> Seq(("a", "b", 3L), ("a", "c", 6L)).toDF("w1", "w2", "n")),
        2, NgramLm.Estimated)
      .orderBy("w2").collect()
      .map(r => (r.getString(1), r.getLong(3), r.getLong(4)))
    assert(deg.toSeq == Seq(
      ("b", 0L, 333333333L), ("c", 0L, 666666666L)))
  }

  test("knTrigramCounts/knTrigramProbabilities: two-stage floor-e9 " +
      "closed form by hand; sub-3-token docs emit nothing") {
    val train = Seq("a b c a b d", "x b c", "a b", "").toDF("text")
    // tri: (a,b,c)1 (b,c,a)1 (c,a,b)1 (a,b,d)1 (x,b,c)1
    // ctx: (a,b) c12=2 t12=2; (b,c)/(c,a)/(x,b) all 1/1
    // cont: (b,c) pre23=2; (c,a)/(a,b)/(b,d) all 1 — B=4
    // mid: b nmid2=3 post2=2; a/c nmid2=1 post2=1
    // pre: a=b=c=d=1
    val probs = NgramLm.probabilities(
        Map(3 -> NgramLm.ngrams(train, "text", 3, None)), 3, NgramLm.Fixed)
      .orderBy("w1", "w2", "w3").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // p2(b,c) = ((8-3)*4 + 3*2*1)e9 / 48 = 26e9//48 = 541666666
    // p2(c,a) = p2(a,b) = ((4-3)*4 + 3)e9 / 16 = 437500000
    // p2(b,d) = (4 + 3*2)e9 / 48 = 208333333
    // p3(a,b,c) = (1e9 + 3*2*541666666) // 8 = 531249999
    // p3(a,b,d) = (1e9 + 3*2*208333333) // 8 = 281249999
    // p3(b,c,a) = (1e9 + 3*437500000) // 4 = 578125000
    // p3(c,a,b) = 578125000; p3(x,b,c) = (1e9+3*541666666)//4
    assert(probs.toSeq == Seq(
      ("a", "b", "c", 1L, 541666666L, 531249999L),
      ("a", "b", "d", 1L, 208333333L, 281249999L),
      ("b", "c", "a", 1L, 437500000L, 578125000L),
      ("c", "a", "b", 1L, 437500000L, 578125000L),
      ("x", "b", "c", 1L, 541666666L, 656249999L)))
  }

  test("knTrigramProbabilitiesEstimatedD: per-level count-of-counts " +
      "discounts by hand (D3=1 zeroes every singleton's top term)") {
    val train = Seq("a b c a b d", "x b c", "a b", "").toDF("text")
    // tri all n=1: t1=5 t2=0 -> M3=5, D3=1 (d3_e9=1000000000)
    // cont pre23: (b,c)=2 others=1 -> cc1=3 cc2=1 -> M2=5, D2=3/5
    // B=4, pc = 1e9//4 = 250000000 for every w3
    // p2(b,c) = ((2*5-3)e9 + 3*2*250000000) // 15 = 566666666
    // p2(c,a) = p2(a,b) = ((5-3)e9 + 750000000) // 5 = 550000000
    // p2(b,d) = (2e9 + 1500000000) // 15 = 233333333
    // p3 = (0 + 5*t12*p2) // (c12*5): (a,b,*) t12=2 c12=2;
    //      single-context rows collapse to their p2
    val got = NgramLm.probabilities(
        Map(3 -> NgramLm.ngrams(train, "text", 3, None)), 3,
        NgramLm.Estimated)
      .orderBy("w1", "w2", "w3").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))
    assert(got.toSeq == Seq(
      ("a", "b", "c", 1L, 1000000000L, 600000000L, 566666666L,
        566666666L),
      ("a", "b", "d", 1L, 1000000000L, 600000000L, 233333333L,
        233333333L),
      ("b", "c", "a", 1L, 1000000000L, 600000000L, 550000000L,
        550000000L),
      ("c", "a", "b", 1L, 1000000000L, 600000000L, 550000000L,
        550000000L),
      ("x", "b", "c", 1L, 1000000000L, 600000000L, 566666666L,
        566666666L)))
  }

  test("knScoreDocsTrigram: every back-off branch of the two-level " +
      "cascade by hand; sub-3-token docs keep zero rows; floor mean") {
    val train = Seq("a b c a b d", "x b c").toDF("text")
    val model = Map(3 -> NgramLm.ngrams(train, "text", 3, None))
    val docs = Seq(
      (1L, "a b c"),   // seen trigram: 531249999
      (2L, "a b b"),   // ctx (a,b) seen, tri unseen; p2 middle-
                       // backoff (b,b): 3*2*1e9/48=125000000 ->
                       // p3 = 3*2*125000000 // 8 = 93750000
      (3L, "z b c"),   // ctx unseen -> p3 = p2(b,c) = 541666666
      (4L, "z z c"),   // ctx unseen, w2 unseen, w3 known:
                       // unigram fallback 1e9//4 = 250000000
      (5L, "z z q"),   // w3 unknown: 0
      (6L, "a b"),     // < 3 tokens: zero row via the spine
      (7L, "a b c a")  // two tri: 531249999 + 578125000 = 1109374999
                       // floor mean 554687499
    ).toDF("doc_id", "text")
    val got = NgramLm.scoreDocs(docs, "doc_id", "text", model, 3,
        NgramLm.Fixed, None)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 1L, 531249999L, 531249999L),
      (2L, 1L, 93750000L, 93750000L),
      (3L, 1L, 541666666L, 541666666L),
      (4L, 1L, 250000000L, 250000000L),
      (5L, 1L, 0L, 0L),
      (6L, 0L, 0L, 0L),
      (7L, 2L, 1109374999L, 554687499L)))
  }

  test("knScoreDocsEstimatedD: every back-off branch at the estimated " +
      "discount by hand; M=0 degenerate scores zero backoff mass") {
    val train = Seq("the cat sat", "the cat ran").toDF("text")
    // counts: (the,cat,2) (cat,sat,1) (cat,ran,1); n1=2 n2=1 M=4
    // model (from the q273 spec): p(cat|the)=833333333,
    // p(sat|cat)=p(ran|cat)=416666666; B=3, pc=333333333
    val counts = NgramLm.ngrams(train, "text", 2, None)
    val docs = Seq(
      (1L, "the cat sat"), // seen+seen: 833333333+416666666
      (2L, "dog cat"),     // w1 unseen, w2 known: pc = 333333333
      (3L, "the zzz"),     // w2 unknown: 0
      (4L, "the ran"),     // backoff: (n1*post*pc)//(c1*M)
                           // = (2*1*333333333)//8 = 83333333
      (5L, "solo")         // < 2 tokens: zero row via the spine
    ).toDF("doc_id", "text")
    val got = NgramLm.scoreDocs(docs, "doc_id", "text", Map(2 -> counts),
        2, NgramLm.Estimated, None)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 1249999999L, 624999999L),
      (2L, 1L, 333333333L, 333333333L),
      (3L, 1L, 0L, 0L),
      (4L, 1L, 83333333L, 83333333L),
      (5L, 0L, 0L, 0L)))
    // M=0 model (every count >= 3): seen bigram scores ML; unseen
    // bigram with a KNOWN context gets ZERO interpolation mass
    val deg = Seq(("a", "b", 3L), ("a", "c", 6L)).toDF("w1", "w2", "n")
    val got2 = NgramLm.scoreDocs(
        Seq((1L, "a b"), (2L, "a z")).toDF("doc_id", "text"),
        "doc_id", "text", Map(2 -> deg), 2, NgramLm.Estimated, None)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(got2.toSeq == Seq((1L, 333333333L), (2L, 0L)))
  }

  test("knScoreDocsTrigramEstimatedD: the two-level cascade at the " +
      "estimated discounts by hand; sub-3-token docs keep zero rows") {
    val train = Seq("a b c a b d", "x b c").toDF("text")
    // t1=5 t2=0 M3=5; cc1=3 cc2=1 M2=5; B=4, pc=250000000
    // model p2: (b,c)=566666666 (c,a)=(a,b)=550000000 (b,d)=233333333
    // seen p3: (a,b,*) = p2 (top term zero at n=1, M3=5 -> n*M3=t1)
    val model = Map(3 -> NgramLm.ngrams(train, "text", 3, None))
    val docs = Seq(
      (1L, "a b c"),   // seen trigram: p3 = p2(b,c) = 566666666
      (2L, "a b b"),   // ctx seen, tri unseen: λ3 = t1*t12/(c12*M3)
                       // = 1 -> p2(b,b) middle-backoff:
                       // (3*2*250000000)//15 = 100000000
      (3L, "z b c"),   // ctx unseen -> p2(b,c) = 566666666
      (4L, "z z c"),   // w2 unseen, w3 known: pc = 250000000
      (5L, "z z q"),   // w3 unknown: 0
      (6L, "a b"),     // < 3 tokens: zero row via the spine
      (7L, "a b c a")  // 566666666 + p3(b,c,a)=p2(c,a)=550000000
    ).toDF("doc_id", "text")
    val got = NgramLm.scoreDocs(docs, "doc_id", "text", model, 3,
        NgramLm.Estimated, None)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 1L, 566666666L, 566666666L),
      (2L, 1L, 100000000L, 100000000L),
      (3L, 1L, 566666666L, 566666666L),
      (4L, 1L, 250000000L, 250000000L),
      (5L, 1L, 0L, 0L),
      (6L, 0L, 0L, 0L),
      (7L, 2L, 1116666666L, 558333333L)))
  }

  test("knScoreDocsModified: every back-off branch at the three " +
      "count-indexed discounts by hand; M=0 degenerate scores ML " +
      "seen and zero backoff mass") {
    val train = Seq("the cat sat", "the cat ran").toDF("text")
    // counts: (the,cat,2) (cat,sat,1) (cat,ran,1); n1=2 n2=1 n3=n4=0
    // M=4 -> d1=5e8; d2=(2*1*4-0)*1e9//(1*4)=2e9 (the degenerate
    // full-discount D2 at n3=0); d3=d1 fallback. B=3, all pre=1.
    // gam(the)=d2*1=2e9 (k2=1); gam(cat)=d1*2=1e9 (k1=2).
    // p(cat|the): n=2 -> dsel=d2: ((2e9-2e9)*3 + 2e9*1)//(2*3)
    //   = 333333333 (pure discount mass — the clip branch live)
    // p(sat|cat)=p(ran|cat): ((1e9-5e8)*3 + 1e9*1)//(2*3) = 416666666
    val counts = NgramLm.ngrams(train, "text", 2, None)
    val docs = Seq(
      (1L, "the cat sat"), // seen+seen: 333333333+416666666
      (2L, "dog cat"),     // w1 unseen, w2 known: 1e9//3 = 333333333
      (3L, "the zzz"),     // w2 unknown: 0
      (4L, "the ran"),     // backoff: (gam(the)*pre)//(c1*B)
                           // = 2e9//6 = 333333333
      (5L, "solo")         // < 2 tokens: zero row via the spine
    ).toDF("doc_id", "text")
    val got = NgramLm.scoreDocs(docs, "doc_id", "text", Map(2 -> counts),
        2, NgramLm.Modified, None)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 749999999L, 374999999L),
      (2L, 1L, 333333333L, 333333333L),
      (3L, 1L, 0L, 0L),
      (4L, 1L, 333333333L, 333333333L),
      (5L, 0L, 0L, 0L)))
    // M=0 model (every count >= 3): all three discounts are 0, so a
    // seen bigram scores ML and unseen-with-known-context gets ZERO
    val deg = Seq(("a", "b", 3L), ("a", "c", 6L)).toDF("w1", "w2", "n")
    val got2 = NgramLm.scoreDocs(
        Seq((1L, "a b"), (2L, "a z")).toDF("doc_id", "text"),
        "doc_id", "text", Map(2 -> deg), 2, NgramLm.Modified, None)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(got2.toSeq == Seq((1L, 333333333L), (2L, 0L)))
  }

  test("knScoreDocsTrigramModified: the two-level cascade at each " +
      "level's three discounts by hand; sub-3-token docs keep zero " +
      "rows") {
    val train = Seq("a b c a b d", "x b c").toDF("text")
    // tri all n=1: t1=5 t2..t4=0 -> M3=5, d31=d32=d33=1e9
    // cont pre23: (b,c)=2 (c,a)=(a,b)=(b,d)=1 -> B=4, cc1=3 cc2=1
    //   M2=5 -> d21=6e8; d22=(2*1*5-0)*1e9//5=2e9; d23=d21
    // gam2(b)=d21*1+d22*1=2.6e9 (l1=(b,d), l2=(b,c));
    //   gam2(a)=gam2(c)=6e8
    // gam3(a,b)=d31*2=2e9; others 1e9
    // p2(b,c): ((2e9-d22)*4 + 2.6e9*1)//(3*4) = 216666666
    // p2(c,a)=p2(a,b): ((1e9-6e8)*4 + 6e8*1)//(1*4) = 550000000
    // seen p3 all n=1 -> top term (1e9-d31)=0: p3 = gam3*p2//(c12*1e9)
    //   p3(a,b,c)=2e9*216666666//2e9 = 216666666
    //   p3(b,c,a)=550000000
    val model = Map(3 -> NgramLm.ngrams(train, "text", 3, None))
    val docs = Seq(
      (1L, "a b c"),   // seen trigram: 216666666
      (2L, "a b b"),   // ctx seen, tri unseen: (w2,w3)=(b,b) unseen,
                       // w2=b/w3=b known -> p2=(2.6e9*1)//(3*4)
                       // = 216666666; then gam3(a,b)*p2//(2*1e9)
                       // = 216666666
      (3L, "z b c"),   // ctx unseen -> p2(b,c) = 216666666
      (4L, "z z c"),   // w2 unseen, w3 known: 1e9//4 = 250000000
      (5L, "z z q"),   // w3 unknown: 0
      (6L, "a b"),     // < 3 tokens: zero row via the spine
      (7L, "a b c a")  // 216666666 + p3(b,c,a)=550000000
    ).toDF("doc_id", "text")
    val got = NgramLm.scoreDocs(docs, "doc_id", "text", model, 3,
        NgramLm.Modified, None)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 1L, 216666666L, 216666666L),
      (2L, 1L, 216666666L, 216666666L),
      (3L, 1L, 216666666L, 216666666L),
      (4L, 1L, 250000000L, 250000000L),
      (5L, 1L, 0L, 0L),
      (6L, 0L, 0L, 0L),
      (7L, 2L, 766666666L, 383333333L)))
  }

  test("knVocabTopK + knCountsWithUnk + knScoreDocsUnk: rank-based " +
      "vocabulary truncation by hand; OOV serve-time words score " +
      "real <unk> mass, never zero") {
    val train = Seq("the cat sat", "the cat ran").toDF("text")
    // unigrams: the=2 cat=2 sat=1 ran=1; top-3 by (n desc, word asc)
    // = {cat, the, ran}; sat -> <unk>
    val vocab = NgramLm.vocabTopK(train, "text", 3)
    assert(vocab.orderBy("word").as[String].collect().toSeq ==
      Seq("cat", "ran", "the"))
    // raw counts (the,cat,2)(cat,sat,1)(cat,ran,1) fold to
    // (the,cat,2)(cat,<unk>,1)(cat,ran,1) — model-sized re-agg
    val counts = NgramLm.ngrams(train, "text", 2, None)
    val folded = NgramLm.withUnk(counts, 2, vocab)
      .orderBy("w1", "w2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(folded.toSeq == Seq(
      ("cat", "<unk>", 1L), ("cat", "ran", 1L), ("the", "cat", 2L)))
    // pinned-D model over the folded table: b=3;
    // p(cat|the) = 1e9*((4*2-3)*3 + 3*1*1)//(4*2*3) = 750000000
    // p(<unk>|cat) = p(ran|cat) = 1e9*(3 + 3*2*1)//24 = 375000000
    val docs = Seq(
      (1L, "the cat sat"),   // seen + (cat,sat)->(cat,<unk>) seen:
                             // 750000000 + 375000000
      (2L, "the cat zebra"), // OOV zebra -> <unk>: SAME mass as doc 1
                             // (the open-vocab point: no zero)
      (3L, "zebra cat"),     // ctx <unk> unseen -> unigram fallback:
                             // 1e9*pre(cat)//3 = 333333333
      (4L, "the ran"),       // unseen bigram, both known: backoff
                             // 1e9*3*post(the)*pre(ran)//(4*2*3)
                             // = 125000000
      (5L, "solo")           // < 2 tokens: zero row via the spine
    ).toDF("doc_id", "text")
    val got = NgramLm.scoreDocs(docs, "doc_id", "text", Map(2 -> counts),
        2, NgramLm.Fixed, Some(vocab))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 1125000000L, 562500000L),
      (2L, 2L, 1125000000L, 562500000L),
      (3L, 1L, 333333333L, 333333333L),
      (4L, 1L, 125000000L, 125000000L),
      (5L, 0L, 0L, 0L)))
  }

  test("knScoreDocsUnkModified: the composed open-vocab mKN serve " +
      "by hand — the fold shifts the count-of-counts and the " +
      "discounts follow; OOV words score real mass") {
    val train = Seq("the cat sat", "the cat ran").toDF("text")
    // vocab top-3 = {cat, the, ran}; folded counts
    // (the,cat,2)(cat,<unk>,1)(cat,ran,1) -> n1=2 n2=1 n3=n4=0, M=4:
    // d1=5e8, d2=(2*1*4)*1e9//(1*4)=2e9 (clip-degenerate), d3=d1.
    // B=3; gam(the)=d2=2e9 (k2=1); gam(cat)=2*d1=1e9 (k1=2).
    // p(cat|the): n=2 -> d2: ((2e9-2e9)*3 + 2e9*1)//(2*3) = 333333333
    // p(<unk>|cat) = p(ran|cat): ((1e9-5e8)*3 + 1e9*1)//6 = 416666666
    val vocab = NgramLm.vocabTopK(train, "text", 3)
    val counts = NgramLm.ngrams(train, "text", 2, None)
    val docs = Seq(
      (1L, "the cat sat"),   // 333333333 + (cat,<unk>) 416666666
      (2L, "the cat zebra"), // OOV zebra -> <unk>: SAME as doc 1
      (3L, "zebra cat"),     // ctx <unk> unseen -> unigram fallback
                             // pre(cat)*1e9//3 = 333333333
      (4L, "the ran"),       // unseen pair: gam(the)*pre(ran)//(2*3)
                             // = 333333333
      (5L, "solo")           // < 2 tokens: zero row via the spine
    ).toDF("doc_id", "text")
    val got = NgramLm.scoreDocs(docs, "doc_id", "text", Map(2 -> counts),
        2, NgramLm.Modified, Some(vocab))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 749999999L, 374999999L),
      (2L, 2L, 749999999L, 374999999L),
      (3L, 1L, 333333333L, 333333333L),
      (4L, 1L, 333333333L, 333333333L),
      (5L, 0L, 0L, 0L)))
  }

  test("stupidBackoffScoreDocs: the Brants alpha=2/5 cascade by " +
      "hand over true per-order counts; unknown w3 zero; short docs " +
      "keep zero rows") {
    val train = Seq("a b c a b d", "x b c").toDF("text")
    // uni: a=2 b=3 c=2 d=1 x=1, N=9; bi: (a,b)2 (b,c)2 (c,a)1 (b,d)1
    // (x,b)1; tri all 1
    val uni = NgramLm.ngrams(train, "text", 1, None)
    val bi = NgramLm.ngrams(train, "text", 2, None)
    val tri = NgramLm.ngrams(train, "text", 3, None)
    assert(uni.agg(sum("n")).head().getLong(0) == 9L)
    val docs = Seq(
      (1L, "a b c"),   // seen tri: c123/c12 = 1e9//2 = 500000000
      (2L, "a b b"),   // (b,b) unseen, b known:
                       // 4*c3*1e9//(25*N) = 12e9//225 = 53333333
      (3L, "z b c"),   // (b,c) seen: 2*2*1e9//(5*3) = 266666666
      (4L, "z z q"),   // w3 unknown: 0
      (5L, "a b"),     // < 3 tokens: zero row via the spine
      (6L, "a b c a")  // 500000000 + (b,c,a): 1e9//c12(b,c)=2
                       // = 500000000
    ).toDF("doc_id", "text")
    val got = NgramLm.scoreDocs(docs, "doc_id", "text",
        Map(1 -> uni, 2 -> bi, 3 -> tri), 3, NgramLm.StupidBackoff, None)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 1L, 500000000L, 500000000L),
      (2L, 1L, 53333333L, 53333333L),
      (3L, 1L, 266666666L, 266666666L),
      (4L, 1L, 0L, 0L),
      (5L, 0L, 0L, 0L),
      (6L, 2L, 1000000000L, 500000000L)))
  }

  test("wittenBellProbabilities + wittenBellScoreDocs: the " +
      "single-fraction WB estimate by hand (lambda = c1/(c1+T1) " +
      "against the UNIGRAM MLE); every cascade branch") {
    val train = Seq("the cat sat", "the cat ran").toDF("text")
    // uni: the=2 cat=2 sat=1 ran=1, N=6
    // bi: (the,cat)2 (cat,sat)1 (cat,ran)1
    // ctx: the c1=2 T1=1; cat c1=2 T1=2
    val uni = NgramLm.ngrams(train, "text", 1, None)
    val counts = NgramLm.ngrams(train, "text", 2, None)
    val model = NgramLm.probabilities(Map(1 -> uni, 2 -> counts), 2,
        NgramLm.WittenBell)
      .orderBy("w1", "w2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3)))
    // p(cat|the) = (2*6+1*2)*1e9//(3*6) = 777777777
    //   (= 2/3*ML + 1/3*uni = 2/3 + 1/3*(2/6) = 7/9 — sums to 1
    //   with the escape, the WB invariant)
    // p(sat|cat) = p(ran|cat) = (1*6+2*1)*1e9//(4*6) = 333333333
    assert(model.toSeq == Seq(
      ("cat", "ran", 333333333L), ("cat", "sat", 333333333L),
      ("the", "cat", 777777777L)))
    val docs = Seq(
      (1L, "the cat sat"), // 777777777 + 333333333
      (2L, "dog cat"),     // ctx unknown, cat known: 2e9//6
      (3L, "the zzz"),     // w2 unknown: 0
      (4L, "the ran"),     // escape: T1*c2*1e9//((c1+T1)*N)
                           // = 1e9//18 = 55555555
      (5L, "solo")         // < 2 tokens: zero row via the spine
    ).toDF("doc_id", "text")
    val got = NgramLm.scoreDocs(docs, "doc_id", "text",
        Map(1 -> uni, 2 -> counts), 2, NgramLm.WittenBell, None)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 1111111110L, 555555555L),
      (2L, 1L, 333333333L, 333333333L),
      (3L, 1L, 0L, 0L),
      (4L, 1L, 55555555L, 55555555L),
      (5L, 0L, 0L, 0L)))
  }

  test("knProbabilitiesModified: Chen-Goodman three discounts by " +
      "hand, count-indexed pick live on all buckets; empty-bucket " +
      "fallback, GREATEST clip and M=0 degenerate") {
    // counts: a->(p,1)(q,2)(r,3), b->(p,4)(q,1)
    // n1=2 n2=1 n3=1 n4=1 M=4: D1=1/2 D2=(8-6)/4=1/2 D3=(12-8)/4=1
    // ctx a: c1=6 k=(1,1,1) gamma=2e9; b: c1=5 k=(1,0,1) gamma=1.5e9
    // pre: p=2 q=2 r=1; B=5
    val counts = Seq(("a", "p", 1L), ("a", "q", 2L), ("a", "r", 3L),
      ("b", "p", 4L), ("b", "q", 1L)).toDF("w1", "w2", "n")
    val got = NgramLm.probabilities(Map(2 -> counts), 2, NgramLm.Modified)
      .orderBy("w1", "w2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq == Seq(
      ("a", "p", 1L, 500000000L, 500000000L, 1000000000L, 216666666L),
      ("a", "q", 2L, 500000000L, 500000000L, 1000000000L, 383333333L),
      ("a", "r", 3L, 500000000L, 500000000L, 1000000000L, 400000000L),
      ("b", "p", 4L, 500000000L, 500000000L, 1000000000L, 720000000L),
      ("b", "q", 1L, 500000000L, 500000000L, 1000000000L, 220000000L)))
    // n2=0: D2 falls back to D1; n4=0 leaves D3 = 3n3M/(n3M) = 3
    val fb = NgramLm.probabilities(
        Map(2 -> Seq(("a", "p", 1L), ("a", "q", 3L)).toDF("w1", "w2", "n")),
        2, NgramLm.Modified)
      .orderBy("w2").collect()
      .map(r => (r.getString(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    // M=1, D1=1: gamma = 1e9+3e9*1 = 4e9, B=2, c1=4
    // p(a,p) = ((1e9-1e9)*2 + 4e9*1)//8 = 500000000 = p(a,q)
    assert(fb.toSeq == Seq(
      ("p", 1000000000L, 1000000000L, 3000000000L, 500000000L),
      ("q", 1000000000L, 1000000000L, 3000000000L, 500000000L)))
    // 2*n2*M < 3*n1*n3 clips D2 at 0 (n1=4 n2=1 n3=4 n4=0 M=6)
    val clip = NgramLm.probabilities(
        Map(2 -> Seq(("a", "p", 1L), ("a", "q", 1L), ("b", "p", 1L),
          ("b", "q", 1L), ("c", "p", 2L), ("c", "q", 3L),
          ("d", "p", 3L), ("d", "q", 3L), ("e", "p", 3L))
          .toDF("w1", "w2", "n")),
        2, NgramLm.Modified)
      .select("d1_e9", "d2_e9", "d3_e9").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(clip.toSeq == Seq((666666666L, 0L, 3000000000L)))
    // M=0: all discounts zero, pure ML
    val deg = NgramLm.probabilities(
        Map(2 -> Seq(("a", "b", 3L), ("a", "c", 6L)).toDF("w1", "w2", "n")),
        2, NgramLm.Modified)
      .orderBy("w2").collect()
      .map(r => (r.getString(1), r.getLong(3), r.getLong(6)))
    assert(deg.toSeq == Seq(
      ("b", 0L, 333333333L), ("c", 0L, 666666666L)))
  }

  test("knTrigramProbabilitiesModified: three discounts per LEVEL by " +
      "hand — top from t1..t4, continuation from cc1..cc4 indexed " +
      "by pre23, per-context gammas, two-stage floor") {
    // tri: (a,b,x,1)(a,b,y,2)(a,b,z,3)(c,b,x,4)(c,b,w,1)
    // top: t1=2 t2=1 t3=1 t4=1 M3=4 -> D31=1/2 D32=1/2 D33=1
    // cont: (b,x)=2 (b,y)=(b,z)=(b,w)=1 -> cc1=3 cc2=1 M2=5, B=4
    //   D21=3/5 D22=(10-0)/5=2 D23->fallback d21 (cc3=0)
    // mid b: nmid2=5 l=(3,1,0) gamma2=3.8e9
    // ctx (a,b): c12=6 k=(1,1,1) gamma3=2e9; (c,b): c12=5 gamma3=1.5e9
    val tri = Seq(("a", "b", "x", 1L), ("a", "b", "y", 2L),
      ("a", "b", "z", 3L), ("c", "b", "x", 4L), ("c", "b", "w", 1L))
      .toDF("w1", "w2", "w3", "n")
    val got = NgramLm.probabilities(Map(3 -> tri), 3, NgramLm.Modified)
      .orderBy("w1", "w2", "w3").collect()
      .map(r => (r.getString(0), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getLong(9), r.getLong(10), r.getLong(11)))
    // p2(b,x) = ((2e9-2e9)*4 + 3.8e9)//20 = 190000000
    // p2(b,y/z/w) = ((1e9-6e8)*4 + 3.8e9)//20 = 270000000
    // p3(a,b,x) = (5e17 + 2e9*1.9e8)//6e9 = 146666666
    // p3(a,b,y) = (1.5e18 + 2e9*2.7e8)//6e9 = 340000000
    // p3(a,b,z) = (2e18 + 5.4e17)//6e9 = 423333333
    // p3(c,b,w) = (5e17 + 1.5e9*2.7e8)//5e9 = 181000000
    // p3(c,b,x) = (3e18 + 1.5e9*1.9e8)//5e9 = 657000000
    assert(got.toSeq == Seq(
      ("a", "x", 1L, 500000000L, 500000000L, 1000000000L,
        600000000L, 2000000000L, 600000000L, 190000000L, 146666666L),
      ("a", "y", 2L, 500000000L, 500000000L, 1000000000L,
        600000000L, 2000000000L, 600000000L, 270000000L, 340000000L),
      ("a", "z", 3L, 500000000L, 500000000L, 1000000000L,
        600000000L, 2000000000L, 600000000L, 270000000L, 423333333L),
      ("c", "w", 1L, 500000000L, 500000000L, 1000000000L,
        600000000L, 2000000000L, 600000000L, 270000000L, 181000000L),
      ("c", "x", 4L, 500000000L, 500000000L, 1000000000L,
        600000000L, 2000000000L, 600000000L, 190000000L, 657000000L)))
  }

  test("oovRate: exact instance counts against the vocab, duplicate " +
      "vocab rows harmless, all-OOV group rates 1e9") {
    val vocab = Seq("the", "fox", "the").toDF("term") // dup collapses
    val df = Seq(
      ("a", "the fox the dog"),   // 4 tokens, 1 oov (dog)
      ("a", "cat"),               // 1 token, 1 oov
      ("b", "zz yy")).toDF("grp", "text")
    val got = TextAnalysis.oovRate(df, "grp", "text", vocab)
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(
      ("a", 5L, 2L, 400000000L),
      ("b", 2L, 2L, 1000000000L)))
  }

  test("tokenizerFertility: exact sums per group, ratios divide the " +
      "sums (not per-doc means)") {
    val df = Seq(
      ("en", "ab cd"),     // 2 words, 2 bpe tokens, 5 chars
      ("en", "a,b"),       // 1 word, 3 bpe tokens (a , b), 3 chars
      ("zh", "xy")).toDF("lang", "text")
    val got = TextAnalysis.tokenizerFertility(df, "lang", "text")
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(got.toSeq == Seq(
      ("en", 2L, 3L, 5L, 8L, 5.0 / 3.0, 8.0 / 5.0),
      ("zh", 1L, 1L, 1L, 2L, 1.0, 2.0)))
  }

  test("distinctNgramRatio: repeats collapse on the distinct side only; " +
      "sub-n docs contribute zero instances and no fallback shingle") {
    val df = Seq(
      ("a", "x y x y x"),  // bigrams: xy yx xy yx -> 4 instances, 2 distinct
      ("a", "x y"),        // 1 instance of xy (already seen)
      ("a", "solo"),       // 1 token: no bigram, NO whole-doc fallback
      ("b", "q")).toDF("grp", "text")
    val got = TextAnalysis.distinctNgramRatio(df, "grp", "text", n = 2)
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("a", 5L, 2L, 0.4),
      ("b", 0L, 0L, 0.0)))
  }
}
