package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge lists (the companion of
  * [[Dedup.connectedComponents]]' label propagation): weighted PageRank
  * by power iteration — the centrality signal a curation pipeline reads
  * off link/citation/transition graphs (seed-page quality, crawl
  * prioritization; Page et al. 1999).
  */
object Graph {

  /** Weighted PageRank, `iters` rounds of power iteration:
    *
    * {{{ r'(v) = (1-d)/N + d * Σ_{u→v} r(u) · w(u→v) / wout(u) }}}
    *
    * Dangling vertices (no out-edges) simply leak their damped mass —
    * the common simplification; redistribute beforehand if the sum
    * must stay 1. Multi-edges are pre-summed per (src, dst).
    *
    * Scale shape: each round is ONE shuffle (contributions grouped by
    * target); ranks and the normalized edge list stay keyed the same
    * way round over round, and each round's result is materialized
    * through [[org.apache.spark.sql.graftshim.CheckpointShim]] so the
    * plan does not nest `iters` deep (the CC lesson: lineage, not
    * data, is what kills iterative jobs). Edges are cached once;
    * out-weight normalization is a second one-off shuffle.
    *
    * `exactFold = true` folds each target's contributions ascending by
    * source id — bit-reproducible across engines and partitionings
    * (the oracle mode, q140), at the price of materializing a
    * per-target contribution array (memory ∝ in-degree: fine for
    * type/category graphs, wrong for power-law web graphs). The
    * default float `sum` keeps partial aggregation — the 100 TB path —
    * and is exact-modulo-summation-order.
    *
    * For bit-exactness keep `weightCol` integral (LONG counts): the
    * out-weight sums stay exact and every division is one IEEE op.
    *
    * @return (id, rank) for every vertex appearing in any edge
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String] = None, damping: Double = 0.85,
      iters: Int = 10, exactFold: Boolean = false): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    require(damping >= 0.0 && damping <= 1.0, "damping must be in [0,1]")
    val w0 = weightCol.map(col).getOrElse(lit(1L))
    // e0 feeds BOTH the out-weight agg and the normalized join — a
    // lazy persist keeps the caller's edge plan from running twice
    val e0 = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .groupBy(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .agg(sum(w0).as("__w"))
      .persist()
    val out = e0.groupBy("__src").agg(sum(col("__w")).as("__wout"))
    val eNorm = e0.join(out, "__src")
      .select(col("__src"), col("__dst"),
        (col("__w").cast("double") / col("__wout").cast("double"))
          .as("__p"))
      .cache()
    val nodes = eNorm.select(col("__src").as("id"))
      .unionByName(eNorm.select(col("__dst").as("id")))
      .distinct().cache()
    val n = nodes.count()
    e0.unpersist() // eNorm + nodes are cache-populated by the count
    require(n > 0, "pageRank needs at least one non-null edge " +
      "(empty graph would make base/init ranks divide by zero)")
    val base = (1.0 - damping) / n.toDouble
    var ranks = nodes.select(col("id"),
      lit(1.0 / n.toDouble).as("rank"))
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    var i = 0
    while (i < iters) {
      val contrib = eNorm
        .join(ranks.select(col("id").as("__rid"), col("rank")),
          col("__src") === col("__rid"))
        .select(col("__dst"), col("__src"),
          (col("rank") * col("__p")).as("__c"))
      val sums =
        if (exactFold)
          contrib.groupBy("__dst").agg(
            aggregate(
              transform(
                sort_array(collect_list(
                  struct(col("__src").as("s"), col("__c").as("c")))),
                x => x("c")),
              lit(0.0), (acc, x) => acc + x).as("__s"))
        else
          contrib.groupBy("__dst").agg(sum(col("__c")).as("__s"))
      val next = nodes
        .join(sums, col("id") === col("__dst"), "left")
        .select(col("id"),
          (lit(base) + lit(damping) * coalesce(col("__s"), lit(0.0)))
            .as("rank"))
      val (mat, rdd) =
        org.apache.spark.sql.graftshim.CheckpointShim.materialize(next)
      prevRdd.foreach(_.unpersist())
      prevRdd = Some(rdd)
      ranks = mat
      i += 1
    }
    // after the loop the result is checkpoint-materialized (or, at
    // iters = 0, materialized here) — the working caches can be
    // RELEASED instead of leaking one pair per call
    val result =
      if (iters == 0)
        org.apache.spark.sql.graftshim.CheckpointShim.materialize(ranks)._1
      else ranks
    // (e0 was already released at the nodes.count() barrier above)
    eNorm.unpersist(); nodes.unpersist()
    result
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection over the undirected simple graph, `iters` rounds:
    * every vertex starts as its own label, and each round ALL vertices
    * simultaneously adopt the most frequent label among their
    * neighbors' previous-round labels, ties broken by the smallest
    * label. The synchronous + min-tie form is fully DETERMINISTIC
    * (async LPA's arrival-order sensitivity is what makes it
    * unreplayable), so the result is a pure function of (edges,
    * iters) — oracle-checkable round for round (q189). Classic use in
    * a curation stack: splitting over-merged LSH/near-dup components
    * that connected components can't (CC gives reachability, LPA
    * gives density structure).
    *
    * Scale shape: each round is ONE shuffle (neighbor labels grouped
    * by vertex, count-max folded via struct-min — map-side partial);
    * rounds materialize through CheckpointShim so the plan never
    * nests `iters` deep (the CC/pageRank lesson). Isolated vertices
    * don't exist here (vertex set = edge endpoints); a vertex keeps
    * its label only through its neighbors' votes, the standard sync
    * rule.
    *
    * @return (id, label) for every vertex appearing in any edge
    */
  def labelPropagation(edges: DataFrame, srcCol: String,
      dstCol: String, iters: Int = 5): DataFrame = {
    require(iters >= 1, "labelPropagation needs iters >= 1")
    // symmetrize in ONE scan (the connectedComponents device): the
    // union-of-flipped form evaluated the caller's edge plan — often
    // a whole near-dup join (q189) — once per branch
    val adj = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).cast("long").as("__su"),
        col(dstCol).cast("long").as("__sv"))
      .select(explode(array(
        struct(col("__su").as("u"), col("__sv").as("v")),
        struct(col("__sv").as("u"), col("__su").as("v")))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"))
      .filter(col("u") =!= col("v")) // self-loops vote for nobody
      .distinct() // simple graph: a multi-edge is one neighbor
      .cache()
    var labels = adj.select(col("u").as("id")).distinct()
      .withColumn("label", col("id"))
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    var i = 0
    while (i < iters) {
      val counted = adj
        .join(labels.select(col("id").as("v"), col("label")), "v")
        .groupBy(col("u").as("id"), col("label"))
        .agg(count(lit(1)).as("__c"))
      // (max count, min label) as one struct-min: (-count, label)
      val next = counted
        .groupBy("id")
        .agg(min(struct((-col("__c")).as("nc"), col("label"))).as("__w"))
        .select(col("id"), col("__w.label").as("label"))
      val (mat, rdd) =
        org.apache.spark.sql.graftshim.CheckpointShim.materialize(next)
      prevRdd.foreach(_.unpersist())
      prevRdd = Some(rdd)
      labels = mat
      i += 1
    }
    adj.unpersist()
    labels
  }

  /** Triangle enumeration by degree-ordered wedge closing (the
    * compact-forward algorithm): orient every undirected edge from its
    * (degree, id)-smaller endpoint to the larger, build wedges only
    * from each vertex's OUT-neighbors, and close them against the edge
    * set. The orientation is acyclic, so every triangle has exactly
    * one vertex with both triangle edges outgoing — each triangle is
    * emitted exactly once, and the wedge count is Σ outdeg(v)², which
    * degree-ordering provably caps at O(|E|^1.5) — a hub of degree
    * 10^6 contributes ~nothing because its edges all point INTO it.
    * The naive same-role self-join would square the hub instead (the
    * skew that kills triangle jobs on social graphs).
    *
    * Two shuffles (wedge build on the pivot, closing join on the
    * wedge pair) over canonical deduped edges.
    *
    * @return one row per triangle: (v1, v2, v3) sorted ascending
    */
  def triangles(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("__a"),
        greatest(col(srcCol), col(dstCol)).as("__b"))
      .distinct().cache()
    val deg = e.select(col("__a").as("__v"))
      .unionByName(e.select(col("__b").as("__v")))
      .groupBy("__v").agg(count(lit(1)).as("__d"))
    val oriented = e
      .join(deg.select(col("__v").as("__a"), col("__d").as("__da")), "__a")
      .join(deg.select(col("__v").as("__b"), col("__d").as("__db")), "__b")
      .select(
        when(col("__da") < col("__db") ||
            (col("__da") === col("__db") && col("__a") < col("__b")),
          struct(col("__a").as("u"), col("__b").as("w")))
          .otherwise(struct(col("__b").as("u"), col("__a").as("w")))
          .as("__e"))
      .select(col("__e.u").as("__u"), col("__e.w").as("__w"))
    val wedges = oriented.select(col("__u"), col("__w").as("__w1"))
      .join(oriented.select(col("__u"), col("__w").as("__w2")), "__u")
      .filter(col("__w1") < col("__w2"))
    wedges
      .join(e.select(least(col("__a"), col("__b")).as("__w1"),
        greatest(col("__a"), col("__b")).as("__w2")), Seq("__w1", "__w2"))
      .select(sort_array(array(col("__u"), col("__w1"), col("__w2")))
        .as("__t"))
      .select(col("__t")(0).as("v1"), col("__t")(1).as("v2"),
        col("__t")(2).as("v3"))
  }

  /** Unweighted single/multi-source shortest hop counts (BFS) over a
    * DIRECTED edge list (symmetrize for undirected graphs). Frontier
    * expansion: each round joins the newly-reached frontier (only!)
    * against the edges, anti-joins the already-settled set, and
    * checkpoints — one |frontier|-driven shuffle per round, never a
    * |V|² closure, with lineage cut per round (the [[pageRank]] /
    * CC discipline). Stops early when the frontier empties.
    *
    * @param sources frame with one column: the seed vertex ids (dist 0)
    * @return (id, dist) for every vertex reachable within `maxHops`
    */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val e = edges.filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("__u"), col(dstCol).as("__v")).distinct()
      .cache()
    val seed = sources.toDF("id").distinct()
      .select(col("id"), lit(0).as("dist"))
    var settled = seed
    var frontier = seed
    var prevRdds: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      val next = frontier
        .join(e, col("id") === col("__u"))
        .select(col("__v").as("id"), (col("dist") + 1).as("dist"))
        .groupBy("id").agg(min(col("dist")).as("dist"))
        .join(settled.select(col("id").as("__sid")),
          col("id") === col("__sid"), "left_anti")
      val (matF, rddF) =
        org.apache.spark.sql.graftshim.CheckpointShim.materialize(next)
      val (matS, rddS) = org.apache.spark.sql.graftshim.CheckpointShim
        .materialize(settled.unionByName(matF))
      prevRdds.foreach(_.unpersist())
      prevRdds = Seq(rddF, rddS)
      frontier = matF
      settled = matS
      hop += 1
    }
    e.unpersist() // settled is materialized (or the e-free seed)
    // the final frontier's checkpoint blocks back nothing we return
    prevRdds.headOption.foreach(_.unpersist())
    settled
  }

  /** Peeling rounds after which [[kCore]] gives up and throws. */
  private val MaxKCoreRounds = 100

  /** k-core decomposition by iterative peeling (Seidman 1983): the
    * maximal subgraph in which every vertex has degree ≥ k — the
    * graph-density filter of curation pipelines (a near-dup cluster's
    * k-core separates the quasi-clique heart from chain/bridge
    * attachments; on link graphs it drops low-engagement periphery
    * before PageRank). Undirected: edges symmetrize, self-loops and
    * half-null edges drop, and ids keep their NATIVE type (the CC
    * conventions — string/digest ids, the dedup family's key shape,
    * must not be coerced: a silent cast("long") would turn digest ids
    * into NULLs and return an empty core).
    *
    * Each round: one degree aggregation + two anti-joins removing
    * sub-k vertices' edges, checkpoint-materialized so lineage stays
    * flat ([[pageRank]]/CC discipline). Rounds = peeling DEPTH (how
    * many onion layers come off before the core stabilizes), not |V|;
    * the edge set only shrinks. Fails loudly if [[MaxKCoreRounds]]
    * rounds don't reach the fixpoint. Each round is a full Spark job,
    * so depth, not data, sets the cost: BENCH.md's 64-deep onion graph
    * (108k edges) took 65 rounds at ~0.29 s each.
    *
    * @return (id, degree) for every k-core vertex, degree measured
    *         INSIDE the core (so every returned degree ≥ k)
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // mixed-type endpoints would otherwise fail deep in the symmetrize
    // array(struct(..)) with an opaque common-type analysis error — or,
    // worse, silently coerce (the exact bug class the removed
    // cast("long") was): demand one id type up front (ADVICE r11)
    require(edges.schema(srcCol).dataType == edges.schema(dstCol).dataType,
      s"kCore endpoint columns must share one id type; got " +
        s"$srcCol: ${edges.schema(srcCol).dataType.simpleString} vs " +
        s"$dstCol: ${edges.schema(dstCol).dataType.simpleString} — " +
        "cast both sides to the graph's id type before calling")
    val sym0 = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(explode(array(
        struct(col(srcCol).as("__u"), col(dstCol).as("__v")),
        struct(col(dstCol).as("__u"), col(srcCol).as("__v")))).as("__e"))
      .select(col("__e.__u").as("__u"), col("__e.__v").as("__v"))
      .filter(col("__u") =!= col("__v"))
      .distinct()
    var (cur, curRdd) =
      org.apache.spark.sql.graftshim.CheckpointShim.materialize(sym0)
    var iter = 0
    var converged = false
    while (!converged && iter < MaxKCoreRounds) {
      // materialize the (small) sub-k set ONCE per round: it feeds the
      // convergence probe AND both anti-joins — left as a plan it would
      // re-run the degree aggregation up to three times per round
      val (bad, badRdd) =
        org.apache.spark.sql.graftshim.CheckpointShim.materialize(
          cur.groupBy("__u").agg(count(lit(1)).as("__d"))
            .filter(col("__d") < k).select(col("__u").as("__bad")))
      if (bad.isEmpty) { badRdd.unpersist(); converged = true }
      else {
        val next = cur
          .join(bad, cur("__u") === col("__bad"), "left_anti")
          .join(bad, col("__v") === col("__bad"), "left_anti")
        val (m, r) =
          org.apache.spark.sql.graftshim.CheckpointShim.materialize(next)
        badRdd.unpersist()
        curRdd.unpersist()
        cur = m
        curRdd = r
      }
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore did not reach the fixpoint in $MaxKCoreRounds peeling " +
          "rounds (rounds are the peeling depth, so this points at a " +
          "pathological onion graph)")
    // a partially-peeled edge set would over-report the core — only
    // the fixpoint leaves this method
    cur.groupBy(col("__u").as("id")).agg(count(lit(1)).as("degree"))
  }
}
