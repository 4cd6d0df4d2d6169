package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (BASELINE.json north star).
  *
  * [[bruteForceTopK]] is exact: broadcast the (small) query set against
  * the corpus, rank per query. One pass over the corpus, no corpus
  * shuffle; this is the correct plan whenever |queries| is
  * broadcastable, at any corpus size. The IVF, SQ8 and PQ families
  * below trade recall for scanning fewer or smaller vectors.
  */
object Similarity {

  /** Shared ranking tail: per-query cosine ranking with the canonical
    * (cos desc, n_id asc) tie-break, top-k. Every ANN path funnels
    * through this so k/tie-break semantics can never diverge. */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank")
  }


  /** Exact top-k: for every row of `queries`, the k nearest corpus rows by
    * cosine. Output: (q_id, n_id, rank), rank 1..k, self-matches excluded.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("__cv"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", cosineFast(col("__qv"), col("__cv")))
    rankTopK(scored, k)
  }

  /** SQ8 per-dimension training: [min, max] of every dimension over
    * the corpus — the scalar-quantization artifact (the third standard
    * ANN compression next to PQ/OPQ: one byte per DIMENSION instead of
    * one byte per SUBSPACE, 4× smaller vectors than float32 with far
    * less distortion than PQ at the same scan speed; what FAISS calls
    * SQ8 and most vector stores call int8 quantization). One
    * posexplode + (dim)-keyed agg with map-side partials — the shuffle
    * carries ≤ dims rows per task, never vectors. Output
    * (dim 0-based, mn, mx) — dims × 16 bytes, the persistable
    * artifact. */
  def sq8MinMax(corpus: DataFrame, vecCol: String): DataFrame =
    corpus.select(posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .groupBy("dim")
      .agg(min(col("__x").cast("double")).as("mn"),
        max(col("__x").cast("double")).as("mx"))

  /** SQ8 encode against a trained [[sq8MinMax]] artifact:
    * code = round((x − mn)·255/(mx − mn)) clamped to [0, 255]
    * (constant dimensions pin to 0). Map-only: the artifact rides as
    * two plan-literal arrays ([[MaxArtifactDims]] guard), one fused transform
    * per row — the corpus never shuffles. The arithmetic is one fixed
    * left-associated IEEE expression over exact float→double casts,
    * and both engines round positive halves away from zero, so codes
    * replay bit-for-bit in the oracle. */
  def sq8Encode(df: DataFrame, vecCol: String, minMax: DataFrame,
      out: String = "sq8_code"): DataFrame = {
    val mm = minMax.orderBy("dim").limit(MaxArtifactDims + 1).collect()
    require(mm.nonEmpty && mm.length <= MaxArtifactDims,
      s"sq8 artifact must have 1..$MaxArtifactDims dims (got ${mm.length})")
    require(mm.zipWithIndex.forall { case (r, i) => r.getInt(0) == i },
      "sq8 artifact dims must be contiguous from 0")
    val mnLit = array(mm.map(r => lit(r.getDouble(1))): _*)
    val mxLit = array(mm.map(r => lit(r.getDouble(2))): _*)
    // dimension mismatch must RAISE, not quietly emit codes: a vector
    // longer than the artifact reads element_at past the array end →
    // NULL codes → NULL sqdist, and ASC sorts NULLS FIRST, so the
    // corrupt pair would surface as the rank-1 neighbor silently.
    // (NULL vectors raise too: size(NULL) is NULL, and a CaseWhen
    // null condition falls to the otherwise branch — a null embedding
    // in an encode feed is the same corrupt-input class.)
    val checked = when(size(col(vecCol)) === lit(mm.length), col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"sq8Encode: vector dims != artifact dims ${mm.length} (got "),
        size(col(vecCol)).cast("string"), lit(")"))))
    df.withColumn(out, transform(checked, (x, i) => {
      val mn = element_at(mnLit, i + 1)
      val mx = element_at(mxLit, i + 1)
      when(mx === mn, lit(0)).otherwise(
        greatest(lit(0), least(lit(255),
          round((x.cast("double") - mn) * lit(255.0) / (mx - mn))
            .cast("int"))))
    }))
  }

  /** SQ8 symmetric top-k: queries and corpus both encoded with the
    * same artifact, ranked by the EXACT INTEGER quantized distance
    * Σ (cq_i − c_i)² (the symmetric form — all-integer, so the whole
    * verdict is hash-exact end to end, unlike ADC's float
    * reconstruction). Same plan skeleton as [[bruteForceTopK]]:
    * queries broadcast, one codegen fold per pair, rank-k window;
    * the scan reads byte codes, 4× less memory traffic than the
    * float corpus. */
  def sq8TopK(corpus: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val mm = sq8MinMax(corpus, vecCol)
    val codes = sq8Encode(corpus.select(col(idCol), col(vecCol)),
        vecCol, mm)
      .select(col(idCol), col("sq8_code"))
    sq8TopKOnCodes(codes, idCol, "sq8_code", queryPred, k)
  }

  /** The on-codes SQ8 serving path (the steady state: train + encode
    * run once at ingest, queries hit the SAVED byte-code table — the
    * pqTopKAdcOnCodes contract): symmetric integer top-k over a
    * pre-encoded (id, codes) frame. [[sq8TopK]] is this plus an
    * inline train+encode — the probe-measured difference IS the
    * one-time encode cost. */
  def sq8TopKOnCodes(codes: DataFrame, idCol: String, codeCol: String,
      queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val c = codes.select(col(idCol).as("n_id"), col(codeCol).as("__nc"))
    val q = codes.filter(queryPred).select(col(idCol).as("q_id"),
      col(codeCol).as("__qc"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      // per-pair squared deltas projected to a column BEFORE the fold
      // references it (the HOF multi-reference rule)
      .withColumn("__d", zip_with(col("__qc"), col("__nc"),
        (a, b) => ((a - b) * (a - b)).cast("long")))
      .withColumn("sqdist",
        aggregate(col("__d"), lit(0L), (acc, x) => acc + x))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sqdist").asc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sqdist")
  }

  /** IVF-SQ8 top-k — the int8 sibling of [[ivfPqTopK]], completing
    * the quantization matrix (IVF×{float, PQ, SQ8}): coarse cells
    * prune the candidate space, byte codes shrink what's scanned
    * inside each cell, and the within-cell ranking is the EXACT
    * INTEGER symmetric distance of [[sq8TopK]] — so unlike IVF-PQ's
    * float ADC, the whole verdict after cell assignment is
    * hash-exact. Corpus side is two map-only codegen passes (one cell
    * assign, one encode), no corpus shuffle; the candidate join is
    * cell-equality: each query searches its own cell. */
  def ivfSq8TopK(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, queryPred: org.apache.spark.sql.Column,
      k: Int): DataFrame = {
    val (cids, matrix) = collectCentroids(centroids)
    val coded = sq8Encode(
      assignWith(corpus.select(col(idCol), col(vecCol)), vecCol,
        cids, matrix),
      vecCol, sq8MinMax(corpus, vecCol))
    val n = coded.select(col(idCol).as("n_id"), col("cid"),
      col("sq8_code").as("__nc"))
    val q = coded.filter(queryPred).select(col(idCol).as("q_id"),
      col("cid"), col("sq8_code").as("__qc"))
    val scored = n.join(q, Seq("cid"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("__d", zip_with(col("__qc"), col("__nc"),
        (a, b) => ((a - b) * (a - b)).cast("long")))
      .withColumn("sqdist",
        aggregate(col("__d"), lit(0L), (acc, x) => acc + x))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sqdist").asc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sqdist")
  }

  /** Per-dimension corpus standardization — the StandardScaler of
    * embedding feature prep: z_i = (x_i − μ_i)/σ_i with μ and σ
    * trained on the corpus in ONE bounded aggregation (posexplode →
    * per-dim exact 1e7-quantized integer sums, the [[trainCentroids]]
    * mean device extended with a second moment — the shuffle carries
    * ≤ dims rows per task, never vectors), then applied MAP-ONLY with
    * the artifact riding as two plan-literal arrays. σ is the
    * population form sqrt((n·Σq² − (Σq)²) / (n²·10¹⁴)) computed as ONE
    * fixed IEEE tree over the exact integer sums (the q113/q151
    * mirrored-sqrt device), so every emitted double replays
    * bit-for-bit in an engine that mirrors the same tree. Constant
    * dimensions (σ = 0) pin z to 0. Output: input plus `zvec` =
    * array<double> of z-scores. */
  def standardize(corpus: DataFrame, vecCol: String): DataFrame =
    standardizeApply(corpus, vecCol, standardizeStats(corpus, vecCol))

  /** Ceiling on the dims of an SQ8 or standardize artifact, which
    * rides in the plan as literal arrays. */
  private val MaxArtifactDims = 4096

  /** The TRAINING half of [[standardize]]: per-dim exact quantized
    * integer moments (dim, n, s, ss) — the ≤ dims-row persistable
    * artifact, trained once at ingest; the streaming twin applies it
    * to arriving vectors without ever seeing the corpus. */
  def standardizeStats(corpus: DataFrame, vecCol: String): DataFrame = {
    val q = floor(col("__x") * lit(1e7) + lit(0.5)).cast("decimal(38,0)")
    corpus
      .select(posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("dim", "__x")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum(q).as("s"), sum(q * q).as("ss"))
  }

  /** The APPLY half of [[standardize]]: map-only transform against
    * the collected artifact as two plan-literal arrays — works
    * identically on a batch frame or a micro-batch stream (no join,
    * no shuffle, no state; exactly-once per row). */
  def standardizeApply(df: DataFrame, vecCol: String,
      statsDf: DataFrame): DataFrame = {
    val stats = statsDf
      .select(col("dim").cast("int"), col("n").cast("long"),
        col("s").cast("decimal(38,0)"), col("ss").cast("decimal(38,0)"))
      .orderBy("dim").limit(MaxArtifactDims + 1).collect()
    require(stats.nonEmpty && stats.length <= MaxArtifactDims,
      s"standardize artifact must have 1..$MaxArtifactDims dims (got ${stats.length})")
    require(stats.zipWithIndex.forall { case (r, i) => r.getInt(0) == i },
      "standardize artifact dims must be contiguous from 0")
    // the SAME IEEE expressions the oracle mirrors: one division for
    // the mean, one fixed tree + sqrt for sigma — all inputs exact
    // integers (sums convert identically from DECIMAL/HUGEINT)
    val mu = stats.map { r =>
      r.getDecimal(2).doubleValue() / (r.getLong(1) * 1e7)
    }
    val sd = stats.map { r =>
      val n = r.getLong(1).toDouble
      math.sqrt((n * r.getDecimal(3).doubleValue() -
        r.getDecimal(2).doubleValue() * r.getDecimal(2).doubleValue()) /
        (n * n * 1e14))
    }
    val muLit = array(mu.map(lit(_)): _*)
    val sdLit = array(sd.map(lit(_)): _*)
    val checked = when(size(col(vecCol)) === lit(stats.length), col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"standardize: vector dims != artifact dims ${stats.length} " +
          "(got "), size(col(vecCol)).cast("string"), lit(")"))))
    df.withColumn("zvec", transform(checked, (x, i) => {
      val s = element_at(sdLit, i + 1)
      when(s === 0.0, lit(0.0))
        .otherwise((x.cast("double") - element_at(muLit, i + 1)) / s)
    }))
  }

  /** Recall@k of an approximate ANN result against an exact one — the
    * eval harness every ANN variant (IVF/PQ/LSH/truncated-dim) is
    * judged by. Both inputs are (q_id, n_id[, rank]) frames; recall is
    * |approx ∩ truth| / |truth| per query, exact integer counts + ONE
    * IEEE division, so the metric itself is oracle-checkable. Queries
    * with zero overlap keep a 0.0 row (left join from the truth's
    * query set — a dropped-row recall table silently overstates the
    * mean). One semi-join + one count agg; nothing corpus-sized. */
  def recallAtK(approx: DataFrame, truth: DataFrame): DataFrame = {
    val t = truth.select(col("q_id"), col("n_id"))
    val sizes = t.groupBy("q_id").agg(count(lit(1)).as("__k"))
    val hits = t.join(approx.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("__hit"))
    sizes.join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("__hit"), lit(0L)).as("n_hit"),
        col("__k").as("k_truth"),
        (coalesce(col("__hit"), lit(0L)).cast("double") /
          col("__k").cast("double")).as("recall"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998) — diversity-aware top-k, the standard answer to
    * near-duplicate search results (RAG context packing, dedup'd
    * retrieval): per query, greedily pick from a `shortlist`-deep
    * relevance shortlist the candidate maximizing
    * `mmr(d) = λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)`; the
    * first pick is pure relevance. Ties break (mmr desc, n_id asc).
    *
    * Scale shape: the corpus-sized work is the shortlist retrieval
    * ([[bruteForceTopK]] here — swap in any ANN path upstream); the
    * greedy loop is k DECLARATIVE stages over |queries|·shortlist
    * rows (broadcast-small by contract), each one anti-join + one
    * max-sim join + one rank-1 window. The candidate frame
    * MATERIALIZES once (Spark has no common-subplan dedup; k lazy
    * stages would re-run the corpus scan per stage — the
    * removeDuplicateSpans precedent).
    *
    * Cross-engine replay: keep `lambda` exactly representable (0.5,
    * 0.25 …) and mirror `λ·rel − (1−λ)·ms` as the same literal tree —
    * a pre-folded (1−λ) that isn't exact is the q140 damping-term
    * pitfall. Output (q_id, n_id, mmr_rank), rank 1..k. */
  def mmrRerank(corpus: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, k: Int, shortlist: Int,
      lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && shortlist >= k, "need shortlist >= k >= 1")
    val vecs = corpus.select(col(idCol).as("n_id"), col(vecCol).as("__nv"))
    val q = corpus.filter(queryPred)
      .select(col(idCol).as("q_id"), col(vecCol).as("__qv"))
    val cand = bruteForceTopK(corpus, corpus.filter(queryPred), idCol,
        vecCol, shortlist)
      .select("q_id", "n_id")
      .join(broadcast(q), Seq("q_id")).join(vecs, Seq("n_id"))
      .withColumn("rel", cosineFast(col("__qv"), col("__nv")))
      .select("q_id", "n_id", "rel", "__nv")
      .localCheckpoint(true)
    val w1 = Window.partitionBy(col("q_id"))
      .orderBy(col("rel").desc, col("n_id").asc)
    var all = cand.withColumn("__r", row_number().over(w1))
      .filter(col("__r") === 1).drop("__r")
      .withColumn("mmr_rank", lit(1))
    for (t <- 2 to k) {
      val selV = all.select(col("q_id"), col("__nv").as("__sv"))
      val remaining = cand.join(all.select("q_id", "n_id"),
        Seq("q_id", "n_id"), "left_anti")
      val maxSim = remaining.select("q_id", "n_id", "__nv")
        .join(selV, Seq("q_id"))
        .withColumn("__sim", cosineFast(col("__nv"), col("__sv")))
        .groupBy("q_id", "n_id").agg(max(col("__sim")).as("__ms"))
      val wm = Window.partitionBy(col("q_id"))
        .orderBy(col("__mmr").desc, col("n_id").asc)
      val next = remaining.join(maxSim, Seq("q_id", "n_id"))
        .withColumn("__mmr",
          lit(lambda) * col("rel") - lit(1.0 - lambda) * col("__ms"))
        .withColumn("__r", row_number().over(wm))
        .filter(col("__r") === 1)
        .select(col("q_id"), col("n_id"), col("rel"), col("__nv"),
          lit(t).as("mmr_rank"))
      // each stage references every prior stage (anti-join + max-sim):
      // left lazy, stage t re-executes the whole t−1 chain (no CSE) —
      // the plan grew to 51 exchanges at k = 3. The selected set is
      // |queries|·t rows, so materializing per stage is ~free and
      // keeps the plan linear in k.
      all = all.unionByName(next).localCheckpoint(true)
    }
    all.select("q_id", "n_id", "mmr_rank")
  }

  /** Hard-negative mining (the contrastive-training data op): for each
    * anchor, the top-k most-similar corpus vectors that are NOT known
    * positives — the negatives that actually move a contrastive loss
    * (random negatives are trivially separable; the hard ones live
    * just outside the positive set). `positives` holds (aCol, bCol)
    * pairs, treated as undirected: (anchor, n) is excluded when the
    * pair appears in either orientation. Self-matches are always
    * excluded.
    *
    * Plan shape = [[bruteForceTopK]] plus two broadcast anti-joins:
    * the corpus is scanned once and never shuffled (queries and the
    * positive set broadcast — positives are |anchors|·degree-sized,
    * broadcastable whenever the anchor set is); only scored candidate
    * triples enter the rank window. Swap the scan for an IVF/LSH
    * candidate stage at extreme scale — the exclusion semantics stay
    * the same. Envelope: anchors + positives must BROADCAST — fine for
    * query-time mining, not for a 10M-anchor epoch; that regime is
    * [[hardNegativesBatched]], which shards the anchor set and keeps
    * these semantics bit-for-bit. */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
      positives: DataFrame, aCol: String, bCol: String,
      queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("__cv"))
    val q = corpus.filter(queryPred)
      .select(col(idCol).as("q_id"), col(vecCol).as("__qv"))
    val pos = positives
      .select(col(aCol).as("__pa"), col(bCol).as("__pb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .join(broadcast(pos),
        col("q_id") === col("__pa") && col("n_id") === col("__pb"),
        "left_anti")
      .join(broadcast(pos),
        col("q_id") === col("__pb") && col("n_id") === col("__pa"),
        "left_anti")
      .withColumn("cos", cosineFast(col("__qv"), col("__cv")))
    rankTopK(scored, k)
  }

  /** [[hardNegatives]] for anchor sets too big to broadcast whole (a
    * 10M-anchor epoch): anchors hash-split into `nBatches` deterministic
    * batches, each batch running the exact single-batch plan — corpus
    * scan × broadcast(batch anchors), positives RESTRICTED to the
    * batch's anchors before broadcasting (two semi-joins against the
    * batch id set; duplicate build rows from an anchor matching both
    * orientations are harmless to an anti-join) — and the batches
    * union. Per-anchor results are identical to the unbatched call
    * (the rank window partitions by q_id and every q_id lives wholly
    * in one batch; spec-asserted 2-batch == 1-batch), so batching is
    * purely a memory knob: broadcast size drops ~nBatches× at the cost
    * of nBatches corpus scans. At extreme scale persist the corpus
    * once and swap the scan for an IVF/LSH candidate stage — the
    * batching and exclusion semantics are unchanged. */
  def hardNegativesBatched(corpus: DataFrame, idCol: String,
      vecCol: String, positives: DataFrame, aCol: String, bCol: String,
      queryPred: org.apache.spark.sql.Column, k: Int,
      nBatches: Int): DataFrame = {
    require(nBatches >= 1, "nBatches must be >= 1")
    val anchors = corpus.filter(queryPred)
    (0 until nBatches).map { b =>
      val batchPred = queryPred &&
        pmod(xxhash64(col(idCol)), lit(nBatches)) === b
      val aIds = anchors
        .filter(pmod(xxhash64(col(idCol)), lit(nBatches)) === b)
        .select(col(idCol).as("__aid"))
      val posB = positives
          .join(broadcast(aIds), col(aCol) === col("__aid"), "left_semi")
        .unionByName(positives
          .join(broadcast(aIds), col(bCol) === col("__aid"), "left_semi"))
      hardNegatives(corpus, idCol, vecCol, posB, aCol, bCol,
        batchPred, k)
    }.reduce(_ unionByName _)
  }

  /** IVF-style coarse quantization: assign every vector to its nearest
    * centroid (argmin L2 with centroid-id tiebreak). The cell id is the
    * ANN partition key — at corpus scale this is the standard
    * inverted-file layout: cluster once, write partitioned by cell, and
    * every query probes one (or nProbe) cells instead of the corpus.
    *
    * Map-only by construction: the centroid set (bounded — IVF uses
    * ~√corpus cells, a driver-sized table by definition) is collected
    * once, ordered by cid, and shipped as a single literal matrix into a
    * codegen'd argmin kernel ([[graft.functions.expressions.NearestCentroid]]).
    * The corpus is never joined, windowed, or shuffled — the round-2
    * formulation (crossJoin + Window argmin) shuffled corpus×|centroids|
    * rows and sorted per vector, which at 100 TB is the whole job.
    *
    * `centroids` must have numeric (cid, cvec) columns; cids are emitted
    * as LONG.
    */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val (cids, matrix) = collectCentroids(centroids)
    assignWith(corpus, vecCol, cids, matrix)
  }

  private def assignWith(corpus: DataFrame, vecCol: String,
      cids: Seq[Long], matrix: Seq[Seq[Double]]): DataFrame =
    corpus.withColumn("cid",
      element_at(typedLit(cids),
        nearestCentroid(col(vecCol), matrix) + lit(1)))

  /** Centroid table → (cids, matrix) ordered by cid; driver-sized by
    * the IVF contract (~√corpus cells). */
  private def collectCentroids(
      centroids: DataFrame): (Seq[Long], Seq[Seq[Double]]) = {
    val rows = centroids
      .select(col("cid").cast("long"), col("cvec").cast("array<double>"))
      .orderBy(col("cid").asc)
      .collect()
    // an empty matrix would make nearestCentroid emit NULL cids for the
    // whole corpus — downstream joins then silently drop everything
    require(rows.nonEmpty, "centroid table is empty; IVF needs >= 1 centroid")
    (rows.map(_.getLong(0)).toSeq, rows.map(_.getSeq[Double](1)).toSeq)
  }

  /** The `nProbe` nearest centroid cids for a vector, as an array column
    * over the same literal centroid matrix as [[ivfAssign]] — same L2
    * metric, same cid tiebreak (array_sort on (dist, cid) structs), so
    * probe 1 is always the vector's own cell. Higher-order builtins
    * (transform/zip_with/aggregate), interpreted not codegen'd — meant
    * for the QUERY side, which is small; the corpus keeps the codegen'd
    * single-cell assign. */
  private def probeCells(vec: org.apache.spark.sql.Column, cids: Seq[Long],
      matrix: Seq[Seq[Double]], nProbe: Int): org.apache.spark.sql.Column = {
    val cents = typedLit(cids.zip(matrix.map(_.toArray)))
    val scored = transform(cents, c => struct(
      aggregate(
        zip_with(c.getField("_2"), vec.cast("array<double>"),
          (a, b) => (a - b) * (a - b)),
        lit(0.0d), (acc, x) => acc + x).as("d"),
      c.getField("_1").as("cid")))
    transform(slice(array_sort(scored), 1, nProbe), s => s.getField("cid"))
  }

  /** The QUERY-side cell fan-out of [[ivfTopKProbed]] as a public
    * building block (the streaming serve path needs it against a
    * saved centroid artifact): each row gains an exploded `cid`
    * column with its nearest cell — same L2 metric and cid
    * tiebreak as [[ivfAssign]], so it reproduces the
    * corpus-side assignment exactly. Map-only: the centroid table
    * collects once (driver-sized by the IVF contract) and rides as a
    * plan literal; meant for the query side, which is small. */
  def probeAssign(queries: DataFrame, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val (cids, matrix) = collectCentroids(centroids)
    queries.withColumn("cid",
      explode(probeCells(col(vecCol), cids, matrix, 1)))
  }

  /** Multi-probe IVF top-k: the corpus stays single-cell (one map-only
    * codegen assign, exactly [[ivfAssign]]); each QUERY fans out to its
    * `nProbe` nearest cells — the standard IVF recall lever: candidates
    * grow ×nProbe while the corpus is never re-bucketed or re-shuffled,
    * so cell-boundary neighbors stop being missed. `nProbe = 1` is
    * [[ivfTopK]]. */
  def ivfTopKProbed(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, queryPred: org.apache.spark.sql.Column,
      k: Int, nProbe: Int): DataFrame = {
    require(nProbe >= 1, "nProbe must be >= 1")
    val (cids, matrix) = collectCentroids(centroids)
    val assigned = assignWith(corpus, vecCol, cids, matrix)
    val q = assigned.filter(queryPred)
      .select(col(idCol).as("q_id"), col(vecCol).as("__qv"),
        explode(probeCells(col(vecCol), cids, matrix, nProbe)).as("cid"))
    val scored = assigned
      .select(col(idCol).as("n_id"), col(vecCol).as("__cv"), col("cid"))
      .join(q, Seq("cid"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", cosineFast(col("__qv"), col("__cv")))
    rankTopK(scored, k)
  }

  /** Single-probe IVF top-k: queries search only their own cell.
    * `centroids` must have columns (cid, cvec). */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, queryPred: org.apache.spark.sql.Column,
      k: Int): DataFrame = {
    val assigned = ivfAssign(corpus, idCol, vecCol, centroids)
    val q = assigned.filter(queryPred)
      .select(col(idCol).as("q_id"), col(vecCol).as("__qv"), col("cid"))
    val scored = assigned
      .select(col(idCol).as("n_id"), col(vecCol).as("__cv"), col("cid"))
      .join(q, Seq("cid"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", cosineFast(col("__qv"), col("__cv")))
    rankTopK(scored, k)
  }

  /** Deterministic distributed k-means (Lloyd) bootstrapping the IVF
    * centroid table from the corpus itself — closes the IVF loop
    * (callers previously had to supply centroids).
    *
    *  - init: farthest-point traversal over a deterministic hash
    *    sample — ONE corpus pass collects the 4096 vectors
    *    whose ids md5-hash smallest (TakeOrdered: no full sort
    *    materializes), then the driver greedily picks the sample
    *    vector farthest from the chosen set, k times. No RNG anywhere;
    *    unlike naive uniform seeding this cannot put two seeds in one
    *    tight cluster while missing another (the k-means++ failure
    *    Lloyd can't undo);
    *  - each iteration: assign every vector with the map-only codegen'd
    *    kernel ([[ivfAssign]] — the corpus never shuffles for
    *    assignment), then recompute cell means per dimension with ONE
    *    bounded aggregation (posexplode → groupBy(cid, pos), ≤ k·dims
    *    output rows, driver-sized by the IVF contract). Quantized
    *    integer sums keep the means bit-deterministic under any
    *    partial-aggregation order;
    *  - cells that lose every member keep their previous centroid.
    *
    * Per iteration the cluster does one corpus scan + one k·dims-row
    * shuffle — the 100 TB-safe Lloyd shape. Returns (cid, cvec), cids
    * 0..k-1 in init-hash order, ready for [[ivfAssign]]/[[ivfTopK]]/
    * [[ivfTopKProbed]]. */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3): DataFrame = {
    require(k >= 1 && iters >= 0, "need k >= 1 and iters >= 0")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample: Array[Seq[Double]] = corpus
      .select(col(vecCol).cast("array<double>").as("cvec"),
        md5(concat(lit("kmeans#"), col(idCol).cast("string"))).as("__h"))
      .orderBy("__h").limit(math.max(k, 4096))
      .collect().map(_.getSeq[Double](0))
    require(sample.length >= k,
      s"corpus has ${sample.length} vectors, cannot seed k=$k centroids; " +
        "note: if the sample holds < k DISTINCT vectors, farthest-point " +
        "seeding repeats a duplicate and its cell stays empty")
    val chosen = farthestPointSeeds(sample, k)
    var cents: Seq[(Long, Seq[Double])] =
      chosen.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    for (_ <- 1 to iters) {
      // DECIMAL(38,0) partial sums: a LONG sum of 1e7-quantized values
      // wraps silently past ~9e18 (a billion-member cell of 1e3-scale
      // components), corrupting the centroid with no error
      val means = assignWith(corpus, vecCol,
          cents.map(_._1), cents.map(_._2))
        .select(col("cid"), posexplode(col(vecCol).cast("array<double>")))
        .groupBy("cid", "pos")
        .agg((sum(floor(col("col") * lit(1e7) + lit(0.5))
            .cast("decimal(38,0)")).cast("double") /
          (count(lit(1)) * lit(1e7))).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    cents.toDF("cid", "cvec")
  }

  /** Product quantization (Jégou, Douze, Schmid, TPAMI 2011): split the
    * embedding into `m` contiguous subspaces, quantize each subvector
    * against its own `ksub`-codeword codebook, and search with
    * asymmetric distance (ADC) — per query, one m×ksub lookup table of
    * exact subvector-to-codeword distances; per corpus row, m table
    * lookups. The corpus scan touches an m-byte CODE instead of the
    * full vector: at m=8, ksub=256 over 64 float dims that is 8 bytes
    * vs 256 — a 32× memory/IO compression, which is what makes
    * billion-vector ANN storable at all.
    *
    * Codebook contract mirrors IVF: `codebooks` has (sub, cid, cvec)
    * rows, driver-sized (m × ksub × subdim doubles), collected once and
    * shipped as literals into codegen kernels; the corpus is never
    * joined or shuffled for encode or scoring. */
  private def collectCodebooks(
      codebooks: DataFrame): Seq[(Seq[Long], Seq[Seq[Double]])] = {
    val rows = codebooks
      .select(col("sub").cast("int"), col("cid").cast("long"),
        col("cvec").cast("array<double>"))
      .orderBy(col("sub").asc, col("cid").asc)
      .collect()
    require(rows.nonEmpty, "PQ codebook table is empty")
    val bySub = rows.groupBy(_.getInt(0))
    val subs = bySub.keys.toSeq.sorted
    require(subs == (0 until subs.length),
      s"PQ codebooks must cover subspaces 0..m-1 contiguously, got $subs")
    subs.map { s =>
      val e = bySub(s).sortBy(_.getLong(1))
      (e.map(_.getLong(1)).toSeq, e.map(_.getSeq[Double](2)).toSeq)
    }
  }

  /** Per-subspace codeword-INDEX columns (the map-only encode kernel:
    * one codegen'd argmin per subspace over a literal codebook). */
  private def encodeIndexCols(vecCol: String,
      cbs: Seq[(Seq[Long], Seq[Seq[Double]])]): Seq[org.apache.spark.sql.Column] = {
    val subdim = cbs.head._2.head.length
    cbs.zipWithIndex.map { case ((_, matrix), s) =>
      require(matrix.forall(_.length == subdim),
        s"subspace $s codewords disagree on dimensionality")
      nearestCentroid(
        slice(col(vecCol).cast("array<double>"), s * subdim + 1, subdim),
        matrix)
    }
  }

  /** PQ-encode the corpus: adds `pq_code`, the array of per-subspace
    * codeword cids (cid order within a subspace defines the index the
    * ADC kernel uses). Map-only — no join, no shuffle, same plan shape
    * as [[ivfAssign]]. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame): DataFrame = {
    val cbs = collectCodebooks(codebooks)
    val codes = encodeIndexCols(vecCol, cbs).zip(cbs).map {
      case (idx, (cids, _)) => element_at(typedLit(cids), idx + lit(1))
    }
    corpus.withColumn("pq_code", array(codes: _*))
  }

  /** ADC top-k: every corpus row is scored against each query with m
    * table lookups over its PQ code ([[graft.functions.expressions.PqAdcDistance]]);
    * the query set (with its per-query LUTs) broadcasts, so the corpus
    * is scanned once, never shuffled, and never touches full vectors.
    * Output (q_id, n_id, rank), rank by approximate distance ASC with
    * the canonical n_id tiebreak; self-matches excluded. Approximate by
    * construction — recall depends on codebook quality (see
    * [[pqTrain]] and the BENCH.md curve). */
  def pqTopKAdc(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, queryPred: org.apache.spark.sql.Column,
      k: Int): DataFrame = {
    val cbs = collectCodebooks(codebooks)
    // corpus side: index codes (NOT cids — the LUT is index-addressed)
    val enc = corpus.withColumn("__code",
      array(encodeIndexCols(vecCol, cbs).map(_.cast("long")): _*))
    // query side: LUT[s][j] = ||q_sub(s) - codeword_j(s)||², computed
    // once per query row (interpreted HOFs are fine on the small side)
    val q = enc.filter(queryPred)
      .select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__lut", lutFor(cbs))
      .select("q_id", "__lut")
    scoreAdcRanked(enc.select(col(idCol).as("n_id"), col("__code")),
      q, k, joinOnCell = false)
  }

  /** Per-query squared-L2 LUT column over `__qv`: LUT[s][j] =
    * ||q_sub(s) − codeword_j(s)||², the ADC kernel's input. Interpreted
    * HOFs are fine — this evaluates once per QUERY row. */
  private def lutFor(cbs: Seq[(Seq[Long], Seq[Seq[Double]])],
      qv: org.apache.spark.sql.Column = col("__qv"))
      : org.apache.spark.sql.Column = {
    val subdim = cbs.head._2.head.length
    array(cbs.zipWithIndex.map { case ((_, matrix), s) =>
      transform(typedLit(matrix),
        cw => aggregate(
          zip_with(slice(qv, s * subdim + 1, subdim), cw,
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))
    }: _*)
  }

  /** The on-codes contract shared by [[pqTopKAdcOnCodes]] /
    * [[ivfPqTopKOnCodes]]: stored codes are cid arrays ([[pqEncode]]),
    * the ADC LUT is INDEX-addressed — they only coincide when every
    * subspace's cids are canonical 0..ksub−1, which [[pqTrain]]
    * guarantees. A foreign codebook with gappy cids must be re-labeled
    * first or every lookup silently reads the wrong codeword. */
  private def requireCanonicalCids(
      cbs: Seq[(Seq[Long], Seq[Seq[Double]])]): Unit =
    cbs.zipWithIndex.foreach { case ((cids, _), s) =>
      require(cids == (0L until cids.length.toLong),
        s"subspace $s cids are not canonical 0..${cids.length - 1} " +
          s"(got ${cids.take(8).mkString(",")}…): stored pq_code values " +
          "would not be LUT indexes — re-label the codebook first")
    }

  /** ADC top-k over a PRE-ENCODED corpus — the steady-state serving
    * path: [[pqTrain]] + [[pqEncode]] run ONCE at ingest and persist
    * (codebooks + an (id, pq_code) table); queries then scan m-byte
    * codes with per-query LUT lookups and never touch raw vectors or
    * re-run the encode argmin. At 100 TB that is the whole point of PQ:
    * the query-time scan reads ~m bytes/row instead of 4·dim, and the
    * encode kernel (m × ksub × subdim multiply-adds per row) is paid
    * once, not per query. Same output contract as [[pqTopKAdc]]
    * ((q_id, n_id, rank), rank by approximate distance ASC, n_id
    * tiebreak, self-matches excluded, null distances dropped). */
  def pqTopKAdcOnCodes(encoded: DataFrame, idCol: String, codeCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      codebooks: DataFrame, k: Int): DataFrame = {
    val cbs = collectCodebooks(codebooks)
    requireCanonicalCids(cbs)
    val q = queries
      .select(col(qIdCol).as("q_id"),
        col(qVecCol).cast("array<double>").as("__qv"))
      .withColumn("__lut", lutFor(cbs))
      .select("q_id", "__lut")
    scoreAdcRanked(encoded
      .select(col(idCol).as("n_id"),
        col(codeCol).cast("array<long>").as("__code")),
      q, k, joinOnCell = false)
  }

  /** IVF-PQ top-k over a PRE-ENCODED corpus: the serving twin of
    * [[ivfPqTopK]] — the (id, cell, pq_code) layout ([[ivfAssign]] +
    * [[pqEncode]], both run once at ingest) is probed with loaded
    * centroid/codebook artifacts; only the probed cells' m-byte codes
    * are scored. Store the table partitioned/clustered by the cell
    * column and the cell equi-join prunes at the file level too. */
  def ivfPqTopKOnCodes(encoded: DataFrame, idCol: String,
      cellCol: String, codeCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      centroids: DataFrame, codebooks: DataFrame, k: Int): DataFrame = {
    val (cids, matrix) = collectCentroids(centroids)
    val cbs = collectCodebooks(codebooks)
    requireCanonicalCids(cbs)
    val q = queries
      .select(col(qIdCol).as("q_id"),
        col(qVecCol).cast("array<double>").as("__qv"))
      .withColumn("__lut", lutFor(cbs)) // BEFORE the probe explode
      .withColumn("cid",
        explode(probeCells(col("__qv"), cids, matrix, 1)))
      .select("q_id", "cid", "__lut")
    scoreAdcRanked(encoded
      .select(col(idCol).as("n_id"), col(cellCol).as("cid"),
        col(codeCol).cast("array<long>").as("__code")),
      q, k)
  }

  /** IVF-PQ — the billion-scale ANN layout (FAISS IVFPQ): the corpus
    * is coarse-quantized into IVF cells AND stored as m-byte PQ codes;
    * a query probes its nearest cell and ADC-scores ONLY
    * that cell's codes. Both reductions compose: the cell probe cuts
    * the candidate set to 1/cells of the corpus, the codes cut
    * bytes-per-candidate ~16-32×. Everything on the corpus side is the
    * same two map-only codegen kernels as [[ivfAssign]]/[[pqEncode]];
    * the query side (probe list + LUT) broadcasts — the corpus never
    * shuffles. */
  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, codebooks: DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val (cids, matrix) = collectCentroids(centroids)
    val cbs = collectCodebooks(codebooks)
    val enc = assignWith(corpus, vecCol, cids, matrix)
      .withColumn("__code",
        array(encodeIndexCols(vecCol, cbs).map(_.cast("long")): _*))
    val q = enc.filter(queryPred)
      .select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__lut", lutFor(cbs)) // BEFORE the probe explode
      .withColumn("cid", explode(probeCells(col("__qv"), cids, matrix, 1)))
      .select("q_id", "cid", "__lut")
    scoreAdcRanked(
      enc.select(col(idCol).as("n_id"), col("cid"), col("__code")),
      q, k)
  }

  /** One nearestCentroid kernel per row feeding BOTH the cell id and
    * the residual `v − centroid(cell)` — the shared corpus-side map of
    * the residual IVF-PQ family. Still map-only codegen; the matrix
    * rides as a plan literal. */
  private def withCellResidual(corpus: DataFrame, vecCol: String,
      cids: Seq[Long], matrix: Seq[Seq[Double]]): DataFrame =
    corpus
      .withColumn("__ci", nearestCentroid(col(vecCol), matrix))
      .withColumn("cid", element_at(typedLit(cids), col("__ci") + lit(1)))
      .withColumn("__rv", zip_with(col(vecCol).cast("array<double>"),
        element_at(typedLit(matrix.map(_.toSeq)), col("__ci") + lit(1)),
        (a, b) => a - b))
      .drop("__ci")

  /** [[probeCells]] also carrying each probed cell's MATRIX INDEX, so
    * the residual query side can subtract the right centroid without a
    * cid→row lookup join. Same metric, same (dist, cid) tiebreak. */
  private def probeCellsWithIdx(vec: org.apache.spark.sql.Column,
      cids: Seq[Long], matrix: Seq[Seq[Double]],
      nProbe: Int): org.apache.spark.sql.Column = {
    val cents = typedLit(cids.zipWithIndex.map {
      case (c, i) => (c, i, matrix(i))
    })
    val scored = transform(cents, c => struct(
      aggregate(
        zip_with(c.getField("_3"), vec.cast("array<double>"),
          (a, b) => (a - b) * (a - b)),
        lit(0.0d), (acc, x) => acc + x).as("d"),
      c.getField("_1").as("cid"),
      c.getField("_2").as("idx")))
    transform(slice(array_sort(scored), 1, nProbe),
      s => struct(s.getField("cid").as("cid"), s.getField("idx").as("idx")))
  }

  /** [[pqTrain]] on RESIDUALS `v − centroid(cell)` — the FAISS-standard
    * IVF-PQ composition: the coarse quantizer removes the cell mean, so
    * the codebooks spend their ksub codewords on the (much tighter)
    * within-cell distribution instead of re-describing cell positions.
    * Same determinism and sampling contract as [[pqTrain]]. Use with
    * [[ivfPqTopKResidual]] — raw-vector ADC against residual codebooks
    * is meaningless. */
  def pqTrainResidual(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, m: Int, ksub: Int, iters: Int = 3,
      sampleSize: Int = 4096): DataFrame = {
    val (cids, matrix) = collectCentroids(centroids)
    pqTrain(withCellResidual(corpus, vecCol, cids, matrix), idCol,
      "__rv", m, ksub, iters, sampleSize)
  }

  /** [[ivfPqTopK]] with RESIDUAL encoding: corpus codes quantize
    * `v − centroid(cell)`; each query recomputes its LUT per probed
    * cell on `q − centroid(cell)` (the residual contract makes the LUT
    * cell-dependent — m×ksub×subdim work per (query, probe), query
    * side only). Same output contract and the same corpus plan shape:
    * two map-only codegen kernels, probe list + LUTs broadcast, the
    * corpus never shuffles. */
  def ivfPqTopKResidual(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, codebooks: DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val (cids, matrix) = collectCentroids(centroids)
    val cbs = collectCodebooks(codebooks)
    val enc = withCellResidual(corpus, vecCol, cids, matrix)
      .withColumn("__code",
        array(encodeIndexCols("__rv", cbs).map(_.cast("long")): _*))
    val q = enc.filter(queryPred)
      .select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__p",
        explode(probeCellsWithIdx(col("__qv"), cids, matrix, 1)))
      .withColumn("__rqv", zip_with(col("__qv"),
        element_at(typedLit(matrix.map(_.toSeq)),
          col("__p.idx") + lit(1)),
        (a, b) => a - b))
      .select(col("q_id"), col("__p.cid").as("cid"),
        lutFor(cbs, col("__rqv")).as("__lut"))
    scoreAdcRanked(enc.select(col(idCol).as("n_id"), col("cid"),
      col("__code")), q, k)
  }

  /** The ONE ADC tail every PQ path funnels through (the rankTopK
    * discipline applied to codes): broadcast the (q_id[, cid], __lut)
    * query side, join on the cell — or cross the whole corpus when
    * `joinOnCell` is false (plain PQ scans every code) — ADC-score,
    * rank with the canonical (dist asc, n_id asc) tiebreak, drop null
    * distances (ASC sorts NULLS FIRST — a corrupt code must not take
    * rank 1). Keeping this in one place is what stops the four ADC
    * paths drifting apart on tie/null semantics. */
  private def scoreAdcRanked(corpusSide: DataFrame, q: DataFrame,
      k: Int, joinOnCell: Boolean = true): DataFrame = {
    val joined =
      if (joinOnCell) corpusSide.join(broadcast(q), Seq("cid"))
      else corpusSide.crossJoin(broadcast(q))
    val scored = joined
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("dist", graft.functions.expressions.VectorExpressions
        .pqAdcDistance(col("__code"), col("__lut")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dist").asc, col("n_id").asc)
    scored.filter(col("dist").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank")
  }

  /** Train PQ codebooks: ONE corpus pass collects the deterministic
    * hash sample (the same TakeOrdered idiom as [[trainCentroids]]),
    * then each subspace runs farthest-point-seeded Lloyd on its sample
    * SLICE driver-side — the standard PQ practice (FAISS trains
    * codebooks on a sample): running m distributed Lloyd jobs instead
    * would scan the corpus m×iters times for codebooks that a few
    * thousand sample vectors already determine. Fully deterministic
    * (hash sample order, fixed-order sums). Returns (sub, cid, cvec)
    * with cids 0..ksub-1 per subspace, ready for
    * [[pqEncode]]/[[pqTopKAdc]]. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String, m: Int,
      ksub: Int, iters: Int = 3, sampleSize: Int = 4096): DataFrame = {
    require(m >= 1, "need m >= 1 subspaces")
    require(ksub >= 1 && iters >= 0, "need ksub >= 1 and iters >= 0")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample: Array[Seq[Double]] = corpus
      .select(col(vecCol).cast("array<double>").as("__v"),
        md5(concat(lit("pq#"), col(idCol).cast("string"))).as("__h"))
      .orderBy("__h").limit(math.max(ksub, sampleSize))
      .collect().map(_.getSeq[Double](0))
    require(sample.length >= ksub,
      s"corpus has ${sample.length} vectors, cannot seed ksub=$ksub codewords")
    val dims = sample.head.length
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val subdim = dims / m
    (0 until m).flatMap { s =>
      val sliced = sample.map(v => v.slice(s * subdim, (s + 1) * subdim))
      lloydOnSample(sliced, ksub, iters).zipWithIndex.map {
        case (c, i) => (s, i.toLong, c)
      }
    }.toDF("sub", "cid", "cvec")
  }

  private def d2(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Farthest-point traversal over a deterministic sample: greedy pick
    * of the vector farthest from the chosen set, first-index ties —
    * the shared seeding for [[trainCentroids]] and [[pqTrain]]. */
  private def farthestPointSeeds(sample: Array[Seq[Double]],
      k: Int): scala.collection.mutable.ArrayBuffer[Seq[Double]] = {
    val chosen = scala.collection.mutable.ArrayBuffer(sample(0))
    val minD = sample.map(d2(_, sample(0)))
    while (chosen.length < math.min(k, sample.length)) {
      val next = minD.indices.maxBy(i => (minD(i), -i)) // tie → first
      chosen += sample(next)
      var i = 0
      while (i < sample.length) {
        minD(i) = math.min(minD(i), d2(sample(i), sample(next))); i += 1
      }
    }
    chosen
  }

  /** Deterministic driver-side Lloyd over a sample slice — the PQ
    * codebook trainer. Sums run in fixed sample order, so the result is
    * a pure function of the sample; cells that lose every member keep
    * their previous centroid (same contract as [[trainCentroids]]). */
  private def lloydOnSample(pts: Array[Seq[Double]], k: Int,
      iters: Int): Seq[Seq[Double]] = {
    val dims = pts.head.length
    var cents: Seq[Seq[Double]] = farthestPointSeeds(pts, k).toSeq
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dims))
      val cnt = new Array[Long](cents.length)
      pts.foreach { p =>
        var best = 0; var bestD = Double.PositiveInfinity; var j = 0
        while (j < cents.length) {
          val dd = d2(p, cents(j))
          if (dd < bestD) { bestD = dd; best = j }
          j += 1
        }
        var i = 0
        while (i < dims) { sums(best)(i) += p(i); i += 1 }
        cnt(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, j) =>
        if (cnt(j) == 0L) old
        else sums(j).map(_ / cnt(j)).toSeq
      }
    }
    cents
  }

  /** OPQ rotation (Ge, He, Ke, Sun, "Optimized Product Quantization",
    * CVPR 2013 — the parametric/PCA variant): learn an orthogonal
    * rotation that makes the PQ subspace split respect the data, then
    * run the UNCHANGED PQ machinery on rotated vectors.
    *
    *  - PCA over the deterministic hash sample (same one-scan sample as
    *    [[pqTrain]]): covariance → cyclic-Jacobi eigendecomposition
    *    (fixed sweep order, so the rotation is a pure function of the
    *    sample). The covariance accumulates 1e7-QUANTIZED components
    *    in exact integers (the [[trainCentroids]] replay contract):
    *    raw moments S_i = Σq_i and P_ij = Σq_i·q_j are order-free
    *    BigInt sums, and each cell is ONE shared IEEE tree
    *    `(n·P_ij − S_i·S_j) → double / (n·n·1e14)` — so the trained
    *    rotation replays bit-for-bit in any IEEE-double engine (the
    *    q270 oracle unrolls the full pipeline). Quantization ignores
    *    sub-1e-7 component information — far below embedding noise;
    *  - eigenvalue ALLOCATION: principal directions are dealt to the m
    *    subspaces greedily, each to the subspace with the smallest
    *    running variance product — the OPQ-P balance criterion. Without
    *    it, plain PCA stacks all variance into subspace 0 and the
    *    remaining codebooks quantize noise.
    *
    * Returns the row-major rotation matrix (rows = reordered principal
    * directions); apply with [[rotate]] — one codegen mat-vec per row,
    * map-only — and feed the rotated column to
    * [[pqTrain]]/[[pqEncode]]/[[pqTopKAdc]]. Gains are
    * data-dependent: large when dimensions are correlated or variance
    * is skewed, nil on isotropic data (see ExtSpec's anisotropic
    * construction).
    *
    * `maxSweeps` caps the Jacobi sweeps (64 default converges any
    * practical covariance; the oracle-gated q270 instance pins 2 so
    * the unrolled SQL replay is bounded — the convergence early-exit
    * stays live and is itself a deterministic function of the
    * matrix). */
  def opqRotation(corpus: DataFrame, idCol: String, vecCol: String, m: Int,
      maxSweeps: Int = 64): Seq[Seq[Double]] = {
    require(m >= 1, "need m >= 1 subspaces")
    val rawSample: Array[Seq[Double]] = corpus
      .select(col(vecCol).cast("array<double>").as("__v"),
        md5(concat(lit("opq#"), col(idCol).cast("string"))).as("__h"))
      .filter(col("__v").isNotNull)
      .orderBy("__h").limit(4096)
      .collect().map(_.getSeq[Double](0))
    require(rawSample.nonEmpty, "corpus is empty")
    val d = rawSample.head.length
    // drop length-mismatched (truncated/dirty) rows rather than indexing
    // past their end — the same rows MatVec/L2 null at scoring time
    val sample = rawSample.filter(_.length == d)
    require(sample.length >= 2,
      s"need >= 2 sampled vectors of dims=$d to estimate covariance")
    require(d % m == 0, s"dims=$d not divisible by m=$m subspaces")
    // covariance from 1e7-quantized EXACT integer raw moments — sums
    // are order-free (commutative integer addition), so the result is
    // independent of sample iteration order AND replicable by any
    // engine's integer aggregation; the only float ops are the final
    // shared IEEE tree per cell (floor/quantize mirrors DuckDB's
    // floor(x*1e7 + 0.5) exactly — same multiply/add/floor tree)
    val n = sample.length
    val quant: Array[Array[Long]] = sample.map(v =>
      v.map(x => math.floor(x * 1e7 + 0.5).toLong).toArray).toArray
    val s1 = Array.fill(d)(BigInt(0))
    val p2 = Array.fill(d, d)(BigInt(0))
    quant.foreach { row =>
      var i = 0
      while (i < d) {
        s1(i) += row(i)
        var j = i
        while (j < d) {
          p2(i)(j) += BigInt(row(i)) * BigInt(row(j)); j += 1
        }
        i += 1
      }
    }
    val den = n.toDouble * n.toDouble * 1e14
    val cov = Array.fill(d)(new Array[Double](d))
    var ci = 0
    while (ci < d) {
      var j = ci
      while (j < d) {
        cov(ci)(j) =
          (BigInt(n) * p2(ci)(j) - s1(ci) * s1(j)).toDouble / den
        cov(j)(ci) = cov(ci)(j)
        j += 1
      }
      ci += 1
    }
    val (eigVals, eigVecs) = jacobiEigen(cov, maxSweeps)
    // deal principal directions (variance desc) round-robin by FILL
    // COUNT first, breaking ties by smallest running log-variance
    // product (then lowest subspace). Count-first keeps the deal
    // scale-invariant and one-per-bucket-per-round: a pure
    // least-product greedy degenerates to contiguous PCA stacking
    // whenever eigenvalues sit below 1 (unit-norm embeddings —
    // trace ≤ 1), which is exactly the imbalance this deal exists to
    // prevent.
    val order = eigVals.indices.sortBy(i => (-eigVals(i), i))
    val subDims = d / m
    val logProd = new Array[Double](m)
    val counts = new Array[Int](m)
    val alloc = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    order.foreach { e =>
      val s = (0 until m).minBy(s => (counts(s), logProd(s), s))
      alloc(s) += e
      logProd(s) += math.log(math.max(eigVals(e), 1e-300))
      counts(s) += 1
    }
    // rotation rows: subspace 0's directions first, then subspace 1's, …
    alloc.flatten.map(e => eigVecs(e).toSeq).toSeq
  }

  /** Apply a rotation to a vector column: one codegen mat-vec per row,
    * map-only. Compose the result with any PQ/IVF operator. */
  def rotate(df: DataFrame, vecCol: String, rotation: Seq[Seq[Double]],
      out: String): DataFrame =
    df.withColumn(out, graft.functions.expressions.VectorExpressions.matVec(
      typedLit(rotation.map(_.toArray)),
      col(vecCol).cast("array<double>")))

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * deterministic (fixed (p,q) sweep order, fixed iteration cap).
    * Returns (eigenvalues, eigenvectors as rows), unsorted. */
  private def jacobiEigen(a0: Array[Array[Double]],
      maxSweeps: Int = 64)
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < maxSweeps && off > 1e-12) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off += apq * apq
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // theta == 0 → 45° rotation (t = 1), else the smaller root
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(p)(i); val viq = v(q)(i)
              v(p)(i) = c * vip - s * viq
              v(q)(i) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }
}
