package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftSession
import graft.ext.{Curation, Dedup, Similarity}
import graft.functions.VectorFunctions

/** Embedding similarity-search operators over the `embeddings` table
  * (`array<float>[64]` vectors): exact brute-force top-k ANN baseline,
  * deterministic random-hyperplane LSH bucketing (the scale path), and
  * cosine near-duplicate pairs.
  *
  * Float outputs are avoided: queries emit ids/ranks/buckets, so the
  * driver's hash compare is insensitive to sub-ULP engine differences in
  * float summation order while still certifying the ranking/threshold
  * semantics end-to-end.
  */
object VectorQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    GraftSession.table(s, dir, "embeddings")

  /** Deterministic PQ codebooks for the oracle-checked queries: 8
    * subspaces of 8 dims, codewords = subvectors of the 16 lowest-id
    * embeddings (cid = vec_id). [[Similarity.pqTrain]] is the trained
    * path (spec-verified). NOTE (r15): the old rationale "a k-means
    * loop is not SQL-replicable" is DISPROVEN — q204 gates
    * trainCentroids against an unrolled-Lloyd oracle and q206
    * composes the trained quantizer into the search. The pinned
    * devices remain for the rows that want a CHEAP independent anchor
    * (a one-CTE artifact keeps those oracles readable and fast), not
    * because training can't face an oracle. */
  private def fixedCodebooks(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"),
        posexplode(array((0 until 8).map(s =>
          slice(col("embedding").cast("array<double>"), s * 8 + 1, 8)): _*)))
      .select(col("pos").as("sub"), col("cid"), col("col").as("cvec"))

  /** [[fixedCodebooks]] over RESIDUALS: codewords = residual
    * subvectors (v − centroid of v's cell) of the 16 lowest-id
    * embeddings — deterministic and SQL-replicable like the raw
    * pinned codebooks, but in the residual space
    * [[Similarity.ivfPqTopKResidual]] encodes. */
  private def fixedResidualCodebooks(e: DataFrame,
      cents: DataFrame): DataFrame = {
    val res = Similarity.ivfAssign(e.filter(col("vec_id") < 16),
        "vec_id", "embedding", cents)
      .join(broadcast(cents), Seq("cid"))
      .select(col("vec_id"),
        zip_with(col("embedding").cast("array<double>"),
          col("cvec").cast("array<double>"), (a, b) => a - b).as("__rv"))
    res.select(col("vec_id").as("cid"),
        posexplode(array((0 until 8).map(s =>
          slice(col("__rv"), s * 8 + 1, 8)): _*)))
      .select(col("pos").as("sub"), col("cid"), col("col").as("cvec"))
  }

  /** Pinned OPQ-style rotation for the oracle-checked q97 — the
    * pinned-centroid device applied to [[Similarity.opqRotation]]'s
    * output position. (The original rationale here — "a trained
    * rotation is not SQL-replicable (driver Jacobi eigendecomposition)"
    * — was DISPROVEN in round 17: q270 gates the real trainer against
    * a fully unrolled Jacobi oracle, and q271 composes the TRAINED
    * rotation into this same ADC pipeline. q97 stays as the
    * full-width 64-dim composition certificate — the trained gate
    * runs at d=4, where the unroll is tractable.) The pinned literal
    * certifies the COMPOSITION rotate → encode → ADC end-to-end. Dim i pairs with dim i+32
    * through a 2×2 Givens block [[0.6, 0.8], [-0.8, 0.6]] (rows
    * orthonormal: 0.36+0.64=1): a genuine dimension-mixing rotation,
    * yet each output dim is a two-term product sum the oracle can
    * rebuild bit-for-bit (zero-product additions are exact identities
    * in the MatVec accumulation, so the 64-term kernel sum equals the
    * oracle's two-term expression). */
  private val pinnedRotation: Seq[Seq[Double]] = (0 until 64).map { i =>
    val row = Array.fill(64)(0.0)
    if (i < 32) { row(i) = 0.6; row(i + 32) = 0.8 }
    else { row(i - 32) = -0.8; row(i) = 0.6 }
    row.toSeq
  }

  /** [[fixedCodebooks]] over a rotated (already-double) vector column. */
  private def rotatedCodebooks(r: DataFrame, vecCol: String): DataFrame =
    r.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"),
        posexplode(array((0 until 8).map(s =>
          slice(col(vecCol), s * 8 + 1, 8)): _*)))
      .select(col("pos").as("sub"), col("cid"), col("col").as("cvec"))

  /** Loaded-artifact inputs for q164: the PRIOR component labeling and
    * the delta edge set of the q139 shape, lineage-cut and materialized
    * ONCE per (session, sf dir) — the production steady state, where
    * the labeling is a table on disk and the delta arrives off the
    * incremental near-dup path. localCheckpoint (eager) stands in for
    * the disk read so repeated runs — Bench's warm timing loop — pay
    * the delta FOLD only, never the prior full clustering. Keyed on the
    * SparkSession OBJECT (reference equality), not its
    * identityHashCode — identity hashes are not unique, and a
    * collision would hand a new session a cached plan bound to a
    * stopped one (specs spin up fresh sessions). Entries of stopped
    * sessions are dropped on every access: their checkpointed blocks
    * died with the context, and the entry would otherwise pin the
    * session and its plan graph for the life of the JVM. */
  private val ccArtifactCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (DataFrame, DataFrame)]

  private def ccDeltaArtifacts(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    ccArtifactCache.keySet.removeIf(_._1.sparkContext.isStopped)
    ccArtifactCache.computeIfAbsent(
      (s, dir), _ => {
        import graft.ext.Dedup
        val pairs = Dedup.embeddingNearDup(emb(s, dir), "vec_id",
          "embedding", "label", threshold = 0.4)
        val oldEdges =
          pairs.filter(col("a_id") < 400 && col("b_id") < 400)
        val delta =
          pairs.filter(!(col("a_id") < 400 && col("b_id") < 400))
            .localCheckpoint(true)
        val prev = Dedup.connectedComponents(oldEdges, "a_id", "b_id")
          .localCheckpoint(true)
        (prev, delta)
      })
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // OPQ composition end-to-end: rotate (codegen MatVec over a pinned
    // orthogonal literal) -> PQ-encode in the rotated space (codebooks =
    // rotated subvectors of the 16 lowest-id vectors) -> ADC top-3.
    // Same map-only shape as q78; the rotation adds one codegen mat-vec
    // per corpus row, no new shuffle or join.
    "q97_opq_adc_topk" -> ((s, dir) => {
      val r = Similarity.rotate(emb(s, dir), "embedding", pinnedRotation,
        "rvec")
      Similarity.pqTopKAdc(r, "vec_id", "rvec",
          rotatedCodebooks(r, "rvec"), col("vec_id") < 10, k = 3)
        .orderBy("q_id", "rank")
    }),

    // OPQ end-to-end with the TRAINED rotation (q270's trainer
    // composed into the ADC search the way q206 composes q204's
    // k-means into IVF): train the rotation on the 4-dim slice
    // (m=2, 2 sweeps — the gated instance), rotate map-only, build
    // the pinned-sample codebooks in the ROTATED space, ADC top-3.
    // The oracle chains the full unrolled trainer CTEs in front of
    // the q78 ADC pipeline at subdim 2 — train AND serve under one
    // hash.
    "q271_opq_trained_adc" -> ((s, dir) => {
      val e4 = emb(s, dir).select(col("vec_id"),
        slice(col("embedding"), 1, 4).as("embedding"))
      val rot = Similarity.opqRotation(e4, "vec_id", "embedding",
        m = 2, maxSweeps = 2)
      val r = Similarity.rotate(e4, "embedding", rot, "rvec")
      val cb = r.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"),
          posexplode(array((0 until 2).map(sb =>
            slice(col("rvec"), sb * 2 + 1, 2)): _*)))
        .select(col("pos").as("sub"), col("cid"), col("col").as("cvec"))
      Similarity.pqTopKAdc(r, "vec_id", "rvec", cb,
          col("vec_id") < 10, k = 3)
        .orderBy("q_id", "rank")
    }),
    // Exact ANN baseline: top-5 cosine neighbors for 10 query vectors.
    // Plan: one corpus scan × broadcast queries; no corpus shuffle.
    "q40_cosine_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .orderBy("q_id", "rank")
    }),

    // Deterministic hyperplane LSH bucket assignment (8 bits): the ANN
    // pre-partitioner. md5-derived hyperplanes regenerate identically on
    // every executor and in the oracle.
    "q41_lsh_buckets" -> ((s, dir) => {
      emb(s, dir).select(col("vec_id"),
          VectorFunctions.lshBucket(col("embedding"), 8).as("bucket"))
        .orderBy("vec_id")
    }),

    // Hard-negative mining (contrastive-training data op): per anchor
    // the top-3 most-similar vectors that are NOT q42 near-dup
    // positives (either orientation) — bruteForceTopK's zero-corpus-
    // shuffle plan plus two broadcast anti-joins.
    "q161_hard_negatives" -> ((s, dir) => {
      val e = emb(s, dir)
      val pos = Dedup.embeddingNearDup(e, "vec_id", "embedding",
        "label", threshold = 0.4)
      Similarity.hardNegatives(e, "vec_id", "embedding", pos,
          "a_id", "b_id", col("vec_id") < 10, k = 3)
        .orderBy("q_id", "rank")
    }),

    // Uniform random negatives (hard-negatives' counterpart): per
    // anchor, 3 uniform draws without replacement from corpus minus
    // self minus q42 positives — the per-(seed, anchor) md5 rank
    // makes the draw engine-replayable. Same zero-corpus-shuffle
    // shape.
    "q162_random_negatives" -> ((s, dir) => {
      val e = emb(s, dir)
      val pos = Dedup.embeddingNearDup(e, "vec_id", "embedding",
        "label", threshold = 0.4)
      graft.ext.Curation.randomNegatives(e, "vec_id", pos,
          "a_id", "b_id", col("vec_id") < 10, k = 3, seed = "neg1")
        .orderBy("q_id", "rank")
    }),

    // The BATCHED hard-negative miner under the driver's gate (VERDICT
    // r12 Next #5): the broadcast-memory escape hatch for anchor sets
    // too big to broadcast whole, run at nBatches=4 against the SAME
    // oracle SQL as q161 — two implementations, one ground truth (the
    // q139/q164 device). Batch membership is a pure function of
    // xxhash64(anchor id), every q_id lives wholly in one batch, so
    // per-anchor output must be bit-identical to the unbatched plan.
    "q180_hard_negatives_batched" -> ((s, dir) => {
      val e = emb(s, dir)
      val pos = Dedup.embeddingNearDup(e, "vec_id", "embedding",
        "label", threshold = 0.4)
      Similarity.hardNegativesBatched(e, "vec_id", "embedding", pos,
          "a_id", "b_id", col("vec_id") < 10, k = 3, nBatches = 4)
        .orderBy("q_id", "rank")
    }),

    // Batched random negatives vs q162's oracle — same device: the
    // md5 draw depends only on (seed, anchor, candidate), never the
    // batch, so the 4-batch union replays the unbatched draw exactly.
    "q181_random_negatives_batched" -> ((s, dir) => {
      val e = emb(s, dir)
      val pos = Dedup.embeddingNearDup(e, "vec_id", "embedding",
        "label", threshold = 0.4)
      graft.ext.Curation.randomNegativesBatched(e, "vec_id", pos,
          "a_id", "b_id", col("vec_id") < 10, k = 3, seed = "neg1",
          nBatches = 4)
        .orderBy("q_id", "rank")
    }),

    // Matryoshka-style truncated-dimension retrieval EVAL: brute-force
    // top-5 on the first 32 of 64 dims vs the full-dim exact top-5,
    // scored by Similarity.recallAtK (exact hit counts + one IEEE
    // division). The eval harness every ANN variant is judged by, now
    // itself under the gate — the oracle replays both rankings and
    // the recall arithmetic independently. The measured recall (~0.16
    // mean at sf0.1) is the honest finding: these embeddings are
    // near-isotropic, and dimension truncation only preserves
    // neighbors for matryoshka-TRAINED embeddings — the harness
    // exists precisely to catch that.
    "q191_matryoshka_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val trunc = e.select(col("vec_id"),
        slice(col("embedding"), 1, 32).as("embedding"))
      val truth = Similarity.bruteForceTopK(e,
        e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      val approx = Similarity.bruteForceTopK(trunc,
        trunc.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      Similarity.recallAtK(approx, truth)
        .orderBy("q_id")
    }),

    // Embedding near-dup pairs: same-label partition, cosine >= 0.4.
    "q42_embedding_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDup(emb(s, dir), "vec_id", "embedding",
          "label", threshold = 0.4)
        .select("a_id", "b_id")
        .orderBy("a_id", "b_id")
    }),

    // IVF ANN: coarse-quantize to the 8 lowest-id vectors as centroids,
    // single-probe top-3 within the query's own cell.
    // Rank-biased overlap between the EXACT top-10 ranking (q40's
    // brute force) and the IVF approximation (q43's pinned-centroid
    // search) per query — the ranking-quality metric that weights the
    // top of the list where recall@k is blind. p = 1/2 keeps every
    // term one IEEE division by an exact d·2^d, so the doubles hash.
    "q240_rbo_rankings" -> ((s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, queries, "vec_id",
        "embedding", k = 10)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val approx = Similarity.ivfTopK(e, "vec_id", "embedding", cents,
        col("vec_id") < 10, k = 10)
      graft.ext.Search.rboOverlap(exact, approx, "q_id", "n_id",
          "rank", k = 10)
        .orderBy("q_id")
    }),

    "q43_ivf_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Similarity.ivfTopK(e, "vec_id", "embedding", cents,
          col("vec_id") < 10, k = 3)
        .orderBy("q_id", "rank")
    }),

    // Recall@5 of the pinned-centroid IVF against the exact ranking
    // (q240's pair through the set-membership metric instead of RBO):
    // the per-query ANN quality number a cell-count/nProbe sweep is
    // tuned on. Exact integers, zero-overlap queries keep a 0 row.
    "q258_ivf_recall_at_k" -> ((s, dir) => {
      val e = emb(s, dir)
      val exact = Similarity.bruteForceTopK(e,
        e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val approx = Similarity.ivfTopK(e, "vec_id", "embedding", cents,
        col("vec_id") < 10, k = 5)
      // explicit spine = the evaluation's own query set (ADVICE r16:
      // the oracle's spine is all queries vec_id<10 — pin the Spark
      // side to the same definition instead of truth's distinct set)
      graft.ext.Search.recallAtK(exact, approx, "q_id", "n_id",
          "rank", k = 5,
          querySpine = Some(e.filter(col("vec_id") < 10)
            .select(col("vec_id").as("q_id"))))
        .orderBy("q_id")
    }),

    // Matryoshka truncation evaluation (Kusupati et al. 2022, MRL —
    // the "can I serve the first 16 of 64 dims?" question): per-query
    // RBO between the full-dim exact ranking and the ranking under a
    // PREFIX-truncated embedding — the dimension-cut quality curve's
    // measurement at one cut. Truncation is a map-only slice in the
    // scan projection; both rankings use the q40 brute plan (queries
    // broadcast, map-side WindowGroupLimit rank cut), RBO joins two
    // ≤k-row frames per query.
    "q255_matryoshka_eval" -> ((s, dir) => {
      val e = emb(s, dir)
      val exact = Similarity.bruteForceTopK(e,
        e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
      val tr = e.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val approx = Similarity.bruteForceTopK(tr,
        tr.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
      graft.ext.Search.rboOverlap(exact, approx, "q_id", "n_id",
          "rank", k = 10)
        .orderBy("q_id")
    }),

    // Product-quantization encode: 8 subspaces x 8 dims, codewords = the
    // 16 lowest-id vectors' subvectors (deterministic, so the oracle can
    // rebuild the exact codebooks). Map-only: one codegen argmin per
    // subspace over a literal codebook; the corpus never shuffles.
    "q77_pq_encode" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.pqEncode(e, "vec_id", "embedding", fixedCodebooks(e))
        .select(col("vec_id"),
          concat_ws(",", transform(col("pq_code"), _.cast("string")))
            .as("pq_code"))
        .orderBy("vec_id")
    }),

    // PQ asymmetric-distance top-3 for 10 queries: per query an 8x16
    // exact LUT, per corpus row 8 table lookups over its 8-byte code --
    // the scan reads codes, not vectors (32x compression at this shape).
    "q78_pq_adc_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.pqTopKAdc(e, "vec_id", "embedding", fixedCodebooks(e),
          col("vec_id") < 10, k = 3)
        .orderBy("q_id", "rank")
    }),

    // IVF-PQ (the FAISS IVFPQ layout): coarse cells (q43's 8 pinned
    // centroids) x PQ codes (q77's pinned codebooks); queries ADC-score
    // only their own cell's codes. Both map-only kernels on the corpus;
    // probe list + LUT broadcast.
    "q82_ivfpq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Similarity.ivfPqTopK(e, "vec_id", "embedding", cents,
          fixedCodebooks(e), col("vec_id") < 10, k = 3)
        .orderBy("q_id", "rank")
    }),

    // RESIDUAL IVF-PQ (the FAISS-standard composition): codes quantize
    // v − centroid(cell) instead of v, so the code budget describes the
    // within-cell distribution; the query LUT is rebuilt per probed
    // cell on q − centroid(cell). Pinned-artifact device throughout:
    // q43's 8 centroids, codebooks = residual subvectors of the 16
    // lowest-id embeddings — both SQL-replicable. Same corpus plan
    // shape as q82: two map-only codegen kernels, no corpus shuffle.
    "q154_ivfpq_residual_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Similarity.ivfPqTopKResidual(e, "vec_id", "embedding", cents,
          fixedResidualCodebooks(e, cents), col("vec_id") < 10, k = 3)
        .orderBy("q_id", "rank")
    }),

    // SemDeDup-shaped semantic near-dup: coarse k-means cells (the q43
    // pinned centroids) bound the pair space on an UNLABELED corpus;
    // same-cell pairs with cosine >= 0.4. Corpus never shuffles for the
    // bucketing (map-only codegen assign); only ids cross the pair join.
    "q89_semantic_neardup" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Dedup.semanticNearDup(e, "vec_id", "embedding", cents,
          threshold = 0.4)
        .select("a_id", "b_id")
        .orderBy("a_id", "b_id")
    }),

    // Cluster-balanced diversity subsample (the DataComp-style curation
    // cap): q43's 8 pinned centroids bucket the corpus map-only, then
    // every cell keeps at most 8 rows by ascending hash rank. The
    // selection is the bounded TopK aggregator — each task's partial
    // state is <= quota per cell, so the one shuffle moves candidate
    // triples, never the corpus, and no full-cell sort exists anywhere.
    "q102_cluster_sample" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Curation.clusterBalancedSample(e, "vec_id", "embedding", cents,
          quota = 8, seed = "cb1")
        .orderBy("vec_id")
    }),

    // Near-dup pairs -> dedup CLUSTERS: connected components over the
    // q42 edge list (min-label propagation, lineage-checkpointed
    // iterations); cluster = min reachable vec_id, is_rep marks the
    // copy to keep.
    "q73_dedup_clusters" -> ((s, dir) => {
      import graft.ext.Dedup
      val pairs = Dedup.embeddingNearDup(emb(s, dir), "vec_id",
        "embedding", "label", threshold = 0.4)
      Dedup.connectedComponents(pairs, "a_id", "b_id")
        .select(col("id").as("vec_id"), col("comp").as("cluster"),
          (col("id") === col("comp")).cast("int").as("is_rep"))
        .orderBy("vec_id")
    }),

    // Incremental dedup-cluster maintenance: the q73 clusters rebuilt
    // the DELTA way — full CC over only the edges among the first 400
    // vectors, then connectedComponentsDelta folds the remaining edges
    // in (|delta|-sized contracted CC + one broadcast relabel map over
    // the history). Must equal q73's full recompute bit-for-bit — the
    // oracle IS q73's SQL (two implementations, one ground truth).
    "q139_cc_delta" -> ((s, dir) => {
      import graft.ext.Dedup
      // the near-dup pair join is referenced by BOTH the history side
      // (full CC) and the delta side (which reads it three more times
      // inside connectedComponentsDelta): a lazy persist shares the
      // one evaluation instead of re-running the similarity join per
      // reference
      val pairs = Dedup.embeddingNearDup(emb(s, dir), "vec_id",
          "embedding", "label", threshold = 0.4)
        .persist()
      val oldEdges = pairs.filter(col("a_id") < 400 && col("b_id") < 400)
      val delta = pairs.filter(!(col("a_id") < 400 && col("b_id") < 400))
      val prev = Dedup.connectedComponents(oldEdges, "a_id", "b_id")
      val res = Dedup.connectedComponentsDelta(prev, delta, "a_id", "b_id")
      // both CC passes are eager (materialized internally), so the
      // pair cache is fully consumed here — release it, otherwise the
      // CacheManager would dedup the identical plan on the next
      // invocation and a repeat run would read this run's cache
      pairs.unpersist()
      res
        .select(col("id").as("vec_id"), col("comp").as("cluster"),
          (col("id") === col("comp")).cast("int").as("is_rep"))
        .orderBy("vec_id")
    }),

    // q139's delta fold with the artifacts LOADED (the steady-state
    // daily-maintenance shape): in production the prior labeling comes
    // off disk and the delta off the incremental near-dup path, so
    // neither belongs in the operator's cost. Here both are
    // materialized once per (session, sf dir) and every run times the
    // fold alone — ~0.6 MB shuffled at 20× sf0.1 (BENCH.md), vs the
    // inline full-CC rebuild q139 deliberately keeps (q139 certifies
    // the two implementations against one ground truth; this row
    // certifies — and benches — the maintenance path a user actually
    // pays). Same oracle as q73/q139: one SQL text, now three
    // independently-shaped executions.
    "q164_cc_delta_loaded" -> ((s, dir) => {
      import graft.ext.Dedup
      val (prev, delta) = ccDeltaArtifacts(s, dir)
      Dedup.connectedComponentsDelta(prev, delta, "a_id", "b_id")
        .select(col("id").as("vec_id"), col("comp").as("cluster"),
          (col("id") === col("comp")).cast("int").as("is_rep"))
        .orderBy("vec_id")
    }),

    // Synchronous min-tie label propagation over the near-dup graph —
    // community detection where CC gives only reachability: 4
    // deterministic rounds, every vertex adopting its neighbors'
    // most-frequent previous-round label (ties to the smallest). The
    // oracle unrolls the same 4 rounds as CTE stages.
    "q189_label_propagation" -> ((s, dir) => {
      import graft.ext.{Dedup, Graph}
      val pairs = Dedup.embeddingNearDup(emb(s, dir), "vec_id",
        "embedding", "label", threshold = 0.2)
      Graph.labelPropagation(pairs, "a_id", "b_id", iters = 4)
        .select(col("id").as("vec_id"), col("label").as("community"))
        .orderBy("vec_id")
    }),

    // k-core of the near-dup graph: iterative peeling to the maximal
    // subgraph of min-degree >= 3 — quasi-clique hearts survive, chain
    // and bridge periphery peels away (the graph-density filter). The
    // oracle replays the peel as a single-row recursive CTE carrying
    // the removed-vertex list — same fixpoint, two engines.
    "q159_kcore" -> ((s, dir) => {
      import graft.ext.{Dedup, Graph}
      val pairs = Dedup.embeddingNearDup(emb(s, dir), "vec_id",
        "embedding", "label", threshold = 0.2)
      Graph.kCore(pairs, "a_id", "b_id", k = 3)
        .select(col("id").as("vec_id"), col("degree"))
        .orderBy("vec_id")
    }),

    // Per-vertex triangle participation over the near-dup graph —
    // cluster cohesion (a quasi-clique member sits in many triangles,
    // a chain-bridge in none). Degree-ordered wedge closing: each
    // triangle emitted exactly once, wedge space capped O(|E|^1.5).
    "q141_triangle_count" -> ((s, dir) => {
      import graft.ext.{Dedup, Graph}
      // threshold 0.2: the 0.4 dedup graph is triangle-free chains at
      // test sf — the looser graph has real quasi-clique structure
      val pairs = Dedup.embeddingNearDup(emb(s, dir), "vec_id",
        "embedding", "label", threshold = 0.2)
      Graph.triangles(pairs, "a_id", "b_id")
        .select(explode(array(col("v1"), col("v2"), col("v3")))
          .as("vec_id"))
        .groupBy("vec_id").agg(count(lit(1)).as("n_triangles"))
        .orderBy("vec_id")
    }),

    // Local clustering coefficient: 2·tri(v) / (deg(v)·(deg(v)−1)) —
    // quasi-clique members score near 1, chain bridges 0; composes
    // Graph.triangles' exact enumeration with a degree roll-up, the
    // coefficient one exact-integer division per vertex.
    "q153_clustering_coeff" -> ((s, dir) => {
      import graft.ext.{Dedup, Graph}
      // NO pair-join sharing here, measured deliberately: a lazy
      // persist must be released within the invocation (a live cache
      // is plan-deduped into the next run — cross-run reuse), and the
      // eager result checkpoint that release requires costs more than
      // the one extra similarity-join evaluation (honest min5 at
      // sf0.1: persist+ckpt 2.04 s vs plain recompute ~0.7 s)
      val pairs = Dedup.embeddingNearDup(emb(s, dir), "vec_id",
        "embedding", "label", threshold = 0.2)
      val deg = pairs.select(col("a_id").as("v"))
        .unionByName(pairs.select(col("b_id").as("v")))
        .groupBy("v").agg(count(lit(1)).as("degree"))
      val tv = Graph.triangles(pairs, "a_id", "b_id")
        .select(explode(array(col("v1"), col("v2"), col("v3"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("tri"))
      deg.join(tv, Seq("v"), "left")
        .select(col("v").as("vec_id"), col("degree"),
          coalesce(col("tri"), lit(0L)).as("n_triangles"),
          when(col("degree") >= 2,
            (lit(2) * coalesce(col("tri"), lit(0L))).cast("double") /
              (col("degree") * (col("degree") - 1)).cast("double"))
            .otherwise(lit(0.0)).as("clustering"))
        .orderBy("vec_id")
    }),

    // Multi-source BFS hop counts over the symmetrized near-dup graph
    // (seeds vec_id < 3): frontier-only expansion, one
    // |frontier|-driven shuffle per round, early exit on empty.
    "q143_bfs_hops" -> ((s, dir) => {
      import graft.ext.{Dedup, Graph}
      // 0.2 graph: seeds reach 128 vertices across the full 8-hop
      // horizon at sf0.01 — the frontier rounds actually run
      // the flipped union reads pairs twice: lazy persist = one
      // similarity-join evaluation
      val pairs = Dedup.embeddingNearDup(emb(s, dir), "vec_id",
          "embedding", "label", threshold = 0.2)
        .persist()
      val sym = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
        .unionByName(
          pairs.select(col("b_id").as("u"), col("a_id").as("v")))
      val sources = emb(s, dir).select("vec_id").filter(col("vec_id") < 3)
      val res = Graph.shortestPaths(sym, "u", "v", sources, maxHops = 8)
      // shortestPaths materializes its result internally — release the
      // pair cache so the next invocation recomputes (CacheManager
      // would otherwise dedup the identical plan across runs)
      pairs.unpersist()
      res
        .select(col("id").as("vec_id"), col("dist"))
        .orderBy("vec_id")
    }),

    // SQ8 scalar-quantization ANN (the int8 compression path next to
    // PQ/OPQ/IVF-PQ): per-dim [min,max] trained on the corpus, one
    // byte per dimension, ranked by the EXACT INTEGER symmetric
    // quantized distance Σ(Δcode)² — all-integer end to end, so the
    // whole pipeline (training min/max, the rounding encode, the
    // distance, the rank cut) is hash-certified, not just row counts.
    "q201_sq8_topk" -> ((s, dir) => {
      Similarity.sq8TopK(emb(s, dir), "vec_id", "embedding",
          col("vec_id") < 10, k = 5)
        .orderBy("q_id", "rank")
    }),

    // IVF-SQ8 (q82's composition with int8 codes instead of PQ):
    // coarse cells prune candidates, the within-cell ranking is the
    // EXACT INTEGER symmetric SQ8 distance — everything after the
    // cell assignment is hash-exact, no float ADC anywhere.
    "q203_ivf_sq8_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Similarity.ivfSq8TopK(e, "vec_id", "embedding", cents,
          col("vec_id") < 10, k = 3)
        .orderBy("q_id", "rank")
    }),

    // K-MEANS COARSE-QUANTIZER TRAINING under the gate (VERDICT r14
    // Next #1 — the last trainer that stayed spec-pinned): the REAL
    // Similarity.trainCentroids API — deterministic md5 hash sample
    // (limit 4096 ≥ corpus at every test SF, so the sample is the
    // whole corpus in hash order), farthest-point seeding (greedy
    // argmax of the running min-distance, first-index ties), then two
    // full Lloyd rounds: the map-only codegen argmin assignment (the
    // q43 kernel — in-order distance fold, (dist, cid) tie) and
    // integer-quantized DECIMAL(38,0) mean sums, empty cells carrying
    // their previous centroid. The oracle unrolls the 3-stage seeding
    // traversal AND both Lloyd rounds as CTE stages (the q140/q188/
    // q189 unrolled-training device): every distance is the same
    // left-associated fold, every mean the same exact-integer sum and
    // ONE IEEE division, so all 2 rounds of float-dependent
    // assignment replay bit-for-bit. Output: the trained centroid
    // table exploded to (cid, dim, c) — 4 × 64 DOUBLE rows.
    "q204_kmeans_train" -> ((s, dir) => {
      Similarity.trainCentroids(emb(s, dir), "vec_id", "embedding",
          k = 4, iters = 2)
        .select(col("cid"), posexplode(col("cvec")))
        .select(col("cid"), col("pos").cast("int").as("dim"),
          col("col").as("c"))
        .orderBy("cid", "dim")
    }),

    // OPQ ROTATION TRAINING under the gate (VERDICT r16 Next #5 —
    // the last trained artifact that stayed spec-pinned): the REAL
    // Similarity.opqRotation API on a dims=4 slice, m=2 subspaces,
    // maxSweeps=2. Every float-dependent step replays bit-for-bit:
    // the covariance is built from 1e7-quantized EXACT integer raw
    // moments (order-free sums — the trainCentroids device) with ONE
    // shared IEEE tree per cell; the cyclic-Jacobi sweeps are pure
    // IEEE +,-,x,/,abs,sqrt (sqrt is correctly rounded by spec) in a
    // fixed (p,q) order, which the oracle unrolls rotation by
    // rotation — two-phase column/row updates, the per-rotation
    // |apq|>1e-300 skip, the per-sweep off accumulator and the
    // off>1e-12 sweep-2 guard all CASE-replicated; the count-first
    // subspace deal's log-sum tiebreak reduces at d=4/m=2 to ONE
    // monotone eigenvalue compare (after the 1e-300 clamp), so the
    // oracle needs no libm log. Sample = whole corpus at every test
    // SF (<= 4096). Output: the trained 4x4 rotation exploded to
    // (ri, ci, r) DOUBLE rows — hash-compared bit-exact.
    "q270_opq_rotation_trained" -> ((s, dir) => {
      import s.implicits._
      val e4 = emb(s, dir).select(col("vec_id"),
        slice(col("embedding"), 1, 4).as("embedding"))
      val rot = Similarity.opqRotation(e4, "vec_id", "embedding",
        m = 2, maxSweeps = 2)
      rot.zipWithIndex.flatMap { case (row, i) =>
        row.zipWithIndex.map { case (x, j) =>
          (i.toLong, j.toLong, x)
        }
      }.toDF("ri", "ci", "r").orderBy("ri", "ci")
    }),

    // TRAINED-quantizer IVF ANN end-to-end (q204's training COMPOSED
    // into q43's search): trainCentroids(k=4, iters=2) builds the
    // cells, ivfTopK searches them — the first ANN row whose coarse
    // quantizer is LEARNED from the corpus rather than pinned corpus
    // rows, retiring the pinned-centroid device as a necessity (q43
    // et al. keep it for cheap independent anchors). The oracle
    // composes the unrolled-Lloyd CTE with the cell-assign + cosine
    // rank tail, so train→assign→search replays as one certified
    // pipeline.
    "q206_ivf_trained_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = Similarity.trainCentroids(e, "vec_id", "embedding",
        k = 4, iters = 2)
      Similarity.ivfTopK(e, "vec_id", "embedding", cents,
          col("vec_id") < 10, k = 3)
        .orderBy("q_id", "rank")
    }),

    // PQ SERVING on SAVED codes (the q205 honesty theme, batch side):
    // pqEncode runs once and MATERIALIZES (the persisted (id, pq_code)
    // artifact), then pqTopKAdcOnCodes answers the queries from codes
    // alone — no oracle row exercised this saved-artifact round trip
    // before (only the inline q78 composition). Faces q78's own SQL:
    // the served ranking must equal the inline train+encode+rank
    // pipeline row-for-row. fixedCodebooks' cids are 0..15 per
    // subspace, so the canonical-cid contract holds by construction.
    "q207_pq_serve_on_codes" -> ((s, dir) => {
      val e = emb(s, dir)
      val cbs = fixedCodebooks(e)
      val encoded = Similarity.pqEncode(e, "vec_id", "embedding", cbs)
        .select(col("vec_id"), col("pq_code"))
        .localCheckpoint(true) // the at-ingest artifact, materialized
      Similarity.pqTopKAdcOnCodes(encoded, "vec_id", "pq_code",
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          cbs, k = 3)
        .orderBy("q_id", "rank")
    }),

    // IVF-PQ SERVING on the SAVED (id, cell, pq_code) layout — the
    // billion-scale steady state (store partitioned by cell, probe
    // loaded artifacts): ivfAssign + pqEncode run once and
    // materialize; ivfPqTopKOnCodes scores only the probed cells'
    // codes. Faces q82's own SQL row-for-row.
    "q208_ivfpq_serve_on_codes" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val cbs = fixedCodebooks(e)
      val encoded = Similarity.pqEncode(
          Similarity.ivfAssign(e, "vec_id", "embedding", cents),
          "vec_id", "embedding", cbs)
        .select(col("vec_id"), col("cid"), col("pq_code"))
        .localCheckpoint(true) // the partitioned-by-cell layout
      Similarity.ivfPqTopKOnCodes(encoded, "vec_id", "cid", "pq_code",
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          cents, cbs, k = 3)
        .orderBy("q_id", "rank")
    }),

    // TRAINED IVF-SQ8 (q206's composition applied to the int8 path):
    // learned coarse cells + byte codes + exact integer within-cell
    // distance — train, assign, encode, and rank all in one certified
    // pipeline. With q206 this puts every IVF family member on
    // LEARNED centroids under the gate.
    // MULTI-PROBE trained IVF (the recall lever under the gate):
    // q206's learned-centroid search with each query fanned to its 2
    // nearest cells — candidates grow ×nProbe while the corpus keeps
    // its single map-only cell assign and is never re-bucketed. The
    // oracle replays training AND the per-query 2-cell probe rank.
    "q256_ivf_probed_trained_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = Similarity.trainCentroids(e, "vec_id", "embedding",
        k = 4, iters = 2)
      Similarity.ivfTopKProbed(e, "vec_id", "embedding", cents,
          col("vec_id") < 10, k = 3, nProbe = 2)
        .orderBy("q_id", "rank")
    }),

    "q209_ivf_sq8_trained_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = Similarity.trainCentroids(e, "vec_id", "embedding",
        k = 4, iters = 2)
      Similarity.ivfSq8TopK(e, "vec_id", "embedding", cents,
          col("vec_id") < 10, k = 3)
        .orderBy("q_id", "rank")
    }),

    // Per-dimension corpus STANDARDIZATION (the StandardScaler of
    // feature prep): μ/σ trained in one ≤dims-row exact-integer
    // aggregation (the q204 quantized-moment device + the q113/q151
    // mirrored-sqrt device), applied map-only with plan-literal
    // arrays — the corpus never shuffles for the apply. Every z is a
    // fixed IEEE tree over exact integer sums, so the full double
    // output hash-replays.
    "q210_embed_standardize" -> ((s, dir) => {
      Similarity.standardize(emb(s, dir), "embedding")
        .select(col("vec_id"), posexplode(col("zvec")))
        .select(col("vec_id"), col("pos").cast("int").as("dim"),
          col("col").as("z"))
        .orderBy("vec_id", "dim")
    }),

    // MMR diversity re-ranking (Carbonell & Goldstein 1998): top-3
    // of an 8-deep relevance shortlist, λ = 0.5 — the greedy loop
    // unrolls to 3 oracle stages (the q204/q140 iterative device):
    // stage 1 pure relevance, stages 2-3 rank-1 by
    // 0.5·rel − 0.5·max-sim-to-selected with the n_id tie.
    "q211_mmr_rerank" -> ((s, dir) => {
      Similarity.mmrRerank(emb(s, dir), "vec_id", "embedding",
          col("vec_id") < 10, k = 3, shortlist = 8, lambda = 0.5)
        .orderBy("q_id", "mmr_rank")
    }),

    // The END-TO-END VECTOR curation pipeline (q197's composition
    // theme on the embeddings side), as ONE query: standardize (q210)
    // → k-means TRAINED ON THE Z-SCORED SPACE (q204's trainer over a
    // derived vector column) → cluster-balanced diversity subsample
    // (q102's bounded-TopK cap, quota 8/cell) → deterministic hash
    // split (q63's device) — the DataComp-style "embed, cluster,
    // balance, split" recipe. Composition is what per-operator rows
    // can't test: the trained cells here depend on the standardized
    // space, so any drift in μ/σ, the quantized means, or the
    // assignment tie-break moves the kept set. Distinct seeds for
    // sampling ('vc1') and splitting ('vs1') — one seed would
    // correlate the quota rank with the split assignment.
    "q215_vector_curation" -> ((s, dir) => {
      import graft.ext.Curation
      val std = Similarity.standardize(emb(s, dir), "embedding")
        .select(col("vec_id"), col("zvec"))
      val cents = Similarity.trainCentroids(std, "vec_id", "zvec",
        k = 4, iters = 2)
      val sampled = Curation.clusterBalancedSample(std, "vec_id",
        "zvec", cents, quota = 8, seed = "vc1")
      Curation.assignSplits(sampled, "vec_id", "vs1",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("vec_id", "cell", "rk", "split")
        .orderBy("vec_id")
    }),

    // Leakage-safe train/val/test split: q87's hash intervals keyed on
    // the q73 dedup CLUSTER, so a near-dup pair can never straddle
    // train/test (the split-time guard q64's contamination scan only
    // measures after the fact). Singletons hash on their own id.
    "q134_leakage_safe_split" -> ((s, dir) => {
      import graft.ext.{Curation, Dedup}
      val pairs = Dedup.embeddingNearDup(emb(s, dir), "vec_id",
        "embedding", "label", threshold = 0.4)
      Curation.leakageSafeSplit(emb(s, dir).select("vec_id"), pairs,
          "vec_id", "a_id", "b_id", seed = "ls1",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("vec_id", "cluster", "split")
        .orderBy("vec_id")
    }))

  /** Shared PQ oracle prefix: per-subspace codebooks from the 16
    * lowest-id vectors, per-(vector, subspace) argmin assignment with
    * the (distance, cid) tiebreak — mirrors NearestCentroid over
    * cid-ordered codebooks exactly. */
  private val pqAsgCte =
    """WITH sub AS (SELECT UNNEST(generate_series(0,7)) AS s),
      |cw AS (SELECT sub.s, e.vec_id AS cid,
      |        list_transform(generate_series(1,8),
      |          i -> CAST(e.embedding[sub.s*8+i] AS DOUBLE)) AS cv
      |       FROM embeddings e, sub WHERE e.vec_id < 16),
      |ev AS (SELECT e.vec_id, sub.s,
      |        list_transform(generate_series(1,8),
      |          i -> CAST(e.embedding[sub.s*8+i] AS DOUBLE)) AS sv
      |       FROM embeddings e, sub),
      |asg AS (SELECT vec_id, s, cid FROM (
      |   SELECT ev.vec_id, ev.s, cw.cid,
      |     ROW_NUMBER() OVER (PARTITION BY ev.vec_id, ev.s ORDER BY
      |       list_sum(list_transform(generate_series(1,8),
      |         i -> (ev.sv[i]-cw.cv[i])*(ev.sv[i]-cw.cv[i]))), cw.cid) AS rn
      |   FROM ev JOIN cw ON ev.s = cw.s) WHERE rn = 1)
      |""".stripMargin

  private val oracleSqlBase: Map[String, String] = Map(
    "q40_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id<10),
        |sc AS (SELECT q_id, vec_id AS n_id,
        |         list_cosine_similarity(qv, embedding::DOUBLE[]) AS cos
        |       FROM embeddings, q WHERE vec_id <> q_id),
        |r AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (
        |        PARTITION BY q_id ORDER BY cos DESC, n_id) AS INTEGER) AS rank
        |      FROM sc)
        |SELECT q_id, n_id, rank FROM r WHERE rank<=5 ORDER BY q_id, rank""".stripMargin,
    "q41_lsh_buckets" ->
      """WITH comp AS (SELECT p, i,
        |  CAST(concat('0x',substr(md5('hp'||p||'_'||CAST(i AS VARCHAR)),1,6)) AS BIGINT)
        |    / 16777216.0 - 0.5 AS c
        | FROM unnest(generate_series(0,7)) a(p), unnest(generate_series(0,63)) b(i)),
        |ev AS (SELECT vec_id, unnest(embedding) AS e,
        |       generate_subscripts(embedding,1) - 1 AS i FROM embeddings),
        |proj AS (SELECT vec_id, p, SUM(CAST(e AS DOUBLE) * c) AS pr
        |         FROM ev JOIN comp USING (i) GROUP BY 1,2),
        |bits AS (SELECT vec_id, p, CASE WHEN pr>=0 THEN (1::BIGINT << p) ELSE 0 END AS b
        |         FROM proj)
        |SELECT vec_id, CAST(SUM(b) AS BIGINT) AS bucket FROM bits
        |GROUP BY 1 ORDER BY vec_id""".stripMargin,
    "q42_embedding_neardup" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM embeddings a JOIN embeddings b
        |  ON a.label=b.label AND a.vec_id<b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,
    // q40's exact ranks + q43's IVF ranks at k=10, inner-joined;
    // depth terms x/(d·2^d) summed ascending-d via the list fold —
    // the Spark sort_array/aggregate mirror
    "q240_rbo_rankings" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id<10),
        |esc AS (SELECT q_id, vec_id AS n_id,
        |         list_cosine_similarity(qv, embedding::DOUBLE[]) AS cos
        |       FROM embeddings, q WHERE vec_id <> q_id),
        |ea AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (
        |        PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS ra
        |      FROM esc),
        |cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        |              FROM embeddings WHERE vec_id < 8),
        |asg AS (SELECT vec_id, embedding, cid FROM (
        |  SELECT e.vec_id, e.embedding, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec), c.cid) AS rn
        |  FROM embeddings e, cent c) WHERE rn = 1),
        |iq AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv, cid
        |      FROM asg WHERE vec_id < 10),
        |isc AS (SELECT iq.q_id, a.vec_id AS n_id,
        |        list_cosine_similarity(iq.qv, a.embedding::DOUBLE[]) AS cos
        |       FROM iq JOIN asg a USING (cid) WHERE a.vec_id <> iq.q_id),
        |ia AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (
        |        PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rb
        |      FROM isc),
        |m AS (SELECT ea.q_id, greatest(ea.ra, ia.rb) AS m
        |      FROM ea JOIN ia ON ea.q_id = ia.q_id AND ea.n_id = ia.n_id
        |      WHERE ea.ra <= 10 AND ia.rb <= 10),
        |x AS (SELECT q_id, CAST(u.d AS BIGINT) AS d,
        |        CAST(COUNT(*) AS BIGINT) AS x
        |      FROM m, unnest(generate_series(m.m, 10)) u(d)
        |      WHERE m <= 10 GROUP BY 1, 2),
        |tm AS (SELECT q_id, d,
        |        CAST(x AS DOUBLE) / CAST(d * (CAST(1 AS BIGINT) << d) AS DOUBLE) AS t
        |      FROM x),
        |rb AS (SELECT q_id,
        |        list_reduce(list_prepend(0.0, list(t ORDER BY d)),
        |          (a, b) -> a + b) AS rbo
        |      FROM tm GROUP BY 1)
        |SELECT q.q_id, COALESCE(rb.rbo, 0.0) AS rbo
        |FROM q LEFT JOIN rb USING (q_id) ORDER BY q.q_id""".stripMargin,
    // q240's two ranking CTEs joined at rank <= 5 and counted per
    // query; floor-e9 recall over exact integers
    "q258_ivf_recall_at_k" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id<10),
        |esc AS (SELECT q_id, vec_id AS n_id,
        |         list_cosine_similarity(qv, embedding::DOUBLE[]) AS cos
        |       FROM embeddings, q WHERE vec_id <> q_id),
        |ea AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (
        |        PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS ra
        |      FROM esc),
        |cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        |              FROM embeddings WHERE vec_id < 8),
        |asg AS (SELECT vec_id, embedding, cid FROM (
        |  SELECT e.vec_id, e.embedding, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec), c.cid) AS rn
        |  FROM embeddings e, cent c) WHERE rn = 1),
        |iq AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv, cid
        |      FROM asg WHERE vec_id < 10),
        |isc AS (SELECT iq.q_id, a.vec_id AS n_id,
        |        list_cosine_similarity(iq.qv, a.embedding::DOUBLE[]) AS cos
        |       FROM iq JOIN asg a USING (cid) WHERE a.vec_id <> iq.q_id),
        |ia AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (
        |        PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rb
        |      FROM isc),
        |h AS (SELECT ea.q_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |      FROM ea JOIN ia ON ea.q_id = ia.q_id AND ea.n_id = ia.n_id
        |      WHERE ea.ra <= 5 AND ia.rb <= 5 GROUP BY 1)
        |SELECT q.q_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  CAST(COALESCE(h.n_hits, 0) * 1000000000 // 5 AS BIGINT)
        |    AS recall_e9
        |FROM q LEFT JOIN h USING (q_id) ORDER BY q.q_id""".stripMargin,
    // q240's RBO chain with the approximate side swapped for the
    // PREFIX-truncated (first 16 dims) exact ranking; double-cast
    // then slice == slice then double-cast (elementwise)
    "q255_matryoshka_eval" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id<10),
        |esc AS (SELECT q_id, vec_id AS n_id,
        |         list_cosine_similarity(qv, embedding::DOUBLE[]) AS cos
        |       FROM embeddings, q WHERE vec_id <> q_id),
        |ea AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (
        |        PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS ra
        |      FROM esc),
        |tq AS (SELECT vec_id AS q_id, (embedding::DOUBLE[])[1:16] AS qv
        |      FROM embeddings WHERE vec_id<10),
        |tsc AS (SELECT tq.q_id, e.vec_id AS n_id,
        |        list_cosine_similarity(tq.qv, (e.embedding::DOUBLE[])[1:16]) AS cos
        |       FROM embeddings e, tq WHERE e.vec_id <> tq.q_id),
        |ta AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (
        |        PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rb
        |      FROM tsc),
        |m AS (SELECT ea.q_id, greatest(ea.ra, ta.rb) AS m
        |      FROM ea JOIN ta ON ea.q_id = ta.q_id AND ea.n_id = ta.n_id
        |      WHERE ea.ra <= 10 AND ta.rb <= 10),
        |x AS (SELECT q_id, CAST(u.d AS BIGINT) AS d,
        |        CAST(COUNT(*) AS BIGINT) AS x
        |      FROM m, unnest(generate_series(m.m, 10)) u(d)
        |      WHERE m <= 10 GROUP BY 1, 2),
        |tm AS (SELECT q_id, d,
        |        CAST(x AS DOUBLE) / CAST(d * (CAST(1 AS BIGINT) << d) AS DOUBLE) AS t
        |      FROM x),
        |rb AS (SELECT q_id,
        |        list_reduce(list_prepend(0.0, list(t ORDER BY d)),
        |          (a, b) -> a + b) AS rbo
        |      FROM tm GROUP BY 1)
        |SELECT q.q_id, COALESCE(rb.rbo, 0.0) AS rbo
        |FROM q LEFT JOIN rb USING (q_id) ORDER BY q.q_id""".stripMargin,
    "q43_ivf_ann" ->
      """WITH cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        |              FROM embeddings WHERE vec_id < 8),
        |asg AS (SELECT vec_id, embedding, cid FROM (
        |  SELECT e.vec_id, e.embedding, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec), c.cid) AS rn
        |  FROM embeddings e, cent c) WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv, cid
        |      FROM asg WHERE vec_id < 10),
        |sc AS (SELECT q.q_id, a.vec_id AS n_id,
        |        list_cosine_similarity(q.qv, a.embedding::DOUBLE[]) AS cos
        |       FROM q JOIN asg a USING (cid) WHERE a.vec_id <> q.q_id),
        |r AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (
        |        PARTITION BY q_id ORDER BY cos DESC, n_id) AS INTEGER) AS rank
        |      FROM sc)
        |SELECT q_id, n_id, rank FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    // PQ: both oracles rebuild the codebooks from the 16 lowest-id
    // vectors' subvector slices. Squared distances are computed as
    // list_sum(list_transform(...)) — an in-order left fold over
    // dimensions, bit-identical to the codegen kernels' loops (plain
    // SUM/list_distance would aggregate in unspecified order / via
    // sqrt and drift in final ulps).
    // OPQ: the rotation is re-applied per dimension as a two-term
    // product sum (each output dim mixes exactly two input dims in the
    // pinned Givens-block literal; the MatVec kernel's 64-term
    // accumulation equals it exactly because zero-product additions are
    // identities), then the q78 ADC pipeline runs over the rotated
    // space verbatim.
    "q97_opq_adc_topk" ->
      """WITH rv AS (SELECT vec_id, list_transform(generate_series(1,64),
        |        i -> CASE WHEN i <= 32
        |             THEN 0.6*CAST(embedding[i] AS DOUBLE)
        |                + 0.8*CAST(embedding[i+32] AS DOUBLE)
        |             ELSE -0.8*CAST(embedding[i-32] AS DOUBLE)
        |                + 0.6*CAST(embedding[i] AS DOUBLE) END) AS rv
        |       FROM embeddings),
        |sub AS (SELECT UNNEST(generate_series(0,7)) AS s),
        |cw AS (SELECT sub.s, r.vec_id AS cid,
        |        list_transform(generate_series(1,8), i -> r.rv[sub.s*8+i]) AS cv
        |       FROM rv r, sub WHERE r.vec_id < 16),
        |ev AS (SELECT r.vec_id, sub.s,
        |        list_transform(generate_series(1,8), i -> r.rv[sub.s*8+i]) AS sv
        |       FROM rv r, sub),
        |asg AS (SELECT vec_id, s, cid FROM (
        |   SELECT ev.vec_id, ev.s, cw.cid,
        |     ROW_NUMBER() OVER (PARTITION BY ev.vec_id, ev.s ORDER BY
        |       list_sum(list_transform(generate_series(1,8),
        |         i -> (ev.sv[i]-cw.cv[i])*(ev.sv[i]-cw.cv[i]))), cw.cid) AS rn
        |   FROM ev JOIN cw ON ev.s = cw.s) WHERE rn = 1),
        |ncv AS (SELECT a.vec_id, a.s, cw.cv FROM asg a
        |        JOIN cw ON a.s = cw.s AND a.cid = cw.cid),
        |q AS (SELECT vec_id AS q_id, s, sv FROM ev WHERE vec_id < 10),
        |ps AS (SELECT q.q_id, n.vec_id AS n_id, q.s,
        |        list_sum(list_transform(generate_series(1,8),
        |          i -> (q.sv[i]-n.cv[i])*(q.sv[i]-n.cv[i]))) AS d
        |       FROM q JOIN ncv n ON q.s = n.s WHERE n.vec_id <> q.q_id),
        |dist AS (SELECT q_id, n_id, list_sum(list(d ORDER BY s)) AS dist
        |         FROM ps GROUP BY 1, 2),
        |rr AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |        ORDER BY dist ASC, n_id ASC) AS INTEGER) AS rank FROM dist)
        |SELECT q_id, n_id, rank FROM rr WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    "q77_pq_encode" ->
      (pqAsgCte +
        """SELECT vec_id, string_agg(CAST(cid AS VARCHAR), ',' ORDER BY s) AS pq_code
          |FROM asg GROUP BY 1 ORDER BY vec_id""".stripMargin),
    "q78_pq_adc_topk" ->
      (pqAsgCte + """,
        |ncv AS (SELECT a.vec_id, a.s, cw.cv FROM asg a
        |        JOIN cw ON a.s = cw.s AND a.cid = cw.cid),
        |q AS (SELECT vec_id AS q_id, s, sv FROM ev WHERE vec_id < 10),
        |ps AS (SELECT q.q_id, n.vec_id AS n_id, q.s,
        |        list_sum(list_transform(generate_series(1,8),
        |          i -> (q.sv[i]-n.cv[i])*(q.sv[i]-n.cv[i]))) AS d
        |       FROM q JOIN ncv n ON q.s = n.s WHERE n.vec_id <> q.q_id),
        |dist AS (SELECT q_id, n_id, list_sum(list(d ORDER BY s)) AS dist
        |         FROM ps GROUP BY 1, 2),
        |r AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |        ORDER BY dist ASC, n_id ASC) AS INTEGER) AS rank FROM dist)
        |SELECT q_id, n_id, rank FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin),
    "q82_ivfpq_topk" ->
      (pqAsgCte + """,
        |cent AS (SELECT vec_id AS ccid, embedding::DOUBLE[] AS cvec
        |         FROM embeddings WHERE vec_id < 8),
        |cell AS (SELECT vec_id, ccid FROM (
        |   SELECT e.vec_id, c.ccid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |     ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec), c.ccid) AS rn
        |   FROM embeddings e, cent c) WHERE rn = 1),
        |ncv AS (SELECT a.vec_id, a.s, cw.cv FROM asg a
        |        JOIN cw ON a.s = cw.s AND a.cid = cw.cid),
        |q AS (SELECT ev.vec_id AS q_id, ev.s, ev.sv, cell.ccid
        |      FROM ev JOIN cell ON ev.vec_id = cell.vec_id
        |      WHERE ev.vec_id < 10),
        |ps AS (SELECT q.q_id, n.vec_id AS n_id, q.s,
        |        list_sum(list_transform(generate_series(1,8),
        |          i -> (q.sv[i]-n.cv[i])*(q.sv[i]-n.cv[i]))) AS d
        |       FROM q JOIN ncv n ON q.s = n.s
        |       JOIN cell nc ON nc.vec_id = n.vec_id AND nc.ccid = q.ccid
        |       WHERE n.vec_id <> q.q_id),
        |dist AS (SELECT q_id, n_id, list_sum(list(d ORDER BY s)) AS dist
        |         FROM ps GROUP BY 1, 2),
        |r AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |        ORDER BY dist ASC, n_id ASC) AS INTEGER) AS rank FROM dist)
        |SELECT q_id, n_id, rank FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin),
    // q82's skeleton moved into RESIDUAL space: the cell-assign CTE
    // feeds a residual table (v − centroid of v's cell); codewords,
    // corpus codes and the query LUT are all built from residuals.
    "q154_ivfpq_residual_topk" ->
      """WITH cent AS (SELECT vec_id AS ccid, embedding::DOUBLE[] AS cvec
        |              FROM embeddings WHERE vec_id < 8),
        |cell AS (SELECT vec_id, ccid FROM (
        |   SELECT e.vec_id, c.ccid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |     ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec), c.ccid) AS rn
        |   FROM embeddings e, cent c) WHERE rn = 1),
        |resid AS (SELECT e.vec_id, cell.ccid,
        |    list_transform(generate_series(1,64),
        |      i -> CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) AS rv
        |  FROM embeddings e JOIN cell ON e.vec_id = cell.vec_id
        |  JOIN cent c ON cell.ccid = c.ccid),
        |sub AS (SELECT UNNEST(generate_series(0,7)) AS s),
        |rcw AS (SELECT sub.s, r.vec_id AS cid,
        |    list_transform(generate_series(1,8), i -> r.rv[sub.s*8+i]) AS cv
        |  FROM resid r, sub WHERE r.vec_id < 16),
        |rev AS (SELECT r.vec_id, r.ccid, sub.s,
        |    list_transform(generate_series(1,8), i -> r.rv[sub.s*8+i]) AS sv
        |  FROM resid r, sub),
        |asg AS (SELECT vec_id, s, cid FROM (
        |   SELECT rev.vec_id, rev.s, rcw.cid,
        |     ROW_NUMBER() OVER (PARTITION BY rev.vec_id, rev.s ORDER BY
        |       list_sum(list_transform(generate_series(1,8),
        |         i -> (rev.sv[i]-rcw.cv[i])*(rev.sv[i]-rcw.cv[i]))), rcw.cid) AS rn
        |   FROM rev JOIN rcw ON rev.s = rcw.s) WHERE rn = 1),
        |ncv AS (SELECT a.vec_id, a.s, cw.cv FROM asg a
        |        JOIN rcw cw ON a.s = cw.s AND a.cid = cw.cid),
        |q AS (SELECT rev.vec_id AS q_id, rev.s, rev.sv, rev.ccid
        |      FROM rev WHERE rev.vec_id < 10),
        |ps AS (SELECT q.q_id, n.vec_id AS n_id, q.s,
        |        list_sum(list_transform(generate_series(1,8),
        |          i -> (q.sv[i]-n.cv[i])*(q.sv[i]-n.cv[i]))) AS d
        |       FROM q JOIN ncv n ON q.s = n.s
        |       JOIN cell nc ON nc.vec_id = n.vec_id AND nc.ccid = q.ccid
        |       WHERE n.vec_id <> q.q_id),
        |dist AS (SELECT q_id, n_id, list_sum(list(d ORDER BY s)) AS dist
        |         FROM ps GROUP BY 1, 2),
        |r AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |        ORDER BY dist ASC, n_id ASC) AS INTEGER) AS rank FROM dist)
        |SELECT q_id, n_id, rank FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    // q43's cell-assign CTE (L2 argmin with the (dist, cid) tiebreak of
    // NearestCentroid) + the same-cell cosine pair join.
    "q89_semantic_neardup" ->
      """WITH cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        |              FROM embeddings WHERE vec_id < 8),
        |asg AS (SELECT vec_id, embedding, cid FROM (
        |  SELECT e.vec_id, e.embedding, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec), c.cid) AS rn
        |  FROM embeddings e, cent c) WHERE rn = 1)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,
    // q43's cell-assign CTE + the hashU32 rank device (q87's fixed-point
    // hash as a sort key): per-cell ROW_NUMBER over (hash, id) replays
    // the TopK aggregator's (ascending hash, lower-id tiebreak) order.
    "q102_cluster_sample" ->
      """WITH cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        |              FROM embeddings WHERE vec_id < 8),
        |asg AS (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec), c.cid) AS rn
        |  FROM embeddings e, cent c) WHERE rn = 1),
        |r AS (SELECT vec_id, cid,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY cid ORDER BY
        |         CAST(concat('0x', substr(md5(concat('cb1', '#',
        |           CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT),
        |         vec_id) AS INTEGER) AS rk
        |      FROM asg)
        |SELECT vec_id, cid AS cell, rk FROM r WHERE rk <= 8
        |ORDER BY vec_id""".stripMargin,
    // q42's edge list + a recursive min-reachable closure (tiny graph:
    // the verified near-dup pairs), grouped to (vertex, min reachable).
    "q73_dedup_clusters" ->
      """WITH RECURSIVE e AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label=b.label AND a.vec_id<b.vec_id
        |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4),
        |sym AS (SELECT a_id AS v, b_id AS u FROM e
        |        UNION SELECT b_id, a_id FROM e),
        |reach(v, r) AS (
        |  SELECT v, v FROM (SELECT DISTINCT v FROM sym)
        |  UNION
        |  SELECT s.v, reach.r FROM sym s JOIN reach ON s.u = reach.v)
        |SELECT v AS vec_id, MIN(r) AS cluster,
        |  CASE WHEN MIN(r) = v THEN 1 ELSE 0 END AS is_rep
        |FROM reach GROUP BY v ORDER BY vec_id""".stripMargin,
    // per-dim min/max over the same corpus, the same round/clamp
    // encode (both engines round positive halves away from zero),
    // all-integer symmetric distance — full-pipeline replay
    "q201_sq8_topk" ->
      """WITH mm AS (SELECT i, MIN(embedding[i]::DOUBLE) AS mn,
        |    MAX(embedding[i]::DOUBLE) AS mx
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) u(i)
        |  GROUP BY i),
        |codes AS (SELECT e.vec_id,
        |    list(CASE WHEN mm.mx = mm.mn THEN 0
        |      ELSE GREATEST(0, LEAST(255, CAST(round(
        |        (e.embedding[mm.i]::DOUBLE - mm.mn) * 255.0
        |          / (mm.mx - mm.mn)) AS INT))) END ORDER BY mm.i) AS c
        |  FROM embeddings e CROSS JOIN mm GROUP BY e.vec_id),
        |d AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |    CAST(list_sum(list_transform(generate_series(1, len(q.c)),
        |      i -> CAST(q.c[i] - n.c[i] AS BIGINT) * (q.c[i] - n.c[i])))
        |      AS BIGINT) AS sqdist
        |  FROM codes q JOIN codes n ON n.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |r AS (SELECT q_id, n_id, sqdist, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY sqdist ASC, n_id ASC)
        |    AS INTEGER) AS rank FROM d)
        |SELECT q_id, n_id, rank, sqdist FROM r WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    // q201's mm/codes CTEs + q43's cell-assignment CTE; within-cell
    // integer distance, (sqdist, n_id) rank
    "q203_ivf_sq8_topk" ->
      """WITH mm AS (SELECT i, MIN(embedding[i]::DOUBLE) AS mn,
        |    MAX(embedding[i]::DOUBLE) AS mx
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) u(i)
        |  GROUP BY i),
        |codes AS (SELECT e.vec_id,
        |    list(CASE WHEN mm.mx = mm.mn THEN 0
        |      ELSE GREATEST(0, LEAST(255, CAST(round(
        |        (e.embedding[mm.i]::DOUBLE - mm.mn) * 255.0
        |          / (mm.mx - mm.mn)) AS INT))) END ORDER BY mm.i) AS c
        |  FROM embeddings e CROSS JOIN mm GROUP BY e.vec_id),
        |cent AS (SELECT vec_id AS ccid, embedding::DOUBLE[] AS cvec
        |         FROM embeddings WHERE vec_id < 8),
        |cell AS (SELECT vec_id, ccid FROM (
        |   SELECT e.vec_id, c.ccid, ROW_NUMBER() OVER (
        |     PARTITION BY e.vec_id
        |     ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec),
        |       c.ccid) AS rn
        |   FROM embeddings e, cent c) WHERE rn = 1),
        |d AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |    CAST(list_sum(list_transform(generate_series(1, len(qc.c)),
        |      i -> CAST(qc.c[i] - nc.c[i] AS BIGINT) * (qc.c[i] - nc.c[i])))
        |      AS BIGINT) AS sqdist
        |  FROM cell q JOIN cell n
        |    ON q.ccid = n.ccid AND n.vec_id <> q.vec_id
        |  JOIN codes qc ON qc.vec_id = q.vec_id
        |  JOIN codes nc ON nc.vec_id = n.vec_id
        |  WHERE q.vec_id < 10),
        |r AS (SELECT q_id, n_id, sqdist, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY sqdist ASC, n_id ASC)
        |    AS INTEGER) AS rank FROM d)
        |SELECT q_id, n_id, rank, sqdist FROM r WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin,
    // q73's recursive closure for the clusters, q87's md5-u32 hash
    // intervals keyed on the cluster label (bounds 0.8*2^32, 0.9*2^32)
    "q134_leakage_safe_split" ->
      """WITH RECURSIVE e AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label=b.label AND a.vec_id<b.vec_id
        |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4),
        |sym AS (SELECT a_id AS v, b_id AS u FROM e
        |        UNION SELECT b_id, a_id FROM e),
        |reach(v, r) AS (
        |  SELECT v, v FROM (SELECT DISTINCT v FROM sym)
        |  UNION
        |  SELECT s.v, reach.r FROM sym s JOIN reach ON s.u = reach.v),
        |comp AS (SELECT v, MIN(r) AS comp FROM reach GROUP BY v),
        |cl AS (SELECT emb.vec_id,
        |         COALESCE(comp.comp, emb.vec_id) AS cluster
        |       FROM embeddings emb LEFT JOIN comp ON emb.vec_id = comp.v)
        |SELECT vec_id, cluster, CASE
        | WHEN CAST(concat('0x', substr(md5(concat('ls1','#',CAST(cluster AS VARCHAR))),1,8)) AS BIGINT) < 3435973836 THEN 'train'
        | WHEN CAST(concat('0x', substr(md5(concat('ls1','#',CAST(cluster AS VARCHAR))),1,8)) AS BIGINT) < 3865470565 THEN 'val'
        | ELSE 'test' END AS split
        |FROM cl ORDER BY vec_id""".stripMargin)

  /** Shared q42-edge-list CTE prefix (the near-dup graph every graph
    * query runs on). */
  private val nearDupEdgeCte =
    """WITH RECURSIVE e AS (
      |  SELECT a.vec_id AS a, b.vec_id AS b
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label=b.label AND a.vec_id<b.vec_id
      |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.2)
      |""".stripMargin

  private val triangleSql: String = nearDupEdgeCte +
    """,t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1 JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      |SELECT v AS vec_id, COUNT(*) AS n_triangles FROM (
      |  SELECT x AS v FROM t UNION ALL SELECT y FROM t
      |  UNION ALL SELECT z FROM t)
      |GROUP BY v ORDER BY vec_id""".stripMargin

  private val bfsSql: String = nearDupEdgeCte +
    """,sym AS (SELECT a AS u, b AS v FROM e
      |         UNION ALL SELECT b, a FROM e),
      |r(v, d) AS (
      |  SELECT vec_id, 0 FROM embeddings WHERE vec_id < 3
      |  UNION
      |  SELECT sym.v, r.d + 1 FROM sym JOIN r ON sym.u = r.v
      |  WHERE r.d < 8)
      |SELECT v AS vec_id, MIN(d) AS dist FROM r
      |GROUP BY v ORDER BY vec_id""".stripMargin

  /** q139 is the delta-maintenance path against q73's OWN ground truth
    * — one SQL text, two independent implementations checked (the
    * q115/q107 device). */
  private val clusteringSql: String = nearDupEdgeCte +
    """,deg AS (SELECT v, COUNT(*) AS d FROM
      |  (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1
      |  JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |tv AS (SELECT v, COUNT(*) AS tri FROM
      |  (SELECT x AS v FROM t UNION ALL SELECT y FROM t
      |   UNION ALL SELECT z FROM t) GROUP BY 1)
      |SELECT deg.v AS vec_id, deg.d AS degree,
      |  COALESCE(tv.tri, 0) AS n_triangles,
      |  CASE WHEN deg.d >= 2 THEN
      |    CAST(2 * COALESCE(tv.tri, 0) AS DOUBLE)
      |      / CAST(deg.d * (deg.d - 1) AS DOUBLE)
      |  ELSE 0.0 END AS clustering
      |FROM deg LEFT JOIN tv ON deg.v = tv.v
      |ORDER BY vec_id""".stripMargin

  /** The peel as a single-row recursive CTE: each round appends the
    * currently-alive sub-3-degree vertices to a carried removed-list
    * (deletion is non-monotone, so the LIST is the trick that fits it
    * into monotone recursion); extra rounds past the fixpoint append
    * empty lists — the fixpoint is idempotent. The round cap matches
    * kCore's own round limit (Graph.MaxKCoreRounds = 100) AND the tail
    * asserts the last two rounds agree, so a graph whose peeling depth
    * outruns the cap fails loudly as a harness error instead of reporting an
    * under-peeled (too large) core against a correct operator. */
  /** q189: the same 4 synchronous LPA rounds unrolled as CTE stages —
    * per round, neighbor-label counts then a (count desc, label asc)
    * rank-1 pick per vertex. Self-loops impossible (a < b in e). */
  private def lpaSql(iters: Int): String = {
    val head = nearDupEdgeCte +
      """,sym AS (SELECT DISTINCT u, v FROM (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e)),
        |l0 AS (SELECT DISTINCT u AS id, u AS label FROM sym)"""
        .stripMargin
    val rounds = (1 to iters).map { i =>
      s""",
         |c$i AS (SELECT sym.u AS id, l${i - 1}.label, COUNT(*) AS c
         |  FROM sym JOIN l${i - 1} ON sym.v = l${i - 1}.id
         |  GROUP BY 1, 2),
         |l$i AS (SELECT id, label FROM (
         |  SELECT id, label, row_number() OVER (
         |    PARTITION BY id ORDER BY c DESC, label) AS rn FROM c$i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString
    head + rounds +
      s"""
         |SELECT id AS vec_id, CAST(label AS BIGINT) AS community
         |FROM l$iters ORDER BY vec_id""".stripMargin
  }

  private val kcoreSql: String = nearDupEdgeCte +
    """,sym AS (SELECT a AS u, b AS v FROM e
      |         UNION ALL SELECT b, a FROM e),
      |peel(it, removed) AS (
      |  SELECT 0, CAST([] AS BIGINT[])
      |  UNION ALL
      |  SELECT it + 1, removed || (
      |    SELECT COALESCE(list(u ORDER BY u), CAST([] AS BIGINT[]))
      |    FROM (SELECT s.u FROM sym s
      |          WHERE NOT list_contains(p.removed, s.u)
      |            AND NOT list_contains(p.removed, s.v)
      |          GROUP BY s.u HAVING COUNT(*) < 3))
      |  FROM peel p WHERE it < 100),
      |fix AS (SELECT CASE WHEN
      |    (SELECT removed FROM peel WHERE it = 100) =
      |    (SELECT removed FROM peel WHERE it = 99)
      |  THEN (SELECT removed FROM peel WHERE it = 100)
      |  ELSE error('q159 oracle: peel not at fixpoint after 100 rounds')
      |  END AS removed)
      |SELECT s.u AS vec_id, COUNT(*) AS degree
      |FROM sym s, fix r
      |WHERE NOT list_contains(r.removed, s.u)
      |  AND NOT list_contains(r.removed, s.v)
      |GROUP BY s.u ORDER BY vec_id""".stripMargin

  /** q204: Similarity.trainCentroids unrolled — the q140/q188/q189
    * iterative-training oracle device applied to Lloyd. Stage by
    * stage: (1) the hash sample IS the corpus in
    * md5('kmeans#'||id) order (the operator's limit 4096 ≥ corpus at
    * every test SF); (2) farthest-point seeding = k−1 unrolled
    * stages, each LEAST-folding the running min-distance with the
    * newest pick and electing the (md DESC, rn ASC) rank-1 row —
    * exactly the JVM traversal's maxBy((minD, −i)); (3) each Lloyd
    * round = the q43 argmin-assignment CTE (same in-order
    * left-associated distance fold as the codegen kernel, same
    * (dist, cid) tie) + per-(cid, dim) integer-quantized mean —
    * floor(v·1e7 + 0.5) summed exactly (DuckDB HUGEINT vs Spark
    * DECIMAL(38,0)) and divided ONCE in IEEE — with empty cells
    * carrying the previous centroid via the LEFT JOIN COALESCE. */
  /** The in-order left-associated squared-L2 fold — the SQL mirror of
    * every JVM/codegen distance loop in the k-means family. */
  private def kmD2(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** Unrolled oracle for q270 — the full [[Similarity.opqRotation]]
    * pipeline at d=4, m=2, maxSweeps=2 as ONE CTE chain (the
    * kmeansSql/q188 unrolled-training device): 1e7-quantized exact
    * integer covariance moments → 12 cyclic-Jacobi rotations, each as
    * five CTE stages (off/live/theta → t → c → s → the two-phase
    * column/row cell updates), the per-sweep off accumulator and the
    * off>1e-12 sweep-2 guard CASE-replicated, eigen sort by
    * (λ desc, idx), and the count-first subspace deal reduced to the
    * monotone top-2 eigenvalue compare (at d=4/m=2 each bucket holds
    * one eigenvalue when the log-sum tiebreak first fires, and
    * log(max(λ,1e-300)) is strictly monotone in λ — so comparing the
    * clamped eigenvalues IS comparing the log products, no libm log
    * needed). Every float op is IEEE +,-,x,/,abs,sqrt on identical
    * trees, so the 4x4 rotation hash-replays bit-for-bit.
    *
    * [[opqRotationCte]] is the reusable prefix (`WITH qq …, posd`) for
    * oracles that COMPOSE the trained rotation into a search (q271 —
    * the kmeansCte device). */
  private def opqRotationSql(): String =
    opqRotationCte() + s"""
      |SELECT CAST(outp - 1 AS BIGINT) AS ri,
      |  CAST(u.i - 1 AS BIGINT) AS ci,
      |  (CASE u.i WHEN 1 THEN e1 WHEN 2 THEN e2 WHEN 3 THEN e3
      |   ELSE e4 END) AS r
      |FROM posd, unnest(generate_series(1, 4)) u(i)
      |ORDER BY ri, ci""".stripMargin

  private def opqRotationCte(): String = {
    val d = 4
    val pairs = for { p <- 0 until d - 1; q <- p + 1 until d } yield (p, q)
    def aN(i: Int, j: Int) = s"a$i$j"
    def vN(i: Int, j: Int) = s"v$i$j"
    val allA = for { i <- 0 until d; j <- 0 until d } yield aN(i, j)
    val allV = for { i <- 0 until d; j <- 0 until d } yield vN(i, j)
    val sums = (1 to d).map(i => s"SUM(qv[$i]) AS s$i").mkString(", ")
    val prods = (for { i <- 1 to d; j <- i to d }
      yield s"SUM(qv[$i]*qv[$j]) AS p$i$j").mkString(", ")
    val numCells = (for { i <- 1 to d; j <- i to d }
      yield s"n*p$i$j - s$i*s$j AS num$i$j").mkString(", ")
    val covCells = (for { i <- 0 until d; j <- 0 until d } yield {
      val (lo, hi) = (math.min(i, j) + 1, math.max(i, j) + 1)
      val nm = s"num$lo$hi"
      // correctly-rounded HUGEINT->DOUBLE by construction: DuckDB's
      // native int128 cast composes upper*2^64+lower in doubles and
      // DOUBLE-ROUNDS (1-ulp off the JVM's BigInt.toDouble on
      // boundary values — caught live at sf0.001). Splitting at 2^32
      // makes hi*2^32 an EXACT exponent shift and lo exact, so the
      // single IEEE add performs the one correct rounding.
      s"(CASE WHEN $nm < 0 THEN -1.0 ELSE 1.0 END) * " +
        s"(CAST(abs($nm) // 4294967296 AS DOUBLE) * 4294967296.0 + " +
        s"CAST(abs($nm) % 4294967296 AS DOUBLE)) / " +
        s"(CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*100000000000000.0)" +
        s" AS ${aN(i, j)}"
    }).mkString(",\n  ")
    val idV = (for { i <- 0 until d; j <- 0 until d }
      yield s"CAST(${if (i == j) "1.0" else "0.0"} AS DOUBLE)" +
        s" AS ${vN(i, j)}").mkString(", ")
    val sb = new StringBuilder
    sb.append(
      s"""WITH qq AS (SELECT list_transform(embedding[1:$d]::DOUBLE[],
         |    x -> CAST(floor(x * 10000000.0 + 0.5) AS HUGEINT)) AS qv
         |  FROM embeddings),
         |mom AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, $sums,
         |  $prods FROM qq),
         |nums AS (SELECT n, $numCells FROM mom),
         |st0 AS (SELECT
         |  $covCells,
         |  $idV,
         |  CAST(0.0 AS DOUBLE) AS off FROM nums)""".stripMargin)
    var cur = "st0"
    var t = 0
    var lastOfSweep = Map.empty[Int, String]
    for (sweep <- 1 to 2; ((p, q), k) <- pairs.zipWithIndex) {
      t += 1
      val apq = aN(p, q)
      val passCells = (allA ++ allV).mkString(", ")
      val off1Sel =
        if (sweep == 2 && k == 0) ", off AS off1"
        else if (sweep == 2) ", off1" else ""
      // the off accumulator RESETS at each sweep start (the Scala
      // `off = 0.0` at the top of the while body)
      val offExpr = if (k == 0) s"$apq*$apq" else s"off + $apq*$apq"
      sb.append(s""",
        |t${t}a AS (SELECT $passCells$off1Sel,
        |  $offExpr AS off,
        |  abs($apq) > 1e-300 AS live,
        |  (${aN(q, q)} - ${aN(p, p)}) / (2.0 *
        |    (CASE WHEN abs($apq) > 1e-300 THEN $apq ELSE 1.0 END))
        |    AS th
        |  FROM $cur)""".stripMargin)
      sb.append(s""",
        |t${t}b AS (SELECT *,
        |  CASE WHEN th = 0.0 THEN 1.0
        |       ELSE (CASE WHEN th < 0.0 THEN -1.0 ELSE 1.0 END) /
        |            (abs(th) + sqrt(th*th + 1.0)) END AS tt
        |  FROM t${t}a)""".stripMargin)
      sb.append(s""",
        |t${t}c AS (SELECT *, 1.0/sqrt(tt*tt + 1.0) AS cc
        |  FROM t${t}b)""".stripMargin)
      sb.append(s""",
        |t${t}d AS (SELECT *, tt*cc AS ss FROM t${t}c)""".stripMargin)
      def colVal(i: Int, j: Int): String =
        if (j == p) s"(CASE WHEN live THEN cc*${aN(i, p)} - " +
          s"ss*${aN(i, q)} ELSE ${aN(i, p)} END)"
        else if (j == q) s"(CASE WHEN live THEN ss*${aN(i, p)} + " +
          s"cc*${aN(i, q)} ELSE ${aN(i, q)} END)"
        else aN(i, j)
      def finVal(r: Int, c: Int): String =
        if (r == p) s"CASE WHEN live THEN cc*${colVal(p, c)} - " +
          s"ss*${colVal(q, c)} ELSE ${colVal(p, c)} END"
        else if (r == q) s"CASE WHEN live THEN ss*${colVal(p, c)} + " +
          s"cc*${colVal(q, c)} ELSE ${colVal(q, c)} END"
        else colVal(r, c)
      def vFin(r: Int, c: Int): String =
        if (r == p) s"CASE WHEN live THEN cc*${vN(p, c)} - " +
          s"ss*${vN(q, c)} ELSE ${vN(p, c)} END"
        else if (r == q) s"CASE WHEN live THEN ss*${vN(p, c)} + " +
          s"cc*${vN(q, c)} ELSE ${vN(q, c)} END"
        else vN(r, c)
      val newCells =
        (for { i <- 0 until d; j <- 0 until d }
          yield s"${finVal(i, j)} AS ${aN(i, j)}").mkString(",\n  ") +
        ",\n  " +
        (for { i <- 0 until d; j <- 0 until d }
          yield s"${vFin(i, j)} AS ${vN(i, j)}").mkString(",\n  ")
      sb.append(s""",
        |t${t}e AS (SELECT $newCells,
        |  off${if (sweep == 2) ", off1" else ""} FROM t${t}d)"""
        .stripMargin)
      cur = s"t${t}e"
      if (k == pairs.size - 1) lastOfSweep += (sweep -> cur)
    }
    val s1e = lastOfSweep(1)
    val s2e = lastOfSweep(2)
    val finDiag = (0 until d).map(i =>
      s"CASE WHEN s2x.off1 > 1e-12 THEN s2x.${aN(i, i)} " +
        s"ELSE s1x.${aN(i, i)} END AS fa$i").mkString(",\n  ")
    val finV = (for { i <- 0 until d; j <- 0 until d }
      yield s"CASE WHEN s2x.off1 > 1e-12 THEN s2x.${vN(i, j)} " +
        s"ELSE s1x.${vN(i, j)} END AS f${vN(i, j)}").mkString(",\n  ")
    val eigRows = (0 until d).map(i =>
      s"SELECT $i AS idx, fa$i AS lam, " +
        (0 until d).map(j => s"f${vN(i, j)} AS e${j + 1}")
          .mkString(", ") + " FROM fin").mkString("\n  UNION ALL ")
    sb.append(s""",
      |fin AS (SELECT
      |  $finDiag,
      |  $finV
      |  FROM $s1e s1x, $s2e s2x),
      |eig AS ($eigRows),
      |ordd AS (SELECT *, row_number() OVER (ORDER BY lam DESC, idx)
      |  AS o FROM eig),
      |flg AS (SELECT
      |  greatest((SELECT lam FROM ordd WHERE o = 1), 1e-300) >
      |  greatest((SELECT lam FROM ordd WHERE o = 2), 1e-300) AS ca),
      |posd AS (SELECT ordd.*, CASE o WHEN 1 THEN 1 WHEN 2 THEN 3
      |    WHEN 3 THEN (CASE WHEN ca THEN 4 ELSE 2 END)
      |    ELSE (CASE WHEN ca THEN 2 ELSE 4 END) END AS outp
      |  FROM ordd, flg)""".stripMargin)
    sb.toString
  }

  private def kmeansSql(k: Int, iters: Int): String =
    kmeansCte(k, iters) +
      s"""
         |SELECT cid, CAST(u.i - 1 AS INT) AS dim, cv[u.i] AS c
         |FROM c$iters, unnest(generate_series(1, len(cv))) u(i)
         |ORDER BY cid, dim""".stripMargin

  /** The reusable prefix of [[kmeansSql]]: `WITH samp …, c$iters(cid,
    * cv)` — the trained centroid table, for oracles that COMPOSE the
    * trained quantizer into a search (q206/q209) or train over a
    * DERIVED vector space (q215: `pre` injects preceding CTEs and
    * (`src`, `vexpr`) point the sample at them). */
  private def kmeansCte(k: Int, iters: Int, pre: String = "",
      src: String = "embeddings",
      vexpr: String = "embedding::DOUBLE[]"): String = {
    require(k >= 2 && iters >= 1, "oracle unroll needs k >= 2, iters >= 1")
    def d2(a: String, b: String): String = kmD2(a, b)
    val head =
      s"""WITH ${pre}samp AS (
        |  SELECT vec_id, $vexpr AS v,
        |    row_number() OVER (
        |      ORDER BY md5('kmeans#' || CAST(vec_id AS VARCHAR))) - 1 AS rn
        |  FROM $src),
        |m1 AS (SELECT s.rn, s.v, """.stripMargin +
        d2("s.v", "z.v") +
        """ AS md
          |  FROM samp s, (SELECT v FROM samp WHERE rn = 0) z),
          |p1 AS (SELECT v FROM (SELECT v, row_number() OVER (
          |    ORDER BY md DESC, rn ASC) AS r FROM m1) WHERE r = 1)"""
          .stripMargin
    val seeds = (2 until k).map { t =>
      s""",
         |m$t AS (SELECT m.rn, m.v, LEAST(m.md, ${d2("m.v", "p.v")}) AS md
         |  FROM m${t - 1} m, p${t - 1} p),
         |p$t AS (SELECT v FROM (SELECT v, row_number() OVER (
         |    ORDER BY md DESC, rn ASC) AS r FROM m$t) WHERE r = 1)"""
        .stripMargin
    }.mkString
    val c0 =
      s""",
         |c0 AS (SELECT CAST(0 AS BIGINT) AS cid, v AS cv
         |       FROM samp WHERE rn = 0""".stripMargin +
        (1 until k).map(t =>
          s"\n       UNION ALL SELECT $t, v FROM p$t").mkString + ")"
    val rounds = (1 to iters).map { r =>
      s""",
         |a$r AS (SELECT vec_id, v, cid FROM (
         |  SELECT s.vec_id, s.v, c.cid, row_number() OVER (
         |    PARTITION BY s.vec_id
         |    ORDER BY ${d2("s.v", "c.cv")}, c.cid) AS r2
         |  FROM samp s, c${r - 1} c) WHERE r2 = 1),
         |g$r AS (SELECT cid, i,
         |    CAST(SUM(CAST(floor(v[i] * 10000000.0 + 0.5) AS BIGINT))
         |      AS DOUBLE) / (COUNT(*) * 10000000.0) AS m
         |  FROM a$r, unnest(generate_series(1, len(v))) u(i)
         |  GROUP BY cid, i),
         |c$r AS (SELECT pd.cid, list(COALESCE(g.m, pd.pv) ORDER BY pd.i) AS cv
         |  FROM (SELECT c.cid, u.i, c.cv[u.i] AS pv
         |        FROM c${r - 1} c,
         |          unnest(generate_series(1, len(c.cv))) u(i)) pd
         |  LEFT JOIN g$r g ON g.cid = pd.cid AND g.i = pd.i
         |  GROUP BY pd.cid)""".stripMargin
    }.mkString
    head + seeds + c0 + rounds
  }

  /** q256: [[ivfTrainedSql]] with the query side fanned to its
    * `nProbe` nearest cells (rn <= nProbe over the same (d2, cid)
    * order the probeCells kernel sorts by). Each candidate lives in
    * exactly ONE cell, so the cell join yields each (query,
    * candidate) pair at most once — no dedup stage needed. */
  private def ivfTrainedProbedSql(k: Int, iters: Int,
      nProbe: Int): String =
    kmeansCte(k, iters) +
      s""",
         |asgt AS (SELECT vec_id, embedding, cid FROM (
         |  SELECT e.vec_id, e.embedding, c.cid, ROW_NUMBER() OVER (
         |    PARTITION BY e.vec_id
         |    ORDER BY ${kmD2("(e.embedding::DOUBLE[])", "c.cv")},
         |      c.cid) AS rn
         |  FROM embeddings e, c$iters c) WHERE rn = 1),
         |qp AS (SELECT vec_id AS q_id, qv, cid FROM (
         |  SELECT e.vec_id, e.embedding::DOUBLE[] AS qv, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${kmD2("(e.embedding::DOUBLE[])", "c.cv")},
         |        c.cid) AS rn
         |  FROM embeddings e, c$iters c WHERE e.vec_id < 10)
         | WHERE rn <= $nProbe),
         |scx AS (SELECT qp.q_id, a.vec_id AS n_id,
         |         list_cosine_similarity(qp.qv, a.embedding::DOUBLE[]) AS cos
         |        FROM qp JOIN asgt a USING (cid)
         |        WHERE a.vec_id <> qp.q_id),
         |rx AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (
         |        PARTITION BY q_id ORDER BY cos DESC, n_id) AS INTEGER)
         |        AS rank FROM scx)
         |SELECT q_id, n_id, rank FROM rx WHERE rank <= 3
         |ORDER BY q_id, rank""".stripMargin

  /** q206: the trained quantizer COMPOSED into the search — the
    * [[kmeansCte]] centroids feed q43's cell-assign + same-cell cosine
    * rank. Assignment ordering uses the exact in-order fold (the
    * kernel's own arithmetic) because the trained centroids are
    * computed doubles — sqrt-based list_distance could tie-break
    * differently at the last ulp. */
  private def ivfTrainedSql(k: Int, iters: Int): String =
    kmeansCte(k, iters) +
      s""",
         |asgt AS (SELECT vec_id, embedding, cid FROM (
         |  SELECT e.vec_id, e.embedding, c.cid, ROW_NUMBER() OVER (
         |    PARTITION BY e.vec_id
         |    ORDER BY ${kmD2("(e.embedding::DOUBLE[])", "c.cv")},
         |      c.cid) AS rn
         |  FROM embeddings e, c$iters c) WHERE rn = 1),
         |qx AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv, cid
         |       FROM asgt WHERE vec_id < 10),
         |scx AS (SELECT qx.q_id, a.vec_id AS n_id,
         |         list_cosine_similarity(qx.qv, a.embedding::DOUBLE[]) AS cos
         |        FROM qx JOIN asgt a USING (cid)
         |        WHERE a.vec_id <> qx.q_id),
         |rx AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (
         |        PARTITION BY q_id ORDER BY cos DESC, n_id) AS INTEGER)
         |        AS rank FROM scx)
         |SELECT q_id, n_id, rank FROM rx WHERE rank <= 3
         |ORDER BY q_id, rank""".stripMargin

  /** q209: q203's mm/codes/cell/distance skeleton with the coarse
    * quantizer TRAINED — [[kmeansCte]]'s centroids replace the pinned
    * rows, cell assignment ordered by the exact in-order fold (the
    * q206 rationale), everything after assignment the same all-integer
    * hash-exact arithmetic. */
  private def ivfSq8TrainedSql(k: Int, iters: Int): String =
    kmeansCte(k, iters) +
      s""",
         |mm AS (SELECT i, MIN(embedding[i]::DOUBLE) AS mn,
         |    MAX(embedding[i]::DOUBLE) AS mx
         |  FROM embeddings, unnest(generate_series(1, len(embedding))) u(i)
         |  GROUP BY i),
         |codes AS (SELECT e.vec_id,
         |    list(CASE WHEN mm.mx = mm.mn THEN 0
         |      ELSE GREATEST(0, LEAST(255, CAST(round(
         |        (e.embedding[mm.i]::DOUBLE - mm.mn) * 255.0
         |          / (mm.mx - mm.mn)) AS INT))) END ORDER BY mm.i) AS c
         |  FROM embeddings e CROSS JOIN mm GROUP BY e.vec_id),
         |cellt AS (SELECT vec_id, cid FROM (
         |   SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (
         |     PARTITION BY e.vec_id
         |     ORDER BY ${kmD2("(e.embedding::DOUBLE[])", "c.cv")},
         |       c.cid) AS rn
         |   FROM embeddings e, c$iters c) WHERE rn = 1),
         |dt AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |    CAST(list_sum(list_transform(generate_series(1, len(qc.c)),
         |      i -> CAST(qc.c[i] - nc.c[i] AS BIGINT) * (qc.c[i] - nc.c[i])))
         |      AS BIGINT) AS sqdist
         |  FROM cellt q JOIN cellt n
         |    ON q.cid = n.cid AND n.vec_id <> q.vec_id
         |  JOIN codes qc ON qc.vec_id = q.vec_id
         |  JOIN codes nc ON nc.vec_id = n.vec_id
         |  WHERE q.vec_id < 10),
         |rt AS (SELECT q_id, n_id, sqdist, CAST(row_number() OVER (
         |    PARTITION BY q_id ORDER BY sqdist ASC, n_id ASC)
         |    AS INTEGER) AS rank FROM dt)
         |SELECT q_id, n_id, rank, sqdist FROM rt WHERE rank <= 3
         |ORDER BY q_id, rank""".stripMargin

  /** q211: the MMR greedy loop unrolled — shortlist CTE (q40's rank
    * device at depth `shortlist`), stage 1 = pure-relevance rank-1,
    * each later stage = NOT-EXISTS anti over the selected union,
    * max-sim join, and a rank-1 pick on the mirrored literal tree
    * `0.5·rel − 0.5·ms` with the n_id tie. */
  private def mmrSql(k: Int, shortlist: Int): String = {
    require(k >= 2, "oracle unroll needs k >= 2")
    def selUnion(t: Int): String =
      (1 to t).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    val head =
      s"""WITH qm AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
         |           FROM embeddings WHERE vec_id < 10),
         |scm AS (SELECT q_id, vec_id AS n_id, embedding::DOUBLE[] AS nv,
         |         list_cosine_similarity(qv, embedding::DOUBLE[]) AS rel
         |        FROM embeddings, qm WHERE vec_id <> q_id),
         |cand AS (SELECT q_id, n_id, nv, rel FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |     ORDER BY rel DESC, n_id) AS rk FROM scm)
         |  WHERE rk <= $shortlist),
         |s1 AS (SELECT q_id, n_id, nv, rel FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |     ORDER BY rel DESC, n_id) AS rk FROM cand) WHERE rk = 1)"""
        .stripMargin
    val stages = (2 to k).map { t =>
      val sel = s"(${selUnion(t - 1)})"
      s""",
         |m$t AS (SELECT c.q_id, c.n_id, c.nv, c.rel,
         |         MAX(list_cosine_similarity(c.nv, s.nv)) AS ms
         |        FROM cand c JOIN $sel s ON s.q_id = c.q_id
         |        WHERE NOT EXISTS (SELECT 1 FROM $sel x
         |          WHERE x.q_id = c.q_id AND x.n_id = c.n_id)
         |        GROUP BY c.q_id, c.n_id, c.nv, c.rel),
         |s$t AS (SELECT q_id, n_id, nv, rel FROM (
         |   SELECT q_id, n_id, nv, rel, ROW_NUMBER() OVER (
         |     PARTITION BY q_id
         |     ORDER BY 0.5 * rel - 0.5 * ms DESC, n_id) AS rk
         |   FROM m$t) WHERE rk = 1)""".stripMargin
    }.mkString
    val tail = (1 to k).map(t =>
      s"SELECT q_id, n_id, CAST($t AS INT) AS mmr_rank FROM s$t")
      .mkString("\nUNION ALL ")
    head + stages + s"\nSELECT q_id, n_id, mmr_rank FROM (\n" +
      tail + ")\nORDER BY q_id, mmr_rank"
  }

  /** q215: q210's μ/σ CTEs build the z-scored space, [[kmeansCte]]
    * trains over it (`pre`/`src`/`vexpr` injection), then q102's
    * hash-rank quota and q63's split intervals run on the trained
    * cells — the whole recipe one certified SQL chain. */
  private def vectorCurationSql(k: Int, iters: Int, quota: Int): String = {
    val pre =
      """st AS (SELECT i - 1 AS dim, COUNT(*) AS n,
        |    CAST(SUM(CAST(floor(embedding[i]::DOUBLE * 10000000.0 + 0.5)
        |      AS BIGINT)) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(floor(embedding[i]::DOUBLE * 10000000.0 + 0.5)
        |        AS BIGINT) *
        |      CAST(floor(embedding[i]::DOUBLE * 10000000.0 + 0.5)
        |        AS BIGINT)) AS DOUBLE) AS ss
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) u(i)
        |  GROUP BY i),
        |ms AS (SELECT dim, s / (n * 10000000.0) AS mu,
        |    sqrt((CAST(n AS DOUBLE) * ss - s * s) /
        |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        * 100000000000000.0)) AS sd
        |  FROM st),
        |zv AS (SELECT e.vec_id,
        |    list(CASE WHEN ms.sd = 0 THEN 0.0
        |      ELSE (e.embedding[u.i]::DOUBLE - ms.mu) / ms.sd END
        |      ORDER BY u.i) AS v0
        |  FROM embeddings e,
        |    unnest(generate_series(1, len(e.embedding))) u(i)
        |  JOIN ms ON ms.dim = u.i - 1
        |  GROUP BY e.vec_id),
        |""".stripMargin
    kmeansCte(k, iters, pre = pre, src = "zv", vexpr = "v0") +
      s""",
         |asgv AS (SELECT vec_id, cid FROM (
         |   SELECT s.vec_id, c.cid, ROW_NUMBER() OVER (
         |     PARTITION BY s.vec_id
         |     ORDER BY ${kmD2("s.v", "c.cv")}, c.cid) AS rn2
         |   FROM samp s, c$iters c) WHERE rn2 = 1),
         |rq AS (SELECT vec_id, cid,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY cid ORDER BY
         |         CAST(concat('0x', substr(md5(concat('vc1', '#',
         |           CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT),
         |         vec_id) AS INTEGER) AS rk
         |      FROM asgv)
         |SELECT vec_id, cid AS cell, rk, CASE
         | WHEN CAST(concat('0x', substr(md5(concat('vs1','#',
         |   CAST(vec_id AS VARCHAR))),1,8)) AS BIGINT) < 3435973836
         |   THEN 'train'
         | WHEN CAST(concat('0x', substr(md5(concat('vs1','#',
         |   CAST(vec_id AS VARCHAR))),1,8)) AS BIGINT) < 3865470565
         |   THEN 'val'
         | ELSE 'test' END AS split
         |FROM rq WHERE rk <= $quota
         |ORDER BY vec_id""".stripMargin
  }

  /** q40's cosine-rank device filtered by NOT EXISTS over the q42
    * positive pairs (either orientation) — the exclusion then the
    * rank, exactly the Spark anti-join-before-window order. */
  private val hardNegSql: String =
    """WITH p AS (SELECT a.vec_id AS a, b.vec_id AS b
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label=b.label AND a.vec_id<b.vec_id
      |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4),
      |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
      |      FROM embeddings WHERE vec_id<10),
      |sc AS (SELECT q_id, vec_id AS n_id,
      |         list_cosine_similarity(qv, embedding::DOUBLE[]) AS cos
      |       FROM embeddings, q WHERE vec_id <> q_id),
      |f AS (SELECT * FROM sc WHERE NOT EXISTS (SELECT 1 FROM p
      |       WHERE (p.a = sc.q_id AND p.b = sc.n_id)
      |          OR (p.b = sc.q_id AND p.a = sc.n_id))),
      |r AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (
      |        PARTITION BY q_id ORDER BY cos DESC, n_id) AS INTEGER) AS rank
      |      FROM f)
      |SELECT q_id, n_id, rank FROM r WHERE rank<=3 ORDER BY q_id, rank""".stripMargin

  /** The same positive-pair CTE, but ranking by the md5 draw instead
    * of cosine — the uniform-negative replay. */
  private val randNegSql: String =
    """WITH p AS (SELECT a.vec_id AS a, b.vec_id AS b
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label=b.label AND a.vec_id<b.vec_id
      |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4),
      |q AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id<10),
      |sc AS (SELECT q_id, vec_id AS n_id,
      |         md5(concat('neg1','#',CAST(q_id AS VARCHAR),'#',CAST(vec_id AS VARCHAR))) AS h
      |       FROM embeddings, q WHERE vec_id <> q_id),
      |f AS (SELECT * FROM sc WHERE NOT EXISTS (SELECT 1 FROM p
      |       WHERE (p.a = sc.q_id AND p.b = sc.n_id)
      |          OR (p.b = sc.q_id AND p.a = sc.n_id))),
      |r AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (
      |        PARTITION BY q_id ORDER BY h ASC, n_id) AS INTEGER) AS rank
      |      FROM f)
      |SELECT q_id, n_id, rank FROM r WHERE rank<=3 ORDER BY q_id, rank""".stripMargin

  val oracleSql: Map[String, String] =
    oracleSqlBase +
      ("q161_hard_negatives" -> hardNegSql) +
      ("q162_random_negatives" -> randNegSql) +
      // batched miners face the SAME ground truth as their unbatched
      // twins (two implementations, one oracle — the q139/q164 device)
      ("q180_hard_negatives_batched" -> hardNegSql) +
      ("q181_random_negatives_batched" -> randNegSql) +
      ("q139_cc_delta" -> oracleSqlBase("q73_dedup_clusters")) +
      ("q164_cc_delta_loaded" -> oracleSqlBase("q73_dedup_clusters")) +
      ("q141_triangle_count" -> triangleSql) +
      ("q143_bfs_hops" -> bfsSql) +
      ("q153_clustering_coeff" -> clusteringSql) +
      ("q159_kcore" -> kcoreSql) +
      ("q189_label_propagation" -> lpaSql(4)) +
      ("q204_kmeans_train" -> kmeansSql(4, 2)) +
      ("q270_opq_rotation_trained" -> opqRotationSql()) +
      // the trained rotation's CTE chain feeds the q78 ADC pipeline
      // at subdim 2: rotated vectors via the same left-associated
      // 4-term MatVec sum, codebooks from the rotated vec_id<16
      // sample, encode argmin + per-query LUT distances + rank cut —
      // train and serve certified under ONE hash
      ("q271_opq_trained_adc" -> (opqRotationCte() + """,
        |rotm AS (SELECT CAST(outp - 1 AS BIGINT) AS ri,
        |    CAST(u.i - 1 AS BIGINT) AS ci,
        |    (CASE u.i WHEN 1 THEN e1 WHEN 2 THEN e2 WHEN 3 THEN e3
        |     ELSE e4 END) AS r
        |  FROM posd, unnest(generate_series(1, 4)) u(i)),
        |rotw AS (SELECT
        |    MAX(CASE WHEN ri=0 AND ci=0 THEN r END) AS r00,
        |    MAX(CASE WHEN ri=0 AND ci=1 THEN r END) AS r01,
        |    MAX(CASE WHEN ri=0 AND ci=2 THEN r END) AS r02,
        |    MAX(CASE WHEN ri=0 AND ci=3 THEN r END) AS r03,
        |    MAX(CASE WHEN ri=1 AND ci=0 THEN r END) AS r10,
        |    MAX(CASE WHEN ri=1 AND ci=1 THEN r END) AS r11,
        |    MAX(CASE WHEN ri=1 AND ci=2 THEN r END) AS r12,
        |    MAX(CASE WHEN ri=1 AND ci=3 THEN r END) AS r13,
        |    MAX(CASE WHEN ri=2 AND ci=0 THEN r END) AS r20,
        |    MAX(CASE WHEN ri=2 AND ci=1 THEN r END) AS r21,
        |    MAX(CASE WHEN ri=2 AND ci=2 THEN r END) AS r22,
        |    MAX(CASE WHEN ri=2 AND ci=3 THEN r END) AS r23,
        |    MAX(CASE WHEN ri=3 AND ci=0 THEN r END) AS r30,
        |    MAX(CASE WHEN ri=3 AND ci=1 THEN r END) AS r31,
        |    MAX(CASE WHEN ri=3 AND ci=2 THEN r END) AS r32,
        |    MAX(CASE WHEN ri=3 AND ci=3 THEN r END) AS r33
        |  FROM rotm),
        |rv AS (SELECT vec_id, [
        |    r00*CAST(embedding[1] AS DOUBLE)
        |    + r01*CAST(embedding[2] AS DOUBLE)
        |    + r02*CAST(embedding[3] AS DOUBLE)
        |    + r03*CAST(embedding[4] AS DOUBLE),
        |    r10*CAST(embedding[1] AS DOUBLE)
        |    + r11*CAST(embedding[2] AS DOUBLE)
        |    + r12*CAST(embedding[3] AS DOUBLE)
        |    + r13*CAST(embedding[4] AS DOUBLE),
        |    r20*CAST(embedding[1] AS DOUBLE)
        |    + r21*CAST(embedding[2] AS DOUBLE)
        |    + r22*CAST(embedding[3] AS DOUBLE)
        |    + r23*CAST(embedding[4] AS DOUBLE),
        |    r30*CAST(embedding[1] AS DOUBLE)
        |    + r31*CAST(embedding[2] AS DOUBLE)
        |    + r32*CAST(embedding[3] AS DOUBLE)
        |    + r33*CAST(embedding[4] AS DOUBLE)
        |  ] AS rv FROM embeddings, rotw),
        |subq AS (SELECT UNNEST(generate_series(0, 1)) AS s),
        |cw AS (SELECT subq.s, r.vec_id AS cid,
        |        list_transform(generate_series(1, 2),
        |          i -> r.rv[subq.s*2+i]) AS cv
        |       FROM rv r, subq WHERE r.vec_id < 16),
        |evv AS (SELECT r.vec_id, subq.s,
        |        list_transform(generate_series(1, 2),
        |          i -> r.rv[subq.s*2+i]) AS sv
        |       FROM rv r, subq),
        |asg AS (SELECT vec_id, s, cid FROM (
        |   SELECT evv.vec_id, evv.s, cw.cid,
        |     ROW_NUMBER() OVER (PARTITION BY evv.vec_id, evv.s ORDER BY
        |       list_sum(list_transform(generate_series(1, 2),
        |         i -> (evv.sv[i]-cw.cv[i])*(evv.sv[i]-cw.cv[i]))), cw.cid)
        |       AS rn
        |   FROM evv JOIN cw ON evv.s = cw.s) WHERE rn = 1),
        |ncv AS (SELECT a.vec_id, a.s, cw.cv FROM asg a
        |        JOIN cw ON a.s = cw.s AND a.cid = cw.cid),
        |qv AS (SELECT vec_id AS q_id, s, sv FROM evv WHERE vec_id < 10),
        |ps AS (SELECT qv.q_id, n.vec_id AS n_id, qv.s,
        |        list_sum(list_transform(generate_series(1, 2),
        |          i -> (qv.sv[i]-n.cv[i])*(qv.sv[i]-n.cv[i]))) AS d
        |       FROM qv JOIN ncv n ON qv.s = n.s
        |       WHERE n.vec_id <> qv.q_id),
        |dist AS (SELECT q_id, n_id, list_sum(list(d ORDER BY s)) AS dist
        |         FROM ps GROUP BY 1, 2),
        |rr AS (SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (
        |        PARTITION BY q_id ORDER BY dist ASC, n_id ASC)
        |        AS INTEGER) AS rank FROM dist)
        |SELECT q_id, n_id, rank FROM rr WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin)) +
      ("q206_ivf_trained_topk" -> ivfTrainedSql(4, 2)) +
      ("q256_ivf_probed_trained_topk" -> ivfTrainedProbedSql(4, 2, 2)) +
      // serving on saved codes must equal the inline pipelines —
      // same oracles as q78/q82 (two implementations, one ground truth)
      ("q207_pq_serve_on_codes" -> oracleSqlBase("q78_pq_adc_topk")) +
      ("q208_ivfpq_serve_on_codes" -> oracleSqlBase("q82_ivfpq_topk")) +
      ("q209_ivf_sq8_trained_topk" -> ivfSq8TrainedSql(4, 2)) +
      ("q211_mmr_rerank" -> mmrSql(3, 8)) +
      ("q215_vector_curation" -> vectorCurationSql(4, 2, 8)) +
      // per-dim quantized integer moments (HUGEINT vs DECIMAL(38,0)
      // — identical exact integers), then the SAME IEEE trees: one
      // division for mu, one fixed tree + sqrt for sigma, one
      // subtract-divide per z
      ("q210_embed_standardize" ->
        """WITH st AS (SELECT i - 1 AS dim, COUNT(*) AS n,
          |    CAST(SUM(CAST(floor(embedding[i]::DOUBLE * 10000000.0 + 0.5)
          |      AS BIGINT)) AS DOUBLE) AS s,
          |    CAST(SUM(CAST(floor(embedding[i]::DOUBLE * 10000000.0 + 0.5)
          |        AS BIGINT) *
          |      CAST(floor(embedding[i]::DOUBLE * 10000000.0 + 0.5)
          |        AS BIGINT)) AS DOUBLE) AS ss
          |  FROM embeddings, unnest(generate_series(1, len(embedding))) u(i)
          |  GROUP BY i),
          |ms AS (SELECT dim, s / (n * 10000000.0) AS mu,
          |    sqrt((CAST(n AS DOUBLE) * ss - s * s) /
          |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
          |        * 100000000000000.0)) AS sd
          |  FROM st)
          |SELECT e.vec_id, CAST(ms.dim AS INT) AS dim,
          |  CASE WHEN ms.sd = 0 THEN 0.0
          |    ELSE (e.embedding[u.i]::DOUBLE - ms.mu) / ms.sd END AS z
          |FROM embeddings e,
          |  unnest(generate_series(1, len(e.embedding))) u(i)
          |JOIN ms ON ms.dim = u.i - 1
          |ORDER BY e.vec_id, dim""".stripMargin) +
      ("q191_matryoshka_recall" ->
        """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
          |  FROM embeddings WHERE vec_id < 10),
          |scf AS (SELECT q_id, vec_id AS n_id,
          |    list_cosine_similarity(qv, embedding::DOUBLE[]) AS cos
          |  FROM embeddings, q WHERE vec_id <> q_id),
          |rf AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, ROW_NUMBER()
          |    OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
          |  FROM scf) WHERE rank <= 5),
          |sct AS (SELECT q_id, vec_id AS n_id,
          |    list_cosine_similarity(qv[1:32],
          |      (embedding::DOUBLE[])[1:32]) AS cos
          |  FROM embeddings, q WHERE vec_id <> q_id),
          |rt AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, ROW_NUMBER()
          |    OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
          |  FROM sct) WHERE rank <= 5),
          |sz AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS k_truth
          |  FROM rf GROUP BY 1),
          |ht AS (SELECT rf.q_id, CAST(COUNT(*) AS BIGINT) AS n_hit
          |  FROM rf JOIN rt ON rf.q_id = rt.q_id AND rf.n_id = rt.n_id
          |  GROUP BY 1)
          |SELECT sz.q_id, COALESCE(ht.n_hit, 0) AS n_hit, sz.k_truth,
          |  CAST(COALESCE(ht.n_hit, 0) AS DOUBLE) /
          |    CAST(sz.k_truth AS DOUBLE) AS recall
          |FROM sz LEFT JOIN ht ON sz.q_id = ht.q_id
          |ORDER BY sz.q_id""".stripMargin)
}
