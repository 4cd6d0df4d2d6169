package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data curation passes: hash sharding, sequence packing,
  * weighted corpus mixing and sampling.
  *
  * Everything is hash-derandomized (md5 over seed + row id, like
  * [[Sampling]]): the "random" order and the sampling decisions are pure
  * functions of (seed, id), so any engine, any partitioning, and any
  * re-run produce the SAME dataset — which is what makes a training run
  * reproducible and these operators oracle-checkable.
  */
object Curation {

  /** Engine-portable shuffle rank for (seed, id): md5 of `"seed#id"`.
    * Changing the seed re-permutes the corpus (new epoch order). */
  def shuffleKey(seed: String, id: Column): Column =
    md5(concat_ws("#", lit(seed), id.cast("string")))

  /** The first 8 hex digits of the shuffle key as a uniform long in
    * [0, 2^32) — the sampling/sharding coordinate. */
  def hashU32(seed: String, id: Column): Column =
    conv(substring(shuffleKey(seed, id), 1, 8), 16, 10).cast("long")

  /** The Efraimidis–Spirakis weighted-sampling key for (seed, id, w):
    * u = (hashU32 + 0.5)/2³² ∈ (0, 1), key = ln(u)/w. Taking the k
    * LARGEST keys is exactly a weighted sample WITHOUT replacement
    * with inclusion odds proportional to w (the classic A-ES result:
    * u^(1/w) order-equivalent to ln(u)/w). Deterministic per seed —
    * the draw is the hash, so the same corpus + seed select the same
    * rows on any cluster, any partitioning — and engine-portable:
    * the u division and ln are correctly-rounded IEEE ops that agree
    * bit-for-bit across JVM/glibc/DuckDB (oracle-verified). */
  def weightedSampleKey(seed: String, id: Column, weight: Column): Column =
    log((hashU32(seed, id).cast("double") + lit(0.5)) /
      lit(4294967296.0)) / weight.cast("double")

  /** Deterministic weighted sample without replacement: the k largest
    * [[weightedSampleKey]] rows (id tiebreak). Rows with NULL or ≤ 0
    * weight are excluded — zero weight means "never sample". Plans as
    * TakeOrdered (per-partition top-k, driver merge of k·partitions
    * candidates): the corpus is scanned once and never shuffled — the
    * right shape for "pick 10k docs from 100 TB by token count".
    * Output: input columns + `sample_key`. */
  def weightedSample(df: DataFrame, idCol: String, weight: Column,
      k: Int, seed: String): DataFrame = {
    require(k >= 1, "k must be >= 1")
    df.filter(weight.isNotNull && weight > 0)
      .withColumn("sample_key",
        weightedSampleKey(seed, col(idCol), weight))
      .orderBy(col("sample_key").desc, col(idCol).asc)
      .limit(k)
  }

  /** [[weightedSample]] per stratum: k largest keys in EVERY group —
    * balanced weighted subsampling (per-language, per-source…). The
    * rank-limit window plans as WindowGroupLimit: each task keeps its
    * local top-k per stratum BEFORE the shuffle, so the exchange moves
    * ≤ k·partitions rows per stratum, never the corpus. Output: input
    * columns + (sample_key, rank). */
  def weightedSampleStratified(df: DataFrame, strataCols: Seq[String],
      idCol: String, weight: Column, k: Int, seed: String): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(strataCols.nonEmpty, "need at least one stratum column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCols.map(col): _*)
      .orderBy(col("sample_key").desc, col(idCol).asc)
    df.filter(weight.isNotNull && weight > 0)
      .withColumn("sample_key",
        weightedSampleKey(seed, col(idCol), weight))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Uniform random negative sampling (the contrastive-training
    * counterpart of [[Similarity.hardNegatives]]): for each anchor,
    * k candidates drawn uniformly WITHOUT replacement from the corpus
    * minus self minus known positives — per anchor, candidates rank
    * by md5(seed#anchor#candidate) and the k smallest win, which is a
    * fresh uniform permutation per (seed, anchor) with no rejection
    * loop or dense-id requirement. `positives` pairs are undirected
    * (excluded in either orientation).
    *
    * Plan shape: one corpus scan × broadcast anchors + two broadcast
    * anti-joins; only (anchor, candidate, rank-hash) triples enter
    * the rank window — the corpus never shuffles. Candidate space is
    * |anchors|·|corpus|: right for broadcastable anchor batches (the
    * training-pair generation loop); for anchor sets too big to
    * broadcast whole, [[randomNegativesBatched]] shards them with
    * identical per-anchor results. Output: (q_id, n_id, rank). */
  def randomNegatives(corpus: DataFrame, idCol: String,
      positives: DataFrame, aCol: String, bCol: String,
      anchorPred: Column, k: Int, seed: String): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val c = corpus.select(col(idCol).as("n_id"))
    val q = corpus.filter(anchorPred).select(col(idCol).as("q_id"))
    val pos = positives.select(col(aCol).as("__pa"), col(bCol).as("__pb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("__r").asc, col("n_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .join(broadcast(pos),
        col("q_id") === col("__pa") && col("n_id") === col("__pb"),
        "left_anti")
      .join(broadcast(pos),
        col("q_id") === col("__pb") && col("n_id") === col("__pa"),
        "left_anti")
      .withColumn("__r", md5(concat_ws("#", lit(seed),
        col("q_id").cast("string"), col("n_id").cast("string"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank")
  }

  /** [[randomNegatives]] for anchor sets too big to broadcast whole
    * (the [[Similarity.hardNegativesBatched]] device): anchors
    * hash-split into `nBatches` deterministic batches, positives
    * restricted to each batch's anchors before broadcasting (semi-join
    * per orientation; duplicate build rows are harmless to an
    * anti-join), batches union. The md5 draw depends only on (seed,
    * anchor, candidate) — never on the batch — and the rank window
    * partitions by q_id, so per-anchor output is bit-identical to the
    * unbatched call (spec-asserted 2-batch == 1-batch): batching is a
    * broadcast-memory knob costing nBatches corpus scans. */
  def randomNegativesBatched(corpus: DataFrame, idCol: String,
      positives: DataFrame, aCol: String, bCol: String,
      anchorPred: Column, k: Int, seed: String, nBatches: Int)
      : DataFrame = {
    require(nBatches >= 1, "nBatches must be >= 1")
    (0 until nBatches).map { b =>
      val batchPred = anchorPred &&
        pmod(xxhash64(col(idCol)), lit(nBatches)) === b
      val aIds = corpus.filter(batchPred).select(col(idCol).as("__aid"))
      val posB = positives
          .join(broadcast(aIds), col(aCol) === col("__aid"), "left_semi")
        .unionByName(positives
          .join(broadcast(aIds), col(bCol) === col("__aid"), "left_semi"))
      randomNegatives(corpus, idCol, posB, aCol, bCol, batchPred, k, seed)
    }.reduce(_ unionByName _)
  }

  /** Per-group quota cap — the FineWeb/Dolma per-domain cap: keep at
    * most `k` rows per group, chosen by a DETERMINISTIC rank (the
    * caller's order columns must be a total order, e.g. quality desc +
    * id asc), so the kept set is a pure function of the data — no
    * sampling noise, engine-replayable. The standard defense against a
    * single crawl domain dominating a pretraining mix.
    *
    * One shuffle (the rank window partitions by the group). A mega
    * group pays one per-key sort — spill-aware, and AQE skew handling
    * does not split windows, so for quota-capping a group that alone
    * exceeds one task's capacity, pre-filter with a cheap upper bound
    * (e.g. keep only rows above the group's approximate k-th quantile)
    * before ranking. Output keeps all input columns + `quota_rank`
    * (1-based). */
  def groupQuota(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column], k: Int): DataFrame = {
    require(k >= 1, "quota k must be >= 1")
    groupQuotaRank(df, groupCols, order).filter(col("quota_rank") <= k)
  }

  /** The rank half of [[groupQuota]]: every row keeps its 1-based
    * `quota_rank`, nothing is cut — for callers that need the below-
    * quota rows labeled rather than dropped (e.g. a pipeline emitting
    * all survivors with the cut rows' rank nulled). [[groupQuota]] is
    * this plus `filter(rank <= k)` — composing them keeps the filter
    * directly over the window, which is the shape Catalyst rewrites
    * into a map-side WindowGroupLimit (≤ k rows per group leave each
    * task before the rank shuffle). */
  def groupQuotaRank(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column]): DataFrame = {
    require(groupCols.nonEmpty, "groupQuota needs group columns")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(order: _*)
    df.withColumn("quota_rank", row_number().over(w).cast("long"))
  }

  /** The tunable of [[curationPipeline]]: the LM-gate threshold
    * (floor-e9 mean bigram probability), live only when the pipeline
    * receives an lmModel. */
  final case class CurationConfig(lmMinMeanPE9: Long = 0L)

  /** The END-TO-END curation pipeline over a (doc_id, source, text)
    * frame, as ONE query: quality gate (>= 20 tokens, alpha ratio >=
    * 0.805) → corpus-level boilerplate-line removal over the survivors
    * (lines of 4 tokens, dropped when in more than 2 docs) → exact
    * corpus-wide line dedup keep-first → fingerprint near-dup clusters
    * on the ORIGINAL text → per-source quota of 10 ranked on CLEANED
    * length → leakage-safe 80/10/10 hash split keyed on the CLUSTER
    * (near-dup docs can never straddle train/test). The gated
    * flagship row (q197) pins these constants: change one and the
    * oracle row changes with it. Emits every quality survivor: kept
    * docs carry their quota_rank, cut docs carry NULL — which also
    * makes the cluster column non-vacuous (a doc whose twin won
    * keep-first shows cluster != doc_id and inherits the twin's
    * split).
    *
    * Plan shape (Spark has no common-subplan dedup, so the pipeline is
    * ONE linear frame handed stage to stage, never re-joined against
    * itself): the quality gate and line reconstruction fuse into a
    * single per-doc projection inside the scan; the two dedup stages
    * are the production operators (their internal re-references are
    * the only corpus re-reads, each a column-pruned scan by design);
    * the cluster attaches AFTER the heavy text stages from a slim
    * (doc_id, fingerprint) side chain restricted to survivors by the
    * join itself; quota rank and split are two slim-row windows at the
    * tail. The naive composition that re-joined the gated corpus per
    * stage planned 36 parquet scans; this shape plans 4 (+1 in the
    * boilerplate pass-1 collect job).
    *
    * `lmModel`: an optional TRAINED n-gram model
    * ([[NgramLm.train]] output, MATERIALIZED — the scorer references
    * it several times) of the (order, smoother) `lmScorer` names.
    * When provided, a CCNet-style LM-scored quality gate runs FIRST:
    * every document scores through [[NgramLm.facts]] (the q250
    * derivation verbatim) and only docs with floor-e9 mean n-gram
    * probability >= `cfg.lmMinMeanPE9` enter the pipeline. The
    * compare is exact-integer (`sum_p_e9 >= n_bigrams·τ` ⇔
    * `mean_p_e9 >= τ` for integer τ — no division); sub-2-token docs
    * have no facts row and are cut by an active gate (the heuristic
    * token gate would cut them anyway). Scale: the scorer's instance
    * joins + ONE delta-slim semi-join back on doc_id; everything
    * downstream sees only survivors, so the boilerplate line
    * frequencies and quota ranks are computed over the LM-gated
    * corpus (the composition order the CCNet recipe uses). */
  def curationPipeline(d: DataFrame,
      cfg: CurationConfig = CurationConfig(),
      lmModel: Option[Map[Int, DataFrame]] = None,
      lmScorer: (Int, NgramLm.Smoother) = (2, NgramLm.Fixed)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gated = lmModel match {
      case Some(m) =>
        // the scorer is pluggable (any order × smoother). The compare
        // is exact-integer (sum ≥ n·τ ⇔ mean ≥ τ — no division),
        // widened to DECIMAL(38,0) so it cannot wrap at 100 TB
        // instance counts.
        val (order, smoother) = lmScorer
        val facts = NgramLm.facts(d, "doc_id", "text", m, order, smoother,
          None)
        val nCol = NgramLm.countCol(order)
        val dec38 = (c: Column) => c.cast("decimal(38,0)")
        // the keep set is materialized so the pipeline below plans
        // against a leaf instead of re-carrying the whole scorer tree
        // (Catalyst planning over the composed plan was the measured
        // cost, guide 7.3); corpus-bounded, so NO broadcast hint —
        // AQE picks the strategy from the real size at runtime
        val keep = facts
          .filter(dec38(col("sum_p_e9")) >=
            dec38(col(nCol)) * dec38(lit(cfg.lmMinMeanPE9)))
          .select(col("doc_id"))
          .localCheckpoint(true)
        d.join(keep, Seq("doc_id"), "leftsemi")
      case None => d
    }
    val perDoc = TextAnalysis.withQualitySignals(gated, "text")
      .filter(col("n_tokens") >= 20L && col("alpha_ratio") >= 0.805)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.rebuiltLineText(
          graft.functions.TextFunctions.tokens(col("text")), 4).as("text"))
    val bp = Dedup.removeBoilerplateLines(perDoc, "doc_id", "text",
      maxDocFreq = 2)
    val cleaned = Dedup.dedupLinesKeepFirst(
        bp.select("doc_id", "source", "text"), "doc_id", "text")
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n_chars_clean"))
    val fp = TextAnalysis.withFingerprint(d, "text")
      .select("doc_id", "fingerprint")
    val clustered = cleaned.join(fp, "doc_id")
      .withColumn("cluster",
        min(col("doc_id")).over(Window.partitionBy("fingerprint")))
    val ranked = groupQuotaRank(clustered,
        groupCols = Seq("source"),
        order = Seq(col("n_chars_clean").desc, col("doc_id").asc))
      .withColumn("quota_rank",
        when(col("quota_rank") <= 10L, col("quota_rank")))
    assignSplits(ranked, "cluster", "cp1",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "source", "n_chars_clean", "quota_rank",
        "cluster", "split")
  }

  /** Shard assignment in [0, nShards) — stable bucketing for sharded
    * training export (each shard is itself hash-shuffled). */
  def shard(seed: String, id: Column, nShards: Int): Column =
    pmod(hashU32(seed, id), lit(nShards.toLong))

  /** Length-grouped micro-batching — the padding-waste minimizer of
    * training dataloaders (the "sortish"/LengthGroupedSampler idea,
    * made deterministic): within each hash shard, documents order by
    * (length asc, id asc) and group into fixed `batchSize` batches, so
    * a batch's padded cost `batch_max · B` hugs its token sum instead
    * of the corpus max. Emits per doc: shard, batch_idx, batch_offset,
    * the batch's max length and the doc's own padding waste
    * (batch_max − len) — exact integers, so the whole layout is a pure
    * function of (seed, ids, lengths).
    *
    * Scale: one shard-keyed shuffle; both windows (the rank and the
    * per-batch max) share it. Same posture as [[packSequences]]:
    * per-shard streams, parallelism = nShards. */
  def lengthGroupedBatches(df: DataFrame, idCol: String,
      lenCol: String, batchSize: Int, seed: String,
      nShards: Int): DataFrame = {
    require(batchSize >= 1 && nShards >= 1,
      "need batchSize >= 1 and nShards >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("__len").asc, col(idCol).asc)
    val base = df.select(col(idCol), col(lenCol).cast("long").as("__len"))
      .withColumn("shard", shard(seed, col(idCol), nShards))
      .withColumn("__rn", row_number().over(w).cast("long"))
      // `div`, not `/`: Spark's / is true division (DOUBLE)
      .withColumn("batch_idx", expr(s"(__rn - 1) div $batchSize"))
      .withColumn("batch_offset", (col("__rn") - 1) % batchSize)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy("shard", "batch_idx")
    base.select(col(idCol), col("shard"), col("batch_idx"),
      col("batch_offset"), col("__len").as("n_tokens"),
      max(col("__len")).over(wb).as("batch_max"),
      (max(col("__len")).over(wb) - col("__len")).as("pad_waste"))
  }

  /** Sequence packing for causal-LM training: documents concatenate in
    * seed-deterministic shuffle order within each shard, and every
    * `budget` tokens starts a new training sequence. Emits, per
    * document: its shard, the pack (training sequence) its FIRST token
    * lands in, and its token offset within that pack — the layout a
    * chunked-concatenation data loader consumes (a document may
    * straddle a pack boundary; the loader's chunking spills its tail
    * into the next sequence, which is why only the start position needs
    * materializing).
    *
    * Scale: packing is per-shard (`PARTITION BY shard`) — a GLOBAL
    * running sum over an unpartitioned window would execute on a single
    * task, the classic window scale-killer; per-shard streams are also
    * the real training layout (each data-loader worker owns whole
    * shards). Plan: one hash shuffle on shard + one in-partition sort —
    * and every value is a pure function of (seed, id, token counts), so
    * re-runs and other engines reproduce it bit-for-bit. */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
      budget: Long, seed: String, nShards: Int): DataFrame = {
    require(budget >= 1, "pack budget must be >= 1 token")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("__skey"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("shard", shard(seed, col(idCol), nShards))
      .withColumn("__skey", shuffleKey(seed, col(idCol)))
      .withColumn("__start",
        sum(col(tokensCol).cast("long")).over(w) - col(tokensCol).cast("long"))
      .withColumn("pack", expr(s"__start div $budget"))
      .withColumn("pack_offset", col("__start") % budget)
      .drop("__skey", "__start")
  }

  /** Benchmark-contamination check: per corpus document, the fraction of
    * its distinct word n-gram shingles that also occur anywhere in
    * `evalSet` (the held-out benchmark corpus). The eval shingle
    * vocabulary BROADCASTS — an eval suite is KBs–MBs of shingles
    * against a 100 TB corpus, so the corpus side never shuffles; the
    * whole check is scan + broadcast-probe + per-doc partial agg.
    * `evalSet` only needs `textCol`. NULL-text corpus docs shingle to
    * NULL and are absent from the output (they can't be contaminated;
    * count docs, not output rows, for denominator-style metrics). */
  def contamination(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    def sh(c: Column) = explode(graft.functions.expressions.TextExpressions
      .wordShingles(c, n)).as("__sh")
    val evalSh = evalSet.select(sh(col(textCol))).distinct()
      .withColumn("__hit", lit(1L))
    corpus.select(col(idCol), sh(col(textCol)))
      .join(broadcast(evalSh), Seq("__sh"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination",
        col("n_contaminated").cast("double") /
          col("n_shingles").cast("double"))
  }

  /** Weighted corpus mixing: keep each row of stratum `sourceCol` with
    * its configured probability (unlisted sources drop). Map-only — the
    * mix of a 100 TB corpus is one filter pass, no shuffle; thresholds
    * are fixed longs so the selection is exact, not approximate. */
  def mixSources(df: DataFrame, sourceCol: String, idCol: String,
      weights: Seq[(String, Double)], seed: String): DataFrame = {
    require(weights.forall { case (_, w) => w >= 0.0 && w <= 1.0 },
      "mix weights must be in [0, 1]")
    val threshold = weights.foldLeft(lit(0L)) { case (acc, (src, w)) =>
      when(col(sourceCol) === src, lit((w * (1L << 32)).toLong)).otherwise(acc)
    }
    df.filter(hashU32(seed, col(idCol)) < threshold)
  }

  /** Per-source dataset card — the corpus report a training run is
    * configured from: document/token/char counts, corpus-level alpha
    * ratio, and the number of docs that are exact duplicates of ANY
    * corpus doc (cross-source: boilerplate shared between sources shows
    * up in both rows). Every statistic is an exact integer sum or ONE
    * division of two exact sums — bit-reproducible under any
    * partitioning, no order-dependent double accumulation.
    *
    * Plan: one 16-byte-digest aggregation + a digest join (never the
    * text), then a per-source aggregation — three shuffles total,
    * each over slim rows. */
  def datasetCard(df: DataFrame, sourceCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    // NULL text must still count as a document: null md5 keys would
    // vanish in the equi-join (and so would the doc) — key them to a
    // sentinel that no 32-hex digest can collide with, and count them
    // with 0 tokens/chars
    val base = df.select(col(sourceCol),
      coalesce(md5(t), lit("null")).as("__h"),
      coalesce(size(graft.functions.TextFunctions.tokens(t)).cast("long"),
        lit(0L)).as("__ntok"),
      coalesce(length(t).cast("long"), lit(0L)).as("__nch"),
      coalesce(graft.functions.TextFunctions.alphaChars(t).cast("long"),
        lit(0L)).as("__nal"))
    val copies = base.groupBy("__h").agg(count(lit(1)).as("__copies"))
    base.join(copies, Seq("__h"))
      .groupBy(sourceCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("n_tokens"),
        sum(col("__nch")).as("n_chars"),
        // all-empty source: pin to 0.0 (the q33 contract), not NULL/NaN
        when(sum(col("__nch")) === 0, lit(0.0))
          .otherwise(sum(col("__nal")).cast("double") /
            sum(col("__nch")).cast("double")).as("alpha_ratio"),
        sum((col("__copies") > 1).cast("long")).as("dup_docs"))
  }

  /** Deterministic train/val/test assignment: each row lands in the
    * split whose cumulative hash interval contains its u32 coordinate.
    * Map-only (one filter-free scan), reproducible across engines,
    * partitionings and re-runs, and STABLE UNDER CORPUS GROWTH — a
    * document keeps its split when new data arrives, which is the
    * property that keeps eval sets from leaking into training between
    * refreshes (a row_number-based split reassigns everything on every
    * insert). Fractions are fixed-point longs over 2^32, so boundaries
    * are exact, not float-accumulated. */
  def assignSplits(df: DataFrame, idCol: String, seed: String,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 >= 0.0), "split fractions must be >= 0")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val bounds = splits.scanLeft(0L) { case (acc, (_, f)) =>
      acc + (f * (1L << 32)).toLong
    }.tail
    val u = hashU32(seed, col(idCol))
    // the last split takes the remainder, so rounding never drops a row
    val expr = splits.init.zip(bounds).reverse.foldLeft(
        lit(splits.last._1)) { case (acc, ((name, _), bound)) =>
      when(u < bound, lit(name)).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** Leakage-safe split assignment: [[assignSplits]] hashed on the
    * NEAR-DUP CLUSTER instead of the item id, so two near-duplicate
    * documents can never straddle train/test — the split-time guard
    * against the contamination q64 only measures after the fact. (A
    * per-doc hash split puts ~2·p·(1−p) of every dup pair's mass across
    * the boundary; eval on such a split scores memorization.)
    *
    * `pairs` is any near-dup edge list (MinHash, SimHash, embedding
    * cosine — the [[Dedup]] family); items absent from it are singleton
    * clusters of themselves. Clusters come from
    * [[Dedup.connectedComponents]] (min reachable id), so the cluster
    * label — and therefore the split — is stable under corpus growth
    * exactly as long as the min id of the component is, and transitive
    * chains (a~b, b~c) land whole.
    *
    * Scale shape: the component table is PAIRS-sized (only items that
    * appear in an edge), never corpus-sized — the left join back to
    * `items` broadcasts whenever the dup set does, and the hash
    * assignment stays map-only. Output adds `cluster` and `split`.
    */
  def leakageSafeSplit(items: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String, bCol: String, seed: String,
      splits: Seq[(String, Double)]): DataFrame = {
    val comp = Dedup.connectedComponents(pairs, aCol, bCol)
      .select(col("id").as("__cc_id"), col("comp").as("__cc_comp"))
    val clustered = items
      .join(comp, col(idCol) === col("__cc_id"), "left")
      .withColumn("cluster", coalesce(col("__cc_comp"), col(idCol)))
      .drop("__cc_id", "__cc_comp")
    assignSplits(clustered, "cluster", seed, splits)
  }

  /** Epoch-weighted UP-sampling mix — the complement of [[mixSources]]
    * (which can only thin): a source with weight w is replicated
    * `floor(w)` times plus one more copy with probability `frac(w)`,
    * hash-derandomized per row. Emits a `copy` index (0-based) so
    * output rows stay distinct and a downstream hash shuffle
    * ([[shuffleKey]]) by (id, copy) spreads the replicas through the
    * epoch instead of leaving them adjacent.
    *
    * Map-only fanout: `explode(sequence(...))` inside the scan — no
    * shuffle, no join; upweighting a 100 TB source is one pass writing
    * w× the bytes (which is the floor for any engine — the copies must
    * exist in the epoch stream). Unlisted sources default to weight 1.
    * Integer weights replicate exactly; the fractional copy reuses the
    * [[hashU32]] coordinate with a dedicated "up" seed so it is
    * independent of any [[mixSources]] decision on the same seed. */
  def upsampleSources(df: DataFrame, sourceCol: String, idCol: String,
      weights: Seq[(String, Double)], seed: String): DataFrame = {
    require(weights.forall(_._2 >= 0.0), "upsample weights must be >= 0")
    val whole = weights.foldLeft(lit(1L)) { case (acc, (src, w)) =>
      when(col(sourceCol) === src, lit(w.toLong)).otherwise(acc)
    }
    val fracThreshold = weights.foldLeft(lit(0L)) { case (acc, (src, w)) =>
      when(col(sourceCol) === src,
        lit(((w - w.toLong) * (1L << 32)).toLong)).otherwise(acc)
    }
    val extra = (hashU32(s"up#$seed", col(idCol)) < fracThreshold)
      .cast("long")
    val nCopies = whole + extra
    // explode (not _outer) already drops the weight-0 rows: their
    // sequence column is null
    df.withColumn("copy",
      explode(when(nCopies > 0, sequence(lit(0L), nCopies - 1))))
  }

  /** Cluster-balanced (diversity) subsample: quantize every embedding
    * to its nearest centroid ([[Similarity.ivfAssign]] — the same
    * map-only codegen pass SemDeDup uses for its cells), then keep at
    * most `quota` rows PER CELL, chosen by the [[hashU32]] coordinate
    * (ascending hash, id tiebreak). Capping every cell at the same
    * quota is the standard diversity-preserving subsample: dominant
    * clusters (boilerplate, near-identical web pages) stop drowning out
    * rare ones, and the within-cell choice is hash-derandomized so any
    * engine, partitioning, or re-run keeps the SAME rows. (Stability is
    * re-RUN stability, not growth stability: a newly arrived row with a
    * smaller hash can displace a kept one — rank within a cell is
    * relative, unlike [[assignSplits]]' absolute hash intervals.)
    *
    * Plan shape: the corpus never shuffles for the assignment (broadcast
    * centroid matrix, codegen nearest-centroid), and the per-cell
    * selection runs through [[Sketches.groupedTopK]]'s bounded
    * aggregator — every map task keeps at most `quota` candidates per
    * cell (partial aggregation), so the one shuffle moves
    * ≤ quota × cells × partitions candidate triples, NOT the corpus,
    * and no per-cell sort of the full cell ever happens. That is the
    * 100 TB shape: a giant cell costs what a small one costs beyond
    * the scan. (A window `row_number` formulation would sort whole
    * cells — exactly the few-key ceiling the interval operators had.)
    *
    * Output: (idCol, cell, rk) — rk 1-based in hash order. */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, quota: Int, seed: String): DataFrame = {
    require(quota >= 1, "quota must be >= 1")
    val assigned = Similarity.ivfAssign(df, idCol, vecCol, centroids)
      // negate: TopK keeps HIGHEST score first (ties -> lower id), so
      // -hash ranks ascending hash; hashU32 < 2^32 never overflows
      .withColumn("__nh", -hashU32(seed, col(idCol)))
    Sketches.groupedTopK(assigned, "cid", idCol, "__nh", quota)
      .select(col(idCol), col("cid").as("cell"), col("rank").as("rk"))
  }

  /** DPO/RLHF preference-pair construction: per group (a prompt, a
    * source, a cluster), emit the best- and worst-scored members as a
    * (chosen, rejected) pair with its margin. Deterministic extremes —
    * chosen = max(score, id), rejected = min(score, id) — so an
    * all-tied group still yields a stable (highest-id, lowest-id)
    * pair; groups with one usable row emit nothing; NULL scores never
    * participate.
    *
    * ONE hash aggregation with map-side partial min/max structs — no
    * window, no per-group sort: a million-member group costs what a
    * two-member group costs beyond the scan, and only (group,
    * 2×struct, count) partials shuffle. */
  def preferencePairs(df: DataFrame, groupCol: String, idCol: String,
      scoreCol: String): DataFrame =
    // NaN would win every max (Spark orders NaN above all doubles) —
    // exclude it with the NULLs; the double cast makes the guard
    // type-safe for decimal scores too
    df.where(col(scoreCol).isNotNull &&
        !isnan(col(scoreCol).cast("double")))
      .groupBy(col(groupCol))
      .agg(
        max(struct(col(scoreCol).as("__s"), col(idCol).as("__i")))
          .as("__c"),
        min(struct(col(scoreCol).as("__s"), col(idCol).as("__i")))
          .as("__r"),
        count(lit(1)).as("__n"))
      .where(col("__n") > 1 && col("__c.__i") =!= col("__r.__i"))
      .select(col(groupCol),
        col("__c.__i").as("chosen_id"),
        col("__r.__i").as("rejected_id"),
        col("__c.__s").as("chosen_score"),
        col("__r.__s").as("rejected_score"),
        (col("__c.__s") - col("__r.__s")).as("margin"))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data" §4.3): per language, rank documents by trained-LM score
    * and split into HEAD / MIDDLE / TAIL tertiles — the partition
    * CCNet publishes and downstream corpora (e.g. the LLaMA recipe)
    * select on. Higher mean probability = lower perplexity = head,
    * so the rank is (mean_p_e9 DESC, id) — fully deterministic, and
    * `ntile(3)` is engine-portable (same fencepost rule in Spark and
    * DuckDB, pinned by q55's quartiles). The scorer is
    * [[NgramLm.scoreDocs]] at order 2 with the fixed smoother. Scale:
    * the scorer's instance joins (linear), then ONE window keyed by
    * language — the corpus shuffles once on the
    * language key; no global sort. */
  def ccnetBuckets(docs: DataFrame, idCol: String, langCol: String,
      textCol: String, lmModel: Map[Int, DataFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = NgramLm.scoreDocs(docs, idCol, textCol, lmModel, 2,
      NgramLm.Fixed, None)
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("mean_p_e9").desc, col(idCol))
    docs.select(col(idCol), col(langCol))
      .join(scored.select(col(idCol), col("mean_p_e9")), Seq(idCol))
      .withColumn("__t", ntile(3).over(w))
      .select(col(idCol), col(langCol), col("mean_p_e9"),
        when(col("__t") === 1, lit("head"))
          .when(col("__t") === 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** UniMax mixture allocation (Chung et al., "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", ICLR 2023): split a total training-token `budget`
    * across groups (languages / domains / sources) so that no group
    * repeats more than `epochCap` epochs and the remaining budget is
    * shared as evenly as possible — the epoch-capped water-filling
    * that replaces temperature sampling.
    *
    * The paper's algorithm is a sequential loop (groups ascending by
    * size; each takes `min(cap, remaining/m)`); this is its exact
    * closed form in ONE window pass over the per-group totals, all
    * integer arithmetic (floor division), so the allocation replays
    * bit-for-bit in any engine:
    *
    *   - sort by (cap = epochCap·tokens, group); a group is CAPPED iff
    *     `cap_i·(k−i+1) ≤ budget − Σ_{j<i} cap_j` — the boundary is
    *     monotone (if it fails at i it fails at every later i), so the
    *     capped set is the prefix before `i* = first uncapped row`;
    *   - the uncapped tail even-splits the leftover R over m rows with
    *     floor fairness, whose closed form is
    *     `alloc_j = (R + j − 1) div m` (the +j−1 spreads the remainder
    *     over the LAST rows exactly as the sequential loop does).
    *
    * Output per group: `n_tokens`, `cap_tokens`, `alloc_tokens`,
    * `epochs_milli` (= allocated epochs ×1000, floor).
    *
    * Scale shape: the only corpus-sized work is the per-group token
    * aggregation (map-side partials; the shuffle carries one row per
    * group per task). The window math runs on |groups| rows — a
    * single-task frame by design: mixture groups are languages or
    * domains, inherently ≤ thousands. Overflow bound (documented, not
    * checked): `epochCap·Σtokens·|groups|` must stay below 2⁶³ —
    * at 100 TB (~2.5·10¹³ tokens), epochCap 4 and 10⁴ groups is
    * ~10¹⁸, inside the bound.
    *
    * The budget is the FRACTION `budgetNum/budgetDen` of the corpus'
    * own total token count — the scale-invariant spelling ("train for
    * 1.5 epochs worth of the corpus under a 2-epoch-per-language
    * cap"). */
  def unimaxAllocationOfTotal(df: DataFrame, groupCol: String,
      tokensCol: String, epochCap: Long, budgetNum: Long,
      budgetDen: Long): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0,
      s"budget fraction must be >= 0 (got $budgetNum/$budgetDen)")
    unimaxCore(df, groupCol, tokensCol, epochCap,
      expr(s"($budgetNum * __total) div $budgetDen"))
  }

  /** Temperature-based mixture weights (the pre-UniMax standard from
    * mBERT/XLM-R/mT5 multilingual sampling): per group,
    * `w_i = n_i^α / Σ_j n_j^α` — α < 1 upsamples small groups. Pair
    * with [[mixSources]] (feed `w_i / max_j w_j` as keep odds) or any
    * per-group sampler.
    *
    * α is restricted to {1, 0.5, 0.25} ON PURPOSE: those powers
    * evaluate as sqrt chains, and IEEE sqrt is correctly rounded in
    * every engine, while pow(x, α) is NOT (libm-dependent final ulps
    * — the same reason BM25 here drops its logarithm). The Σ in the
    * denominator folds in group order through the exact-fold device
    * (q140's): a plain float SUM would be partition-order-dependent
    * and never hashable. The weights are therefore bit-reproducible
    * across engines and runs.
    *
    * Scale shape: per-group agg with map-side partials, then the fold
    * over |groups| collapsed rows broadcasts back — the corpus never
    * shuffles twice. */
  def temperatureMixture(df: DataFrame, groupCol: String,
      tokensCol: String, alpha: Double = 0.5): DataFrame = {
    val powered: Column => Column = alpha match {
      case 1.0  => c => c
      case 0.5  => c => sqrt(c)
      case 0.25 => c => sqrt(sqrt(c))
      case a => throw new IllegalArgumentException(
        s"alpha $a not in {1, 0.5, 0.25}: only sqrt chains are " +
          "correctly rounded IEEE ops — pow(x, a) differs across libm " +
          "implementations and would break bit-reproducibility")
    }
    val per = df.groupBy(col(groupCol))
      .agg(coalesce(sum(col(tokensCol)), lit(0L)).as("n_tokens"))
      .withColumn("__s", powered(col("n_tokens").cast("double")))
    val denom = per.agg(
      aggregate(
        transform(
          sort_array(collect_list(
            struct(col(groupCol).as("g"), col("__s").as("s")))),
          x => x("s")),
        lit(0.0), (acc, x) => acc + x).as("__denom"))
    per.crossJoin(broadcast(denom))
      .select(col(groupCol), col("n_tokens"),
        (col("__s") / col("__denom")).as("weight"))
  }

  /** Eval-side leakage report — [[contamination]] transposed: q64 asks
    * "how contaminated is each CORPUS doc"; this asks "which BENCHMARK
    * items are compromised, how badly, and by which doc" — the
    * direction a decontamination run actually reports. Per eval item:
    * its distinct-shingle count, the MAX containment over corpus docs
    * (containment = |shared shingles| / |eval item's shingles|, the
    * asymmetric overlap that catches a short eval item quoted inside
    * a long doc where Jaccard would dilute), the worst doc
    * (containment desc, doc id asc tie-break; NULL when nothing
    * matches), and how many docs exceed `tauE9`. All counts exact
    * integers; containment is floor-e9.
    *
    * Scale shape: the eval shingle table broadcasts (a benchmark is
    * KBs–MBs against a 100 TB corpus); the broadcast join FILTERS the
    * corpus' shingle stream to eval-matching shingles BEFORE the only
    * shuffle, which carries matched (eval, doc) pairs — bounded by
    * hits, not corpus size. The final rollup is |eval| rows. */
  def evalLeakage(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int = 3,
      tauE9: Long = 500000000L): DataFrame = {
    def sh(c: Column) = explode(graft.functions.expressions.TextExpressions
      .wordShingles(c, n)).as("__sh")
    val ev = evalSet.select(col(idCol).as("eval_id"), sh(col(textCol)))
    val evn = ev.groupBy("eval_id").agg(count(lit(1)).as("n_shingles"))
    val pairs = corpus.select(col(idCol).as("__doc"), sh(col(textCol)))
      .join(broadcast(ev), Seq("__sh"))
      .groupBy(col("eval_id"), col("__doc"))
      .agg(count(lit(1)).as("__hits"))
      .join(broadcast(evn), Seq("eval_id"))
      .withColumn("__c", expr("(__hits * 1000000000) div n_shingles"))
    evn.join(
        pairs.groupBy("eval_id").agg(
          max(col("__c")).as("__maxc"),
          min(struct((lit(0L) - col("__c")).as("negc"),
            col("__doc").as("doc"))).as("__w"),
          sum(when(col("__c") >= tauE9, 1L).otherwise(0L))
            .as("__over")),
        Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_shingles"),
        coalesce(col("__maxc"), lit(0L)).as("max_containment_e9"),
        col("__w").getField("doc").as("worst_doc_id"),
        coalesce(col("__over"), lit(0L)).as("n_docs_over"))
  }

  /** Materialize a mixture allocation into the actual training stream:
    * given per-group token allocations (the [[unimaxAllocationOfTotal]]
    * output shape — `groupCol`, `n_tokens`, `alloc_tokens`), emit one
    * (row, epoch) instance per time each document is seen. Each group
    * runs `alloc div n_tokens` FULL epochs (every doc repeated, epochs
    * 0..e−1) plus one FRACTIONAL epoch (epoch = e) where docs are
    * hash-sampled with probability `(alloc mod n_tokens) / n_tokens` —
    * exact in expectation over tokens, deterministic per (seed, id)
    * like every sampler here (md5 threshold, so any engine replays the
    * same instance list).
    *
    * Plan shape: ONE broadcast join of the |groups|-row allocation
    * table onto the corpus, then a map-only explode of
    * `sequence(0, e)` + the threshold filter — the corpus never
    * shuffles; the output is bigger than the input by design (it IS
    * the epoch-expanded stream — feed it to [[packSequences]]). The
    * threshold arithmetic widens through DECIMAL(20,0) so `rem · 2³²`
    * stays exact past int64. */
  def executeMixture(df: DataFrame, groupCol: String, idCol: String,
      alloc: DataFrame, seed: String): DataFrame = {
    val a = alloc.select(col(groupCol),
        col("n_tokens").as("__n"), col("alloc_tokens").as("__a"))
      .where(col("__n") > 0)
      .withColumn("__efull", expr("__a div __n"))
      .withColumn("__thresh",
        expr("CAST((__a % __n) AS DECIMAL(20,0)) * 4294967296 div __n"))
    df.join(broadcast(a), Seq(groupCol))
      .select(col(idCol), col(groupCol),
        explode(sequence(lit(0L), col("__efull"))).as("epoch"),
        col("__efull"), col("__thresh"))
      .where(col("epoch") < col("__efull") ||
        hashU32(seed, col(idCol)) < col("__thresh"))
      .select(col(idCol), col(groupCol), col("epoch"))
  }

  /** Token-budget corpus sampling: keep a reproducible ~`budget`-token
    * slice of the corpus — the "train on exactly this many tokens of
    * it" primitive. Docs hash-shard into `nShards` lanes, the budget
    * floor-splits across lanes (remainder to the low lanes), and each
    * lane keeps its (shuffle-key asc, id asc) PREFIX while the running
    * token sum stays within quota — all integer arithmetic, pure
    * function of (seed, id), so any engine and any partitioning select
    * the same slice. The kept token count undershoots the budget by at
    * most nShards·(max doc len) (strict-prefix semantics: the first
    * overflowing doc in each lane is cut, nothing after it enters).
    *
    * Scale shape: one hash-shard shuffle + per-lane sort — the
    * sharded-cumsum idiom of [[packSequences]]: no single-task global
    * window; lane quotas keep every cumulative sum local to its lane.
    * Output: input id + n_tokens, shard, cum_tokens (the lane-local
    * running total including this doc). */
  def budgetSample(df: DataFrame, idCol: String, tokensCol: String,
      budget: Long, seed: String, nShards: Int): DataFrame = {
    require(budget >= 0, s"budget must be >= 0 (got $budget)")
    require(nShards >= 1, s"nShards must be >= 1 (got $nShards)")
    import org.apache.spark.sql.expressions.Window
    val base = budget / nShards
    val rem = budget % nShards
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__sk").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), col(tokensCol).cast("long").as("n_tokens"))
      .withColumn("shard", hashU32(s"$seed:sh", col(idCol)) % nShards)
      .withColumn("__sk", shuffleKey(seed, col(idCol)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("__quota",
        lit(base) + when(col("shard") < rem, 1L).otherwise(0L))
      .where(col("cum_tokens") <= col("__quota"))
      .select(col(idCol), col("n_tokens"), col("shard"),
        col("cum_tokens"))
  }

  /** LINE-level quality filter (the C4-family per-line rules next to
    * the corpus-level boilerplate removal): drop every line whose
    * alphabetic ratio falls below `minAlphaE9`/10⁹, keep the document
    * with its surviving lines rejoined. The predicate is the EXACT
    * rational compare `alphaChars(line)·10⁹ ≥ minAlphaE9·length(line)`
    * — pure integer arithmetic inside a HOF filter, no division, no
    * floats. Empty lines always drop; a document whose every line
    * drops keeps an empty text (count survivors downstream, the
    * boilerplate-removal contract).
    *
    * ENTIRELY map-only — split, filter, rejoin happen inside one scan
    * projection; at 100 TB this is storage-bandwidth work with zero
    * shuffle (same class as [[fimTransform]]). On a streaming frame it
    * is stateless and Append-legal. */
  def lineQualityFilter(df: DataFrame, idCol: String, textCol: String,
      minAlphaE9: Long): DataFrame = {
    require(minAlphaE9 >= 0 && minAlphaE9 <= 1000000000L,
      s"minAlphaE9 must be in [0, 1e9] (got $minAlphaE9)")
    val kept = filter(split(col(textCol), "\n"), l =>
      length(l) > 0 &&
        graft.functions.TextFunctions.alphaChars(l).cast("long") *
          lit(1000000000L) >=
          lit(minAlphaE9) * length(l).cast("long"))
    df.withColumn(textCol, when(col(textCol).isNull, col(textCol))
      .otherwise(array_join(kept, "\n")))
  }

  /** The END-TO-END mixture pipeline over a (doc_id, lang, text)
    * frame, as ONE query: quality gate (>= 20 tokens, alpha ratio >=
    * 0.805) → [[unimaxAllocationOfTotal]] (at most 2 epochs, a budget
    * of 3/2 of the surviving tokens) over the SURVIVORS (the allocation
    * must see the post-gate sizes — allocating on raw counts would
    * over-budget heavily-filtered languages) → [[executeMixture]] into
    * (doc, epoch) training instances → per-INSTANCE deterministic
    * shuffle key and export shard (keyed on `epoch:doc`, so two epochs
    * of the same document land in different shards and positions — the
    * repeated-data-spread every multi-epoch run wants), over 8 shards
    * and seed "mx1". q231 pins these constants.
    *
    * Plan shape: the corpus is scanned twice (once collapsing to the
    * |langs|-row allocation, once expanding instances against the
    * broadcast allocation) and SHUFFLED never — the shuffle key and
    * shard are map-side md5 columns; the caller's
    * `repartitionByRange(shard)` write is the only exchange, carrying
    * the instance stream it exports. Output: doc_id, lang, epoch,
    * shard, skey (order by skey = the reproducible epoch order). */
  def mixturePipeline(d: DataFrame): DataFrame = {
    val gated = TextAnalysis.withQualitySignals(d, "text")
      .filter(col("n_tokens") >= 20L && col("alpha_ratio") >= 0.805)
      .select(col("doc_id"), col("lang"),
        col("n_tokens").cast("long").as("n_tokens"))
    val alloc = unimaxAllocationOfTotal(gated, "lang", "n_tokens",
      2L, 3L, 2L)
    val instKey = concat_ws(":", col("epoch"), col("doc_id"))
    executeMixture(gated.select("doc_id", "lang"), "lang", "doc_id",
        alloc, "mx1")
      .withColumn("skey", shuffleKey("mx1:ord", instKey))
      .withColumn("shard", hashU32("mx1:shard", instKey) % 8)
      .select(col("doc_id"), col("lang"), col("epoch"), col("shard"),
        col("skey"))
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022, "Efficient
    * Training of Language Models to Fill in the Middle"): a
    * hash-selected `rate` of documents is split at two deterministic
    * code-point positions into (prefix, middle, suffix) with a PSM/SPM
    * render mode; the rest pass through as `plain`. Everything is a
    * pure function of (seed, id) — selection, both split points, and
    * the mode — so the transform replays bit-for-bit in any engine and
    * on any partitioning (the FIM-rate contract of the paper, made
    * reproducible).
    *
    * Splits count CODE POINTS (Spark `substr`/`length` ≡ DuckDB
    * `substr`/`length` — the unit system the CDC family pinned with
    * astral fixtures), so multi-byte text splits identically
    * everywhere. Docs with NULL text or < 2 code points stay `plain`.
    * Map-only: one projection pass, no shuffle, no state — FIM at
    * 100 TB is scan-bandwidth work. On a streaming frame it is
    * Append-legal with no watermark, exactly-once per doc.
    *
    * Output: idCol, fim_mode ('psm' | 'spm' | 'plain'), prefix,
    * middle, suffix — with `prefix || middle || suffix == text` always
    * (the reconstruction invariant, spec-pinned); the caller renders
    * sentinel tokens around the pieces per its tokenizer. */
  def fimTransform(df: DataFrame, idCol: String, textCol: String,
      seed: String, rate: Double = 0.5): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1]: $rate")
    val c = col(textCol)
    val len = length(c).cast("long")
    val selected = c.isNotNull && len >= 2 &&
      hashU32(s"$seed:sel", col(idCol)) < lit((rate * (1L << 32)).toLong)
    val a = lit(1L) + hashU32(s"$seed:a", col(idCol)) % len
    val b = lit(1L) + hashU32(s"$seed:b", col(idCol)) % len
    val lo = least(a, b)
    val hi = greatest(a, b)
    df.select(col(idCol),
      when(!selected, lit("plain"))
        .otherwise(when(hashU32(s"$seed:m", col(idCol)) % 2 === 0,
          lit("psm")).otherwise(lit("spm"))).as("fim_mode"),
      when(!selected, c).otherwise(c.substr(lit(1L), lo - 1))
        .as("prefix"),
      when(!selected, lit("")).otherwise(c.substr(lo, hi - lo))
        .as("middle"),
      when(!selected, lit(""))
        .otherwise(c.substr(hi, len - hi + 1)).as("suffix"))
  }

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4, the
    * denoising objective): deterministic token spans are replaced by
    * numbered sentinels in the input and emitted after their sentinel
    * in the target —
    *
    *   tokens:  the cat sat on the mat
    *   input:   the <extra_id_0> sat on <extra_id_1> mat
    *   target:  <extra_id_0> cat <extra_id_1> on the
    *
    * Span selection is a pure function of (seed, doc, position): a
    * position STARTS a span iff hashU32(seed:st, "doc:pos") ≡ 0
    * (mod `startDenom`); a start masks `spanLen` consecutive
    * positions; overlapping/adjacent masks merge into one run, one
    * sentinel per run numbered left to right. Expected mask fraction
    * ≈ spanLen/startDenom (defaults ≈ 22%, the T5 ballpark). The
    * whole transform REPLAYS bit-for-bit in any engine (md5 draws,
    * integer compares, deterministic reassembly).
    *
    * Scale shape: ZERO SHUFFLE — a document's tokens are already
    * colocated in its row, so masks, run starts, sentinel numbers
    * (the transform index over the run-start array — no cumulative
    * sum anywhere), and both reassemblies are one fused chain of
    * array HOFs in the scan projection; per-doc cost O(n·spanLen +
    * n log n). The window spelling (explode + per-doc windows) would
    * shuffle every token of the corpus to group what was never
    * apart — the oracle uses it as an independent derivation.
    *
    * Output: idCol, `input_text`, `target_text`, `n_spans` (tokens
    * space-rejoined — the token-level contract; docs with no tokens
    * keep an empty row). On a streaming frame it is stateless and
    * Append-legal with no watermark. */
  def spanCorrupt(df: DataFrame, idCol: String, textCol: String,
      seed: String, startDenom: Int = 8, spanLen: Int = 2): DataFrame = {
    require(startDenom >= 1, s"startDenom must be >= 1 (got $startDenom)")
    require(spanLen >= 1 && spanLen <= 16,
      s"spanLen must be in [1, 16] (got $spanLen)")
    val toks = filter(graft.functions.TextFunctions.tokens(col(textCol)),
      t => length(t) > 0)
    val sentinel = (k: Column) =>
      concat(lit("<extra_id_"), k.cast("string"), lit(">"))
    def joined(arr: Column) =
      concat_ws(" ", transform(sort_array(arr), s => s.getField("p")))
    df.withColumn("__t", toks)
      .withColumn("__n", size(col("__t")))
      .withColumn("__pos",
        when(col("__n") > 0, sequence(lit(0), col("__n") - 1))
          .otherwise(array().cast("array<int>")))
      .withColumn("__st", transform(col("__pos"), p =>
        (hashU32(s"$seed:st",
          concat_ws(":", col(idCol).cast("string"), p.cast("string")))
          % startDenom === 0)))
      // masked(i) = OR of the spanLen start draws ending at i —
      // spanLen is a literal, so this is a fixed element_at probe
      // chain, not a window
      .withColumn("__m", transform(col("__pos"), i =>
        (0 until spanLen).map(d =>
            when(i - d >= 0, element_at(col("__st"), i - d + 1))
              .otherwise(lit(false)))
          .reduce(_ || _)))
      .withColumn("__rs", filter(col("__pos"), i =>
        element_at(col("__m"), i + 1) &&
          (i === 0 || !element_at(col("__m"), i))))
      .withColumn("input_text", joined(concat(
        transform(filter(col("__pos"), i =>
            !element_at(col("__m"), i + 1)),
          i => struct((i * 2).as("k"),
            element_at(col("__t"), i + 1).as("p"))),
        transform(col("__rs"), (p, k) =>
          struct((p * 2).as("k"), sentinel(k).as("p"))))))
      .withColumn("target_text", joined(concat(
        transform(col("__rs"), (p, k) =>
          struct((p * 2 - 1).as("k"), sentinel(k).as("p"))),
        transform(filter(col("__pos"), i =>
            element_at(col("__m"), i + 1)),
          i => struct((i * 2).as("k"),
            element_at(col("__t"), i + 1).as("p"))))))
      .withColumn("n_spans", size(col("__rs")).cast("long"))
      .select(col(idCol), col("input_text"), col("target_text"),
        col("n_spans"))
  }

  private def unimaxCore(df: DataFrame, groupCol: String,
      tokensCol: String, epochCap: Long, budgetCol: Column): DataFrame = {
    require(epochCap > 0, s"epochCap must be positive (got $epochCap)")
    import org.apache.spark.sql.expressions.Window
    val per = df.groupBy(col(groupCol))
      .agg(coalesce(sum(col(tokensCol)), lit(0L)).as("n_tokens"))
      .withColumn("cap_tokens", col("n_tokens") * lit(epochCap))
    val ord = Window.orderBy(col("cap_tokens").asc, col(groupCol).asc)
    val all = Window.partitionBy()
    per
      .withColumn("__i", row_number().over(ord).cast("long"))
      .withColumn("__k", count(lit(1)).over(all))
      .withColumn("__total", sum(col("n_tokens")).over(all))
      .withColumn("__pfx", coalesce(
        sum(col("cap_tokens")).over(
          ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__budget", budgetCol)
      .withColumn("__capped",
        col("cap_tokens") * (col("__k") - col("__i") + lit(1L)) <=
          col("__budget") - col("__pfx"))
      .withColumn("__istar",
        min(when(!col("__capped"), col("__i"))).over(all))
      .withColumn("__sumcapped", coalesce(
        sum(when(col("__i") < col("__istar"), col("cap_tokens")))
          .over(all), lit(0L)))
      .withColumn("alloc_tokens",
        when(col("__istar").isNull || col("__i") < col("__istar"),
            col("cap_tokens"))
          .otherwise(expr("(__budget - __sumcapped + (__i - __istar))" +
            " div (__k - __istar + 1)")))
      .withColumn("epochs_milli",
        when(col("n_tokens") > 0,
            expr("(alloc_tokens * 1000) div n_tokens"))
          .otherwise(lit(0L)))
      .select(col(groupCol), col("n_tokens"), col("cap_tokens"),
        col("alloc_tokens"), col("epochs_milli"))
  }
}
