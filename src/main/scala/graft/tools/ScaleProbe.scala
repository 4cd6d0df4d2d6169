package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.GraftSession
import graft.ext.{Curation, Dedup, Graph, NgramLm, Search, Similarity,
  TextAnalysis}
import graft.ranges.RangeJoin

/** Local scale stress: replicate the sf tables N× (ids offset per copy)
  * and time the scale-path operators. `runMain graft.tools.ScaleProbe
  * [sfDir] [copies]`. Near-dup pairs multiply by copies (each copy
  * repeats the planted pairs) and cross-copy exact duplicates appear —
  * intentionally: the point is candidate-generation cost, which is the
  * term that explodes when an algorithm is quadratic. */
object ScaleProbe {

  /** Optional substring filter (3rd CLI arg): only probes whose name
    * contains it run — so a 100x run doesn't pay for every row. */
  private var nameFilter: Option[String] = None

  /** Shuffle bytes written across all stages — the DETERMINISTIC cost
    * axis: local[32] wall-clock swings 2× with machine noise (see
    * BENCH.md round-2 history), but the bytes a plan shuffles are a
    * pure function of the plan and the data. */
  private val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
  /** Longest single task since the last reset — the CLUSTER-truth axis
    * for few-key windows: local[32] wall-clock hides a serialized sort
    * (31 idle cores cost nothing here, everything on a real cluster),
    * but a probe whose longest task ~= its wall-clock is running on
    * one core no matter how many the cluster has. */
  private val maxTaskMs = new java.util.concurrent.atomic.AtomicLong
  private final class ShuffleMeter extends org.apache.spark.scheduler.SparkListener {
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      shuffleBytes.addAndGet(
        sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (te.taskInfo != null) maxTaskMs.getAndAccumulate(
        te.taskInfo.duration, Math.max(_, _))
  }

  /** Set in main; lets time() drain the async listener bus so the byte
    * counter reflects every completed stage of THIS probe (listener
    * events are delivered on a separate thread — reading the counter
    * right after the action would misattribute in-flight events to the
    * next probe). */
  private var sparkCtx: Option[org.apache.spark.SparkContext] = None

  private def wanted(name: String): Boolean = nameFilter.forall(name.contains)

  /** EXACT-name opt-in for probes whose cost is quadratic-by-design
    * (r13 advice: `wanted` is substring-based and vacuously true with
    * no filter, so "not run unless asked for" guards must not rely on
    * it — an unfiltered sweep, or any filter that happens to be a
    * substring, would fire the ~2e9-row candidate join). */
  private def explicitlyWanted(name: String): Boolean =
    nameFilter.contains(name)

  /** Probes actually timed this run — a filter that matches nothing
    * (typo, or a probe name missing from its block's guard list) would
    * otherwise finish silently and a bench round would read the absent
    * row as "never requested". */
  private var ranCount = 0

  /** Setup steps that must RUN regardless of the name filter (artifact
    * builds feeding later probes) but should only be TIMED when
    * selected. */
  private def timeOrRun[T](name: String)(f: => T): Unit =
    if (wanted(name)) time(name)(f) else { f; () }

  private def time[T](name: String)(f: => T): Unit = {
    if (wanted(name)) {
      ranCount += 1
      sparkCtx.foreach(org.apache.spark.graftshim.ListenerShim.drain)
      val b0 = shuffleBytes.get()
      maxTaskMs.set(0L)
      val t0 = System.nanoTime()
      val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      sparkCtx.foreach(org.apache.spark.graftshim.ListenerShim.drain)
      val mb = (shuffleBytes.get() - b0) / 1e6
      val mt = maxTaskMs.get() / 1e3
      println(f"[probe] $name%-28s $secs%8.2f s  $mb%9.1f MB shuffled  maxTask $mt%6.2f s  ($r)")
    }
  }

  def replicate(df: DataFrame, idCol: String, copies: Int): DataFrame = {
    val step = 10000000L
    (0 until copies).map(i =>
      df.withColumn(idCol, col(idCol) + lit(i * step)))
      .reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(20)
    nameFilter = args.lift(2)
    val spark = GraftSession.local()
    spark.sparkContext.addSparkListener(new ShuffleMeter)
    sparkCtx = Some(spark.sparkContext)
    import spark.implicits._

    // Cache+count of the replicated doc/vector corpora is itself a
    // multi-second cost at high `copies`; skip it entirely when the
    // name filter selects none of the probes that read them (e.g. an
    // interval-only run at copies=67).
    val docProbes = Seq("exact_dedup", "minhash_lsh_raw",
      "minhash_after_dedup", "simhash", "ann_topk_bruteforce",
      "sq8_topk", "sq8_topk_loaded",
      "ann_lsh_buckets", "pack_sequences", "connected_components",
      "cc_delta", "lpa_4rounds", "group_quota_k10",
      "edit_distance_50k_vocab",
      "kmeans_train_16x2", "standardize", "mmr_rerank_k3",
      "length_batching", "repetition_signals",
      "unimax_allocation", "temperature_mixture", "threshold_sweep",
      "percentile_normalize", "eval_leakage", "rrf_hybrid",
      "mixture_execute", "fim_transform",
      "tokenizer_fertility", "distinct_ngrams", "mixture_pipeline",
      "budget_sample", "line_filter", "oov_rate", "kn_counts",
      "kn_probabilities", "kn_doc_score", "span_corrupt",
      "kn3_probabilities", "kn3_doc_score", "lm_gated_pipeline",
      "mkn_probabilities", "mkn_doc_score", "mkn3_doc_score",
      "sb_doc_score",
      "collocations", "ingest_pipeline",
      "hard_negatives", "random_negatives",
      "hard_negatives_batched4",
      "dup_spans", "remove_dup_spans",
      "pq_train_encode_adc", "ivfpq_1probe", "ivfpq_residual_1probe",
      "pq_adc_loaded", "ivfpq_loaded", "ann_artifact_build",
      "bm25_3terms", "vsm_3terms",
      "cluster_sample_k256_q32",
      "postings_build_and_and3", "phrase_build_and_search",
      "postings_query_loaded", "phrase_query_loaded",
      "postings_artifact_build", "phrase_artifact_build",
      "split_assign", "upsample_2p5x", "bpe_train_200", "bpe_apply",
      "chunk_32_8", "boilerplate_lines", "dedup_lines_keepfirst",
      "boilerplate_delta", "cdc_chunks", "cdc_dedup_keepfirst",
      "nb_train", "nb_classify",
      "semantic_neardup_k256")
    if (docProbes.exists(wanted)) {
    val docs = replicate(GraftSession.table(spark, sfDir, "documents")
      .select("doc_id", "text"), "doc_id", copies).cache()
    val emb = replicate(GraftSession.table(spark, sfDir, "embeddings")
      .select("vec_id", "embedding", "label"), "vec_id", copies).cache()
    println(s"[probe] docs=${docs.count()} vectors=${emb.count()} (copies=$copies)")

    time("exact_dedup")(Dedup.exact(docs, "doc_id", "text")
      .filter($"n_copies" > 1).count())
    time("minhash_lsh_raw")(Dedup.minhashNearDup(docs, "doc_id", "text",
      3, 12, 4, 0.5).count())
    // production order: exact dedup BEFORE minhash — LSH candidate cost
    // is Σ|bucket|², and exact-duplicate groups are degenerate buckets
    val deduped = docs.join(
      Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .cache()
    time("minhash_after_dedup")(Dedup.minhashNearDup(deduped, "doc_id",
      "text", 3, 12, 4, 0.5).count())
    time("simhash")(Dedup.simhashNearDup(docs, "doc_id", "text", 3).count())
    time("ann_topk_bruteforce")(Similarity.bruteForceTopK(emb,
      emb.filter($"vec_id" < 10), "vec_id", "embedding", 5).count())
    // SQ8 at scale: inline form pays train+encode every query (the
    // HONEST loss regime at local scale — recorded in BENCH.md); the
    // loaded form is the serving path (codes encoded once, cached)
    time("sq8_topk")(Similarity.sq8TopK(emb, "vec_id", "embedding",
      $"vec_id" < 10, 5).count())
    if (Seq("sq8_topk_loaded").exists(wanted)) {
      val sqCodes = Similarity.sq8Encode(emb, "embedding",
          Similarity.sq8MinMax(emb, "embedding"))
        .select($"vec_id", $"sq8_code").cache()
      sqCodes.count()
      time("sq8_topk_loaded")(Similarity.sq8TopKOnCodes(sqCodes,
        "vec_id", "sq8_code", $"vec_id" < 10, 5).count())
      sqCodes.unpersist()
    }
    time("ann_lsh_buckets")(emb.select(
      graft.functions.VectorFunctions.lshBucket($"embedding", 8))
      .distinct().count())

    // round-3 ops: packing (shard-partitioned window), clustering
    // (iterative CC over the cross-copy near-dup graph), k-means
    time("pack_sequences")(Curation.packSequences(
      TextAnalysis.withTokenCounts(docs, "text"), "doc_id", "n_tokens",
      budget = 2048L, seed = "ep1", nShards = 64)
      .groupBy("shard").agg(max("pack")).count())
    val ccEdges = Dedup.exact(docs, "doc_id", "text")
      .filter($"n_copies" > 1)
      .join(docs.select(md5($"text").as("content_hash"), $"doc_id"),
        Seq("content_hash"))
      .select($"keep_id".as("a"), $"doc_id".as("b"))
      .filter($"a" =!= $"b")
    time("connected_components")(
      Dedup.connectedComponents(ccEdges, "a", "b")
        .select(countDistinct("comp")).head().getLong(0))
    // sync LPA over the same graph: 4 rounds, ONE shuffle per round
    // (neighbor-label count + struct-min) — shuffle ∝ edges per round,
    // independent of community count
    time("lpa_4rounds")(
      graft.ext.Graph.labelPropagation(ccEdges, "a", "b", iters = 4)
        .select(countDistinct("label")).head().getLong(0))
    // per-source quota at k=10 over the replicated corpus: ONE rank
    // window shuffle ∝ rows, map-side WindowGroupLimit keeps <=k per
    // source per task before it
    time("group_quota_k10")(
      Curation.groupQuota(
        GraftSession.table(spark, sfDir, "documents")
          .select("doc_id", "source", "n_chars")
          .transform(d => replicate(d, "doc_id", copies)),
        Seq("source"), Seq($"n_chars".desc, $"doc_id".asc), k = 10)
        .count())
    // vocab-wide ED-1 pairs on a synthetic 50k-term noisy vocab (the
    // corpus vocab is 31 clean words — sublinear, so the probe builds
    // the scale shape directly): map-only (len+1)x variant explode,
    // candidates bounded by deletion-bucket sizes, never |V|^2
    time("edit_distance_50k_vocab")({
      val v = spark.range(50000L).select(
        concat_ws("", md5(col("id").cast("string")),
          md5((col("id") + 1000000L).cast("string"))).substr(1, 9)
          .as("term"))
      graft.ext.TextAnalysis.editDistancePairs(v).count()
    })
    // delta maintenance: same edge corpus split 98/2 — the fold costs
    // CC on the 2% contracted graph + ONE broadcast-map pass over the
    // history (vs connected_components re-clustering everything)
    if (wanted("cc_delta")) {
      val oldE = ccEdges.filter(pmod(xxhash64($"a", $"b"), lit(50)) =!= 0)
      // both inputs arrive MATERIALIZED in production (the delta comes
      // off minhashNearDupDelta's output, the labeling off disk) —
      // cache so the row times the fold, not the edge recomputation
      val deltaE = ccEdges.filter(pmod(xxhash64($"a", $"b"), lit(50)) === 0)
        .cache()
      val prevLabels = Dedup.connectedComponents(oldE, "a", "b").cache()
      println(s"[probe] cc prev=${prevLabels.count()} delta=${deltaE.count()}")
      time("cc_delta")(
        Dedup.connectedComponentsDelta(prevLabels, deltaE, "a", "b")
          .select(countDistinct("comp")).head().getLong(0))
      prevLabels.unpersist(); deltaE.unpersist()
    }
    time("kmeans_train_16x2")(Similarity.trainCentroids(emb, "vec_id",
      "embedding", k = 16, iters = 2).count())
    // round-15 additions. Drains go through value-consuming aggregates
    // (the xxhash64 lesson: count() lets column pruning empty the
    // map-only work being measured).
    timeOrRun("standardize")(Similarity.standardize(emb, "embedding")
      .select(sum(aggregate(col("zvec"), lit(0.0d), (a, b) => a + b)))
      .head())
    timeOrRun("mmr_rerank_k3")(Similarity.mmrRerank(emb, "vec_id",
      "embedding", $"vec_id" < 10, k = 3, shortlist = 8).count())
    timeOrRun("length_batching")(Curation.lengthGroupedBatches(
      TextAnalysis.withTokenCounts(docs, "text"), "doc_id", "n_tokens",
      batchSize = 8, seed = "lb1", nShards = 64)
      .select(sum("pad_waste")).head())
    timeOrRun("repetition_signals")(TextAnalysis.repetitionSignals(
      docs, "doc_id", "text")
      .select(sum("dup_bigram_frac"), sum("top_word_frac")).head())
    // round-15 batch 2: mixture/calibration/leakage/fusion. The
    // corpus-sized half of each is a per-group (or per-score) agg with
    // map-side partials — the windows run on the collapsed frames.
    timeOrRun("unimax_allocation")(Curation.unimaxAllocationOfTotal(
      TextAnalysis.withTokenCounts(docs, "text")
        .withColumn("grp", pmod(col("doc_id"), lit(1000))),
      "grp", "n_tokens", epochCap = 2L, budgetNum = 3L, budgetDen = 2L)
      .select(sum("alloc_tokens")).head())
    timeOrRun("temperature_mixture")(Curation.temperatureMixture(
      TextAnalysis.withTokenCounts(docs, "text")
        .withColumn("grp", pmod(col("doc_id"), lit(1000))),
      "grp", "n_tokens", alpha = 0.5)
      .select(sum("weight")).head())
    timeOrRun("threshold_sweep")(graft.ext.Stats.thresholdSweep(
      TextAnalysis.withTokenCounts(docs, "text")
        .withColumn("is_pos", pmod(col("doc_id"), lit(2)) === 0),
      "n_tokens", "is_pos")
      .select(sum("f1_e9")).head())
    timeOrRun("percentile_normalize")(graft.ext.Stats.groupPercentileRank(
      TextAnalysis.withTokenCounts(docs, "text")
        .withColumn("grp", pmod(col("doc_id"), lit(64))),
      Seq("grp"), "n_tokens")
      .select(sum("pctl_e9")).head())
    timeOrRun("eval_leakage")(Curation.evalLeakage(
      docs.filter($"doc_id" >= 10), docs.filter($"doc_id" < 10),
      "doc_id", "text", n = 3, tauE9 = 300000000L)
      .select(sum("max_containment_e9")).head())
    timeOrRun("mixture_execute") {
      val wt = TextAnalysis.withTokenCounts(docs, "text")
        .withColumn("grp", pmod(col("doc_id"), lit(1000)))
      val alloc = Curation.unimaxAllocationOfTotal(wt, "grp", "n_tokens",
        epochCap = 2L, budgetNum = 3L, budgetDen = 2L)
      Curation.executeMixture(wt.select("doc_id", "grp"), "grp",
          "doc_id", alloc, seed = "um1")
        .select(sum("epoch")).head()
    }
    timeOrRun("fim_transform")(Curation.fimTransform(docs, "doc_id",
      "text", seed = "fim1", rate = 0.75)
      .select(sum(length(col("middle")))).head())
    timeOrRun("tokenizer_fertility")(TextAnalysis.tokenizerFertility(
      docs.withColumn("grp", pmod(col("doc_id"), lit(1000))),
      "grp", "text")
      .select(sum("fertility")).head())
    // the scale axis is the (group, gram) dedup — replicated copies
    // share grams, so distinct stays flat while instances grow: the
    // map-side partial dedup is what the bytes measure
    timeOrRun("distinct_ngrams")(TextAnalysis.distinctNgramRatio(
      docs.withColumn("grp", pmod(col("doc_id"), lit(1000))),
      "grp", "text", n = 2)
      .select(sum("n_distinct"), sum("n_grams")).head())
    // the scale axis is the lane-sharded cumsum: one hash shuffle +
    // per-lane sort, quotas keep every window local to its lane
    timeOrRun("budget_sample")(Curation.budgetSample(
      TextAnalysis.withTokenCounts(docs, "text"), "doc_id", "n_tokens",
      budget = 400000L * copies, seed = "bs1", nShards = 64)
      .select(sum("cum_tokens")).head())
    timeOrRun("line_filter")(Curation.lineQualityFilter(
      docs, "doc_id", "text", minAlphaE9 = 860000000L)
      .select(sum(length(col("text")))).head())
    timeOrRun("oov_rate") {
      val vocab = docs.select(explode(filter(
            graft.functions.TextFunctions.tokens(col("text")),
            t => length(t) > 0)).as("term"))
        .groupBy("term").agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col("term")).limit(20).select("term")
      TextAnalysis.oovRate(
          docs.withColumn("grp", pmod(col("doc_id"), lit(64))),
          "grp", "text", vocab)
        .select(sum("oov_rate_e9")).head()
    }
    // replicated copies repeat the same bigrams: distinct stays flat
    // while instances grow — the map-side partial collapse is what
    // the bytes measure (the distinct_ngrams axis)
    timeOrRun("kn_counts")(NgramLm.continuationTable(
      NgramLm.ngrams(docs, "text", 2, None))
      .select(sum("n"), sum("n1plus_pre")).head())
    // the smoothed derivation: two more aggs over the COLLAPSED
    // table + the 1-row B broadcast — same flat-distinct axis as
    // kn_counts
    timeOrRun("kn_probabilities")(NgramLm.probabilities(
      Map(2 -> NgramLm.ngrams(docs, "text", 2, None)), 2, NgramLm.Fixed)
      .select(sum("p_e9")).head())
    // the serving axis: doc bigram INSTANCES (grow with copies) join
    // the materialized model + two marginals (flat — replicated
    // copies share bigrams), then ONE per-doc agg
    timeOrRun("kn_doc_score") {
      val model = NgramLm.train(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), "text", 2,
          NgramLm.Fixed)
      NgramLm.scoreDocs(docs, "doc_id", "text", model, 2,
          NgramLm.Fixed, None)
        .select(sum("sum_p_e9"), sum("n_bigrams")).head()
    }
    // zero-shuffle map-only: the cost axis is pure scan+project CPU
    timeOrRun("span_corrupt")(Curation.spanCorrupt(docs, "doc_id",
      "text", seed = "sc1")
      .select(sum("n_spans"), sum(length(col("input_text")))).head())
    // trigram order: THREE aggs over the collapsed trigram table
    // (ctx pairs, continuation pairs, the (w2,w3) re-aggs) — distinct
    // trigrams stay flat under replication like the bigram axis, but
    // the collapsed table itself is ~|V| larger
    timeOrRun("kn3_probabilities")(NgramLm.probabilities(
      Map(3 -> NgramLm.ngrams(docs, "text", 3, None)), 3, NgramLm.Fixed)
      .select(sum("p3_e9")).head())
    // trigram serving: doc trigram INSTANCES join the materialized
    // model + FOUR marginal tables + B — the n=3 cost over q250's
    // three-join shape
    timeOrRun("kn3_doc_score") {
      val model = NgramLm.train(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), "text", 3,
          NgramLm.Fixed)
      NgramLm.scoreDocs(docs, "doc_id", "text", model, 3,
          NgramLm.Fixed, None)
        .select(sum("sum_p_e9"), sum("n_trigrams")).head()
    }
    // modified-KN derivation: the pinned-D shape plus ONE more 1-row
    // count-of-counts broadcast (n1..n4) and per-context K-counts
    // folded into the same ctx agg — distinct-bigram axis, flat
    // under replication like kn_probabilities
    timeOrRun("mkn_probabilities")(NgramLm.probabilities(
      Map(2 -> NgramLm.ngrams(docs, "text", 2, None)), 2, NgramLm.Modified)
      .select(sum("p_e9")).head())
    // mKN serving: identical join shape to kn_doc_score (instances ×
    // model + 2 marginals) — the three discounts ride the 1-row
    // broadcast, so the serving cost should read AT the pinned-D axis
    timeOrRun("mkn_doc_score") {
      val model = NgramLm.train(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), "text", 2,
          NgramLm.Modified)
      NgramLm.scoreDocs(docs, "doc_id", "text", model, 2,
          NgramLm.Modified, None)
        .select(sum("sum_p_e9"), sum("n_bigrams")).head()
    }
    // mKN trigram serving: kn3_doc_score's five-join shape with both
    // levels' count-of-counts on 1-row broadcasts
    timeOrRun("mkn3_doc_score") {
      val model = NgramLm.train(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), "text", 3,
          NgramLm.Modified)
      NgramLm.scoreDocs(docs, "doc_id", "text", model, 3,
          NgramLm.Modified, None)
        .select(sum("sum_p_e9"), sum("n_trigrams")).head()
    }
    // stupid-backoff serving: the Brants trade measured — five count
    // joins, NO continuation marginals; should read BELOW the kn3
    // serve at the same instance count (the paper's point, as a
    // number)
    timeOrRun("sb_doc_score") {
      val model = NgramLm.train(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), "text", 3,
          NgramLm.StupidBackoff)
      NgramLm.scoreDocs(docs, "doc_id", "text", model, 3,
          NgramLm.StupidBackoff, None)
        .select(sum("sum_p_e9"), sum("n_trigrams")).head()
    }
    // the q269 composition: LM score+gate (instance joins + slim
    // semi-join) in FRONT of the full curation pipeline
    timeOrRun("lm_gated_pipeline") {
      val model = NgramLm.train(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), "text", 2,
          NgramLm.Fixed)
      // the replicated probe frame carries (doc_id, text) only — give
      // the pipeline its source column from the id hash
      val d3 = docs.withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(7))))
      Curation.curationPipeline(d3,
          Curation.CurationConfig(lmMinMeanPE9 = 34000000L),
          Some(model))
        .select(sum("n_chars_clean"), count(lit(1))).head()
    }
    timeOrRun("collocations")(TextAnalysis.collocationLift(
      NgramLm.ngrams(docs, "text", 2, None), minCount = 2)
      .select(sum("lift_e9")).head())
    // gate -> chunk -> pack in one frame: the only corpus-sized
    // exchange is the pack cumsum on the shard key
    timeOrRun("ingest_pipeline") {
      val kept = TextAnalysis.qualityVerdict(docs, "text")
        .where(col("verdict") === "keep").select("doc_id", "text")
      val chunks = TextAnalysis.chunkTokens(kept, "doc_id", "text",
          chunkSize = 32, overlap = 8)
        .withColumn("chunk_key",
          concat_ws(":", col("doc_id"), col("chunk_id")))
      Curation.packSequences(chunks, "chunk_key", "n_tokens",
          budget = 256L, seed = "ing1", nShards = 64)
        .select(sum("pack"), count(lit(1))).head()
    }
    timeOrRun("mixture_pipeline")(Curation.mixturePipeline(
      docs.withColumn("lang",
        concat(lit("l"), pmod(col("doc_id"), lit(100)))))
      .select(sum("epoch"), count(lit(1))).head())
    timeOrRun("rrf_hybrid") {
      import org.apache.spark.sql.expressions.Window
      val lex = Search.bm25(docs, "doc_id", "text",
          Seq("window", "customer", "scan"))
        .orderBy($"score".desc, $"doc_id".asc).limit(50)
        .withColumn("rank", row_number().over(
          Window.orderBy($"score".desc, $"doc_id".asc)))
        .select("doc_id", "rank")
      val den = Similarity.bruteForceTopK(emb,
          emb.filter($"vec_id" === 0), "vec_id", "embedding", k = 50)
        .select($"n_id".as("doc_id"), $"rank")
      Search.rrfFuse(Seq("bm25" -> lex, "dense" -> den),
        "doc_id", "rank").select(sum("rrf_e9")).head()
    }
    // contrastive pair generation at replicated scale: both are one
    // corpus scan × broadcast anchors/positives — the corpus never
    // shuffles, so the cost axis is the scan, not an exchange
    if (Seq("hard_negatives", "random_negatives",
        "hard_negatives_batched4").exists(wanted)) {
      val pos = Dedup.embeddingNearDup(emb, "vec_id", "embedding",
        "label", threshold = 0.4).select("a_id", "b_id").cache()
      println(s"[probe] negatives positives=${pos.count()}")
      time("hard_negatives")(Similarity.hardNegatives(emb, "vec_id",
        "embedding", pos, "a_id", "b_id", $"vec_id" < 10, k = 5).count())
      time("random_negatives")(Curation.randomNegatives(emb, "vec_id",
        pos, "a_id", "b_id", $"vec_id" < 10, k = 5, seed = "np1").count())
      // the broadcast-memory escape hatch costs nBatches corpus scans
      // for ~nBatches× smaller anchor/positive broadcasts — this row
      // prices the knob so the sharding recipe isn't a guess
      time("hard_negatives_batched4")(Similarity.hardNegativesBatched(
        emb, "vec_id", "embedding", pos, "a_id", "b_id",
        $"vec_id" < 10, k = 5, nBatches = 4).count())
      pos.unpersist()
    }
    // duplicate spans: the gram shuffle carries one row per char position
    time("dup_spans")(Dedup.duplicateSpans(docs, "doc_id", "text",
      gramLen = 20).count())
    // the rewrite adds one text join + a partition-reusing reassembly
    // groupBy on top of the span pipeline
    time("remove_dup_spans")(Dedup.removeDuplicateSpans(docs,
      "doc_id", "text", gramLen = 20)
      .agg(sum("chars_removed")).head())
    // PQ: train 16x32 codebooks, encode the corpus (map-only), ADC-score
    // 10 queries over codes — the compressed-scan ANN path
    time("pq_train_encode_adc")({
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
        m = 16, ksub = 32, iters = 1)
      Similarity.pqTopKAdc(emb, "vec_id", "embedding", cb,
        $"vec_id" < 10, 5).count()
    })
    // IVFPQ: trained cells x trained codes, 1-probe queries — both
    // corpus kernels map-only, candidates = 1/16 of the corpus
    time("ivfpq_1probe")({
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        k = 16, iters = 1)
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
        m = 16, ksub = 32, iters = 1)
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", cents, cb,
        $"vec_id" < 10, k = 5).count()
    })
    // residual variant: same plan shape (the residual subtraction is
    // one more map-only zip_with on each side; the LUT moves after the
    // probe explode) — the row pins that residual encoding costs no
    // extra shuffle
    time("ivfpq_residual_1probe")({
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        k = 16, iters = 1)
      val cb = Similarity.pqTrainResidual(emb, "vec_id", "embedding",
        cents, m = 16, ksub = 32, iters = 1)
      Similarity.ivfPqTopKResidual(emb, "vec_id", "embedding", cents, cb,
        $"vec_id" < 10, k = 5).count()
    })

    // the q84/search honesty convention applied to ANN (VERDICT r7
    // Next #8): production trains codebooks and encodes the corpus
    // ONCE, persists the (id, cell, pq_code) layout, and serves
    // queries from the loaded artifacts — these rows time that
    // steady-state (pqTopKAdcOnCodes / ivfPqTopKOnCodes over loaded
    // parquet) separately from the build-inclusive rows above
    if (Seq("pq_adc_loaded", "ivfpq_loaded", "ann_artifact_build")
        .exists(wanted)) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_probe_ann_").toString
      timeOrRun("ann_artifact_build")({
        val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
          k = 16, iters = 1)
        val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
          m = 16, ksub = 32, iters = 1)
        cents.write.mode("overwrite").parquet(s"$dir/cents")
        cb.write.mode("overwrite").parquet(s"$dir/cb")
        Similarity.pqEncode(
            Similarity.ivfAssign(emb, "vec_id", "embedding", cents),
            "vec_id", "embedding", cb)
          .select("vec_id", "cid", "pq_code")
          .write.mode("overwrite").parquet(s"$dir/codes")
      })
      val codes = spark.read.parquet(s"$dir/codes")
      val cbL = spark.read.parquet(s"$dir/cb")
      val centsL = spark.read.parquet(s"$dir/cents")
      val queries = emb.filter($"vec_id" < 10)
      time("pq_adc_loaded")(Similarity.pqTopKAdcOnCodes(codes,
        "vec_id", "pq_code", queries, "vec_id", "embedding", cbL,
        k = 5).count())
      time("ivfpq_loaded")(Similarity.ivfPqTopKOnCodes(codes,
        "vec_id", "cid", "pq_code", queries, "vec_id", "embedding",
        centsL, cbL, k = 5).count())
    }

    // round-4b retrieval/curation: BM25 (scan-bound, zero corpus
    // shuffle expected in the meter), posting build+AND search, splits,
    // upsampling fanout, and SemDeDup with TRAINED cells at the
    // practical cell count (~sqrt(N) keeps the pair space Σ|cell|²
    // near-linear)
    time("bm25_3terms")(Search.bm25(docs, "doc_id", "text",
      Seq("window", "customer", "scan")).count())
    // VSM: same zero-corpus-shuffle contract as bm25 plus the in-scan
    // integer norm (aggregate over the doc's distinct terms)
    time("vsm_3terms")(Search.vsmCosine(docs, "doc_id", "text",
      Seq("window", "customer", "scan")).count())
    // cluster-balanced subsample at the practical cell count: trained
    // cells + the bounded per-cell TopK selection (state <= quota/cell
    // per task; the corpus shuffles only into the selection agg)
    time("cluster_sample_k256_q32")({
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        k = 256, iters = 1)
      Curation.clusterBalancedSample(emb, "vec_id", "embedding", cents,
        quota = 32, seed = "cb1").count()
    })
    time("postings_build_and_and3")({
      val p = Search.buildPostings(docs, "doc_id", "text")
      Search.conjunctive(p, Seq("window", "customer", "scan")).count()
    })
    time("phrase_build_and_search")({
      val pp = Search.buildPositionalPostings(docs, "doc_id", "text")
      Search.phraseSearch(pp, Seq("the", "table")).count()
    })
    // the q84 honesty convention applied to search (NOTES round-8 #5):
    // production saves the index ONCE and pays only query-time reads —
    // time the queries against the LOADED parquet artifacts so the
    // build-dominated rows above don't overstate steady-state cost
    if (Seq("postings_query_loaded", "phrase_query_loaded",
        "postings_artifact_build", "phrase_artifact_build")
        .exists(wanted)) {
      // per-run dirs: two concurrent probes on one machine must not
      // overwrite each other's parquet mid-timing (ADVICE r7)
      val pDir = java.nio.file.Files
        .createTempDirectory("graft_probe_postings_").toString
      val ppDir = java.nio.file.Files
        .createTempDirectory("graft_probe_positional_").toString
      timeOrRun("postings_artifact_build")(
        Search.buildPostings(docs, "doc_id", "text")
          .write.mode("overwrite").parquet(pDir))
      timeOrRun("phrase_artifact_build")(
        Search.buildPositionalPostings(docs, "doc_id", "text")
          .write.mode("overwrite").parquet(ppDir))
      time("postings_query_loaded")(Search.conjunctive(
        spark.read.parquet(pDir), Seq("window", "customer", "scan")).count())
      time("phrase_query_loaded")(Search.phraseSearch(
        spark.read.parquet(ppDir), Seq("the", "table")).count())
    }
    time("split_assign")(Curation.assignSplits(docs, "doc_id", "sp1",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split").count().count())
    time("upsample_2p5x")(Curation.upsampleSources(
      docs.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20)))),
      "source", "doc_id", Seq("src0" -> 2.5, "src1" -> 0.0, "src2" -> 3.0),
      "mix2").count())
    time("chunk_32_8")(TextAnalysis.chunkTokens(docs, "doc_id", "text",
      chunkSize = 32, overlap = 8).count())
    // corpus-level line dedup (q169/q170) over rebuilt 4-token-chunk
    // lines (the oracle device). boilerplate: pass 1 shuffles only
    // (doc, line-hash) tuples and pass 2 is map-only — expect MB ≈
    // 16 B/line and NOT ∝ text bytes; keep-first adds the winner
    // election (narrow tuples) plus exactly one text shuffle (the pk
    // join). Replication multiplies every line's doc-frequency by
    // `copies`, so the threshold scales with it to keep the same
    // planted drop fraction.
    if (Seq("boilerplate_lines", "dedup_lines_keepfirst",
        "boilerplate_delta").exists(wanted)) {
      val lined = docs.select($"doc_id",
        graft.functions.TextFunctions.tokens($"text").as("__t"))
        .select($"doc_id",
          graft.functions.TextFunctions.rebuiltLineText($"__t", 4)
            .as("text"))
      time("boilerplate_lines")(
        Dedup.removeBoilerplateLines(lined, "doc_id", "text",
            maxDocFreq = 2 * copies)
          .agg(sum("n_lines_dropped")).head().getLong(0))
      time("dedup_lines_keepfirst")(
        Dedup.dedupLinesKeepFirst(lined, "doc_id", "text")
          .agg(sum("n_lines_dropped")).head().getLong(0))
      // delta maintenance: one arriving copy against the whole
      // replicated history's artifact — the fold must cost ∝ batch
      // lines + artifact size, with the historical TEXT untouched
      if (wanted("boilerplate_delta")) {
        val hist = lined.filter($"doc_id" < (copies - 1) * 10000000L)
        val batch = lined.filter($"doc_id" >= (copies - 1) * 10000000L)
        var snap: DataFrame = null
        timeOrRun("boilerplate_delta_artifact")({
          snap = Dedup.lineFrequencySnapshot(hist, "doc_id", "text")
            .cache()
          s"artifact=${snap.count()}"
        })
        time("boilerplate_delta")(
          Dedup.removeBoilerplateLinesDelta(batch, snap, "doc_id",
              "text", maxDocFreq = 2 * copies)
            .agg(sum("n_lines_dropped")).head().getLong(0))
        snap.unpersist()
      }
    }
    // CDC: chunking is map-only (one w-char md5 per position, work ∝
    // corpus chars); the keep-first dedup adds the narrow-tuple
    // election + one pk-join text shuffle — the lines-probe pair at
    // chunk granularity
    time("cdc_chunks")(Dedup.cdcChunks(docs, "doc_id", "text",
      w = 8, modulus = 32).count())
    time("cdc_dedup_keepfirst")(Dedup.dedupCdcKeepFirst(docs,
        "doc_id", "text", w = 8, modulus = 32)
      .agg(sum("n_chunks_dropped")).head().getLong(0))
    // BPE tokenizer training: ONE corpus pass (pre-token word count,
    // map-side combined) + the driver merge loop on the bounded word
    // table; the corpus-sized cost must stay flat in merges and the
    // shuffle must be word-table-sized, never corpus-sized
    if (Seq("bpe_train_200", "bpe_apply").exists(wanted)) {
      var merges: org.apache.spark.sql.DataFrame = null
      timeOrRun("bpe_train_200")({
        merges = TextAnalysis.bpeTrain(docs, "text", numMerges = 200)
        s"merges=${merges.count()}"
      })
      time("bpe_apply")(TextAnalysis
        .bpeApply(docs, "doc_id", "text", merges)
        .agg(sum(size(col("bpe_tokens")))).head())
    }
    // NB classifier: train is ONE corpus pass to a vocab×labels
    // artifact (word-table-sized shuffle, the bpe_train property);
    // classify shuffles (doc, term-in-vocab) and (doc, label) narrow
    // tuples with the model broadcast — text never shuffles
    if (Seq("nb_train", "nb_classify").exists(wanted)) {
      val labeled = docs.withColumn("lab",
        concat(lit("c"), pmod(col("doc_id"), lit(3))))
      var model: (DataFrame, DataFrame) = null
      timeOrRun("nb_train")({
        model = TextAnalysis.trainNaiveBayes(labeled, "lab", "text")
        model = (model._1.cache(), model._2.cache())
        s"terms=${model._1.count()}"
      })
      time("nb_classify")(TextAnalysis.classifyLinear(docs, "doc_id",
          "text", model._1, model._2)
        .groupBy("label").count().count())
      model._1.unpersist(); model._2.unpersist()
    }
    time("semantic_neardup_k256")({
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        k = 256, iters = 1)
      Dedup.semanticNearDup(emb, "vec_id", "embedding", cents, 0.95).count()
    })
    } // docProbes guard

    // Round-14: the q197 end-to-end curation pipeline at corpus scale
    // (the EXACT q197 composition via TextQueries.curationPipeline on a
    // replicated corpus). The claim is near-linear wall/shuffle in
    // corpus size: the quality gate + line reconstruction are scan-
    // bounded, both dedup stages shuffle collapsed (doc, line-hash)
    // tuples plus ONE pk text join, the cluster/rank/split tail is
    // slim-row windows — no stage is quadratic, and the boilerplate
    // frequent set stays heavy-hitter-bounded as the corpus grows.
    if (Seq("curation_pipeline").exists(wanted)) {
      val corpus = replicate(GraftSession.table(spark, sfDir, "documents")
        .select("doc_id", "source", "text"), "doc_id", copies).cache()
      println(s"[probe] curation corpus=${corpus.count()} (copies=$copies)")
      time("curation_pipeline")(
        graft.entry.TextQueries.curationPipeline(corpus).count())
      corpus.unpersist()
    }

    // Prefix-filter exact jaccard join (q183) vs the quadratic
    // shared-shingle pass (q36), on the corpus shape that separates
    // them: BOILERPLATE. On clean docs every shingle bucket is tiny
    // and the naive pass is cheap (the sf0.1 bench shows q36 beating
    // q183 there — recorded honestly in BENCH.md); prepend one shared
    // boilerplate header to every doc and the naive candidate space
    // gains Σ|bucket|² ≈ boiler_shingles × N² rows, while rarest-first
    // prefix filtering never indexes the frequent shingles at all.
    // Three rows: naive and prefix at N=1000 (naive still feasible),
    // prefix alone at N=1000·copies (where the naive join's candidate
    // space is ~boiler × N² ≈ 10^10 rows — not run, by design).
    if (Seq("prefix_jaccard_boiler_naive", "prefix_jaccard_boiler_prefix",
        "prefix_jaccard_boiler_prefix_full",
        "prefix_jaccard_boiler_naive_full").exists(wanted)) {
      val boiler = ("terms of service privacy policy all rights " +
        "reserved contact about subscribe cookie notice legal ") * 2
      val base = GraftSession.table(spark, sfDir, "documents")
        .select("doc_id", "text")
        .withColumn("text", concat(lit(boiler), col("text")))
      val small = replicate(base.filter(col("doc_id") < 500), "doc_id", 2)
        .cache()
      val full = replicate(base, "doc_id", copies).cache()
      println(s"[probe] boiler small=${small.count()} full=${full.count()}")
      time("prefix_jaccard_boiler_naive")(
        Dedup.ngramJaccard(small, "doc_id", "text", 3, 0.8).count())
      time("prefix_jaccard_boiler_prefix")(
        Dedup.prefixJaccardJoin(small, "doc_id", "text", 0.8, 3).count())
      time("prefix_jaccard_boiler_prefix_full")(
        Dedup.prefixJaccardJoin(full, "doc_id", "text", 0.8, 3).count())
      // the naive pass at full N only on an EXACT-name request — its
      // candidate space is boiler_shingles x N^2 (~2x10^9 rows here);
      // substring-wanted() would run it on every unfiltered sweep
      if (explicitlyWanted("prefix_jaccard_boiler_naive_full"))
        time("prefix_jaccard_boiler_naive_full")(
          Dedup.ngramJaccard(full, "doc_id", "text", 3, 0.8).count())
      small.unpersist(); full.unpersist()
    }

    // VERDICT r5 Next #4: the ARTIFACT-LOADED minhash delta. Production
    // saves minhashBands(snapshot) once; re-ingest pays only the delta
    // (ext/Dedup.scala minhashNearDupDelta docs). The q84 bench shape
    // inline-builds the snapshot band table twice, so the "work ∝ delta"
    // claim has never been measured against the artifact path. Split a
    // replicated corpus 99%/1% by id, persist the snapshot band table
    // as the parquet artifact, then time (a) the one-time build+save,
    // (b) the delta query against the LOADED artifact. The claim is the
    // RATIO: at a 1% delta, row (b) must be far below row (a) on wall,
    // bytes, and maxTask — re-ingest cost tracks the delta, not the
    // corpus.
    if (Seq("minhash_bands_artifact_build", "minhash_delta_artifact",
        "minhash_bands_artifact_build_dd", "minhash_delta_artifact_dd",
        "minhash_full_dd").exists(wanted)) {
      val corpus = replicate(GraftSession.table(spark, sfDir, "documents")
        .select("doc_id", "text"), "doc_id", copies).cache()
      val nAll = corpus.count()
      val snap = corpus.filter(pmod(col("doc_id"), lit(100)) =!= 37).cache()
      val delta = corpus.filter(pmod(col("doc_id"), lit(100)) === 37).cache()
      println(s"[probe] artifact split: corpus=$nAll " +
        s"snapshot=${snap.count()} delta=${delta.count()}")
      val bandsPath = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_probe_bands").getPath
      // the build must RUN even when the name filter deselects its
      // timing row — a delta-only run would otherwise crash on a
      // missing artifact, or worse, silently probe a STALE one from an
      // earlier run at different copies/sfDir
      timeOrRun("minhash_bands_artifact_build")(
        Dedup.minhashBands(snap, "doc_id", "text", 3, 12, 4)
          .write.mode("overwrite").parquet(bandsPath))
      val loaded = spark.read.parquet(bandsPath)
      time("minhash_delta_artifact")(
        Dedup.minhashNearDupDelta(delta, snap, loaded, "doc_id", "text",
          3, 12, 4, 0.5).count())
      // the PRODUCTION regime: exact dedup BEFORE minhash (the recorded
      // 20× lesson — raw 78.7 s vs deduped 2.9 s). The replicated raw
      // corpus gives every doc ~copies-1 identical twins, so even a 1%
      // delta drags thousands of true pairs through exact-jaccard
      // verification; after exact dedup the near-dup density is the
      // planted one and the delta's wall collapses with its pair count.
      val dd = corpus.join(
        Dedup.exact(corpus, "doc_id", "text")
          .select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
        .cache()
      val snapDd = dd.filter(pmod(col("doc_id"), lit(100)) =!= 37).cache()
      val deltaDd = dd.filter(pmod(col("doc_id"), lit(100)) === 37).cache()
      println(s"[probe] artifact split (deduped): corpus=${dd.count()} " +
        s"snapshot=${snapDd.count()} delta=${deltaDd.count()}")
      val ddPath = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_probe_bands_dd").getPath
      timeOrRun("minhash_bands_artifact_build_dd")(
        Dedup.minhashBands(snapDd, "doc_id", "text", 3, 12, 4)
          .write.mode("overwrite").parquet(ddPath))
      val loadedDd = spark.read.parquet(ddPath)
      time("minhash_delta_artifact_dd")(
        Dedup.minhashNearDupDelta(deltaDd, snapDd, loadedDd, "doc_id",
          "text", 3, 12, 4, 0.5).count())
      time("minhash_full_dd")(Dedup.minhashNearDup(dd, "doc_id", "text",
        3, 12, 4, 0.5).count())
    } // artifact guard

    // funnel over a user-replicated event log: user count scales with
    // copies (replicate offsets user_id), events/user constant — the
    // growth axis a real log has
    if (Seq("funnel_3step").exists(wanted)) {
      val evRaw = GraftSession.table(spark, sfDir, "events")
      val ev = replicate(evRaw
        .select(col("user_id"), col("event_type"),
          GraftSession.tsMicros(evRaw).as("ts_us")), "user_id", copies).cache()
      println(s"[probe] funnel events=${ev.count()}")
      time("funnel_3step")(graft.operators.Funnel.funnel(ev, "user_id",
          "event_type", "ts_us", Seq("view", "click", "purchase"))
        .agg(sum("step_reached")).head())
    }

    // transition matrix + think-time histogram (q110/q111 shapes):
    // ONE user-key window over the replicated log, then tiny roll-ups
    // — the probe pins that the only log-sized exchange is the window
    // partition (bytes ∝ events, wall scan/sort-bound)
    if (Seq("transitions_matrix", "interevent_hist").exists(wanted)) {
      val evRaw = GraftSession.table(spark, sfDir, "events")
      val ev = replicate(evRaw
        .select(col("user_id"), col("event_id"), col("event_type"),
          GraftSession.tsMicros(evRaw).as("ts_us")),
        "user_id", copies).cache()
      println(s"[probe] transitions events=${ev.count()}")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts_us").asc, col("event_id").asc)
      time("transitions_matrix")(ev
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy("event_type", "to_type").count()
        .agg(sum("count")).head())
      time("interevent_hist")(ev
        .withColumn("__gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("__gap").isNotNull)
        .groupBy(col("event_type"),
          length(bin(col("__gap"))).as("gap_bucket"))
        .count().agg(sum("count")).head())
    }

    // staged vs single-pass funnel at a LONG step list (the
    // Funnel.funnelSinglePass trade claim): 12 synthetic step types
    // (s0..s11 from event_id mod 12) so the staged form pays 12
    // join+agg rounds while the single-pass form pays its one user-key
    // shuffle + per-user sort. Most users stall early under random
    // type order — realistic for deep funnels, and identical work for
    // both forms by construction (spec'd equal in SessionizeSpec).
    if (Seq("funnel_12step_staged", "funnel_12step_single")
        .exists(wanted)) {
      val evRaw = GraftSession.table(spark, sfDir, "events")
      val ev = replicate(evRaw.select(col("user_id"),
          concat(lit("s"), pmod(col("event_id"), lit(12))).as("etype"),
          GraftSession.tsMicros(evRaw).as("ts_us")),
        "user_id", copies).cache()
      println(s"[probe] funnel12 events=${ev.count()}")
      val steps12 = (0 until 12).map(i => s"s$i")
      time("funnel_12step_staged")(graft.operators.Funnel.funnel(
          ev, "user_id", "etype", "ts_us", steps12)
        .agg(sum("step_reached")).head())
      time("funnel_12step_single")(graft.operators.Funnel.funnelSinglePass(
          ev, "user_id", "etype", "ts_us", steps12)
        .agg(sum("step_reached")).head())
    }

    // cohort retention over the same user-replicated log (q108 shape):
    // the log collapses to distinct (user, bucket) pairs map-side, so
    // shuffle bytes scale with users x active-buckets, not raw events
    if (Seq("retention_weekly", "rolling_active_7d").exists(wanted)) {
      val evRaw = GraftSession.table(spark, sfDir, "events")
      val ev = replicate(evRaw
        .select(col("user_id"), GraftSession.tsMicros(evRaw).as("ts_us")),
        "user_id", copies).cache()
      println(s"[probe] retention events=${ev.count()}")
      time("retention_weekly")(graft.operators.Retention.cohortMatrix(
          ev, "user_id", "ts_us", bucketWidth = 604800000000L)
        .agg(sum("n_users")).head())
      time("rolling_active_7d")(graft.operators.Retention.rollingActive(
          ev, "user_id", "ts_us", bucketWidth = 86400000000L, window = 7)
        .agg(sum("active_users")).head())
    }

    // data-quality constraint suite (q123 shape): every row-local
    // check rides ONE aggregate over the fact table (map-side partials
    // → one-row merge), uniqueness adds the exact-countDistinct
    // Expand, the FK is a left join against broadcast-sized distinct
    // dim keys. Shuffle bytes must stay ~flat in copies — nothing
    // row-sized ever moves.
    if (wanted("constraint_suite")) {
      import graft.ext.Quality
      import graft.ext.Quality._
      val ord = replicate(GraftSession.table(spark, sfDir, "orders"),
        "o_orderkey", copies).cache()
      val cust = GraftSession.table(spark, sfDir, "customer")
      println(s"[probe] constraint orders=${ord.count()}")
      val checks = Seq(
        NotNull("o_custkey"), Unique(Seq("o_orderkey")),
        InRange("o_totalprice", 0.0, 300000.0),
        InSet("o_orderstatus", Seq("O", "F")),
        MatchesRegex("o_orderpriority", "^[1-3]-[A-Z]+$"),
        ForeignKey("o_custkey", cust, "c_custkey"))
      time("constraint_suite")(Quality.suite(ord, checks)
        .collect().map(_.getLong(2)).sum)
    }

    // SymSpell spelling candidates (q129 shape): the vocab side is the
    // growth axis — synthetic distinct terms (length 5-12) so the
    // deletion-neighborhood explode pays ≈(len+1)× vocab rows; queries
    // stay a broadcast handful. Bytes must be vocab-sized (the variant
    // keys), never quadratic.
    if (Seq("spell_candidates").exists(wanted)) {
      import graft.ext.TextAnalysis
      val n = 50000L * copies / 20
      val vocab = spark.range(n).toDF("id")
        .select(concat(lit("w"), md5(col("id").cast("string")))
          .substr(lit(1), lit(5) + (col("id") % 8).cast("int"))
          .as("term"), (col("id") % 1000 + 1).as("cnt"))
        .groupBy("term").agg(max("cnt").as("cnt")).cache()
      println(s"[probe] spell vocab=${vocab.count()}")
      time("spell_candidates")(TextAnalysis.spellCandidates(vocab,
          Seq("w1a2b", "w3c4d5", "wfffff", "zzzzz"))
        .count())
    }

    // SCD2 family (q124/q126 shape): full rebuild vs point-in-time
    // enrich against an artifact-loaded history.
    if (Seq("scd2_rebuild", "scd2_enrich").exists(wanted)) {
      import graft.ext.Snapshot
      val evRaw = GraftSession.table(spark, sfDir, "events")
      val ev = replicate(evRaw
        .select(col("user_id"), col("event_id"), col("event_type"),
          GraftSession.tsMicros(evRaw).as("ts_us")),
        "user_id", copies).cache()
      println(s"[probe] scd2 events=${ev.count()}")
      val keys = Seq("user_id")
      time("scd2_rebuild")(Snapshot.scd2FromLog(ev, keys,
          Seq("event_type"), "ts_us", Seq("event_id"))
        .agg(max("version_seq")).head())
      // history artifact (approxQuantile + compaction + parquet write)
      // only when the probe that READS it is selected — scd2_rebuild
      // alone must not pay for it
      if (wanted("scd2_enrich")) {
        // history over the oldest ~90% persisted to parquet (the
        // loaded-artifact convention)
        val cut = ev.stat.approxQuantile("ts_us", Array(0.9), 0.001)(0)
          .toLong
        val histDir = java.nio.file.Files
          .createTempDirectory("graft_probe_scd2").toString
        Snapshot.scd2FromLog(ev.filter(col("ts_us") <= cut), keys,
            Seq("event_type"), "ts_us", Seq("event_id"))
          .write.mode("overwrite").parquet(histDir)
        val hist = spark.read.parquet(histDir)
        time("scd2_enrich")(Snapshot.enrichAsOf(
            ev.select("user_id", "event_id", "ts_us"),
            hist.withColumnRenamed("event_type", "state_type"),
            keys, "ts_us")
          .agg(max("version_seq")).head())
      }
    }

    // closest-interval join (q112 shape): fixed query set, features
    // replicated — the growth axis is the annotation corpus. The plan
    // must stay ∝ features (two as-of shuffles over collapsed
    // (key, coord) streams + the binned overlap join); an all-pairs
    // regression would show as quadratic bytes
    if (Seq("closest_join").exists(wanted)) {
      val qs = GraftSession.table(spark, sfDir, "orders")
        .filter(col("o_orderkey") % 100 === 7).select(
          (col("o_orderkey") % 5).as("chrom"),
          ((col("o_orderkey") * 7) % 5000).as("s1"),
          ((col("o_orderkey") * 7) % 5000 + 1 + col("o_orderkey") % 40)
            .as("e1"),
          col("o_orderkey")).cache()
      val fs = replicate(GraftSession.table(spark, sfDir, "events")
        .select("event_id"), "event_id", copies)
        .select(
          (col("event_id") % 5).as("chrom"),
          ((col("event_id") * 13) % 50000).as("s2"),
          ((col("event_id") * 13) % 50000 + 1 + col("event_id") % 25)
            .as("e2"),
          col("event_id")).cache()
      println(s"[probe] closest queries=${qs.count()} features=${fs.count()}")
      time("closest_join")(graft.ranges.Closest.closest(
          qs, fs, Seq("chrom"), "s1", "e1", "s2", "e2", "event_id",
          width = 64L)
        .agg(sum("distance")).head())
    }

    // pHash near-dup: per-row integer DCT hash (mapPartitions, map-only
    // — the image-decode cost center at production is the codec, which
    // this grid-synthesis shape stands in for) + 4x16-bit band join.
    // Only 8-byte signatures shuffle, never grids/pixels.
    if (Seq("phash_hash_band", "audio_fp_band").exists(wanted)) {
      val ids = replicate(GraftSession.table(spark, sfDir, "documents")
        .select("doc_id"), "doc_id", copies).cache()
      println(s"[probe] phash ids=${ids.count()}")
      time("phash_hash_band")({
        val hashed = ids.select(col("doc_id").cast("long")).as[Long]
          .mapPartitions(_.map(id =>
            (id, graft.ext.Multimodal.phashFromGrid(
              graft.ext.Multimodal.syntheticGrid(id)))))
          .toDF("doc_id", "phash")
        Dedup.hammingNearDup(hashed, "doc_id", "phash").count()
      })
      // audio twin: envelope synthesis + derivative bits per row
      // (map-only; production pays the audio codec here), same banding
      time("audio_fp_band")({
        val fp = ids.select(col("doc_id").cast("long")).as[Long]
          .mapPartitions(_.map(id =>
            (id, graft.ext.Multimodal.fingerprintFromEnvelope(
              graft.ext.Multimodal.syntheticEnvelope(id).map(_.toDouble)))))
          .toDF("doc_id", "afp")
        Dedup.hammingNearDup(fp, "doc_id", "afp").count()
      })
    }

    // annotation join (q135 shape): replicated facts against a FIXED
    // dim-sized interval set — the regime where the binned join's
    // two-sided shuffle is pure overhead. Also the salted-join probe:
    // |event_type| = 5, so the plain shuffle join concentrates 1/5 of
    // the facts per reducer (watch maxTask, not wall-clock — local[32]
    // hides serialization the cluster pays for).
    if (Seq("annotate_binned", "annotate_binned_auto",
        "annotate_broadcast", "plain_join_hotkeys", "salted_join",
        "selective_join_plain", "selective_join_bloom").exists(wanted)) {
      val facts = replicate(GraftSession.table(spark, sfDir, "events")
          .select("event_id", "event_type"), "event_id", copies)
        .select(col("event_id"), col("event_type"),
          (col("event_id") % 5).as("chrom"),
          ((col("event_id") * 13) % 500000).as("s2"),
          ((col("event_id") * 13) % 500000 + 1 + col("event_id") % 25)
            .as("e2"))
        .cache()
      val ann = GraftSession.table(spark, sfDir, "supplier").select(
        (col("s_suppkey") % 5).as("chrom"),
        ((col("s_suppkey") * 11) % 500000).as("s1"),
        ((col("s_suppkey") * 11) % 500000 + 1 + col("s_suppkey") % 600)
          .as("e1"),
        col("s_suppkey"))
      println(s"[probe] facts=${facts.count()} ann=${ann.count()}")
      val dim = facts.groupBy("event_type")
        .agg(count(lit(1)).as("type_count")).cache()
      dim.count()
      // with accurate local stats Catalyst broadcasts the unhinted
      // binned join on its own — worth a row of its own; the forced
      // -1 threshold below is the 100 TB regime (stats missing or
      // misestimated), where the explicit broadcast form is the only
      // thing standing between the plan and a two-sided shuffle
      time("annotate_binned_auto")(RangeJoin.overlapJoin(facts, ann,
        Seq("chrom"), "s2", "e2", "s1", "e1", 1024L).count())
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        time("annotate_binned")(RangeJoin.overlapJoin(facts, ann,
          Seq("chrom"), "s2", "e2", "s1", "e1", 1024L).count())
        time("annotate_broadcast")(RangeJoin.overlapJoinBroadcast(facts,
          ann, Seq("chrom"), "s2", "e2", "s1", "e1", 1024L).count())
        // the action hashes EVERY column so the skewed shuffle carries
        // full-width rows — a count() would let column pruning empty
        // the shuffle and hide the hot-key serialization being probed
        def drained(df: DataFrame): Long = df
          .select(xxhash64(df.columns.map(col): _*).as("__h"))
          .agg(expr("bit_xor(__h)")).head().getLong(0)
        time("plain_join_hotkeys")(
          drained(facts.join(dim, Seq("event_type"))))
        time("salted_join")(drained(graft.ext.Skew.saltedJoin(facts, dim,
          Seq("event_type"), salts = 32)))
        // selective-dim regime (q145 shape): ~0.5% of users are in the
        // dim — the bloom probe drops the other 99.5% of the log
        // MAP-SIDE, so the shuffle carries only (near-)matching rows.
        // Release the annotate-block caches FIRST: at copies=200 both
        // cached fact sets exceed storage together and the eviction
        // recomputes the 200-branch union inside the timed probe
        facts.unpersist(); dim.unpersist()
        val evKeyed = replicate(GraftSession.table(spark, sfDir, "events")
          .select("event_id", "user_id"), "event_id", copies).cache()
        evKeyed.count()
        // vip derives from the CACHED facts — a high-copies replicate
        // lineage here gets silently recomputed (twice: the count and
        // the bloom build) when storage pressure evicts it, and the
        // 19 s that costs lands inside the timed fold
        val vip = evKeyed.filter(col("user_id") % 199 === 0)
          .groupBy("user_id").agg(count(lit(1)).as("n_events")).cache()
        vip.count()
        time("selective_join_plain")(
          evKeyed.join(vip, Seq("user_id")).count())
        time("selective_join_bloom")(graft.ext.Skew.bloomPrefilteredJoin(
          evKeyed, vip, Seq("user_id")).count())
        vip.unpersist(); evKeyed.unpersist()
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      facts.unpersist(); dim.unpersist()
    }

    val iv = replicate(GraftSession.table(spark, sfDir, "orders")
      .select("o_orderkey"), "o_orderkey", copies)
      .select((col("o_orderkey") % 5).as("chrom"),
        ((col("o_orderkey") * 7) % 500000).as("s1"),
        ((col("o_orderkey") * 7) % 500000 + 1 + col("o_orderkey") % 40).as("e1"),
        col("o_orderkey"))
    val iv2 = iv.select(col("chrom"), col("s1").as("s2"), col("e1").as("e2"),
      col("o_orderkey").as("k2"))
    time("interval_selfjoin")(RangeJoin.overlapJoin(iv, iv2,
      Seq("chrom"), "s1", "e1", "s2", "e2", 64L).count())
    // interval-set sweeps: one key shuffle + ordered window; work in
    // interval endpoints, never genome length
    time("interval_merge")(graft.ranges.IntervalSets.mergeOverlapping(
      iv, Seq("chrom"), "s1", "e1").count())
    time("coverage_depth")(graft.ranges.IntervalSets.coverageDepth(
      iv, Seq("chrom"), "s1", "e1").count())
    // B thinned to 2% — the full event set blankets [0, 500k) and the
    // subtraction is correctly empty, which probes nothing
    time("interval_subtract")(graft.ranges.IntervalSets.subtract(
      iv, iv2.filter(col("k2") % 50 === 0)
        .select(col("chrom"), col("s2"), col("e2")),
      Seq("chrom"), "s1", "e1", "s2", "e2").count())
    // bucketed sweep: positions span [0, 500000), so W=500 gives ~1000
    // occupied buckets/chrom -> ~5000 (key, bucket) windows vs 5
    time("coverage_depth_bucketed")(graft.ranges.IntervalSets
      .coverageDepthBucketed(iv, Seq("chrom"), "s1", "e1", 500L).count())
    // same escape hatch for merge and subtract: the few-key window cap
    // broken at the same W=500 bucketing
    time("interval_merge_bucketed")(graft.ranges.IntervalSets
      .mergeOverlappingBucketed(iv, Seq("chrom"), "s1", "e1", 500L).count())
    time("interval_subtract_bucketed")(graft.ranges.IntervalSets
      .subtractBucketed(iv, iv2.filter(col("k2") % 50 === 0)
        .select(col("chrom"), col("s2"), col("e2")),
      Seq("chrom"), "s1", "e1", "s2", "e2", 500L).count())
    // the few-key bottleneck itself: ONE key = the simple window runs
    // on a single task of 32; bucketing is the only source of
    // parallelism. This is the regime the bucketed variants exist for.
    // Inputs are CACHED and pre-materialized so the rows time the
    // operator, not the input build both forms share. The multiplier is
    // a crossJoin (not the N-way union replicate) so high `copies`
    // doesn't build an N-branch plan; `__r` is unique per (orderkey,
    // copy), and since ×7919 is a bijection on Z_5e7, starts stay
    // DISTINCT exactly while max(__r) = maxOrderkey×copies + copies-1
    // < 5e7 — at sf0.1 (max o_orderkey 600k) that is copies ≤ 83,
    // i.e. 12.5M intervals. Beyond that __r wraps mod 5e7 and starts
    // are only mostly distinct (~10% collisions at copies=667), which
    // densifies islands but keeps the structure real. (The union
    // replicate's +10M offsets collapsed to 5 distinct shifts mod the
    // 50M span — the lesson: check the generator's image, not just its
    // row count.) Short lengths (1–3) keep coverage < 1 so the island
    // structure is real (~40% of starts root an island) rather than
    // one merged span.
    if (Seq("interval_merge_1key", "interval_merge_1key_bucketed",
        "interval_subtract_1key", "interval_subtract_1key_bucketed",
        "interval_merge_1key_bucketedauto",
        "interval_subtract_1key_bucketedauto").exists(wanted)) {
    val iv1 = GraftSession.table(spark, sfDir, "orders")
      .select("o_orderkey")
      .crossJoin(spark.range(copies.toLong).select(col("id").as("__c")))
      .withColumn("__r", col("o_orderkey") * copies + col("__c"))
      .select(lit(0L).as("chrom"),
        ((col("__r") * 7919) % 50000000L).as("s1"),
        ((col("__r") * 7919) % 50000000L + 1 + col("__r") % 3).as("e1"))
      .cache()
    val b1 = iv1.filter(col("s1") % 37 === 0)
      .select(col("chrom"), col("s1").as("s2"), col("e1").as("e2")).cache()
    println(s"[probe] 1key intervals=${iv1.count()} b=${b1.count()}")
    time("interval_merge_1key")(graft.ranges.IntervalSets
      .mergeOverlapping(iv1, Seq("chrom"), "s1", "e1").count())
    time("interval_merge_1key_bucketed")(graft.ranges.IntervalSets
      .mergeOverlappingBucketed(iv1, Seq("chrom"), "s1", "e1", 50000L)
      .count())
    time("interval_subtract_1key")(graft.ranges.IntervalSets
      .subtract(iv1, b1, Seq("chrom"), "s1", "e1", "s2", "e2").count())
    time("interval_subtract_1key_bucketed")(graft.ranges.IntervalSets
      .subtractBucketed(iv1, b1, Seq("chrom"), "s1", "e1", "s2", "e2",
        50000L).count())
    // width-free overloads: deriveBucketWidth's one extra aggregate
    // scan + the operator at the derived width (reported in the probe
    // line so BENCH.md can record where the heuristic landed)
    time("interval_merge_1key_bucketedauto")({
      val w = graft.ranges.IntervalSets.deriveBucketWidth(iv1, "s1", "e1")
      val n = graft.ranges.IntervalSets
        .mergeOverlappingBucketed(iv1, Seq("chrom"), "s1", "e1", w).count()
      s"n=$n derivedW=$w"
    })
    time("interval_subtract_1key_bucketedauto")({
      val n = graft.ranges.IntervalSets
        .subtractBucketed(iv1, b1, Seq("chrom"), "s1", "e1", "s2", "e2")
        .count()
      s"n=$n"
    })
    } // 1-key guard

    // as-of at ONE key: the plain union-tag window serializes the
    // whole timeline onto one core (maxTask ~ wall)
    if (wanted("asof_1key")) {
      val n = 2000000L * copies / 20
      val l1 = spark.range(n).select(lit(0L).as("k"),
        pmod(col("id") * 7919L, lit(1000000000L)).as("ts"),
        col("id").as("lid")).cache()
      val r1 = spark.range(n / 4).select(lit(0L).as("k"),
        pmod(col("id") * 104729L, lit(1000000000L)).as("ts"),
        col("id").as("rid"))
        .groupBy("k", "ts").agg(max("rid").as("rid")).cache()
      println(s"[probe] asof 1key left=${l1.count()} right=${r1.count()}")
      time("asof_1key")(graft.operators.AsofJoin
        .backward(l1, r1, Seq("k"), "ts", "ts")
        .agg(sum("rid"), count(lit(1))).head())
    }

    // k-core peeling-depth stress (the onion graph): rounds = DEPTH,
    // not |V| — each round is a degree agg + two anti-joins + a
    // checkpoint, so a deep onion is the operator's worst case the way
    // diameter is min-prop CC's. 1500 lollipops — an 8-cycle core (its
    // own 2-core) with a 64-vertex tail whose FREE end alone is
    // degree-1 — peel exactly one tail vertex per round: 64 rounds to
    // the fixpoint, every round's sub-k set 1500 vertices, the edge
    // set shrinking monotonically to the 12k cycle edges.
    if (wanted("kcore_onion_d64")) {
      val lolls = 1500L
      val tail = 64L
      val cyc = 8L
      // vertex ids: lollipop i occupies [i*1000, i*1000+cyc+tail);
      // 0..cyc-1 the cycle, cyc..cyc+tail-1 the tail hanging off
      // vertex 0 (integer div: Spark `/` on longs is DOUBLE division)
      val cycE = spark.range(lolls * cyc).select(
        expr(s"(id div $cyc) * 1000 + id % $cyc").as("a"),
        expr(s"(id div $cyc) * 1000 + (id % $cyc + 1) % $cyc").as("b"))
      val tailE = spark.range(lolls * tail).select(
        expr(s"(id div $tail) * 1000 + " +
          s"if(id % $tail = 0, 0, $cyc + id % $tail - 1)").as("a"),
        expr(s"(id div $tail) * 1000 + $cyc + id % $tail").as("b"))
      val lollE = cycE.unionByName(tailE).cache()
      println(s"[probe] kcore onion edges=${lollE.count()} " +
        s"(lollipops=$lolls tail=$tail cycle=$cyc)")
      time("kcore_onion_d64")({
        val (core, rounds) = Graph.kCoreRounds(lollE, "a", "b", k = 2)
        val n = core.count()
        s"core_vertices=$n rounds=$rounds"
      })
      lollE.unpersist()
    }

    if (nameFilter.nonEmpty && ranCount == 0)
      println(s"[probe] WARNING: filter '${nameFilter.get}' matched no " +
        "probe — check the name against the guard lists in ScaleProbe")
    spark.stop()
  }
}
