package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokens

/** Corpus retrieval operators: BM25 ranked scoring and inverted-index
  * conjunctive (AND) keyword search.
  *
  * Both are designed around the 100 TB asymmetry of retrieval: the query
  * is a handful of terms, the corpus is the world. BM25 never shuffles
  * the corpus at all (per-term tf is computed in-scan; the only moving
  * data is ONE stats row broadcast back). Conjunctive search runs
  * against a SAVED posting table so per-query work is proportional to
  * the matched postings — Σ|postings(term)| — not the corpus.
  */
object Search {

  /** BM25's `k1` and `b`: the classic defaults, chosen here also
    * because both (and k1+1) are exactly representable doubles — no
    * cross-engine constant-folding hazard. */
  private val K1 = 1.5
  private val B = 0.75

  /** BM25 relevance of every document against a literal term list —
    * Robertson/Sparck-Jones BM25 with one deliberate substitution: the
    * idf factor is the RATIONAL core `(N - df + 0.5)/(df + 0.5)` rather
    * than its logarithm. Same device as
    * [[TextAnalysis.topTfidfTerm]]: +, ×, / on IEEE doubles are
    * correctly rounded and therefore bit-identical across engines,
    * while `ln` differs in final ulps between libm implementations.
    * The substitution is order-preserving per term (exp is monotone) —
    * multi-term rankings can differ from log-BM25 where a rare term's
    * contribution would have been damped, which is acceptable for a
    * dedup/curation relevance gate and what makes the operator
    * oracle-checkable end to end.
    *
    * Plan shape (the part that matters at scale):
    *  1. per-term tf via `size(filter(tokens, _ == term))` — computed
    *     INSIDE the scan projection, no explode, no shuffle;
    *  2. ONE single-row aggregate (N, Σdl, per-term df) broadcast back;
    *  3. the score is a map-only arithmetic pass.
    *  The corpus is read twice and shuffled never; at 100 TB both reads
    *  run at storage bandwidth and the broadcast is one row.
    *
    * Docs matching no term score 0 and are filtered out. */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(terms.distinct == terms, "duplicate query terms would double-count")
    val toks = tokens(col(textCol))
    def tfCol(i: Int): String = s"__tf$i"
    val withTf = terms.zipWithIndex.foldLeft(
        df.withColumn("__dl", size(toks))) { case (d, (t, i)) =>
      d.withColumn(tfCol(i), size(filter(toks, x => x === lit(t))))
    }
    val statsAggs =
      (count(lit(1)).cast("double").as("__n")) +:
      (sum(col("__dl")).cast("double").as("__sumdl")) +:
      terms.indices.map(i =>
        sum((col(tfCol(i)) > 0).cast("long")).cast("double").as(s"__df$i"))
    val stats = withTf.agg(statsAggs.head, statsAggs.tail: _*)
    // score = Σ_i idf_i · tf_i(k1+1) / (tf_i + k1(1 - b + b·dl/avgdl)),
    // summed in term-list order so the fold is reproducible bit-for-bit
    val scored = withTf.crossJoin(broadcast(stats)).withColumn("score", {
      val avgdl = col("__sumdl") / col("__n")
      val lenNorm = lit(K1) * (lit(1.0 - B) + lit(B) * (col("__dl").cast("double") / avgdl))
      terms.indices.map { i =>
        val tf = col(tfCol(i)).cast("double")
        val idf = (col("__n") - col(s"__df$i") + lit(0.5)) / (col(s"__df$i") + lit(0.5))
        idf * (tf * lit(K1 + 1.0)) / (tf + lenNorm)
      }.reduceLeft(_ + _)
    })
    val outCols = col(idCol) +: col("__dl").as("dl") +:
      (terms.indices.map(i => col(tfCol(i)).as(s"tf${i + 1}")) :+ col("score"))
    scored.filter(col("score") > 0.0).select(outCols: _*)
  }

  /** SMART `nnc.ntc` vector-space cosine retrieval (Salton/Buckley
    * weighting triples): document side weights terms by raw tf and
    * cosine-normalizes over ALL its terms; query side weights by
    * tf × idf — with the same rational idf core as [[bm25]] (`(N - df
    * + 0.5)/(df + 0.5)`, no logarithm) for the same reason: every
    * operation in the score is +, ×, ÷, √ on IEEE doubles, all
    * correctly rounded, so the DOUBLE scores are bit-identical across
    * engines. The document norm is √ of an exact INTEGER (Σ tf² over
    * the doc's distinct terms), so even the norm has no
    * summation-order hazard.
    *
    * Same 100 TB shape as [[bm25]]: per-term tf AND the full-document
    * norm are computed inside the scan projection — the norm through
    * the codegen one-pass
    * [[graft.functions.expressions.TfNormSq]] hash count, O(|d|) per
    * document (see that expression for why the lambda composition it
    * replaced was both interpreted and quadratic) — ONE single-row
    * stats aggregate (N, per-term df) broadcasts back, and scoring is
    * map-only. The corpus is scanned twice and shuffled never. Docs
    * matching no query term score 0 and are filtered out. */
  def vsmCosine(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "vsm needs at least one query term")
    require(terms.distinct == terms, "duplicate query terms would double-count")
    val toks = tokens(col(textCol))
    def tfCol(i: Int): String = s"__tf$i"
    // the norm is a codegen'd one-pass hash count (TfNormSq): the
    // aggregate/array_distinct/filter composition computing the same
    // integer is O(|d|·|vocab(d)|) AND interpreted (higher-order array
    // expressions are CodegenFallback) — probe-measured ~3× the cost of
    // the entire rest of the query at 100k docs
    val withTf = terms.zipWithIndex.foldLeft(
        df.withColumn("__normsq",
          graft.functions.expressions.TextExpressions.tfNormSq(
            df.sparkSession, col(textCol)))) { case (d, (t, i)) =>
      d.withColumn(tfCol(i), size(filter(toks, x => x === lit(t))))
    }
    val statsAggs =
      (count(lit(1)).cast("double").as("__n")) +:
      terms.indices.map(i =>
        sum((col(tfCol(i)) > 0).cast("long")).cast("double").as(s"__df$i"))
    val stats = withTf.agg(statsAggs.head, statsAggs.tail: _*)
    // score = Σ_i tf_i·idf_i / (√normsq · √Σ_i idf_i²), folds in
    // term-list order so every double op is reproducible bit-for-bit
    val scored = withTf.crossJoin(broadcast(stats)).withColumn("score", {
      def idf(i: Int): Column =
        (col("__n") - col(s"__df$i") + lit(0.5)) / (col(s"__df$i") + lit(0.5))
      val num = terms.indices.map(i =>
        col(tfCol(i)).cast("double") * idf(i)).reduceLeft(_ + _)
      val qnorm = sqrt(terms.indices.map(i => idf(i) * idf(i)).reduceLeft(_ + _))
      num / (sqrt(col("__normsq").cast("double")) * qnorm)
    })
    val outCols = col(idCol) +:
      (terms.indices.map(i => col(tfCol(i)).as(s"tf${i + 1}")) :+ col("score"))
    scored.filter(col("score") > 0.0).select(outCols: _*)
  }

  /** Inverted-index build: one posting row per distinct (term, doc),
    * carrying the term frequency. This is the INDEXING pass — one
    * explode + one (term, doc) aggregation; persist it partitioned (or
    * bucketed) BY TERM so query-time scans prune to the asked-for terms
    * and a conjunctive query never touches the corpus again. */
  def buildPostings(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))

  /** Positional inverted-index build: one row per (term, doc,
    * position) — [[buildPostings]] with 1-based token positions kept,
    * the index shape PHRASE queries need. Map-only (posexplode in the
    * scan); persist partitioned (or bucketed) by term like the plain
    * posting table. ~|corpus tokens| rows: positions cost index bytes,
    * not query time — phrase work stays ∝ the queried terms' postings. */
  def buildPositionalPostings(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos0", "term")))
      .select(col("term"), col("doc_id"), (col("pos0") + 1).as("pos"))

  /** Exact phrase search against a saved positional posting table:
    * documents containing the words of `phrase` CONSECUTIVELY, with the
    * match count. The classic positional-index phrase plan (the
    * Manning/Raghavan/Schütze IR-book construction): anchor on the
    * first word's postings, then one equi-join per later word on
    * (doc_id, pos = anchor + offset) — every join is a hash join on
    * keys the `term IN (...)` scan filter already pruned to the
    * phrase's own postings, so work is Σ|postings(word)| over the
    * phrase, independent of corpus size. Repeated words in the phrase
    * are fine (each occupies its own offset). */
  def phraseSearch(postings: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase search needs at least one word")
    // one IN filter for the whole phrase: a single pruned scan of the
    // saved index feeds every join (partition pruning when term-
    // partitioned), rather than one scan per word. distinct for the
    // same reason conjunctive countDistincts: a doubled index (batch
    // re-appended) would otherwise multiply n_matches 2^|phrase|-fold
    val pruned = postings.filter(col("term").isin(phrase.distinct: _*))
      .select("term", "doc_id", "pos").distinct()
    val anchor = pruned.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos").as("__p"))
    val matched = phrase.zipWithIndex.tail.foldLeft(anchor) {
      case (acc, (w, i)) =>
        acc.join(pruned.filter(col("term") === w)
            .select(col("doc_id"), (col("pos") - i).as("__p")),
          Seq("doc_id", "__p"))
    }
    matched.groupBy("doc_id").agg(count(lit(1)).as("n_matches"))
  }

  /** Conjunctive (AND) keyword search against a saved posting table:
    * documents containing EVERY query term, with the summed tf as a
    * crude rank signal. The `term IN (...)` filter pushes into the
    * posting scan (partition pruning when the table is written
    * partitioned by term), so work is Σ|postings(term)| over the asked
    * terms — independent of corpus size; the groupBy shuffles only
    * those matched postings. */
  def conjunctive(postings: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "conjunctive search needs at least one term")
    val distinctTerms = terms.distinct
    // countDistinct, not count: a posting table with duplicated
    // (term, doc) rows (re-indexed batch appended twice) must neither
    // fake a conjunction out of repeats nor overshoot the gate
    postings.filter(col("term").isin(distinctTerms: _*))
      .groupBy("doc_id")
      .agg(countDistinct(col("term")).as("n_terms"),
        sum(col("tf")).as("total_tf"))
      .filter(col("n_terms") === distinctTerms.size)
      .select(col("doc_id"), col("total_tf"))
  }

  /** Rank-biased overlap at depth k (Webber/Moffat/Zobel 2010) with
    * persistence p = 1/2 — the ranking-similarity metric that, unlike
    * recall@k, weights agreement at the TOP of the lists: how close is
    * an ANN system's ranking to the exact one, per query?
    *
    *   RBO@k = Σ_{d=1..k} (1−p)·p^(d−1) · |top_d(A) ∩ top_d(B)| / d
    *
    * p is FIXED at 1/2 on purpose: every weight (1−p)p^(d−1) = 2^(−d)
    * is then a dyadic rational, so each term is ONE correctly-rounded
    * IEEE division `x / (d·2^d)` (the denominator an exact integer
    * via shiftleft — never libm pow) and the sum folds in ascending-d
    * order — the double RBO replays bit-for-bit in any engine.
    *
    * Inputs: two (qCol, idCol, rankCol) ranked lists with ranks 1..k.
    * An item counts toward depth d iff BOTH its ranks are ≤ d (the
    * intersection definition). Queries on either side with zero
    * overlap report rbo = 0. Scale shape: one (q, id) equi-join of
    * top-k lists + a bounded explode (≤ k rows per matched pair) —
    * the corpora stayed inside each system's own retrieval plan. */
  def rboOverlap(a: DataFrame, b: DataFrame, qCol: String,
      idCol: String, rankCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 62, s"k must be in [1, 62] (got $k)")
    val aa = a.select(col(qCol), col(idCol),
      col(rankCol).cast("long").as("__ra"))
    val bb = b.select(col(qCol), col(idCol),
      col(rankCol).cast("long").as("__rb"))
    val terms = aa.join(bb, Seq(qCol, idCol))
      .select(col(qCol), greatest(col("__ra"), col("__rb")).as("__m"))
      .where(col("__m") <= k)
      .select(col(qCol),
        explode(sequence(col("__m"), lit(k.toLong))).as("__d"))
      .groupBy(col(qCol), col("__d")).agg(count(lit(1)).as("__x"))
      .withColumn("__t", expr("CAST(__x AS DOUBLE)" +
        " / CAST(__d * shiftleft(CAST(1 AS BIGINT), CAST(__d AS INT))" +
        " AS DOUBLE)"))
    val spine = a.select(col(qCol)).union(b.select(col(qCol))).distinct()
    val rbo = terms.groupBy(col(qCol)).agg(
      aggregate(
        transform(
          sort_array(collect_list(
            struct(col("__d").as("d"), col("__t").as("t")))),
          s => s("t")),
        lit(0.0), (acc, v) => acc + v).as("rbo"))
    spine.join(rbo, Seq(qCol), "left")
      .select(col(qCol), coalesce(col("rbo"), lit(0.0)).as("rbo"))
  }

  /** Recall@k — the standard ANN quality metric next to
    * [[rboOverlap]] (RBO weights the TOP of the lists; recall@k
    * counts set membership only): per query, how many of the truth
    * ranking's top k the approximate ranking's top k recovered.
    * Exact integers — `n_hits` and floor-e9 `recall_e9` = n·10⁹ div k
    * — so the eval hash-replays.
    *
    * The zero-row SPINE is `querySpine` when given (one row per qCol
    * value — pass the evaluation's own query set), else truth's
    * distinct query set. The default means a query whose truth list
    * is EMPTY is dropped, not reported 0 — fine when truth covers
    * every query (any top-k retrieval over a non-empty corpus), wrong
    * for filtered truths; pass the explicit spine there (ADVICE r16:
    * the two spellings must not diverge silently).
    *
    * Scale shape: two rank-filtered top-k lists (≤ k rows per query,
    * not corpora) equi-join on (query, id); one per-query count. The
    * corpus-sized work happened inside each system's own retrieval
    * plan. */
  def recallAtK(truth: DataFrame, approx: DataFrame, qCol: String,
      idCol: String, rankCol: String, k: Int,
      querySpine: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val tt = truth.where(col(rankCol) <= k)
      .select(col(qCol), col(idCol))
    val aa = approx.where(col(rankCol) <= k)
      .select(col(qCol), col(idCol))
    val hits = tt.join(aa, Seq(qCol, idCol))
      .groupBy(col(qCol)).agg(count(lit(1)).as("n_hits"))
    querySpine
      .map(_.select(col(qCol)).distinct())
      .getOrElse(truth.select(col(qCol)).distinct())
      .join(hits, Seq(qCol), "left")
      .select(col(qCol), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_e9",
        expr(s"n_hits * 1000000000 div $k"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR 2009) —
    * the standard hybrid-retrieval combiner: merge the ranked lists of
    * N systems (lexical BM25 + dense ANN is the classic RAG pair) by
    * `score(d) = Σ_systems 1/(60 + rank_s(d))`, documents missing from
    * a system's list contributing 0. RRF needs no score calibration
    * across systems — only ranks — which is exactly why it is the
    * default fusion in hybrid search engines.
    *
    * Each contribution is computed as `floor(10⁹ / (60 + rank))` —
    * EXACT integer arithmetic (the e9 fixed-point of the reciprocal),
    * so the fused ordering replays bit-for-bit in any engine; with
    * 60 (the paper's k constant) adjacent ranks differ by ≥ ~2500
    * units at rank ≤ 600, so the integer truncation cannot reorder
    * any pair the true reciprocal sum wouldn't.
    *
    * `systems` maps a system name to its ranked candidates
    * (idCol, rankCol with ranks 1..topK). Output: idCol,
    * rank_<name> per system (NULL where the system didn't return the
    * doc), rrf_e9 — the caller cuts top-N.
    *
    * Scale shape: the inputs are top-K lists (K docs per system, not
    * corpora), so the full-outer-join cascade is over tiny frames —
    * the corpus-sized work happened inside each system's own
    * zero-shuffle retrieval plan. */
  def rrfFuse(systems: Seq[(String, DataFrame)], idCol: String,
      rankCol: String): DataFrame = {
    require(systems.nonEmpty, "rrfFuse needs at least one ranked system")
    require(systems.map(_._1).distinct.size == systems.size,
      "system names must be unique")
    val joined = systems
      .map { case (n, df) =>
        df.select(col(idCol), col(rankCol).cast("long").as(s"rank_$n"))
      }
      .reduceLeft((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val score = systems
      .map { case (n, _) =>
        coalesce(expr(s"CAST(1000000000 AS BIGINT) div (60 + rank_$n)"),
          lit(0L))
      }
      .reduceLeft(_ + _)
    joined.withColumn("rrf_e9", score)
  }
}
