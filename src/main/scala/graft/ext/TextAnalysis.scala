package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Text-corpus analysis passes (language ID, quality scoring, token
  * counting, fingerprinting) as single-scan column pipelines — each is a
  * narrow map over the corpus with no shuffle at all; at 100 TB these run
  * at storage bandwidth. */
object TextAnalysis {

  /** Default language marker table (subset of each language's highest
    * frequency function words; swap per corpus). First entry wins ties. */
  val DefaultMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit"))

  def withLangId(df: DataFrame, textCol: String,
      markers: Seq[(String, Seq[String])] = DefaultMarkers): DataFrame =
    df.withColumn("lang_guess", langId(tokens(col(textCol)), markers))

  /** Token counts: whitespace tokens and BPE-ish pre-tokens. */
  def withTokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_tokens", size(tokens(col(textCol))))
      .withColumn("n_bpe_tokens", size(bpeTokens(col(textCol))))

  /** Quality signals in one pass:
    *  - n_chars, n_tokens
    *  - alpha_ratio:   alphabetic chars / all chars
    *  - punct_ratio:   non-alnum-nonspace chars / all chars
    *  - mean token length
    * Each ratio is a single division of exact integer counts, so values
    * are bit-deterministic. */
  def withQualitySignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val nAlpha = alphaChars(t)
    val nPunct = length(regexp_replace(t, "[A-Za-z0-9\\s]", ""))
    val toks = tokens(t)
    // empty text would be 0/0 = NaN, and a downstream floor(...).cast(long)
    // silently turns NaN into 0 — pin the contract to ratio = 0.0 instead
    val zeroGuard = nChars === 0
    df.withColumn("n_chars", nChars)
      .withColumn("n_tokens", size(toks))
      .withColumn("alpha_ratio", when(zeroGuard, 0.0)
        .otherwise(nAlpha.cast("double") / nChars.cast("double")))
      .withColumn("punct_ratio", when(zeroGuard, 0.0)
        .otherwise(nPunct.cast("double") / nChars.cast("double")))
      .withColumn("mean_token_len",
        (nChars - size(toks) + 1).cast("double") / size(toks).cast("double"))
  }

  /** Rolling-window content fingerprint per document: the minimum md5
    * over its distinct word 8-gram shingles (native one-pass shingler),
    * stable under small edits at the ends. */
  def withFingerprint(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("fingerprint",
      array_min(transform(graft.functions.expressions.TextExpressions
        .wordShingles(col(textCol), 8), s => md5(s))))

  /** Intra-document repetition score (the Gopher/C4-style duplicate
    * n-gram filter): fraction of word n-grams that are repeats of an
    * earlier gram in the same document. Total grams is just
    * `n_tokens - n + 1` (no materialization); distinct grams reuses the
    * one-pass native shingler — so the whole signal is a map-only pass.
    * Documents with fewer than n tokens score 0 (nothing can repeat). */
  def withRepetitionScore(df: DataFrame, textCol: String,
      n: Int = 2): DataFrame = {
    // two regex passes per doc (size(split) + the shingler's own split);
    // folding the token count into the native shingler would save one,
    // but at ~0.3 s/sf0.1 the pass is nowhere near the cost of widening
    // the expression's contract — revisit only if corpora get 100× longer
    val total = size(tokens(col(textCol))) - lit(n) + lit(1)
    val distinct = size(graft.functions.expressions.TextExpressions
      .wordShingles(col(textCol), n))
    df.withColumn("n_grams", greatest(total, lit(0)).cast("long"))
      .withColumn("n_distinct_grams",
        when(total >= 1, distinct.cast("long")).otherwise(lit(0L)))
      .withColumn("dup_gram_ratio",
        when(total >= 1, lit(1.0) -
          distinct.cast("double") / total.cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Top word-n-gram character coverage — the OTHER Gopher/MassiveText
    * repetition rule (Rae et al. 2021 §A1.1): the fraction of a
    * document's characters covered by its single most frequent word
    * n-gram (occurrences × gram chars / total token chars, both sides
    * measured on the space-joined token stream so the signal is
    * whitespace-normalization independent). [[withRepetitionScore]]'s
    * dup_gram_ratio says how much of the doc repeats ANYWHERE; this
    * says whether ONE phrase dominates — boilerplate headers, SEO
    * stuffing, template spam — which a distinct-ratio can't see when
    * the rest of the doc is clean.
    *
    * Plan shape: gram explode → per-(doc, gram) count → top-1 per doc
    * by (count desc, gram asc) — rank=1 plans as WindowGroupLimit, so
    * each task keeps one candidate per doc before the exchange; work
    * ∝ corpus grams, state ∝ docs. Docs with < n tokens get
    * (NULL, 0, 0.0) through the left join — nothing to cover. */
  def withTopGramCoverage(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    val toks = tokens(col(textCol))
    val grams = expr(
      s"transform(sequence(0, size(__toks) - $n), " +
        s"i -> array_join(slice(__toks, i + 1, $n), ' '))")
    val base = df.select(col(idCol),
        length(array_join(toks, " ")).cast("long").as("__chars"))
    val counts = df
      .select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) >= n)
      .select(col(idCol), explode(grams).as("__gram"))
      .groupBy(col(idCol), col("__gram"))
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__cnt").desc, col("__gram").asc)
    val top = counts.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(idCol), col("__gram"), col("__cnt"))
    base.join(top, Seq(idCol), "left")
      .select(col(idCol),
        col("__gram").as("top_gram"),
        coalesce(col("__cnt"), lit(0L)).as("top_gram_count"),
        when(col("__chars") > 0 && col("__cnt").isNotNull,
          (col("__cnt") * length(col("__gram"))).cast("double") /
            col("__chars").cast("double"))
          .otherwise(lit(0.0)).as("top_gram_coverage"))
  }

  /** Exact duplicate-LINE repetition (the remaining Gopher §A1.1 rule
    * family next to [[withRepetitionScore]]'s gram distinct-ratio and
    * [[withTopGramCoverage]]'s one-phrase domination): how much of a
    * document is exact copies of its own physical lines. Empty units
    * (blank lines / separator runs) are dropped before counting so vertical
    * whitespace never counts as "duplication".
    *
    * Per doc: `n_lines` (non-empty units), `dup_line_fraction` =
    * (n_lines − distinct lines) / n_lines — the excess-copy share —
    * and `dup_line_char_fraction` = chars inside those excess copies /
    * chars in all lines. Both are ONE division of exact integer sums,
    * so the doubles replay bit-for-bit in any engine. Docs with no
    * non-empty lines (empty/NULL text) pin to (0, 0.0, 0.0).
    *
    * Plan shape: line explode → ONE hash aggregation on (doc, line)
    * with map-side partials → per-doc re-aggregation of four integer
    * sums. Work ∝ corpus lines; per-doc state is four longs — a
    * million-line doc costs what a ten-line doc costs beyond the scan,
    * and the text column itself never shuffles (only distinct
    * (doc, line) units do, already collapsed by the partial agg). */
  def withLineRepetition(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val units = lineUnits(col(textCol))
    val cnt = df
      .select(col(idCol), explode(units).as("__line"))
      .groupBy(col(idCol), col("__line"))
      .agg(count(lit(1)).as("__c"))
    val agg = cnt.groupBy(col(idCol))
      .agg(sum(col("__c")).as("__nl"),
        count(lit(1)).as("__nd"),
        sum(col("__c") * length(col("__line"))).as("__chars"),
        sum((col("__c") - 1) * length(col("__line"))).as("__dupch"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nl"), lit(0L)).as("n_lines"),
        when(col("__nl").isNull, lit(0.0))
          .otherwise((col("__nl") - col("__nd")).cast("double") /
            col("__nl").cast("double")).as("dup_line_fraction"),
        when(col("__chars").isNull || col("__chars") === 0, lit(0.0))
          .otherwise(col("__dupch").cast("double") /
            col("__chars").cast("double")).as("dup_line_char_fraction"))
  }

  /** Multinomial Naive Bayes training for the fastText-style
    * model-based filter stage (the classifier-filtering pass of the
    * GPT-3/CCNet/FineWeb-Edu pipelines — a LEARNED quality/language
    * gate next to [[withLangId]]'s fixed marker heuristic).
    *
    * One corpus pass: exact (label, term) counts with map-side
    * partials, then per-row Laplace-smoothed log-likelihoods
    * `log((c+1)/(tot_label+V))` quantized to DECIMAL(18,9) — the
    * artifact is exact decimals from that point on, so APPLY replays
    * bit-for-bit in any engine (the pinned-centroid device: only the
    * training step touches floating log, and it's spec-pinned).
    * Returns (termWeights(term, label, weight), priors(label, prior,
    * unseen)) where `unseen` is the per-label smoothed log-prob of a
    * term absent from that label's rows — what makes apply EXACT
    * multinomial NB rather than a zero-fill approximation. Model size
    * ∝ vocab × labels (the bounded artifact, like q81's vocabulary);
    * persist and broadcast at apply time. */
  def trainNaiveBayes(df: DataFrame, labelCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val (counts, docCounts) = trainNaiveBayesCounts(df, labelCol, textCol)
    val weights = counts.select(col("term"), col("label"),
      log((col("n") + 1).cast("double") /
          (col("tot") + col("v")).cast("double"))
        .cast("decimal(18,9)").as("weight"))
    val priors = docCounts.select(col("label"),
      log(col("n_docs").cast("double") / col("n_total").cast("double"))
        .cast("decimal(18,9)").as("prior"),
      log(lit(1.0) / (col("tot") + col("v")).cast("double"))
        .cast("decimal(18,9)").as("unseen"))
    (weights, priors)
  }

  /** The exact-integer core of [[trainNaiveBayes]] — everything the
    * trainer COMPUTES, before the one log() projection: per-(label,
    * term) token counts `n`, per-label token totals `tot`, global
    * vocabulary size `v`, and per-label document counts. Returned as
    * (counts(term, label, n, tot, v),
    *  docCounts(label, n_docs, n_total, tot, v)) — all BIGINT, so the
    * training pass itself sits under the cross-engine oracle gate
    * (the q188 device: gate the exact arithmetic, keep log-space out
    * of hashed values). One corpus pass: explode → (label, term) hash
    * agg with map-side partials (the only shuffle carries collapsed
    * (label, term, count) tuples, never text); label totals and the
    * doc-count table are rollups of that aggregate; `v` is one
    * distinct-count scalar. Model size ∝ vocab × labels. */
  def trainNaiveBayesCounts(df: DataFrame, labelCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val toks = df.select(col(labelCol).as("label"),
      explode(filter(tokens(col(textCol)), t => length(t) > 0)).as("term"))
    val termCounts = toks.groupBy("label", "term")
      .agg(count(lit(1)).as("n"))
    val labelTokens = termCounts.groupBy("label")
      .agg(sum(col("n")).as("tot"))
    // max(…, 1): a fully empty corpus would otherwise put 0 into every
    // smoothing denominator (log(1/0) downstream)
    val vocabSize = math.max(toks.select("term").distinct().count(), 1L)
    val counts = termCounts
      .join(broadcast(labelTokens), Seq("label"))
      .select(col("term"), col("label"), col("n"),
        col("tot"), lit(vocabSize).as("v"))
    val nDocs = df.count()
    // LEFT join: a label whose docs contain zero tokens (all empty or
    // NULL text) has no labelTokens row, but must keep its doc count
    // and a defined tot = 0 (unseen = log(1/(0+V)) downstream) — an
    // inner join would silently drop the label from the model and it
    // could never be predicted
    val docCounts = df.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs"))
      .join(broadcast(labelTokens), Seq("label"), "left")
      .select(col("label"), col("n_docs"), lit(nDocs).as("n_total"),
        coalesce(col("tot"), lit(0L)).as("tot"),
        lit(vocabSize).as("v"))
    (counts, docCounts)
  }

  /** Apply a linear text classifier (NB weights from
    * [[trainNaiveBayes]], or any pinned (term, label, weight) table —
    * fastText-style filtering is exactly this shape with `unseen` 0):
    * per doc, score(label) = prior + Σ n_t·w(t,label) +
    * (N − matched)·unseen, argmax with the deterministic (score desc,
    * label asc) tie-break. All arithmetic is DECIMAL on exact integer
    * token counts — the verdict replays bit-for-bit in any engine.
    *
    * Plan shape: explode → broadcast join to the model (map-only; the
    * join also FILTERS to in-vocab tokens) → one (doc, label) hash
    * aggregation whose map-side partials collapse every token instance
    * before the exchange → |labels| rows per doc → rank-1 window.
    * The only shuffle carries (doc, label, decimal, long) tuples —
    * ≤ |labels| rows per document regardless of its length; the model
    * broadcasts; the text never shuffles. */
  def classifyLinear(df: DataFrame, idCol: String, textCol: String,
      termWeights: DataFrame, priors: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("label").asc)
    scoreLinear(df, idCol, textCol, termWeights, priors)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Every label's score per document (the pre-argmax half of
    * [[classifyLinear]], same plan shape minus the window) — the
    * building block for score RATIOS like [[importanceWeights]]. */
  def scoreLinear(df: DataFrame, idCol: String, textCol: String,
      termWeights: DataFrame, priors: DataFrame): DataFrame = {
    val toksArr = filter(tokens(col(textCol)), t => length(t) > 0)
    val contrib = df
      .select(col(idCol), explode(toksArr).as("term"))
      .join(broadcast(termWeights), Seq("term"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("weight")).as("__s"),
        count(lit(1)).as("__m"))
    val zeroDec = lit(0).cast("decimal(18,9)")
    df.select(col(idCol),
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(toksArr).cast("long")).as("__nt"))
      .crossJoin(broadcast(priors))
      .join(contrib, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        // the unmatched-token count is cast to DECIMAL(10,0), not left
        // as long: long×decimal(18,9) would need precision 39, and
        // Spark caps at 38 by silently REDUCING SCALE to 8 — a 1-ulp
        // rounding that breaks the bit-replay contract (caught by the
        // importanceWeights spec). (10,0)×(18,9) stays at (29,9).
        (col("prior") + coalesce(col("__s"), zeroDec) +
          (col("__nt") - coalesce(col("__m"), lit(0L)))
            .cast("decimal(10,0)") * col("unseen"))
          .as("score"))
  }

  /** DSIR-style importance weights (Xie et al., data selection via
    * importance resampling): per doc, the exact-decimal log-likelihood
    * RATIO `score(targetLabel) − score(rawLabel)` under a two-class
    * model from [[trainNaiveBayes]] (train on a labeled seed:
    * target-domain docs vs raw-pool docs). Select by `orderBy(weight
    * desc)` + limit for top-k, or feed the weight into
    * [[Curation.weightedSample]] for the sampled variant. Same plan
    * shape and exactness as [[scoreLinear]]; the subtraction is one
    * decimal op so the ranking replays bit-for-bit. */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
      termWeights: DataFrame, priors: DataFrame,
      targetLabel: String, rawLabel: String): DataFrame =
    scoreLinear(df, idCol, textCol, termWeights, priors)
      .where(col("label").isin(targetLabel, rawLabel))
      .groupBy(col(idCol))
      // scores re-cast tight before the sum for the same precision-cap
      // reason as scoreLinear's count product: sum over a wide decimal
      // would push past 38 and silently shed scale
      .agg(sum(when(col("label") === targetLabel,
          col("score").cast("decimal(28,9)"))
        .otherwise(-col("score").cast("decimal(28,9)"))).as("weight"))

  /** Skip-gram co-occurrence with exact PMI ratio (word2vec /
    * collocation prep): every unordered token pair within a `window`
    * of each other, counted corpus-wide, with
    * `pmi_ratio = (c_ab/P) / ((c_a/N)·(c_b/N))` — exp(PMI), the
    * monotone-equivalent form that needs NO log: each factor is an
    * exact integer count, the fixed left-associated double expression
    * replays bit-for-bit in any engine (a log-based PMI would differ
    * at ulp level across libm implementations).
    *
    * Plan shape: pair extraction is a map-side array expression
    * (window·tokens intermediate rows inside the scan, never stored);
    * ONE hash aggregation on the canonical (least, greatest) pair with
    * map-side partials — shuffle ∝ DISTINCT pairs, vocab²-bounded, not
    * corpus-bounded; unigram counts and the two totals broadcast. */
  def skipgramPairs(df: DataFrame, textCol: String, window: Int = 3)
      : DataFrame = {
    require(window >= 1, "window must be >= 1")
    // ONE projection materializes the token array per row; every later
    // reference is the column attribute. Inlining the filter(tokens(…))
    // expression instead would re-tokenize the whole document for EVERY
    // element_at call inside the nested lambda — O(n³·w) per doc, a
    // measured 26.9 s at sf0.1 vs 0.9 s for this shape.
    val tok = df.select(
      filter(tokens(col(textCol)), x => length(x) > 0).as("__t"))
    val t = col("__t")
    // for center index i (0-based) pair t[i+1] (1-based element_at)
    // with the next `window` tokens; docs with <2 tokens emit nothing
    // (the when-guard dodges sequence(0,-1), which would DESCEND)
    val pairs = when(size(t) < 2,
        array().cast("array<struct<a:string,b:string>>"))
      .otherwise(flatten(transform(
        sequence(lit(0), size(t) - 2),
        i => transform(
          slice(t, i + 2, lit(window)),
          u => struct(
            least(element_at(t, i + 1), u).as("a"),
            greatest(element_at(t, i + 1), u).as("b"))))))
    val pairCounts = tok.select(explode(pairs).as("__p"))
      .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
      .agg(count(lit(1)).as("n_pairs"))
    val uni = tok.select(explode(t).as("__u"))
      .groupBy(col("__u")).agg(count(lit(1)).as("__c"))
    val totals = uni.agg(sum(col("__c")).cast("long").as("__n"))
      .crossJoin(broadcast(
        pairCounts.agg(sum(col("n_pairs")).cast("long").as("__tp"))))
    val ua = uni.select(col("__u").as("a"), col("__c").as("__ca"))
    val ub = uni.select(col("__u").as("b"), col("__c").as("__cb"))
    pairCounts
      .join(broadcast(ua), Seq("a"))
      .join(broadcast(ub), Seq("b"))
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("n_pairs"),
        (col("n_pairs").cast("double") * col("__n").cast("double") *
          col("__n").cast("double") /
          (col("__tp").cast("double") * col("__ca").cast("double") *
            col("__cb").cast("double"))).as("pmi_ratio"))
  }

  /** First-failing-rule quality verdict (the Dolma/FineWeb-style
    * filter-pipeline report): every document gets a verdict — `keep`,
    * or the NAME of the first gate it fails, in fixed rule order
    * (too_short: < 5 tokens → low_alpha: alpha ratio < 0.5 →
    * high_punct: punct ratio > 0.2 → repetitive: duplicate-bigram
    * ratio > 0.2), in column `verdict`. Reporting the
    * reason, not just a boolean, is what makes large-scale filter
    * tuning possible (the rejection histogram IS the tuning signal).
    * Composes the existing one-pass signals; still map-only, no
    * shuffle. */
  def qualityVerdict(df: DataFrame, textCol: String): DataFrame =
    withRepetitionScore(withQualitySignals(df, textCol), textCol, n = 2)
      .withColumn("verdict",
        when(col("n_tokens") < 5, lit("too_short"))
          .when(col("alpha_ratio") < 0.5, lit("low_alpha"))
          .when(col("punct_ratio") > 0.2, lit("high_punct"))
          .when(col("dup_gram_ratio") > 0.2, lit("repetitive"))
          .otherwise(lit("keep")))

  /** Top TF-IDF term per document. The IDF factor is the RATIONAL
    * `(N+1)/(df+1)` rather than its logarithm: the ranking inside a
    * document is what matters, log is monotone over it, and a single
    * division of exact integer counts is bit-identical across engines
    * where `ln` is not (libm vs java.lang.Math differ in final ulps).
    * Plan shape: one explode, tf agg on (doc,term), df agg on term,
    * shuffle join on term, broadcast scalar N, top-1 window per doc. */
  def topTfidfTerm(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = tok.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfreq = tok.groupBy("term").agg(countDistinct(idCol).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * (col("n") + 1)).cast("double") /
        (col("df") + 1).cast("double"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("term").as("top_term"), col("tf"),
        col("df"), col("score"))
  }

  /** Corpus vocabulary with Zipf ranks and cumulative coverage — the
    * tokenizer-vocab-building primitive: every distinct token with its
    * count, its frequency rank (count desc, term asc), and the fraction
    * of ALL token occurrences covered by ranks 1..r. `coverage` answers
    * "how big must the vocab be to cover X% of the corpus" directly.
    *
    * Scale: the heavy stage is the explode + count aggregation, which
    * map-side combines; the rank/coverage windows run over the VOCAB
    * (≪ corpus) — a deliberate vocab-sized global sort, the same class
    * as every oracle ORDER BY. Total-count joins in by broadcast. */
  def vocabulary(df: DataFrame, textCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val v = df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = v.agg(sum(col("cnt")).as("__total"))
    val wOrd = W.orderBy(col("cnt").desc, col("term").asc)
    v.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(wOrd).cast("long"))
      .withColumn("coverage",
        sum(col("cnt")).over(wOrd.rowsBetween(W.unboundedPreceding,
          W.currentRow)).cast("double") / col("__total").cast("double"))
      .select("term", "cnt", "rank", "coverage")
  }

  /** Overlapping token-window chunking (the RAG / context-window prep
    * pass): cut each document's token stream into `chunkSize`-token
    * windows advancing by `chunkSize - overlap`. Emits (chunk_id,
    * start_token, n_tokens, chunk_hash) per chunk; the final partial
    * window is kept only when it contributes tokens no earlier chunk
    * covered (see the drop rule below — coverage is exact, padding is
    * never emitted).
    *
    * Map-only: starts are computed per row and exploded inside the
    * scan stage — no shuffle, no join; chunking 100 TB is one pass
    * writing ≈ (1 + overlap/stride)× the tokens, which is the floor
    * for any overlapping chunker. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > overlap && overlap >= 0,
      "need chunkSize > overlap >= 0 (stride = chunkSize - overlap)")
    val t = tokens(col(textCol))
    val n = size(t)
    val step = chunkSize - overlap
    // fixed-stride starts 1, 1+step, 1+2·step …; a tail start s > 1 with
    // s + overlap > n is DROPPED — the previous chunk already covers
    // tokens s‥s+overlap-1 ⊇ s‥n, so the tail would carry no new token
    val starts = filter(sequence(lit(1), n, lit(step)),
      s => (s === 1) || (s + lit(overlap) <= n))
    df.select(col(idCol), t.as("__tk"),
        posexplode(starts).as(Seq("chunk_id", "start_token")))
      .withColumn("__chunk",
        slice(col("__tk"), col("start_token"), lit(chunkSize)))
      .select(col(idCol), col("chunk_id"), col("start_token"),
        size(col("__chunk")).as("n_tokens"),
        md5(array_join(col("__chunk"), " ")).as("chunk_hash"))
  }

  /** Tokenizer-apply: encode every document as its array of vocabulary
    * token ids (= [[vocabulary]] ranks; out-of-vocab tokens map to
    * 0) in column `token_ids`. The vocab ships as a literal map into a
    * map-only `transform` — no join touches the corpus, the same
    * driver-sized-table contract as IVF centroids (a tokenizer vocab is
    * 32k–256k entries by construction). This is the last step before
    * [[Curation.packSequences]]: text → ids → packed shards. */
  def encodeTokens(df: DataFrame, textCol: String,
      vocab: DataFrame): DataFrame = {
    val entries = vocab.select(col("term"), col("rank").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val m = typedLit(entries)
    df.withColumn("token_ids",
      transform(tokens(col(textCol)),
        t => coalesce(element_at(m, t), lit(0L))))
  }

  /** JVM twin of [[graft.functions.TextFunctions.bpeTokens]] — the ONE
    * pre-token definition, shared so [[bpeApply]]'s executor-side split
    * can never drift from the column form. */
  private val PreTokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]".r
  private[graft] def jvmBpeTokens(text: String): Seq[String] =
    if (text == null) Seq.empty else PreTokenRe.findAllIn(text).toSeq

  /** Ceiling on the distinct pre-tokens [[bpeTrain]] collects. */
  private val MaxBpeWords = 262144

  /** Train a byte-pair-encoding merge table on the corpus — the
    * tokenizer-TRAINING half of the encode pipeline ([[encodeTokens]]
    * applies a finished vocab; this builds one). Classic BPE (Sennrich
    * et al. 2016), trained the way production tokenizer trainers do it:
    * merge decisions are a pure function of the WORD-FREQUENCY table,
    * so the distributed work is exactly ONE corpus pass (pre-token
    * explode → count, map-side combined); the merge loop then runs on
    * that driver-sized table. [[MaxBpeWords]] is the bounded-collect
    * contract (same device as the IVF centroid and vocab caps — a hard
    * `require`, not a silent truncation): natural-language corpora
    * plateau at 10⁵-ish distinct pre-tokens regardless of corpus
    * bytes, which is why the word table is driver-sized at 100 TB.
    *
    * Deterministic: the pair with the highest count wins each round,
    * ties by lexicographically smallest (left, right); words start as
    * code-point symbols (surrogate-safe). Stops early when no adjacent
    * pair remains. Returns (rank, left, right, merged), rank 0-based
    * in merge order — feed to [[bpeApply]].
    *
    * Tie-break unit BOUND (documented, not guarded): "smallest pair"
    * is Java String order — UTF-16 code units — while a UTF-8 engine
    * (the DuckDB oracle, most tokenizer tooling) compares code
    * points/bytes. The two orders agree on every ASCII and BMP-only
    * vocabulary and diverge in exactly one regime: a count TIE
    * comparing a supplementary-plane symbol against one in
    * U+E000..U+FFFF (UTF-16 surrogates sort below that range, real
    * code points above it). Training on such a corpus is cross-engine
    * replayable only if ranks are pinned explicitly. */
  def bpeTrain(df: DataFrame, textCol: String,
      numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1: $numMerges")
    val spark = df.sparkSession
    import spark.implicits._
    val wordRows = df
      .select(explode(bpeTokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__n"))
      .orderBy("__w") // deterministic driver order
      .as[(String, Long)].collect()
    require(wordRows.length <= MaxBpeWords,
      s"bpeTrain: ${wordRows.length} distinct pre-tokens exceed " +
        s"$MaxBpeWords — pre-filter the corpus")
    // driver-side merge loop over the word table
    var words: Array[(Array[String], Long)] = wordRows.map { case (w, n) =>
      (w.codePoints().toArray.map((cp: Int) => new String(Character.toChars(cp))), n)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val pairCounts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      words.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          pairCounts((syms(i), syms(i + 1))) += n
          i += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        // highest count wins; ties to the lexicographically smallest pair
        val (l, r) = pairCounts.toSeq
          .minBy { case ((a, b), n) => (-n, a, b) }._1
        merges += ((rank, l, r))
        val lr = l + r
        words = words.map { case (syms, n) =>
          if (syms.length < 2) (syms, n)
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
                out += lr; i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.toArray, n)
          }
        }
        rank += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right")
      .withColumn("merged", concat(col("left"), col("right")))
  }

  /** Apply a [[bpeTrain]] merge table: every document becomes its
    * BPE-token array (`bpe_tokens`), the last text transform before
    * [[encodeTokens]]/[[Curation.packSequences]]. The merge table
    * broadcasts (it is numMerges-sized); each task memoizes
    * word→tokens per partition, so the per-row cost is one map lookup
    * for every repeated word — corpus work stays a single map-only
    * pass, nothing shuffles. The per-word rank-greedy merge loop is
    * imperative, so this runs as a typed `mapPartitions`
    * (no Column/Expression form exists for an iterative fixpoint;
    * this is a scan-shaped batch op, never a per-query kernel). Output
    * carries (idCol, bpe_tokens) — project other columns before or
    * join on idCol after. */
  def bpeApply(df: DataFrame, idCol: String, textCol: String,
      merges: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranks: Map[(String, String), Int] = merges
      .select(col("left"), col("right"), col("rank").cast("int"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2))
      .toMap
    val bc = spark.sparkContext.broadcast(ranks)
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val rk = bc.value
        val memo = scala.collection.mutable.Map.empty[String, Seq[String]]
        def encodeWord(w: String): Seq[String] = memo.getOrElseUpdate(w, {
          var syms = w.codePoints().toArray
            .map((cp: Int) => new String(Character.toChars(cp))).toBuffer
          var done = false
          while (!done && syms.length >= 2) {
            // lowest-rank adjacent pair merges first (training order)
            var best = Int.MaxValue
            var bi = -1
            var i = 0
            while (i < syms.length - 1) {
              val r = rk.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
              if (r < best) { best = r; bi = i }
              i += 1
            }
            if (bi < 0) done = true
            else {
              val merged = syms(bi) + syms(bi + 1)
              // merge EVERY occurrence of this pair, left to right
              val nb = scala.collection.mutable.ArrayBuffer.empty[String]
              var j = 0
              while (j < syms.length) {
                if (j < syms.length - 1 &&
                    rk.getOrElse((syms(j), syms(j + 1)), -1) == best) {
                  nb += merged; j += 2
                } else { nb += syms(j); j += 1 }
              }
              syms = nb
            }
          }
          syms.toSeq
        })
        it.map { case (id, text) =>
          (id, jvmBpeTokens(text).flatMap(encodeWord))
        }
      }
      .toDF(idCol, "bpe_tokens")
  }

  /** Corpus-conditional bigram familiarity — the language-model-flavored
    * quality signal that needs no external model: train a bigram table
    * on the corpus itself (c(w1,w2) and its prefix marginal c(w1) =
    * Σ_w2 c(w1,w2)), then score every document by how predictable its
    * own bigrams are under that table. In-domain boilerplate scores
    * high, out-of-domain or shuffled-word text scores low — the classic
    * "perplexity filter" shape with the corpus as its own LM.
    *
    * Parity device: each bigram contributes the QUANTIZED conditional
    * probability `floor(1e9 · c/cp + 0.5)` as an exact long, so the
    * per-doc sum is integer arithmetic — order-free and engine-portable
    * (a double sum would depend on aggregation order). `familiarity` is
    * that sum; divide by `n_bigrams` for a per-token score.
    *
    * Plan: one explode + count aggregation builds the table (the prefix
    * marginal reuses the same shuffle partitioning), one join scores
    * occurrences, one per-doc aggregation. All keys are token pairs —
    * text never shuffles whole. */
  def bigramFamiliarity(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val bg = df
      .filter(size(toks) >= 2)
      .select(col(idCol),
        explode(arrays_zip(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1))).as("__bg"))
      .select(col(idCol), col("__bg.0").as("__w1"), col("__bg.1").as("__w2"))
    val cb = bg.groupBy("__w1", "__w2").agg(count(lit(1)).as("__c"))
    val cp = cb.groupBy("__w1").agg(sum(col("__c")).as("__cp"))
    bg.join(cb, Seq("__w1", "__w2"))
      .join(cp, Seq("__w1"))
      .withColumn("__q",
        floor(lit(1e9) * col("__c") / col("__cp") + lit(0.5)).cast("long"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__q")).cast("long").as("familiarity"))
  }

  /** Scrub pass: replace email-like tokens, long digit runs (ids/phones)
    * and URLs with typed placeholders — the standard pre-training
    * redaction sweep. Pure regexp_replace chain: map-only, codegen'd,
    * no shuffle. */
  /** SymSpell-style spelling candidates (Garbe's public deletion-
    * neighborhood algorithm): two terms are within edit distance 1 iff
    * their {self} ∪ {one-character-deleted variants} sets intersect —
    * so instead of an O(|vocab|·|queries|) distance scan, both sides
    * explode into variant keys and candidates emerge from an equi-join,
    * then the (few) joined pairs verify with a true `levenshtein` call
    * (the neighborhood test is necessary, not sufficient: "ab"/"ba"
    * share variants at distance 2).
    *
    * The OCR-cleanup / query-correction primitive at corpus scale: the
    * vocab side is a map-only explode (≈ (len+1)× the vocab rows, and
    * a vocab is already corpus-sublinear), the query side broadcasts,
    * nothing corpus-sized ever shuffles.
    *
    * Output: (query_term, term, cnt, distance), one row per vocab
    * candidate within distance 1 of a query term. */
  def spellCandidates(vocab: DataFrame, queries: Seq[String]): DataFrame = {
    require(queries.nonEmpty, "spellCandidates needs query terms")
    def variants(colName: String): Column = explode(expr(
      s"""array_distinct(concat(array($colName),
         |  transform(sequence(1, length($colName)), i ->
         |    concat(substr($colName, 1, i - 1),
         |           substr($colName, i + 1, length($colName))))))"""
        .stripMargin))
    val spark = vocab.sparkSession
    import spark.implicits._
    val qs = queries.toDF("query_term")
      .select(col("query_term"), variants("query_term").as("__var"))
    val vs = vocab.select(col("term"), col("cnt"),
      variants("term").as("__var"))
    vs.join(broadcast(qs), "__var")
      .select("query_term", "term", "cnt").distinct()
      .withColumn("distance",
        levenshtein(col("query_term"), col("term")).cast("long"))
      .filter(col("distance") <= lit(1))
  }

  /** Vocabulary-wide edit-distance-1 pair discovery — the SELF-JOIN
    * form of [[spellCandidates]]'s deletion-neighborhood device (the
    * OCR-noise / typo-variant clustering primitive): every unordered
    * pair of distinct vocab terms within Levenshtein distance 1, found
    * WITHOUT the O(|vocab|²) distance scan. Both occurrences of a pair
    * meet on a shared deletion-neighborhood key ({self} ∪ one-char
    * deletions — necessary, not sufficient), then the few candidates
    * verify with a true levenshtein call.
    *
    * Shuffle shape: the variant explode is map-only ((len+1)× vocab
    * rows, and a vocab is corpus-sublinear); candidate pairs ∝ Σ over
    * variant keys |bucket|² — bounded by how many terms share a
    * deletion, never |vocab|². Returns (a, b, distance) with a < b. */
  def editDistancePairs(vocab: DataFrame): DataFrame = {
    def variants(colName: String): Column = explode(expr(
      s"""array_distinct(concat(array($colName),
         |  transform(sequence(1, length($colName)), i ->
         |    concat(substr($colName, 1, i - 1),
         |           substr($colName, i + 1, length($colName))))))"""
        .stripMargin))
    val v = vocab.select(col("term").as("__t"))
      .select(col("__t"), variants("__t").as("__var"))
    v.select(col("__t").as("a"), col("__var"))
      .join(v.select(col("__t").as("b"), col("__var")), Seq("__var"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
      .withColumn("distance", levenshtein(col("a"), col("b")).cast("long"))
      .filter(col("distance") <= 1L)
  }

  /** Gopher-style repetition quality signals (Rae et al. 2021 — the
    * "repetition" half of the MassiveText filter rules, next to
    * [[withQualitySignals]]' length/alpha/stopword half): per
    * document,
    *  - `dup_bigram_frac` / `dup_trigram_frac`: the fraction of
    *    adjacent word n-grams that are repeats (1 − distinct/total) —
    *    MAP-ONLY column ops, the corpus never shuffles;
    *  - `top_word_frac`: the most frequent token's share of the doc —
    *    one narrow (doc, token) shuffle with map-side collapse.
    * Every fraction is ONE IEEE division of exact integer counts, so
    * the doubles hash-replay. Empty/NULL docs (and docs too short for
    * the n-gram) pin to 0. */
  def repetitionSignals(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val withG = withRepetitionFractions(df, idCol, textCol)
    val topw = withG.select(col(idCol), explode(col("__t")).as("__w"))
      .groupBy(idCol, "__w").agg(count(lit(1)).as("__c"))
      .groupBy(idCol).agg(max(col("__c")).as("__mx"))
    withG.join(topw, Seq(idCol), "left")
      .select(col(idCol), col("__sz").as("n_tokens"),
        col("dup_bigram_frac"), col("dup_trigram_frac"),
        when(col("__sz") > 0, col("__mx").cast("double") /
          col("__sz").cast("double"))
          .otherwise(lit(0.0)).as("top_word_frac"))
  }

  /** The MAP-ONLY half of [[repetitionSignals]], shared with the
    * streaming twin so the two can never drift: tokenizes, keeps
    * (`__t`, `__sz`) projected, and attaches the two duplicate-n-gram
    * fractions as pure array ops. */
  private[graft] def withRepetitionFractions(df: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val toks = filter(tokens(coalesce(col(textCol), lit(""))),
      t => length(t) > 0)
    val base = df.select(col(idCol), toks.as("__t"))
      .withColumn("__sz", size(col("__t")).cast("long"))
    val g2 = zip_with(
      slice(col("__t"), lit(1), (col("__sz") - 1).cast("int")),
      slice(col("__t"), lit(2), (col("__sz") - 1).cast("int")),
      (a, b) => concat(a, lit(" "), b))
    val g3head = zip_with(
      slice(col("__t"), lit(1), (col("__sz") - 2).cast("int")),
      slice(col("__t"), lit(2), (col("__sz") - 2).cast("int")),
      (a, b) => concat(a, lit(" "), b))
    def dupFrac(gCol: String, total: Column): Column =
      when(total > 0,
        (total - size(array_distinct(col(gCol))).cast("long"))
          .cast("double") / total.cast("double"))
        .otherwise(lit(0.0))
    base
      .withColumn("__g2", when(col("__sz") >= 2, g2))
      .withColumn("__g3", when(col("__sz") >= 3, zip_with(g3head,
        slice(col("__t"), lit(3), (col("__sz") - 2).cast("int")),
        (a, b) => concat(a, lit(" "), b))))
      .withColumn("dup_bigram_frac",
        when(col("__sz") >= 2, dupFrac("__g2", col("__sz") - 1))
          .otherwise(lit(0.0)))
      .withColumn("dup_trigram_frac",
        when(col("__sz") >= 3, dupFrac("__g3", col("__sz") - 2))
          .otherwise(lit(0.0)))
      .drop("__g2", "__g3")
  }

  def redact(text: Column): Column = {
    val email = regexp_replace(text, EmailRe, "<EMAIL>")
    val url = regexp_replace(email, UrlRe, "<URL>")
    regexp_replace(url, LongNumRe, "<NUM>")
  }

  def withRedaction(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("text_redacted", redact(col(textCol)))

  /** Unicode cleanup for corpus text — the normalization pass every
    * web-scraped corpus gets before hashing/dedup/tokenization (the
    * C4/Gopher convention): (1) NFC canonical composition (decomposed
    * e + U+0301 → é — one spelling per grapheme, via the codegen'd
    * [[graft.functions.expressions.NfcNormalize]]); (2) control
    * characters stripped (C0 except \n and \t, plus DEL); (3)
    * horizontal whitespace runs collapsed to one space; (4) trimmed.
    * ZERO shuffle — one fused projection in the scan. Engine parity:
    * NFC is a pure function of the code-point sequence (JVM
    * Normalizer == DuckDB nfc_normalize by spec), and the regex
    * steps are plain character classes. On a streaming frame it is
    * stateless and Append-legal with no watermark. Output column:
    * `clean_text`. */
  def unicodeClean(df: DataFrame, textCol: String): DataFrame = {
    val nfc = graft.functions.expressions.TextExpressions
      .nfcNormalize(col(textCol))
    df.withColumn("clean_text",
      trim(regexp_replace(regexp_replace(nfc,
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
        "[ \\t]+", " ")))
  }

  /** Collocation mining over a (w1, w2, n) adjacent-bigram count
    * table — the PMI-family "are these two words a phrase?" signal
    * (Church/Hanks 1990), emitted as the LIFT on the bigram event
    * space so it stays an exact rational (PMI itself is log(lift) —
    * log is libm-dependent and monotone, so ranking by lift ranks by
    * PMI):
    *
    *   lift(w1, w2) = p(w1 w2) / (p(w1 ·)·p(· w2))
    *                = n·B / (left(w1)·right(w2))
    *
    * where B = Σn (total bigram instances), left/right the marginal
    * instance totals. Floor-e9 through DECIMAL(38,0) — `n·B·10⁹`
    * stays inside 38 digits up to B ~ 10¹⁴ instances (≫ 100 TB).
    * Rare-pair noise is cut by `minCount` (lift is unstable at n=1 —
    * two hapax words adjacent once score B). Output: w1, w2, n,
    * lift_e9.
    *
    * Scale shape: two aggregations over the COLLAPSED bigram table
    * joined back on their keys; the 1-row B broadcasts — the corpus
    * was collapsed once by [[NgramLm.ngrams]], which also makes this
    * derivable from the streaming count state (the q247 fold). */
  def collocationLift(counts: DataFrame, minCount: Long = 2): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1 (got $minCount)")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val lt = counts.groupBy(col("w1")).agg(sum(col("n")).as("__lt"))
    val rt = counts.groupBy(col("w2")).agg(sum(col("n")).as("__rt"))
    counts.where(col("n") >= minCount)
      .join(lt, Seq("w1")).join(rt, Seq("w2"))
      .crossJoin(broadcast(counts.agg(sum(col("n")).as("__b"))))
      .withColumn("__num",
        dec(col("n")) * dec(col("__b")) * dec(lit(1000000000L)))
      .withColumn("__den", dec(col("__lt")) * dec(col("__rt")))
      .withColumn("lift_e9", expr("__num div __den"))
      .select("w1", "w2", "n", "lift_e9")
  }

  /** Out-of-vocabulary rate per group against a tokenizer vocabulary
    * table (`term` column): per group — token instances, OOV
    * instances, floor-e9 OOV rate. The tokenizer-coverage diagnostic
    * a multilingual corpus is screened with before training (high OOV
    * → the tokenizer fragments that slice). The vocabulary BROADCASTS
    * (vocabularies are 10⁴–10⁶ rows against a 100 TB corpus); the
    * only shuffle carries |groups| count rows. Empty tokens are
    * excluded (the scoreLinear convention). */
  def oovRate(df: DataFrame, groupCol: String, textCol: String,
      vocab: DataFrame): DataFrame =
    oovRates(
      df.select(col(groupCol),
          explode(filter(tokens(col(textCol)), t => length(t) > 0))
            .as("term"))
        .join(broadcast(vocab.select(col("term")).distinct()
          .withColumn("__in", lit(1L))), Seq("term"), "left")
        .groupBy(col(groupCol))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov")))

  /** The rate half of [[oovRate]], shared with the streaming twin's
    * folded counts. */
  def oovRates(counts: DataFrame): DataFrame =
    counts.withColumn("oov_rate_e9",
      when(col("n_tokens") > 0,
        expr("CAST(n_oov AS DECIMAL(20,0)) * 1000000000 div n_tokens"))
        .otherwise(lit(0L)))

  /** The [[redact]] patterns, named — shared by the prevalence
    * report so the governance metric and the scrubber can't drift. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"
  val LongNumRe = "[0-9]{6,}"

  /** PII-prevalence report per group (the governance dashboard next
    * to [[redact]]'s scrubber, same patterns): per group — doc count,
    * docs containing an email / URL / long digit run, and floor-e9
    * rates. ONE aggregation pass, rlike flags computed in-scan; the
    * shuffle carries |groups| rows of counts. */
  def piiPrevalence(df: DataFrame, groupCol: String,
      textCol: String): DataFrame =
    piiRates(piiCounts(df, groupCol, textCol))

  /** The aggregation half of [[piiPrevalence]] — ONE per-group pass
    * with all four monotone sums, which is also what makes it legal
    * as a streaming Update-mode aggregation (the twin's shape; MAX
    * fold, state ∝ |groups|). */
  def piiCounts(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    def hit(re: String): Column =
      coalesce(col(textCol).rlike(re), lit(false)).cast("long")
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(hit(EmailRe)).as("n_email"),
        sum(hit(UrlRe)).as("n_url"),
        sum(hit(LongNumRe)).as("n_longnum"))
  }

  /** The rate half of [[piiPrevalence]] — shared with the streaming
    * twin's folded counts so the two paths cannot drift. */
  def piiRates(counts: DataFrame): DataFrame =
    counts
      .withColumn("email_rate_e9",
        expr("CAST(n_email AS DECIMAL(20,0)) * 1000000000 div n_docs"))
      .withColumn("url_rate_e9",
        expr("CAST(n_url AS DECIMAL(20,0)) * 1000000000 div n_docs"))
      .withColumn("longnum_rate_e9",
        expr("CAST(n_longnum AS DECIMAL(20,0)) * 1000000000 div n_docs"))

  /** Tokenizer fertility report per group (the multilingual
    * tokenizer-quality diagnostic): fertility = subword tokens per
    * whitespace word — the number the tokenizer literature tracks per
    * language (a high-fertility language pays more sequence length for
    * the same text) — plus characters per subword token. Sums are
    * exact BIGINTs (map-side partials, one |groups|-row shuffle); each
    * ratio is ONE IEEE division of exact counts, so the doubles
    * hash-replay. Output per group: n_docs, n_tokens, n_bpe_tokens,
    * n_chars, fertility, chars_per_bpe. */
  def tokenizerFertility(df: DataFrame, groupCol: String,
      textCol: String): DataFrame =
    fertilityRatios(
      withTokenCounts(df, textCol)
        .groupBy(col(groupCol))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
          sum(length(col(textCol)).cast("long")).as("n_chars")))

  /** The ratio half of [[tokenizerFertility]], factored out so the
    * streaming twin's folded sums derive through the SAME expressions
    * (the shared-derivation convention): input any frame carrying
    * n_tokens / n_bpe_tokens / n_chars sums. */
  def fertilityRatios(sums: DataFrame): DataFrame =
    sums
      .withColumn("fertility",
        col("n_bpe_tokens").cast("double") / col("n_tokens").cast("double"))
      .withColumn("chars_per_bpe",
        col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))

  /** Distinct-n diversity per group (the distinct-n-grams metric of
    * Li et al. 2016, the standard corpus-diversity monitor): distinct
    * adjacent word n-grams / total n-gram instances. A boilerplate-
    * heavy or template-generated slice scores low. Both counts exact
    * BIGINTs: total instances are a map-only per-doc size sum;
    * distinct grams go through one (group, gram) dedup whose map-side
    * partials collapse repeats before the exchange. The ratio is ONE
    * IEEE division. Output per group: n_grams, n_distinct,
    * distinct_ratio. */
  def distinctNgramRatio(df: DataFrame, groupCol: String,
      textCol: String, n: Int = 2): DataFrame = {
    val toks = tokens(col(textCol))
    // total instances per group: max(tokens-n+1, 0) per doc, no explode
    val totals = df
      .select(col(groupCol),
        greatest(size(toks) - lit(n - 1), lit(0)).cast("long").as("__g"))
      .groupBy(col(groupCol)).agg(sum(col("__g")).as("n_grams"))
    // docs below n tokens are excluded BEFORE shingling (wordShingles'
    // whole-doc fallback is not an n-gram and must not count)
    val distinctGrams = df
      .where(size(toks) >= n)
      .select(col(groupCol),
        explode(graft.functions.expressions.TextExpressions
          .wordShingles(col(textCol), n)).as("__sh"))
      .groupBy(col(groupCol))
      .agg(countDistinct(col("__sh")).as("n_distinct"))
    diversityRatios(
      totals.join(distinctGrams, Seq(groupCol), "left")
        .select(col(groupCol), col("n_grams"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct")))
  }

  /** The ratio half of [[distinctNgramRatio]], shared with the
    * streaming twin's folded per-gram counts (Σ counts = instances,
    * |keys| = distinct — the same two integers, one IEEE division). */
  def diversityRatios(counts: DataFrame): DataFrame =
    counts.withColumn("distinct_ratio",
      when(col("n_grams") > 0,
        col("n_distinct").cast("double") / col("n_grams").cast("double"))
        .otherwise(lit(0.0)))

  /** Per-(group, gram) adjacent-bigram INSTANCE counts — the state
    * table the online diversity monitor maintains (a grouped
    * [[NgramLm.ngrams]]); Σ n per group is the instance total and the
    * key count the distinct total, so [[diversityRatios]] over the
    * fold reproduces [[distinctNgramRatio]] exactly. Uses the RAW
    * `split(text, "\\s+")` stream — leading/trailing whitespace keeps
    * its empty token, exactly as [[distinctNgramRatio]]'s totals
    * (`size(tokens)`) and distinct side (wordShingles) count it; a
    * filtered stream here would diverge from the batch monitor on
    * such text. On a streaming frame it is ONE Update-mode
    * aggregation whose counts are monotone (MAX fold); state ∝
    * distinct (group, gram) pairs. */
  def groupedBigramCounts(df: DataFrame, groupCol: String,
      textCol: String): DataFrame =
    df.select(col(groupCol), tokens(col(textCol)).as("__t"))
      .select(col(groupCol), explode(arrays_zip(
        slice(col("__t"), lit(1),
          greatest(size(col("__t")) - 1, lit(0))).as("w1"),
        slice(col("__t"), lit(2),
          greatest(size(col("__t")) - 1, lit(0))).as("w2")))
        .as("__b"))
      .select(col(groupCol),
        concat_ws(" ", col("__b").getField("w1"),
          col("__b").getField("w2")).as("gram"))
      .groupBy(col(groupCol), col("gram"))
      .agg(count(lit(1)).as("n"))
}
