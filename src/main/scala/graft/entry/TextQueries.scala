package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftSession
import graft.ext.{Dedup, NgramLm, TextAnalysis}

/** Training-data text-pipeline operators (BASELINE.json north star) over
  * the `documents` table: exact/canonical dedup, MinHash+LSH, n-gram
  * jaccard, SimHash, fingerprinting, language ID, quality, token counts.
  *
  * All hashes are md5-derived so every pipeline — including the full
  * MinHash banding construction — is replicated verbatim in the DuckDB
  * oracle; the driver's hash-compare certifies the whole algorithm, not
  * just row counts.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    GraftSession.table(s, dir, "documents")

  /** Spread variant for the near-dup pipelines: their shingle/token md5
    * fanout (~130 rows per doc) sits above the scan, and the local
    * single-split file would run it on one core (GraftSession.spread).
    * Map-only queries keep the plain scan — no fanout to parallelize. */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    GraftSession.spread(docs(s, dir))

  /** Pinned BPE merge list for q166, in rank order. Obeys the training
    * invariant — each merge's parts are single chars or OUTPUTS OF
    * EARLIER MERGES (th before th+e, in before in+g) — which is what
    * makes the oracle's sequential one-pass-per-rank replay provably
    * equal to [[graft.ext.TextAnalysis.bpeApply]]'s greedy
    * lowest-rank-first loop: a later merge can then never create an
    * occurrence of an earlier pair. ~9% of the corpus's tokens come
    * out merged at sf0.01, so the row is not vacuous. */
  private val pinnedBpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("in", "g"))

  /** Marker-word table drawn from the synthetic corpus vocabulary (the
    * real-stopword table in TextAnalysis.DefaultMarkers would be constant
    * over this corpus). */
  private[entry] val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "key", "fast"),
    "es" -> Seq("data", "row", "table", "scan"),
    "fr" -> Seq("join", "merge", "sort", "agg"))

  /** The DuckDB half of [[rebuiltLines]] — ONE definition of the
    * reconstruction CTE shared by every oracle that replays it
    * (q168–q171, q175), so the Spark device and its SQL mirror can
    * never drift. Emits `WITH toks …, rebuilt(doc_id, text)`. */
  private[entry] def rebuiltSqlCte(w: Int): String =
    s"""WITH toks AS (SELECT doc_id, string_split_regex(text,'\\s+') t FROM documents),
       |rebuilt AS (SELECT doc_id,
       |  CASE WHEN len(t) = 0 THEN '' ELSE
       |    array_to_string(list_transform(
       |      generate_series(0, CAST(ceil(len(t)/$w.0) AS INT) - 1),
       |      i -> array_to_string(t[i*$w+1:i*$w+$w], ' ')), chr(10))
       |  END AS text FROM toks)""".stripMargin

  /** Deterministic line reconstruction for the corpus-level line-dedup
    * rows (the q168 device, width-parameterized): the word-soup corpus
    * has no physical lines, so w-token chunks joined by \n stand in —
    * [[rebuiltSqlCte]] replays the identical reconstruction, and
    * duplicate / near-duplicate docs' shared chunks make
    * corpus-frequent lines non-vacuous (probed: w=4 drops 2.6% of
    * lines at sf0.01, 4% at sf0.1 with maxDocFreq=2). */
  /** The DuckDB half of the CDC boundary rule (q178/q179): the SAME
    * polynomial constants as the native CdcBoundaries expression,
    * unrolled to one integer expression per position — boundary at p
    * iff (Σ ord(char at p−off)·B^off mod M) ≡ 0 (mod `modulus`).
    * Emits `WITH base …, bd(doc_id, t, b2)`. */
  private[entry] def cdcSqlCte(w: Int, modulus: Int): String = {
    import graft.functions.expressions.TextExprHelpers.{CdcBase, CdcMod}
    val pows = Iterator.iterate(1L)(x => x * CdcBase % CdcMod)
      .take(w).toArray
    val terms = ((w - 1) to 0 by -1).map { off =>
      val idx = if (off == 0) "p" else s"p-$off"
      s"CAST(ord(t[$idx:$idx]) AS BIGINT) * ${pows(off)}"
    }.mkString(" + ")
    s"""WITH base AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
       |bd AS (SELECT doc_id, t,
       |    [0] || list_filter(generate_series($w, length(t) - 1),
       |      p -> (($terms) % $CdcMod) % $modulus = 0) || [length(t)] AS b2
       |  FROM base)""".stripMargin
  }

  private[entry] def rebuiltLines(s: SparkSession, dir: String,
      w: Int): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("__t"))
      .select(col("doc_id"),
        graft.functions.TextFunctions.rebuiltLineText(col("__t"), w)
          .as("text"))

  /** Pinned classifier weight table for q172 (term, label, weight as a
    * decimal string): the corpus marker words with hand weights — the
    * tokenizer-style pinned artifact that lets the DuckDB oracle replay
    * the APPLY exactly while training stays spec-pinned. */
  private val pinnedClassifierWeights: Seq[(String, String, String)] = Seq(
    ("the", "en", "0.50"), ("a", "en", "0.40"),
    ("key", "en", "0.35"), ("fast", "en", "0.30"),
    ("data", "es", "0.50"), ("row", "es", "0.40"),
    ("table", "es", "0.35"), ("scan", "es", "0.30"),
    ("join", "fr", "0.50"), ("merge", "fr", "0.40"),
    ("sort", "fr", "0.35"), ("agg", "fr", "0.30"))

  /** The pinned (weights, priors) pair shared by q172/q173 and the
    * streaming twin q198; unseen is pinned 0 (pure linear apply — the
    * fastText shape). */
  private[entry] def pinnedModel(s: SparkSession): (DataFrame, DataFrame) = {
    import s.implicits._
    val m = pinnedClassifierWeights.toDF("term", "label", "w")
      .select(col("term"), col("label"),
        col("w").cast("decimal(18,9)").as("weight"))
    val p = Seq(("en", "-0.20"), ("es", "-0.25"), ("fr", "-0.30"))
      .toDF("label", "pr")
      .select(col("label"), col("pr").cast("decimal(18,9)").as("prior"),
        lit("0").cast("decimal(18,9)").as("unseen"))
    (m, p)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CCNet-style corpus-level boilerplate-line removal: lines occurring
    // in >2 distinct docs are cut from EVERY doc. Pass 1 shuffles only
    // (doc, line-hash) tuples; the frequent set is heavy-hitter-bounded
    // and broadcasts; pass 2 is a map-only array filter — the corpus
    // text never shuffles.
    "q169_boilerplate_lines" -> ((s, dir) => {
      Dedup.removeBoilerplateLines(rebuiltLines(s, dir, 4), "doc_id",
          "text", maxDocFreq = 2)
        .select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
        .orderBy("doc_id")
    }),

    // Corpus-wide exact line dedup keep-FIRST (CCNet paragraph dedup
    // proper): each distinct line survives only at its lowest (doc,
    // position). Winner election shuffles ~20-byte (doc, pos, hash)
    // tuples; the text shuffles exactly once (the pk join to its
    // per-doc drop list) before a map-only index-filter rewrite.
    "q170_dedup_lines_keepfirst" -> ((s, dir) => {
      Dedup.dedupLinesKeepFirst(rebuiltLines(s, dir, 4), "doc_id", "text")
        .select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
        .orderBy("doc_id")
    }),

    // Content-defined chunking + cross-doc chunk dedup (the rsync/CDC
    // primitive fixed windows can't be): boundaries are rolling-
    // polynomial-hash functions of content (base-257 mod 2^31-1, the
    // native CdcBoundaries expression), so shifted near-copies still
    // share chunks. Chunking
    // is map-only; the dedup pass shuffles (digest, doc, len) tuples —
    // never chunk text — and per-doc stats come back through one left
    // join. Empty/NULL docs pin to (0, 0, 0).
    "q178_cdc_chunks" -> ((s, dir) => {
      val ch = Dedup.cdcChunks(docs(s, dir), "doc_id", "text",
          w = 8, modulus = 32)
        .select(col("doc_id"), md5(col("chunk_text")).as("__h"),
          length(col("chunk_text")).cast("long").as("__len"))
      val freq = ch.groupBy("__h")
        .agg(countDistinct(col("doc_id")).as("__df"))
      val agg = ch.join(freq, Seq("__h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_shared"),
          sum(when(col("__df") >= 2, col("__len")).otherwise(0L))
            .as("shared_chars"))
      docs(s, dir).select("doc_id")
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          coalesce(col("shared_chars"), lit(0L)).as("shared_chars"))
        .orderBy("doc_id")
    }),

    // The APPLY half of q178 (the q170 pattern at CHUNK granularity):
    // every distinct CDC chunk survives only at its lowest (doc,
    // position); shifted duplicated regions that line dedup misses are
    // cut and survivors re-concatenate. One pk-join text shuffle +
    // narrow-tuple winner election, rewrite map-only.
    "q179_cdc_dedup_keepfirst" -> ((s, dir) => {
      Dedup.dedupCdcKeepFirst(docs(s, dir), "doc_id", "text",
          w = 8, modulus = 32)
        .select("doc_id", "text", "n_chunks_kept", "n_chunks_dropped")
        .orderBy("doc_id")
    }),

    // EXACT shingle-set similarity self-join with AllPairs/PPJoin
    // prefix filtering: every doc pair with shingle Jaccard >= 0.5,
    // candidates from rarest-first set PREFIXES only (+ length
    // filter). Faces q36's ground truth SQL — THIRD independent
    // implementation of the exact near-dup pair set (quadratic
    // shared-shingle q36, MinHash-recall q35, prefix-filter q183):
    // any lost candidate or over-eager filter diverges from the
    // shared oracle. Jaccard is one IEEE division of exact ints on
    // both sides.
    "q183_prefix_jaccard_join" -> ((s, dir) => {
      Dedup.prefixJaccardJoin(docsSpread(s, dir), "doc_id", "text",
          threshold = 0.5, shingleN = 3)
        .select("a_id", "b_id", "jaccard")
        .orderBy("a_id", "b_id")
    }),

    // Vocabulary-wide edit-distance-1 pairs via the deletion-
    // neighborhood SELF-join (q129's device, both sides the vocab):
    // typo/OCR-variant discovery without the |vocab|^2 scan. The
    // corpus vocabulary is 31 CLEAN words (no natural ED-1 pairs), so
    // the vocab under test is corpus-derived noise: real terms UNION
    // their 1-char deletions (the OCR-noise fixture, deterministic
    // and replayed identically in the oracle); brute-force
    // levenshtein over that same vocab is the ground truth.
    "q184_edit_distance_pairs" -> ((s, dir) => {
      val base = TextAnalysis.vocabulary(docs(s, dir), "text")
        .select("term").filter(length(col("term")) > 0)
      val dels = base.select(explode(expr(
          """transform(sequence(1, length(term)), i ->
            |  concat(substr(term, 1, i - 1),
            |         substr(term, i + 1, length(term))))""".stripMargin))
          .as("term"))
        .distinct()
      TextAnalysis.editDistancePairs(base.unionByName(dels).distinct())
        .orderBy("a", "b")
    }),

    // Per-source quota cap (the FineWeb/Dolma per-domain cap): keep
    // the 10 longest docs per source, rank deterministic
    // (n_chars desc, doc_id asc) — the anti-domination pass of a
    // crawl-mix build. One rank-window shuffle.
    "q185_source_quota" -> ((s, dir) => {
      graft.ext.Curation.groupQuota(
          docs(s, dir).select("doc_id", "source", "n_chars"),
          groupCols = Seq("source"),
          order = Seq(col("n_chars").desc, col("doc_id").asc),
          k = 10)
        .select("source", "quota_rank", "doc_id", "n_chars")
        .orderBy("source", "quota_rank")
    }),

    // BPE TRAINING under the driver's gate (q166 covers APPLY with
    // pinned merges; this row gates the TRAINER itself): 8 Sennrich
    // merges learned from the corpus word-frequency table, against
    // the DuckDB merge loop unrolled to 8 CTE stages — pair counts,
    // (count desc, left, right) election, and the greedy fold apply
    // all replayed independently. Any drift in pre-tokenization,
    // overlap counting, tie-break, or merge application diverges.
    "q188_bpe_train" -> ((s, dir) => {
      TextAnalysis.bpeTrain(docs(s, dir), "text", numMerges = 8)
        .orderBy("rank")
    }),

    // Skip-gram co-occurrence with exact PMI ratio (word2vec /
    // collocation prep): window-3 unordered pairs, top-100 by
    // (count desc, a, b) — deterministic LIMIT. The exp(PMI) form
    // needs no log, so the fixed double expression over exact integer
    // counts hash-matches across engines.
    "q177_skipgram_pmi" -> ((s, dir) => {
      TextAnalysis.skipgramPairs(docs(s, dir), "text", window = 3)
        .orderBy(col("n_pairs").desc, col("a"), col("b"))
        .limit(100)
    }),

    // Model-based classifier filtering (the fastText-style learned gate
    // of the GPT-3/CCNet/FineWeb-Edu pipelines), APPLY over a PINNED
    // weight table — the q166 device: training emits a driver-quantized
    // DECIMAL artifact (spec-pinned); apply is exact decimal arithmetic
    // on integer token counts, so the verdict replays bit-for-bit.
    // Per-doc term counts collapse map-side, the model broadcasts, the
    // text never shuffles; argmax is a rank-1 window (score desc,
    // label asc). Output edge renders scaled BIGINT (score_e9 =
    // score x 10^9): the internal math is exact decimal(18,9), so the
    // scale-up is the unscaled representation and the cast is exact —
    // no DecimalType ever reaches the output schema (DECIMAL edges
    // proved cross-engine-hash-unsafe at EVERY precision; the
    // EntrySmokeSpec lint now bans them outright).
    "q172_classifier_apply" -> ((s, dir) => {
      val (m, p) = pinnedModel(s)
      TextAnalysis.classifyLinear(docs(s, dir), "doc_id", "text", m, p)
        .select(col("doc_id"), col("label"),
          (col("score").cast("decimal(18,9)") *
            lit(1000000000L).cast("decimal(10,0)"))
            .cast("bigint").as("score_e9"))
        .orderBy("doc_id")
    }),

    // Kneser-Ney LM-training core under the gate (the q196 device for
    // n-gram LMs): bigram counts + both continuation statistics —
    // everything the smoother needs except the final division — as
    // exact BIGINTs; top-200 by the total (n desc, w1, w2) order.
    "q246_kn_counts" -> ((s, dir) => {
      NgramLm.continuationTable(
          NgramLm.ngrams(docs(s, dir), "text", 2, None))
        .orderBy(col("n").desc, col("w1"), col("w2"))
        .limit(200)
    }),

    // Unicode cleanup (NFC + control strip + whitespace collapse) —
    // the planted-defect device (q239's): mod-7 docs get a decomposed
    // e+U+0301, a BEL, and a double space appended, so composition,
    // stripping, and collapsing each provably fire (n_before 9 >
    // n_after 8 on planted rows). NFC parity is by Unicode spec: JVM
    // Normalizer == DuckDB nfc_normalize.
    "q262_unicode_clean" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" cafe\u0301\u0007  end")))
          .otherwise(col("text")))
      TextAnalysis.unicodeClean(planted, "text")
        .select(col("doc_id"), length(col("text")).as("n_before"),
          length(col("clean_text")).as("n_after"), col("clean_text"))
        .orderBy("doc_id")
    }),

    // Collocation mining (Church/Hanks PMI as the exact-rational
    // LIFT — log is monotone, so the ranking is PMI's): which
    // adjacent word pairs are phrases, from the same collapsed bigram
    // table as q246. minCount=2 cuts hapax noise; top-200 by
    // (lift desc, w1, w2).
    "q259_collocations" -> ((s, dir) => {
      TextAnalysis.collocationLift(
          NgramLm.ngrams(docs(s, dir), "text", 2, None),
          minCount = 2)
        .orderBy(col("lift_e9").desc, col("w1"), col("w2"))
        .limit(200)
    }),

    // The SMOOTHED model q246's statistics exist for: interpolated
    // Kneser-Ney bigram probabilities with D = 3/4 — every p an exact
    // rational emitted floor-e9 through DECIMAL(38,0) integer
    // arithmetic, so the trained LM table hash-replays. Same top-200
    // cut as q246.
    "q249_kn_probabilities" -> ((s, dir) => {
      NgramLm.probabilities(
          Map(2 -> NgramLm.ngrams(docs(s, dir), "text", 2, None)), 2,
          NgramLm.Fixed)
        .orderBy(col("n").desc, col("w1"), col("w2"))
        .limit(200)
    }),

    // q249 with the PRODUCTION discount: D estimated from the
    // count-of-counts (Ney's D = n1/(n1+2n2), the Chen-Goodman
    // recommendation) instead of the pinned 3/4 — D stays a rational
    // of corpus integers, so the model still hash-replays; two-stage
    // floor-e9 (the trigram device) keeps every intermediate inside
    // DECIMAL(38,0) at 100 TB counts. Same top-200 cut as q249.
    "q273_kn_estimated_discount" -> ((s, dir) => {
      NgramLm.probabilities(
          NgramLm.train(docs(s, dir), "text", 2, NgramLm.Estimated), 2,
          NgramLm.Estimated)
        .orderBy(col("n").desc, col("w1"), col("w2"))
        .limit(200)
    }),

    // The n=3 order of q249 (verdict r16 item #3 — production
    // perplexity filters run n>=3): interpolated Kneser-Ney TRIGRAM
    // probabilities with every lower-order statistic derived from the
    // trigram table via continuation counts, D = 3/4, two-stage
    // floor-e9 composition (p2 then p3) so every intermediate stays
    // inside DECIMAL(38,0) at 100 TB counts. Top-200 by (n desc,
    // w1, w2, w3).
    "q266_kn_trigram_probabilities" -> ((s, dir) => {
      // the count table materializes once: the trigram model
      // references it six ways (base + ctx + cont->mid/pre/B) and
      // left lazy the corpus trigram agg re-derives per reference
      // (6 Generate nodes in the first Explain — the q250 lesson at
      // n=3)
      NgramLm.probabilities(
          NgramLm.train(docs(s, dir), "text", 3, NgramLm.Fixed), 3,
          NgramLm.Fixed)
        .orderBy(col("n").desc, col("w1"), col("w2"), col("w3"))
        .limit(200)
    }),

    // q266 with the PRODUCTION discounts: D estimated per level from
    // that level's own count-of-counts (D3 from trigram types, D2
    // from the continuation table's — Chen-Goodman's prescription),
    // three-stage floor-e9 so the wider estimated-D fractions stay
    // inside DECIMAL(38,0). Same top-200 cut as q266.
    "q274_kn_trigram_estimated_discount" -> ((s, dir) => {
      NgramLm.probabilities(
          NgramLm.train(docs(s, dir), "text", 3, NgramLm.Estimated), 3,
          NgramLm.Estimated)
        .orderBy(col("n").desc, col("w1"), col("w2"), col("w3"))
        .limit(200)
    }),

    // q250's doc scoring under the PRODUCTION discount (verdict r17
    // item #1 — q273 trained the estimated-D model but nothing
    // SCORED with it): the en-trained bigram model scores every doc
    // through the SAME cascade re-derived at D = n1/(n1+2n2), seen
    // probabilities replayed from the q273 model table, unseen mass
    // (n1·post·pc)/(c1·M) through the model's own floored pc.
    "q275_kn_estd_doc_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = NgramLm.train(d.where(col("lang") === "en"), "text",
        2, NgramLm.Estimated)
      NgramLm.scoreDocs(d, "doc_id", "text", model, 2, NgramLm.Estimated,
          None)
        .orderBy("doc_id")
    }),

    // q267's trigram doc scoring under the PRODUCTION discounts —
    // the n=3 estimated-D serve (verdict r17 item #1): the full
    // two-level cascade at D3 = t1/(t1+2t2), D2 = cc1/(cc1+2cc2),
    // every branch composing through the model's own floored
    // intermediates (pc -> p2 -> p3). The 31-word shared vocab keeps
    // all six branches live on non-en docs.
    "q276_kn_trigram_estd_doc_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = NgramLm.train(d.where(col("lang") === "en"), "text",
        3, NgramLm.Estimated)
      NgramLm.scoreDocs(d, "doc_id", "text", model, 3, NgramLm.Estimated,
          None)
        .orderBy("doc_id")
    }),

    // Doc scoring under MODIFIED KN — the serve for q277 (landed in
    // the same round as its trainer, so "the model trains but nothing
    // scores with it" never opens at this order): the en-trained mKN
    // bigram model scores every doc, backoff mass γ(w1)/c1·Pcont
    // through the model's own floored three-discount γ.
    "q283_kn_mkn_doc_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = NgramLm.train(d.where(col("lang") === "en"), "text",
        2, NgramLm.Modified)
      NgramLm.scoreDocs(d, "doc_id", "text", model, 2, NgramLm.Modified,
          None)
        .orderBy("doc_id")
    }),

    // q283 at n=3 — the serve for q278: both cascade levels
    // interpolate with that level's three-discount γ mass (top over
    // the context's K counts, continuation over the middle L counts
    // indexed by pre23), composing through the model's single-stage
    // floors.
    "q284_kn_trigram_mkn_doc_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = NgramLm.train(d.where(col("lang") === "en"), "text",
        3, NgramLm.Modified)
      NgramLm.scoreDocs(d, "doc_id", "text", model, 3, NgramLm.Modified,
          None)
        .orderBy("doc_id")
    }),

    // OPEN-VOCABULARY KN model (the SRILM/KenLM <unk> convention —
    // the vocabulary-truncation step every production n-gram LM
    // applies): top-24 words by (count desc, word asc) stay, the
    // rest fold to <unk> ON THE COLLAPSED count table (model-sized
    // re-agg — the corpus is never re-read), then the pinned-D
    // derivation over the folded table. The en corpus holds 31 words
    // at every SF, so 7 fold at every SF — the truncation is live.
    "q289_kn_unk_model" -> ((s, dir) => {
      val en = docs(s, dir).where(col("lang") === "en")
      val counts = NgramLm.train(en, "text", 2, NgramLm.Fixed)(2)
      val vocab = NgramLm.vocabTopK(en, "text", 24)
        .localCheckpoint(true)
      NgramLm.probabilities(
          Map(2 -> NgramLm.withUnk(counts, 2, vocab).localCheckpoint(true)),
          2, NgramLm.Fixed)
        .orderBy(col("n").desc, col("w1"), col("w2"))
    }),

    // q250's doc scoring OPEN-VOCABULARY: serve-time tokens outside
    // the training vocabulary map to <unk> before the cascade, so an
    // unseen word scores the model's real p(<unk>|ctx) instead of 0
    // — the q250 zero-continuation caveat closed the way production
    // toolkits close it. Non-en docs (whose words are mostly OOV to
    // the en vocab) exercise the mapping heavily at every SF.
    "q290_kn_unk_doc_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val en = d.where(col("lang") === "en")
      val model = NgramLm.train(en, "text", 2, NgramLm.Fixed)
      val vocab = NgramLm.vocabTopK(en, "text", 24)
        .localCheckpoint(true)
      NgramLm.scoreDocs(d, "doc_id", "text", model, 2, NgramLm.Fixed,
          Some(vocab))
        .orderBy("doc_id")
    }),

    // The smoother families COMPOSE: modified Kneser-Ney trained on
    // the <unk>-folded vocabulary — q277's three-discount estimator
    // over q289's truncated count table, a pure composition of
    // Modified probabilities with the <unk> fold (zero new operator
    // code; the fold changes the count-of-counts, so all three
    // discounts shift with it — that coupling is exactly what the
    // hash gate certifies end-to-end).
    "q298_kn_unk_mkn_model" -> ((s, dir) => {
      val en = docs(s, dir).where(col("lang") === "en")
      val counts = NgramLm.train(en, "text", 2, NgramLm.Modified)(2)
      val vocab = NgramLm.vocabTopK(en, "text", 24)
        .localCheckpoint(true)
      NgramLm.probabilities(
          Map(2 -> NgramLm.withUnk(counts, 2, vocab).localCheckpoint(true)),
          2, NgramLm.Modified)
        .orderBy(col("n").desc, col("w1"), col("w2"))
    }),

    // The serve for q298 (landed in the same session as its trainer,
    // so "the composed model trains but nothing scores" never
    // opens): open-vocab mKN doc scoring — instances map through the
    // vocab, the three-discount cascade runs against the FOLDED
    // table whose own count-of-counts set the discounts.
    "q299_kn_unk_mkn_doc_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val en = d.where(col("lang") === "en")
      val model = NgramLm.train(en, "text", 2, NgramLm.Modified)
      val vocab = NgramLm.vocabTopK(en, "text", 24)
        .localCheckpoint(true)
      NgramLm.scoreDocs(d, "doc_id", "text", model, 2, NgramLm.Modified,
          Some(vocab))
        .orderBy("doc_id")
    }),

    // CCNet head/middle/tail (Wenzek et al. 2020 §4.3 — the
    // perplexity tertiles CCNet publishes and the LLaMA data recipe
    // selects on): per language, docs rank by trained-LM mean score
    // (higher = lower perplexity = head) and split by ntile(3). One
    // language-keyed window after the linear scorer — no global sort.
    "q297_ccnet_buckets" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = NgramLm.train(d.where(col("lang") === "en"), "text",
        2, NgramLm.Fixed)
      graft.ext.Curation.ccnetBuckets(d, "doc_id", "lang", "text",
          model)
        .orderBy("doc_id")
    }),

    // CCNet's SELECTION composed into the pipeline (what the LLaMA
    // recipe actually did with CCNet: keep head+middle, drop tail):
    // the rank-based gate contrasts with the threshold gates
    // (q269/q279/q288/q292) — it keeps exactly ⌈2n/3⌉ docs per
    // language regardless of the score distribution, the production
    // property that makes corpus size predictable. The semi-join in
    // front of curationPipeline is the same delta-slim shape as the
    // internal LM gate's.
    "q301_ccnet_selected_pipeline" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = NgramLm.train(d.where(col("lang") === "en"), "text",
        2, NgramLm.Fixed)
      // materialized keep set: the pipeline plans against a leaf
      // instead of re-carrying the scorer + ntile window tree
      // (corpus-bounded, so checkpoint only — no broadcast hint)
      val keep = graft.ext.Curation.ccnetBuckets(
          d, "doc_id", "lang", "text", model)
        .where(col("bucket") =!= "tail").select("doc_id")
        .localCheckpoint(true)
      graft.ext.Curation.curationPipeline(
          d.join(keep, Seq("doc_id"), "semi"),
          graft.ext.Curation.CurationConfig())
        .orderBy("doc_id")
    }),

    // STUPID BACKOFF doc scoring (Brants et al. 2007 — the smoother
    // Google built FOR corpus scale: no continuation statistics, no
    // normalization, three independent count passes; alpha = 2/5
    // exact so every branch floors exactly). The canonical web-scale
    // baseline next to the KN family.
    "q293_stupid_backoff_doc_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val en = d.where(col("lang") === "en")
      val model = NgramLm.train(en, "text", 3, NgramLm.StupidBackoff)
      NgramLm.scoreDocs(d, "doc_id", "text", model, 3,
          NgramLm.StupidBackoff, None)
        .orderBy("doc_id")
    }),

    // WITTEN-BELL interpolated bigram model (Witten/Bell 1991 method
    // C — Chen-Goodman's baseline): lambda = c1/(c1+T1) against the
    // UNIGRAM MLE (the defining contrast with KN's continuation
    // distribution), the whole estimate ONE fraction of corpus
    // integers so a single floor loses < 1 ulp.
    "q294_witten_bell_model" -> ((s, dir) => {
      val en = docs(s, dir).where(col("lang") === "en")
      NgramLm.probabilities(
          NgramLm.train(en, "text", 2, NgramLm.WittenBell), 2,
          NgramLm.WittenBell)
        .orderBy(col("n").desc, col("w1"), col("w2"))
    }),

    // q294's model scoring every doc through the WB cascade (seen /
    // escape-mass / unigram-fallback / unknown-zero).
    "q295_witten_bell_doc_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val en = d.where(col("lang") === "en")
      val model = NgramLm.train(en, "text", 2, NgramLm.WittenBell)
      NgramLm.scoreDocs(d, "doc_id", "text", model, 2,
          NgramLm.WittenBell, None)
        .orderBy("doc_id")
    }),

    // MODIFIED Kneser-Ney (verdict r17 item #2 — Chen-Goodman's
    // three-discount estimator, what SRILM/KenLM ship): D1/D2/D3+
    // estimated from the count-of-counts n1..n4, the discount picked
    // by CASE on the count itself, gamma = D1·K1 + D2·K2 + D3·K3p
    // per context. All exact rationals pre-floored e9; same top-200
    // cut as q249. Trains on the EN slice — the only slice whose
    // count-of-counts buckets n1..n4 are ALL non-empty at every SF
    // (the full corpus saturates every bigram type by sf0.1:
    // n1 = n2 = 0 there, which would degenerate to the ML fallback
    // and leave the count-indexed pick unexercised). ASCENDING cut
    // (unlike the q249 family): the n=1 / n=2 / n>=3 rows all land
    // in the emitted window, so all three discount PICKS are visible
    // in the oracle-checked table at every SF.
    "q277_kn_modified" -> ((s, dir) => {
      NgramLm.probabilities(
          NgramLm.train(docs(s, dir).where(col("lang") === "en"), "text",
            2, NgramLm.Modified), 2, NgramLm.Modified)
        .orderBy(col("n"), col("w1"), col("w2"))
        .limit(200)
    }),

    // Modified KN at n=3 — the three-discount estimator applied at
    // BOTH levels (top from trigram count-of-counts t1..t4,
    // continuation from the continuation table's cc1..cc4, discounts
    // indexed by pre23 there), gammas from per-context type counts.
    // En slice for the same reason as q277 (all eight count-of-counts
    // buckets non-empty at every SF, so all six discounts are live).
    // The cut is 67 rows PER COUNT BUCKET (n=1 / n=2 / n>=3, a
    // least(n,3)-partitioned rank) instead of a global top-200 — a
    // global cut at either end would emit only one bucket (thousands
    // of singleton trigrams ascending; saturated types descending)
    // and leave two of the three discount PICKS outside the
    // oracle-checked window.
    "q278_kn_trigram_modified" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(least(col("n"), lit(3L)))
        .orderBy(col("n").desc, col("w1"), col("w2"), col("w3"))
      NgramLm.probabilities(
          NgramLm.train(docs(s, dir).where(col("lang") === "en"), "text",
            3, NgramLm.Modified), 3, NgramLm.Modified)
        .withColumn("__rk", row_number().over(w))
        .where(col("__rk") <= 67).drop("__rk")
        .orderBy(col("n").desc, col("w1"), col("w2"), col("w3"))
    }),

    // q250's trained-LM doc scoring at n=3: the trigram KN model
    // trains on the 'en' slice, then scores EVERY doc through the
    // full back-off recursion (seen trigram / context-backoff /
    // continuation-level cascade). The 31-word shared vocabulary
    // makes unseen-trigram-with-seen-context the COMMON case on
    // non-en docs, so the recursion's middle branches carry real
    // weight here (the unigram-fallback and zero branches are pinned
    // by hand in KnTrigramSpec). Model materializes ONCE - it is
    // referenced six times (probs + four marginals + B) and Spark has
    // no common-subplan dedup.
    "q267_kn_trigram_doc_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = NgramLm.train(d.where(col("lang") === "en"), "text",
        3, NgramLm.Fixed)
      NgramLm.scoreDocs(d, "doc_id", "text", model, 3, NgramLm.Fixed,
          None)
        .orderBy("doc_id")
    }),

    // The "perplexity filter with a real LM" (q80's trained upgrade):
    // the KN model trains on the 'en' slice ONLY, then scores EVERY
    // doc — non-en docs exercise all three back-off branches (seen,
    // context-backoff, continuation-fallback, zero). Mean bigram
    // probability per doc as exact floor-e9; no log on purpose
    // (libm-dependent — the ranking direction is what the gate
    // needs).
    "q250_kn_doc_score" -> ((s, dir) => {
      val d = docs(s, dir)
      // the trained model materializes ONCE: the scorer references
      // the count table four times (probs, both marginals, B) and
      // Spark has no common-subplan dedup — left lazy, the en-slice
      // bigram agg would re-run per reference (4 corpus scans)
      val model = NgramLm.train(d.where(col("lang") === "en"), "text",
        2, NgramLm.Fixed)
      NgramLm.scoreDocs(d, "doc_id", "text", model, 2, NgramLm.Fixed,
          None)
        .orderBy("doc_id")
    }),

    // C4-style LINE-level quality filter: drop every (rebuilt, w=4)
    // line whose alpha ratio falls below 0.86 — exact integer rational
    // compare inside a HOF filter, zero shuffle. 45% of lines survive
    // at sf0.001, splitting within latin docs (non-vacuous both ways).
    "q242_line_quality_filter" -> ((s, dir) => {
      graft.ext.Curation.lineQualityFilter(rebuiltLines(s, dir, 4),
          "doc_id", "text", minAlphaE9 = 860000000L)
        .orderBy("doc_id")
    }),

    // Out-of-vocabulary rate per source against the corpus' own
    // top-20 term vocabulary (the corpus has 31 distinct terms, so 11 are genuinely OOV) (count desc, term asc — deterministic
    // cut): the tokenizer-coverage diagnostic. Vocabulary broadcasts;
    // the only shuffle carries per-source count rows.
    "q244_oov_rate" -> ((s, dir) => {
      val d = docs(s, dir)
      val vocab = d.select(explode(filter(
            graft.functions.TextFunctions.tokens(col("text")),
            t => length(t) > 0)).as("term"))
        .groupBy("term").agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col("term")).limit(20)
        .select("term")
      TextAnalysis.oovRate(d, "source", "text", vocab)
        .orderBy("source")
    }),

    // PII-prevalence governance report per source: docs containing an
    // email / URL / long digit run, with floor-e9 rates — the SAME
    // patterns q39's redaction scrubs (shared constants, so metric
    // and scrubber can't drift). The word-soup corpus carries no
    // digits at all, so the row plants deterministic PII into mod-
    // selected docs (the q168 rebuilt-lines device: derive, never
    // synthesize rows) — every counter is non-vacuous and the
    // patterns really fire.
    "q239_pii_prevalence" -> ((s, dir) => {
      val aug = docs(s, dir).withColumn("text", concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" u"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(lit(" id "), col("doc_id") * 1000000 + 123456))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(13)) === 0,
          lit(" see https://example.com/x")).otherwise(lit(""))))
      TextAnalysis.piiPrevalence(aug, "source", "text")
        .orderBy("source")
    }),

    // Classification report for the q32 lang-ID heuristic against the
    // table's own lang truth: per class (truths ∪ predictions — de/zh
    // are never predicted and report zero F1), exact confusion counts
    // + floor-e9 precision/recall/F1 + macro-F1. ONE (truth, pred)
    // aggregation collapses the corpus.
    "q234_classification_report" -> ((s, dir) => {
      val pred = TextAnalysis.withLangId(docs(s, dir), "text", markers)
      graft.ext.Stats.classificationReport(pred, "lang", "lang_guess")
        .orderBy("cls")
    }),

    // Tokenizer fertility per language — the multilingual tokenizer
    // diagnostic (subword tokens per word, chars per subword): exact
    // BIGINT sums per lang, each ratio one IEEE division. zh's
    // CJK-heavy text separates visibly from the latin languages.
    "q229_tokenizer_fertility" -> ((s, dir) => {
      TextAnalysis.tokenizerFertility(docs(s, dir), "lang", "text")
        .orderBy("lang")
    }),

    // Distinct-bigram diversity per language (Li et al. distinct-n):
    // distinct adjacent bigrams / total bigram instances — the
    // template/boilerplate monitor. Exact counts; sub-n docs excluded
    // from the distinct side (the whole-doc shingle fallback is not a
    // bigram) but contribute 0 instances anyway.
    "q230_distinct_ngrams" -> ((s, dir) => {
      TextAnalysis.distinctNgramRatio(docs(s, dir), "lang", "text", n = 2)
        .orderBy("lang")
    }),

    // Classifier THRESHOLD CALIBRATION (the PR-curve sweep): before a
    // quality gate like q172 filters 100 TB, its threshold is chosen
    // by sweeping the scored calibration set against ground truth.
    // Score = the pinned model's 'en' score (scaled-BIGINT edge, the
    // q172 device); truth = the documents table's own lang column.
    // One score-keyed aggregation collapses the corpus, then exact
    // cumulative confusion counts per distinct threshold — precision/
    // recall/F1 as floor-e9 integers, deterministic in any engine.
    "q218_threshold_sweep" -> ((s, dir) => {
      val (m, p) = pinnedModel(s)
      val d = docs(s, dir)
      val scored = TextAnalysis.scoreLinear(d, "doc_id", "text", m, p)
        .where(col("label") === "en")
        .select(col("doc_id"),
          (col("score").cast("decimal(18,9)") *
            lit(1000000000L).cast("decimal(10,0)"))
            .cast("bigint").as("score_e9"))
      val truth = d.select(col("doc_id"),
        (col("lang") === "en").as("__is_en"))
      graft.ext.Stats.thresholdSweep(scored.join(truth, Seq("doc_id")),
          "score_e9", "__is_en")
        .orderBy(col("threshold_e9").desc)
    }),

    // DSIR data selection (importance resampling): top-100 docs by the
    // exact-decimal log-likelihood ratio target("en") vs raw("es")
    // under the same pinned model — the "pick the most target-like
    // slice of the raw pool" stage. Fully deterministic ranking
    // (weight desc, doc_id asc), so LIMIT is stable across engines.
    // Scaled-BIGINT output edge (weight_e9) for the same reason as
    // q172: the x10^9 scale-up of an exact decimal(18,9) is its
    // unscaled int64 — exact, and decimal-free at the boundary.
    "q173_dsir_select" -> ((s, dir) => {
      val (m, p) = pinnedModel(s)
      TextAnalysis.importanceWeights(docs(s, dir), "doc_id", "text",
          m, p, targetLabel = "en", rawLabel = "es")
        .select(col("doc_id"),
          (col("weight").cast("decimal(18,9)") *
            lit(1000000000L).cast("decimal(10,0)"))
            .cast("bigint").as("weight_e9"))
        .orderBy(col("weight_e9").desc, col("doc_id"))
        .limit(100)
    }),

    // Naive-Bayes TRAINING under the gate (the last trainer that was
    // spec-only): deterministic 3-way labeling (doc_id % 3 → en/es/fr)
    // over the docs corpus, then the trainer's exact-integer core —
    // per-(label, term) counts, per-label token totals, vocabulary
    // size, per-label doc counts — as one BIGINT row set. This is
    // everything trainNaiveBayes computes except the final log()
    // projection (log-space doubles never enter hashed values — the
    // q188 device). One corpus pass; the only shuffle carries
    // collapsed (label, term, count) tuples.
    "q196_nb_train" -> ((s, dir) => {
      val labeled = docs(s, dir).withColumn("label",
        element_at(array(lit("en"), lit("es"), lit("fr")),
          ((col("doc_id") % 3) + 1).cast("int")))
      val (counts, docCounts) =
        TextAnalysis.trainNaiveBayesCounts(labeled, "label", "text")
      counts
        .join(broadcast(docCounts.select("label", "n_docs", "n_total")),
          Seq("label"))
        .select(col("term"), col("label"), col("n"), col("tot"),
          col("v"), col("n_docs"), col("n_total"))
        .orderBy("label", "term")
    }),

    // The END-TO-END curation pipeline (VERDICT r13 Next #6) — the
    // shape a user actually runs, as ONE query, testing operator
    // COMPOSITION (column contracts, dedup-before-quota ordering)
    // that per-operator rows can't: quality gate (q33's signals) →
    // corpus boilerplate-line removal over the survivors (q169) →
    // corpus-wide exact line dedup keep-first (q170) → fingerprint
    // near-dup clusters on the survivors' ORIGINAL text (q34's
    // device) → per-source quota on CLEANED length (q185) →
    // leakage-safe hash split keyed on the CLUSTER (q87/q134's
    // device), so near-dup docs can never straddle train/test.
    // Emits every quality survivor (kept docs carry their quota_rank,
    // cut docs carry NULL) — which also makes the cluster column
    // non-vacuous: a doc whose twin won keep-first shows
    // cluster != doc_id and inherits the twin's split. Plan shape
    // (Spark has no common-subplan dedup, so the pipeline is ONE
    // linear frame handed stage to stage, never re-joined against
    // itself): quality gate + line reconstruction fuse into a single
    // per-doc projection inside the scan; the two dedup stages are the
    // production operators (their internal re-references are the only
    // corpus re-reads, each a column-pruned scan by design); the
    // cluster attaches AFTER the text stages from a slim
    // (doc_id, fingerprint) side chain restricted to survivors by the
    // join itself; quota rank and split are two slim-row windows at
    // the tail. The first cut composed the stages by re-joining the
    // gated corpus — 36 parquet scans; this shape plans 4 (+1 in the
    // boilerplate pass-1 collect job).
    "q197_curation_pipeline" -> ((s, dir) =>
      graft.ext.Curation.curationPipeline(docs(s, dir)).orderBy("doc_id")),

    // q197's composition with the CCNet-style LM-scored gate LIVE
    // (verdict r16 item #4): the en-trained KN bigram model (q250's
    // trained artifact, materialized once) scores every doc FIRST;
    // only docs with floor-e9 mean bigram probability >= 34e6 enter
    // the pipeline (284/500 at sf0.001, 306/500 at sf0.01, 516/5000
    // at sf0.1 — non-vacuous both ways at every SF), so boilerplate
    // frequencies, quota ranks and splits are all computed over the
    // LM-gated corpus. The gate compare is exact-integer
    // (sum >= n·tau — no division).
    "q269_lm_gated_pipeline" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = NgramLm.train(d.where(col("lang") === "en"), "text",
        2, NgramLm.Fixed)
      graft.ext.Curation.curationPipeline(d,
          graft.ext.Curation.CurationConfig(lmMinMeanPE9 = 34000000L),
          Some(model))
        .orderBy("doc_id")
    }),

    // q269 with the TRIGRAM scorer plugged into the gate (verdict r17
    // item #3 — the gate was hard-wired to the bigram scorer):
    // curationPipeline's lmScorer knob takes q267's trigram
    // scorer, so only docs with floor-e9 mean TRIGRAM
    // probability >= 40e6 enter the pipeline (232/500, 251/500,
    // 1601/5000 pass at the three SFs — non-vacuous both ways).
    // Sub-3-token docs have no facts row and are cut by the active
    // gate, same convention as the bigram gate at n=2.
    "q279_lm_gated_pipeline_trigram" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = NgramLm.train(d.where(col("lang") === "en"), "text",
        3, NgramLm.Fixed)
      graft.ext.Curation.curationPipeline(d,
          graft.ext.Curation.CurationConfig(lmMinMeanPE9 = 40000000L),
          Some(model), lmScorer = (3, NgramLm.Fixed))
        .orderBy("doc_id")
    }),

    // q269 with the MODIFIED-KN scorer plugged into the gate — the
    // production smoother (q283's three count-indexed discounts)
    // actually gating a corpus: only docs with floor-e9 mean mKN
    // bigram probability >= 33.5e6 enter the pipeline (327/500,
    // 347/500, 2020/5000 pass at the three SFs — non-vacuous both
    // ways). Same pluggable-scorer knob as q279; the gate reads the
    // facts frame's count column by elimination, so the mKN facts
    // drop in unchanged.
    "q288_lm_gated_pipeline_mkn" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = NgramLm.train(d.where(col("lang") === "en"), "text",
        2, NgramLm.Modified)
      graft.ext.Curation.curationPipeline(d,
          graft.ext.Curation.CurationConfig(lmMinMeanPE9 = 33500000L),
          Some(model), lmScorer = (2, NgramLm.Modified))
        .orderBy("doc_id")
    }),

    // The last cell of the gate × scorer matrix (q269 pinned / q279
    // trigram / q288 mKN / here estimated-D): the q273-trained
    // production discount gates the corpus. At the SAME τ=33.5e6 the
    // three bigram gates keep DIFFERENT doc sets (325/348/2033 here
    // vs 327/347/2020 mKN at the three SFs) — the smoother choice is
    // visible through the gate, not just the model table.
    "q292_lm_gated_pipeline_estd" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = NgramLm.train(d.where(col("lang") === "en"), "text",
        2, NgramLm.Estimated)
      graft.ext.Curation.curationPipeline(d,
          graft.ext.Curation.CurationConfig(lmMinMeanPE9 = 33500000L),
          Some(model), lmScorer = (2, NgramLm.Estimated))
        .orderBy("doc_id")
    }),

    // Length-grouped micro-batching (the padding-waste minimizer of
    // training dataloaders, deterministic): per hash shard, docs rank
    // by (n_tokens asc, id asc) into batches of 8; batch max and
    // per-doc pad waste are exact integers. One shard-keyed shuffle,
    // both windows share it.
    "q212_length_batching" -> ((s, dir) => {
      graft.ext.Curation.lengthGroupedBatches(
          TextAnalysis.withTokenCounts(docs(s, dir), "text"),
          "doc_id", "n_tokens", batchSize = 8, seed = "lb1", nShards = 4)
        .orderBy("doc_id")
    }),

    // Gopher-style repetition signals (Rae et al. 2021): duplicate
    // adjacent bigram/trigram fractions (map-only array ops — the
    // corpus never shuffles for them) + the top-word share (one
    // narrow (doc, token) shuffle). Exact integer counts, one IEEE
    // division per fraction.
    "q213_repetition_signals" -> ((s, dir) => {
      TextAnalysis.repetitionSignals(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Incremental boilerplate removal: docs 250+ arriving against the
    // 0-249 history's SAVED (line_hash, n_docs) artifact — the batch is
    // rewritten with MERGED corpus frequencies, bit-identical to the
    // full-union rewrite, without touching historical text. Work ∝
    // batch lines + artifact size (distinct lines), never ∝ history.
    "q171_boilerplate_delta" -> ((s, dir) => {
      val rebuilt = rebuiltLines(s, dir, 4)
      val snap = Dedup.lineFrequencySnapshot(
        rebuilt.filter(col("doc_id") < 250), "doc_id", "text")
      Dedup.removeBoilerplateLinesDelta(
          rebuilt.filter(col("doc_id") >= 250), snap, "doc_id", "text",
          maxDocFreq = 2)
        .select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
        .orderBy("doc_id")
    }),

    // Exact dedup on content digest (group key = md5, 16 bytes shuffled
    // per doc regardless of document size).
    "q30_dedup_exact" -> ((s, dir) => {
      Dedup.exact(docs(s, dir), "doc_id", "text")
        .agg(count(lit(1)).as("n_groups"),
          sum(col("n_copies")).cast("long").as("n_docs"),
          sum(when(col("n_copies") > 1, 1).otherwise(0)).cast("long")
            .as("n_dup_groups"))
    }),

    // SymSpell spelling candidates (deletion-neighborhood join, no
    // |vocab|×|queries| distance scan): typo probes chosen to exercise
    // every class — substitution/deletion/insertion repairs, a
    // multi-candidate typo ("sow" → row AND slow), an exact match at
    // distance 0, and a no-match. The oracle is the brute-force
    // levenshtein cross scan — an independent formulation; the
    // distance-2 false candidates the neighborhood join generates
    // (e.g. transpositions) must be filtered identically.
    "q129_spell_candidates" -> ((s, dir) => {
      TextAnalysis.spellCandidates(
          TextAnalysis.vocabulary(docs(s, dir), "text")
            .select("term", "cnt"),
          Seq("tble", "scann", "vakue", "spork", "sow", "agg", "zzzz"))
        .orderBy("query_term", "term")
    }),

    // Token counting: whitespace + BPE-ish pre-tokenization.
    "q31_token_count" -> ((s, dir) => {
      TextAnalysis.withTokenCounts(docs(s, dir), "text")
        .select("doc_id", "n_tokens", "n_bpe_tokens")
        .orderBy("doc_id")
    }),

    // Language-ID heuristic: argmax of marker-word hits.
    "q32_lang_id" -> ((s, dir) => {
      TextAnalysis.withLangId(docs(s, dir), "text", markers)
        .select("doc_id", "lang_guess")
        .orderBy("doc_id")
    }),

    // Quality signals: exact integer counts + single-division ratios.
    "q33_quality" -> ((s, dir) => {
      TextAnalysis.withQualitySignals(docs(s, dir), "text")
        .select("doc_id", "n_chars", "n_tokens", "alpha_ratio",
          "mean_token_len")
        .orderBy("doc_id")
    }),

    // Rolling-window content fingerprint (min-md5 over 8-gram shingles).
    "q34_fingerprint" -> ((s, dir) => {
      TextAnalysis.withFingerprint(docs(s, dir), "text")
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    }),

    // MinHash(12) + LSH(4 bands × 3 rows) near-dup pairs, jaccard-verified
    // at 0.5 — finds the corpus's planted near-duplicate pairs. The oracle
    // replicates the complete LSH pipeline, so band-construction down to
    // seed strings is certified.
    "q35_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashNearDup(docsSpread(s, dir), "doc_id", "text",
          shingleN = 3, k = 12, bands = 4, threshold = 0.5)
        .orderBy("a_id", "b_id")
    }),

    // Ground-truth n-gram jaccard (no LSH): pairs sharing >=1 shingle,
    // exact jaccard >= 0.5.
    "q36_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccard(docsSpread(s, dir), "doc_id", "text",
          shingleN = 3, threshold = 0.5)
        .orderBy("a_id", "b_id")
    }),

    // SimHash(60-bit) near-dups via 4×15-bit pigeonhole banding,
    // Hamming <= 3.
    "q37_simhash" -> ((s, dir) => {
      Dedup.simhashNearDup(docsSpread(s, dir), "doc_id", "text", maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("a_id", "b_id")
    }),

    // DCT perceptual-hash near-dup: the IMAGE dedup pipeline with the
    // decode step swapped for the md5-synthesized grid device (image
    // decode is not SQL-expressible; Multimodal.syntheticGrid gives
    // both engines the same post-decode 32x32 luminance grid, and the
    // real javax.imageio path is certified by the PNG-fixture spec).
    // Integer fixed-point DCT -> 63-bit hash (mapPartitions, map-only)
    // -> 4x16-bit pigeonhole banding -> hamming <= 3. The hash step
    // scans once and shuffles 8-byte signatures, never pixels.
    "q98_phash_neardup" -> ((s, dir) => {
      import s.implicits._
      val hashed = docs(s, dir).select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map(id => (id,
          graft.ext.Multimodal.phashFromGrid(
            graft.ext.Multimodal.syntheticGrid(id)))))
        .toDF("doc_id", "phash")
      Dedup.hammingNearDup(hashed, "doc_id", "phash", maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("a_id", "b_id")
    }),

    // Energy-delta audio fingerprint near-dup: the AUDIO dedup pipeline
    // with the decode step swapped for the md5-synthesized envelope
    // device (audio decode is not SQL-expressible; the real
    // javax.sound path is certified by the WAV-fixture spec).
    // Derivative-sign bits (volume-invariant) -> the same 4x16-bit
    // pigeonhole banding as q98 -> hamming <= 3. Map-only hash; only
    // 8-byte signatures shuffle, never PCM.
    "q103_audio_fp_neardup" -> ((s, dir) => {
      import s.implicits._
      val fp = docs(s, dir).select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map(id => (id,
          graft.ext.Multimodal.fingerprintFromEnvelope(
            graft.ext.Multimodal.syntheticEnvelope(id).map(_.toDouble)))))
        .toDF("doc_id", "afp")
      Dedup.hammingNearDup(fp, "doc_id", "afp", maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("a_id", "b_id")
    }),

    // Redaction scrub (emails/URLs/digit runs → placeholders): map-only
    // pass; output hashed so the compare certifies the transform without
    // shipping full texts.
    "q39_redact" -> ((s, dir) => {
      TextAnalysis.withRedaction(docs(s, dir), "text")
        .select(col("doc_id"), md5(col("text_redacted")).as("redacted_hash"),
          (length(col("text")) - length(col("text_redacted")))
            .as("chars_removed"))
        .orderBy("doc_id")
    }),

    // Canonicalized (5-token-prefix) dedup — groups with >1 member.
    "q38_dedup_prefix" -> ((s, dir) => {
      Dedup.byPrefix(docs(s, dir), "doc_id", "text", nTokens = 5)
        .filter(col("n_copies") > 1)
        .orderBy("prefix_hash")
    }),

    // Incremental minhash near-dup: docs 250+ arriving against the
    // 0-249 snapshot's SAVED band table — no old×old candidate is ever
    // generated, verification scans only candidate-touched docs. Work
    // scales with the delta, not the corpus.
    "q84_minhash_delta" -> ((s, dir) => {
      val d = docsSpread(s, dir)
      val snap = d.filter(col("doc_id") < 250)
      Dedup.minhashNearDupDelta(d.filter(col("doc_id") >= 250), snap,
          Dedup.minhashBands(snap, "doc_id", "text", 3, 12, 4),
          "doc_id", "text", shingleN = 3, k = 12, bands = 4,
          threshold = 0.5)
        .orderBy("a_id", "b_id")
    }),

    // Incremental-snapshot dedup: docs 100+ arriving against the 0-99
    // snapshot, keyed on the canonical 5-token prefix. Bloom-prefiltered
    // so neither side shuffles (negative probes skip the join entirely);
    // semantics are exactly the left-anti join the oracle runs.
    "q76_incremental_new" -> ((s, dir) => {
      val d = docs(s, dir)
      val key = md5(array_join(
        slice(graft.functions.TextFunctions.tokens(col("text")), 1, 5), " "))
      Dedup.newRowsBloom(d.filter(col("doc_id") >= 100),
          d.filter(col("doc_id") < 100), key)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // Corpus vocabulary with Zipf ranks + cumulative coverage (the
    // tokenizer-vocab sizing table). Vocab-sized global sort only; the
    // corpus-sized stage is one map-side-combined count.
    "q81_vocabulary" -> ((s, dir) => {
      TextAnalysis.vocabulary(docs(s, dir), "text")
        .orderBy("rank")
    }),

    // Tokenizer-apply: docs encoded as vocab-rank id arrays (q81's
    // vocabulary as a literal map, map-only transform — no corpus join).
    // Output hashed as a comma string so the compare certifies every id.
    "q83_encode_tokens" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.encodeTokens(d, "text",
          TextAnalysis.vocabulary(d, "text"))
        .select(col("doc_id"),
          concat_ws(",", transform(col("token_ids"), _.cast("string")))
            .as("ids"))
        .orderBy("doc_id")
    }),

    // BPE-apply with a PINNED merge table (the pinned-centroid device
    // applied to the tokenizer: a trained merge list is a driver-side
    // loop, not SQL-replicable, so the hash-checked row pins one that
    // obeys the training invariant — every merge's parts are chars or
    // earlier merges' outputs — and certifies the rank-greedy APPLY
    // end-to-end). The oracle replays the merges as sequential
    // lowest-rank-first REPLACE passes over a chr(31)-wrapped symbol
    // encoding, provably equal to the greedy loop under that invariant.
    // Output: the full token stream joined on chr(31) + its length, so
    // the hash certifies every token of every doc, not a summary.
    "q166_bpe_apply" -> ((s, dir) => {
      import s.implicits._
      val merges = pinnedBpeMerges.zipWithIndex
        .map { case ((l, r), i) => (i, l, r, l + r) }
        .toDF("rank", "left", "right", "merged")
      TextAnalysis.bpeApply(docs(s, dir), "doc_id", "text", merges)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_bpe_tokens"),
          concat_ws("\u001f", col("bpe_tokens")).as("toks"))
        .orderBy("doc_id")
    }),

    // Substring-level duplicate spans (Lee et al. suffix-array dedup as a
    // distributed hashed-gram pipeline): per doc, the number of maximal
    // char spans duplicated verbatim in >= 1 other document and the char
    // count they cover. Only span EXTENTS shuffle — never gram text.
    "q75_dup_spans" -> ((s, dir) => {
      Dedup.duplicateSpans(docsSpread(s, dir), "doc_id", "text", gramLen = 20)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_dup_spans"),
          sum(col("span_end") - col("span_start") + 1).cast("long")
            .as("dup_chars"))
        .orderBy("doc_id")
    }),

    // The rewrite half of q75 (Lee et al. substring dedup APPLIED):
    // every duplicated span cut from every document, surviving segments
    // re-joined in order. Output hashed so the compare certifies the
    // rewritten text without shipping it.
    "q105_remove_dup_spans" -> ((s, dir) => {
      Dedup.removeDuplicateSpans(docsSpread(s, dir), "doc_id", "text",
          gramLen = 20)
        .orderBy("doc_id")
    }),

    // Overlapping token-window chunking (RAG / context-window prep):
    // 32-token chunks, 8-token overlap (stride 24); redundant tails
    // dropped, coverage exact. Map-only — chunks are born in the scan.
    "q91_chunk_tokens" -> ((s, dir) => {
      TextAnalysis.chunkTokens(docs(s, dir), "doc_id", "text",
          chunkSize = 32, overlap = 8)
        .orderBy("doc_id", "chunk_id")
    }),

    // The dedup POLICY layer end to end: q35's near-dup pairs -> CC
    // clusters -> keep the best copy per cluster by alpha_ratio (tie:
    // lowest id). "Drop duplicates" in production means "keep the best
    // copy" — this is that operator; singletons are their own cluster.
    "q90_canonical_keep" -> ((s, dir) => {
      val pairs = Dedup.minhashNearDup(docsSpread(s, dir), "doc_id",
        "text", shingleN = 3, k = 12, bands = 4, threshold = 0.5)
      val scored = TextAnalysis.withQualitySignals(docs(s, dir), "text")
      Dedup.keepBestPerCluster(scored, pairs, "doc_id", "alpha_ratio")
        .orderBy("doc_id")
    }))

  // short-doc fallback branch mirrors the native word shingler: documents
  // with < n tokens collapse to one whole-doc shingle (without it, the
  // oracle would yield zero shingles for short docs and diverge)
  private val shingleCte =
    """WITH toks AS (SELECT doc_id, string_split_regex(text,'\s+') t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2],' ') s
      |       FROM toks, unnest(generate_series(1, len(t)-2)) u(i)
      |       WHERE len(t) >= 3
      |       UNION ALL
      |       SELECT doc_id, array_to_string(t,' ') FROM toks WHERE len(t) < 3)""".stripMargin

  /** Exact shingle-jaccard ground truth (the q36 SQL), shared by q36
    * (quadratic shared-shingle candidates) and q183 (prefix-filter
    * candidates) — two implementations, one oracle. */
  private val exactJaccardSql: String =
    shingleCte + """,
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) i
      |          FROM sh a JOIN sh b ON a.s=b.s AND a.doc_id<b.doc_id
      |          GROUP BY 1,2)
      |SELECT a_id, b_id, CAST(i AS DOUBLE)/(sa.n+sb.n-i) AS jaccard
      |FROM inter JOIN sizes sa ON a_id=sa.doc_id JOIN sizes sb ON b_id=sb.doc_id
      |WHERE CAST(i AS DOUBLE)/(sa.n+sb.n-i) >= 0.5
      |ORDER BY a_id, b_id""".stripMargin

  /** The MinHash+LSH pipeline CTEs up to the per-candidate-pair shingle
    * intersection — shared by q35/q84 (pair emission) and q90 (cluster
    * closure over the verified pairs). */
  private val minhashCoreCte =
    shingleCte + """,
      |sig AS (SELECT doc_id,
      | min(substr(md5('0_'||s),1,16)) m0, min(substr(md5('1_'||s),1,16)) m1,
      | min(substr(md5('2_'||s),1,16)) m2, min(substr(md5('3_'||s),1,16)) m3,
      | min(substr(md5('4_'||s),1,16)) m4, min(substr(md5('5_'||s),1,16)) m5,
      | min(substr(md5('6_'||s),1,16)) m6, min(substr(md5('7_'||s),1,16)) m7,
      | min(substr(md5('8_'||s),1,16)) m8, min(substr(md5('9_'||s),1,16)) m9,
      | min(substr(md5('10_'||s),1,16)) m10, min(substr(md5('11_'||s),1,16)) m11
      | FROM sh GROUP BY 1),
      |bands AS (
      | SELECT doc_id, 0 AS band, md5(m0||','||m1||','||m2) AS bkey FROM sig UNION ALL
      | SELECT doc_id, 1, md5(m3||','||m4||','||m5) FROM sig UNION ALL
      | SELECT doc_id, 2, md5(m6||','||m7||','||m8) FROM sig UNION ALL
      | SELECT doc_id, 3, md5(m9||','||m10||','||m11) FROM sig),
      |cand AS (SELECT DISTINCT x.doc_id a_id, y.doc_id b_id FROM bands x
      |         JOIN bands y ON x.band=y.band AND x.bkey=y.bkey AND x.doc_id<y.doc_id),
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |inter AS (SELECT a_id, b_id, count(*) i FROM cand
      |          JOIN sh sa ON sa.doc_id=a_id
      |          JOIN sh sb ON sb.doc_id=b_id AND sa.s=sb.s
      |          GROUP BY 1,2)""".stripMargin

  /** The complete MinHash+LSH oracle pipeline (q35); `extraWhere`
    * restricts the emitted pairs (q84's delta form — band construction,
    * candidates and jaccard values are identical by design, so one SQL
    * body serves both). */
  private def minhashSql(extraWhere: String): String =
    minhashCoreCte + s"""
      |SELECT a_id, b_id, CAST(i AS DOUBLE)/(sa.n+sb.n-i) AS jaccard
      |FROM inter JOIN sizes sa ON a_id=sa.doc_id JOIN sizes sb ON b_id=sb.doc_id
      |WHERE CAST(i AS DOUBLE)/(sa.n+sb.n-i) >= 0.5 $extraWhere
      |ORDER BY a_id, b_id""".stripMargin

  /** The q98 oracle's DCT basis: the SAME integers
    * [[graft.ext.Multimodal.phashBasis]] holds, rendered as a VALUES
    * list — generated from one source so Scala and SQL cannot drift. */
  private val phashBasisSql: String =
    graft.ext.Multimodal.phashBasis.zipWithIndex.flatMap {
      case (row, u) => row.zipWithIndex.map {
        case (w, x) => s"($u,$x,$w)"
      }
    }.mkString(", ")

  /** q75/q105 shared prefix: duplicated 20-grams → merged maximal spans
    * (the running-max-end island idiom; the second window's gid chain is
    * safe because `pos` is unique per doc — the NOTES sort-key rule). */
  private val dupSpanCte: String =
    """WITH g AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
      |             substr(text, CAST(i AS INTEGER), 20) AS gr
      |           FROM documents, unnest(generate_series(1, length(text)-19)) u(i)),
      |d AS (SELECT gr FROM g GROUP BY gr HAVING COUNT(DISTINCT doc_id) >= 2),
      |m AS (SELECT doc_id, pos FROM g JOIN d USING (gr)),
      |s AS (SELECT doc_id, pos,
      |       CASE WHEN pos > COALESCE(MAX(pos+19) OVER (PARTITION BY doc_id
      |              ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |            THEN 1 ELSE 0 END AS isnew
      |      FROM m),
      |sp AS (SELECT doc_id, pos, SUM(isnew) OVER (PARTITION BY doc_id
      |         ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
      |       FROM s),
      |spans AS (SELECT doc_id, gid, MIN(pos) AS st, MAX(pos)+19 AS en
      |          FROM sp GROUP BY 1, 2)""".stripMargin

  /** Shared banding/verify tail of the q98/q103 oracles — the SQL twin
    * of [[graft.ext.Dedup.hammingNearDup]]'s 4×16-bit pigeonhole
    * banding. Expects an upstream CTE `sg(doc_id, sig)`. */
  private val hammingBandTailSql: String =
    """ch AS (SELECT doc_id, cc.c, (sg.sig >> (cc.c*16)) & 65535 AS cv
      |       FROM sg, (SELECT UNNEST(generate_series(0,3)) AS c) cc),
      |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      |         FROM ch x JOIN ch y
      |           ON x.c = y.c AND x.cv = y.cv AND x.doc_id < y.doc_id)
      |SELECT cand.a_id, cand.b_id,
      |  CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming
      |FROM cand JOIN sg sa ON sa.doc_id = cand.a_id
      |          JOIN sg sb ON sb.doc_id = cand.b_id
      |WHERE bit_count(xor(sa.sig, sb.sig)) <= 3
      |ORDER BY a_id, b_id""".stripMargin

  /** q166's oracle: the pinned merges replayed as sequential
    * lowest-rank-first REPLACE passes over a chr(31)-wrapped symbol
    * encoding — every symbol travels as ␟sym␟, so the pattern
    * ␟L␟␟R␟ can only match a WHOLE adjacent symbol pair (never a
    * token prefix/suffix — the boundary classes a naive single-
    * separator encoding gets wrong), and SQL's left-to-right
    * non-overlapping REPLACE is exactly bpeApply's merge-every-
    * occurrence sweep. Equal to the greedy loop under the pinned
    * list's training invariant (see [[pinnedBpeMerges]]); the
    * driver's hash compare certifies it on the real corpus. */
  /** The DuckDB half of BPE TRAINING (q188): the Sennrich merge loop
    * UNROLLED to `k` CTE stages over the word-frequency table — stage i
    * counts overlapping adjacent symbol pairs weighted by word count,
    * elects the winner by (count desc, left, right), and applies it
    * with a left-to-right greedy list fold (list_reduce) that is
    * provably the same scan as bpeTrain's imperative merge (the fold's
    * acc-tail check merges exactly the non-overlapping occurrences the
    * i += 2 loop does; a merged symbol can never re-match as the left
    * partner because left+right is strictly longer than left). Word
    * table and pre-tokens replay the q166 device; tie-break parity
    * holds because the corpus is ASCII (UTF-16 compareTo ==
    * UTF-8 memcmp there). */
  private def bpeTrainSql(k: Int): String = {
    val head =
      """WITH words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents, unnest(regexp_extract_all(COALESCE(text, ''),
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) u(w)
        |  GROUP BY 1),
        |wt0 AS (SELECT n, list_transform(generate_series(1, length(w)),
        |    i -> w[i:i]) AS s FROM words)""".stripMargin
    val stages = (1 to k).map { i =>
      s""",
         |p$i AS (SELECT s[j] AS a, s[j + 1] AS b, SUM(n) AS c
         |  FROM wt${i - 1}, unnest(generate_series(1, len(s) - 1)) u(j)
         |  WHERE len(s) >= 2 GROUP BY 1, 2),
         |m$i AS (SELECT a, b FROM p$i ORDER BY c DESC, a, b LIMIT 1),
         |wt$i AS (SELECT n, list_reduce(list_transform(s, x -> [x]),
         |    (acc, x) -> CASE WHEN acc[-1] = a AND x[1] = b
         |      THEN list_append(acc[1:len(acc) - 1], a || b)
         |      ELSE list_concat(acc, x) END) AS s
         |  FROM wt${i - 1}, m$i)""".stripMargin
    }.mkString
    val tail = (1 to k).map(i =>
      s"""SELECT CAST(${i - 1} AS INTEGER) AS rank, a AS "left", """ +
        s"""b AS "right", a || b AS merged FROM m$i""")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY rank")
    head + stages + tail
  }

  private val bpeApplySql: String = {
    val S = "chr(31)"
    val enc = s"regexp_replace(w, '(.)', $S||'\\1'||$S, 'g')"
    val expr = pinnedBpeMerges.foldLeft(enc) { case (e, (l, r)) =>
      s"replace($e, $S||'$l'||$S||$S||'$r'||$S, $S||'$l$r'||$S)"
    }
    s"""SELECT doc_id,
       |  CAST((length(fenc) - length(replace(fenc, chr(31), ''))) / 2
       |    AS BIGINT) AS n_bpe_tokens,
       |  CASE WHEN fenc = '' THEN '' ELSE replace(
       |    substr(fenc, 2, length(fenc) - 2), chr(31)||chr(31), chr(31))
       |  END AS toks
       |FROM (
       |  SELECT doc_id, array_to_string(list_transform(
       |    regexp_extract_all(COALESCE(text, ''),
       |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'),
       |    w -> $expr), '') AS fenc
       |  FROM documents) enc_docs
       |ORDER BY doc_id""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    // same 4-token-chunk line reconstruction as the Spark side; the
    // frequent set (>2 distinct docs) becomes a one-row captured list
    // so list_filter replays the map-only rewrite in order
    "q169_boilerplate_lines" -> (rebuiltSqlCte(4) +
      """,
        |lines AS (SELECT doc_id, l
        |          FROM rebuilt, unnest(string_split(text, chr(10))) u(l)
        |          WHERE length(l) > 0),
        |freq AS (SELECT COALESCE(list(l), []) fl FROM
        |  (SELECT l FROM lines GROUP BY l HAVING COUNT(DISTINCT doc_id) > 2)),
        |rw AS (SELECT doc_id,
        |    list_filter(string_split(text, chr(10)),
        |      x -> length(x) > 0 AND NOT list_contains(fl, x)) kl,
        |    list_filter(string_split(text, chr(10)), x -> length(x) > 0) al
        |  FROM rebuilt, freq)
        |SELECT doc_id,
        |  COALESCE(array_to_string(kl, chr(10)), '') AS text,
        |  CAST(COALESCE(len(kl), 0) AS BIGINT) AS n_lines_kept,
        |  CAST(COALESCE(len(al), 0) - COALESCE(len(kl), 0) AS BIGINT)
        |    AS n_lines_dropped
        |FROM rw ORDER BY doc_id""".stripMargin),
    // shared polynomial boundary CTE; keep-first = row_number over (doc_id, pos)
    // per chunk value (the min(struct) mirror); reassembly is ordered
    // ''-joined concatenation
    "q179_cdc_dedup_keepfirst" -> (cdcSqlCte(8, 32) +
      """,
        |ch AS (SELECT doc_id, i, t[b2[i]+1 : b2[i+1]] AS chunk
        |  FROM bd, unnest(generate_series(1, len(b2) - 1)) u(i)
        |  WHERE length(t[b2[i]+1 : b2[i+1]]) > 0),
        |ranked AS (SELECT doc_id, i, chunk, row_number()
        |    OVER (PARTITION BY chunk ORDER BY doc_id, i) AS rn
        |  FROM ch),
        |kept AS (SELECT doc_id, string_agg(chunk, '' ORDER BY i) AS txt,
        |    COUNT(*) AS nk
        |  FROM ranked WHERE rn = 1 GROUP BY 1),
        |tot AS (SELECT doc_id, COUNT(*) AS nc FROM ch GROUP BY 1)
        |SELECT d.doc_id, COALESCE(k.txt, '') AS text,
        |  CAST(COALESCE(k.nk, 0) AS BIGINT) AS n_chunks_kept,
        |  CAST(COALESCE(t.nc, 0) - COALESCE(k.nk, 0) AS BIGINT)
        |    AS n_chunks_dropped
        |FROM documents d LEFT JOIN kept k USING (doc_id)
        |  LEFT JOIN tot t USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    // shared polynomial boundary CTE; dedup on md5(chunk); SUMs cast
    // back to BIGINT (DuckDB widens to HUGEINT)
    "q178_cdc_chunks" -> (cdcSqlCte(8, 32) +
      """,
        |ch AS (SELECT doc_id, c AS chunk
        |  FROM bd, unnest(list_transform(generate_series(1, len(b2) - 1),
        |    i -> t[b2[i]+1 : b2[i+1]])) u(c)
        |  WHERE length(c) > 0),
        |freq AS (SELECT md5(chunk) AS h, COUNT(DISTINCT doc_id) AS df
        |  FROM ch GROUP BY 1),
        |agg AS (SELECT doc_id, COUNT(*) AS nc,
        |    SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS ns,
        |    SUM(CASE WHEN df >= 2 THEN length(chunk) ELSE 0 END) AS sc
        |  FROM ch JOIN freq ON md5(ch.chunk) = freq.h GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(COALESCE(nc, 0) AS BIGINT) AS n_chunks,
        |  CAST(COALESCE(ns, 0) AS BIGINT) AS n_shared,
        |  CAST(COALESCE(sc, 0) AS BIGINT) AS shared_chars
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    // brute-force levenshtein over the same corpus-derived noisy
    // vocab: non-empty terms (extraction mirrors
    // TextAnalysis.vocabulary's whitespace split) UNION their 1-char
    // deletions — the deterministic OCR-noise fixture, replayed
    // identically, then the naive all-pairs distance scan
    "q184_edit_distance_pairs" ->
      """WITH toks AS (SELECT t FROM documents,
        |    unnest(string_split_regex(text,'\s+')) u(t)),
        |base AS (SELECT t AS term FROM toks WHERE length(t) > 0 GROUP BY 1),
        |dels AS (SELECT DISTINCT d AS term FROM base,
        |  unnest(list_transform(generate_series(1, length(term)), i ->
        |    substr(term, 1, i - 1) ||
        |    substr(term, i + 1, length(term)))) v(d)),
        |vocab AS (SELECT DISTINCT term FROM
        |  (SELECT term FROM base UNION ALL SELECT term FROM dels))
        |SELECT a.term AS a, b.term AS b,
        |  CAST(levenshtein(a.term, b.term) AS BIGINT) AS distance
        |FROM vocab a JOIN vocab b ON a.term < b.term
        |WHERE levenshtein(a.term, b.term) <= 1
        |ORDER BY a, b""".stripMargin,
    // rank window replay of the per-source quota
    "q185_source_quota" ->
      """WITH r AS (SELECT source, doc_id, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS quota_rank
        |  FROM documents)
        |SELECT source, quota_rank, doc_id, n_chars FROM r
        |WHERE quota_rank <= 10 ORDER BY source, quota_rank""".stripMargin,
    // same center-and-next-window pair extraction, canonicalized with
    // least/greatest; the PMI ratio is the identical left-associated
    // double expression over exact counts
    "q177_skipgram_pmi" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS t
        |  FROM documents),
        |pairs AS (SELECT least(t[i], t[i+j]) AS a,
        |    greatest(t[i], t[i+j]) AS b
        |  FROM toks,
        |    unnest(generate_series(1, len(t) - 1)) u(i),
        |    unnest(generate_series(1, 3)) w(j)
        |  WHERE i + j <= len(t)),
        |pc AS (SELECT a, b, COUNT(*) AS n_pairs FROM pairs GROUP BY 1, 2),
        |uni AS (SELECT tt AS term, COUNT(*) AS c
        |  FROM toks, unnest(t) z(tt) GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS n,
        |               (SELECT CAST(SUM(n_pairs) AS BIGINT) FROM pc) AS tp)
        |SELECT a, b, n_pairs,
        |  CAST(n_pairs AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |    / (CAST(tp AS DOUBLE) * CAST(ua.c AS DOUBLE)
        |       * CAST(ub.c AS DOUBLE)) AS pmi_ratio
        |FROM pc, tot
        |  JOIN uni ua ON pc.a = ua.term
        |  JOIN uni ub ON pc.b = ub.term
        |ORDER BY n_pairs DESC, a, b LIMIT 100""".stripMargin,
    // the same pinned weight/prior tables as VALUES lists; exact
    // decimal sums over integer counts, rank-1 by (score desc, label)
    "q172_classifier_apply" ->
      """WITH m(term, label, weight) AS (VALUES
        |  ('the','en',CAST('0.50' AS DECIMAL(18,9))),
        |  ('a','en',CAST('0.40' AS DECIMAL(18,9))),
        |  ('key','en',CAST('0.35' AS DECIMAL(18,9))),
        |  ('fast','en',CAST('0.30' AS DECIMAL(18,9))),
        |  ('data','es',CAST('0.50' AS DECIMAL(18,9))),
        |  ('row','es',CAST('0.40' AS DECIMAL(18,9))),
        |  ('table','es',CAST('0.35' AS DECIMAL(18,9))),
        |  ('scan','es',CAST('0.30' AS DECIMAL(18,9))),
        |  ('join','fr',CAST('0.50' AS DECIMAL(18,9))),
        |  ('merge','fr',CAST('0.40' AS DECIMAL(18,9))),
        |  ('sort','fr',CAST('0.35' AS DECIMAL(18,9))),
        |  ('agg','fr',CAST('0.30' AS DECIMAL(18,9)))),
        |p(label, prior) AS (VALUES
        |  ('en', CAST('-0.20' AS DECIMAL(18,9))),
        |  ('es', CAST('-0.25' AS DECIMAL(18,9))),
        |  ('fr', CAST('-0.30' AS DECIMAL(18,9)))),
        |toks AS (SELECT doc_id, t FROM documents,
        |         unnest(string_split_regex(text,'\s+')) u(t)
        |         WHERE length(t) > 0),
        |tc AS (SELECT doc_id, t, COUNT(*) n FROM toks GROUP BY 1, 2),
        |contrib AS (SELECT doc_id, label, SUM(n * weight) s
        |            FROM tc JOIN m ON tc.t = m.term GROUP BY 1, 2),
        |scored AS (SELECT d.doc_id, p.label,
        |             p.prior + COALESCE(c.s, 0) AS sc
        |           FROM documents d CROSS JOIN p
        |           LEFT JOIN contrib c
        |             ON c.doc_id = d.doc_id AND c.label = p.label),
        |ranked AS (SELECT doc_id, label, sc, row_number()
        |             OVER (PARTITION BY doc_id ORDER BY sc DESC, label) rn
        |           FROM scored)
        |SELECT doc_id, label,
        |  CAST(sc * 1000000000 AS BIGINT) AS score_e9
        |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // adjacent pairs via generate_series over the filtered token
    // array; continuation counts = per-side distinct-partner counts
    // over the COLLAPSED bigram table
    "q246_kn_counts" ->
      """WITH t AS (SELECT list_filter(string_split_regex(text,'\s+'),
        |    x -> length(x) > 0) AS tk FROM documents),
        |bg AS (SELECT tk[i] AS w1, tk[i+1] AS w2
        |  FROM t, unnest(generate_series(1, len(tk)-1)) u(i)
        |  WHERE len(tk) >= 2),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM bg GROUP BY 1, 2),
        |pre AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1plus_pre
        |  FROM c GROUP BY 1),
        |post AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1plus_post
        |  FROM c GROUP BY 1)
        |SELECT c.w1, c.w2, c.n, pre.n1plus_pre, post.n1plus_post
        |FROM c JOIN pre USING (w2) JOIN post USING (w1)
        |ORDER BY c.n DESC, c.w1, c.w2 LIMIT 200""".stripMargin,
    // same plant via chr(); nfc_normalize is DuckDB's NFC (same
    // Unicode spec as the JVM Normalizer), regex steps are plain
    // character classes with the 'g' flag
    "q262_unicode_clean" ->
      """WITH p AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0
        |       THEN text || ' cafe' || chr(769) || chr(7) || '  end'
        |       ELSE text END AS text
        | FROM documents),
        |c AS (SELECT doc_id, text,
        |  trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |    '[ \t]+', ' ', 'g')) AS clean_text
        | FROM p)
        |SELECT doc_id, length(text) AS n_before,
        |  length(clean_text) AS n_after, clean_text
        |FROM c ORDER BY doc_id""".stripMargin,
    // q246's count CTE + marginal instance totals; n·B·1e9 // (lt·rt)
    // in HUGEINT, CAST at the output edge
    "q259_collocations" ->
      """WITH t AS (SELECT list_filter(string_split_regex(text,'\s+'),
        |    x -> length(x) > 0) AS tk FROM documents),
        |bg AS (SELECT tk[i] AS w1, tk[i+1] AS w2
        |  FROM t, unnest(generate_series(1, len(tk)-1)) u(i)
        |  WHERE len(tk) >= 2),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM bg GROUP BY 1, 2),
        |lt AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS lt FROM c GROUP BY 1),
        |rt AS (SELECT w2, CAST(SUM(n) AS HUGEINT) AS rt FROM c GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS HUGEINT) AS b FROM c)
        |SELECT c.w1, c.w2, c.n,
        |  CAST((c.n * b * 1000000000) // (lt.lt * rt.rt) AS BIGINT)
        |    AS lift_e9
        |FROM c JOIN lt USING (w1) JOIN rt USING (w2), tot
        |WHERE c.n >= 2
        |ORDER BY lift_e9 DESC, c.w1, c.w2 LIMIT 200""".stripMargin,
    // q246's count CTEs + the closed-form rational
    // ((4n-3)B + 3 post pre) / (4 c1 B) as HUGEINT floor arithmetic,
    // CAST to BIGINT at the output edge (the q217 lint class)
    "q249_kn_probabilities" ->
      """WITH t AS (SELECT list_filter(string_split_regex(text,'\s+'),
        |    x -> length(x) > 0) AS tk FROM documents),
        |bg AS (SELECT tk[i] AS w1, tk[i+1] AS w2
        |  FROM t, unnest(generate_series(1, len(tk)-1)) u(i)
        |  WHERE len(tk) >= 2),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(COUNT(*) AS HUGEINT) AS post FROM c GROUP BY 1),
        |cont AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS pre
        |  FROM c GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b FROM c)
        |SELECT c.w1, c.w2, c.n,
        |  CAST((1000000000 * ((4*c.n - 3)*b + 3*ctx.post*cont.pre))
        |       // (4*ctx.c1*b) AS BIGINT) AS p_e9
        |FROM c JOIN ctx USING (w1) JOIN cont USING (w2), tot
        |ORDER BY c.n DESC, c.w1, c.w2 LIMIT 200""".stripMargin,
    // q249's count CTEs + the count-of-counts discount: D = n1/(n1+2n2)
    // as exact integers riding the same 1-row cross join as B; the
    // two-stage floor (pc then p) mirrors the Scala composition, with
    // the M=0 degenerate falling back to the unsmoothed ML estimate
    "q273_kn_estimated_discount" ->
      """WITH t AS (SELECT list_filter(string_split_regex(text,'\s+'),
        |    x -> length(x) > 0) AS tk FROM documents),
        |bg AS (SELECT tk[i] AS w1, tk[i+1] AS w2
        |  FROM t, unnest(generate_series(1, len(tk)-1)) u(i)
        |  WHERE len(tk) >= 2),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(COUNT(*) AS HUGEINT) AS post FROM c GROUP BY 1),
        |cont AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS pre
        |  FROM c GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n1,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n2 FROM c),
        |w AS (SELECT c.w1, c.w2, c.n, ctx.c1, ctx.post, cont.pre,
        |    b, n1, (n1 + 2*n2) AS m,
        |    (pre * 1000000000) // b AS pc
        |  FROM c JOIN ctx USING (w1) JOIN cont USING (w2), tot)
        |SELECT w1, w2, n,
        |  CAST(CASE WHEN m > 0 THEN (n1 * 1000000000) // m
        |       ELSE 0 END AS BIGINT) AS d_e9,
        |  CAST(CASE WHEN m > 0
        |       THEN ((n*m - n1) * 1000000000 + n1*post*pc)
        |            // (c1*m)
        |       ELSE (n * 1000000000) // c1 END AS BIGINT) AS p_e9
        |FROM w ORDER BY n DESC, w1, w2 LIMIT 200""".stripMargin,
    // the trigram count CTEs + the two-stage floor-e9 composition
    // (p2 from the continuation table, p3 through the FLOORED p2 —
    // both sides compose through the same intermediate, so the
    // parity is exact by construction); HUGEINT arithmetic CAST to
    // BIGINT at the output edge (the q217 lint class)
    "q266_kn_trigram_probabilities" ->
      """WITH t AS (SELECT list_filter(string_split_regex(text,'\s+'),
        |    x -> length(x) > 0) AS tk FROM documents),
        |tg AS (SELECT tk[i] AS w1, tk[i+1] AS w2, tk[i+2] AS w3
        |  FROM t, unnest(generate_series(1, len(tk)-2)) u(i)
        |  WHERE len(tk) >= 3),
        |c AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tg GROUP BY 1, 2, 3),
        |ctx AS (SELECT w1, w2, CAST(SUM(n) AS HUGEINT) AS c12,
        |    CAST(COUNT(*) AS HUGEINT) AS t12 FROM c GROUP BY 1, 2),
        |cont AS (SELECT w2, w3, CAST(COUNT(*) AS HUGEINT) AS pre23
        |  FROM c GROUP BY 1, 2),
        |mid AS (SELECT w2, CAST(SUM(pre23) AS HUGEINT) AS nmid2,
        |    CAST(COUNT(*) AS HUGEINT) AS post2 FROM cont GROUP BY 1),
        |pre AS (SELECT w3, CAST(COUNT(*) AS HUGEINT) AS pre3
        |  FROM cont GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b FROM cont),
        |p2 AS (SELECT c.w1, c.w2, c.w3, c.n, ctx.c12, ctx.t12,
        |    CAST((1000000000 * ((4*cont.pre23 - 3)*b
        |                        + 3*mid.post2*pre.pre3))
        |         // (4*mid.nmid2*b) AS BIGINT) AS p2_e9
        |  FROM c JOIN ctx USING (w1, w2) JOIN cont USING (w2, w3)
        |    JOIN mid USING (w2) JOIN pre USING (w3), tot)
        |SELECT w1, w2, w3, n, p2_e9,
        |  CAST(((4*CAST(n AS HUGEINT) - 3)*1000000000
        |        + 3*t12*p2_e9) // (4*c12) AS BIGINT) AS p3_e9
        |FROM p2 ORDER BY n DESC, w1, w2, w3 LIMIT 200""".stripMargin,
    // q266's trigram CTEs + per-level count-of-counts discounts; the
    // three-stage floor (pc -> p2 -> p3) mirrors the Scala
    // composition, degenerate levels falling back to that level's
    // ML estimate
    "q274_kn_trigram_estimated_discount" ->
      """WITH t AS (SELECT list_filter(string_split_regex(text,'\s+'),
        |    x -> length(x) > 0) AS tk FROM documents),
        |tg AS (SELECT tk[i] AS w1, tk[i+1] AS w2, tk[i+2] AS w3
        |  FROM t, unnest(generate_series(1, len(tk)-2)) u(i)
        |  WHERE len(tk) >= 3),
        |c AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tg GROUP BY 1, 2, 3),
        |ctx AS (SELECT w1, w2, CAST(SUM(n) AS HUGEINT) AS c12,
        |    CAST(COUNT(*) AS HUGEINT) AS t12 FROM c GROUP BY 1, 2),
        |cont AS (SELECT w2, w3, CAST(COUNT(*) AS HUGEINT) AS pre23
        |  FROM c GROUP BY 1, 2),
        |mid AS (SELECT w2, CAST(SUM(pre23) AS HUGEINT) AS nmid2,
        |    CAST(COUNT(*) AS HUGEINT) AS post2 FROM cont GROUP BY 1),
        |pre AS (SELECT w3, CAST(COUNT(*) AS HUGEINT) AS pre3
        |  FROM cont GROUP BY 1),
        |tcc AS (SELECT
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS t1,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS t2 FROM c),
        |ccc AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b,
        |    CAST(SUM(CASE WHEN pre23 = 1 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS cc1,
        |    CAST(SUM(CASE WHEN pre23 = 2 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS cc2 FROM cont),
        |w AS (SELECT c.w1, c.w2, c.w3, c.n, ctx.c12, ctx.t12,
        |    cont.pre23, mid.nmid2, mid.post2, b, t1, cc1,
        |    (t1 + 2*t2) AS m3, (cc1 + 2*cc2) AS m2,
        |    (pre.pre3 * 1000000000) // b AS pc
        |  FROM c JOIN ctx USING (w1, w2) JOIN cont USING (w2, w3)
        |    JOIN mid USING (w2) JOIN pre USING (w3), tcc, ccc),
        |p2s AS (SELECT *,
        |    CASE WHEN m2 > 0
        |         THEN ((pre23*m2 - cc1) * 1000000000
        |               + cc1*post2*pc) // (nmid2*m2)
        |         ELSE (pre23 * 1000000000) // nmid2 END AS p2
        |  FROM w)
        |SELECT w1, w2, w3, n,
        |  CAST(CASE WHEN m3 > 0 THEN (t1 * 1000000000) // m3
        |       ELSE 0 END AS BIGINT) AS d3_e9,
        |  CAST(CASE WHEN m2 > 0 THEN (cc1 * 1000000000) // m2
        |       ELSE 0 END AS BIGINT) AS d2_e9,
        |  CAST(p2 AS BIGINT) AS p2_e9,
        |  CAST(CASE WHEN m3 > 0
        |       THEN ((n*m3 - t1) * 1000000000 + t1*t12*p2)
        |            // (c12*m3)
        |       ELSE (n * 1000000000) // c12 END AS BIGINT) AS p3_e9
        |FROM p2s ORDER BY n DESC, w1, w2, w3 LIMIT 200""".stripMargin,
    // q250's scoring CTEs with q273's estimated-D model: the seen
    // branch is the two-stage (pc -> p) floor composition verbatim,
    // the unseen-mass branch drops the (n*m - n1) numerator, both
    // through the SAME floored pc; the M=0 degenerate scores zero
    // interpolation mass (strict ML)
    "q275_kn_estd_doc_score" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |bg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2
        |  FROM t, unnest(generate_series(1, len(tk)-1)) u(i)
        |  WHERE len(tk) >= 2),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM bg WHERE lang = 'en' GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(COUNT(*) AS HUGEINT) AS post FROM c GROUP BY 1),
        |cont AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS pre
        |  FROM c GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n1,
        |    (CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |     + 2*CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END)
        |       AS HUGEINT)) AS m FROM c),
        |p AS (SELECT c.w1, c.w2,
        |    CASE WHEN m > 0
        |         THEN CAST(((c.n*m - n1) * 1000000000
        |              + n1*ctx.post*((cont.pre * 1000000000) // b))
        |              // (ctx.c1*m) AS BIGINT)
        |         ELSE CAST((c.n * 1000000000) // ctx.c1 AS BIGINT)
        |         END AS p_e9
        |  FROM c JOIN ctx USING (w1) JOIN cont USING (w2), tot),
        |sc AS (SELECT bg.doc_id,
        |    COALESCE(p.p_e9,
        |      CASE WHEN ctx.c1 IS NOT NULL AND cont.pre IS NOT NULL
        |           THEN CASE WHEN m > 0
        |                THEN CAST((n1*ctx.post
        |                     *((cont.pre*1000000000) // b))
        |                     // (ctx.c1*m) AS BIGINT)
        |                ELSE 0 END
        |           WHEN ctx.c1 IS NULL AND cont.pre IS NOT NULL
        |           THEN CAST((cont.pre*1000000000) // b AS BIGINT)
        |           ELSE 0 END) AS pp
        |  FROM bg
        |  LEFT JOIN p ON bg.w1 = p.w1 AND bg.w2 = p.w2
        |  LEFT JOIN ctx ON bg.w1 = ctx.w1
        |  LEFT JOIN cont ON bg.w2 = cont.w2, tot),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(pp) AS BIGINT) AS sum_p_e9 FROM sc GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(agg.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(agg.sum_p_e9, 0) AS sum_p_e9,
        |  CAST(CASE WHEN agg.n_bigrams > 0
        |       THEN agg.sum_p_e9 // agg.n_bigrams
        |       ELSE 0 END AS BIGINT) AS mean_p_e9
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // q267's scoring CTEs with q274's per-level estimated discounts:
    // the cascade composes through the SAME floored pc -> p2 -> p3
    // intermediates as the model, unseen-mass branches dropping the
    // seen numerator at each level; M=0 degenerates score zero
    // interpolation mass
    "q276_kn_trigram_estd_doc_score" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |tg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2,
        |    tk[i+2] AS w3
        |  FROM t, unnest(generate_series(1, len(tk)-2)) u(i)
        |  WHERE len(tk) >= 3),
        |c AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tg WHERE lang = 'en' GROUP BY 1, 2, 3),
        |ctx AS (SELECT w1, w2, CAST(SUM(n) AS HUGEINT) AS c12,
        |    CAST(COUNT(*) AS HUGEINT) AS t12 FROM c GROUP BY 1, 2),
        |cont AS (SELECT w2, w3, CAST(COUNT(*) AS HUGEINT) AS pre23
        |  FROM c GROUP BY 1, 2),
        |mid AS (SELECT w2, CAST(SUM(pre23) AS HUGEINT) AS nmid2,
        |    CAST(COUNT(*) AS HUGEINT) AS post2 FROM cont GROUP BY 1),
        |pre AS (SELECT w3, CAST(COUNT(*) AS HUGEINT) AS pre3
        |  FROM cont GROUP BY 1),
        |tcc AS (SELECT
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS t1,
        |    (CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |     + 2*CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END)
        |       AS HUGEINT)) AS m3 FROM c),
        |ccc AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b,
        |    CAST(SUM(CASE WHEN pre23 = 1 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS cc1,
        |    (CAST(SUM(CASE WHEN pre23 = 1 THEN 1 ELSE 0 END)
        |      AS HUGEINT)
        |     + 2*CAST(SUM(CASE WHEN pre23 = 2 THEN 1 ELSE 0 END)
        |       AS HUGEINT)) AS m2 FROM cont),
        |j AS (SELECT tg.doc_id, c.n, ctx.c12, ctx.t12, cont.pre23,
        |    mid.nmid2, mid.post2, pre.pre3, b, cc1, m2, t1, m3,
        |    (pre.pre3 * 1000000000) // b AS pc
        |  FROM tg
        |  LEFT JOIN c ON tg.w1 = c.w1 AND tg.w2 = c.w2
        |    AND tg.w3 = c.w3
        |  LEFT JOIN ctx ON tg.w1 = ctx.w1 AND tg.w2 = ctx.w2
        |  LEFT JOIN cont ON tg.w2 = cont.w2 AND tg.w3 = cont.w3
        |  LEFT JOIN mid ON tg.w2 = mid.w2
        |  LEFT JOIN pre ON tg.w3 = pre.w3, tcc, ccc),
        |p2s AS (SELECT *,
        |    CASE WHEN pre23 IS NOT NULL
        |         THEN CASE WHEN m2 > 0
        |              THEN CAST(((pre23*m2 - cc1) * 1000000000
        |                   + cc1*post2*pc) // (nmid2*m2) AS BIGINT)
        |              ELSE CAST((pre23 * 1000000000) // nmid2
        |                   AS BIGINT) END
        |         WHEN nmid2 IS NOT NULL AND pre3 IS NOT NULL
        |         THEN CASE WHEN m2 > 0
        |              THEN CAST((cc1*post2*pc) // (nmid2*m2)
        |                   AS BIGINT)
        |              ELSE 0 END
        |         WHEN pre3 IS NOT NULL THEN CAST(pc AS BIGINT)
        |         ELSE 0 END AS p2
        |  FROM j),
        |sc AS (SELECT doc_id,
        |    CASE WHEN n IS NOT NULL
        |         THEN CASE WHEN m3 > 0
        |              THEN CAST(((n*m3 - t1) * 1000000000
        |                   + t1*t12*p2) // (c12*m3) AS BIGINT)
        |              ELSE CAST((n * 1000000000) // c12 AS BIGINT)
        |              END
        |         WHEN c12 IS NOT NULL
        |         THEN CASE WHEN m3 > 0
        |              THEN CAST((t1*t12*p2) // (c12*m3) AS BIGINT)
        |              ELSE 0 END
        |         ELSE p2 END AS pp
        |  FROM p2s),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        |    CAST(SUM(pp) AS BIGINT) AS sum_p_e9 FROM sc GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(agg.n_trigrams, 0) AS n_trigrams,
        |  COALESCE(agg.sum_p_e9, 0) AS sum_p_e9,
        |  CAST(CASE WHEN agg.n_trigrams > 0
        |       THEN agg.sum_p_e9 // agg.n_trigrams
        |       ELSE 0 END AS BIGINT) AS mean_p_e9
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // q249's count CTEs + Chen-Goodman's three discounts from the
    // count-of-counts n1..n4 (numerators GREATEST-clipped at 0 BEFORE
    // the division so floor = truncate on both engines), per-context
    // type counts k1/k2/k3p, the discount picked by CASE on the
    // count; empty bucket (n2=0 / n3=0) falls back to d1, M=0 to the
    // all-zero-discount ML model
    "q277_kn_modified" ->
      """WITH t AS (SELECT lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |bg AS (SELECT lang, tk[i] AS w1, tk[i+1] AS w2
        |  FROM t, unnest(generate_series(1, len(tk)-1)) u(i)
        |  WHERE len(tk) >= 2),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM bg WHERE lang = 'en' GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k1,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k2,
        |    CAST(SUM(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k3p FROM c GROUP BY 1),
        |cont AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS pre
        |  FROM c GROUP BY 1),
        |cc AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n1,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n2,
        |    CAST(SUM(CASE WHEN n = 3 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n3,
        |    CAST(SUM(CASE WHEN n = 4 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n4 FROM c),
        |d0 AS (SELECT b, n1, n2, n3, n4, (n1 + 2*n2) AS m,
        |    CASE WHEN (n1 + 2*n2) > 0
        |         THEN (n1 * 1000000000) // (n1 + 2*n2)
        |         ELSE 0 END AS d1 FROM cc),
        |dd AS (SELECT b, m, d1,
        |    CASE WHEN m > 0 AND n2 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                2*n2*m - 3*n1*n3) * 1000000000) // (n2*m)
        |         ELSE d1 END AS d2,
        |    CASE WHEN m > 0 AND n3 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                3*n3*m - 4*n1*n4) * 1000000000) // (n3*m)
        |         ELSE d1 END AS d3 FROM d0)
        |SELECT c.w1, c.w2, c.n,
        |  CAST(d1 AS BIGINT) AS d1_e9, CAST(d2 AS BIGINT) AS d2_e9,
        |  CAST(d3 AS BIGINT) AS d3_e9,
        |  CAST(((CAST(c.n AS HUGEINT) * 1000000000
        |         - CASE WHEN c.n = 1 THEN d1 WHEN c.n = 2 THEN d2
        |           ELSE d3 END) * b
        |        + (d1*ctx.k1 + d2*ctx.k2 + d3*ctx.k3p) * cont.pre)
        |       // (ctx.c1 * b) AS BIGINT) AS p_e9
        |FROM c JOIN ctx USING (w1) JOIN cont USING (w2), dd
        |ORDER BY c.n, c.w1, c.w2 LIMIT 200""".stripMargin,
    // q266's trigram CTEs + the three-discount estimator at BOTH
    // levels (top from t1..t4, continuation from cc1..cc4 with the
    // discount indexed by pre23), per-context gammas, the two-stage
    // floor through the pre-floored discounts
    "q278_kn_trigram_modified" ->
      """WITH t AS (SELECT lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |tg AS (SELECT lang, tk[i] AS w1, tk[i+1] AS w2, tk[i+2] AS w3
        |  FROM t, unnest(generate_series(1, len(tk)-2)) u(i)
        |  WHERE len(tk) >= 3),
        |c AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tg WHERE lang = 'en' GROUP BY 1, 2, 3),
        |ctx AS (SELECT w1, w2, CAST(SUM(n) AS HUGEINT) AS c12,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k1,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k2,
        |    CAST(SUM(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k3p FROM c GROUP BY 1, 2),
        |cont AS (SELECT w2, w3, CAST(COUNT(*) AS HUGEINT) AS pre23
        |  FROM c GROUP BY 1, 2),
        |mid AS (SELECT w2, CAST(SUM(pre23) AS HUGEINT) AS nmid2,
        |    CAST(SUM(CASE WHEN pre23 = 1 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS l1,
        |    CAST(SUM(CASE WHEN pre23 = 2 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS l2,
        |    CAST(SUM(CASE WHEN pre23 >= 3 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS l3p FROM cont GROUP BY 1),
        |pre AS (SELECT w3, CAST(COUNT(*) AS HUGEINT) AS pre3
        |  FROM cont GROUP BY 1),
        |tcc AS (SELECT
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS t1,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS t2,
        |    CAST(SUM(CASE WHEN n = 3 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS t3,
        |    CAST(SUM(CASE WHEN n = 4 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS t4 FROM c),
        |ccc AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b,
        |    CAST(SUM(CASE WHEN pre23 = 1 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS cc1,
        |    CAST(SUM(CASE WHEN pre23 = 2 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS cc2,
        |    CAST(SUM(CASE WHEN pre23 = 3 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS cc3,
        |    CAST(SUM(CASE WHEN pre23 = 4 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS cc4 FROM cont),
        |d30 AS (SELECT t1, t2, t3, t4, (t1 + 2*t2) AS m3,
        |    CASE WHEN (t1 + 2*t2) > 0
        |         THEN (t1 * 1000000000) // (t1 + 2*t2)
        |         ELSE 0 END AS d31 FROM tcc),
        |d3s AS (SELECT m3, d31,
        |    CASE WHEN m3 > 0 AND t2 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                2*t2*m3 - 3*t1*t3) * 1000000000) // (t2*m3)
        |         ELSE d31 END AS d32,
        |    CASE WHEN m3 > 0 AND t3 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                3*t3*m3 - 4*t1*t4) * 1000000000) // (t3*m3)
        |         ELSE d31 END AS d33 FROM d30),
        |d20 AS (SELECT b, cc1, cc2, cc3, cc4, (cc1 + 2*cc2) AS m2,
        |    CASE WHEN (cc1 + 2*cc2) > 0
        |         THEN (cc1 * 1000000000) // (cc1 + 2*cc2)
        |         ELSE 0 END AS d21 FROM ccc),
        |d2s AS (SELECT b, m2, d21,
        |    CASE WHEN m2 > 0 AND cc2 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                2*cc2*m2 - 3*cc1*cc3) * 1000000000)
        |              // (cc2*m2)
        |         ELSE d21 END AS d22,
        |    CASE WHEN m2 > 0 AND cc3 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                3*cc3*m2 - 4*cc1*cc4) * 1000000000)
        |              // (cc3*m2)
        |         ELSE d21 END AS d23 FROM d20),
        |p2c AS (SELECT c.w1, c.w2, c.w3, c.n, ctx.c12, ctx.k1,
        |    ctx.k2, ctx.k3p, d31, d32, d33, d21, d22, d23,
        |    ((cont.pre23 * 1000000000
        |      - CASE WHEN cont.pre23 = 1 THEN d21
        |        WHEN cont.pre23 = 2 THEN d22 ELSE d23 END) * b
        |     + (d21*mid.l1 + d22*mid.l2 + d23*mid.l3p) * pre.pre3)
        |    // (mid.nmid2 * b) AS p2
        |  FROM c JOIN ctx USING (w1, w2) JOIN cont USING (w2, w3)
        |    JOIN mid USING (w2) JOIN pre USING (w3), d3s, d2s),
        |fin AS (SELECT w1, w2, w3, n,
        |  CAST(d31 AS BIGINT) AS d31_e9, CAST(d32 AS BIGINT) AS d32_e9,
        |  CAST(d33 AS BIGINT) AS d33_e9, CAST(d21 AS BIGINT) AS d21_e9,
        |  CAST(d22 AS BIGINT) AS d22_e9, CAST(d23 AS BIGINT) AS d23_e9,
        |  CAST(p2 AS BIGINT) AS p2_e9,
        |  CAST(((CAST(n AS HUGEINT) * 1000000000
        |         - CASE WHEN n = 1 THEN d31 WHEN n = 2 THEN d32
        |           ELSE d33 END) * 1000000000
        |        + (d31*k1 + d32*k2 + d33*k3p) * p2)
        |       // (c12 * 1000000000) AS BIGINT) AS p3_e9,
        |  row_number() OVER (PARTITION BY LEAST(n, 3)
        |    ORDER BY n DESC, w1, w2, w3) AS rk
        |  FROM p2c)
        |SELECT w1, w2, w3, n, d31_e9, d32_e9, d33_e9, d21_e9,
        |  d22_e9, d23_e9, p2_e9, p3_e9
        |FROM fin WHERE rk <= 67
        |ORDER BY n DESC, w1, w2, w3""".stripMargin,
    // q297's tertile CTEs in front of the q197 chain: the rank-based
    // keep (tl <= 2 per language) replaces the threshold lmkeep —
    // the CCNet selection, then the pipeline verbatim
    "q301_ccnet_selected_pipeline" -> (rebuiltSqlCte(4) +
      """,
        |lt AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |lbg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2
        |  FROM lt, unnest(generate_series(1, len(tk)-1)) u(i)
        |  WHERE len(tk) >= 2),
        |lc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lbg WHERE lang = 'en' GROUP BY 1, 2),
        |lctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(COUNT(*) AS HUGEINT) AS post FROM lc GROUP BY 1),
        |lcont AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS pre
        |  FROM lc GROUP BY 1),
        |ltot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b FROM lc),
        |lp AS (SELECT lc.w1, lc.w2,
        |    CAST((1000000000 * ((4*lc.n - 3)*b + 3*lctx.post*lcont.pre))
        |         // (4*lctx.c1*b) AS BIGINT) AS p_e9
        |  FROM lc JOIN lctx USING (w1) JOIN lcont USING (w2), ltot),
        |lsc AS (SELECT lbg.doc_id,
        |    COALESCE(lp.p_e9,
        |      CASE WHEN lctx.c1 IS NOT NULL AND lcont.pre IS NOT NULL
        |           THEN CAST((CAST(1000000000 AS HUGEINT) * 3
        |                      * lctx.post * lcont.pre)
        |                     // (4*lctx.c1*b) AS BIGINT)
        |           WHEN lctx.c1 IS NULL AND lcont.pre IS NOT NULL
        |           THEN CAST((CAST(1000000000 AS HUGEINT) * lcont.pre)
        |                     // b AS BIGINT)
        |           ELSE 0 END) AS pp
        |  FROM lbg
        |  LEFT JOIN lp ON lbg.w1 = lp.w1 AND lbg.w2 = lp.w2
        |  LEFT JOIN lctx ON lbg.w1 = lctx.w1
        |  LEFT JOIN lcont ON lbg.w2 = lcont.w2, ltot),
        |lagg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(pp) AS BIGINT) AS sp FROM lsc GROUP BY 1),
        |lm AS (SELECT d.doc_id,
        |    CAST(CASE WHEN lagg.nb > 0 THEN lagg.sp // lagg.nb
        |         ELSE 0 END AS BIGINT) AS mean_p_e9
        |  FROM (SELECT DISTINCT doc_id FROM documents) d
        |  LEFT JOIN lagg USING (doc_id)),
        |lbkt AS (SELECT dd.doc_id,
        |    ntile(3) OVER (PARTITION BY dd.lang
        |      ORDER BY lm.mean_p_e9 DESC, dd.doc_id) AS tl
        |  FROM (SELECT DISTINCT doc_id, lang FROM documents) dd
        |  JOIN lm USING (doc_id)),
        |q AS (SELECT d.doc_id, d.source, r.text
        |  FROM documents d JOIN rebuilt r USING (doc_id)
        |  WHERE d.doc_id IN (SELECT doc_id FROM lbkt WHERE tl <= 2)
        |    AND len(string_split_regex(d.text,'\s+')) >= 20
        |    AND (CASE WHEN length(d.text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(d.text,'[^A-Za-z]','','g')) AS DOUBLE)
        |              / CAST(length(d.text) AS DOUBLE) END) >= 0.805),
        |lines AS (SELECT doc_id, l
        |  FROM q, unnest(string_split(text, chr(10))) u(l)
        |  WHERE length(l) > 0),
        |freq AS (SELECT COALESCE(list(l), []) fl FROM
        |  (SELECT l FROM lines GROUP BY l HAVING COUNT(DISTINCT doc_id) > 2)),
        |bp AS (SELECT doc_id,
        |    list_filter(string_split(text, chr(10)),
        |      x -> length(x) > 0 AND NOT list_contains(fl, x)) kl
        |  FROM q, freq),
        |ex AS (SELECT doc_id, kl[i] AS l, i
        |  FROM bp, unnest(generate_series(1, len(kl))) u(i)),
        |rk AS (SELECT doc_id, l, i,
        |    row_number() OVER (PARTITION BY l ORDER BY doc_id, i) rn
        |  FROM ex),
        |cln AS (SELECT q.doc_id,
        |    length(COALESCE(k.txt, '')) AS n_chars_clean
        |  FROM q LEFT JOIN
        |    (SELECT doc_id, string_agg(l, chr(10) ORDER BY i) txt
        |     FROM rk WHERE rn = 1 GROUP BY 1) k USING (doc_id)),
        |ftoks AS (SELECT doc_id, string_split_regex(text,'\s+') t
        |  FROM documents WHERE doc_id IN (SELECT doc_id FROM q)),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7],' ') s
        |       FROM ftoks, unnest(generate_series(1, len(t)-7)) u(i)
        |       WHERE len(t) >= 8
        |       UNION ALL
        |       SELECT doc_id, array_to_string(t,' ') FROM ftoks
        |       WHERE len(t) < 8),
        |fp AS (SELECT doc_id, min(md5(s)) AS f FROM sh GROUP BY 1),
        |cl AS (SELECT fp.doc_id, MIN(f2.doc_id) AS cluster
        |  FROM fp JOIN fp f2 USING (f) GROUP BY 1),
        |qt AS (SELECT c.doc_id,
        |    CAST(row_number() OVER (PARTITION BY q.source
        |      ORDER BY c.n_chars_clean DESC, c.doc_id) AS BIGINT)
        |      AS quota_rank
        |  FROM cln c JOIN q USING (doc_id)),
        |kept AS (SELECT doc_id, quota_rank FROM qt WHERE quota_rank <= 10)
        |SELECT q.doc_id, q.source, c.n_chars_clean, kept.quota_rank,
        |  cl.cluster, CASE
        |  WHEN CAST(concat('0x', substr(md5(concat('cp1','#',CAST(cl.cluster AS VARCHAR))),1,8)) AS BIGINT) < 3435973836 THEN 'train'
        |  WHEN CAST(concat('0x', substr(md5(concat('cp1','#',CAST(cl.cluster AS VARCHAR))),1,8)) AS BIGINT) < 3865470565 THEN 'val'
        |  ELSE 'test' END AS split
        |FROM q JOIN cln c USING (doc_id) JOIN cl USING (doc_id)
        |LEFT JOIN kept USING (doc_id)
        |ORDER BY q.doc_id""".stripMargin),
    // q290's mapped-instance scoring frame with q283's three-discount
    // CTEs over the FOLDED count table — the composed serve
    "q299_kn_unk_mkn_doc_score" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |u AS (SELECT tk[i] AS w, COUNT(*) AS n
        |  FROM t, unnest(generate_series(1, len(tk))) q(i)
        |  WHERE lang = 'en' GROUP BY 1),
        |voc AS (SELECT w FROM u ORDER BY n DESC, w LIMIT 24),
        |bg0 AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2
        |  FROM t, unnest(generate_series(1, len(tk)-1)) q(i)
        |  WHERE len(tk) >= 2),
        |bg AS (SELECT doc_id, lang,
        |    CASE WHEN w1 IN (SELECT w FROM voc) THEN w1
        |         ELSE '<unk>' END AS w1,
        |    CASE WHEN w2 IN (SELECT w FROM voc) THEN w2
        |         ELSE '<unk>' END AS w2
        |  FROM bg0),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM bg WHERE lang = 'en' GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k1,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k2,
        |    CAST(SUM(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k3p FROM c GROUP BY 1),
        |cont AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS pre
        |  FROM c GROUP BY 1),
        |cc AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n1,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n2,
        |    CAST(SUM(CASE WHEN n = 3 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n3,
        |    CAST(SUM(CASE WHEN n = 4 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n4 FROM c),
        |d0 AS (SELECT b, n1, n2, n3, n4, (n1 + 2*n2) AS m,
        |    CASE WHEN (n1 + 2*n2) > 0
        |         THEN (n1 * 1000000000) // (n1 + 2*n2)
        |         ELSE 0 END AS d1 FROM cc),
        |dd AS (SELECT b, m, d1,
        |    CASE WHEN m > 0 AND n2 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                2*n2*m - 3*n1*n3) * 1000000000) // (n2*m)
        |         ELSE d1 END AS d2,
        |    CASE WHEN m > 0 AND n3 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                3*n3*m - 4*n1*n4) * 1000000000) // (n3*m)
        |         ELSE d1 END AS d3 FROM d0),
        |p AS (SELECT c.w1, c.w2,
        |    CAST(((CAST(c.n AS HUGEINT) * 1000000000
        |           - CASE WHEN c.n = 1 THEN d1 WHEN c.n = 2 THEN d2
        |             ELSE d3 END) * b
        |          + (d1*ctx.k1 + d2*ctx.k2 + d3*ctx.k3p)
        |            * cont.pre)
        |         // (ctx.c1 * b) AS BIGINT) AS p_e9
        |  FROM c JOIN ctx USING (w1) JOIN cont USING (w2), dd),
        |sc AS (SELECT bg.doc_id,
        |    COALESCE(p.p_e9,
        |      CASE WHEN ctx.c1 IS NOT NULL AND cont.pre IS NOT NULL
        |           THEN CAST(((d1*ctx.k1 + d2*ctx.k2 + d3*ctx.k3p)
        |                * cont.pre) // (ctx.c1 * b) AS BIGINT)
        |           WHEN ctx.c1 IS NULL AND cont.pre IS NOT NULL
        |           THEN CAST((cont.pre*1000000000) // b AS BIGINT)
        |           ELSE 0 END) AS pp
        |  FROM bg
        |  LEFT JOIN p ON bg.w1 = p.w1 AND bg.w2 = p.w2
        |  LEFT JOIN ctx ON bg.w1 = ctx.w1
        |  LEFT JOIN cont ON bg.w2 = cont.w2, dd),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(pp) AS BIGINT) AS sum_p_e9 FROM sc GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(agg.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(agg.sum_p_e9, 0) AS sum_p_e9,
        |  CAST(CASE WHEN agg.n_bigrams > 0
        |       THEN agg.sum_p_e9 // agg.n_bigrams
        |       ELSE 0 END AS BIGINT) AS mean_p_e9
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // q289's vocabulary-fold CTEs feeding q277's three-discount
    // estimator — the composed model, every folded row checked (no
    // cut: the folded table is at most (K+1)^2 rows)
    "q298_kn_unk_mkn_model" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |u AS (SELECT tk[i] AS w, COUNT(*) AS n
        |  FROM t, unnest(generate_series(1, len(tk))) q(i)
        |  WHERE lang = 'en' GROUP BY 1),
        |voc AS (SELECT w FROM u ORDER BY n DESC, w LIMIT 24),
        |bg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2
        |  FROM t, unnest(generate_series(1, len(tk)-1)) q(i)
        |  WHERE len(tk) >= 2),
        |c0 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM bg WHERE lang = 'en' GROUP BY 1, 2),
        |c AS (SELECT
        |    CASE WHEN w1 IN (SELECT w FROM voc) THEN w1
        |         ELSE '<unk>' END AS w1,
        |    CASE WHEN w2 IN (SELECT w FROM voc) THEN w2
        |         ELSE '<unk>' END AS w2,
        |    CAST(SUM(n) AS BIGINT) AS n
        |  FROM c0 GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k1,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k2,
        |    CAST(SUM(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k3p FROM c GROUP BY 1),
        |cont AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS pre
        |  FROM c GROUP BY 1),
        |cc AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n1,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n2,
        |    CAST(SUM(CASE WHEN n = 3 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n3,
        |    CAST(SUM(CASE WHEN n = 4 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n4 FROM c),
        |d0 AS (SELECT b, n1, n2, n3, n4, (n1 + 2*n2) AS m,
        |    CASE WHEN (n1 + 2*n2) > 0
        |         THEN (n1 * 1000000000) // (n1 + 2*n2)
        |         ELSE 0 END AS d1 FROM cc),
        |dd AS (SELECT b, m, d1,
        |    CASE WHEN m > 0 AND n2 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                2*n2*m - 3*n1*n3) * 1000000000) // (n2*m)
        |         ELSE d1 END AS d2,
        |    CASE WHEN m > 0 AND n3 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                3*n3*m - 4*n1*n4) * 1000000000) // (n3*m)
        |         ELSE d1 END AS d3 FROM d0)
        |SELECT c.w1, c.w2, c.n,
        |  CAST(d1 AS BIGINT) AS d1_e9, CAST(d2 AS BIGINT) AS d2_e9,
        |  CAST(d3 AS BIGINT) AS d3_e9,
        |  CAST(((CAST(c.n AS HUGEINT) * 1000000000
        |         - CASE WHEN c.n = 1 THEN d1 WHEN c.n = 2 THEN d2
        |           ELSE d3 END) * b
        |        + (d1*ctx.k1 + d2*ctx.k2 + d3*ctx.k3p) * cont.pre)
        |       // (ctx.c1 * b) AS BIGINT) AS p_e9
        |FROM c JOIN ctx USING (w1) JOIN cont USING (w2), dd
        |ORDER BY c.n DESC, c.w1, c.w2""".stripMargin,
    // q250's scoring CTEs -> per-doc mean -> language-keyed ntile(3)
    // with the (mean DESC, doc_id) total order; bucket labels by CASE
    "q297_ccnet_buckets" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |bg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2
        |  FROM t, unnest(generate_series(1, len(tk)-1)) u(i)
        |  WHERE len(tk) >= 2),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM bg WHERE lang = 'en' GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(COUNT(*) AS HUGEINT) AS post FROM c GROUP BY 1),
        |cont AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS pre
        |  FROM c GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b FROM c),
        |p AS (SELECT c.w1, c.w2,
        |    CAST((1000000000 * ((4*c.n - 3)*b + 3*ctx.post*cont.pre))
        |         // (4*ctx.c1*b) AS BIGINT) AS p_e9
        |  FROM c JOIN ctx USING (w1) JOIN cont USING (w2), tot),
        |sc AS (SELECT bg.doc_id,
        |    COALESCE(p.p_e9,
        |      CASE WHEN ctx.c1 IS NOT NULL AND cont.pre IS NOT NULL
        |           THEN CAST((CAST(1000000000 AS HUGEINT) * 3
        |                      * ctx.post * cont.pre)
        |                     // (4*ctx.c1*b) AS BIGINT)
        |           WHEN ctx.c1 IS NULL AND cont.pre IS NOT NULL
        |           THEN CAST((CAST(1000000000 AS HUGEINT) * cont.pre)
        |                     // b AS BIGINT)
        |           ELSE 0 END) AS pp
        |  FROM bg
        |  LEFT JOIN p ON bg.w1 = p.w1 AND bg.w2 = p.w2
        |  LEFT JOIN ctx ON bg.w1 = ctx.w1
        |  LEFT JOIN cont ON bg.w2 = cont.w2, tot),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(pp) AS BIGINT) AS sp FROM sc GROUP BY 1),
        |m AS (SELECT d.doc_id,
        |    CAST(CASE WHEN agg.nb > 0 THEN agg.sp // agg.nb
        |         ELSE 0 END AS BIGINT) AS mean_p_e9
        |  FROM (SELECT DISTINCT doc_id FROM documents) d
        |  LEFT JOIN agg USING (doc_id)),
        |bkt AS (SELECT dd.doc_id, dd.lang, m.mean_p_e9,
        |    ntile(3) OVER (PARTITION BY dd.lang
        |      ORDER BY m.mean_p_e9 DESC, dd.doc_id) AS tl
        |  FROM (SELECT DISTINCT doc_id, lang FROM documents) dd
        |  JOIN m USING (doc_id))
        |SELECT doc_id, lang, mean_p_e9,
        |  CASE WHEN tl = 1 THEN 'head' WHEN tl = 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM bkt ORDER BY doc_id""".stripMargin,
    // true per-order counts (uni/bi/tri each from the corpus), then
    // the alpha=2/5 cascade as exact-integer CASE branches; scores,
    // not probabilities (Brants' deliberate trade)
    "q293_stupid_backoff_doc_score" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |uni AS (SELECT tk[i] AS w, CAST(COUNT(*) AS HUGEINT) AS n
        |  FROM t, unnest(generate_series(1, len(tk))) q(i)
        |  WHERE lang = 'en' GROUP BY 1),
        |nn AS (SELECT CAST(SUM(n) AS HUGEINT) AS n FROM uni),
        |bi AS (SELECT tk[i] AS w1, tk[i+1] AS w2,
        |    CAST(COUNT(*) AS HUGEINT) AS n
        |  FROM t, unnest(generate_series(1, len(tk)-1)) q(i)
        |  WHERE lang = 'en' AND len(tk) >= 2 GROUP BY 1, 2),
        |tri AS (SELECT tk[i] AS w1, tk[i+1] AS w2, tk[i+2] AS w3,
        |    CAST(COUNT(*) AS HUGEINT) AS n
        |  FROM t, unnest(generate_series(1, len(tk)-2)) q(i)
        |  WHERE lang = 'en' AND len(tk) >= 3 GROUP BY 1, 2, 3),
        |inst AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2,
        |    tk[i+2] AS w3
        |  FROM t, unnest(generate_series(1, len(tk)-2)) q(i)
        |  WHERE len(tk) >= 3),
        |sc AS (SELECT inst.doc_id,
        |    COALESCE(
        |      CASE WHEN tri.n IS NOT NULL
        |           THEN CAST((tri.n * 1000000000) // b12.n AS BIGINT)
        |           WHEN b23.n IS NOT NULL
        |           THEN CAST((2 * b23.n * 1000000000) // (5 * u2.n)
        |                AS BIGINT)
        |           WHEN u3.n IS NOT NULL
        |           THEN CAST((4 * u3.n * 1000000000)
        |                // (25 * nn.n) AS BIGINT)
        |           ELSE 0 END, 0) AS s
        |  FROM inst
        |  LEFT JOIN tri ON inst.w1 = tri.w1 AND inst.w2 = tri.w2
        |    AND inst.w3 = tri.w3
        |  LEFT JOIN bi b12 ON inst.w1 = b12.w1 AND inst.w2 = b12.w2
        |  LEFT JOIN bi b23 ON inst.w2 = b23.w1 AND inst.w3 = b23.w2
        |  LEFT JOIN uni u2 ON inst.w2 = u2.w
        |  LEFT JOIN uni u3 ON inst.w3 = u3.w, nn),
        |agg AS (SELECT doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        |    CAST(SUM(s) AS BIGINT) AS sum_p_e9 FROM sc GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(agg.n_trigrams, 0) AS n_trigrams,
        |  COALESCE(agg.sum_p_e9, 0) AS sum_p_e9,
        |  CAST(CASE WHEN agg.n_trigrams > 0
        |       THEN agg.sum_p_e9 // agg.n_trigrams
        |       ELSE 0 END AS BIGINT) AS mean_p_e9
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // the single-fraction WB estimate: (c12*N + T1*c2)*1e9 //
    // ((c1+T1)*N) over true per-order counts
    "q294_witten_bell_model" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |uni AS (SELECT tk[i] AS w, CAST(COUNT(*) AS HUGEINT) AS n
        |  FROM t, unnest(generate_series(1, len(tk))) q(i)
        |  WHERE lang = 'en' GROUP BY 1),
        |nn AS (SELECT CAST(SUM(n) AS HUGEINT) AS n FROM uni),
        |c AS (SELECT tk[i] AS w1, tk[i+1] AS w2,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM t, unnest(generate_series(1, len(tk)-1)) q(i)
        |  WHERE lang = 'en' AND len(tk) >= 2 GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(COUNT(*) AS HUGEINT) AS t1 FROM c GROUP BY 1)
        |SELECT c.w1, c.w2, c.n,
        |  CAST(((CAST(c.n AS HUGEINT) * nn.n + ctx.t1 * u2.n)
        |        * 1000000000)
        |       // ((ctx.c1 + ctx.t1) * nn.n) AS BIGINT) AS p_e9
        |FROM c JOIN ctx USING (w1) JOIN uni u2 ON c.w2 = u2.w, nn
        |ORDER BY c.n DESC, c.w1, c.w2""".stripMargin,
    // q294's model + the WB cascade branches (seen / escape /
    // unigram fallback / zero)
    "q295_witten_bell_doc_score" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |uni AS (SELECT tk[i] AS w, CAST(COUNT(*) AS HUGEINT) AS n
        |  FROM t, unnest(generate_series(1, len(tk))) q(i)
        |  WHERE lang = 'en' GROUP BY 1),
        |nn AS (SELECT CAST(SUM(n) AS HUGEINT) AS n FROM uni),
        |bg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2
        |  FROM t, unnest(generate_series(1, len(tk)-1)) q(i)
        |  WHERE len(tk) >= 2),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM bg WHERE lang = 'en' GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(COUNT(*) AS HUGEINT) AS t1 FROM c GROUP BY 1),
        |p AS (SELECT c.w1, c.w2,
        |    CAST(((CAST(c.n AS HUGEINT) * nn.n + ctx.t1 * u2.n)
        |          * 1000000000)
        |         // ((ctx.c1 + ctx.t1) * nn.n) AS BIGINT) AS p_e9
        |  FROM c JOIN ctx USING (w1) JOIN uni u2 ON c.w2 = u2.w, nn),
        |sc AS (SELECT bg.doc_id,
        |    COALESCE(p.p_e9,
        |      CASE WHEN ctx.c1 IS NOT NULL AND u2.n IS NOT NULL
        |           THEN CAST((ctx.t1 * u2.n * 1000000000)
        |                // ((ctx.c1 + ctx.t1) * nn.n) AS BIGINT)
        |           WHEN u2.n IS NOT NULL
        |           THEN CAST((u2.n * 1000000000) // nn.n AS BIGINT)
        |           ELSE 0 END) AS pp
        |  FROM bg
        |  LEFT JOIN p ON bg.w1 = p.w1 AND bg.w2 = p.w2
        |  LEFT JOIN ctx ON bg.w1 = ctx.w1
        |  LEFT JOIN uni u2 ON bg.w2 = u2.w, nn),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(pp) AS BIGINT) AS sum_p_e9 FROM sc GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(agg.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(agg.sum_p_e9, 0) AS sum_p_e9,
        |  CAST(CASE WHEN agg.n_bigrams > 0
        |       THEN agg.sum_p_e9 // agg.n_bigrams
        |       ELSE 0 END AS BIGINT) AS mean_p_e9
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // top-24 vocabulary by (unigram count desc, word asc), raw en
    // bigram counts folded through the CASE-IN-voc map and
    // re-aggregated, then q250's pinned-D model forms over the
    // folded table
    "q289_kn_unk_model" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |u AS (SELECT tk[i] AS w, COUNT(*) AS n
        |  FROM t, unnest(generate_series(1, len(tk))) q(i)
        |  WHERE lang = 'en' GROUP BY 1),
        |voc AS (SELECT w FROM u ORDER BY n DESC, w LIMIT 24),
        |bg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2
        |  FROM t, unnest(generate_series(1, len(tk)-1)) q(i)
        |  WHERE len(tk) >= 2),
        |c0 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM bg WHERE lang = 'en' GROUP BY 1, 2),
        |c AS (SELECT
        |    CASE WHEN w1 IN (SELECT w FROM voc) THEN w1
        |         ELSE '<unk>' END AS w1,
        |    CASE WHEN w2 IN (SELECT w FROM voc) THEN w2
        |         ELSE '<unk>' END AS w2,
        |    CAST(SUM(n) AS BIGINT) AS n
        |  FROM c0 GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(COUNT(*) AS HUGEINT) AS post FROM c GROUP BY 1),
        |cont AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS pre
        |  FROM c GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b FROM c)
        |SELECT c.w1, c.w2, c.n,
        |  CAST((1000000000 * ((4*c.n - 3)*b + 3*ctx.post*cont.pre))
        |       // (4*ctx.c1*b) AS BIGINT) AS p_e9
        |FROM c JOIN ctx USING (w1) JOIN cont USING (w2), tot
        |ORDER BY c.n DESC, c.w1, c.w2""".stripMargin,
    // q250's scoring SQL with the vocabulary fold applied to BOTH the
    // count table and the serve-time instances (the same CASE-IN-voc
    // map); the ELSE-0 branch stays spelled but is dead — <unk> is a
    // regular model word with continuation mass
    "q290_kn_unk_doc_score" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |u AS (SELECT tk[i] AS w, COUNT(*) AS n
        |  FROM t, unnest(generate_series(1, len(tk))) q(i)
        |  WHERE lang = 'en' GROUP BY 1),
        |voc AS (SELECT w FROM u ORDER BY n DESC, w LIMIT 24),
        |bg0 AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2
        |  FROM t, unnest(generate_series(1, len(tk)-1)) q(i)
        |  WHERE len(tk) >= 2),
        |bg AS (SELECT doc_id, lang,
        |    CASE WHEN w1 IN (SELECT w FROM voc) THEN w1
        |         ELSE '<unk>' END AS w1,
        |    CASE WHEN w2 IN (SELECT w FROM voc) THEN w2
        |         ELSE '<unk>' END AS w2
        |  FROM bg0),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM bg WHERE lang = 'en' GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(COUNT(*) AS HUGEINT) AS post FROM c GROUP BY 1),
        |cont AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS pre
        |  FROM c GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b FROM c),
        |p AS (SELECT c.w1, c.w2,
        |    CAST((1000000000 * ((4*c.n - 3)*b + 3*ctx.post*cont.pre))
        |         // (4*ctx.c1*b) AS BIGINT) AS p_e9
        |  FROM c JOIN ctx USING (w1) JOIN cont USING (w2), tot),
        |sc AS (SELECT bg.doc_id,
        |    COALESCE(p.p_e9,
        |      CASE WHEN ctx.c1 IS NOT NULL AND cont.pre IS NOT NULL
        |           THEN CAST((CAST(1000000000 AS HUGEINT) * 3
        |                      * ctx.post * cont.pre)
        |                     // (4*ctx.c1*b) AS BIGINT)
        |           WHEN ctx.c1 IS NULL AND cont.pre IS NOT NULL
        |           THEN CAST((CAST(1000000000 AS HUGEINT) * cont.pre)
        |                     // b AS BIGINT)
        |           ELSE 0 END) AS pp
        |  FROM bg
        |  LEFT JOIN p ON bg.w1 = p.w1 AND bg.w2 = p.w2
        |  LEFT JOIN ctx ON bg.w1 = ctx.w1
        |  LEFT JOIN cont ON bg.w2 = cont.w2, tot),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(pp) AS BIGINT) AS sum_p_e9 FROM sc GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(agg.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(agg.sum_p_e9, 0) AS sum_p_e9,
        |  CAST(CASE WHEN agg.n_bigrams > 0
        |       THEN agg.sum_p_e9 // agg.n_bigrams
        |       ELSE 0 END AS BIGINT) AS mean_p_e9
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // q269's chain with q275's ESTIMATED-DISCOUNT gate CTEs in front
    // (the last gate × scorer cell): the seen branch is the estd
    // closed form verbatim, the unseen-mass branch drops the seen
    // numerator, then lmkeep at sum >= n*33.5e6 and the q197 chain
    // verbatim
    "q292_lm_gated_pipeline_estd" -> (rebuiltSqlCte(4) +
      """,
        |lt AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |lbg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2
        |  FROM lt, unnest(generate_series(1, len(tk)-1)) u(i)
        |  WHERE len(tk) >= 2),
        |lc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lbg WHERE lang = 'en' GROUP BY 1, 2),
        |lctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(COUNT(*) AS HUGEINT) AS post FROM lc GROUP BY 1),
        |lcont AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS pre
        |  FROM lc GROUP BY 1),
        |ltot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n1,
        |    (CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |     + 2*CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END)
        |       AS HUGEINT)) AS m FROM lc),
        |lp AS (SELECT lc.w1, lc.w2,
        |    CASE WHEN m > 0
        |         THEN CAST(((lc.n*m - n1) * 1000000000
        |              + n1*lctx.post*((lcont.pre * 1000000000) // b))
        |              // (lctx.c1*m) AS BIGINT)
        |         ELSE CAST((lc.n * 1000000000) // lctx.c1 AS BIGINT)
        |         END AS p_e9
        |  FROM lc JOIN lctx USING (w1) JOIN lcont USING (w2), ltot),
        |lsc AS (SELECT lbg.doc_id,
        |    COALESCE(lp.p_e9,
        |      CASE WHEN lctx.c1 IS NOT NULL AND lcont.pre IS NOT NULL
        |           THEN CASE WHEN m > 0
        |                THEN CAST((n1*lctx.post
        |                     *((lcont.pre*1000000000) // b))
        |                     // (lctx.c1*m) AS BIGINT)
        |                ELSE 0 END
        |           WHEN lctx.c1 IS NULL AND lcont.pre IS NOT NULL
        |           THEN CAST((lcont.pre*1000000000) // b AS BIGINT)
        |           ELSE 0 END) AS pp
        |  FROM lbg
        |  LEFT JOIN lp ON lbg.w1 = lp.w1 AND lbg.w2 = lp.w2
        |  LEFT JOIN lctx ON lbg.w1 = lctx.w1
        |  LEFT JOIN lcont ON lbg.w2 = lcont.w2, ltot),
        |lmkeep AS (SELECT doc_id FROM
        |  (SELECT doc_id, COUNT(*) AS nb,
        |      CAST(SUM(pp) AS HUGEINT) AS sp
        |   FROM lsc GROUP BY 1)
        |  WHERE sp >= 33500000 * nb),
        |q AS (SELECT d.doc_id, d.source, r.text
        |  FROM documents d JOIN rebuilt r USING (doc_id)
        |  WHERE d.doc_id IN (SELECT doc_id FROM lmkeep)
        |    AND len(string_split_regex(d.text,'\s+')) >= 20
        |    AND (CASE WHEN length(d.text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(d.text,'[^A-Za-z]','','g')) AS DOUBLE)
        |              / CAST(length(d.text) AS DOUBLE) END) >= 0.805),
        |lines AS (SELECT doc_id, l
        |  FROM q, unnest(string_split(text, chr(10))) u(l)
        |  WHERE length(l) > 0),
        |freq AS (SELECT COALESCE(list(l), []) fl FROM
        |  (SELECT l FROM lines GROUP BY l HAVING COUNT(DISTINCT doc_id) > 2)),
        |bp AS (SELECT doc_id,
        |    list_filter(string_split(text, chr(10)),
        |      x -> length(x) > 0 AND NOT list_contains(fl, x)) kl
        |  FROM q, freq),
        |ex AS (SELECT doc_id, kl[i] AS l, i
        |  FROM bp, unnest(generate_series(1, len(kl))) u(i)),
        |rk AS (SELECT doc_id, l, i,
        |    row_number() OVER (PARTITION BY l ORDER BY doc_id, i) rn
        |  FROM ex),
        |cln AS (SELECT q.doc_id,
        |    length(COALESCE(k.txt, '')) AS n_chars_clean
        |  FROM q LEFT JOIN
        |    (SELECT doc_id, string_agg(l, chr(10) ORDER BY i) txt
        |     FROM rk WHERE rn = 1 GROUP BY 1) k USING (doc_id)),
        |ftoks AS (SELECT doc_id, string_split_regex(text,'\s+') t
        |  FROM documents WHERE doc_id IN (SELECT doc_id FROM q)),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7],' ') s
        |       FROM ftoks, unnest(generate_series(1, len(t)-7)) u(i)
        |       WHERE len(t) >= 8
        |       UNION ALL
        |       SELECT doc_id, array_to_string(t,' ') FROM ftoks
        |       WHERE len(t) < 8),
        |fp AS (SELECT doc_id, min(md5(s)) AS f FROM sh GROUP BY 1),
        |cl AS (SELECT fp.doc_id, MIN(f2.doc_id) AS cluster
        |  FROM fp JOIN fp f2 USING (f) GROUP BY 1),
        |qt AS (SELECT c.doc_id,
        |    CAST(row_number() OVER (PARTITION BY q.source
        |      ORDER BY c.n_chars_clean DESC, c.doc_id) AS BIGINT)
        |      AS quota_rank
        |  FROM cln c JOIN q USING (doc_id)),
        |kept AS (SELECT doc_id, quota_rank FROM qt WHERE quota_rank <= 10)
        |SELECT q.doc_id, q.source, c.n_chars_clean, kept.quota_rank,
        |  cl.cluster, CASE
        |  WHEN CAST(concat('0x', substr(md5(concat('cp1','#',CAST(cl.cluster AS VARCHAR))),1,8)) AS BIGINT) < 3435973836 THEN 'train'
        |  WHEN CAST(concat('0x', substr(md5(concat('cp1','#',CAST(cl.cluster AS VARCHAR))),1,8)) AS BIGINT) < 3865470565 THEN 'val'
        |  ELSE 'test' END AS split
        |FROM q JOIN cln c USING (doc_id) JOIN cl USING (doc_id)
        |LEFT JOIN kept USING (doc_id)
        |ORDER BY q.doc_id""".stripMargin),
    // q275's scoring shape with q277's three-discount CTEs: the seen
    // branch is the mKN closed form verbatim, the unseen-mass branch
    // keeps only the gamma term, both through the same pre-floored
    // discounts
    "q283_kn_mkn_doc_score" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |bg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2
        |  FROM t, unnest(generate_series(1, len(tk)-1)) u(i)
        |  WHERE len(tk) >= 2),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM bg WHERE lang = 'en' GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k1,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k2,
        |    CAST(SUM(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k3p FROM c GROUP BY 1),
        |cont AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS pre
        |  FROM c GROUP BY 1),
        |cc AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n1,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n2,
        |    CAST(SUM(CASE WHEN n = 3 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n3,
        |    CAST(SUM(CASE WHEN n = 4 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n4 FROM c),
        |d0 AS (SELECT b, n1, n2, n3, n4, (n1 + 2*n2) AS m,
        |    CASE WHEN (n1 + 2*n2) > 0
        |         THEN (n1 * 1000000000) // (n1 + 2*n2)
        |         ELSE 0 END AS d1 FROM cc),
        |dd AS (SELECT b, m, d1,
        |    CASE WHEN m > 0 AND n2 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                2*n2*m - 3*n1*n3) * 1000000000) // (n2*m)
        |         ELSE d1 END AS d2,
        |    CASE WHEN m > 0 AND n3 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                3*n3*m - 4*n1*n4) * 1000000000) // (n3*m)
        |         ELSE d1 END AS d3 FROM d0),
        |p AS (SELECT c.w1, c.w2,
        |    CAST(((CAST(c.n AS HUGEINT) * 1000000000
        |           - CASE WHEN c.n = 1 THEN d1 WHEN c.n = 2 THEN d2
        |             ELSE d3 END) * b
        |          + (d1*ctx.k1 + d2*ctx.k2 + d3*ctx.k3p) * cont.pre)
        |         // (ctx.c1 * b) AS BIGINT) AS p_e9
        |  FROM c JOIN ctx USING (w1) JOIN cont USING (w2), dd),
        |sc AS (SELECT bg.doc_id,
        |    COALESCE(p.p_e9,
        |      CASE WHEN ctx.c1 IS NOT NULL AND cont.pre IS NOT NULL
        |           THEN CAST(((d1*ctx.k1 + d2*ctx.k2 + d3*ctx.k3p)
        |                * cont.pre) // (ctx.c1 * b) AS BIGINT)
        |           WHEN ctx.c1 IS NULL AND cont.pre IS NOT NULL
        |           THEN CAST((cont.pre*1000000000) // b AS BIGINT)
        |           ELSE 0 END) AS pp
        |  FROM bg
        |  LEFT JOIN p ON bg.w1 = p.w1 AND bg.w2 = p.w2
        |  LEFT JOIN ctx ON bg.w1 = ctx.w1
        |  LEFT JOIN cont ON bg.w2 = cont.w2, dd),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(pp) AS BIGINT) AS sum_p_e9 FROM sc GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(agg.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(agg.sum_p_e9, 0) AS sum_p_e9,
        |  CAST(CASE WHEN agg.n_bigrams > 0
        |       THEN agg.sum_p_e9 // agg.n_bigrams
        |       ELSE 0 END AS BIGINT) AS mean_p_e9
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // q276's scoring shape with q278's per-level three-discount CTEs;
    // both levels' unseen-mass branches keep only that level's gamma
    // term through the same pre-floored discounts
    "q284_kn_trigram_mkn_doc_score" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |tg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2,
        |    tk[i+2] AS w3
        |  FROM t, unnest(generate_series(1, len(tk)-2)) u(i)
        |  WHERE len(tk) >= 3),
        |c AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tg WHERE lang = 'en' GROUP BY 1, 2, 3),
        |ctx AS (SELECT w1, w2, CAST(SUM(n) AS HUGEINT) AS c12,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k1,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k2,
        |    CAST(SUM(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k3p FROM c GROUP BY 1, 2),
        |cont AS (SELECT w2, w3, CAST(COUNT(*) AS HUGEINT) AS pre23
        |  FROM c GROUP BY 1, 2),
        |mid AS (SELECT w2, CAST(SUM(pre23) AS HUGEINT) AS nmid2,
        |    CAST(SUM(CASE WHEN pre23 = 1 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS l1,
        |    CAST(SUM(CASE WHEN pre23 = 2 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS l2,
        |    CAST(SUM(CASE WHEN pre23 >= 3 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS l3p FROM cont GROUP BY 1),
        |pre AS (SELECT w3, CAST(COUNT(*) AS HUGEINT) AS pre3
        |  FROM cont GROUP BY 1),
        |tcc AS (SELECT
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS t1,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS t2,
        |    CAST(SUM(CASE WHEN n = 3 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS t3,
        |    CAST(SUM(CASE WHEN n = 4 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS t4 FROM c),
        |ccc AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b,
        |    CAST(SUM(CASE WHEN pre23 = 1 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS cc1,
        |    CAST(SUM(CASE WHEN pre23 = 2 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS cc2,
        |    CAST(SUM(CASE WHEN pre23 = 3 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS cc3,
        |    CAST(SUM(CASE WHEN pre23 = 4 THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS cc4 FROM cont),
        |d30 AS (SELECT t1, t2, t3, t4, (t1 + 2*t2) AS m3,
        |    CASE WHEN (t1 + 2*t2) > 0
        |         THEN (t1 * 1000000000) // (t1 + 2*t2)
        |         ELSE 0 END AS d31 FROM tcc),
        |d3s AS (SELECT m3, d31,
        |    CASE WHEN m3 > 0 AND t2 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                2*t2*m3 - 3*t1*t3) * 1000000000) // (t2*m3)
        |         ELSE d31 END AS d32,
        |    CASE WHEN m3 > 0 AND t3 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                3*t3*m3 - 4*t1*t4) * 1000000000) // (t3*m3)
        |         ELSE d31 END AS d33 FROM d30),
        |d20 AS (SELECT b, cc1, cc2, cc3, cc4, (cc1 + 2*cc2) AS m2,
        |    CASE WHEN (cc1 + 2*cc2) > 0
        |         THEN (cc1 * 1000000000) // (cc1 + 2*cc2)
        |         ELSE 0 END AS d21 FROM ccc),
        |d2s AS (SELECT b, m2, d21,
        |    CASE WHEN m2 > 0 AND cc2 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                2*cc2*m2 - 3*cc1*cc3) * 1000000000)
        |              // (cc2*m2)
        |         ELSE d21 END AS d22,
        |    CASE WHEN m2 > 0 AND cc3 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                3*cc3*m2 - 4*cc1*cc4) * 1000000000)
        |              // (cc3*m2)
        |         ELSE d21 END AS d23 FROM d20),
        |j AS (SELECT tg.doc_id, c.n, ctx.c12, ctx.k1, ctx.k2,
        |    ctx.k3p, cont.pre23, mid.nmid2, mid.l1, mid.l2, mid.l3p,
        |    pre.pre3, b, m2, d21, d22, d23, m3, d31, d32, d33
        |  FROM tg
        |  LEFT JOIN c ON tg.w1 = c.w1 AND tg.w2 = c.w2
        |    AND tg.w3 = c.w3
        |  LEFT JOIN ctx ON tg.w1 = ctx.w1 AND tg.w2 = ctx.w2
        |  LEFT JOIN cont ON tg.w2 = cont.w2 AND tg.w3 = cont.w3
        |  LEFT JOIN mid ON tg.w2 = mid.w2
        |  LEFT JOIN pre ON tg.w3 = pre.w3, d3s, d2s),
        |p2s AS (SELECT *,
        |    CASE WHEN pre23 IS NOT NULL
        |         THEN CAST(((pre23 * 1000000000
        |                - CASE WHEN pre23 = 1 THEN d21
        |                  WHEN pre23 = 2 THEN d22 ELSE d23 END) * b
        |               + (d21*l1 + d22*l2 + d23*l3p) * pre3)
        |              // (nmid2*b) AS BIGINT)
        |         WHEN nmid2 IS NOT NULL AND pre3 IS NOT NULL
        |         THEN CAST(((d21*l1 + d22*l2 + d23*l3p) * pre3)
        |              // (nmid2*b) AS BIGINT)
        |         WHEN pre3 IS NOT NULL
        |         THEN CAST((pre3 * 1000000000) // b AS BIGINT)
        |         ELSE 0 END AS p2
        |  FROM j),
        |sc AS (SELECT doc_id,
        |    CASE WHEN n IS NOT NULL
        |         THEN CAST(((CAST(n AS HUGEINT) * 1000000000
        |                - CASE WHEN n = 1 THEN d31 WHEN n = 2 THEN d32
        |                  ELSE d33 END) * 1000000000
        |               + (d31*k1 + d32*k2 + d33*k3p) * p2)
        |              // (c12 * 1000000000) AS BIGINT)
        |         WHEN c12 IS NOT NULL
        |         THEN CAST(((d31*k1 + d32*k2 + d33*k3p) * p2)
        |              // (c12 * 1000000000) AS BIGINT)
        |         ELSE p2 END AS pp
        |  FROM p2s),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        |    CAST(SUM(pp) AS BIGINT) AS sum_p_e9 FROM sc GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(agg.n_trigrams, 0) AS n_trigrams,
        |  COALESCE(agg.sum_p_e9, 0) AS sum_p_e9,
        |  CAST(CASE WHEN agg.n_trigrams > 0
        |       THEN agg.sum_p_e9 // agg.n_trigrams
        |       ELSE 0 END AS BIGINT) AS mean_p_e9
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // en-trained trigram model CTEs, then every doc's trigram
    // instances left-join the model and its four marginals; the
    // two-level back-off CASE mirrors the Scala cascade
    // branch-for-branch through the SAME floored p2 intermediate
    "q267_kn_trigram_doc_score" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |tg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2,
        |    tk[i+2] AS w3
        |  FROM t, unnest(generate_series(1, len(tk)-2)) u(i)
        |  WHERE len(tk) >= 3),
        |c AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tg WHERE lang = 'en' GROUP BY 1, 2, 3),
        |ctx AS (SELECT w1, w2, CAST(SUM(n) AS HUGEINT) AS c12,
        |    CAST(COUNT(*) AS HUGEINT) AS t12 FROM c GROUP BY 1, 2),
        |cont AS (SELECT w2, w3, CAST(COUNT(*) AS HUGEINT) AS pre23
        |  FROM c GROUP BY 1, 2),
        |mid AS (SELECT w2, CAST(SUM(pre23) AS HUGEINT) AS nmid2,
        |    CAST(COUNT(*) AS HUGEINT) AS post2 FROM cont GROUP BY 1),
        |pre AS (SELECT w3, CAST(COUNT(*) AS HUGEINT) AS pre3
        |  FROM cont GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b FROM cont),
        |j AS (SELECT tg.doc_id, c.n, ctx.c12, ctx.t12,
        |    CASE WHEN cont.pre23 IS NOT NULL
        |         THEN CAST((1000000000 * ((4*cont.pre23 - 3)*b
        |                + 3*mid.post2*pre.pre3))
        |              // (4*mid.nmid2*b) AS BIGINT)
        |         WHEN mid.nmid2 IS NOT NULL
        |              AND pre.pre3 IS NOT NULL
        |         THEN CAST((CAST(1000000000 AS HUGEINT) * 3
        |                * mid.post2 * pre.pre3)
        |              // (4*mid.nmid2*b) AS BIGINT)
        |         WHEN pre.pre3 IS NOT NULL
        |         THEN CAST((CAST(1000000000 AS HUGEINT) * pre.pre3)
        |              // b AS BIGINT)
        |         ELSE 0 END AS p2
        |  FROM tg
        |  LEFT JOIN c ON tg.w1 = c.w1 AND tg.w2 = c.w2
        |    AND tg.w3 = c.w3
        |  LEFT JOIN ctx ON tg.w1 = ctx.w1 AND tg.w2 = ctx.w2
        |  LEFT JOIN cont ON tg.w2 = cont.w2 AND tg.w3 = cont.w3
        |  LEFT JOIN mid ON tg.w2 = mid.w2
        |  LEFT JOIN pre ON tg.w3 = pre.w3, tot),
        |sc AS (SELECT doc_id,
        |    CASE WHEN n IS NOT NULL
        |         THEN CAST(((4*CAST(n AS HUGEINT) - 3)*1000000000
        |                + 3*t12*p2) // (4*c12) AS BIGINT)
        |         WHEN c12 IS NOT NULL
        |         THEN CAST((3*t12*p2) // (4*c12) AS BIGINT)
        |         ELSE p2 END AS pp
        |  FROM j),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        |    CAST(SUM(pp) AS BIGINT) AS sum_p_e9 FROM sc GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(agg.n_trigrams, 0) AS n_trigrams,
        |  COALESCE(agg.sum_p_e9, 0) AS sum_p_e9,
        |  CAST(CASE WHEN agg.n_trigrams > 0
        |       THEN agg.sum_p_e9 // agg.n_trigrams
        |       ELSE 0 END AS BIGINT) AS mean_p_e9
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // en-trained model CTEs, then every doc's bigram instances left-
    // join the model and its marginals; the back-off CASE mirrors the
    // Scala branch-for-branch; HUGEINT sums CAST at the output edge
    "q250_kn_doc_score" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |bg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2
        |  FROM t, unnest(generate_series(1, len(tk)-1)) u(i)
        |  WHERE len(tk) >= 2),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM bg WHERE lang = 'en' GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(COUNT(*) AS HUGEINT) AS post FROM c GROUP BY 1),
        |cont AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS pre
        |  FROM c GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b FROM c),
        |p AS (SELECT c.w1, c.w2,
        |    CAST((1000000000 * ((4*c.n - 3)*b + 3*ctx.post*cont.pre))
        |         // (4*ctx.c1*b) AS BIGINT) AS p_e9
        |  FROM c JOIN ctx USING (w1) JOIN cont USING (w2), tot),
        |sc AS (SELECT bg.doc_id,
        |    COALESCE(p.p_e9,
        |      CASE WHEN ctx.c1 IS NOT NULL AND cont.pre IS NOT NULL
        |           THEN CAST((CAST(1000000000 AS HUGEINT) * 3
        |                      * ctx.post * cont.pre)
        |                     // (4*ctx.c1*b) AS BIGINT)
        |           WHEN ctx.c1 IS NULL AND cont.pre IS NOT NULL
        |           THEN CAST((CAST(1000000000 AS HUGEINT) * cont.pre)
        |                     // b AS BIGINT)
        |           ELSE 0 END) AS pp
        |  FROM bg
        |  LEFT JOIN p ON bg.w1 = p.w1 AND bg.w2 = p.w2
        |  LEFT JOIN ctx ON bg.w1 = ctx.w1
        |  LEFT JOIN cont ON bg.w2 = cont.w2, tot),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(pp) AS BIGINT) AS sum_p_e9 FROM sc GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(agg.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(agg.sum_p_e9, 0) AS sum_p_e9,
        |  CAST(CASE WHEN agg.n_bigrams > 0
        |       THEN agg.sum_p_e9 // agg.n_bigrams
        |       ELSE 0 END AS BIGINT) AS mean_p_e9
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // the rebuilt-lines CTE + list_filter with the SAME integer
    // rational predicate (alpha*1e9 >= tau*len — no division);
    // COALESCE because DuckDB array_to_string([]) is NULL where Spark
    // array_join([]) is '' (fully-filtered docs keep empty text)
    "q242_line_quality_filter" -> (rebuiltSqlCte(4) +
      """
        |SELECT doc_id, COALESCE(array_to_string(list_filter(
        |    string_split(text, chr(10)),
        |    l -> length(l) > 0 AND
        |      length(regexp_replace(l,'[^A-Za-z]','','g')) * 1000000000
        |        >= 860000000 * length(l)), chr(10)), '') AS text
        |FROM rebuilt ORDER BY doc_id""".stripMargin),
    // top-20 vocabulary by (count desc, term asc), then a left join
    // marks OOV instances; floor-e9 rate over exact counts
    "q244_oov_rate" ->
      """WITH tok AS (SELECT source, u.t FROM documents,
        |    unnest(string_split_regex(text,'\s+')) u(t)
        |    WHERE length(u.t) > 0),
        |v AS (SELECT t AS term FROM (
        |    SELECT t, COUNT(*) AS n FROM tok GROUP BY 1
        |    ORDER BY n DESC, t LIMIT 20)),
        |j AS (SELECT source,
        |    CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tok LEFT JOIN v ON tok.t = v.term)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(oov) AS BIGINT) AS n_oov,
        |  (CAST(SUM(oov) AS BIGINT) * 1000000000) // COUNT(*) AS oov_rate_e9
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same mod-selected PII planting, then regexp_matches with
    // the redaction patterns verbatim; floor-e9 rates over exact
    // counts
    "q239_pii_prevalence" ->
      """WITH aug AS (SELECT source, concat(text,
        |    CASE WHEN doc_id % 7 = 0
        |         THEN concat(' u', CAST(doc_id AS VARCHAR), '@example.com')
        |         ELSE '' END,
        |    CASE WHEN doc_id % 11 = 0
        |         THEN concat(' id ', CAST(doc_id * 1000000 + 123456 AS VARCHAR))
        |         ELSE '' END,
        |    CASE WHEN doc_id % 13 = 0
        |         THEN ' see https://example.com/x' ELSE '' END) AS text
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
        |  CAST(SUM(CASE WHEN regexp_matches(text, 'https?://[^\s]+') THEN 1 ELSE 0 END) AS BIGINT) AS n_url,
        |  CAST(SUM(CASE WHEN regexp_matches(text, '[0-9]{6,}') THEN 1 ELSE 0 END) AS BIGINT) AS n_longnum,
        |  (CAST(SUM(CASE WHEN regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') THEN 1 ELSE 0 END) AS BIGINT) * 1000000000) // COUNT(*) AS email_rate_e9,
        |  (CAST(SUM(CASE WHEN regexp_matches(text, 'https?://[^\s]+') THEN 1 ELSE 0 END) AS BIGINT) * 1000000000) // COUNT(*) AS url_rate_e9,
        |  (CAST(SUM(CASE WHEN regexp_matches(text, '[0-9]{6,}') THEN 1 ELSE 0 END) AS BIGINT) * 1000000000) // COUNT(*) AS longnum_rate_e9
        |FROM aug GROUP BY 1 ORDER BY 1""".stripMargin,
    // q32's argmax CTE vs the lang column: matrix -> truths∪preds
    // spine -> floor-e9 ratios (q218's arithmetic) + integer macro-F1
    "q234_classification_report" ->
      """WITH c AS (SELECT doc_id, lang,
        | len(list_intersect(string_split_regex(text,'\s+'), ['the','a','key','fast'])) c_en,
        | len(list_intersect(string_split_regex(text,'\s+'), ['data','row','table','scan'])) c_es,
        | len(list_intersect(string_split_regex(text,'\s+'), ['join','merge','sort','agg'])) c_fr
        |FROM documents),
        |pr AS (SELECT lang AS truth, CASE WHEN c_en>=c_es AND c_en>=c_fr THEN 'en'
        |  WHEN c_es>=c_fr THEN 'es' ELSE 'fr' END AS pred FROM c),
        |m AS (SELECT truth, pred, CAST(COUNT(*) AS BIGINT) AS n FROM pr GROUP BY 1, 2),
        |cls AS (SELECT DISTINCT truth AS cls FROM m
        |        UNION SELECT DISTINCT pred FROM m),
        |tp AS (SELECT truth AS cls, n AS tp FROM m WHERE truth = pred),
        |sup AS (SELECT truth AS cls, CAST(SUM(n) AS BIGINT) AS support FROM m GROUP BY 1),
        |prd AS (SELECT pred AS cls, CAST(SUM(n) AS BIGINT) AS predicted FROM m GROUP BY 1),
        |j AS (SELECT c.cls, COALESCE(tp.tp, 0) AS tp,
        |        COALESCE(sup.support, 0) AS support,
        |        COALESCE(prd.predicted, 0) AS predicted
        |      FROM cls c LEFT JOIN tp USING (cls)
        |        LEFT JOIN sup USING (cls) LEFT JOIN prd USING (cls)),
        |e AS (SELECT cls, support, tp,
        |    predicted - tp AS fp, support - tp AS fn,
        |    CASE WHEN predicted > 0 THEN (tp * 1000000000) // predicted ELSE 0 END AS precision_e9,
        |    CASE WHEN support > 0 THEN (tp * 1000000000) // support ELSE 0 END AS recall_e9
        |  FROM j),
        |f AS (SELECT *, CASE WHEN precision_e9 + recall_e9 > 0
        |    THEN (2 * precision_e9 * recall_e9) // (precision_e9 + recall_e9)
        |    ELSE 0 END AS f1_e9 FROM e)
        |SELECT cls, support, tp, fp, fn, precision_e9, recall_e9, f1_e9,
        |  CAST(SUM(f1_e9) OVER () // COUNT(*) OVER () AS BIGINT) AS macro_f1_e9
        |FROM f ORDER BY cls""".stripMargin,
    // q31's two token counters summed per lang; both ratios divide
    // the exact sums (not per-doc averages) — the Spark side divides
    // the same BIGINTs
    "q229_tokenizer_fertility" ->
      """WITH s AS (SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split_regex(text,'\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(SUM(len(regexp_extract_all(text,'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_bpe_tokens,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars
        | FROM documents GROUP BY 1)
        |SELECT lang, n_docs, n_tokens, n_bpe_tokens, n_chars,
        |  CAST(n_bpe_tokens AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS fertility,
        |  CAST(n_chars AS DOUBLE)/CAST(n_bpe_tokens AS DOUBLE) AS chars_per_bpe
        |FROM s ORDER BY lang""".stripMargin,
    // instances = Σ max(len-1, 0) per doc (no explode); distinct side
    // is the q64 bigram-slice idiom over >= 2-token docs only
    "q230_distinct_ngrams" ->
      """WITH t AS (SELECT lang, string_split_regex(text,'\s+') tk FROM documents),
        |tot AS (SELECT lang,
        |  CAST(SUM(greatest(len(tk) - 1, 0)) AS BIGINT) AS n_grams
        | FROM t GROUP BY 1),
        |d AS (SELECT lang, COUNT(DISTINCT s) AS n_distinct FROM (
        |   SELECT lang, array_to_string(tk[i:i+1],' ') AS s
        |   FROM t, unnest(generate_series(1, len(tk)-1)) u(i)
        |   WHERE len(tk) >= 2) GROUP BY 1)
        |SELECT tot.lang, n_grams,
        |  CAST(COALESCE(n_distinct, 0) AS BIGINT) AS n_distinct,
        |  CASE WHEN n_grams > 0
        |       THEN CAST(COALESCE(n_distinct, 0) AS DOUBLE)/CAST(n_grams AS DOUBLE)
        |       ELSE 0.0 END AS distinct_ratio
        |FROM tot LEFT JOIN d USING (lang) ORDER BY lang""".stripMargin,
    // q172's en-score CTE + ground truth from documents.lang, then
    // cumulative confusion counts per distinct descending threshold;
    // precision/recall/F1 as floor-e9 integer divisions (// here,
    // div on Spark — identical on non-negatives)
    "q218_threshold_sweep" ->
      """WITH m(term, weight) AS (VALUES
        |  ('the',CAST('0.50' AS DECIMAL(18,9))),
        |  ('a',CAST('0.40' AS DECIMAL(18,9))),
        |  ('key',CAST('0.35' AS DECIMAL(18,9))),
        |  ('fast',CAST('0.30' AS DECIMAL(18,9)))),
        |toks AS (SELECT doc_id, t FROM documents,
        |         unnest(string_split_regex(text,'\s+')) u(t)
        |         WHERE length(t) > 0),
        |tc AS (SELECT doc_id, t, COUNT(*) n FROM toks GROUP BY 1, 2),
        |contrib AS (SELECT doc_id, SUM(n * weight) s
        |            FROM tc JOIN m ON tc.t = m.term GROUP BY 1),
        |scored AS (SELECT d.doc_id,
        |    CAST((CAST('-0.20' AS DECIMAL(18,9)) + COALESCE(c.s, 0))
        |         * 1000000000 AS BIGINT) AS score_e9,
        |    COALESCE(d.lang = 'en', FALSE) AS is_en
        |  FROM documents d LEFT JOIN contrib c USING (doc_id)),
        |per AS (SELECT score_e9 AS threshold_e9,
        |    SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS pos,
        |    SUM(CASE WHEN is_en THEN 0 ELSE 1 END) AS neg
        |  FROM scored GROUP BY 1),
        |cum AS (SELECT threshold_e9,
        |    CAST(SUM(pos) OVER w AS BIGINT) AS tp,
        |    CAST(SUM(neg) OVER w AS BIGINT) AS fp,
        |    CAST(SUM(pos) OVER () AS BIGINT) AS tpos,
        |    CAST(SUM(neg) OVER () AS BIGINT) AS tneg
        |  FROM per WINDOW w AS (ORDER BY threshold_e9 DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |pr AS (SELECT threshold_e9, tp, fp,
        |    (tpos - tp) AS fn, (tneg - fp) AS tn,
        |    CASE WHEN tp + fp > 0
        |         THEN (tp * 1000000000) // (tp + fp)
        |         ELSE 0 END AS precision_e9,
        |    CASE WHEN tpos > 0 THEN (tp * 1000000000) // tpos
        |         ELSE 0 END AS recall_e9
        |  FROM cum)
        |SELECT threshold_e9, tp, fp, fn, tn, precision_e9, recall_e9,
        |  CASE WHEN precision_e9 + recall_e9 > 0
        |       THEN (2 * precision_e9 * recall_e9)
        |            // (precision_e9 + recall_e9)
        |       ELSE 0 END AS f1_e9
        |FROM pr ORDER BY threshold_e9 DESC""".stripMargin,
    // same pinned model; weight = score(en) − score(es); the ranking
    // is exact decimals so the LIMIT cut is identical across engines
    "q173_dsir_select" ->
      """WITH m(term, label, weight) AS (VALUES
        |  ('the','en',CAST('0.50' AS DECIMAL(18,9))),
        |  ('a','en',CAST('0.40' AS DECIMAL(18,9))),
        |  ('key','en',CAST('0.35' AS DECIMAL(18,9))),
        |  ('fast','en',CAST('0.30' AS DECIMAL(18,9))),
        |  ('data','es',CAST('0.50' AS DECIMAL(18,9))),
        |  ('row','es',CAST('0.40' AS DECIMAL(18,9))),
        |  ('table','es',CAST('0.35' AS DECIMAL(18,9))),
        |  ('scan','es',CAST('0.30' AS DECIMAL(18,9)))),
        |p(label, prior) AS (VALUES
        |  ('en', CAST('-0.20' AS DECIMAL(18,9))),
        |  ('es', CAST('-0.25' AS DECIMAL(18,9)))),
        |toks AS (SELECT doc_id, t FROM documents,
        |         unnest(string_split_regex(text,'\s+')) u(t)
        |         WHERE length(t) > 0),
        |tc AS (SELECT doc_id, t, COUNT(*) n FROM toks GROUP BY 1, 2),
        |contrib AS (SELECT doc_id, label, SUM(n * weight) s
        |            FROM tc JOIN m ON tc.t = m.term GROUP BY 1, 2),
        |scored AS (SELECT d.doc_id, p.label,
        |             p.prior + COALESCE(c.s, 0) AS sc
        |           FROM documents d CROSS JOIN p
        |           LEFT JOIN contrib c
        |             ON c.doc_id = d.doc_id AND c.label = p.label),
        |w AS (SELECT doc_id,
        |        SUM(CASE WHEN label = 'en' THEN sc ELSE -sc END) wt
        |      FROM scored GROUP BY 1)
        |SELECT doc_id, CAST(wt * 1000000000 AS BIGINT) AS weight_e9
        |FROM w ORDER BY wt DESC, doc_id LIMIT 100""".stripMargin,
    // the five pipeline stages chained as CTEs, each the SAME fragment
    // its per-operator oracle uses (q33 gate, q169 freq list, q170
    // keep-first ranking, q34 min-shingle fingerprint, q185 rank
    // window, q87 hash intervals keyed on the cluster)
    // q197's chain with the LM gate CTE-chained in front: q250's
    // scoring CTEs (l-prefixed against name collisions) -> lmkeep
    // (exact-integer sum >= n*tau) -> the q CTE additionally
    // restricted to lmkeep; everything downstream is q197 verbatim,
    // so boilerplate frequencies/quota ranks/splits recompute over
    // the gated corpus exactly like the Scala composition
    "q269_lm_gated_pipeline" -> (rebuiltSqlCte(4) +
      """,
        |lt AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |lbg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2
        |  FROM lt, unnest(generate_series(1, len(tk)-1)) u(i)
        |  WHERE len(tk) >= 2),
        |lc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lbg WHERE lang = 'en' GROUP BY 1, 2),
        |lctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(COUNT(*) AS HUGEINT) AS post FROM lc GROUP BY 1),
        |lcont AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS pre
        |  FROM lc GROUP BY 1),
        |ltot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b FROM lc),
        |lp AS (SELECT lc.w1, lc.w2,
        |    CAST((1000000000 * ((4*lc.n - 3)*b + 3*lctx.post*lcont.pre))
        |         // (4*lctx.c1*b) AS BIGINT) AS p_e9
        |  FROM lc JOIN lctx USING (w1) JOIN lcont USING (w2), ltot),
        |lsc AS (SELECT lbg.doc_id,
        |    COALESCE(lp.p_e9,
        |      CASE WHEN lctx.c1 IS NOT NULL AND lcont.pre IS NOT NULL
        |           THEN CAST((CAST(1000000000 AS HUGEINT) * 3
        |                      * lctx.post * lcont.pre)
        |                     // (4*lctx.c1*b) AS BIGINT)
        |           WHEN lctx.c1 IS NULL AND lcont.pre IS NOT NULL
        |           THEN CAST((CAST(1000000000 AS HUGEINT) * lcont.pre)
        |                     // b AS BIGINT)
        |           ELSE 0 END) AS pp
        |  FROM lbg
        |  LEFT JOIN lp ON lbg.w1 = lp.w1 AND lbg.w2 = lp.w2
        |  LEFT JOIN lctx ON lbg.w1 = lctx.w1
        |  LEFT JOIN lcont ON lbg.w2 = lcont.w2, ltot),
        |lmkeep AS (SELECT doc_id FROM
        |  (SELECT doc_id, COUNT(*) AS nb,
        |      CAST(SUM(pp) AS HUGEINT) AS sp
        |   FROM lsc GROUP BY 1)
        |  WHERE sp >= 34000000 * nb),
        |q AS (SELECT d.doc_id, d.source, r.text
        |  FROM documents d JOIN rebuilt r USING (doc_id)
        |  WHERE d.doc_id IN (SELECT doc_id FROM lmkeep)
        |    AND len(string_split_regex(d.text,'\s+')) >= 20
        |    AND (CASE WHEN length(d.text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(d.text,'[^A-Za-z]','','g')) AS DOUBLE)
        |              / CAST(length(d.text) AS DOUBLE) END) >= 0.805),
        |lines AS (SELECT doc_id, l
        |  FROM q, unnest(string_split(text, chr(10))) u(l)
        |  WHERE length(l) > 0),
        |freq AS (SELECT COALESCE(list(l), []) fl FROM
        |  (SELECT l FROM lines GROUP BY l HAVING COUNT(DISTINCT doc_id) > 2)),
        |bp AS (SELECT doc_id,
        |    list_filter(string_split(text, chr(10)),
        |      x -> length(x) > 0 AND NOT list_contains(fl, x)) kl
        |  FROM q, freq),
        |ex AS (SELECT doc_id, kl[i] AS l, i
        |  FROM bp, unnest(generate_series(1, len(kl))) u(i)),
        |rk AS (SELECT doc_id, l, i,
        |    row_number() OVER (PARTITION BY l ORDER BY doc_id, i) rn
        |  FROM ex),
        |cln AS (SELECT q.doc_id,
        |    length(COALESCE(k.txt, '')) AS n_chars_clean
        |  FROM q LEFT JOIN
        |    (SELECT doc_id, string_agg(l, chr(10) ORDER BY i) txt
        |     FROM rk WHERE rn = 1 GROUP BY 1) k USING (doc_id)),
        |ftoks AS (SELECT doc_id, string_split_regex(text,'\s+') t
        |  FROM documents WHERE doc_id IN (SELECT doc_id FROM q)),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7],' ') s
        |       FROM ftoks, unnest(generate_series(1, len(t)-7)) u(i)
        |       WHERE len(t) >= 8
        |       UNION ALL
        |       SELECT doc_id, array_to_string(t,' ') FROM ftoks
        |       WHERE len(t) < 8),
        |fp AS (SELECT doc_id, min(md5(s)) AS f FROM sh GROUP BY 1),
        |cl AS (SELECT fp.doc_id, MIN(f2.doc_id) AS cluster
        |  FROM fp JOIN fp f2 USING (f) GROUP BY 1),
        |qt AS (SELECT c.doc_id,
        |    CAST(row_number() OVER (PARTITION BY q.source
        |      ORDER BY c.n_chars_clean DESC, c.doc_id) AS BIGINT)
        |      AS quota_rank
        |  FROM cln c JOIN q USING (doc_id)),
        |kept AS (SELECT doc_id, quota_rank FROM qt WHERE quota_rank <= 10)
        |SELECT q.doc_id, q.source, c.n_chars_clean, kept.quota_rank,
        |  cl.cluster, CASE
        |  WHEN CAST(concat('0x', substr(md5(concat('cp1','#',CAST(cl.cluster AS VARCHAR))),1,8)) AS BIGINT) < 3435973836 THEN 'train'
        |  WHEN CAST(concat('0x', substr(md5(concat('cp1','#',CAST(cl.cluster AS VARCHAR))),1,8)) AS BIGINT) < 3865470565 THEN 'val'
        |  ELSE 'test' END AS split
        |FROM q JOIN cln c USING (doc_id) JOIN cl USING (doc_id)
        |LEFT JOIN kept USING (doc_id)
        |ORDER BY q.doc_id""".stripMargin),
    // q269's chain with the TRIGRAM gate CTEs in front: q267's
    // scoring CTEs (l-prefixed), the full two-level back-off CASE,
    // then lmkeep at sum >= n*40e6 and the q197 chain verbatim
    "q279_lm_gated_pipeline_trigram" -> (rebuiltSqlCte(4) +
      """,
        |lt AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |ltg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2,
        |    tk[i+2] AS w3
        |  FROM lt, unnest(generate_series(1, len(tk)-2)) u(i)
        |  WHERE len(tk) >= 3),
        |lc AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM ltg WHERE lang = 'en' GROUP BY 1, 2, 3),
        |lctx AS (SELECT w1, w2, CAST(SUM(n) AS HUGEINT) AS c12,
        |    CAST(COUNT(*) AS HUGEINT) AS t12 FROM lc GROUP BY 1, 2),
        |lcont AS (SELECT w2, w3, CAST(COUNT(*) AS HUGEINT) AS pre23
        |  FROM lc GROUP BY 1, 2),
        |lmid AS (SELECT w2, CAST(SUM(pre23) AS HUGEINT) AS nmid2,
        |    CAST(COUNT(*) AS HUGEINT) AS post2
        |  FROM lcont GROUP BY 1),
        |lpre AS (SELECT w3, CAST(COUNT(*) AS HUGEINT) AS pre3
        |  FROM lcont GROUP BY 1),
        |ltot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b FROM lcont),
        |lj AS (SELECT ltg.doc_id, lc.n, lctx.c12, lctx.t12,
        |    CASE WHEN lcont.pre23 IS NOT NULL
        |         THEN CAST((1000000000 * ((4*lcont.pre23 - 3)*b
        |                + 3*lmid.post2*lpre.pre3))
        |              // (4*lmid.nmid2*b) AS BIGINT)
        |         WHEN lmid.nmid2 IS NOT NULL
        |              AND lpre.pre3 IS NOT NULL
        |         THEN CAST((CAST(1000000000 AS HUGEINT) * 3
        |                * lmid.post2 * lpre.pre3)
        |              // (4*lmid.nmid2*b) AS BIGINT)
        |         WHEN lpre.pre3 IS NOT NULL
        |         THEN CAST((CAST(1000000000 AS HUGEINT) * lpre.pre3)
        |              // b AS BIGINT)
        |         ELSE 0 END AS p2
        |  FROM ltg
        |  LEFT JOIN lc ON ltg.w1 = lc.w1 AND ltg.w2 = lc.w2
        |    AND ltg.w3 = lc.w3
        |  LEFT JOIN lctx ON ltg.w1 = lctx.w1 AND ltg.w2 = lctx.w2
        |  LEFT JOIN lcont ON ltg.w2 = lcont.w2 AND ltg.w3 = lcont.w3
        |  LEFT JOIN lmid ON ltg.w2 = lmid.w2
        |  LEFT JOIN lpre ON ltg.w3 = lpre.w3, ltot),
        |lsc AS (SELECT doc_id,
        |    CASE WHEN n IS NOT NULL
        |         THEN CAST(((4*CAST(n AS HUGEINT) - 3)*1000000000
        |                + 3*t12*p2) // (4*c12) AS BIGINT)
        |         WHEN c12 IS NOT NULL
        |         THEN CAST((3*t12*p2) // (4*c12) AS BIGINT)
        |         ELSE p2 END AS pp
        |  FROM lj),
        |lmkeep AS (SELECT doc_id FROM
        |  (SELECT doc_id, COUNT(*) AS nb,
        |      CAST(SUM(pp) AS HUGEINT) AS sp
        |   FROM lsc GROUP BY 1)
        |  WHERE sp >= 40000000 * nb),
        |q AS (SELECT d.doc_id, d.source, r.text
        |  FROM documents d JOIN rebuilt r USING (doc_id)
        |  WHERE d.doc_id IN (SELECT doc_id FROM lmkeep)
        |    AND len(string_split_regex(d.text,'\s+')) >= 20
        |    AND (CASE WHEN length(d.text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(d.text,'[^A-Za-z]','','g')) AS DOUBLE)
        |              / CAST(length(d.text) AS DOUBLE) END) >= 0.805),
        |lines AS (SELECT doc_id, l
        |  FROM q, unnest(string_split(text, chr(10))) u(l)
        |  WHERE length(l) > 0),
        |freq AS (SELECT COALESCE(list(l), []) fl FROM
        |  (SELECT l FROM lines GROUP BY l HAVING COUNT(DISTINCT doc_id) > 2)),
        |bp AS (SELECT doc_id,
        |    list_filter(string_split(text, chr(10)),
        |      x -> length(x) > 0 AND NOT list_contains(fl, x)) kl
        |  FROM q, freq),
        |ex AS (SELECT doc_id, kl[i] AS l, i
        |  FROM bp, unnest(generate_series(1, len(kl))) u(i)),
        |rk AS (SELECT doc_id, l, i,
        |    row_number() OVER (PARTITION BY l ORDER BY doc_id, i) rn
        |  FROM ex),
        |cln AS (SELECT q.doc_id,
        |    length(COALESCE(k.txt, '')) AS n_chars_clean
        |  FROM q LEFT JOIN
        |    (SELECT doc_id, string_agg(l, chr(10) ORDER BY i) txt
        |     FROM rk WHERE rn = 1 GROUP BY 1) k USING (doc_id)),
        |ftoks AS (SELECT doc_id, string_split_regex(text,'\s+') t
        |  FROM documents WHERE doc_id IN (SELECT doc_id FROM q)),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7],' ') s
        |       FROM ftoks, unnest(generate_series(1, len(t)-7)) u(i)
        |       WHERE len(t) >= 8
        |       UNION ALL
        |       SELECT doc_id, array_to_string(t,' ') FROM ftoks
        |       WHERE len(t) < 8),
        |fp AS (SELECT doc_id, min(md5(s)) AS f FROM sh GROUP BY 1),
        |cl AS (SELECT fp.doc_id, MIN(f2.doc_id) AS cluster
        |  FROM fp JOIN fp f2 USING (f) GROUP BY 1),
        |qt AS (SELECT c.doc_id,
        |    CAST(row_number() OVER (PARTITION BY q.source
        |      ORDER BY c.n_chars_clean DESC, c.doc_id) AS BIGINT)
        |      AS quota_rank
        |  FROM cln c JOIN q USING (doc_id)),
        |kept AS (SELECT doc_id, quota_rank FROM qt WHERE quota_rank <= 10)
        |SELECT q.doc_id, q.source, c.n_chars_clean, kept.quota_rank,
        |  cl.cluster, CASE
        |  WHEN CAST(concat('0x', substr(md5(concat('cp1','#',CAST(cl.cluster AS VARCHAR))),1,8)) AS BIGINT) < 3435973836 THEN 'train'
        |  WHEN CAST(concat('0x', substr(md5(concat('cp1','#',CAST(cl.cluster AS VARCHAR))),1,8)) AS BIGINT) < 3865470565 THEN 'val'
        |  ELSE 'test' END AS split
        |FROM q JOIN cln c USING (doc_id) JOIN cl USING (doc_id)
        |LEFT JOIN kept USING (doc_id)
        |ORDER BY q.doc_id""".stripMargin),
    // q269's chain with q283's MODIFIED-KN gate CTEs in front: the
    // three-discount estimator (ld0/ldd), the count-indexed seen
    // branch and gamma backoff, then lmkeep at sum >= n*33.5e6 and
    // the q197 chain verbatim
    "q288_lm_gated_pipeline_mkn" -> (rebuiltSqlCte(4) +
      """,
        |lt AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(text,'\s+'),
        |      x -> length(x) > 0) AS tk FROM documents),
        |lbg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2
        |  FROM lt, unnest(generate_series(1, len(tk)-1)) u(i)
        |  WHERE len(tk) >= 2),
        |lc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lbg WHERE lang = 'en' GROUP BY 1, 2),
        |lctx AS (SELECT w1, CAST(SUM(n) AS HUGEINT) AS c1,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k1,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k2,
        |    CAST(SUM(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS k3p FROM lc GROUP BY 1),
        |lcont AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS pre
        |  FROM lc GROUP BY 1),
        |lcc AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n1,
        |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n2,
        |    CAST(SUM(CASE WHEN n = 3 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n3,
        |    CAST(SUM(CASE WHEN n = 4 THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS n4 FROM lc),
        |ld0 AS (SELECT b, n1, n2, n3, n4, (n1 + 2*n2) AS m,
        |    CASE WHEN (n1 + 2*n2) > 0
        |         THEN (n1 * 1000000000) // (n1 + 2*n2)
        |         ELSE 0 END AS d1 FROM lcc),
        |ldd AS (SELECT b, m, d1,
        |    CASE WHEN m > 0 AND n2 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                2*n2*m - 3*n1*n3) * 1000000000) // (n2*m)
        |         ELSE d1 END AS d2,
        |    CASE WHEN m > 0 AND n3 > 0
        |         THEN (GREATEST(CAST(0 AS HUGEINT),
        |                3*n3*m - 4*n1*n4) * 1000000000) // (n3*m)
        |         ELSE d1 END AS d3 FROM ld0),
        |lp AS (SELECT lc.w1, lc.w2,
        |    CAST(((CAST(lc.n AS HUGEINT) * 1000000000
        |           - CASE WHEN lc.n = 1 THEN d1 WHEN lc.n = 2 THEN d2
        |             ELSE d3 END) * b
        |          + (d1*lctx.k1 + d2*lctx.k2 + d3*lctx.k3p)
        |            * lcont.pre)
        |         // (lctx.c1 * b) AS BIGINT) AS p_e9
        |  FROM lc JOIN lctx USING (w1) JOIN lcont USING (w2), ldd),
        |lsc AS (SELECT lbg.doc_id,
        |    COALESCE(lp.p_e9,
        |      CASE WHEN lctx.c1 IS NOT NULL AND lcont.pre IS NOT NULL
        |           THEN CAST(((d1*lctx.k1 + d2*lctx.k2 + d3*lctx.k3p)
        |                * lcont.pre) // (lctx.c1 * b) AS BIGINT)
        |           WHEN lctx.c1 IS NULL AND lcont.pre IS NOT NULL
        |           THEN CAST((lcont.pre*1000000000) // b AS BIGINT)
        |           ELSE 0 END) AS pp
        |  FROM lbg
        |  LEFT JOIN lp ON lbg.w1 = lp.w1 AND lbg.w2 = lp.w2
        |  LEFT JOIN lctx ON lbg.w1 = lctx.w1
        |  LEFT JOIN lcont ON lbg.w2 = lcont.w2, ldd),
        |lmkeep AS (SELECT doc_id FROM
        |  (SELECT doc_id, COUNT(*) AS nb,
        |      CAST(SUM(pp) AS HUGEINT) AS sp
        |   FROM lsc GROUP BY 1)
        |  WHERE sp >= 33500000 * nb),
        |q AS (SELECT d.doc_id, d.source, r.text
        |  FROM documents d JOIN rebuilt r USING (doc_id)
        |  WHERE d.doc_id IN (SELECT doc_id FROM lmkeep)
        |    AND len(string_split_regex(d.text,'\s+')) >= 20
        |    AND (CASE WHEN length(d.text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(d.text,'[^A-Za-z]','','g')) AS DOUBLE)
        |              / CAST(length(d.text) AS DOUBLE) END) >= 0.805),
        |lines AS (SELECT doc_id, l
        |  FROM q, unnest(string_split(text, chr(10))) u(l)
        |  WHERE length(l) > 0),
        |freq AS (SELECT COALESCE(list(l), []) fl FROM
        |  (SELECT l FROM lines GROUP BY l HAVING COUNT(DISTINCT doc_id) > 2)),
        |bp AS (SELECT doc_id,
        |    list_filter(string_split(text, chr(10)),
        |      x -> length(x) > 0 AND NOT list_contains(fl, x)) kl
        |  FROM q, freq),
        |ex AS (SELECT doc_id, kl[i] AS l, i
        |  FROM bp, unnest(generate_series(1, len(kl))) u(i)),
        |rk AS (SELECT doc_id, l, i,
        |    row_number() OVER (PARTITION BY l ORDER BY doc_id, i) rn
        |  FROM ex),
        |cln AS (SELECT q.doc_id,
        |    length(COALESCE(k.txt, '')) AS n_chars_clean
        |  FROM q LEFT JOIN
        |    (SELECT doc_id, string_agg(l, chr(10) ORDER BY i) txt
        |     FROM rk WHERE rn = 1 GROUP BY 1) k USING (doc_id)),
        |ftoks AS (SELECT doc_id, string_split_regex(text,'\s+') t
        |  FROM documents WHERE doc_id IN (SELECT doc_id FROM q)),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7],' ') s
        |       FROM ftoks, unnest(generate_series(1, len(t)-7)) u(i)
        |       WHERE len(t) >= 8
        |       UNION ALL
        |       SELECT doc_id, array_to_string(t,' ') FROM ftoks
        |       WHERE len(t) < 8),
        |fp AS (SELECT doc_id, min(md5(s)) AS f FROM sh GROUP BY 1),
        |cl AS (SELECT fp.doc_id, MIN(f2.doc_id) AS cluster
        |  FROM fp JOIN fp f2 USING (f) GROUP BY 1),
        |qt AS (SELECT c.doc_id,
        |    CAST(row_number() OVER (PARTITION BY q.source
        |      ORDER BY c.n_chars_clean DESC, c.doc_id) AS BIGINT)
        |      AS quota_rank
        |  FROM cln c JOIN q USING (doc_id)),
        |kept AS (SELECT doc_id, quota_rank FROM qt WHERE quota_rank <= 10)
        |SELECT q.doc_id, q.source, c.n_chars_clean, kept.quota_rank,
        |  cl.cluster, CASE
        |  WHEN CAST(concat('0x', substr(md5(concat('cp1','#',CAST(cl.cluster AS VARCHAR))),1,8)) AS BIGINT) < 3435973836 THEN 'train'
        |  WHEN CAST(concat('0x', substr(md5(concat('cp1','#',CAST(cl.cluster AS VARCHAR))),1,8)) AS BIGINT) < 3865470565 THEN 'val'
        |  ELSE 'test' END AS split
        |FROM q JOIN cln c USING (doc_id) JOIN cl USING (doc_id)
        |LEFT JOIN kept USING (doc_id)
        |ORDER BY q.doc_id""".stripMargin),
    "q197_curation_pipeline" -> (rebuiltSqlCte(4) +
      """,
        |q AS (SELECT d.doc_id, d.source, r.text
        |  FROM documents d JOIN rebuilt r USING (doc_id)
        |  WHERE len(string_split_regex(d.text,'\s+')) >= 20
        |    AND (CASE WHEN length(d.text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(d.text,'[^A-Za-z]','','g')) AS DOUBLE)
        |              / CAST(length(d.text) AS DOUBLE) END) >= 0.805),
        |lines AS (SELECT doc_id, l
        |  FROM q, unnest(string_split(text, chr(10))) u(l)
        |  WHERE length(l) > 0),
        |freq AS (SELECT COALESCE(list(l), []) fl FROM
        |  (SELECT l FROM lines GROUP BY l HAVING COUNT(DISTINCT doc_id) > 2)),
        |bp AS (SELECT doc_id,
        |    list_filter(string_split(text, chr(10)),
        |      x -> length(x) > 0 AND NOT list_contains(fl, x)) kl
        |  FROM q, freq),
        |ex AS (SELECT doc_id, kl[i] AS l, i
        |  FROM bp, unnest(generate_series(1, len(kl))) u(i)),
        |rk AS (SELECT doc_id, l, i,
        |    row_number() OVER (PARTITION BY l ORDER BY doc_id, i) rn
        |  FROM ex),
        |cln AS (SELECT q.doc_id,
        |    length(COALESCE(k.txt, '')) AS n_chars_clean
        |  FROM q LEFT JOIN
        |    (SELECT doc_id, string_agg(l, chr(10) ORDER BY i) txt
        |     FROM rk WHERE rn = 1 GROUP BY 1) k USING (doc_id)),
        |ftoks AS (SELECT doc_id, string_split_regex(text,'\s+') t
        |  FROM documents WHERE doc_id IN (SELECT doc_id FROM q)),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7],' ') s
        |       FROM ftoks, unnest(generate_series(1, len(t)-7)) u(i)
        |       WHERE len(t) >= 8
        |       UNION ALL
        |       SELECT doc_id, array_to_string(t,' ') FROM ftoks
        |       WHERE len(t) < 8),
        |fp AS (SELECT doc_id, min(md5(s)) AS f FROM sh GROUP BY 1),
        |cl AS (SELECT fp.doc_id, MIN(f2.doc_id) AS cluster
        |  FROM fp JOIN fp f2 USING (f) GROUP BY 1),
        |qt AS (SELECT c.doc_id,
        |    CAST(row_number() OVER (PARTITION BY q.source
        |      ORDER BY c.n_chars_clean DESC, c.doc_id) AS BIGINT)
        |      AS quota_rank
        |  FROM cln c JOIN q USING (doc_id)),
        |kept AS (SELECT doc_id, quota_rank FROM qt WHERE quota_rank <= 10)
        |SELECT q.doc_id, q.source, c.n_chars_clean, kept.quota_rank,
        |  cl.cluster, CASE
        |  WHEN CAST(concat('0x', substr(md5(concat('cp1','#',CAST(cl.cluster AS VARCHAR))),1,8)) AS BIGINT) < 3435973836 THEN 'train'
        |  WHEN CAST(concat('0x', substr(md5(concat('cp1','#',CAST(cl.cluster AS VARCHAR))),1,8)) AS BIGINT) < 3865470565 THEN 'val'
        |  ELSE 'test' END AS split
        |FROM q JOIN cln c USING (doc_id) JOIN cl USING (doc_id)
        |LEFT JOIN kept USING (doc_id)
        |ORDER BY q.doc_id""".stripMargin),
    // the trainer's exact-integer core replayed as one CTE chain:
    // same \s+ tokenization, same deterministic doc_id%3 labeling;
    // SUM() widens to HUGEINT in DuckDB so every rollup is cast back
    // to BIGINT before it reaches the hashed edge
    "q196_nb_train" ->
      """WITH lab AS (SELECT doc_id, text,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'en'
        |         WHEN 1 THEN 'es' ELSE 'fr' END AS label
        |  FROM documents),
        |toks AS (SELECT label, t AS term FROM lab,
        |         unnest(string_split_regex(text,'\s+')) u(t)
        |         WHERE length(t) > 0),
        |tc AS (SELECT label, term, COUNT(*) AS n FROM toks GROUP BY 1, 2),
        |lt AS (SELECT label, CAST(SUM(n) AS BIGINT) AS tot
        |       FROM tc GROUP BY 1),
        |voc AS (SELECT GREATEST(COUNT(DISTINCT term), 1) AS v FROM toks),
        |dc AS (SELECT label, COUNT(*) AS n_docs FROM lab GROUP BY 1),
        |tot_docs AS (SELECT COUNT(*) AS n_total FROM lab)
        |SELECT tc.term, tc.label, tc.n, lt.tot, voc.v,
        |       dc.n_docs, tot_docs.n_total
        |FROM tc JOIN lt USING (label) JOIN dc USING (label)
        |CROSS JOIN voc CROSS JOIN tot_docs
        |ORDER BY label, term""".stripMargin,
    // the delta invariant IS the oracle: frequencies over the FULL
    // union, rewrite restricted to the arriving batch (doc_id >= 250)
    "q171_boilerplate_delta" -> (rebuiltSqlCte(4) +
      """,
        |lines AS (SELECT doc_id, l
        |          FROM rebuilt, unnest(string_split(text, chr(10))) u(l)
        |          WHERE length(l) > 0),
        |freq AS (SELECT COALESCE(list(l), []) fl FROM
        |  (SELECT l FROM lines GROUP BY l HAVING COUNT(DISTINCT doc_id) > 2)),
        |rw AS (SELECT doc_id,
        |    list_filter(string_split(text, chr(10)),
        |      x -> length(x) > 0 AND NOT list_contains(fl, x)) kl,
        |    list_filter(string_split(text, chr(10)), x -> length(x) > 0) al
        |  FROM rebuilt, freq
        |  WHERE doc_id >= 250)
        |SELECT doc_id,
        |  COALESCE(array_to_string(kl, chr(10)), '') AS text,
        |  CAST(COALESCE(len(kl), 0) AS BIGINT) AS n_lines_kept,
        |  CAST(COALESCE(len(al), 0) - COALESCE(len(kl), 0) AS BIGINT)
        |    AS n_lines_dropped
        |FROM rw ORDER BY doc_id""".stripMargin),
    // keep-first winner = row_number over (doc_id, position), matching
    // the Spark side's min(struct(id, pos)) election exactly
    "q170_dedup_lines_keepfirst" -> (rebuiltSqlCte(4) +
      """,
        |ls AS (SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), x -> length(x) > 0) ll
        |  FROM rebuilt),
        |exploded AS (SELECT doc_id, ll[i] AS l, i
        |  FROM ls, unnest(generate_series(1, len(ll))) u(i)),
        |ranked AS (SELECT doc_id, l, i,
        |    row_number() OVER (PARTITION BY l ORDER BY doc_id, i) rn
        |  FROM exploded),
        |kept AS (SELECT doc_id, string_agg(l, chr(10) ORDER BY i) txt,
        |    COUNT(*) nk FROM ranked WHERE rn = 1 GROUP BY 1),
        |tot AS (SELECT doc_id, COUNT(*) nl FROM exploded GROUP BY 1)
        |SELECT d.doc_id, COALESCE(k.txt, '') AS text,
        |  CAST(COALESCE(k.nk, 0) AS BIGINT) AS n_lines_kept,
        |  CAST(COALESCE(t.nl, 0) - COALESCE(k.nk, 0) AS BIGINT)
        |    AS n_lines_dropped
        |FROM documents d LEFT JOIN kept k USING (doc_id)
        |  LEFT JOIN tot t USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    "q30_dedup_exact" ->
      """SELECT COUNT(*) AS n_groups, CAST(SUM(n_copies) AS BIGINT) AS n_docs,
        | CAST(SUM(CASE WHEN n_copies>1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
        |FROM (SELECT md5(text) h, COUNT(*) AS n_copies FROM documents GROUP BY 1)""".stripMargin,
    "q31_token_count" ->
      """SELECT doc_id,
        | len(string_split_regex(text,'\s+')) AS n_tokens,
        | len(regexp_extract_all(text,'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // shard = q63's md5-u32 idiom; rank then batch arithmetic in
    // exact integers; the per-batch MAX window has a whole-partition
    // frame (no second ORDER BY — the two-window ordering pitfall
    // from NOTES doesn't apply)
    "q212_length_batching" ->
      """WITH b AS (SELECT doc_id,
        |    CAST(len(string_split_regex(text,'\s+')) AS BIGINT) AS n_tokens,
        |    CAST(concat('0x', substr(md5(concat('lb1','#',
        |      CAST(doc_id AS VARCHAR))),1,8)) AS BIGINT) % 4 AS shard
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY shard
        |        ORDER BY n_tokens, doc_id) AS rn FROM b),
        |g AS (SELECT doc_id, shard, (rn - 1) // 8 AS batch_idx,
        |        (rn - 1) % 8 AS batch_offset, n_tokens FROM r)
        |SELECT doc_id, shard, batch_idx, batch_offset, n_tokens,
        |  MAX(n_tokens) OVER (PARTITION BY shard, batch_idx) AS batch_max,
        |  MAX(n_tokens) OVER (PARTITION BY shard, batch_idx) - n_tokens
        |    AS pad_waste
        |FROM g ORDER BY doc_id""".stripMargin,
    // adjacent n-grams rebuilt with the same space-joined concat;
    // fractions are exact-integer divisions; top-word share via
    // unnest + count
    "q213_repetition_signals" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(COALESCE(text,''), '\s+'),
        |      x -> len(x) > 0) AS tk
        |  FROM documents),
        |g AS (SELECT doc_id, len(tk) AS n,
        |  CASE WHEN len(tk) >= 2 THEN list_transform(
        |    generate_series(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1])
        |    ELSE [] END AS g2,
        |  CASE WHEN len(tk) >= 3 THEN list_transform(
        |    generate_series(1, len(tk)-2),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
        |    ELSE [] END AS g3
        |  FROM t),
        |tw AS (SELECT doc_id, MAX(c) AS mx FROM (
        |   SELECT doc_id, w, COUNT(*) AS c FROM t, unnest(tk) u(w)
        |   GROUP BY 1, 2) GROUP BY 1)
        |SELECT g.doc_id, CAST(g.n AS BIGINT) AS n_tokens,
        |  CASE WHEN g.n >= 2 THEN CAST(g.n - 1 - len(list_distinct(g2))
        |    AS DOUBLE) / CAST(g.n - 1 AS DOUBLE) ELSE 0.0 END
        |    AS dup_bigram_frac,
        |  CASE WHEN g.n >= 3 THEN CAST(g.n - 2 - len(list_distinct(g3))
        |    AS DOUBLE) / CAST(g.n - 2 AS DOUBLE) ELSE 0.0 END
        |    AS dup_trigram_frac,
        |  CASE WHEN g.n > 0 THEN CAST(tw.mx AS DOUBLE) /
        |    CAST(g.n AS DOUBLE) ELSE 0.0 END AS top_word_frac
        |FROM g LEFT JOIN tw USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q32_lang_id" ->
      """WITH c AS (SELECT doc_id,
        | len(list_intersect(string_split_regex(text,'\s+'), ['the','a','key','fast'])) c_en,
        | len(list_intersect(string_split_regex(text,'\s+'), ['data','row','table','scan'])) c_es,
        | len(list_intersect(string_split_regex(text,'\s+'), ['join','merge','sort','agg'])) c_fr
        |FROM documents)
        |SELECT doc_id, CASE WHEN c_en>=c_es AND c_en>=c_fr THEN 'en'
        |  WHEN c_es>=c_fr THEN 'es' ELSE 'fr' END AS lang_guess
        |FROM c ORDER BY doc_id""".stripMargin,
    "q33_quality" ->
      """SELECT doc_id, length(text) AS n_chars,
        | len(string_split_regex(text,'\s+')) AS n_tokens,
        | CASE WHEN length(text) = 0 THEN 0.0
        |      ELSE CAST(length(regexp_replace(text,'[^A-Za-z]','','g')) AS DOUBLE)
        |           / CAST(length(text) AS DOUBLE) END AS alpha_ratio,
        | CAST(length(text) - len(string_split_regex(text,'\s+')) + 1 AS DOUBLE)
        |   / CAST(len(string_split_regex(text,'\s+')) AS DOUBLE) AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q34_fingerprint" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(text,'\s+') t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7],' ') s
        |       FROM toks, unnest(generate_series(1, len(t)-7)) u(i)
        |       WHERE len(t) >= 8
        |       UNION ALL
        |       SELECT doc_id, array_to_string(t,' ') FROM toks WHERE len(t) < 8)
        |SELECT doc_id, min(md5(s)) AS fingerprint FROM sh GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q35_minhash_lsh" -> minhashSql(""),
    // the streaming band index (q187, AnalyticQueries) must reproduce
    // the batch LSH pair set — same ground truth as q35
    "q187_streaming_band_index" -> minhashSql(""),
    "q166_bpe_apply" -> bpeApplySql,
    "q188_bpe_train" -> bpeTrainSql(8),
    // same full pipeline; a pair involves a new (id >= 250) doc exactly
    // when its LARGER id is new
    "q84_minhash_delta" -> minhashSql("AND b_id >= 250 "),
    "q36_ngram_jaccard" -> exactJaccardSql,
    // the prefix-filter join faces the SAME ground truth as the
    // quadratic shared-shingle pass — third independent
    // implementation, one oracle (the q139/q164 device)
    "q183_prefix_jaccard_join" -> exactJaccardSql,
    // q98: replays Multimodal.phashFromGrid over the synthetic grids in
    // pure integer SQL — grid bytes from the same md5 chain, the 8x32
    // fixed-point DCT basis embedded as the SAME integers the Scala
    // side computed (phashBasisSql), lower-median threshold, 4x16-bit
    // chunk banding, bit_count(xor) verification. Integer arithmetic
    // end to end: no float cos, no summation-order sensitivity.
    "q98_phash_neardup" ->
      ((s"""WITH bas AS (SELECT * FROM (VALUES $phashBasisSql) AS t(u, x, w)),
        |ids AS (SELECT doc_id, doc_id // 2 * 2 AS g FROM documents),
        |bb AS (SELECT UNNEST(generate_series(0,63)) AS b),
        |jj AS (SELECT UNNEST(generate_series(0,15)) AS j),
        |px0 AS (SELECT i.doc_id, bb.b*16 + jj.j AS p,
        |         CAST(concat('0x', substr(md5(concat(CAST(i.g AS VARCHAR),
        |           '#', CAST(bb.b AS VARCHAR))), jj.j*2+1, 2)) AS BIGINT) AS v
        |        FROM ids i, bb, jj),
        |px AS (SELECT doc_id, p,
        |        CASE WHEN doc_id % 2 = 1 AND p = doc_id % 1024
        |             THEN (v + 40) % 256 ELSE v END AS v
        |       FROM px0),
        |t AS (SELECT px.doc_id, bas.u, px.p % 32 AS c, SUM(bas.w * px.v) AS tv
        |      FROM px JOIN bas ON bas.x = px.p // 32
        |      GROUP BY 1, 2, 3),
        |coef AS (SELECT t.doc_id, t.u, b2.u AS v, SUM(b2.w * t.tv) AS cf
        |         FROM t JOIN bas b2 ON b2.x = t.c
        |         GROUP BY 1, 2, 3),
        |ac AS (SELECT doc_id, u*8 + v - 1 AS i, cf FROM coef
        |       WHERE NOT (u = 0 AND v = 0)),
        |med AS (SELECT doc_id, list_sort(list(cf))[32] AS m FROM ac GROUP BY 1),
        |sg AS (SELECT a.doc_id,
        |        CAST(SUM(CASE WHEN a.cf > m.m THEN (1::BIGINT << a.i)
        |                 ELSE 0 END) AS BIGINT) AS sig
        |       FROM ac a JOIN med m USING (doc_id) GROUP BY 1),
        |""").stripMargin + hammingBandTailSql),
    // q103: replays Multimodal.syntheticEnvelope +
    // fingerprintFromEnvelope in SQL — envelope bytes from the same
    // md5 chain ('g@b' seeds), the odd-id +40 nudge, derivative-sign
    // bits (b.p = a.p + 1 join), then the SAME banding tail as q98.
    // Integer comparisons end to end.
    "q103_audio_fp_neardup" ->
      (("""WITH ids AS (SELECT doc_id, doc_id // 2 * 2 AS g FROM documents),
        |bb AS (SELECT UNNEST(generate_series(0,3)) AS b),
        |jj AS (SELECT UNNEST(generate_series(0,15)) AS j),
        |env0 AS (SELECT i.doc_id, bb.b*16 + jj.j AS p,
        |          CAST(concat('0x', substr(md5(concat(CAST(i.g AS VARCHAR),
        |            '@', CAST(bb.b AS VARCHAR))), jj.j*2+1, 2)) AS BIGINT) AS v
        |         FROM ids i, bb, jj),
        |env AS (SELECT doc_id, p,
        |         CASE WHEN doc_id % 2 = 1 AND p = doc_id % 64
        |              THEN (v + 40) % 256 ELSE v END AS v
        |        FROM env0),
        |sg AS (SELECT a.doc_id,
        |        CAST(SUM(CASE WHEN b.v > a.v THEN (1::BIGINT << a.p)
        |                 ELSE 0 END) AS BIGINT) AS sig
        |       FROM env a JOIN env b ON b.doc_id = a.doc_id AND b.p = a.p + 1
        |       WHERE a.p < 63
        |       GROUP BY 1),
        |""").stripMargin + hammingBandTailSql),
    "q37_simhash" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(text,'\s+')) tok FROM documents),
        |th AS (SELECT doc_id, CAST(concat('0x',substr(md5(tok),1,15)) AS BIGINT) h FROM toks),
        |bits AS (SELECT doc_id, i, SUM(((h >> i) & 1)*2 - 1) v
        |         FROM th, unnest(generate_series(0,59)) u(i) GROUP BY 1,2),
        |sims AS (SELECT doc_id, CAST(SUM(CASE WHEN v>0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) sim
        |         FROM bits GROUP BY 1),
        |chunks AS (SELECT doc_id, sim, c, (sim >> (15*c)) & 32767 AS v
        |           FROM sims, unnest(generate_series(0,3)) u(c)),
        |cand AS (SELECT DISTINCT x.doc_id a_id, y.doc_id b_id, x.sim sa, y.sim sb
        |         FROM chunks x JOIN chunks y ON x.c=y.c AND x.v=y.v AND x.doc_id<y.doc_id)
        |SELECT a_id, b_id, CAST(bit_count(xor(sa,sb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sa,sb))<=3 ORDER BY a_id, b_id""".stripMargin,
    "q39_redact" ->
      """SELECT doc_id,
        | md5(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   'https?://[^\s]+', '<URL>', 'g'),
        |   '[0-9]{6,}', '<NUM>', 'g')) AS redacted_hash,
        | length(text) - length(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   'https?://[^\s]+', '<URL>', 'g'),
        |   '[0-9]{6,}', '<NUM>', 'g')) AS chars_removed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q38_dedup_prefix" ->
      """SELECT md5(array_to_string(string_split_regex(text,'\s+')[1:5],' ')) AS prefix_hash,
        | MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 HAVING COUNT(*)>1 ORDER BY prefix_hash""".stripMargin,
    "q83_encode_tokens" ->
      """WITH tok AS (SELECT unnest(string_split_regex(text,'\s+')) AS term FROM documents),
        |v AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |r AS (SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS BIGINT) AS rank FROM v),
        |dt AS (SELECT t.doc_id, u.i, t.t[u.i] AS term
        |       FROM (SELECT doc_id, string_split_regex(text,'\s+') AS t FROM documents) t,
        |            unnest(generate_series(1, len(t.t))) u(i))
        |SELECT dt.doc_id,
        |  string_agg(CAST(COALESCE(r.rank, 0) AS VARCHAR), ',' ORDER BY dt.i) AS ids
        |FROM dt LEFT JOIN r USING (term)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q129: brute-force levenshtein scan over the same vocabulary —
    // independently reaches what the deletion-neighborhood join +
    // verify filter computes
    "q129_spell_candidates" ->
      """WITH tok AS (SELECT unnest(string_split_regex(text,'\s+')) AS term FROM documents),
        |v AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |q AS (SELECT unnest(['tble','scann','vakue','spork','sow',
        |  'agg','zzzz']) AS query_term)
        |SELECT q.query_term, v.term, v.cnt,
        |  CAST(levenshtein(q.query_term, v.term) AS BIGINT) AS distance
        |FROM q CROSS JOIN v
        |WHERE levenshtein(q.query_term, v.term) <= 1
        |ORDER BY query_term, term""".stripMargin,
    "q81_vocabulary" ->
      """WITH tok AS (SELECT unnest(string_split_regex(text,'\s+')) AS term FROM documents),
        |v AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM v)
        |SELECT term, cnt,
        |  CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS BIGINT) AS rank,
        |  CAST(SUM(cnt) OVER (ORDER BY cnt DESC, term ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(t.total AS DOUBLE) AS coverage
        |FROM v, t ORDER BY rank""".stripMargin,
    "q76_incremental_new" ->
      """SELECT n.doc_id, n.source FROM documents n
        |WHERE n.doc_id >= 100 AND NOT EXISTS (
        |  SELECT 1 FROM documents e WHERE e.doc_id < 100
        |  AND md5(array_to_string(string_split_regex(e.text,'\s+')[1:5],' ')) =
        |      md5(array_to_string(string_split_regex(n.text,'\s+')[1:5],' ')))
        |ORDER BY n.doc_id""".stripMargin,
    // same fixed-stride starts with the same tail-drop rule; DuckDB
    // slices are 1-based inclusive, so tk[s:s+31] is Spark's
    // slice(t, s, 32)
    "q91_chunk_tokens" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text,'\s+') AS tk FROM documents),
        |st AS (SELECT doc_id, tk, CAST(u.s AS INTEGER) AS s
        |       FROM t, unnest(generate_series(1, len(tk), 24)) u(s)
        |       WHERE u.s = 1 OR u.s + 8 <= len(tk))
        |SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS INTEGER) AS chunk_id,
        |  s AS start_token,
        |  len(tk[s:s+31]) AS n_tokens,
        |  md5(array_to_string(tk[s:s+31],' ')) AS chunk_hash
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,
    // the full minhash pipeline + q73's recursive min-reachable closure
    // over the verified pairs + the per-cluster (alpha_ratio DESC, id)
    // argmax window; alpha_ratio is one exact-integer division (q33's
    // device), so the DOUBLE column hash-matches
    "q90_canonical_keep" ->
      (minhashCoreCte.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
        |pr AS (SELECT a_id, b_id
        |       FROM inter JOIN sizes sa ON a_id=sa.doc_id
        |                  JOIN sizes sb ON b_id=sb.doc_id
        |       WHERE CAST(i AS DOUBLE)/(sa.n+sb.n-i) >= 0.5),
        |sym AS (SELECT a_id AS v, b_id AS u FROM pr
        |        UNION SELECT b_id, a_id FROM pr),
        |reach(v, r) AS (
        |  SELECT v, v FROM (SELECT DISTINCT v FROM sym)
        |  UNION
        |  SELECT s.v, reach.r FROM sym s JOIN reach ON s.u = reach.v),
        |cc AS (SELECT v, MIN(r) AS comp FROM reach GROUP BY v),
        |q AS (SELECT doc_id,
        |       CASE WHEN length(text) = 0 THEN 0.0
        |            ELSE CAST(length(regexp_replace(text,'[^A-Za-z]','','g')) AS DOUBLE)
        |                 / CAST(length(text) AS DOUBLE) END AS alpha_ratio
        |      FROM documents),
        |j AS (SELECT q.doc_id, COALESCE(cc.comp, q.doc_id) AS cluster,
        |             q.alpha_ratio
        |      FROM q LEFT JOIN cc ON q.doc_id = cc.v)
        |SELECT doc_id, cluster, alpha_ratio,
        |  CASE WHEN ROW_NUMBER() OVER (PARTITION BY cluster
        |         ORDER BY alpha_ratio DESC, doc_id ASC) = 1
        |       THEN 1 ELSE 0 END AS is_kept
        |FROM j ORDER BY doc_id""".stripMargin),
    // grams group by VALUE here (Spark groups their xxhash64 — same
    // counts barring ~1e-8 64-bit collisions); span merge is the same
    // running-max-end window on both sides
    "q75_dup_spans" ->
      (dupSpanCte + """
        |SELECT doc_id, COUNT(*) AS n_dup_spans, CAST(SUM(en-st+1) AS BIGINT) AS dup_chars
        |FROM spans GROUP BY 1 ORDER BY doc_id""".stripMargin),
    // q105: q75's span table complemented into kept segments (LAG over
    // the disjoint sorted spans + a max-end tail), re-joined in order
    // with an ORDER BY'd string_agg — mirrors removeDuplicateSpans'
    // sort_array/concat_ws reassembly. Span-free docs pass through;
    // fully-duplicated docs hash the empty string.
    "q105_remove_dup_spans" ->
      (dupSpanCte + """,
        |lens AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |heads AS (SELECT doc_id,
        |           COALESCE(LAG(en) OVER (PARTITION BY doc_id ORDER BY st), 0) + 1 AS ks,
        |           st - 1 AS ke
        |          FROM spans),
        |tails AS (SELECT doc_id, MAX(en) + 1 AS ks, NULL AS ke
        |          FROM spans GROUP BY doc_id),
        |seg AS (SELECT u.doc_id, u.ks, COALESCE(u.ke, l.len) AS ke, l.text
        |        FROM (SELECT * FROM heads UNION ALL SELECT * FROM tails) u
        |        JOIN lens l USING (doc_id)),
        |kept AS (SELECT doc_id,
        |          string_agg(substr(text, ks, ke - ks + 1), '' ORDER BY ks) AS cleaned
        |         FROM seg WHERE ke >= ks GROUP BY doc_id),
        |hassp AS (SELECT DISTINCT doc_id FROM spans)
        |SELECT l.doc_id,
        |  md5(CASE WHEN h.doc_id IS NULL THEN l.text
        |      ELSE COALESCE(k.cleaned, '') END) AS clean_hash,
        |  CAST(l.len - CASE WHEN h.doc_id IS NULL THEN l.len
        |               ELSE COALESCE(length(k.cleaned), 0) END AS BIGINT) AS chars_removed
        |FROM lens l LEFT JOIN hassp h USING (doc_id)
        |LEFT JOIN kept k ON k.doc_id = l.doc_id
        |ORDER BY l.doc_id""".stripMargin))
}
