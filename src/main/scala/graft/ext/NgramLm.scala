package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokens

/** N-gram language models over whitespace tokens, generic over the
  * n-gram order (1–3) and the smoother: train a probability table,
  * and score documents against a trained model, as exact floor-e9
  * integers. No logarithm on purpose — log is libm-dependent and
  * would break hash replay; the mean probability ranks fluent against
  * scrambled text the same way, which is all a curation gate needs.
  *
  * A model is its count tables by order (`ngrams` output, order k →
  * (w1..wk, n)). The Kneser–Ney family reads only the top order: every
  * lower level is the continuation count of the level above it
  * (Chen/Goodman 1999 — the bigram level of a KN trigram model is NOT
  * the raw bigram LM). Witten–Bell and Stupid Backoff read the true
  * per-order counts of orders 1..n (counted from the corpus directly,
  * the Brants et al. 2007 convention; derived from a higher order they
  * would drop each document's tail tokens). Pass MATERIALIZED count
  * tables ([[train]]): every model table derives from them several
  * times and Spark has no common-subplan dedup.
  *
  * Each smoother has ONE level formula, P = seen term + backoff mass ·
  * lower, where `lower` is the next level down (the continuation
  * unigram pre/B, or for Witten–Bell the unigram MLE c/N, at the
  * bottom). Training evaluates it on every seen n-gram; serving
  * evaluates the same formula with the seen term dropped for unseen
  * n-grams of a known context, falls back to `lower` itself for an
  * unknown context, and scores 0 for a word with no mass at all (the
  * score, not the smoother, absorbs it — pass a vocabulary for the
  * `<unk>` convention instead).
  *
  * Floor-e9 staging is the smoother's, kept so every intermediate
  * stays inside DECIMAL(38,0) at 100 TB counts (n ~ 10¹², |types| ~
  * 10¹⁰) and floor `div` agrees with any engine's `//` on
  * non-negatives:
  *   - Fixed composes through the exact pre/B at the lowest KN level
  *     and through the level below's floored p_e9 above that;
  *   - Estimated floors pc_e9 = pre·10⁹ div B first (the single
  *     fraction would need n·M·B·10⁹ ~ 10⁴¹);
  *   - Modified pre-floors its discounts and composes in one stage per
  *     level; Witten–Bell is one fraction per level; Stupid Backoff one
  *     fraction per branch.
  * A composition through a floored lower level differs from the true
  * rational by < 1 ulp. */
object NgramLm {

  /** How a level splits its mass between seen n-grams and the level
    * below. */
  sealed trait Smoother

  /** Interpolated Kneser–Ney (Kneser/Ney 1995) with the discount pinned
    * at D = 3/4, so every probability is an exact rational:
    * P = (c − D)/c_ctx + (D·post/c_ctx)·lower, post = distinct
    * continuations of the context.
    *   - lower = num/den: ((4c − 3)·den + 3·post·num)·10⁹ div
    *     (4·c_ctx·den) — numerator ≤ 4·10⁹·n·B ~ 4·10³¹;
    *   - lower = p_e9: ((4c − 3)·10⁹ + 3·post·p_e9) div (4·c_ctx) —
    *     numerator ~ 10²².
    * c ≥ 1 on a seen n-gram, so the max(c − D, 0) clip never fires. */
  case object Fixed extends Smoother

  /** Kneser–Ney with Ney's ESTIMATED discount D = n₁/(n₁ + 2n₂) per
    * level (Ney/Essen/Kneser 1994), n₁/n₂ = that level's n-gram types
    * seen exactly once/twice. With M = n₁ + 2n₂:
    * P = ((c·M − n₁)·10⁹ + n₁·post·lower_e9) div (c_ctx·M) — c·M·10⁹ ~
    * 10³¹, n₁·post·lower_e9 ~ 10²⁵. c·M − n₁ ≥ 2n₂ ≥ 0, so the seen
    * term needs no clip. Degenerate level (M = 0, no singletons or
    * doubletons): D is 0/0 — the convention is D = 0, the unsmoothed
    * ML estimate c·10⁹ div c_ctx, and zero backoff mass. */
  case object Estimated extends Smoother

  /** MODIFIED Kneser–Ney (Chen/Goodman 1999 — what SRILM and KenLM
    * ship): three discounts per level indexed by the count, D(c) = D₁,
    * D₂, D₃₊ for c = 1, 2, ≥ 3, estimated from the level's
    * count-of-counts n₁..n₄ and pre-floored e9 (see [[discounts]]);
    * γ(ctx) = D₁·K₁ + D₂·K₂ + D₃₊·K₃₊ over the context's type counts
    * Kₖ = |{w : c(ctx, w) = k}| (K₃₊ for ≥ 3). One stage per level:
    * P = ((c·10⁹ − D(c)_e9)·den + γ_e9·num) div (c_ctx·den), den = 10⁹
    * above the bottom level — c·10¹⁸ ~ 10³⁰, γ_e9·p_e9 ~ 10²⁵. Each
    * Dᵢ ≤ i ≤ c, so c·10⁹ − D(c)_e9 ≥ 0. M = 0 → all discounts 0 (ML,
    * γ = 0). */
  case object Modified extends Smoother

  /** WITTEN–BELL interpolation (Witten/Bell 1991 method C, the PPM
    * escape — Chen/Goodman's baseline): λ(ctx) = c_ctx/(c_ctx + T),
    * T = distinct continuations of the context, against the UNIGRAM
    * MLE c(w)/N rather than KN's continuation distribution. With lower
    * = num/den the level is ONE fraction, (c·den + T·num)·10⁹ div
    * ((c_ctx + T)·den), so a single floor loses < 1 ulp; c₁₂·N·10⁹ <
    * 10³⁸ holds through ~10¹⁴ corpus tokens. */
  case object WittenBell extends Smoother

  /** STUPID BACKOFF (Brants/Popat/Xu/Och/Dean 2007, §4): the smoother
    * built for corpus scale — no continuation statistics and no
    * normalization, so each order trains in one counting pass. S =
    * seen ? c/c_ctx : (2/5)·lower, bottoming out at c(w)/N; α = 2/5 is
    * an exact rational, so each branch is one exact fraction floored
    * once. S is a SCORE, not a probability (it does not sum to 1 — the
    * paper's deliberate trade), so there is no probability table; a
    * seen n-gram implies its context was counted too (every order
    * counts the same corpus), so no branch divides by zero. */
  case object StupidBackoff extends Smoother

  /** The reserved out-of-vocabulary token (the SRILM/KenLM `<unk>`
    * convention). Whitespace tokenization cannot emit it from clean
    * text; a corpus that could contain the literal should be
    * [[TextAnalysis.unicodeClean]]ed or escaped first. */
  val UnkToken = "<unk>"

  /** The word columns of an order-`order` n-gram: w1..wn. */
  def words(order: Int): Seq[String] = (1 to order).map(i => s"w$i")

  /** The per-doc instance-count column of [[facts]] and [[finish]]. */
  def countCol(order: Int): String =
    Seq("n_unigrams", "n_bigrams", "n_trigrams")(order - 1)

  /** Adjacent n-grams of the non-empty whitespace tokens of `textCol`,
    * for orders 1–3. With `idCol`, the per-doc INSTANCES (idCol,
    * w1..wn) the scorers join against a model; without it, the corpus
    * COUNT table (w1..wn, n) — one in-scan explode plus ONE
    * aggregation whose map-side partials collapse repeats, so the
    * shuffle carries collapsed n-gram tuples, never the corpus.
    *
    * The n-grams are a zip of n offset slices of length size − (n − 1),
    * floored at 0: a doc with fewer than n tokens gets empty slices and
    * emits nothing (`sequence(1, 0)` would count DOWN and fabricate a
    * bogus n-gram — the trap this spelling avoids). */
  def ngrams(df: DataFrame, textCol: String, order: Int,
      idCol: Option[String]): DataFrame = {
    require(order >= 1 && order <= 3, s"order must be 1..3 (got $order)")
    val ids = idCol.map(col).toSeq
    val t = col("__t")
    val len = greatest(size(t) - (order - 1), lit(0))
    val grams = df
      .select(ids :+ filter(tokens(col(textCol)), w => length(w) > 0)
        .as("__t"): _*)
      .select(ids :+ explode(arrays_zip(words(order).zipWithIndex.map {
          case (w, i) => slice(t, lit(i + 1), len).as(w)
        }: _*)).as("__g"): _*)
      .select(ids ++ words(order).map(w => col("__g").getField(w).as(w)): _*)
    if (idCol.isDefined) grams
    else grams.groupBy(words(order).map(col): _*).agg(count(lit(1)).as("n"))
  }

  /** The count tables `smoother` reads for an order-`order` model,
    * each checkpointed once (the trained artifact): the order-`order`
    * table for the Kneser–Ney family, every order 1..`order` for
    * Witten–Bell and Stupid Backoff. */
  def train(df: DataFrame, textCol: String, order: Int,
      smoother: Smoother): Map[Int, DataFrame] = {
    val orders = smoother match {
      case WittenBell | StupidBackoff => 1 to order
      case _ => Seq(order)
    }
    orders.map(k => k -> ngrams(df, textCol, k, None).localCheckpoint(true))
      .toMap
  }

  /** The Kneser–Ney continuation statistics over a (w1, w2, n) bigram
    * table: `n1plus_pre` = |{w : c(w, w2) > 0}| (distinct LEFT contexts
    * of w2 — the KN unigram numerator) and `n1plus_post` =
    * |{w : c(w1, w) > 0}| (distinct continuations of w1 — the
    * normalizer). All exact BIGINTs. */
  def continuationTable(counts: DataFrame): DataFrame = {
    val pre = counts.groupBy(col("w2"))
      .agg(count(lit(1)).as("n1plus_pre"))
    val post = counts.groupBy(col("w1"))
      .agg(count(lit(1)).as("n1plus_post"))
    counts.join(pre, Seq("w2")).join(post, Seq("w1"))
      .select("w1", "w2", "n", "n1plus_pre", "n1plus_post")
  }

  /** Top-K training vocabulary by (unigram count desc, word asc) — the
    * truncation every production n-gram LM applies before training
    * (SRILM's sorted-vocab cutoff): the K most frequent words stay, the
    * rest map to [[UnkToken]]. Rank-based, so the same K means the same
    * thing at every corpus scale; a global top-K
    * (TakeOrderedAndProject — no full sort). Ties break on the word. */
  def vocabTopK(train: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    ngrams(train, textCol, 1, None)
      .orderBy(col("n").desc, col("w1")).limit(k)
      .select(col("w1").as("word"))
  }

  /** Fold an order-`order` count table into `vocab`: out-of-vocabulary
    * words become [[UnkToken]] and the collapsed rows re-aggregate.
    * Truncation is a pure function of the word, so it distributes over
    * the count table — model-sized work, the corpus is never re-read. */
  def withUnk(counts: DataFrame, order: Int, vocab: DataFrame): DataFrame =
    inVocab(counts, order, vocab)
      .groupBy(words(order).map(col): _*).agg(sum(col("n")).as("n"))

  /** Map the word columns of `grams` into `vocab` (a `word` column):
    * one broadcast dim join per word, map-side. */
  private def inVocab(grams: DataFrame, order: Int,
      vocab: DataFrame): DataFrame = {
    val ws = words(order)
    ws.foldLeft(grams) { (df, w) =>
        df.join(broadcast(vocab.select(col("word").as(w),
          lit(1).as(s"__v$w"))), Seq(w), "left")
      }
      .select(grams.columns.toSeq.map(c =>
        if (ws.contains(c)) {
          when(col(s"__v$c").isNotNull, col(c))
            .otherwise(lit(UnkToken)).as(c)
        } else col(c)): _*)
  }

  /** The smoothed probability table of an order-`order` model: the
    * top-order count table with each level's floor-e9 probability and
    * the estimated discounts (for the training report), named
    * p_e9 / d_e9 / d1_e9..d3_e9 at order 2 and per level (p2_e9, p3_e9,
    * d3_e9, d31_e9, …) at order 3.
    *
    * Scale shape: per level, one aggregation over that level's
    * COLLAPSED table (context totals and type counts) joined back on
    * its keys, the continuation tables re-aggregated from the level
    * above; the 1-row totals and count-of-counts broadcast. Nothing
    * here touches the corpus. */
  def probabilities(model: Map[Int, DataFrame], order: Int,
      smoother: Smoother): DataFrame = {
    require(smoother != StupidBackoff,
      "Stupid Backoff scores are not probabilities — use facts")
    val lv = new Levels(model, order, smoother, identity)
    val joined = lv.joinLevels(lv.table(order), "inner", lv.ctx,
      lv.stats.toSeq.sortBy(-_._1).map(_._2))
    val withGamma =
      if (smoother != Modified) joined
      else (2 to order).foldLeft(joined)((df, k) =>
        df.withColumn(s"__g$k", lv.gamma(k)))
    val tag = (k: Int) => levelTag(order, k)
    val scored = (2 to order).foldLeft(withGamma) { (df, k) =>
      val p = lv.level(k, Some(col(lv.cnt(k))), lv.lower(k,
        if (k == 2) None else Some(s"p${tag(k - 1)}_e9")))
      df.withColumn(s"p${tag(k)}_e9", p)
    }
    val discounts = (order to 2 by -1).flatMap { k =>
      smoother match {
        case Estimated => Seq(col(s"__d${k}_1").as(s"d${tag(k)}_e9"))
        case Modified => (1 to 3).map(i =>
          col(s"__d${k}_$i").as(s"d${tag(k)}${i}_e9"))
        case _ => Nil
      }
    }
    scored.select((words(order) :+ "n").map(col) ++ discounts ++
      (2 to order).map(k => col(s"p${tag(k)}_e9")): _*)
  }

  /** Per-doc facts of `docs` under the model — (idCol, n_<order>grams,
    * sum_p_e9) WITHOUT the zero-row spine: exactly the shape that
    * streams (explode + stream-static model joins + ONE Update-mode
    * per-doc aggregation; each doc's state is write-once). The spine is
    * [[finish]]'s. With `vocab`, instance words outside it map to
    * [[UnkToken]] before the cascade and the model's counts fold
    * through [[withUnk]], so an unseen word scores the model's real
    * p(`<unk>`|ctx) mass instead of 0 (as long as the training corpus
    * had an out-of-vocabulary word); the folded count-of-counts set the
    * discounts.
    *
    * Scale shape: doc n-gram INSTANCES (the corpus-scale axis) left-join
    * the probability table and, per level, its context and continuation
    * tables — hash joins keyed by the model (broadcast when it is
    * small) — then ONE per-doc aggregation. Discounts are computed once
    * on their 1-row count-of-counts aggregate, and Modified's γ on the
    * model-sized context table, so instance rows carry only the branch
    * pick and its division. */
  def facts(docs: DataFrame, idCol: String, textCol: String,
      model: Map[Int, DataFrame], order: Int, smoother: Smoother,
      vocab: Option[DataFrame]): DataFrame = {
    val pin: DataFrame => DataFrame =
      if (materializes(docs, order, smoother, vocab)) {
        df => broadcast(df.localCheckpoint(true))
      } else identity
    val counts = vocab.fold(model)(v =>
      model.map { case (k, t) => k -> pin(withUnk(t, k, v)) })
    val grams = ngrams(docs, textCol, order, Some(idCol))
    val inst = vocab.fold(grams)(inVocab(grams, order, _))
    val p = smoother match {
      case StupidBackoff => backoffScores(inst, counts, order, pin)
      case _ => interpolatedScores(inst, counts, order, smoother, pin)
    }
    p.groupBy(col(idCol))
      .agg(count(lit(1)).as(countCol(order)), sum(col("__p")).as("sum_p_e9"))
  }

  /** Whether [[facts]] checkpoints its model tables (and hints them for
    * broadcast). A stream-static join re-optimizes and re-executes its
    * static side on every micro-batch (at the stream's state-partition
    * count — AQE is off in streaming); checkpointing first trades that
    * for driver-sequential jobs before the stream starts. Min5 A/Bs at
    * sf0.1 measured the trade as paying only where the static side is
    * DEEP: open vocabulary (vocab fold + `<unk>` re-aggregation, q291
    * 4.22 → 2.84–3.18 s) and the order-3 Estimated and Modified models
    * (seven derived tables; q282 4.57/5.41 → 4.44/5.24 s, q286
    * 4.88/5.45 → 4.63/5.46 s over two interleaved rounds — inside the
    * noise band, never worse). It lost on every shallower serve (q260
    * 2.48 → 3.02 s, q268 3.96 → 4.71 s; Witten–Bell inconsistent across
    * windows) and on every batch path (q269 1.42 → 1.66 s, q288 1.85 →
    * 2.10, q292 1.60 → 1.95, q301 2.14 → 2.51, q279 2.37 → 2.98).
    * Checkpointing only cuts lineage, so values are unchanged. */
  private[graft] def materializes(docs: DataFrame, order: Int,
      smoother: Smoother, vocab: Option[DataFrame]): Boolean =
    docs.isStreaming && (vocab.isDefined ||
      (order == 3 && (smoother == Estimated || smoother == Modified)))

  /** Score every doc: the per-doc n-gram count, `sum_p_e9` and its
    * floor mean `mean_p_e9`; docs too short for one n-gram keep a zero
    * row. Equal to [[finish]] over [[facts]]. */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
      model: Map[Int, DataFrame], order: Int, smoother: Smoother,
      vocab: Option[DataFrame]): DataFrame =
    finish(docs.select(col(idCol)).distinct(),
      facts(docs, idCol, textCol, model, order, smoother, vocab),
      idCol, order)

  /** Left-join per-doc `facts` onto the full id `spine` (docs with no
    * facts row keep a zero row) and derive the floor mean. A streaming
    * row's folded facts finish through this same method. */
  def finish(spine: DataFrame, facts: DataFrame, idCol: String,
      order: Int): DataFrame = {
    val n = countCol(order)
    spine
      .join(facts, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col(n), lit(0L)).as(n),
        coalesce(col("sum_p_e9"), lit(0L)).as("sum_p_e9"))
      .withColumn("mean_p_e9",
        when(col(n) > 0, idiv(col("sum_p_e9"), col(n))).otherwise(lit(0L)))
  }

  /** Level k's tag in [[probabilities]]' column names: none in an
    * order-2 table (p_e9, d1_e9), the level otherwise (p3_e9, d31_e9). */
  private def levelTag(order: Int, k: Int): String =
    if (order == 2) "" else k.toString

  private def dec(c: Column): Column = c.cast("decimal(38,0)")
  private def dec(v: Long): Column = lit(v).cast("decimal(38,0)")
  private val E9 = dec(1000000000L)
  /** Floor division (`div`): exact on DECIMAL(38,0), BIGINT out. */
  private def idiv(a: Column, b: Column): Column = call_function("div", a, b)
  /** How many rows satisfy `p` — the count-of-counts aggregate. */
  private def rowsWhere(p: Column): Column = sum(when(p, 1L).otherwise(0L))

  /** A level's lower-order distribution: `num/den`, or with `den` None
    * a floor-e9 value `num`. `known` is false where it has no mass. */
  private case class Lower(num: Column, den: Option[Column], known: Column) {
    def e9: Column = den.fold(num)(d => idiv(dec(num) * E9, dec(d)))
  }

  /** The interpolation levels of an order-`order` model. Level k is
    * keyed by the last k words with count column `cnt(k)`; level
    * `order` is the model's count table, level 1 the unigram bottom.
    * `pin` wraps every table derived from the counts (a checkpoint
    * where [[materializes]] holds, else identity). */
  private final class Levels(model: Map[Int, DataFrame], order: Int,
      smoother: Smoother, pin: DataFrame => DataFrame) {
    require(order >= 2 && order <= 3, s"order must be 2..3 (got $order)")
    def keys(k: Int): Seq[String] = words(order).takeRight(k)
    def ctxKeys(k: Int): Seq[String] = keys(k).init
    def cnt(k: Int): String = if (k == order) "n" else s"__c$k"
    private def cc: Int = smoother match {
      case Estimated => 2
      case Modified => 4
      case _ => 0
    }

    /** Kneser–Ney: each level below the top counts the distinct words
      * preceding its n-gram in the level above. Witten–Bell: the true
      * per-order counts. */
    val table: Map[Int, DataFrame] = smoother match {
      case WittenBell => (1 to order).map(k => k -> (if (k == order) {
          model(k)
        } else pin(model(k).select(words(k).zip(keys(k)).map {
            case (w, key) => col(w).as(key)
          } :+ col("n").as(cnt(k)): _*)))).toMap
      case _ => (order - 1 to 1 by -1).foldLeft(Map(order -> model(order))) {
          (t, k) => t + (k -> pin(t(k + 1).groupBy(keys(k).map(col): _*)
            .agg(count(lit(1)).as(cnt(k)))))
        }
    }

    /** 1-row aggregates per level: the bottom normalizer B (distinct
      * bigram-level types for KN, N = Σ unigram counts for Witten–Bell)
      * rides level 2's; the count-of-counts and the discounts derived
      * from them ride every level's. */
    val stats: Map[Int, DataFrame] = (order to 2 by -1)
      .filter(k => k == 2 || cc > 0).map { k =>
        val c = col(cnt(k))
        val (src, b) =
          if (k != 2) (table(k), Nil)
          else if (smoother == WittenBell) {
            (table(1), Seq(sum(col(cnt(1))).as("__b")))
          } else (table(k), Seq(count(lit(1)).as("__b")))
        val aggs = b ++ (1 to cc).map(i => rowsWhere(c === i).as(s"__n${k}_$i"))
        val raw = src.agg(aggs.head, aggs.tail: _*)
        k -> pin(smoother match {
          case Estimated => discounts(raw, k, 1)
          case Modified => discounts(raw, k, 3).select(
            ((if (k == 2) Seq("__b") else Nil) ++
              (1 to 3).map(i => s"__d${k}_$i")).map(col): _*)
          case _ => raw
        })
      }.toMap

    /** Per-context aggregates of level k: the total, and the distinct
      * continuations (or Modified's K₁, K₂, K₃₊). */
    def ctxAgg(k: Int): DataFrame = {
      val c = col(cnt(k))
      val types =
        if (smoother == Modified) {
          Seq(rowsWhere(c === 1).as(s"__k${k}_1"),
            rowsWhere(c === 2).as(s"__k${k}_2"),
            rowsWhere(c >= 3).as(s"__k${k}_3"))
        } else Seq(count(lit(1)).as(s"__post$k"))
      table(k).groupBy(ctxKeys(k).map(col): _*)
        .agg(sum(c).as(s"__tot$k"), types: _*)
    }

    val ctx: Map[Int, DataFrame] =
      (order to 2 by -1).map(k => k -> ctxAgg(k)).toMap

    /** Modified's γ_e9 = d₁·K₁ + d₂·K₂ + d₃·K₃₊ of level k. */
    def gamma(k: Int): Column = (1 to 3).map(i =>
      dec(col(s"__d${k}_$i")) * col(s"__k${k}_$i")).reduce(_ + _)

    /** Join the context tables, every lower level's table and the
      * bottom level onto `top` (keyed by all of the model's words), then
      * cross-join the 1-row `rowStats`. */
    def joinLevels(top: DataFrame, how: String, ctxs: Map[Int, DataFrame],
        rowStats: Seq[DataFrame]): DataFrame = {
      val levels = (order to 2 by -1).foldLeft(top) { (df, k) =>
        val withLevel =
          if (k == order) df else df.join(table(k), keys(k), how)
        withLevel.join(ctxs(k), ctxKeys(k), how)
      }
      rowStats.foldLeft(levels.join(table(1), keys(1), how))(
        (df, s) => df.crossJoin(broadcast(s)))
    }

    /** Level k's lower distribution: the bottom level over B, or the
      * floor-e9 probability column of level k − 1. */
    def lower(k: Int, below: Option[String]): Lower = below match {
      case None => Lower(col(cnt(1)), Some(col("__b")), col(cnt(1)).isNotNull)
      case Some(p) => Lower(col(p), None, lit(true))
    }

    /** The smoother's level formula at level k; `c` None drops the seen
      * term (an unseen n-gram of a known context). */
    def level(k: Int, c: Option[Column], lower: Lower): Column = {
      val tot = dec(col(s"__tot$k"))
      smoother match {
        case Fixed =>
          val mass = dec(3L) * dec(col(s"__post$k")) * dec(lower.num)
          val seen = c.map(n => dec(4L) * dec(n) - dec(3L))
          lower.den match {
            case Some(d) => idiv(E9 * seen.fold(mass)(_ * dec(d) + mass),
              dec(4L) * tot * dec(d))
            case None => idiv(seen.fold(mass)(_ * E9 + mass), dec(4L) * tot)
          }
        case Estimated =>
          val n1 = col(s"__n${k}_1")
          val m = col(s"__m$k")
          val mass = dec(n1) * col(s"__post$k") * lower.e9
          when(m > 0, idiv(
              c.fold(mass)(n => (dec(n) * m - n1) * E9 + mass), tot * m))
            .otherwise(c.fold(lit(0L))(n => idiv(dec(n) * E9, tot)))
        case Modified =>
          val d = dec(lower.den.getOrElse(E9))
          val mass = col(s"__g$k") * lower.num
          c.fold(idiv(mass, tot * d)) { n =>
            val dsel = when(n === 1, col(s"__d${k}_1"))
              .when(n === 2, col(s"__d${k}_2")).otherwise(col(s"__d${k}_3"))
            idiv((dec(n) * E9 - dsel) * d + mass, tot * d)
          }
        case WittenBell =>
          val t = col(s"__post$k")
          val mass = dec(t) * lower.num
          lower.den match {
            case Some(d) => idiv(c.fold(mass)(n => dec(n) * d + mass) * E9,
              (tot + t) * d)
            case None => idiv(c.fold(mass)(n => dec(n) * E9 + mass), tot + t)
          }
        case StupidBackoff =>
          throw new IllegalArgumentException("Stupid Backoff has no levels")
      }
    }
  }

  /** Ney's and Chen/Goodman's discounts of level k from its
    * count-of-counts `__n{k}_1..4` on a 1-row frame, pre-floored e9,
    * with M = n₁ + 2n₂ and Y = n₁/M:
    *   D₁ = n₁/M (Ney's estimate — the Estimated smoother's D);
    *   D₂ = 2 − 3Y·n₃/n₂ = (2n₂M − 3n₁n₃)/(n₂M);
    *   D₃₊ = 3 − 4Y·n₄/n₃ = (3n₃M − 4n₁n₄)/(n₃M).
    * Each is clipped at 0 on the numerator (GREATEST — floor stays
    * truncation on both engines); M = 0 → all 0; an empty bucket
    * (n₂ = 0 for D₂, n₃ = 0 for D₃₊) falls back to D₁ ≤ 1, which keeps
    * every seen term non-negative. */
  private def discounts(stats: DataFrame, k: Int, nD: Int): DataFrame = {
    val n = (i: Int) => col(s"__n${k}_$i")
    val m = col(s"__m$k")
    val d1 = col(s"__d${k}_1")
    (2 to nD).foldLeft(stats
        .withColumn(s"__m$k", n(1) + lit(2L) * n(2))
        .withColumn(s"__d${k}_1",
          when(m > 0, idiv(dec(n(1)) * E9, dec(m))).otherwise(lit(0L)))) {
      (df, i) => df.withColumn(s"__d${k}_$i",
        when(m > 0 && n(i) > 0, idiv(greatest(dec(0L),
            dec(i.toLong) * dec(n(i)) * m -
              dec(i + 1L) * dec(n(1)) * n(i + 1)) * E9,
          dec(n(i)) * m)).otherwise(d1))
    }
  }

  /** The KN / Witten–Bell serve: per level from the bottom up, the
    * level formula on a seen n-gram (the top level's from the joined
    * probability table), the formula with the seen term dropped for a
    * known context, the lower level itself for an unknown one, 0 for a
    * word without mass. Output column `__p`. */
  private def interpolatedScores(inst: DataFrame,
      model: Map[Int, DataFrame], order: Int, smoother: Smoother,
      pin: DataFrame => DataFrame): DataFrame = {
    val lv = new Levels(model, order, smoother, pin)
    val probs = pin(probabilities(model, order, smoother)
      .select(words(order).map(col) :+
        col(s"p${levelTag(order, order)}_e9").as("__top"): _*))
    // Modified folds γ into the context table; the discounts it picks
    // on instance rows are only the levels below the top
    val ctxs = lv.ctx.map { case (k, c) =>
      k -> pin(if (smoother != Modified) c else c
        .crossJoin(broadcast(lv.stats(k).select(
          (1 to 3).map(i => col(s"__d${k}_$i")): _*)))
        .withColumn(s"__g$k", lv.gamma(k))
        .select(lv.ctxKeys(k).map(col) :+ col(s"__tot$k") :+ col(s"__g$k"): _*))
    }
    val rowStats = lv.stats.toSeq.sortBy(-_._1).collect {
      case (k, s) if k == 2 || smoother == Estimated ||
        (smoother == Modified && k < order) => s
    }
    val joined = lv.joinLevels(inst.join(probs, words(order), "left"),
      "left", ctxs, rowStats)
    (2 to order).foldLeft(joined) { (df, k) =>
      val lower = lv.lower(k, if (k == 2) None else Some(s"__p${k - 1}"))
      val seen =
        if (k == order) col("__top")
        else when(col(lv.cnt(k)).isNotNull,
          lv.level(k, Some(col(lv.cnt(k))), lower))
      df.withColumn(if (k == order) "__p" else s"__p$k", coalesce(seen,
        when(col(s"__tot$k").isNotNull && lower.known,
          lv.level(k, None, lower)),
        when(lower.known, lower.e9),
        lit(0L)))
    }
  }

  /** The Stupid Backoff serve: the first order k (from the top) whose
    * n-gram is seen scores (2/5)^(n−k)·c/c_ctx — c_ctx the count of
    * its context one order down, N at the unigram — as one floored
    * fraction; an unknown last word scores 0. Output column `__p`. */
  private def backoffScores(inst: DataFrame, model: Map[Int, DataFrame],
      order: Int, pin: DataFrame => DataFrame): DataFrame = {
    val keyed = (k: Int, keys: Seq[String], as: String) =>
      model(k).select(words(k).zip(keys).map { case (w, key) => col(w).as(key) }
        :+ col("n").as(as): _*)
    val suffix = (k: Int) => words(order).takeRight(k)
    val total = pin(model(1).agg(sum(col("n")).as("__nn")))
    val joined = (order to 1 by -1).foldLeft(inst) { (df, k) =>
      val seen = df.join(keyed(k, suffix(k), s"__c$k"), suffix(k), "left")
      if (k == 1) seen
      else seen.join(keyed(k - 1, suffix(k).init, s"__h$k"), suffix(k).init,
        "left")
    }.crossJoin(broadcast(total))
    joined.withColumn("__p", coalesce((order to 1 by -1).map { k =>
      val j = order - k
      val ctx = if (k == 1) col("__nn") else col(s"__h$k")
      when(col(s"__c$k").isNotNull, idiv(
        dec(1L << j) * dec(col(s"__c$k")) * E9,
        dec(math.pow(5, j).toLong) * dec(ctx)))
    } :+ lit(0L): _*))
  }
}
