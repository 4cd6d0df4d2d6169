package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointShim
import graft.functions.TextFunctions._

/** Corpus deduplication at 100 TB scale (BASELINE.json north star).
  *
  * Every method returns a lazy DataFrame; nothing collects. The shuffle
  * structure is the whole design:
  *  - exact / canonical dedup: one hash-partitioned aggregation on a
  *    64/128-bit digest — never on the raw text (shuffle bytes ∝ digest,
  *    not document);
  *  - minhash LSH: explode to (band, key) → one shuffle groups candidates
  *    into buckets; candidate pairs are generated per bucket, so cost is
  *    Σ|bucket|², never |corpus|²;
  *  - simhash: pigeonhole banding on 15-bit chunks, same property.
  */
object Dedup {

  /** Exact dedup: one row per distinct content digest with the canonical
    * (minimum) id and multiplicity. Group key is md5(text) — shuffling
    * 16 bytes per doc, not the document. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Canonicalized (prefix) dedup: documents agreeing on their first
    * `nTokens` tokens form a group — the cheap URL/boilerplate-style
    * normalization pass that runs before minhash. */
  def byPrefix(df: DataFrame, idCol: String, textCol: String,
      nTokens: Int): DataFrame =
    df.groupBy(
      md5(array_join(slice(tokens(col(textCol)), 1, nTokens), " "))
        .as("prefix_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct (id, shingle) pairs for a corpus — the native one-pass
    * shingler (value-identical to `shingles(tokens(text), n)`, ~10× on
    * the explode stage; see TextExpressions). */
  def shingled(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("__id"),
      explode(graft.functions.expressions.TextExpressions.wordShingles(
        col(textCol), n)).as("__shingle"))

  /** (id, xxhash64(shingle)) — the join/agg representation: set
    * intersections over 8-byte keys instead of shingle strings (same
    * counts; 64-bit collisions are ~1e-8 at corpus scale and only the
    * intersection COUNT is consumed). */
  private def shingleHashes(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    shingled(df, idCol, textCol, n)
      .select(col("__id"), xxhash64(col("__shingle")).as("__sh"))

  /** MinHash + LSH near-duplicate pairs.
    *
    * shingle → k-minhash signature → `bands` band keys → bucket-join →
    * exact jaccard verification of candidates only. Returns
    * (a_id, b_id, jaccard) with a_id < b_id, jaccard >= `threshold`.
    *
    * The verification join computes jaccard from distinct-shingle
    * intersection counts grouped per candidate pair — the corpus-wide
    * shingle join only materializes pairs that already collided in a
    * band, so the quadratic term is bounded by bucket sizes.
    */
  /** LSH band table for a corpus: (\_\_id, band, bkey) — the persistable
    * near-dup INDEX artifact. One aggregation pass computes all k
    * minhashes (map-side partial); band keys are md5 over row groups,
    * identical to the [[minhashNearDup]] pipeline (this IS its first
    * half, split out so snapshots can precompute and save it). */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 4): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val rows = k / bands
    val sh = shingled(df, idCol, textCol, shingleN)
    // signature in ONE aggregation pass over the exploded shingles
    // (k min-aggregates, map-side partial) — the per-row
    // minhashSignature() expression re-evaluates the shingle array per
    // hash family, k× slower; value-identical otherwise.
    val aggs = (0 until k).map(i =>
      min(substring(md5(concat(lit(s"${i}_"), col("__shingle"))), 1, 16))
        .as(s"m$i"))
    val sig = sh.groupBy("__id").agg(aggs.head, aggs.tail: _*)
    val bandStructs = (0 until bands).map { b =>
      val bandCols = (b * rows until (b + 1) * rows).map(i => col(s"m$i"))
      struct(lit(b).as("band"), md5(concat_ws(",", bandCols: _*)).as("bkey"))
    }
    sig.select(col("__id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("__id"), col("b.band"), col("b.bkey"))
  }

  /** Exact-jaccard verification of candidate pairs over a corpus:
    * intersection counts from the 8-byte shingle-hash streams, sizes
    * joined per side, threshold applied. Shared tail of
    * [[minhashNearDup]] / [[minhashNearDupDelta]]. */
  private[graft] def verifyJaccard(cand: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, shingleN: Int,
      threshold: Double): DataFrame = {
    val shh = shingleHashes(corpus, idCol, textCol, shingleN)
    val sizes = shh.groupBy(col("__id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(shh.select(col("__id").as("a_id"), col("__sh")), "a_id")
      .join(shh.select(col("__id").as("b_id"), col("__sh")),
        Seq("b_id", "__sh"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("__id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("__id").as("b_id"), col("n").as("nb")), "b_id")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  def minhashNearDup(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val bk = minhashBands(df, idCol, textCol, shingleN, k, bands)
    val cand = bk.as("x").join(bk.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a_id"), col("y.__id").as("b_id"))
      .distinct()
    verifyJaccard(cand, df, idCol, textCol, shingleN, threshold)
  }

  /** Incremental near-dup: pairs involving at least one NEW document —
    * the delta form of [[minhashNearDup]] for snapshot-grown corpora.
    * `snapshotBands` is the saved [[minhashBands]] artifact of the
    * existing corpus (recompute it here only if you must); candidates
    * come from joining the NEW band table against snapshot ∪ new bands,
    * so no old×old candidate is ever generated — the work scales with
    * the delta, not the corpus. Verification reads only documents that
    * appear in some candidate pair (semi-join-pruned scan). Same
    * (a_id < b_id, jaccard >= threshold) contract as the full pass;
    * old×old pairs are by definition already in the snapshot's own
    * result.
    *
    * Execution note: the candidate pairs and the candidate-pruned
    * corpus are EAGERLY materialized (CheckpointShim jobs run at call
    * time) — both are delta-sized, and each is consumed by three
    * differently-keyed verification joins, so leaving them lazy
    * re-executes the band join + semi-join subplan 3-4× (a ~10 s fixed
    * cost at 20× replicated sf0.1 before materializing; BENCH.md,
    * "Artifact-loaded minhash delta MEASURED"). Like
    * [[connectedComponents]], the result is backed by localCheckpointed
    * RDDs that cannot be recomputed after executor loss — re-run from
    * source on failure. The checkpoint blocks are delta-sized and live
    * until their RDDs are garbage-collected (`Dataset.unpersist` is a
    * no-op on localCheckpoint'd frames — see `CheckpointShim.materialize`);
    * repeated calls in one session accumulate blocks until GC, which is the
    * accepted trade for a result that stays consumable after return. */
  def minhashNearDupDelta(newDf: DataFrame, snapshot: DataFrame,
      snapshotBands: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val nb = minhashBands(newDf, idCol, textCol, shingleN, k, bands)
    val allB = snapshotBands.unionByName(nb)
    // every candidate has its NEW side on x — old×old never pairs
    val (cand, _) = CheckpointShim.materialize(nb.as("x").join(allB.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.__id") =!= col("y.__id"))
      .select(least(col("x.__id"), col("y.__id")).as("a_id"),
        greatest(col("x.__id"), col("y.__id")).as("b_id"))
      .distinct())
    val corpus = snapshot.select(col(idCol), col(textCol))
      .unionByName(newDf.select(col(idCol), col(textCol)))
    // verification scans only docs that occur in some candidate
    val touched = cand.select(col("a_id").as(idCol))
      .unionByName(cand.select(col("b_id").as(idCol))).distinct()
    // the pruned corpus is candidate-sized; materializing it means the
    // three shingle-stream evaluations in verifyJaccard re-explode a
    // tiny table instead of re-running the corpus semi-join three times
    val (pruned, _) = CheckpointShim.materialize(
      corpus.join(touched, Seq(idCol), "leftsemi"))
    verifyJaccard(cand, pruned, idCol, textCol, shingleN, threshold)
  }

  /** Exact n-gram jaccard over all pairs sharing at least one shingle —
    * the ground-truth (no-LSH) near-dup pass. Quadratic only within
    * shingle groups; use [[minhashNearDup]] at corpus scale. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = shingleHashes(df, idCol, textCol, shingleN)
    val sizes = sh.groupBy(col("__id")).agg(count(lit(1)).as("n"))
    val inter = sh.select(col("__id").as("a_id"), col("__sh"))
      .join(sh.select(col("__id").as("b_id"), col("__sh")),
        Seq("__sh"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("__id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("__id").as("b_id"), col("n").as("nb")), "b_id")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** EXACT shingle-set similarity self-join with AllPairs/PPJoin PREFIX
    * FILTERING (Bayardo et al. WWW'07 / Chaudhuri et al. SSJoin —
    * public algorithms): every pair with shingle-set Jaccard >=
    * `threshold`, with candidates generated from set PREFIXES instead
    * of every shared element.
    *
    * Device: order each doc's distinct shingles by ONE global total
    * order — document frequency ascending, shingle ascending (rarest
    * first) — and index only the first n − ⌈τ·n⌉ + 1: any pair with
    * J >= τ must share an element inside BOTH prefixes (the AllPairs
    * prefix theorem), so the candidate join runs on prefix elements
    * only, and rarest-first ordering makes those the smallest buckets
    * in the corpus. A length filter (J >= τ ⇒ τ·max(n_a,n_b) <=
    * min(n_a,n_b)) prunes candidates before the exact verify. This is
    * the exact counterpart of [[minhashNearDup]] (no probabilistic
    * recall loss) and the scalable form of [[ngramJaccard]] (whose
    * candidate space is EVERY shared-shingle pair — the frequent
    * buckets that prefix filtering never joins on; the q183 oracle row
    * faces q36's ground truth; on a boilerplate corpus BENCH.md
    * records a 14.5× lower longest task than the naive join at 10k
    * docs).
    *
    * Shuffle shape: candidate pairs ∝ Σ over PREFIX elements
    * |bucket|²; the verify joins candidate ids back to the per-doc
    * arrays (pk joins). The floor form of the prefix bound
    * (n − ⌊τ·n⌋ + 1 ≥ n − ⌈τ·n⌉ + 1) is used so no float-boundary
    * rounding can shrink a prefix below the exactness bound — at most
    * one extra element per doc. Returns
    * (a_id, b_id, n_a, n_b, n_shared, jaccard) with a_id < b_id;
    * jaccard is ONE IEEE division of exact longs.
    *
    * Execution shape (r19): the ordered set table — referenced by
    * THREE downstream subtrees (prefix self-join + both verify sides)
    * — is localCheckpoint-materialized ONCE at call time (Spark has no
    * common-subplan dedup, so a lazy form re-runs the scan → shingle
    * explode → frequency join chain per reference; the r18 lazy-persist
    * + eager-result-checkpoint form shared it too, but raced
    * stage-parallel cache population under load — the driver read
    * 7.5 s at 32 cores vs 2.3 s at 8 — and returned an opaque
    * checkpointed result). Everything downstream of the set table is
    * LAZY — the returned plan shows the whole candidate/verify shape —
    * and per-invocation: the checkpoint RDD is private to this call
    * (no CacheManager entry, so no cross-invocation plan dedup) and its
    * blocks are released by the ContextCleaner when the result is
    * dropped.
    *
    * Precondition: `idCol` is unique in `df`. The set table groups by
    * id, so rows sharing an id merge into one shingle set and their
    * pairs come out wrong. It is not checked here: a check would cost
    * every call an extra job. */
  def prefixJaccardJoin(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // per-doc DISTINCT shingles MAP-SIDE (array_distinct before the
    // explode): value-identical to exploding then .distinct() — the
    // dedup key is (doc, shingle) and array_distinct dedups exactly
    // within each doc — but removes the corpus-wide distinct EXCHANGE
    // of the full shingle fanout (guide §2.4 remove shuffles outright;
    // sf0.1 warm: the ordered-set job 1.4 → 1.0 s)
    val tok = df.select(col(idCol).as("__id"),
      explode(array_distinct(
        graft.functions.expressions.TextExpressions.wordShingles(
          col(textCol), shingleN))).as("__tok"))
    val tf = tok.groupBy("__tok").agg(count(lit(1)).as("__df"))
    // per-doc token array in (df asc, token asc) global order; struct
    // sort gives the total order, then project the tokens back out
    val orderedLazy = tok.join(tf, "__tok")
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__tok"))))
        .as("__st"))
      .select(col("__id"),
        transform(col("__st"), s => s.getField("__tok")).as("__toks"),
        size(col("__st")).cast("long").as("__n"))
    // The one eager step: a single localCheckpoint of the set table,
    // whose blocks the prefix self-join and both verify sides read (see
    // "Execution shape" above for its lifetime).
    val ordered = orderedLazy.localCheckpoint(true)
    val prefixLen = (col("__n") -
      floor(lit(threshold) * col("__n").cast("double")).cast("long") +
      lit(1L)).cast("int")
    val pref = ordered.select(col("__id"), col("__n"),
      explode(slice(col("__toks"), lit(1), prefixLen)).as("__tok"))
    val cand = pref
      .select(col("__id").as("a_id"), col("__n").as("__na"), col("__tok"))
      .join(pref.select(col("__id").as("b_id"), col("__n").as("__nb"),
        col("__tok")), Seq("__tok"))
      .filter(col("a_id") < col("b_id"))
      // length filter, relaxed by an epsilon so an IEEE rounding of
      // τ·max can never reject a true boundary pair
      .filter(least(col("__na"), col("__nb")).cast("double") >=
        lit(threshold) * greatest(col("__na"), col("__nb")).cast("double")
          - lit(1e-9))
      .select("a_id", "b_id").distinct()
      // pin the verify's parallelism: candidate rows are ~16 bytes but
      // each costs an array_intersect over the two full shingle sets,
      // so AQE's BYTE-based partition coalescing shrinks the verify
      // stage to 1-2 tasks and serializes the real work (measured
      // sf0.1: 5.7 s on 2 tasks vs 0.6 s spread). An explicit-N user
      // repartition is exempt from coalescing; N is the session's
      // configured shuffle parallelism, not a local constant.
      .repartition(df.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt, col("a_id"))
    val result = cand
      .join(ordered.select(col("__id").as("a_id"),
        col("__toks").as("__ta"), col("__n").as("n_a")), "a_id")
      .join(ordered.select(col("__id").as("b_id"),
        col("__toks").as("__tb"), col("__n").as("n_b")), "b_id")
      // the when(monotonically_increasing_id() >= Long.MinValue, …)
      // guard is an optimizer FENCE, not logic: the condition is
      // always true, so the VALUE is exactly size(array_intersect(…))
      // — but marking the projection non-deterministic stops
      // PushPredicateThroughJoin from inlining the jaccard filter into
      // the b-side join condition, which re-evaluated the
      // array_intersect a SECOND time per candidate (2× the verify
      // work; both evaluations visible in the r18 plan capture).
      // rand() >= 0 does not work as the guard — Spark 4 simplifies it
      // away; the mono-id comparison survives optimization.
      .withColumn("n_shared",
        when(monotonically_increasing_id() >= Long.MinValue,
          size(array_intersect(col("__ta"), col("__tb"))).cast("long")))
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "n_a", "n_b", "n_shared", "jaccard")
    result
  }

  /** SimHash near-duplicate pairs: 60-bit signatures, candidates via
    * 4×15-bit pigeonhole banding, verified at Hamming distance <=
    * `maxHamming` (pigeonhole: distance <= 3 ⇒ some chunk equal). */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // one md5 per token (explode), then 60 codegen'd integer vote sums in
    // a single aggregation — a per-row higher-order expression would
    // re-evaluate the token-hash array per bit (60× the md5 work).
    val tok = df.select(col(idCol).as("__id"),
      explode(tokens(col(textCol))).as("__tok"))
      .withColumn("__h",
        conv(substring(md5(col("__tok")), 1, 15), 16, 10).cast("long"))
    val votes = (0 until 60).map(i =>
      sum(shiftright(col("__h"), i).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$i"))
    val sigs = tok.groupBy("__id").agg(votes.head, votes.tail: _*)
      .select(col("__id"),
        (0 until 60).map(i =>
          when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("__sig"))
    bandedHammingPairs(sigs, chunkBits = 15, maxHamming)
  }

  /** Shared banding/verify tail of [[simhashNearDup]] and
    * [[hammingNearDup]]: explode each (__id, __sig) row into 4
    * `chunkBits`-bit band values, self-join on (band, value, id<id),
    * verify candidates with `bit_count(xor)`. Pigeonhole over 4 chunks:
    * hamming ≤ 3 ⇒ some chunk equal, so the join is COMPLETE for the
    * default threshold regardless of chunk width. */
  private def bandedHammingPairs(sigs: DataFrame, chunkBits: Int,
      maxHamming: Int): DataFrame = {
    // hoisted guard for BOTH public entry points: above 3, two
    // signatures can differ in all four chunks and the join silently
    // drops the pair — an incomplete result must be a loud error
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-chunk banding is complete only for maxHamming <= 3, got $maxHamming")
    val mask = (1L << chunkBits) - 1
    val chunks = sigs.select(col("__id"), col("__sig"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"), shiftrightunsigned(col("__sig"), c * chunkBits)
          .bitwiseAND(lit(mask)).as("v"))): _*)).as("ch"))
      .select(col("__id"), col("__sig"), col("ch.c"), col("ch.v"))
    chunks.as("x").join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.v") === col("y.v") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a_id"), col("y.__id").as("b_id"),
        col("x.__sig").as("sig_a"), col("y.__sig").as("sig_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** Hamming near-duplicate pairs over a caller-supplied ≤64-bit
    * signature column — [[simhashNearDup]]'s pigeonhole banding
    * machinery generalized to precomputed signatures (e.g.
    * [[graft.ext.Multimodal.phashFromGrid]] DCT perceptual hashes):
    * 4×16-bit chunks, so Hamming distance ≤ 3 guarantees at least one
    * equal chunk and the band join finds EVERY qualifying pair (the
    * spec proves banded ≡ all-pairs); `maxHamming` is capped at 3
    * because 4 bands pigeonhole no further. Candidates are Σ|chunk
    * bucket|², bucket-local — the corpus never all-pairs. Output
    * (a_id, b_id, hamming), a_id < b_id. */
  def hammingNearDup(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit banding is complete only for maxHamming <= 3, got $maxHamming")
    bandedHammingPairs(df.select(col(idCol).as("__id"),
      col(hashCol).cast("long").as("__sig")), chunkBits = 16, maxHamming)
  }

  /** Cross-document duplicate-SPAN detection — the substring-level dedup
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (arXiv:2107.06499), re-expressed as a distributed
    * hashed-gram pipeline instead of a single-machine suffix array:
    *
    *  1. every char `gramLen`-gram of every document becomes
    *     (id, pos, xxhash64(gram)) — the corpus never ships gram TEXT,
    *     only 8-byte hashes (64-bit collisions ~1e-8 at corpus scale and
    *     only span extents are consumed);
    *  2. one hash-partitioned aggregation finds grams occurring in >= 2
    *     DISTINCT documents; the gram stream semi-joins against it on
    *     the same key, so AQE reuses the exchange — one shuffle pays for
    *     both sides;
    *  3. per document, overlapping duplicated gram positions merge into
    *     maximal spans with the running-max-end window idiom (the same
    *     shape as Genome.introns): a gram opens a new span iff its start
    *     lies past every previous gram's end.
    *
    * Returns (idCol, span_start, span_end) — 1-based inclusive
    * code-UNIT (UTF-16) extents of every maximal duplicated span
    * (identical to codepoint extents for BMP text; on supplementary-
    * plane text find and rewrite stay in the one code-unit system —
    * see [[removeDuplicateSpans]]'s unit-system note and the ExtSpec
    * astral fixture). Docs shorter than `gramLen` emit nothing
    * (whole-document duplicates below the gram size are [[exact]]'s
    * job; spans can't be shorter than a gram).
    *
    * Scale: the shuffle carries one 20-byte row per char position:
    * every gram ships (the gram expression runs with winnowing window
    * 1, which selects each gram), so extents are exact.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      gramLen: Int = 20): DataFrame = {
    require(gramLen >= 2, "gramLen must be >= 2")
    val W = org.apache.spark.sql.expressions.Window
    val wDoc = W.partitionBy("__id").orderBy("__pos")
    // gram hashing AND winnowing selection run inside ONE codegen'd
    // expression per document row (every w-gram window contributes its
    // min — the gap-<=-w guarantee), so the stream thins ~w/2x BEFORE
    // anything leaves the scan task. The earlier formulation selected
    // via Window.partitionBy(doc), which shuffled the entire unthinned
    // gram stream just to regroup rows that were born together — the
    // shuffle meter showed winnowing saving nothing at all that way.
    val g = df
      .filter(length(col(textCol)) >= gramLen)
      .select(col(idCol).as("__id"),
        explode(graft.functions.expressions.TextExpressions.winnowedGrams(
          col(textCol), gramLen, 1)).as("__g"))
      .select(col("__id"), col("__g.pos").as("__pos"), col("__g.gh").as("__gh"))
    val dup = g.groupBy("__gh")
      .agg(countDistinct(col("__id")).as("__nd"))
      .filter(col("__nd") >= 2)
      .select("__gh")
    // plain overlap merging: a gram opens a new span iff it starts past
    // every earlier gram's end
    g.join(dup, Seq("__gh"), "leftsemi")
      .withColumn("__new",
        when(col("__pos") >
          coalesce(max(col("__pos") + gramLen - 1)
            .over(wDoc.rowsBetween(W.unboundedPreceding, -1)), lit(-1)), 1)
          .otherwise(0))
      .withColumn("__span", sum(col("__new"))
        .over(wDoc.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .groupBy(col("__id"), col("__span"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + gramLen - 1).as("span_end"))
      .select(col("__id").as(idCol), col("span_start"), col("span_end"))
  }

  /** The REWRITE half of substring dedup (Lee et al. apply the found
    * spans by cutting them from the corpus): every maximal duplicated
    * span from [[duplicateSpans]] is removed from every document that
    * contains it, and the surviving segments are re-joined in order.
    * This is the aggressive both-copies mode — deterministic and
    * corpus-order-independent (keep-one-occurrence needs an ownership
    * choice; for WHOLE-document duplicates that is
    * [[keepBestPerCluster]]'s job).
    *
    * Output: (idCol, clean_hash = md5 of the rewritten text,
    * chars_removed). Documents with no duplicated span pass through
    * (chars_removed = 0); a fully-duplicated document rewrites to the
    * empty string.
    *
    * Plan: span extents (few rows per doc) window-complement into kept
    * segments; the text joins in ONCE (hash join on id) and the
    * per-doc reassembly groupBy reuses the join's partitioning. Only
    * extents and rewritten segments move beyond [[duplicateSpans]]'
    * gram aggregation. EAGER like [[minhashNearDupDelta]]: the span
    * table fans out to three consumers, so it CheckpointShim-
    * materializes at call time (Spark jobs run here, and the result is
    * backed by localCheckpointed RDDs that cannot be recomputed after
    * executor loss — re-run from source on failure).
    *
    * Unit-system note: extents are applied with the code-UNIT
    * `charUnitSubstr`/`charUnitLength` expressions, the same UTF-16
    * units [[duplicateSpans]]' positions count — `substring`/`length`
    * count codepoints and would mis-slice documents containing
    * supplementary-plane chars. `chars_removed` therefore counts code
    * units too (identical for BMP text, the oracle-parity regime). */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      gramLen: Int = 20): DataFrame = {
    import graft.functions.expressions.TextExpressions.{charUnitLength, charUnitSubstr}
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy("st")
    val base = df.select(col(idCol).as("__id"), col(textCol).as("__text"))
    // the span table fans out to THREE consumers (heads, tails, the
    // span-doc marker); left lazy, each re-reads the whole gram-stream
    // exchange — probe-measured 3747 MB shuffled vs 1373 for the finder
    // alone at 20×. Extents are tiny (few rows/doc), so materialize
    // once (minhashNearDupDelta precedent; same localCheckpoint
    // durability trade, documented there).
    val (sp, _) = CheckpointShim.materialize(
      duplicateSpans(df, idCol, textCol, gramLen)
        .select(col(idCol).as("__id"), col("span_start").as("st"),
          col("span_end").as("en")))
    // kept segments: the complement of the (sorted, disjoint) spans —
    // [prev_end+1, start-1] before each span, [max_end+1, len] after
    // the last (span starts are unique per doc, so the lag is total)
    val heads = sp
      .withColumn("ks", coalesce(lag(col("en"), 1).over(W) + 1, lit(1)))
      .withColumn("ke", col("st") - 1)
      .select("__id", "ks", "ke")
    val tails = sp.groupBy("__id")
      .agg((max(col("en")) + 1).as("ks"))
      .withColumn("ke", lit(null).cast("int")) // null -> doc length
      .select("__id", "ks", "ke")
    val cleaned = heads.unionByName(tails)
      .join(base, Seq("__id"))
      .withColumn("ke",
        coalesce(col("ke"), charUnitLength(col("__text"))))
      .filter(col("ke") >= col("ks"))
      .select(col("__id"),
        struct(col("ks"),
          charUnitSubstr(col("__text"), col("ks"), col("ke"))
            .as("seg")).as("__s"))
      .groupBy("__id")
      .agg(concat_ws("", transform(sort_array(collect_list(col("__s"))),
        x => x.getField("seg"))).as("__cleaned"))
    base
      .join(sp.select("__id").distinct().withColumn("__has", lit(1)),
        Seq("__id"), "left")
      .join(cleaned, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        md5(when(col("__has").isNull, col("__text"))
          .otherwise(coalesce(col("__cleaned"), lit("")))).as("clean_hash"),
        (charUnitLength(col("__text")) -
          when(col("__has").isNull, charUnitLength(col("__text")))
            .otherwise(coalesce(charUnitLength(col("__cleaned")),
              lit(0))))
          .cast("long").as("chars_removed"))
  }

  /** Embedding near-duplicates: same-`partitionCol` pairs with cosine >=
    * `threshold`. The partition column (cluster id, LSH bucket, shard key)
    * bounds the pair space; compose with
    * [[graft.functions.VectorFunctions.lshBucket]] when no natural
    * partition exists. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      partitionCol: String, threshold: Double): DataFrame = {
    val v = df.select(col(partitionCol).as("__part"), col(idCol).as("__id"),
      col(vecCol).as("__vec"))
    v.as("x").join(v.as("y"),
        col("x.__part") === col("y.__part") && col("x.__id") < col("y.__id"))
      .withColumn("cos",
        graft.functions.VectorFunctions.cosineFast(col("x.__vec"), col("y.__vec")))
      .filter(col("cos") >= threshold)
      .select(col("x.__id").as("a_id"), col("y.__id").as("b_id"), col("cos"))
  }

  /** Semantic near-duplicate pairs, SemDeDup-shaped (Abbas et al. 2023):
    * coarse-quantize every embedding to its nearest centroid (the same
    * map-only codegen assign as [[Similarity.ivfAssign]] — the corpus
    * never shuffles for the bucketing), then emit same-cell pairs with
    * cosine >= `threshold`. The cell bounds the pair space to
    * Σ|cell|² exactly like the label partition in [[embeddingNearDup]],
    * but works on UNLABELED corpora — the cells come from k-means
    * ([[Similarity.trainCentroids]]) or any pinned centroid table.
    *
    * Cross-cell near-duplicates are missed by construction (that is the
    * SemDeDup trade: recall for a corpus-scale-safe candidate space);
    * raise the centroid count for smaller cells, or run twice with two
    * centroid seeds and union, when tighter recall matters. */
  def semanticNearDup(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, threshold: Double): DataFrame = {
    val assigned = Similarity.ivfAssign(df, idCol, vecCol, centroids)
    embeddingNearDup(assigned, idCol, vecCol, "cid", threshold)
  }

  /** Canonical-document selection: given near-dup `pairs` over `docs`,
    * keep the best row of each duplicate cluster by `scoreCol` (ties to
    * the smallest id — deterministic). Returns every doc with its
    * cluster id and `is_kept`; singletons (docs in no pair) are their
    * own cluster and always kept.
    *
    * This is the policy layer production dedup actually wants — "drop
    * duplicates" really means "keep the best copy": near-dup pairs →
    * [[connectedComponents]] clusters → one window argmax per cluster.
    * Plan: the CC rounds dominate; the final pick is one hash exchange
    * on the cluster id over (id, cluster, score) triples — never full
    * documents. */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    val cc = connectedComponents(pairs, "a_id", "b_id")
      .withColumnRenamed("id", idCol)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    docs.join(cc, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("comp"), col(idCol)))
      .withColumn("is_kept",
        (row_number().over(w) === 1).cast("int"))
      .select(col(idCol), col("cluster"), col(scoreCol), col("is_kept"))
  }

  /** Incremental-snapshot dedup: rows of `newDf` whose `key` does NOT
    * occur in `existing` — semantically a plain left-anti join, planned
    * so that NEITHER corpus shuffles:
    *
    *  1. a Bloom filter builds over the existing keys (one scan, one
    *     tiny word aggregation — [[Sketches.buildBloomBits]]);
    *  2. new rows probe it in-scan (codegen'd
    *     [[graft.functions.expressions.BloomMightContain]]): a negative
    *     probe is DEFINITE absence, so only bloom-hit candidates (true
    *     duplicates + the 1% false-positive sliver) need exact
    *     checking — at typical delta-vs-corpus overlap that excludes
    *     almost every row;
    *  3. the candidate keys broadcast to a semi-scan of `existing`; the
    *     matched key set (bounded by the candidate set) broadcasts back
    *     for one anti join over the delta — a bloom-miss row can never
    *     match it, so no separate definite-new branch is needed.
    *
    * The classic shuffle anti-join moves BOTH datasets; here the only
    * broadcast state is bloom-candidate-sized, so a 100 TB corpus is
    * scanned twice and moved never. False positives cost an exact
    * check, never a wrong answer.
    *
    * `key` must be an unresolved column expression (built from column
    * names present in both frames), e.g. `md5(col("text"))` or the
    * canonical prefix hash.
    *
    * The Bloom filter is sized by a count of `existing`, one pass
    * before the two documented scans (bloom build, confirm semi-scan). */
  def newRowsBloom(newDf: DataFrame, existing: DataFrame,
      key: org.apache.spark.sql.Column): DataFrame = {
    val nExisting = math.max(1L, existing.count())
    val (bits, k) = Sketches.buildBloomBits(
      existing.select(xxhash64(key).as("__k")), "__k", nExisting, 0.01)
    val probe = Sketches.bloomMightContain(xxhash64(key), bits, k)
    val candKeys = newDf.filter(probe).select(key.as("__h")).distinct()
    val matched = existing
      .join(broadcast(candKeys), key === col("__h"), "leftsemi")
      .select(key.as("__h")).distinct()
    // one anti join of the UNFILTERED delta suffices: `matched` is a
    // subset of the bloom-hit keys, so a bloom-miss row can never match
    // it — splitting into definite/candidate branches and unioning would
    // just probe every row twice more
    newDf.join(broadcast(matched), key === col("__h"), "leftanti")
  }

  /** Propagation rounds after which [[connectedComponents]] gives up
    * and throws (rounds ≈ graph diameter). */
  private val MaxCcRounds = 25

  /** Connected components over an undirected edge list — the step that
    * turns near-dup PAIRS (minhash/simhash/embedding) into dedup
    * CLUSTERS: `comp` is the minimum id reachable from each vertex, so
    * `id == comp` marks the cluster representative to keep.
    *
    * Min-label propagation: each iteration every vertex takes the min
    * of its own and its neighbors' labels — one join + one groupBy
    * (both hash-partitioned on vertex id, so AQE coalesces them onto
    * one exchange pair), `localCheckpoint` truncating the lineage each
    * round, converging in diameter(G) iterations. Dedup graphs are
    * shallow by construction (near-dup clusters are quasi-cliques), so
    * diameter is small. Convergence is checked with an any-change
    * probe per round; [[MaxCcRounds]] bounds the worst case.
    *
    * Output: (id, comp), one row per vertex that appears in any edge.
    */
  def connectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    // symmetrize in ONE scan: union(edges, edges.flipped) would evaluate
    // the (possibly expensive — a whole near-dup join in q73) edge plan
    // twice, once per union branch
    val sym = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(explode(array(
        struct(col(srcCol).as("id"), col(dstCol).as("__n")),
        struct(col(dstCol).as("id"), col(srcCol).as("__n")))).as("__e"))
      .select(col("__e.id").as("id"), col("__e.__n").as("__n"))
      .filter(col("id") =!= col("__n"))
      .distinct()
      .persist()
    var (labels, labelsRdd) = CheckpointShim.materialize(
      sym.select(col("id")).distinct().withColumn("comp", col("id")))
    var iter = 0
    var converged = false
    while (!converged && iter < MaxCcRounds) {
      // min neighbor label per vertex, then fold into the own label with
      // a left join (vertices with no smaller neighbor keep theirs). The
      // __chg flag rides along so the checkpointing action doubles as
      // the convergence probe — one job per round, no separate
      // next-vs-old join
      val neighborMin = sym
        .join(labels.select(col("id").as("__n"), col("comp").as("__c")),
          Seq("__n"))
        .groupBy("id").agg(min("__c").as("__nmin"))
      val cand = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("__nmin"), col("comp")))
            .as("comp"),
          coalesce((col("__nmin") < col("comp")).cast("int"), lit(0))
            .as("__chg"))
      val (next, nextRdd, changed) =
        CheckpointShim.materializeSummingInt(cand, "__chg")
      converged = changed == 0L
      labelsRdd.unpersist() // next is materialized; drop the old blocks
      labels = next.select("id", "comp")
      labelsRdd = nextRdd
      iter += 1
    }
    sym.unpersist()
    // partially-propagated labels are silently WRONG (one cluster
    // reported as several, each with its own "representative") — a
    // dedup pass must fail loudly instead of keeping duplicates
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $MaxCcRounds rounds " +
          "(graph diameter exceeds the round limit)")
    labels
  }

  /** Incremental connected components: fold a NEW edge batch into an
    * existing `(id, comp)` labeling without re-clustering the corpus —
    * the maintenance mode of dedup clusters at 100 TB, where the daily
    * near-dup delta ([[minhashNearDupDelta]], [[newRowsBloom]]) is
    * orders of magnitude smaller than the history.
    *
    * Correctness rests on the labeling being a lossless CONTRACTION of
    * the old graph: each old component collapses to its label, and
    * because [[connectedComponents]] labels are the component's MIN id,
    * the min over participating labels in the contracted graph equals
    * the min over all underlying members. So: (1) semi-restrict the
    * history to delta-touched ids (map-only against the broadcast
    * delta id set); (2) map the delta's endpoints through that
    * restriction (unknown vertices stand for themselves) and run CC on
    * the contracted edge list — a |delta|-sized graph regardless of
    * history size; (3) broadcast the resulting ≤2·|delta|-entry
    * relabel map over the old labeling (the second and last map-only
    * history pass) and label the brand-new vertices from the same map.
    * The history is scanned exactly twice and SHUFFLED never.
    *
    * Precondition: `prev` is min-labeled and closed (every member of a
    * component maps to the same comp = the component's min id) — i.e. a
    * [[connectedComponents]] output, or a
    * previous output of this method. Output: the same contract, over
    * old ∪ delta vertices; delta == full recompute is spec-asserted
    * and oracle-checked (q139 against q73's ground truth).
    */
  def connectedComponentsDelta(prev: DataFrame, newEdges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    // the SAME edge filters the full CC applies: a half-null edge
    // contributes no vertex there, and neither does a SELF-LOOP (the
    // full CC's symmetrize step drops id =!= neighbor pairs) — so
    // neither may seed a singleton here (delta == recompute is the
    // contract; a self-loop on a brand-new vertex was the one case
    // that broke it)
    // referenced three times below (both deltaIds halves + the
    // contracted edge list): a lazy persist keeps an expensive caller
    // plan (e.g. q139's inline near-dup join) from re-running per
    // reference; released with the other working caches at the end
    val validEdges = newEdges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .filter(col(srcCol) =!= col(dstCol))
      .persist()
    val deltaIds = validEdges.select(col(srcCol).as("__did"))
      .unionByName(validEdges.select(col(dstCol).as("__did")))
      .distinct()
    // the ONLY two touches of the history, both map-only against a
    // broadcast delta-sized build side — the history never shuffles:
    // (1) restrict prev to delta-touched ids (semi join); (2) the
    // relabel pass at the end. Everything in between is delta-sized.
    val touched = prev
      .join(broadcast(deltaIds), col("id") === col("__did"), "left_semi")
      .persist()
    val ta = touched.select(col("id").as("__ta_id"),
      col("comp").as("__ta_comp"))
    val tb = touched.select(col("id").as("__tb_id"),
      col("comp").as("__tb_comp"))
    val contracted = validEdges
      .join(ta, col(srcCol) === col("__ta_id"), "left")
      .join(tb, col(dstCol) === col("__tb_id"), "left")
      .select(coalesce(col("__ta_comp"), col(srcCol)).as("__ca"),
        coalesce(col("__tb_comp"), col(dstCol)).as("__cb"))
    val relabel = connectedComponents(contracted, "__ca", "__cb")
      .select(col("id").as("__old"), col("comp").as("__new"))
    val updatedPrev = prev
      .join(broadcast(relabel), col("comp") === col("__old"), "left")
      .select(col("id"), coalesce(col("__new"), col("comp")).as("comp"))
    val newVerts = deltaIds
      .join(touched.select(col("id").as("__tid")),
        col("__did") === col("__tid"), "left_anti")
      .select(col("__did").as("id"))
    val newLabeled = newVerts
      .join(broadcast(relabel), col("id") === col("__old"), "left")
      .select(col("id"), coalesce(col("__new"), col("id")).as("comp"))
    // materialize the result so `touched`'s cache can be RELEASED —
    // a daily-maintenance API must not leak one persisted frame per
    // call (the returned labeling is lineage-cut, same contract as
    // connectedComponents' output)
    val (result, _) =
      CheckpointShim.materialize(updatedPrev.unionByName(newLabeled))
    touched.unpersist()
    validEdges.unpersist()
    result
  }

  /** The shared map-only chunking pipeline behind [[cdcChunks]],
    * [[dedupCdcKeepFirst]] and the streaming chunk-frequency twin:
    * appends a `__chunks` array column, keeping the caller's columns.
    *
    * Boundary rule (content-defined chunking, the Rabin/rsync trick):
    * a chunk boundary falls AFTER position p exactly when the rolling
    * polynomial hash of the w-char window ending at p —
    * Σ charAt(p−off)·CdcBase^off mod CdcMod (base-257 mod 2³¹−1,
    * constants in [[graft.functions.expressions.TextExprHelpers]]) —
    * is ≡ 0 (mod `modulus`). Boundaries are a function of CONTENT,
    * not offsets, so an insertion near a doc's head shifts every
    * chunk of a fixed-window scheme but leaves all CDC chunks outside
    * the edited region byte-identical (what lets chunk-level cross-doc
    * dedup catch shifted near-copies). Average chunk length ≈
    * `modulus` chars; the integer constants replay exactly in the
    * DuckDB oracle (TextQueries.cdcSqlCte unrolls the same polynomial).
    * Each stage is projected to a column before any lambda uses it —
    * never re-evaluated inside one. */
  private[graft] def withCdcChunkArray(df: DataFrame, textCol: String,
      w: Int, modulus: Int): DataFrame = {
    require(w >= 1 && modulus >= 1, "w and modulus must be >= 1")
    // boundary scan is the NATIVE one-pass rolling-hash expression
    // (functions/expressions/CdcBoundaries): the first cut hashed an
    // md5 per position — probe-measured 73 µs/position interpreted,
    // ~4 MB/s/core — while the rolling pass is one multiply-add per
    // char; the integer constants replay exactly in the oracle
    df.withColumn("__txt", coalesce(col(textCol), lit("")))
      .withColumn("__b",
        graft.functions.expressions.TextExpressions.cdcBoundaries(
          col("__txt"), w, modulus))
      .withColumn("__b2",
        concat(array(lit(0)), col("__b"), array(length(col("__txt")))))
      .withColumn("__chunks", transform(
        sequence(lit(0), size(col("__b2")) - 2),
        i => col("__txt").substr(
          element_at(col("__b2"), i + 1) + 1,
          element_at(col("__b2"), i + 2) -
            element_at(col("__b2"), i + 1))))
      .drop("__txt", "__b", "__b2")
  }

  /** Content-defined chunking as rows: MAP-ONLY (boundaries and chunks
    * are array expressions inside the scan), one row per non-empty
    * chunk, `(idCol, chunk_id, chunk_text)`. Work ∝ corpus chars (one
    * multiply-add per char — see [[withCdcChunkArray]] for the
    * boundary rule). NULL/empty docs emit nothing. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, modulus: Int = 32): DataFrame =
    withCdcChunkArray(df.select(col(idCol), col(textCol)), textCol,
        w, modulus)
      .select(col(idCol),
        posexplode(col("__chunks")).as(Seq("chunk_id", "chunk_text")))
      .where(length(col("chunk_text")) > 0)

  /** Corpus-wide CDC chunk dedup, keep-first — [[dedupLinesKeepFirst]]
    * at CHUNK granularity: every distinct chunk survives only at its
    * lowest (doc, chunk position); later occurrences are cut and the
    * survivors re-concatenate in order (chunks are contiguous splits,
    * so reassembly is plain concatenation). Because boundaries are
    * content-defined, this removes SHIFTED duplicated regions that
    * line- or fixed-window-level dedup misses.
    *
    * Same shuffle structure as the line version: winner election on
    * ~20-byte (doc, pos, hash) tuples, per-doc drop lists, ONE pk-join
    * text shuffle, then a map-only index-filter re-chunk + rewrite. */
  def dedupCdcKeepFirst(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, modulus: Int = 32): DataFrame = {
    val ch = cdcChunks(df, idCol, textCol, w, modulus)
      .select(col(idCol).as("__id"), col("chunk_id").as("__p"),
        xxhash64(col("chunk_text")).as("__h"))
    val winners = ch.groupBy("__h")
      .agg(min(struct(col("__id"), col("__p"))).as("__w"))
    val dropLists = ch.join(winners, "__h")
      .where(col("__w.__id") =!= col("__id") || col("__w.__p") =!= col("__p"))
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__p"))).as("__drop"))
      .withColumnRenamed("__id", idCol)
    val joined = withCdcChunkArray(
      df.join(dropLists, Seq(idCol), "left"), textCol, w, modulus)
    val drops = coalesce(col("__drop"), array().cast("array<int>"))
    val kept = filter(col("__chunks"),
      (c, i) => length(c) > 0 && !array_contains(drops, i))
    val nNonEmpty = size(filter(col("__chunks"), c => length(c) > 0))
    val nullGuard = col(textCol).isNull
    joined
      .withColumn("n_chunks_dropped",
        when(nullGuard, lit(0L)).otherwise(size(drops).cast("long")))
      .withColumn("n_chunks_kept",
        when(nullGuard, lit(0L))
          .otherwise((nNonEmpty - size(drops)).cast("long")))
      .withColumn(textCol,
        when(nullGuard, lit("")).otherwise(array_join(kept, "")))
      .drop("__drop", "__chunks")
  }

  /** The shared line-unit definition (TextFunctions.lineUnits) bound
    * to a column name — one definition for the per-doc signal and the
    * corpus-level passes, so they can't drift on what a "line" is. */
  private def lineUnits(textCol: String) =
    graft.functions.TextFunctions.lineUnits(col(textCol))

  /** Ceiling on the corpus-frequent line set that
    * [[removeBoilerplateLines]] collects to the driver. */
  private val MaxFrequentLines = 4 << 20

  /** CCNet-style corpus-level boilerplate-line removal: delete from
    * every document the lines that occur in more than `maxDocFreq`
    * DISTINCT documents (nav bars, cookie banners, footers — content
    * that repeats across the corpus rather than inside one doc;
    * the per-doc complement is `TextAnalysis.withLineRepetition`).
    *
    * Two passes, and the corpus text never shuffles in either:
    *  1. frequency: explode to (doc, xxhash64(line)) — 16-byte tuples,
    *     never the line text — one hash aggregation counts distinct
    *     docs per line hash; hashes above the threshold are by
    *     construction heavy hitters, so the frequent set is bounded by
    *     totalLines / maxDocFreq and collects to a driver set (the
    *     broadcast-anchors convention; [[MaxFrequentLines]] bounds it
    *     loudly rather than OOMing the driver).
    *  2. rewrite: MAP-ONLY — each doc filters its own line array
    *     against the broadcast hash set and rejoins with "\n" (the
    *     canonical separator; reconstruction is a normalization). No
    *     regroup, no second shuffle, no driver loop.
    *
    * Matching is by 64-bit content hash (the [[exact]] convention): an
    * innocent line colliding with a frequent one is dropped with
    * probability ~2^-64 per distinct-line pair — documented, accepted.
    * NULL/empty docs pin to ("", 0, 0). Output replaces `textCol` and
    * appends exact `n_lines_kept` / `n_lines_dropped` counts. */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Int): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq must be >= 1")
    val units = lineUnits(textCol)
    val frequent = df
      .select(col(idCol).as("__id"), explode(units).as("__l"))
      .select(col("__id"), xxhash64(col("__l")).as("__h"))
      .groupBy("__h")
      .agg(countDistinct(col("__id")).as("__df"))
      .where(col("__df") > maxDocFreq)
      .select("__h")
    rewriteWithoutLines(df, textCol, frequent, maxDocFreq)
  }

  /** The map-only pass 2 shared by [[removeBoilerplateLines]] and its
    * delta twin: collect the (bounded, loud-require'd) frequent hash
    * set and filter every doc's own line array against it. Membership
    * is the graft_in_long_set expression — ONE array<bigint> plan
    * literal and an O(1) per-executor hash-set probe — not `isin`,
    * whose N literal CHILDREN grind the analyzer at the set sizes the
    * MaxFrequentLines bound allows. */
  private def rewriteWithoutLines(df: DataFrame, textCol: String,
      frequentHashes: DataFrame, maxDocFreq: Int): DataFrame = {
    val units = lineUnits(textCol)
    val hs = frequentHashes.limit(MaxFrequentLines + 1).collect()
      .map(_.getLong(0))
    require(hs.length <= MaxFrequentLines,
      s"more than $MaxFrequentLines corpus-frequent lines at " +
        s"maxDocFreq=$maxDocFreq — raise the threshold (the frequent " +
        "set is bounded by totalLines/maxDocFreq; a bound this loose " +
        "would not broadcast)")
    val kept =
      if (hs.isEmpty) units
      else {
        val setLit = typedlit(hs)
        filter(units, l => !graft.functions.expressions.SketchExpressions
          .inLongSet(xxhash64(l), setLit))
      }
    val nullGuard = col(textCol).isNull
    df.withColumn("n_lines_dropped",
        when(nullGuard, lit(0L))
          .otherwise((size(units) - size(kept)).cast("long")))
      .withColumn("n_lines_kept",
        when(nullGuard, lit(0L)).otherwise(size(kept).cast("long")))
      .withColumn(textCol,
        when(nullGuard, lit("")).otherwise(array_join(kept, "\n")))
  }

  /** The persistable artifact behind incremental boilerplate removal:
    * distinct-doc counts per line hash — `(line_hash, n_docs)`, bounded
    * by DISTINCT lines (never corpus size). Build once over the
    * history, persist like q84 persists the minhash band table, then
    * fold batches in with [[removeBoilerplateLinesDelta]]. */
  def lineFrequencySnapshot(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
        explode(lineUnits(textCol)).as("__l"))
      .select(col("__id"), xxhash64(col("__l")).as("line_hash"))
      .groupBy("line_hash")
      .agg(countDistinct(col("__id")).as("n_docs"))

  /** Incremental boilerplate removal: rewrite an arriving batch with
    * the MERGED corpus frequencies — bit-identical to running
    * [[removeBoilerplateLines]] over history ∪ batch and keeping the
    * batch's rows — without ever touching the historical TEXT. Requires
    * the append-only contract (batch ids disjoint from the snapshot's
    * corpus; a re-arriving id would double-count its lines).
    *
    * Cost: one delta-sized line-hash aggregation + one artifact-sized
    * merge of the two (line_hash, n_docs) tables — work ∝ batch lines
    * + distinct corpus lines, never ∝ historical corpus text. Returns
    * the rewritten batch; call [[mergedLineFrequency]] for the updated
    * snapshot to persist. */
  def removeBoilerplateLinesDelta(newDf: DataFrame, snapshot: DataFrame,
      idCol: String, textCol: String, maxDocFreq: Int): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq must be >= 1")
    val merged = mergedLineFrequency(snapshot,
      lineFrequencySnapshot(newDf, idCol, textCol))
    rewriteWithoutLines(newDf, textCol,
      merged.where(col("n_docs") > maxDocFreq).select("line_hash"),
      maxDocFreq)
  }

  /** Fold a batch's line-frequency table into the snapshot (both sides
    * `(line_hash, n_docs)`); one hash aggregation over artifact-sized
    * inputs. */
  def mergedLineFrequency(snapshot: DataFrame, delta: DataFrame): DataFrame =
    snapshot.unionByName(delta)
      .groupBy("line_hash")
      .agg(sum(col("n_docs")).as("n_docs"))

  /** Corpus-wide exact line dedup, keep-first (the CCNet paragraph-
    * dedup pass proper): every distinct line keeps exactly its FIRST
    * occurrence in (doc, position) order; all later occurrences are
    * deleted from their documents. Unlike [[removeBoilerplateLines]]
    * the survivor set is corpus-sized, so no broadcast exists — the
    * shuffle structure is the design:
    *  - winner election shuffles (doc, pos, xxhash64(line)) tuples —
    *    ~20 bytes per line, never the text — one min(struct) agg per
    *    hash (deterministic: lowest doc id, then lowest position);
    *  - per-doc drop lists come from the same narrow tuples
    *    (collect_list of dropped positions per doc — state ∝ that
    *    doc's duplicate lines, never the corpus);
    *  - the text shuffles exactly ONCE: the primary-key join of the
    *    original frame to its drop list, followed by a map-only
    *    index-filter rewrite. No explode of text, no regroup.
    *
    * Same 64-bit-hash matching convention and NULL/empty pinning as
    * [[removeBoilerplateLines]]. */
  def dedupLinesKeepFirst(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val units = lineUnits(textCol)
    val lines = df
      .select(col(idCol).as("__id"), posexplode(units).as(Seq("__p", "__l")))
      .select(col("__id"), col("__p"), xxhash64(col("__l")).as("__h"))
    val winners = lines.groupBy("__h")
      .agg(min(struct(col("__id"), col("__p"))).as("__w"))
    val dropLists = lines.join(winners, "__h")
      .where(col("__w.__id") =!= col("__id") || col("__w.__p") =!= col("__p"))
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__p"))).as("__drop"))
      .withColumnRenamed("__id", idCol)
    val joined = df.join(dropLists, Seq(idCol), "left")
    val drops = coalesce(col("__drop"), array().cast("array<int>"))
    val kept = filter(units, (l, i) => !array_contains(drops, i))
    val nullGuard = col(textCol).isNull
    joined
      .withColumn("n_lines_dropped",
        when(nullGuard, lit(0L)).otherwise(size(drops).cast("long")))
      .withColumn("n_lines_kept",
        when(nullGuard, lit(0L)).otherwise(size(kept).cast("long")))
      .withColumn(textCol,
        when(nullGuard, lit("")).otherwise(array_join(kept, "\n")))
      .drop("__drop")
  }
}
