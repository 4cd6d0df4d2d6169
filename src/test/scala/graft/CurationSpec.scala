package graft

import org.apache.spark.sql.functions._
import graft.core.GraftSession
import graft.ext.{Curation, NgramLm, TextAnalysis}

class CurationSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val corpus =
    (1L to 400L).map(i => (i, s"src${i % 4}")).toDF("id", "source")

  test("groupQuota: deterministic top-k per group, ties break on the " +
      "caller's total order, partitioning-invariant") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      ("a", 1L, 100L), ("a", 2L, 300L), ("a", 3L, 300L), ("a", 4L, 50L),
      ("b", 5L, 10L), ("c", 6L, 7L), ("c", 7L, 7L), ("c", 8L, 7L))
      .toDF("source", "doc_id", "n_chars")
    def run(df: org.apache.spark.sql.DataFrame) =
      Curation.groupQuota(df, Seq("source"),
          Seq(col("n_chars").desc, col("doc_id").asc), k = 2)
        .select("source", "doc_id", "quota_rank")
        .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
    val got = run(rows)
    assert(got == Seq(("a", 2L, 1L), ("a", 3L, 2L), ("b", 5L, 1L),
      ("c", 6L, 1L), ("c", 7L, 2L)))
    assert(run(rows.repartition(7)) == got)
    intercept[IllegalArgumentException](
      Curation.groupQuota(rows, Seq("source"), Seq(col("doc_id")), 0))
  }

  test("curationPipeline: every CurationConfig field is live (q197 " +
      "pins the defaults; a silently-ignored knob must fail here)") {
    import Curation.CurationConfig
    val docs = GraftSession.table(spark, "/root/testdata/sf0.001",
      "documents").select("doc_id", "source", "text")
    val base = Curation.curationPipeline(docs)
    val n = base.count()
    assert(n > 0)
    val kept = base.filter(col("quota_rank").isNotNull).count()
    // quotaK: rank cut moves with the cap
    val k1 = Curation.curationPipeline(docs,
      CurationConfig(quotaK = 1L))
    assert(k1.filter(col("quota_rank").isNotNull).count() < kept)
    // minTokens: an impossible gate empties the pipeline
    assert(Curation.curationPipeline(docs,
      CurationConfig(minTokens = 1000000L)).count() === 0)
    // splitSeed: a different seed re-deals at least one cluster
    val s1 = base.select("doc_id", "split")
    val s2 = Curation.curationPipeline(docs,
      CurationConfig(splitSeed = "cp2")).select("doc_id", "split")
    assert(s1.exceptAll(s2).count() > 0)
    // splits: a single 100% bucket maps everything to it
    assert(Curation.curationPipeline(docs,
        CurationConfig(splits = Seq("all" -> 1.0)))
      .filter(col("split") =!= "all").count() === 0)
    // lineWidth / maxLineDocFreq feed the dedup stages: cleaned
    // lengths must move when the reconstruction width doubles
    val w8 = Curation.curationPipeline(docs,
      CurationConfig(lineWidth = 8))
    assert(w8.select(sum("n_chars_clean")).as[Long].head !==
      base.select(sum("n_chars_clean")).as[Long].head)
  }

  test("curationPipeline LM gate: the lmModel/lmMinMeanPE9 knob is " +
      "live — gate cuts low-scoring docs before every later stage") {
    import Curation.CurationConfig
    val docs = GraftSession.table(spark, "/root/testdata/sf0.001",
      "documents").select("doc_id", "source", "text")
    val model = NgramLm.train(docs.where(col("doc_id") % 2 === 0), "text",
      2, NgramLm.Fixed)
    val base = Curation.curationPipeline(docs)
    // tau = 0 with a model: only docs with >= 1 bigram survive the
    // gate; the heuristic minTokens gate subsumes that here, so the
    // output matches the ungated run row-for-row
    val tau0 = Curation.curationPipeline(docs,
      CurationConfig(lmMinMeanPE9 = 0L), Some(model))
    assert(tau0.select("doc_id").exceptAll(base.select("doc_id"))
      .count() === 0)
    assert(base.count() === tau0.count())
    // a median-ish tau cuts SOME docs but not all, and the survivors
    // are exactly the score-gated subset (exact-integer compare)
    val facts = NgramLm.facts(docs, "doc_id", "text", model, 2,
      NgramLm.Fixed, None)
    val tau = 34000000L
    val expectKeep = facts
      .filter(col("sum_p_e9") >= col("n_bigrams") * tau)
      .select("doc_id")
    val gated = Curation.curationPipeline(docs,
      CurationConfig(lmMinMeanPE9 = tau), Some(model))
    assert(gated.count() > 0)
    assert(gated.count() < base.count())
    assert(gated.select("doc_id").exceptAll(expectKeep).count() === 0)
    // an impossible tau empties the pipeline
    assert(Curation.curationPipeline(docs,
      CurationConfig(lmMinMeanPE9 = 2000000000L), Some(model))
      .count() === 0)
    // the gate recomputes DOWNSTREAM stages over survivors: some doc
    // present in both runs must change quota_rank or split source
    // ranking (boilerplate/quota are corpus-level)
    val joined = base.select(col("doc_id"),
        col("quota_rank").as("r0"))
      .join(gated.select(col("doc_id"), col("quota_rank").as("r1")),
        "doc_id")
    assert(joined.filter(
      (col("r0").isNull =!= col("r1").isNull) ||
        (col("r0").isNotNull && col("r1").isNotNull &&
          col("r0") =!= col("r1"))).count() > 0)
  }

  test("curationPipeline lmScorer knob: the trigram scorer plugs in " +
      "and gates on n_trigrams, diverging from the bigram gate") {
    import Curation.CurationConfig
    val docs = GraftSession.table(spark, "/root/testdata/sf0.001",
      "documents").select("doc_id", "source", "text", "lang")
    val en = docs.where(col("lang") === "en")
      .select("doc_id", "source", "text")
    val d = docs.select("doc_id", "source", "text")
    val bi = NgramLm.train(en, "text", 2, NgramLm.Fixed)
    val tri = NgramLm.train(en, "text", 3, NgramLm.Fixed)
    val tau = 40000000L
    val triGated = Curation.curationPipeline(d,
      CurationConfig(lmMinMeanPE9 = tau), Some(tri),
      lmScorer = (3, NgramLm.Fixed))
    val biGated = Curation.curationPipeline(d,
      CurationConfig(lmMinMeanPE9 = tau), Some(bi))
    // the trigram gate keeps exactly the trigram-score-gated subset
    val expectKeep = NgramLm.facts(d, "doc_id", "text", tri, 3,
        NgramLm.Fixed, None)
      .filter(col("sum_p_e9") >= col("n_trigrams") * tau)
      .select("doc_id")
    assert(triGated.count() > 0)
    assert(triGated.select("doc_id").exceptAll(expectKeep)
      .count() === 0)
    // the knob is LIVE: bigram and trigram gates at the same tau keep
    // different doc sets (different models, different instance counts)
    assert(triGated.select("doc_id")
      .exceptAll(biGated.select("doc_id")).count() > 0 ||
      biGated.select("doc_id")
        .exceptAll(triGated.select("doc_id")).count() > 0)
    // estimated-D scorers also satisfy the facts contract
    val estGated = Curation.curationPipeline(d,
      CurationConfig(lmMinMeanPE9 = tau), Some(bi),
      lmScorer = (2, NgramLm.Estimated))
    assert(estGated.count() > 0)
    // the modified-KN scorer plugs in and keeps exactly the
    // mKN-score-gated subset (the q288 composition); at the same tau
    // it diverges from the pinned-D bigram gate (different discounts,
    // same instances)
    val mknTau = 33500000L
    val mknGated = Curation.curationPipeline(d,
      CurationConfig(lmMinMeanPE9 = mknTau), Some(bi),
      lmScorer = (2, NgramLm.Modified))
    val mknKeep = NgramLm.facts(d, "doc_id", "text", bi, 2,
        NgramLm.Modified, None)
      .filter(col("sum_p_e9") >= col("n_bigrams") * mknTau)
      .select("doc_id")
    assert(mknGated.count() > 0)
    assert(mknGated.select("doc_id").exceptAll(mknKeep)
      .count() === 0)
    val pinGated = Curation.curationPipeline(d,
      CurationConfig(lmMinMeanPE9 = mknTau), Some(bi))
    assert(mknGated.select("doc_id")
      .exceptAll(pinGated.select("doc_id")).count() > 0 ||
      pinGated.select("doc_id")
        .exceptAll(mknGated.select("doc_id")).count() > 0)
  }

  test("ccnetBuckets: per-language tertiles by trained-LM score, " +
      "head = highest mean probability; deterministic ranks; the " +
      "scorer knob is live") {
    import Curation._
    // model: "the cat sat"/"the cat ran" (the knScoreDocs fixture) —
    // pinned D=3/4: p(cat|the)=750000000, p(sat|cat)=p(ran|cat)
    // = 375000000
    val model = Map(2 -> NgramLm.ngrams(
      Seq("the cat sat", "the cat ran").toDF("text"), "text", 2, None))
    val docs = Seq(
      (1L, "aa", "the cat sat"), // mean 562500000 -> head
      (2L, "aa", "the cat"),     // mean 750000000 -> head
      (3L, "aa", "cat sat"),     // mean 375000000 -> middle
      (4L, "aa", "cat ran"),     // mean 375000000 -> middle (id tie)
      (5L, "aa", "zzz yyy"),     // mean 0 -> tail
      (6L, "aa", "solo"),        // zero row -> tail
      (7L, "bb", "the cat")      // own language: single doc -> head
    ).toDF("doc_id", "lang", "text")
    val got = Curation.ccnetBuckets(docs, "doc_id", "lang", "text",
        model)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(3)))
    assert(got.toSeq == Seq((1L, "head"), (2L, "head"),
      (3L, "middle"), (4L, "middle"), (5L, "tail"), (6L, "tail"),
      (7L, "head")))
    // scorer knob live: an impossible scorer ranking flips buckets
    val got2 = Curation.ccnetBuckets(docs, "doc_id", "lang", "text",
        model,
        lmScorer = (2, NgramLm.Modified))
      .orderBy("doc_id").collect().map(_.getString(3))
    assert(got2.length == 7)
  }

  test("lengthGroupedBatches: layout is a pure function of (seed, id, " +
      "len); grouping beats id-order batching on total padding") {
    val docs = (1L to 400L).map(i => (i, (i * 37 % 211) + 5))
      .toDF("id", "len")
    val got = Curation.lengthGroupedBatches(docs, "id", "len",
      batchSize = 8, seed = "lb1", nShards = 4)
    // exhaustive + stable under repartitioning
    assert(got.count() == 400)
    val a = got.orderBy("id").collect().toSeq
    val b = Curation.lengthGroupedBatches(docs.repartition(13), "id",
        "len", batchSize = 8, seed = "lb1", nShards = 4)
      .orderBy("id").collect().toSeq
    assert(a == b)
    // batches are full-size except each shard's tail
    val sizes = got.groupBy("shard", "batch_idx")
      .count().select("count").as[Long].collect()
    assert(sizes.count(_ != 8L) <= 4)
    val grouped = got.agg(sum("pad_waste")).as[Long].head
    // naive baseline: same shards, batch by id order instead of length
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("id")
    val naive = docs
      .withColumn("shard", Curation.shard("lb1", col("id"), 4))
      .withColumn("bi", expr("(row_number() over " +
        "(partition by shard order by id) - 1) div 8"))
      .withColumn("mx", max(col("len")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("shard", "bi")))
      .agg(sum(col("mx") - col("len"))).as[Long].head
    assert(grouped < naive,
      s"length grouping should cut padding: grouped=$grouped naive=$naive")
  }

  test("shard: stable, in-range, roughly balanced") {
    val shards = corpus
      .select(Curation.shard("ep1", col("id"), 8).as("shard"))
      .groupBy("shard").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shards.keySet.forall(s => s >= 0 && s < 8))
    assert(shards.size == 8)
    assert(shards.values.forall(c => c > 20 && c < 80)) // ~50 each
  }

  test("mixSources: exact weights 1.0 and 0.0; rate within tolerance") {
    val kept = Curation.mixSources(corpus, "source", "id",
      Seq("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0), "mix1")
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") == 100L) // weight 1.0 keeps everything
    assert(!bySrc.contains("src2")) // weight 0.0 drops everything
    assert(!bySrc.contains("src3")) // unlisted drops everything
    assert(bySrc("src1") > 30L && bySrc("src1") < 70L) // ~50
    // decisions are per-(seed,id): rerun selects the identical subset
    val again = Curation.mixSources(corpus, "source", "id",
      Seq("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0), "mix1")
    assert(kept.select("id").as[Long].collect().sorted.toSeq ==
      again.select("id").as[Long].collect().sorted.toSeq)
  }

  test("datasetCard: exact per-source counts; dup detection is cross-source") {
    import org.apache.spark.sql.Row
    val docs = Seq(
      ("web",  "aa bb"),     // dup of the wiki doc (cross-source!)
      ("web",  "cc dd ee"),
      ("web",  "cc dd ee"),  // dup within web
      ("wiki", "aa bb"),     // dup of web's first doc
      ("wiki", "x1 y2?")     // unique; 2 alpha of 6 chars
    ).toDF("source", "text")
    val card = Curation.datasetCard(docs, "source", "text")
      .orderBy("source").collect()
    // web: 3 docs, 8 tokens, 5+8+8=21 chars, alpha 4+6+6=16/21, all 3 dup
    assert(card(0) == Row("web", 3L, 8L, 21L, 16.0 / 21.0, 3L))
    // wiki: 2 docs, 4 tokens, 5+6=11 chars, alpha 4+2=6/11, 1 dup
    assert(card(1) == Row("wiki", 2L, 4L, 11L, 6.0 / 11.0, 1L))
    // null text still counts as a document (0 tokens/chars), and an
    // all-empty source pins alpha_ratio to 0.0 instead of NULL/NaN
    val withNull = Seq(("n1", Option("x")), ("n1", None),
      ("n2", Option("")), ("n2", Option(""))).toDF("source", "text")
    val c2 = Curation.datasetCard(withNull, "source", "text")
      .orderBy("source").collect()
    assert(c2(0) == Row("n1", 2L, 1L, 1L, 1.0, 0L))
    assert(c2(1) == Row("n2", 2L, 2L, 0L, 0.0, 2L))
  }

  test("assignSplits: exhaustive, stable under growth, fractions near-exact") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val assigned = Curation.assignSplits(corpus, "id", "sp1", splits)
    val byS = assigned.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every row lands somewhere; fractions approximate at n=400
    assert(byS.values.sum == 400L)
    assert(byS("train") > 280L && byS("train") < 360L)
    assert(byS("val") > 15L && byS("val") < 70L)
    assert(byS("test") > 15L && byS("test") < 70L)
    // the growth-stability contract: assignment is a pure function of
    // (seed, id) — computing on HALF the corpus gives every surviving
    // row the identical split (row_number-based splits fail this)
    val half = Curation.assignSplits(
      corpus.filter(col("id") <= 200), "id", "sp1", splits)
    val full = assigned.filter(col("id") <= 200)
    assert(half.exceptAll(full).isEmpty && full.exceptAll(half).isEmpty)
    // fractions must sum to 1
    intercept[IllegalArgumentException] {
      Curation.assignSplits(corpus, "id", "sp1", Seq("a" -> 0.5))
    }
  }

  test("upsampleSources: integer weights exact, fractional rate, zero drops") {
    val up = Curation.upsampleSources(corpus, "source", "id",
      Seq("src0" -> 2.5, "src1" -> 0.0, "src2" -> 3.0), "mix2").cache()
    val byS = up.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byS("src2") == 300L)        // x3 exactly (100 docs)
    assert(!byS.contains("src1"))      // weight 0 drops the source
    assert(byS("src3") == 100L)        // unlisted defaults to x1
    assert(byS("src0") > 220L && byS("src0") < 280L) // 2.5x of 100 ~ 250
    // (id, copy) is a key: replicas are distinguishable rows
    assert(up.select("id", "copy").distinct().count() == up.count())
    // copy indices are dense 0..n-1 per row
    val maxByid = up.filter(col("source") === "src2")
      .groupBy("id").agg(countDistinct("copy").as("n"), max("copy").as("m"))
      .filter(col("n") =!= 3 || col("m") =!= 2).count()
    assert(maxByid == 0)
    // hash-derandomized: a re-run is the identical multiset
    val again = Curation.upsampleSources(corpus, "source", "id",
      Seq("src0" -> 2.5, "src1" -> 0.0, "src2" -> 3.0), "mix2")
    assert(up.exceptAll(again).isEmpty && again.exceptAll(up).isEmpty)
    up.unpersist()
  }

  test("contamination: shingle-overlap fraction against a broadcast eval set") {
    val eval = Seq((100L, "a b c d")).toDF("doc_id", "text") // "a b c","b c d"
    val corpus = Seq(
      (1L, "a b c x"),   // trigrams: "a b c" (hit), "b c x" -> 1/2
      (2L, "p q r s t"), // no overlap -> 0/3
      (3L, "b c d z b c d") // "b c d" hit, others not -> check exact set
    ).toDF("doc_id", "text")
    val got = Curation.contamination(corpus, eval, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 1L, 0.5)))
    assert(got(2L) == ((3L, 0L, 0.0)))
    // doc 3 distinct trigrams: "b c d","c d z","d z b","z b c" -> 1 hit
    assert(got(3L) == ((4L, 1L, 0.25)))
  }

  test("topTfidfTerm: rational idf ranks rare-but-frequent terms first") {
    val df = Seq((1L, "x x y"), (2L, "y z"), (3L, "z z q"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.topTfidfTerm(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "x") // tf 2, df 1: score 2*4/2 = 4.0
    assert(got(2L) == "y") // y and z tie at 4/3 — term asc breaks it
    assert(got(3L) == "z") // tf 2 beats rarer q (8/3 > 2)
  }

  test("packSequences: per-shard contiguous fill == sequential simulation") {
    val docs = (1L to 300L).map(i => (i, 1 + (i % 37).toInt))
      .toDF("id", "toks")
    val packed = Curation.packSequences(docs, "id", "toks",
      budget = 64L, seed = "ep9", nShards = 4)
      .select("id", "toks", "shard", "pack", "pack_offset")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(packed.length == 300)
    assert(packed.map(_._3).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    // simulate the contiguous fill per shard in plain Scala
    def skey(id: Long): String = java.security.MessageDigest
      .getInstance("MD5").digest(s"ep9#$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val byShard = packed.groupBy(_._3)
    for ((shard, rows) <- byShard) {
      val ordered = rows.sortBy { case (id, _, _, _, _) => (skey(id), id) }
      var cum = 0L
      for ((id, toks, _, pack, off) <- ordered) {
        assert(pack == cum / 64, s"doc $id in shard $shard")
        assert(off == cum % 64, s"doc $id in shard $shard")
        assert(off >= 0 && off < 64)
        cum += toks
      }
    }
    // re-run, any partitioning: bit-identical assignment
    val again = Curation.packSequences(docs.repartition(13), "id", "toks",
      budget = 64L, seed = "ep9", nShards = 4)
      .select("id", "toks", "shard", "pack", "pack_offset")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(again.sortBy(_._1).toSeq == packed.sortBy(_._1).toSeq)
  }

  test("qualityVerdict: first failing gate names the verdict") {
    val docs = Seq(
      (1L, "one two three"),                                 // < 5 tokens
      (2L, "@@ ## $$ %% ^^ && ** (("),                       // short-circuit: too_short beats low_alpha? 8 tokens, alpha 0
      (3L, "ok ok ok ok ok ok ok ok ok ok"),                 // repetitive
      (4L, "a perfectly ordinary sentence with seven words entirely fine here"),
      (5L, "good words then !!! ??? *** ### %%% mixed in heavily padding tokens"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.qualityVerdict(docs, "text")
      .select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "too_short")
    assert(got(2L) == "low_alpha") // 8 tokens, fails alpha first
    assert(got(3L) == "repetitive")
    assert(got(4L) == "keep")
    assert(got(5L) == "high_punct")
  }

  test("end-to-end curation pipeline: gate -> dedup -> decontaminate -> mix -> pack, reproducible") {
    // the full pre-training data path composed from the shipped
    // operators, run twice from scratch — every stage is
    // hash-derandomized, so the SECOND run must be bit-identical
    import graft.ext.Dedup
    val docs = GraftSession.table(spark, "/root/testdata/sf0.001",
      "documents").select("doc_id", "text", "source")
    def pipeline(): Array[(Long, Long, Long, Long)] = {
      val kept = TextAnalysis.qualityVerdict(docs, "text")
        .filter($"verdict" === "keep").select("doc_id", "text", "source")
      val reps = kept.join(
        Dedup.exact(kept, "doc_id", "text").select($"keep_id".as("doc_id")),
        Seq("doc_id"), "leftsemi")
      val evalSet = docs.filter($"doc_id" < 10)
      val contaminated = Curation.contamination(reps, evalSet,
        "doc_id", "text", n = 3)
        .filter($"contamination" > 0.5).select("doc_id")
      val clean = reps.join(contaminated, Seq("doc_id"), "leftanti")
      // leakage-safe split stage: near-dup (here: exact-dup) clusters
      // land whole in train — eval-boundary hygiene BEFORE mixing
      val dupPairs = Dedup.exact(docs, "doc_id", "text")
        .filter($"n_copies" > 1)
        .join(docs.select(md5($"text").as("content_hash"), $"doc_id"),
          Seq("content_hash"))
        .select($"keep_id".as("a"), $"doc_id".as("b"))
        .filter($"a" =!= $"b")
      val split = Curation.leakageSafeSplit(clean, dupPairs, "doc_id",
        "a", "b", "e2e-split",
        Seq("train" -> 0.9, "val" -> 0.1))
      val train = split.filter($"split" === "train")
        .select("doc_id", "text", "source")
      val mixed = Curation.mixSources(train, "source", "doc_id",
        Seq("src0" -> 1.0, "src1" -> 1.0, "src2" -> 0.5, "src3" -> 0.5),
        seed = "e2e")
      // tokenizer stage: train BPE on the curated mix, encode, and
      // pack on the TRUE subword counts — the full pretraining shape
      val merges = TextAnalysis.bpeTrain(mixed, "text", numMerges = 20)
      val encoded = TextAnalysis.bpeApply(mixed, "doc_id", "text", merges)
        .withColumn("n_tokens", size($"bpe_tokens"))
      val packed = Curation.packSequences(encoded,
        "doc_id", "n_tokens", budget = 512L, seed = "e2e", nShards = 4)
      packed.select($"doc_id", $"shard", $"pack", $"pack_offset")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    }
    val first = pipeline()
    assert(first.length > 50, s"pipeline kept only ${first.length} docs")
    // structural invariants: offsets within budget, shards in range,
    // no document packed twice
    assert(first.forall(r => r._4 >= 0 && r._4 < 512))
    assert(first.forall(r => r._2 >= 0 && r._2 < 4))
    assert(first.map(_._1).distinct.length == first.length)
    // bit-identical re-run (fresh plans, same seeds)
    assert(pipeline().toSeq == first.toSeq)
  }

  test("bigramFamiliarity: in-domain text outscores scrambled text") {
    // 20 docs repeating the same phrase patterns + one doc of the SAME
    // vocabulary in a never-seen order: the corpus-conditional bigram
    // score must separate them (the self-trained perplexity-filter
    // property)
    val normal = (0 until 20).map(i =>
      (i.toLong, s"the quick brown fox jumps over the lazy dog run $i"))
    val scrambled = (99L, "dog the over quick lazy brown jumps fox the run")
    val df = (normal :+ scrambled).toDF("doc_id", "text")
    val got = TextAnalysis.bigramFamiliarity(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2).toDouble / r.getLong(1))).toMap
    val normalAvg = normal.map(n => got(n._1)).sum / normal.length
    assert(got(99L) < normalAvg / 2,
      s"scrambled ${got(99L)} vs normal avg $normalAvg")
    // exact-integer scores: same input, any partitioning, same sums
    val again = TextAnalysis.bigramFamiliarity(df.repartition(7),
      "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val first = TextAnalysis.bigramFamiliarity(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(again == first)
  }

  test("withRepetitionScore: exact gram accounting") {
    val df = Seq(
      (1L, "a b a b a"),        // grams: ab ba ab ba -> 4 total, 2 distinct
      (2L, "w x y z"),          // all distinct -> ratio 0.0
      (3L, "q q q q q"),        // one distinct gram -> 4 total, 1 distinct
      (4L, "solo")              // < n tokens -> zeros
    ).toDF("doc_id", "text")
    val got = TextAnalysis.withRepetitionScore(df, "text", n = 2)
      .select("doc_id", "n_grams", "n_distinct_grams", "dup_gram_ratio")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((4L, 2L, 0.5)))
    assert(got(2L) == ((3L, 3L, 0.0)))
    assert(got(3L) == ((4L, 1L, 0.75)))
    assert(got(4L) == ((0L, 0L, 0.0)))
  }

  test("clusterBalancedSample: per-cell cap, hash order, partition-invariant") {
    // 100 points hugging centroid 0 (the dominant cluster) vs 5 at
    // centroid 1 — the shape the cap exists for
    val rows = (0L until 100L).map(i => (i, Array(0.1f * (i % 7), 1.0f))) ++
      (100L until 105L).map(i => (i, Array(10f, 10f)))
    val df = rows.toDF("id", "vec")
    val cents = Seq((0L, Array(0f, 1f)), (1L, Array(10f, 10f)))
      .toDF("cid", "cvec")
    def run(d: org.apache.spark.sql.DataFrame) =
      Curation.clusterBalancedSample(d, "id", "vec", cents,
          quota = 10, seed = "s1")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = run(df)
    // dominant cell capped at quota; small cell keeps everything
    assert(got.count(_._2 == 0L) == 10, "cell 0 must cap at quota")
    assert(got.count(_._2 == 1L) == 5, "cell 1 has < quota, keeps all")
    // the kept set and ranks ARE the (ascending hashU32, id) order —
    // replayed driver-side through the JVM twin
    def naive(ids: Seq[Long], cell: Long): Set[(Long, Long, Int)] =
      ids.sortBy(i => (Curation.hashU32Jvm("s1", i.toString), i))
        .take(10).zipWithIndex
        .map { case (i, r) => (i, cell, r + 1) }.toSet
    assert(got == naive(0L until 100L, 0L) ++ naive(100L until 105L, 1L))
    // same rows and ranks under any input partitioning (the bounded
    // aggregator's merges land in the same total order)
    assert(run(df.repartition(7)) == got)
  }

  test("bpeTrain: hand-derived merge sequence on the classic corpus") {
    import graft.ext.TextAnalysis
    // the HF-docs BPE example: word counts hug=10 pug=5 pun=12 bun=4
    // hugs=5 → pair counts (u,g)=20 > (p,u)=17 > (u,n)=16 > (h,u)=15 …
    // merge order is therefore ug, un, hug (after "ug" exists, (h,ug)
    // counts 15 and beats (p,un)=12)
    val text = (Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs"))
      .mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, "text", numMerges = 3)
      .orderBy("rank")
      .select("rank", "left", "right", "merged")
      .as[(Int, String, String, String)].collect().toSeq
    assert(merges == Seq(
      (0, "u", "g", "ug"), (1, "u", "n", "un"), (2, "h", "ug", "hug")))
    // merge decisions are word-count functions: re-partitioning the
    // corpus (and splitting the words across docs) changes nothing
    val spread = (Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text").repartition(7)
    val again = TextAnalysis.bpeTrain(spread, "text", 3)
      .orderBy("rank").select("rank", "left", "right", "merged")
      .as[(Int, String, String, String)].collect().toSeq
    assert(again == merges)
    // early stop: a single-char corpus has no pairs after 0 merges
    assert(TextAnalysis.bpeTrain(
      Seq((1L, "a a a")).toDF("doc_id", "text"), "text", 5).count() == 0)
    // the bounded-collect contract fails loudly
    val err = intercept[IllegalArgumentException](
      TextAnalysis.bpeTrain(Seq((1L, "one two three")).toDF("d", "text"),
        "text", 2, maxWords = 2))
    assert(err.getMessage.contains("maxWords"))
  }

  test("bpeApply: rank-greedy encode matches hand expectation; lossless") {
    import graft.ext.TextAnalysis
    val text = (Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs"))
      .mkString(" ")
    val train = Seq((1L, text)).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(train, "text", 3)
    val docs = Seq((1L, "hug pun hugs bug"), (2L, "mug un!"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeApply(docs, "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toMap
    // hug→[hug]; pun→[p,un]; hugs→[hug,s]; bug (unseen)→[b,ug];
    // mug→[m,ug]; un→[un]; "!"→["!"] (punct is its own pre-token)
    assert(got(1L) == Seq("hug", "p", "un", "hug", "s", "b", "ug"))
    assert(got(2L) == Seq("m", "ug", "un", "!"))
    // lossless: concatenating a word's tokens rebuilds the word, for
    // random unseen text too
    val rnd = new scala.util.Random(5)
    val wild = (0 until 50).map(i => (i.toLong,
      (0 until 8).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString)
        .mkString(" "))).toDF("doc_id", "text")
    val back = TextAnalysis.bpeApply(wild, "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toMap
    wild.as[(Long, String)].collect().foreach { case (id, t) =>
      assert(back(id).mkString == t.replaceAll("\\s+", ""),
        s"doc $id not lossless")
    }
    // partition invariance
    val again = TextAnalysis.bpeApply(docs.repartition(5), "doc_id",
      "text", merges).as[(Long, Seq[String])].collect().toMap
    assert(again == got)
  }

  test("leakageSafeSplit: chains land whole; singletons hash own id") {
    val items = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = Curation.leakageSafeSplit(items, pairs, "id", "a", "b",
        "ls-spec", splits)
      .select("id", "cluster", "split")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == (1L to 7L).toSet)
    // transitive chain 1~2, 2~3 is ONE cluster labeled by its min id
    assert(Seq(1L, 2L, 3L).map(got(_)._1).toSet == Set(1L))
    assert(Seq(5L, 6L).map(got(_)._1).toSet == Set(5L))
    assert(got(4L)._1 == 4L && got(7L)._1 == 7L)
    // every cluster is split-pure, and the split is exactly
    // assignSplits of the cluster label — growth-stable by the same
    // argument as the per-id form
    val repSplit = Curation.assignSplits(
        Seq(1L, 4L, 5L, 7L).toDF("id"), "id", "ls-spec", splits)
      .as[(Long, String)].collect().toMap
    got.foreach { case (_, (cluster, split)) =>
      assert(split == repSplit(cluster))
    }
  }

  test("weightedSample: A-ES selection == brute force; weight-monotone") {
    val rows = (0L until 400L).map(i => (i, 1L + i % 7)) // weights 1..7
    val df = rows.toDF("id", "w")
    def brute(seed: String, k: Int): Seq[Long] = rows.map { case (i, w) =>
      val u = (Curation.hashU32Jvm(seed, i.toString) + 0.5) / 4294967296.0
      (math.log(u) / w, i)
    }.sortBy { case (key, i) => (-key, i) }.take(k).map(_._2)
    val got = Curation.weightedSample(df, "id", col("w"), 25, "s1")
      .select("id").as[Long].collect().toSeq
    assert(got.sorted == brute("s1", 25).sorted)
    // deterministic + partition-invariant (the draw is the hash)
    val again = Curation.weightedSample(df.repartition(13), "id",
      col("w"), 25, "s1").select("id").as[Long].collect().toSeq
    assert(again.sorted == got.sorted)
    // weight monotonicity: across 40 seeds, the total inclusion count
    // of heavy ids (w=7) must beat light ids (w=1) — deterministic
    // because every draw is a fixed hash
    val counts = (0 until 40).map(s => brute(s"m$s", 25))
      .flatten.groupBy(identity).view.mapValues(_.size).toMap
    def tot(w: Long) = rows.filter(_._2 == w).map(r =>
      counts.getOrElse(r._1, 0)).sum
    assert(tot(7L) > 2 * tot(1L), s"w=7 ${tot(7L)} vs w=1 ${tot(1L)}")
    // null / non-positive weights never sample
    val bad = Seq((1000L, 0L), (1001L, -5L)).toDF("id", "w")
      .unionByName(df)
    val gotBad = Curation.weightedSample(bad, "id", col("w"), 500, "s1")
      .select("id").as[Long].collect().toSeq
    assert(!gotBad.contains(1000L) && !gotBad.contains(1001L) &&
      gotBad.length == 400)
  }

  test("randomNegatives: k uniform draws, positives excluded, seeded") {
    import graft.ext.Curation
    val corpus = (0L until 80L).toDF("id")
    val pos = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 0L)).toDF("a", "b")
    def run(seed: String, parts: Int = 4) =
      Curation.randomNegatives(corpus.repartition(parts), "id", pos,
          "a", "b", col("id") < 4, k = 5, seed)
        .as[(Long, Long, Int)].collect().toSeq
    val got = run("s1")
    // exactly k per anchor, ranks 1..k, no self, no positive in
    // either orientation
    val posSet = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 0L))
      .flatMap(p => Seq(p, p.swap)).toSet
    got.groupBy(_._1).foreach { case (q, g) =>
      assert(g.map(_._3).sorted == (1 to 5), q)
      g.foreach { case (a, n, _) =>
        assert(a != n && !posSet((a, n)), s"($a,$n)")
      }
    }
    // deterministic and partition-invariant; a new seed re-draws
    assert(run("s1", parts = 13) == got)
    assert(run("s2").map(t => (t._1, t._2)).toSet !=
      got.map(t => (t._1, t._2)).toSet)
    // matches the md5-rank brute force (md5("seed#q#n"), the
    // shuffleKeyJvm twin of the operator's concat_ws draw)
    val want = (0L until 4L).flatMap { q =>
      (0L until 80L).filter(n => n != q && !posSet((q, n)))
        .map(n => (Curation.shuffleKeyJvm("s1", s"$q#$n"), n))
        .sorted.take(5).zipWithIndex
        .map { case ((_, n), i) => (q, n, i + 1) }
    }
    assert(got.sorted == want.sorted)
  }

  test("withTopGramCoverage: brute force, ties, short docs, dominance") {
    // the second Gopher repetition rule: one dominant phrase must be
    // visible even when the distinct-gram ratio looks clean
    val rows = Seq(
      (0L, "spam alert spam alert spam alert spam alert"), // dominated
      (1L, "a b c d e f g h"),                  // all grams unique
      (2L, "x y z x y w"),                      // one repeat: "x y" ×2
      (3L, "solo"),                             // < n tokens
      (4L, ""),                                 // empty text
      (5L, "b a b a c c b a"))                  // tie handling
    val got = TextAnalysis.withTopGramCoverage(
        rows.toDF("doc_id", "text"), "doc_id", "text", n = 2)
      .orderBy("doc_id")
      .as[(Long, Option[String], Long, Double)].collect().toSeq
    // brute force: split \s+, bigram counts, top by (cnt desc, gram asc)
    def brute(id: Long, text: String) = {
      val t = text.split("\\s+").toSeq
      val chars = t.mkString(" ").length.toLong
      val grams = t.sliding(2).filter(_.size == 2)
        .map(_.mkString(" ")).toSeq
      if (grams.isEmpty) (id, None, 0L, 0.0)
      else {
        val (g, c) = grams.groupBy(identity).view.mapValues(_.size.toLong)
          .toSeq.minBy { case (g, c) => (-c, g) }
        (id, Some(g), c,
          if (chars > 0) c * g.length.toDouble / chars else 0.0)
      }
    }
    assert(got == rows.map((brute _).tupled))
    // the dominated doc stands out; the clean doc does not
    val byId = got.map(r => r._1 -> r._4).toMap
    assert(byId(0L) > 0.4 && byId(1L) <= 0.2)
    // coverage orders by domination: full-doc phrase loop > one
    // repeated bigram in a short doc > all-unique grams
    assert(byId(0L) > byId(2L) && byId(2L) > byId(1L))
  }

  test("withLineRepetition: brute force on real multi-line text, " +
      "paragraph mode, empty/null docs") {
    val rows = Seq(
      (0L, "copy me\nunique one\ncopy me\ncopy me\nz"), // 3x dup line
      (1L, "a\nb\nc"),                                     // all unique
      (2L, "same\n\n\nsame"),           // blank lines dropped, not dups
      (3L, ""),                         // no lines at all
      (4L, "only line"),                // single line
      (5L, "x\r\ny x"))            // \R covers CRLF + LS
    val df = rows.toDF("doc_id", "text")
      .withColumn("text", when(col("doc_id") === 3L, lit(null))
        .otherwise(col("text")))       // doc 3 exercises NULL too
    val got = TextAnalysis.withLineRepetition(df, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Double, Double)].collect().toSeq
    def brute(id: Long, text: String) = {
      val ls = text.split("\\R").toSeq.filter(_.nonEmpty)
      if (ls.isEmpty) (id, 0L, 0.0, 0.0)
      else {
        val byLine = ls.groupBy(identity).view.mapValues(_.size).toSeq
        val nl = ls.size.toLong
        val nd = byLine.size.toLong
        val chars = byLine.map { case (l, c) => l.length.toLong * c }.sum
        val dupch = byLine.map { case (l, c) => l.length.toLong * (c - 1) }.sum
        (id, nl, (nl - nd).toDouble / nl,
          if (chars == 0) 0.0 else dupch.toDouble / chars)
      }
    }
    assert(got == rows.map { case (id, t) =>
      brute(id, if (id == 3L) "" else t) })
    // the char fraction weights long duplicate lines heavier: "copy me"
    // x3 (2 excess of 7 chars) in doc 0 dominates its 2/5 line share
    val d0 = got.find(_._1 == 0L).get
    assert(d0._2 == 5L && d0._3 == 0.4 && d0._4 > d0._3)
    // paragraph mode: \R{2,} keeps single newlines INSIDE a unit
    val paras = Seq((0L, "p one\nstill p one\n\np two\n\np one\nstill p one"))
      .toDF("doc_id", "text")
    val p = TextAnalysis.withLineRepetition(paras, "doc_id", "text",
        sep = "\\R{2,}")
      .as[(Long, Long, Double, Double)].head()
    assert(p._2 == 3L && p._3 == 1.0 / 3.0) // the two-line para repeats
  }

  test("skipgramPairs: brute-force window semantics, canonical order, " +
      "short docs, exact PMI ratio") {
    val docs = Seq(
      (0L, "a b c d"),      // window 2: ab ac bc bd cd
      (1L, "b a"),          // canonicalized to (a, b)
      (2L, "x"),            // <2 tokens -> nothing
      (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.skipgramPairs(docs, "text", window = 2)
      .orderBy("a", "b")
      .as[(String, String, Long, Double)].collect().toSeq
    val counts = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(counts == Map(
      ("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L,
      ("b", "d") -> 1L, ("c", "d") -> 1L))
    // exact ratio: N = 7 corpus tokens, P = 6 extracted pairs
    val n = 7.0; val p = 6.0
    val uni = Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 1L, "x" -> 1L)
    got.foreach { case (a, b, cab, ratio) =>
      val expect = cab.toDouble * n * n / (p * uni(a) * uni(b))
      assert(ratio == expect, s"($a,$b)")
    }
  }

  test("preferencePairs: deterministic extremes, ties, null scores, " +
      "degenerate groups, margin gate") {
    import graft.ext.Curation
    val rows = Seq(
      // g1: clear best/worst
      ("g1", 1L, 0.9), ("g1", 2L, 0.1), ("g1", 3L, 0.5),
      // g2: all tied -> (highest id chosen, lowest id rejected), margin 0
      ("g2", 4L, 0.5), ("g2", 5L, 0.5),
      // g3: single row -> nothing
      ("g3", 6L, 0.7),
      // g4: one real + one null score -> one usable row -> nothing
      ("g4", 7L, 0.3), ("g4", 8L, Double.NaN),
      // g5: tie at the TOP only -> chosen = higher id of the tied pair
      ("g5", 9L, 0.8), ("g5", 10L, 0.8), ("g5", 11L, 0.2),
      // g6: a RAW NaN score must not win the max (Spark orders NaN
      // above every double) nor poison the margin — excluded like NULL
      ("g6", 12L, Double.NaN), ("g6", 13L, 0.6), ("g6", 14L, 0.4))
      .toDF("grp", "id", "sc")
      .withColumn("sc", when(col("id") === 8L, lit(null)).otherwise(col("sc")))
    val got = Curation.preferencePairs(rows, "grp", "id", "sc")
      .orderBy("grp")
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      ("g1", 1L, 2L, 0.9, 0.1, 0.8),
      ("g2", 5L, 4L, 0.5, 0.5, 0.0),
      ("g5", 10L, 11L, 0.8, 0.2, 0.6000000000000001),
      ("g6", 13L, 14L, 0.6, 0.4, 0.19999999999999996)))
    // margin gate drops the all-tied pair
    val gated = Curation.preferencePairs(rows, "grp", "id", "sc",
        minMargin = 0.1)
      .select("grp").as[String].collect().toSet
    assert(gated == Set("g1", "g5", "g6"))
  }

  test("randomNegativesBatched: n-batch run == 1-batch run row-for-row") {
    import graft.ext.Curation
    // the draw keys on (seed, anchor, candidate) only — never the
    // batch — so sharding the anchor broadcast must not move a single
    // rank
    val corpus = (0L until 80L).toDF("id")
    val pos = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 0L)).toDF("a", "b")
    val base = Curation.randomNegatives(corpus, "id", pos, "a", "b",
        col("id") < 7, k = 5, seed = "s1")
      .as[(Long, Long, Int)].collect().toSeq.sorted
    for (n <- Seq(1, 2, 4)) {
      val batched = Curation.randomNegativesBatched(corpus, "id", pos,
          "a", "b", col("id") < 7, k = 5, seed = "s1", nBatches = n)
        .as[(Long, Long, Int)].collect().toSeq.sorted
      assert(batched == base, s"nBatches=$n")
    }
  }

  test("weightedSampleStratified: per-stratum brute force; group-limit plan") {
    val rows = (0L until 300L).map(i =>
      (i, s"src${i % 3}", 1L + (i * 7919) % 11))
    val df = rows.toDF("id", "src", "w")
    val got = Curation.weightedSampleStratified(df, Seq("src"), "id",
        col("w"), k = 4, seed = "st1")
      .select("src", "id", "rank").as[(String, Long, Int)]
      .collect().toSeq
    // exactly k per stratum, ranks 1..k
    got.groupBy(_._1).foreach { case (src, g) =>
      assert(g.map(_._3).sorted == (1 to 4), src)
    }
    // matches the per-stratum brute force
    rows.groupBy(_._2).foreach { case (src, g) =>
      val want = g.map { case (i, _, w) =>
        val u = (Curation.hashU32Jvm("st1", i.toString) + 0.5) / 4294967296.0
        (math.log(u) / w, i)
      }.sortBy { case (key, i) => (-key, i) }.take(4).map(_._2)
      assert(got.filter(_._1 == src).sortBy(_._3).map(_._2) == want, src)
    }
    // the rank<=k filter must reach the window as a group limit (local
    // per-task top-k BEFORE the shuffle — the 100 TB shape)
    val plan = Curation.weightedSampleStratified(df, Seq("src"), "id",
      col("w"), 4, "st1").queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  /** The paper's own sequential loop (groups ascending by cap, each
    * takes min(cap, remaining div m)) — the independent reference the
    * closed-form window implementation must reproduce exactly. */
  private def unimaxSequential(sizes: Seq[(String, Long)], cap: Long,
      budget: Long): Map[String, Long] = {
    val caps = sizes.map { case (g, n) => (n * cap, g) }.sorted
    var r = budget
    var m = caps.size.toLong
    caps.map { case (c, g) =>
      val a = math.min(c, r / m)
      r -= a; m -= 1
      g -> a
    }.toMap
  }

  test("unimaxAllocation: hand case — capped prefix + even-split tail") {
    val df = Seq(("g0", 10L), ("g1", 20L), ("g2", 100L))
      .toDF("grp", "n")
    // total 130 tokens; budget 100 = 100/130 of the corpus
    val got = Curation.unimaxAllocationOfTotal(df, "grp", "n",
        epochCap = 2L, budgetNum = 100L, budgetDen = 130L)
      .orderBy("grp")
      .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(4)))
    // caps 20/40/200; g0,g1 capped, g2 takes the leftover 40
    assert(got.toSeq == Seq(("g0", 20L, 2000L), ("g1", 40L, 2000L),
      ("g2", 40L, 400L)))
  }

  test("unimaxAllocation == sequential UniMax loop (randomized property)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 25) {
      val k = 1 + rnd.nextInt(8)
      val sizes = (0 until k).map(i => s"g$i" -> rnd.nextInt(1000).toLong)
      val cap = 1L + rnd.nextInt(4)
      val sumCaps = sizes.map(_._2 * cap).sum
      // budget 0 .. ~2x the cap ceiling, so all-capped, all-filled and
      // mixed regimes all occur across the 25 trials
      val budget = (rnd.nextDouble() * 2.0 * math.max(sumCaps, 1L)).toLong
      // per-group tokens arrive as MULTIPLE doc rows (the agg is part
      // of the operator under test)
      val docRows = sizes.flatMap { case (g, n) =>
        if (n <= 1) Seq((g, n)) else Seq((g, n / 2), (g, n - n / 2))
      }
      // an absolute budget B is the fraction B/total of the corpus
      val total = math.max(sizes.map(_._2).sum, 1L)
      val got = Curation.unimaxAllocationOfTotal(docRows.toDF("grp", "n"),
          "grp", "n", cap, budgetNum = budget, budgetDen = total)
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
      val want = unimaxSequential(sizes, cap, budget)
      assert(got == want, s"cap=$cap budget=$budget sizes=$sizes")
      // full allocation invariant: everything is spent unless the
      // epoch cap binds globally
      assert(got.values.sum == math.min(budget, sumCaps))
    }
  }

  test("unimaxAllocationOfTotal: budget is the fraction of the corpus") {
    val df = Seq(("a", 30L), ("b", 70L)).toDF("grp", "n")
    val got = Curation.unimaxAllocationOfTotal(df, "grp", "n",
        epochCap = 2L, budgetNum = 3L, budgetDen = 2L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // budget = 150: caps 60/140 — 'a' capped at 60, 'b' takes 90
    assert(got == Map("a" -> 60L, "b" -> 90L))
  }

  test("temperatureMixture: bit-identical to the driver-side ordered " +
      "fold; alpha outside the sqrt-chain set refused") {
    val df = Seq(("de", 100L), ("en", 400L), ("zh", 25L))
      .toDF("grp", "n")
    val got = Curation.temperatureMixture(df, "grp", "n", alpha = 0.5)
      .orderBy("grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // the same fold the operator pins: sqrt terms added in group order
    val denom = ((0.0 + math.sqrt(100.0)) + math.sqrt(400.0)) +
      math.sqrt(25.0)
    assert(got.toSeq == Seq(
      ("de", 100L, math.sqrt(100.0) / denom),
      ("en", 400L, math.sqrt(400.0) / denom),
      ("zh", 25L, math.sqrt(25.0) / denom)))
    // alpha = 1 is the identity mix
    val flat = Curation.temperatureMixture(df, "grp", "n", alpha = 1.0)
      .orderBy("grp").collect().map(_.getDouble(2))
    assert(flat.toSeq == Seq(100.0 / 525.0, 400.0 / 525.0, 25.0 / 525.0))
    val e = intercept[IllegalArgumentException] {
      Curation.temperatureMixture(df, "grp", "n", alpha = 0.3)
    }
    assert(e.getMessage.contains("correctly rounded"))
  }

  test("executeMixture: full epochs replicate, fractional epoch is the " +
      "deterministic hash sample, zero-token groups drop") {
    // g1: 3 docs x 10 tokens, alloc 45 -> 1 full epoch + half fractional
    // g2: 2 docs x 10 tokens, alloc 40 -> exactly 2 full epochs
    // g3: zero tokens -> dropped
    val docs = Seq((1L, "g1"), (2L, "g1"), (3L, "g1"), (4L, "g2"),
      (5L, "g2")).toDF("id", "grp")
    val alloc = Seq(("g1", 30L, 45L), ("g2", 20L, 40L), ("g3", 0L, 0L))
      .toDF("grp", "n_tokens", "alloc_tokens")
    val got = Curation.executeMixture(docs, "grp", "id", alloc, "s1")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq.sorted
    // every doc appears at its full epochs
    assert(Seq(1L, 2L, 3L).forall(d => got.contains((d, 0L))))
    assert(Seq(4L, 5L).forall(d =>
      got.contains((d, 0L)) && got.contains((d, 1L))))
    // g2 has NO fractional epoch (rem 0); g1's fractional epoch keeps
    // exactly the docs whose hash clears the 50% threshold
    assert(!got.exists { case (d, e) => d >= 4L && e >= 2L })
    val thresh = (15L * 4294967296L) / 30L
    val wantFrac = Seq(1L, 2L, 3L)
      .filter(d => Curation.hashU32Jvm("s1", d.toString) < thresh)
    assert(got.filter(_._2 == 1L).collect {
      case (d, _) if d <= 3L => d
    } == wantFrac)
    // determinism: a re-run is byte-identical
    val again = Curation.executeMixture(docs, "grp", "id", alloc, "s1")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq.sorted
    assert(again == got)
  }

  test("fimTransform: reconstruction invariant (incl. CJK + astral), " +
      "deterministic splits, rate 0 all plain") {
    val docs = Seq(
      (1L, "abcdefgh"),
      (2L, "你好世界吧"),    // CJK, 5 code points
      (3L, "a😀b😁c"),       // astral emoji mix
      (4L, "x"),                                  // len 1: stays plain
      (5L, null.asInstanceOf[String])).toDF("id", "text")
    val got = Curation.fimTransform(docs, "id", "text", "f1", rate = 1.0)
      .orderBy("id").collect()
    // prefix || middle || suffix == text, every row
    got.foreach { r =>
      val txt = docs.filter(col("id") === r.getLong(0))
        .collect()(0).getString(1)
      val rebuilt =
        if (r.isNullAt(2)) null
        else r.getString(2) + r.getString(3) + r.getString(4)
      assert(rebuilt == txt, s"row $r")
    }
    // len >= 2 docs all split at rate 1 (mode psm/spm), short/null plain
    val modes = got.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(d => modes(d) != "plain"))
    assert(modes(4L) == "plain" && modes(5L) == "plain")
    // the CJK doc's pieces are themselves well-formed code-point cuts
    val cjk = got.find(_.getLong(0) == 2L).get
    assert((cjk.getString(2) + cjk.getString(3) + cjk.getString(4))
      .codePointCount(0, cjk.getString(2).length + cjk.getString(3).length
        + cjk.getString(4).length) == 5)
    // rate 0: everything plain and text untouched
    val plain = Curation.fimTransform(docs, "id", "text", "f1", rate = 0.0)
      .collect()
    assert(plain.forall(_.getString(1) == "plain"))
  }

  test("spanCorrupt: matches an independent JVM reference on every " +
      "doc (masks, run merge, sentinel numbers, both reassemblies)") {
    val denom = 4 // dense masking so merges actually happen
    val spanLen = 2
    def ref(id: Long, text: String): (String, String, Long) = {
      val toks = Option(text).getOrElse("")
        .split("\\s+").filter(_.nonEmpty).toSeq
      val st = toks.indices.map(i =>
        Curation.hashU32Jvm("sc1:st", s"$id:$i") % denom == 0)
      val masked = toks.indices.map(i =>
        (math.max(0, i - spanLen + 1) to i).exists(st))
      val runStarts = toks.indices
        .filter(i => masked(i) && (i == 0 || !masked(i - 1)))
      val sentOf = runStarts.zipWithIndex.toMap
      val input = toks.indices.flatMap { i =>
        if (!masked(i)) Some(toks(i))
        else sentOf.get(i).map(k => s"<extra_id_$k>")
      }.mkString(" ")
      val target = runStarts.zipWithIndex.map { case (p, k) =>
        val run = Iterator.from(p)
          .takeWhile(i => i < toks.length && masked(i))
          .map(toks).toSeq
        (s"<extra_id_$k>" +: run).mkString(" ")
      }.mkString(" ")
      (input, target, runStarts.length.toLong)
    }
    val docs = Seq(
      (1L, "the cat sat on the mat and then the dog ran far away"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two"),
      (4L, "solo"),
      (5L, ""),
      (6L, "   "),
      (7L, null.asInstanceOf[String]),
      (8L, " leading and trailing ")).toDF("id", "text")
    val got = Curation.spanCorrupt(docs, "id", "text", "sc1",
        startDenom = denom, spanLen = spanLen)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    val texts = docs.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    got.foreach { case (id, inp, tgt, ns) =>
      val (ri, rt, rn) = ref(id, texts(id))
      assert((inp, tgt, ns) == ((ri, rt, rn)), s"doc $id")
    }
    // the masking is live: some doc has spans, some doc has none
    assert(got.exists(_._4 > 0) && got.exists(_._4 == 0))
    // token conservation: stripping sentinels, |input|+|target| tokens
    // == original tokens for every doc
    got.foreach { case (id, inp, tgt, _) =>
      val orig = Option(texts(id)).getOrElse("")
        .split("\\s+").count(_.nonEmpty)
      def realToks(s: String) = s.split("\\s+")
        .count(t => t.nonEmpty && !t.startsWith("<extra_id_"))
      assert(realToks(inp) + realToks(tgt) == orig, s"doc $id")
    }
  }

  test("budgetSample: per-lane prefix semantics, quota remainder to " +
      "low lanes, deterministic across partitionings") {
    val df = (1L to 200L).map(i => (i, 10L)).toDF("id", "n")
    // budget 1005 over 4 lanes: quotas 252,251,251,251 -> 25 docs per
    // lane at 10 tokens each (the 2-token remainders can't fit a doc)
    val got = Curation.budgetSample(df, "id", "n",
        budget = 1005L, seed = "b1", nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val kept = got.map(_._1).toSet
    // every lane keeps exactly floor(quota/10) docs
    val perLane = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(perLane.values.forall(_ == 25), perLane)
    // prefix semantics: each lane's max cum <= its quota
    got.groupBy(_._2).foreach { case (lane, rows) =>
      val quota = 251L + (if (lane < 1) 1L else 0L)
      assert(rows.map(_._3).max <= quota, s"lane $lane")
    }
    // selection is the hash-order prefix: the JVM twin agrees
    val byLane = (1L to 200L).groupBy(i =>
      Curation.hashU32Jvm("b1:sh", i.toString) % 4)
    byLane.foreach { case (lane, ids) =>
      val quota = 251L + (if (lane < 1) 1L else 0L)
      val want = ids.sortBy(i => (Curation.shuffleKeyJvm("b1", i.toString), i))
        .take((quota / 10L).toInt).toSet
      assert(got.filter(_._2 == lane).map(_._1).toSet == want, s"lane $lane")
    }
    // partitioning-invariant
    val again = Curation.budgetSample(df.repartition(7), "id", "n",
        budget = 1005L, seed = "b1", nShards = 4)
      .collect().map(_.getLong(0)).toSet
    assert(again == kept)
  }

  test("lineQualityFilter: exact rational boundary, empty lines drop, " +
      "all-dropped docs keep empty text, null passes through") {
    val df = Seq(
      // 'abcde fgh' = 8 alpha / 9 chars = 0.888...; 'ab 12' = 2/5
      (1L, "abcde fgh\nab 12\nxyz"),
      // boundary: 'abcd!' = 4/5 = 0.8 EXACTLY — kept at tau = 0.8
      (2L, "abcd!\n!!!!"),
      (3L, "12 34\n!!"),
      (4L, ""),
      (5L, null.asInstanceOf[String])).toDF("id", "text")
    val got = Curation.lineQualityFilter(df, "id", "text",
        minAlphaE9 = 800000000L)
      .orderBy("id").collect()
      .map(r => if (r.isNullAt(1)) null else r.getString(1))
    assert(got.toSeq == Seq("abcde fgh\nxyz", "abcd!", "", "", null))
  }
  test("mixturePipeline: gate feeds the allocation, instances key the " +
      "shard on (epoch, doc), re-runs are byte-identical") {
    // lang a: two good docs; lang b: one good + one that FAILS the
    // alpha gate (digits) and must not inflate b's allocation
    val docs = Seq(
      (1L, "a", Seq.fill(25)("aaaa").mkString(" ")),
      (2L, "a", Seq.fill(25)("bbbb").mkString(" ")),
      (3L, "b", Seq.fill(50)("ccccc").mkString(" ")),
      (4L, "b", Seq.fill(50)("1234").mkString(" "))
    ).toDF("doc_id", "lang", "text")
    val got = Curation.mixturePipeline(docs,
        Curation.MixtureConfig(nShards = 8))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    // doc 4 never appears (gated out)
    assert(!got.exists(_._1 == 4L), got)
    // gated totals: a=50, b=50, budget=150, caps 100/100 -> each lang
    // alloc 75 = 1 full epoch + fractional; epoch 0 has all 3 docs
    assert(got.filter(_._2 == 0L).map(_._1) == Seq(1L, 2L, 3L))
    // the shard key includes the epoch (epoch:doc): every emitted
    // instance matches the JVM twin of the md5 shard draw
    got.foreach { case (d, e, sh) =>
      assert(sh == Curation.hashU32Jvm("mx1:shard", s"$e:$d") % 8,
        s"instance ($d, $e)")
    }
    val again = Curation.mixturePipeline(docs,
        Curation.MixtureConfig(nShards = 8))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(again == got)
    // config is live: a tighter gate drops everything
    val strict = Curation.mixturePipeline(docs,
      Curation.MixtureConfig(minTokens = 1000L))
    assert(strict.count() == 0)
  }

  test("evalLeakage: containment direction, worst-doc tie-break, " +
      "unmatched eval items keep their row") {
    val evalSet = Seq(
      (0L, "alpha beta gamma delta"),     // 2 trigram shingles
      (1L, "zz yy"),                      // < n: whole-text shingle
      (2L, "nothing matches this text")   // matches nothing
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon"), // full containment of 0
      (11L, "alpha beta gamma unrelated"),     // half containment of 0
      (12L, "zz yy and more"),                 // no 'zz yy' SHINGLE match
      (13L, "alpha beta gamma delta")          // full containment, ties 10
    ).toDF("doc_id", "text")
    val got = Curation.evalLeakage(corpus, evalSet, "doc_id", "text",
        n = 3, tauE9 = 600000000L)
      .orderBy("eval_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      // eval 0: docs 10/13 at 1e9 (tie → doc 10), doc 11 at 0.5e9
      (0L, 2L, 1000000000L, 10L, 2L),
      // eval 1's shingle is the whole text 'zz yy'; doc 12's trigram
      // shingles never equal it — no leak
      (1L, 1L, 0L, -1L, 0L),
      (2L, 2L, 0L, -1L, 0L)))
  }
}
