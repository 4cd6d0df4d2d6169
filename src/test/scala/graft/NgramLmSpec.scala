package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.ext.NgramLm
import graft.ext.NgramLm._

class NgramLmSpec extends SparkSpecBase {
  import spark.implicits._

  // a training corpus with singleton, doubleton and saturated n-grams
  // at both orders, and serve-time docs that reach every branch: seen,
  // known context, unknown context, unknown word, too short, empty
  private val train = Seq("the cat sat on the mat", "the cat ran",
    "a cat sat on a mat", "the dog sat", "the cat sat on the dog")
    .toDF("text")
  private val docs = Seq((1L, "the cat sat on the mat"),
    (2L, "the dog ran on a cat"), (3L, "zebra cat sat"),
    (4L, "the zebra"), (5L, "solo"), (6L, ""), (7L, "mat the cat a dog"))
    .toDF("doc_id", "text")
  private val vocab = Seq("the", "cat", "sat", "on").toDF("word")

  /** Every (order, smoother, vocabulary) combination a query row
    * scores with; `streamed` marks the ones a streaming row serves. */
  private case class Combo(order: Int, smoother: Smoother,
      open: Boolean, streamed: Boolean) {
    def vocabOpt: Option[DataFrame] = if (open) Some(vocab) else None
    // NgramLm.train's tables, left uncheckpointed so that every
    // LogicalRDD in a facts plan is one facts itself made
    def model: Map[Int, DataFrame] = (smoother match {
      case WittenBell | StupidBackoff => 1 to order
      case _ => Seq(order)
    }).map(k => k -> NgramLm.ngrams(train, "text", k, None)).toMap
    override def toString = s"order $order $smoother" +
      (if (open) " open-vocab" else "")
  }
  private val combos = Seq(
    Combo(2, Fixed, open = false, streamed = true),
    Combo(3, Fixed, open = false, streamed = true),
    Combo(2, Estimated, open = false, streamed = true),
    Combo(3, Estimated, open = false, streamed = true),
    Combo(2, Modified, open = false, streamed = true),
    Combo(3, Modified, open = false, streamed = true),
    Combo(2, Fixed, open = true, streamed = true),
    Combo(2, Modified, open = true, streamed = false),
    Combo(3, StupidBackoff, open = false, streamed = true),
    Combo(2, WittenBell, open = false, streamed = true))
  private val deep = Set(Combo(3, Estimated, false, true),
    Combo(3, Modified, false, true), Combo(2, Fixed, true, true))

  private def rows(df: DataFrame): Seq[Row] =
    df.orderBy("doc_id").collect().toSeq

  private def checkpointed(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r }.size

  test("scoreDocs == finish(spine, facts) for every served combination") {
    for (c <- combos) {
      val got = NgramLm.scoreDocs(docs, "doc_id", "text", c.model, c.order,
        c.smoother, c.vocabOpt)
      val viaFacts = NgramLm.finish(docs.select("doc_id").distinct(),
        NgramLm.facts(docs, "doc_id", "text", c.model, c.order, c.smoother,
          c.vocabOpt), "doc_id", c.order)
      assert(rows(got) == rows(viaFacts), c)
      assert(got.columns.toSeq ==
        Seq("doc_id", NgramLm.countCol(c.order), "sum_p_e9", "mean_p_e9"), c)
      // non-vacuous: some doc scores mass, the short docs score zero
      assert(rows(got).exists(_.getLong(2) > 0), c)
      assert(rows(got).filter(r => Set(5L, 6L)(r.getLong(0)))
        .forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L), c)
    }
  }

  test("streamed facts (materialized where deep) == batch facts for " +
      "every streamed combination") {
    implicit val sc = spark.sqlContext
    for (c <- combos.filter(_.streamed)) {
      val batch = NgramLm.facts(docs, "doc_id", "text", c.model, c.order,
        c.smoother, c.vocabOpt)
      val mem = MemoryStream[(Long, String)]
      val stream = NgramLm.facts(mem.toDS().toDF("doc_id", "text"),
        "doc_id", "text", c.model, c.order, c.smoother, c.vocabOpt)
      assert((checkpointed(stream) > 0) == deep(c), c)
      val sink = s"ngram_facts_${c.order}_${c.smoother}_${c.open}"
      val q = stream.writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName(sink).start()
      try {
        val in = docs.as[(Long, String)].collect().toSeq
        mem.addData(in.take(3): _*); q.processAllAvailable()
        mem.addData(in.drop(3): _*); q.processAllAvailable()
        val folded = spark.table(sink).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .groupBy(_._1).values.map(_.maxBy(v => (v._2, v._3))).toSeq
          .sorted
        val expected = batch.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
        assert(folded == expected, c)
      } finally {
        q.stop()
        spark.catalog.dropTempView(sink)
      }
    }
  }

  test("materialization rule: only the three deep streamed combinations " +
      "checkpoint their model tables; batch frames never do") {
    implicit val sc = spark.sqlContext
    for (c <- combos) {
      val batch = NgramLm.facts(docs, "doc_id", "text", c.model, c.order,
        c.smoother, c.vocabOpt)
      assert(checkpointed(batch) == 0, c)
      assert(!NgramLm.materializes(docs, c.order, c.smoother, c.vocabOpt))
    }
    val streamDocs = MemoryStream[(Long, String)].toDS()
      .toDF("doc_id", "text")
    val mat = combos.filter(_.streamed).filter { c =>
      checkpointed(NgramLm.facts(streamDocs, "doc_id", "text", c.model,
        c.order, c.smoother, c.vocabOpt)) > 0
    }
    assert(mat.toSet == deep)
    assert(mat.forall(c =>
      NgramLm.materializes(streamDocs, c.order, c.smoother, c.vocabOpt)))
  }

  test("ngrams(order = n) == Scala sliding(n) over the non-empty tokens " +
      "(ScalaCheck), including 0, 1 and n-1 tokens and empty strings") {
    import org.scalacheck.{Gen, rng}
    val word = Gen.oneOf("", "a", "b", "cc", "d")
    val doc = Gen.oneOf(Gen.const(Nil), Gen.listOfN(1, word),
      Gen.listOfN(2, word), Gen.chooseNum(0, 12).flatMap(Gen.listOfN(_, word)))
    val cases = Gen.listOfN(200, doc)
      .apply(Gen.Parameters.default, rng.Seed(20261017L)).get
    // single spaces between possibly-empty words: split yields the
    // empty tokens the filter must drop
    val texts = cases.zipWithIndex.map { case (ws, i) => (i.toLong,
      ws.mkString(" ")) }
    // the fixed edge cases at every order: 0, 1 and 2 tokens, blanks
    val edges = Seq("", " ", "  a  ", "a b", "a  b", " a b c ")
      .zipWithIndex.map { case (t, i) => (1000L + i, t) }
    val df = (texts ++ edges).toDF("id", "text")
    for (n <- 1 to 3) {
      val expected = (texts ++ edges).flatMap { case (id, t) =>
        t.split("\\s+").filter(_.nonEmpty).toSeq.sliding(n)
          .filter(_.size == n).map(g => (id, g))
      }.sortBy(x => (x._1, x._2.mkString(" ")))
      val got = NgramLm.ngrams(df, "text", n, Some("id")).collect()
        .map(r => (r.getLong(0), (1 to n).map(r.getString)))
        .toSeq.sortBy(x => (x._1, x._2.mkString(" ")))
      assert(got == expected, s"order $n")
      val counts = NgramLm.ngrams(df, "text", n, None).collect()
        .map(r => (0 until n).map(r.getString) -> r.getLong(n)).toMap
      assert(counts == expected.groupBy(_._2).view
        .mapValues(_.size.toLong).toMap, s"order $n counts")
    }
  }
}
