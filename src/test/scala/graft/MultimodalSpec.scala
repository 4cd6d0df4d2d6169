package graft

import graft.ext.Multimodal

class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  test("hammingNearDup: banded == all-pairs; phashFromGrid properties") {
    // banding completeness/soundness vs brute force over random sigs
    // (63-bit like phash; planted near-twins at hamming 1..4)
    val rnd = new scala.util.Random(41)
    val base = (0 until 80).map(i => (i.toLong, rnd.nextLong() >>> 1))
    val twins = base.take(20).zipWithIndex.map { case ((id, sig), i) =>
      val flips = 1 + i % 4 // hamming 1..4 — 4 lands OUTSIDE the band
      var s = sig
      (0 until flips).foreach(f => s ^= 1L << ((i * 7 + f * 13) % 63))
      (1000L + id, s)
    }
    val df = (base ++ twins).toDF("id", "sig")
    val got = graft.ext.Dedup.hammingNearDup(df, "id", "sig", 3)
      .select("a_id", "b_id", "hamming").as[(Long, Long, Int)]
      .collect().toSet
    val all = (base ++ twins)
    val want = (for {
      (a, sa) <- all; (b, sb) <- all if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)).toSet
    assert(got == want && want.nonEmpty,
      s"banded=${got.size} brute=${want.size}")
    // the boundary case must actually be exercised: a pair at hamming
    // exactly 3 (the maxHamming edge the pigeonhole guarantee covers)
    assert(want.exists(_._3 == 3),
      "generator must plant a hamming-3 pair at the band edge")
    // flat grid: zero AC energy -> hash 0
    assert(Multimodal.phashFromGrid(Array.fill(1024)(77)) == 0L)
    // syntheticGrid: deterministic, twins share base, odd differs in
    // exactly one pixel from its even partner
    val g4 = Multimodal.syntheticGrid(4L)
    assert(g4.toSeq == Multimodal.syntheticGrid(4L).toSeq)
    val g5 = Multimodal.syntheticGrid(5L)
    assert(g4.indices.count(i => g4(i) != g5(i)) == 1)
  }

  test("fingerprintFromEnvelope: envelope-delta bit semantics, exactly") {
    assert(Multimodal.fingerprintFromEnvelope(
      Array.tabulate(64)(_.toDouble)) == Long.MaxValue) // bits 0..62 set
    assert(Multimodal.fingerprintFromEnvelope(
      Array.tabulate(64)(i => (64 - i).toDouble)) == 0L)
    intercept[IllegalArgumentException](
      Multimodal.fingerprintFromEnvelope(new Array[Double](8)))
  }

  test("syntheticEnvelope: deterministic twins land inside the band range") {
    import graft.ext.Dedup
    def fp(id: Long) = Multimodal.fingerprintFromEnvelope(
      Multimodal.syntheticEnvelope(id).map(_.toDouble))
    // deterministic; odd twin differs from its even base in <= 2 bits
    // (the +40 nudge moves ONE bin, touching two neighbor comparisons)
    assert(fp(6L) == fp(6L))
    (0L until 20L by 2).foreach { g =>
      val d = java.lang.Long.bitCount(fp(g) ^ fp(g + 1))
      assert(d <= 2, s"twin pair $g hamming $d")
    }
    // end-to-end through the generic banding: every twin pair whose
    // fingerprints differ surfaces as a near-dup candidate
    val ids = (0L until 40L)
    val df = ids.map(i => (i, fp(i))).toDF("id", "afp")
    val got = Dedup.hammingNearDup(df, "id", "afp", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(fp(a) ^ fp(b)) <= 3
    } yield (a, b)).toSet
    assert(got == want && want.nonEmpty, s"banded=${got.size} brute=${want.size}")
  }
}
