package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.GraftSession
import graft.ext.Similarity

/** OPQ rotation probe: quantization distortion with and without the
  * learned rotation on an anisotropic correlated corpus (numbers quoted
  * in BENCH.md). The corpus generator and the distortion metric live
  * here and are SHARED with ExtSpec's OPQ test — one definition, so the
  * probe's published numbers and the spec's asserted ones can't drift. */
object OpqProbe {

  /** Deterministic anisotropic corpus: a steep variance spectrum
    * (pow(decay, i)) pushed through a FIXED dense mixing matrix so the
    * variance spreads across every PQ subspace boundary — the case plain
    * PQ splits badly and a rotation provably helps. sin-hash
    * "gaussians", so every run is exact, not statistical. */
  def anisotropicVecs(n: Int, d: Int,
      decay: Double): Seq[(Long, Array[Double])] = {
    val mix = Array.tabulate(d, d)((i, j) => math.sin(i * d + j + 1) / 2.0)
    val scales = Array.tabulate(d)(i => math.pow(decay, i))
    (0 until n).map { r =>
      val z = Array.tabulate(d)(i => math.sin(r * 37 + i * 11 + 0.5) +
        math.sin(r * 101 + i * 29))
      (r.toLong, Array.tabulate(d)(i =>
        (0 until d).map(j => mix(i)(j) * scales(j) * z(j)).sum))
    }
  }

  /** Mean squared reconstruction error of a trained codebook over the
    * corpus — the OPQ paper's objective. */
  def distortion(df: DataFrame, vcol: String, cb: DataFrame,
      d: Int, m: Int): Double = {
    val cbm = cb.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toArray).toMap
    val sub = d / m
    Similarity.pqEncode(df, "vec_id", vcol, cb)
      .select(col(vcol).cast("array<double>"), col("pq_code"))
      .collect()
      .map { r =>
        val x = r.getSeq[Double](0); val code = r.getSeq[Long](1)
        (0 until m).map { s =>
          val cw = cbm(s)(code(s).toInt)
          (0 until sub).map(i => { val t = x(s * sub + i) - cw(i); t * t }).sum
        }.sum
      }.sum / df.count()
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("8")
    import spark.implicits._
    val d = 32; val m = 4; val ksub = 16
    val vecs = anisotropicVecs(600, d, decay = 0.4)
      .toDF("vec_id", "embedding").cache()
    val cb = Similarity.pqTrain(vecs, "vec_id", "embedding",
      m = m, ksub = ksub, iters = 2)
    val dPq = distortion(vecs, "embedding", cb, d, m)
    val rot = Similarity.opqRotation(vecs, "vec_id", "embedding", m = m)
    val rotated = Similarity.rotate(vecs, "embedding", rot, "rvec").cache()
    val cbR = Similarity.pqTrain(rotated, "vec_id", "rvec",
      m = m, ksub = ksub, iters = 2)
    val dOpq = distortion(rotated, "rvec", cbR, d, m)
    println(f"[opq] distortion pq=$dPq%.5f opq=$dOpq%.5f ratio=${dOpq / dPq}%.3f")

    // FULL-WIDTH probe (verdict r17 item #6): the d=64 rotation —
    // the real embedding width — trained at the production sample
    // size (4096, the q270 trainer default), recording train
    // wall-time and the ADC recall gain trained-vs-pinned (pinned =
    // identity rotation, i.e. plain PQ) on the same anisotropic
    // fixture. decay=0.85 keeps the spectrum spread over 64 dims
    // (0.4^63 would denormalize the tail).
    val d64 = 64; val m64 = 8; val k64 = 16
    val v64 = anisotropicVecs(4096, d64, decay = 0.85)
      .toDF("vec_id", "embedding").cache()
    v64.count()
    val t0 = System.nanoTime()
    val rot64 = Similarity.opqRotation(v64, "vec_id", "embedding",
      m = m64)
    val trainSec = (System.nanoTime() - t0) / 1e9
    val r64 = Similarity.rotate(v64, "embedding", rot64, "rvec").cache()
    val cb64 = Similarity.pqTrain(v64, "vec_id", "embedding",
      m = m64, ksub = k64, iters = 2)
    val cb64R = Similarity.pqTrain(r64, "vec_id", "rvec",
      m = m64, ksub = k64, iters = 2)
    val dPq64 = distortion(v64, "embedding", cb64, d64, m64)
    val dOpq64 = distortion(r64, "rvec", cb64R, d64, m64)
    val isQuery = col("vec_id") < 64
    def topSets(df: DataFrame): Map[Long, Set[Long]] = df
      .select(col("q_id"), col("n_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topSets(Similarity.bruteForceTopK(v64,
      v64.filter(isQuery), "vec_id", "embedding", 5))
    def recall(got: Map[Long, Set[Long]]): Double = brute.map {
      case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / brute.size
    val rPq = recall(topSets(Similarity.pqTopKAdc(v64, "vec_id",
      "embedding", cb64, isQuery, k = 5)))
    val rOpq = recall(topSets(Similarity.pqTopKAdc(r64, "vec_id",
      "rvec", cb64R, isQuery, k = 5)))
    println(f"[opq64] d=$d64 m=$m64 sample=4096 train=$trainSec%.2f s " +
      f"distortion pq=$dPq64%.5f opq=$dOpq64%.5f " +
      f"ratio=${dOpq64 / dPq64}%.3f recall@5 pq=$rPq%.3f opq=$rOpq%.3f")
    spark.stop()
  }
}
