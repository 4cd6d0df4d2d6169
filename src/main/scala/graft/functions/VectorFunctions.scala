package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` / `array<double>` embedding
  * columns — the similarity-search primitives (BASELINE.json north star).
  *
  * Built on higher-order array functions; [[graft.functions.expressions.CosineSimilarity]]
  * provides a codegen'd fast path for the hot loop (see `cosineFast`).
  */
object VectorFunctions {

  private def d(a: Column): Column = transform(a, _.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), _ * _), lit(0.0), _ + _)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(d(a), x => x * x), lit(0.0), _ + _))

  /** Cosine similarity; null-safe on zero norms (returns null). */
  def cosine(a: Column, b: Column): Column = {
    val den = norm(a) * norm(b)
    when(den =!= 0.0, dot(a, b) / den)
  }

  /** Codegen'd cosine (native Catalyst expression; same element order and
    * zero-norm semantics as [[cosine]], ~10× faster on pairwise scans). */
  def cosineFast(a: Column, b: Column): Column =
    graft.functions.expressions.VectorExpressions.cosine(
      a.cast("array<double>"), b.cast("array<double>"))

  /** Codegen'd argmin centroid index (0-based, first-wins ties) of `vec`
    * against a literal centroid matrix ordered by the caller. Map-only:
    * the matrix ships once as a literal reference, the corpus never
    * shuffles. */
  def nearestCentroid(vec: Column, matrix: Seq[Seq[Double]]): Column =
    graft.functions.expressions.VectorExpressions.nearestCentroid(
      vec.cast("array<double>"), typedLit(matrix))

  /** Codegen'd dot product over array<double>. */
  def dotFast(a: Column, b: Column): Column =
    graft.functions.expressions.VectorExpressions.dot(
      a.cast("array<double>"), b.cast("array<double>"))

  /** Hyperplane `p`'s components, computed once per plan: component
    * `i` is md5("hp<p>_<i>")'s first 24 bits scaled into [-0.5, 0.5),
    * the SQL oracle's formula, so any engine regenerates identical
    * hyperplanes without shipping them. */
  def hyperplaneComponents(p: Int, dims: Int): Seq[Double] = {
    val mdAlgo = java.security.MessageDigest.getInstance("MD5")
    (0 until dims).map { i =>
      val hex = mdAlgo.digest(s"hp${p}_$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 6)
      java.lang.Long.parseLong(hex, 16).toDouble / 16777216.0 - 0.5
    }
  }

  /** `nBits`-bit random-hyperplane LSH bucket id for a vector. Vectors at
    * small angles collide with high probability — the bucket is the ANN
    * pre-filter (Charikar's SimHash for angular distance). Hyperplanes are
    * literal arrays + a codegen'd dot product, over 64 dims. */
  def lshBucket(vec: Column, nBits: Int): Column =
    (0 until nBits).map { p =>
      val plane = typedLit(hyperplaneComponents(p, 64))
      when(dotFast(vec, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
}
