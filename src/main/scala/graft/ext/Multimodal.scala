package graft.ext

/** Perceptual hashes for media near-dup detection, on decoded
  * features: the DCT pHash of a 32×32 luminance grid and the
  * energy-delta fingerprint of a 64-bin audio envelope. Both are
  * integer-exact, so the SQL oracles replay them bit for bit. graft
  * does not decode media payloads: the rows (q98, q103) hash grids and
  * envelopes synthesized from md5 bytes ([[syntheticGrid]],
  * [[syntheticEnvelope]]), which both engines compute identically.
  */
object Multimodal {

  /** 63-bit energy-delta acoustic fingerprint of a 64-value envelope:
    * bit i is set iff `env(i+1) > env(i)` — the sign of the envelope
    * derivative (the energy-band core of the Haitsma–Kalker audio
    * fingerprint, collapsed to one band). Comparing, not measuring,
    * makes the bits invariant under volume scaling (positive scaling
    * preserves every strict inequality) and robust to codec-level
    * amplitude noise; feed to [[Dedup.hammingNearDup]] for near-dup
    * pairs. Bit 63 stays 0, so the value is non-negative — the same
    * signed-BIGINT safety margin [[phashFromGrid]] keeps. */
  def fingerprintFromEnvelope(env: Array[Double]): Long = {
    require(env.length == 64, s"need a 64-bin envelope, got ${env.length}")
    var bits = 0L
    var i = 0
    while (i < 63) { if (env(i + 1) > env(i)) bits |= 1L << i; i += 1 }
    bits
  }

  // ---- DCT perceptual hash (pHash) ----

  /** Fixed-point DCT-II basis for the 32→8 pHash transform:
    * `B(u)(x) = round(cos((2x+1)·u·π/64) · 2^14)`. INTEGER by design:
    * float `cos` differs in final ulps across libms (JVM vs DuckDB vs
    * a C++ executor), which would flip bits near the median threshold;
    * integer products and sums are exact in every engine — the same
    * reason H.264 specifies an integer transform instead of the real
    * DCT. Scale 2^14 keeps the full 2-D accumulation ≤ 2^46, far
    * inside Long. */
  private[graft] val phashBasis: Array[Array[Long]] =
    Array.tabulate(8, 32)((u, x) =>
      math.round(math.cos((2 * x + 1) * u * math.Pi / 64) * (1 << 14)))

  /** 63-bit DCT perceptual hash of a 32×32 luminance grid (row-major,
    * values 0..255): separable integer DCT, keep the 8×8 low-frequency
    * block, drop DC (it encodes brightness, not structure), and set
    * bit `u*8+v-1` iff `coeff(u)(v)` exceeds the lower median (sorted
    * index 31 of the 63 AC coefficients). Deterministic and
    * engine-exact — the q98 oracle replays it in SQL from the same
    * integer basis. */
  def phashFromGrid(grid: Array[Int]): Long = {
    require(grid.length == 1024, s"need a 32x32 grid, got ${grid.length}")
    // t(u)(c) = Σ_r B(u)(r) · g(r)(c)
    val t = Array.ofDim[Long](8, 32)
    var u = 0
    while (u < 8) {
      var c = 0
      while (c < 32) {
        var s = 0L; var r = 0
        while (r < 32) { s += phashBasis(u)(r) * grid(r * 32 + c); r += 1 }
        t(u)(c) = s; c += 1
      }
      u += 1
    }
    // coeff(u)(v) = Σ_c B(v)(c) · t(u)(c); AC flattened DC-excluded
    val ac = new Array[Long](63)
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        if (u != 0 || v != 0) {
          var s = 0L; var c = 0
          while (c < 32) { s += phashBasis(v)(c) * t(u)(c); c += 1 }
          ac(u * 8 + v - 1) = s
        }
        v += 1
      }
      u += 1
    }
    val med = ac.sorted.apply(31)
    var bits = 0L
    var i = 0
    while (i < 63) { if (ac(i) > med) bits |= 1L << i; i += 1 }
    bits
  }

  /** Reused digest: syntheticGrid runs once per corpus row inside
    * mapPartitions loops, and MessageDigest.getInstance is a provider
    * lookup + allocation per call; digest() resets the instance, so a
    * thread-local one is safe across rows. */
  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Deterministic 32×32 luminance grid for a document id — the q98
    * oracle parity device (the pinned-centroid family): image DECODE is
    * not SQL-expressible, so the hash-checked query synthesizes the
    * post-decode grid from md5 bytes both engines can compute
    * identically. Structure: consecutive ids share
    * a base grid (`id / 2 * 2` seeds 64 md5 calls, 16 pixels each);
    * odd ids get one pixel nudged by +40 mod 256 — a perceptual
    * near-twin whose Hamming distance to its even partner lands in the
    * banding's candidate range. */
  private[graft] def syntheticGrid(docId: Long): Array[Int] = {
    val g = docId / 2 * 2
    val md = md5Local.get()
    val grid = new Array[Int](1024)
    var b = 0
    while (b < 64) {
      val h = md.digest(s"$g#$b".getBytes("UTF-8"))
      var j = 0
      while (j < 16) { grid(b * 16 + j) = h(j) & 0xff; j += 1 }
      b += 1
    }
    if (docId % 2 == 1) {
      val p = (docId % 1024).toInt
      grid(p) = (grid(p) + 40) % 256
    }
    grid
  }

  /** Deterministic 64-bin envelope for a document id — q103's oracle
    * parity device, the audio twin of [[syntheticGrid]]: audio DECODE
    * is not SQL-expressible, so the hash-checked query synthesizes the
    * post-decode RMS envelope from md5 bytes both engines can compute
    * identically. Same twin structure:
    * consecutive ids share a base envelope (`id / 2 * 2` seeds 4 md5
    * calls of 16 values each, seed string `"g@b"` so grids and
    * envelopes never coincide); odd ids get ONE bin nudged +40 mod 256,
    * which flips at most the two derivative bits comparing that bin to
    * its neighbors — hamming ≤ 2, inside the banding's ≤ 3 range. */
  private[graft] def syntheticEnvelope(docId: Long): Array[Int] = {
    val g = docId / 2 * 2
    val md = md5Local.get()
    val env = new Array[Int](64)
    var b = 0
    while (b < 4) {
      val h = md.digest(s"$g@$b".getBytes("UTF-8"))
      var j = 0
      while (j < 16) { env(b * 16 + j) = h(j) & 0xff; j += 1 }
      b += 1
    }
    if (docId % 2 == 1) {
      val p = (docId % 64).toInt
      env(p) = (env(p) + 40) % 256
    }
    env
  }
}
