package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bounded-state aggregations: portable sketches (approximations that
  * are exact functions of md5 hashes, so ANY engine — including the
  * DuckDB oracle — reproduces them bit-for-bit) and exact bounded
  * aggregators (grouped top-k), all sharing the sketch scaling
  * properties: bounded state, map-side partial aggregation, one shuffle
  * of ≤k values per group.
  *
  * Spark's built-in sketches (HLL++ `approx_count_distinct`, KLL
  * `percentile_approx`) are engine-specific in both binary format and
  * estimate — no other engine can adjudicate them. The sketches here
  * trade their tighter constants for cross-engine reproducibility (the
  * property the whole verification pipeline is built on): every
  * estimate is an exact function of md5 hashes, so the DuckDB oracle
  * replays it bit-for-bit (q27, q66, q67).
  */
object Sketches {

  /** Uniform u32 from any value via md5 — the same engine-portable
    * hashing idiom as [[Curation.hashU32]]/[[Sampling]]. */
  def hashU32(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  /** Bottom-k aggregator: keeps the k smallest DISTINCT longs in a
    * sorted array. Bounded state, associative, commutative and
    * duplicate-insensitive — the partial state of a KMV sketch, safe
    * under any partitioning and merge order. Negative inputs are
    * ignored: u32 hashes are always non-negative, so callers can encode
    * SQL NULL as -1 (`coalesce(hash, -1)`) instead of pre-filtering —
    * which matters when the sketch shares a groupBy with aggregates
    * that must still see every row. */
  class BottomK(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    require(k >= 2, "bottom-k needs k >= 2")

    override def zero: Array[Long] = Array.emptyLongArray

    override def reduce(buf: Array[Long], v: Long): Array[Long] = {
      if (v < 0) return buf // NULL sentinel
      val idx = java.util.Arrays.binarySearch(buf, v)
      if (idx >= 0) buf // already present
      else {
        val ins = -idx - 1
        if (buf.length == k && ins == k) buf // above the current kth min
        else {
          val n = math.min(k, buf.length + 1)
          val out = new Array[Long](n)
          System.arraycopy(buf, 0, out, 0, ins)
          out(ins) = v
          System.arraycopy(buf, ins, out, ins + 1, n - ins - 1)
          out
        }
      }
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      val out = new Array[Long](math.min(k, a.length + b.length))
      var i = 0; var j = 0; var n = 0
      var last = 0L; var first = true
      while (n < out.length && (i < a.length || j < b.length)) {
        val v =
          if (j >= b.length || (i < a.length && a(i) <= b(j))) {
            val t = a(i); i += 1; t
          } else { val t = b(j); j += 1; t }
        if (first || v != last) { out(n) = v; n += 1; last = v; first = false }
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }

    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  }

  /** Bounded grouped top-k: keeps the k largest `(score, id)` pairs,
    * ordered score DESC then id ASC (the deterministic tie-break). The
    * scale path for "top k per group": a window `row_number` shuffles
    * and sorts EVERY row of every group, while this aggregator's
    * map-side partials shuffle at most k pairs per group per partition —
    * at 100 TB the difference is the whole job. */
  class TopK(k: Int) extends Aggregator[(Long, Long), Seq[(Long, Long)],
      Seq[(Long, Long)]] {
    require(k >= 1, "top-k needs k >= 1")

    // better (a beats b) = higher score, then lower id
    private def beats(a: (Long, Long), b: (Long, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

    override def zero: Seq[(Long, Long)] = Seq.empty

    // sortWith(beats), never sortBy(-score): negating Long.MinValue
    // overflows to itself and would rank the worst score first
    override def reduce(buf: Seq[(Long, Long)], v: (Long, Long)): Seq[(Long, Long)] =
      if (buf.length == k && !beats(v, buf.last)) buf
      else ((buf :+ v).sortWith(beats)).take(k)

    override def merge(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
      (a ++ b).sortWith(beats).take(k)

    override def finish(r: Seq[(Long, Long)]): Seq[(Long, Long)] = r
    override def bufferEncoder: Encoder[Seq[(Long, Long)]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[(Long, Long)]] = ExpressionEncoder()
  }

  /** Top `k` ids per group by a long score (ties broken by smaller id):
    * output `(groupCol, rank, id, score)`, one row per kept pair. Rows
    * with a NULL id or score are ignored (they can't be ranked, and a
    * NULL would break the non-nullable tuple encoder). */
  def groupedTopK(df: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, k: Int): DataFrame = {
    val topK = udaf(new TopK(k), Encoders.product[(Long, Long)])
    df.filter(col(idCol).isNotNull && col(scoreCol).isNotNull)
      .groupBy(groupCol)
      .agg(topK(col(scoreCol).cast("long"),
        col(idCol).cast("long")).as("__top"))
      .select(col(groupCol), posexplode(col("__top")))
      .select(col(groupCol), (col("pos") + 1).as("rank"),
        col("col._2").as(idCol), col("col._1").as(scoreCol))
  }

  /** Misra-Gries frequent-items candidates: at most `k` counters of
    * state, guaranteed to RETAIN every item with frequency > n/k (the
    * classic bound survives arbitrary partial merges). Counts are
    * order-dependent and therefore never exposed — only the candidate
    * key set is, for an exact second pass. */
  class MisraGries(k: Int) extends Aggregator[Long, Map[Long, Long], Seq[Long]] {
    require(k >= 1, "misra-gries needs k >= 1")

    override def zero: Map[Long, Long] = Map.empty

    override def reduce(buf: Map[Long, Long], v: Long): Map[Long, Long] =
      if (buf.contains(v) || buf.size < k) buf.updated(v, buf.getOrElse(v, 0L) + 1)
      else buf.collect { case (x, c) if c > 1 => (x, c - 1) } // decrement-all

    override def merge(a: Map[Long, Long], b: Map[Long, Long]): Map[Long, Long] = {
      val sum = b.foldLeft(a) { case (m, (x, c)) =>
        m.updated(x, m.getOrElse(x, 0L) + c)
      }
      if (sum.size <= k) sum
      else {
        // subtract the (k+1)-th largest count from everyone; ≤k survive
        val d = sum.values.toSeq.sorted(Ordering[Long].reverse)(k)
        sum.collect { case (x, c) if c > d => (x, c - d) }
      }
    }

    override def finish(r: Map[Long, Long]): Seq[Long] = r.keys.toSeq.sorted
    override def bufferEncoder: Encoder[Map[Long, Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** EXACT heavy hitters with bounded state: items of `valueCol`
    * occurring in at least `phi` fraction of rows, with their exact
    * counts. Pass 1 runs Misra-Gries with `k > 1/phi` counters (bounded
    * state, map-side partials — the superset guarantee makes the
    * order-dependence of MG counts irrelevant); pass 2 exact-counts ONLY
    * the ≤k candidates via a broadcast semi-filter and applies the
    * threshold. Output `(valueCol, cnt)`, exact and deterministic —
    * unlike one-pass approximate counts, this is oracle-checkable. */
  def heavyHitters(df: DataFrame, valueCol: String, phi: Double,
      k: Int = 256): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, "phi must be in (0, 1]")
    require(k > (1.0 / phi).toInt, s"need k > 1/phi counters for the " +
      s"retention guarantee (k=$k, 1/phi=${1.0 / phi})")
    val mg = udaf(new MisraGries(k), Encoders.scalaLong)
    val vals = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as(valueCol))
    // pass 1: one job for candidates AND n (no separate count action)
    val first = vals.agg(mg(col(valueCol)).as("cand"),
      count(lit(1)).as("n")).head()
    val candidates = first.getSeq[Long](0)
    val threshold = math.ceil(phi * first.getLong(1)).toLong
    // pass 2: exact counts of the ≤k candidates only (literal IN-list —
    // no join, no shuffle beyond the tiny candidate aggregation). MG's
    // order-dependent EXTRA candidates are harmless: their exact counts
    // fall under the threshold, so the final rows are deterministic.
    vals.filter(col(valueCol).isin(candidates: _*))
      .groupBy(valueCol)
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
  }

  /** The KMV estimator as a Column over a [[BottomK]] result: exact
    * size under k, else `(k-1)·2^32 / U(k)`. For queries that embed the
    * sketch in a wider aggregation (q27). */
  def kmvEstimate(mins: Column, k: Int): Column =
    when(size(mins) < k, size(mins).cast("double"))
      .otherwise(lit((k - 1).toDouble * 4294967296.0) /
        element_at(mins, k).cast("double"))

  /** Build a Bloom-filter bitmap over `keyCol` (a BIGINT column —
    * callers hash arbitrary values with `xxhash64(...)`). Sized from
    * `(expectedItems, fpp)` by the standard formulas, m rounded up to
    * whole 64-bit words so build and probe agree on m exactly.
    *
    * The build is pure built-in columns — each key explodes to its k
    * bit indexes via the chained `xxhash64(key, i)` family, indexes
    * fold to (word, or-mask) pairs, and ONE hash aggregation with
    * map-side partials produces ≤ m/64 word rows: the corpus is
    * scanned, never shuffled (the shuffle carries at most
    * words × partitions rows). The probe side
    * ([[graft.functions.expressions.BloomMightContain]]) replays the
    * same family inside whole-stage codegen.
    *
    * The bitmap ships to probes as a plan literal, like the IVF
    * centroid matrix — sized for reference sets (eval suites, snapshot
    * digest sets), not for hundred-billion-key corpora; the guard caps
    * it at 128 MB. Returns (bits, k). */
  def buildBloomBits(keys: DataFrame, keyCol: String, expectedItems: Long,
      fpp: Double): (Array[Long], Int) = {
    require(expectedItems >= 1, "expectedItems must be >= 1")
    require(fpp > 0.0 && fpp < 1.0, "fpp must be in (0, 1)")
    val ln2 = math.log(2.0)
    val mExact = math.ceil(-expectedItems.toDouble * math.log(fpp) /
      (ln2 * ln2)).toLong
    val words = ((mExact + 63) / 64).toInt
    require(words >= 1 && words <= (1 << 24),
      s"bloom bitmap would be $words words; the plan-literal contract " +
        "caps it at 16M words (128 MB) — lower expectedItems or raise fpp")
    val m = words.toLong * 64L
    val k = math.max(1,
      math.round(m.toDouble / expectedItems.toDouble * ln2).toInt)
    val wordRows = keys
      .filter(col(keyCol).isNotNull)
      .select(explode(array((0 until k).map(i =>
        pmod(xxhash64(col(keyCol), lit(i.toLong)), lit(m))): _*)).as("__idx"))
      .select(expr("CAST(__idx DIV 64 AS INT)").as("__w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(__idx % 64 AS INT))").as("__b"))
      .groupBy("__w").agg(expr("bit_or(__b)").as("__word"))
      .collect()
    val bits = new Array[Long](words)
    wordRows.foreach(r => bits(r.getInt(0)) = r.getLong(1))
    (bits, k)
  }

  /** Probe column for a [[buildBloomBits]] bitmap: false = definitely
    * absent, true = present-or-false-positive. */
  def bloomMightContain(key: Column, bits: Array[Long], k: Int): Column =
    graft.functions.expressions.SketchExpressions.bloomMightContain(
      key, typedLit(bits.toSeq), lit(k))

  /** KMV distinct-count estimate per group: with U(k) the k-th smallest
    * of the distinct u32 hashes, estimate `(k-1) · 2^32 / U(k)`; exact
    * when a group has fewer than k distinct hashes. Standard error is
    * ~1/√(k-2). Output `(groupCol, kmv_distinct)` — and with
    * `withExact`, an `exact_distinct` column for error inspection.
    * `withExact` is OPT-IN because the exact count is a full distinct
    * aggregation whose state grows with the value universe; the default
    * keeps the sketch economics (k longs per group, map-side partials,
    * one tiny shuffle) the sketch exists for. */
  def kmvDistinct(df: DataFrame, groupCol: String, valueCol: String,
      k: Int, withExact: Boolean = false): DataFrame = {
    val bottomK = udaf(new BottomK(k), Encoders.scalaLong)
    val hashed = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), hashU32(col(valueCol)).as("__hv"),
        col(valueCol).as("__v"))
    val aggs =
      if (withExact) Seq(countDistinct(col("__v")).as("exact_distinct"))
      else Nil
    val out = Seq(col(groupCol), col("kmv_distinct")) ++
      (if (withExact) Seq(col("exact_distinct")) else Nil)
    hashed.groupBy(groupCol)
      .agg(bottomK(col("__hv")).as("__mins"), aggs: _*)
      .withColumn("kmv_distinct", kmvEstimate(col("__mins"), k))
      .select(out: _*)
  }

  /** The d independent (row, bucket) cells a key touches in a
    * depth×width count-min sketch — row i's hash is the engine-portable
    * md5 family seeded "cms<i>", so build and probe (and the DuckDB
    * oracle) agree bit-for-bit. */
  private def cmsCells(key: Column, depth: Int, width: Int): Column =
    array((0 until depth).map(i =>
      struct(lit(i).as("row"),
        pmod(Curation.hashU32(s"cms$i", key), lit(width.toLong))
          .as("bucket"))): _*)

  /** Count-min sketch BUILD: the d×w counter matrix as rows
    * (row, bucket, cnt) — the mergeable frequency artifact (union two
    * corpora's sketches by summing cells). ONE corpus pass: each key
    * explodes to its d cells and a hash aggregation with map-side
    * partials collapses them — the shuffle is ≤ d·w cells per map
    * task, never corpus-sized, and the artifact is d·w longs no matter
    * how many distinct keys exist (the complement of [[kmvDistinct]]:
    * KMV answers "how many distinct", CMS answers "how often is X"
    * within +ε·N overestimate, never under). */
  def countMin(df: DataFrame, keyCol: String, depth: Int, width: Int)
      : DataFrame = {
    require(depth >= 1 && width >= 1, "depth and width must be >= 1")
    df.filter(col(keyCol).isNotNull)
      .select(explode(cmsCells(col(keyCol), depth, width)).as("__c"))
      .groupBy(col("__c.row").as("row"), col("__c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Count-min point queries: for each probe key, the minimum of its d
    * cells (empty cells read 0). The sketch side broadcasts — it is
    * d·w rows by construction — so probing any number of keys is
    * map-only against the corpus-free artifact. */
  def countMinEstimate(cms: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int, width: Int): DataFrame =
    keys
      .select(col(keyCol),
        explode(cmsCells(col(keyCol), depth, width)).as("__c"))
      .select(col(keyCol), col("__c.row").as("row"),
        col("__c.bucket").as("bucket"))
      .join(broadcast(cms), Seq("row", "bucket"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("estimate"))
}
