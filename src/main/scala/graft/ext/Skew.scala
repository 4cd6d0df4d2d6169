package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (SURVEY §4.4 physical-execution posture).
  *
  * AQE handles skewed sort-merge JOINS automatically; skewed AGGREGATION
  * keys (few giant groups — e.g. grouping a 100 TB corpus by language,
  * where 'en' is half the data) still serialize into single reducers.
  * The classic fix is two-phase salted aggregation: shuffle once on
  * (key, salt) — spreading each giant group over `salts` reducers — then
  * once more on key to combine the partials. Only works for algebraic
  * aggregates (sum/count/min/max), which is what we expose.
  */
object Skew {

  /** Deterministic row salt in [0, salts): a content hash over the
    * row's HASHABLE columns, so the same row always lands on the same
    * salt no matter which partition (re)computes it — the property a
    * stage retry needs for exactly-once row accounting. Columns whose
    * type contains a map ANYWHERE (xxhash64 rejects MapType, including
    * nested inside arrays/structs) are skipped rather than rendered:
    * the salt needs per-row determinism, not collision freedom — rows
    * identical outside their map columns sharing a salt only
    * concentrates spreading, never changes results. If EVERY column is
    * unhashable the salt degrades to 0 (correct, just unspread). */
  private def rowSalt(df: DataFrame, salts: Int): Column = {
    import org.apache.spark.sql.types._
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = df.schema.fields.filterNot(f => hasMap(f.dataType))
      .map(f => col(f.name))
    if (cols.isEmpty) lit(0)
    else pmod(xxhash64(cols.toSeq: _*), lit(salts)).cast("int")
  }

  /** Two-phase salted sum/count aggregation.
    *
    * @param aggs (outputName → sum column expression); counts are sums of
    *             1s, so every algebraic aggregate here is a sum
    */
  def saltedSumAgg(df: DataFrame, keys: Seq[String], salts: Int,
      aggs: Seq[(String, Column)]): DataFrame = {
    // deterministic salt from ROW CONTENT: stable under partial stage
    // retry (monotonically_increasing_id is partition-layout-dependent
    // — SPARK-23207 class lost/duplicated rows when the input is
    // post-shuffle). Identical rows share a salt, which cannot affect
    // a sum and only concentrates spreading when a hot key is made of
    // byte-identical duplicate rows.
    val salted = df.withColumn("__salt", rowSalt(df, salts))
    val phase1 = salted.groupBy((keys :+ "__salt").map(col): _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.as(n) }: _*)
    phase1.groupBy(keys.map(col): _*)
      .agg(sum(col(aggs.head._1)).as(aggs.head._1),
        aggs.tail.map { case (n, _) => sum(col(n)).as(n) }: _*)
  }

  /** Salted equi-join for hot keys — the big-side fix when the dim is
    * too large to broadcast but both sides hash-shuffle and one join
    * key holds a disproportionate share of the big side (joining a
    * 100 TB event log to a per-entity table where one entity is half
    * the traffic: the plain shuffle join serializes that key into ONE
    * reducer regardless of cluster size).
    *
    * The big side gets a deterministic row salt in [0, salts); the
    * small side replicates each row `salts` times (map-only explode, so
    * the replication costs |small|×salts rows of shuffle write — pick
    * `salts` ≈ the executor-count you want the hot key spread over).
    * The join runs on (keys..., salt): every hot key now occupies
    * `salts` reducers. Results are identical to `big.join(small, keys)`
    * because each big row carries exactly one salt and meets exactly
    * the one matching replica.
    *
    * AQE's skew-join split handles the SORT-MERGE case adaptively;
    * salting remains the portable form (works for hash joins, for
    * pre-AQE stages, and composes with bucketed layouts). The join is
    * inner: an outer join would emit one null-padded row per unmatched
    * small-side REPLICA.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    val bigS = big.withColumn("__salt", rowSalt(big, salts))
    val smallS = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    bigS.join(smallS, keys :+ "__salt").drop("__salt")
  }

  /** Bloom-prefiltered inner equi-join: the big side is map-filtered
    * by a bloom filter of the small side's join keys BEFORE it ever
    * shuffles — the semi-join reduction for selective dims too big to
    * broadcast (at 100 TB, joining an event log to the 0.1% of
    * entities in a dim means 99.9% of the log's shuffle write is
    * wasted; the bloom kills it at the scan). False positives are
    * removed by the join itself, so results are exactly
    * `big.join(small, keys)` — which is why only INNER is offered
    * (an outer flavor would need the dropped rows back).
    *
    * The filter (1% false positives, sized by a count of `small`) is
    * [[Sketches.buildBloomBits]] + the codegen
    * [[Sketches.bloomMightContain]] probe: one scan of the small keys
    * to build (bounded ≤128 MB by the plan-literal contract), then a
    * pure map filter riding the big scan inside whole-stage codegen —
    * `.explain` shows the probe under PushedFilters' sibling Filter,
    * no extra exchange anywhere.
    */
  def bloomPrefilteredJoin(big: DataFrame, small: DataFrame,
      keys: Seq[String]): DataFrame = {
    val n = math.max(1L, small.count())
    // Hash both sides at the join's COMMON COERCED key type: the join
    // itself coerces an INT key to match a BIGINT/DOUBLE key, but
    // xxhash64 hashes native types differently — and a string
    // rendering is NOT a unifier ('1' vs '1.0' for the same coerced
    // value), so either mistake silently drops true matches, the one
    // failure mode a bloom prefilter must never have. The widened type
    // comes from the analyzer's own set-op coercion (a limit(0) union
    // is analysis-only), so it matches what the equi-join compares at;
    // mixed string/numeric pairs use a different comparison-coercion
    // rule than unions, so those are rejected rather than guessed.
    val commonTypes = keys.map { k =>
      val (bt, st) = (big.schema(k).dataType, small.schema(k).dataType)
      if (bt == st) bt
      else {
        require(bt.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
          st.isInstanceOf[org.apache.spark.sql.types.NumericType],
          s"bloomPrefilteredJoin key '$k': sides have incompatible " +
            s"types $bt vs $st — cast one side to the other first")
        big.select(big(k)).limit(0)
          .union(small.select(small(k)).limit(0)).schema.head.dataType
      }
    }
    def keyHash(df: DataFrame) =
      xxhash64(keys.zip(commonTypes).map {
        case (k, t) => df(k).cast(t)
      }: _*)
    val (bits, k) = Sketches.buildBloomBits(
      small.select(keyHash(small).as("__k")), "__k", n, 0.01)
    val probe = Sketches.bloomMightContain(big.sparkSession,
      keyHash(big), bits, k)
    big.filter(probe).join(small, keys)
  }
}
