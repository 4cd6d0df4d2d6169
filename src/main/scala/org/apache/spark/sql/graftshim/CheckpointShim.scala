/** Lives in the `org.apache.spark.sql` package space on purpose: the two
  * members it touches (`Dataset.ofRows`, `LogicalRDD`) are `private[sql]`,
  * and this is the narrowest way to reach them without forking Spark.
  * Keep this file free of graft logic — it is an access shim only.
  */
package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{Dataset => CDataset}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.{DataFrame, Row}

object CheckpointShim {

  /** Eager `localCheckpoint` that keeps rows in Tungsten format AND hands
    * back the persisted RDD.
    *
    * Why not `createDataFrame(df.rdd, schema)`: `df.rdd` deserializes
    * every InternalRow to a GenericRow and `createDataFrame` re-encodes it
    * — a full decode/encode of the dataset per call, which an iterative
    * algorithm pays every round. Why not `df.localCheckpoint()`: it never
    * exposes the checkpointed RDD, and `Dataset.unpersist` does NOT
    * release checkpoint blocks (they are persisted on the RDD, not in the
    * CacheManager), so an iterative caller leaks every previous round's
    * blocks for the life of the job.
    *
    * This mirrors `Dataset.checkpoint(eager = true, reliable = false)`
    * exactly — one SQL execution named `localCheckpoint` (so query
    * listeners and the SQL UI see it) that executes the physical plan,
    * copies (UnsafeRow buffers are reused per partition) and persists,
    * then a `LogicalRDD.fromDataset` wrap so partitioning/ordering
    * survive for downstream planning — but returns the RDD handle so the
    * caller can `unpersist` superseded rounds. A materializing action
    * that fails unpersists the RDD before rethrowing: no handle reaches
    * the caller then, so nothing else could release its blocks.
    */
  def materialize(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val (out, rdd, _) = checkpointed(df)(_.count())
    (out, rdd)
  }

  /** Run `action` as the materializing job of `df`'s locally checkpointed
    * rows, inside one SQL execution; returns the checkpointed frame, its
    * RDD and the action's result. */
  private def checkpointed[T](df: DataFrame)(action: RDD[InternalRow] => T)
      : (DataFrame, RDD[InternalRow], T) = {
    val ds = df.asInstanceOf[CDataset[Row]]
    val qe = ds.queryExecution
    val (rdd, out) = SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      try (rdd, action(rdd)) catch {
        case e: Throwable => rdd.unpersist(blocking = false); throw e
      }
    }
    (CDataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rdd, ds, isStreaming = false)), rdd, out)
  }

  /** [[materialize]], but the single materializing action also folds
    * (min, max) of one LONG column and the sum of another — so a
    * caller can derive data-dependent tuning (e.g. a bucket width)
    * from the materialized table's own statistics without paying a
    * SECOND full pass over the sources. min/max skip NULLs (None when
    * every row is NULL/empty); the sum counts NULLs as 0. */
  def materializeWithLongStats(df: DataFrame, minMaxCol: String,
      sumCol: String)
      : (DataFrame, RDD[InternalRow], Option[(Long, Long)], Long) = {
    val mmIdx = df.schema.fieldIndex(minMaxCol)
    val sIdx = df.schema.fieldIndex(sumCol)
    // (min, max, sum, seenAny) folded in the one materializing pass
    val (out, rdd, (lo, hi, sum, seen)) = checkpointed(df)(_.aggregate(
      (Long.MaxValue, Long.MinValue, 0L, false))(
      (acc, r) => {
        val s2 = acc._3 + (if (r.isNullAt(sIdx)) 0L else r.getLong(sIdx))
        if (r.isNullAt(mmIdx)) (acc._1, acc._2, s2, acc._4)
        else {
          val v = r.getLong(mmIdx)
          (math.min(acc._1, v), math.max(acc._2, v), s2, true)
        }
      },
      (a, b) => (math.min(a._1, b._1), math.max(a._2, b._2),
        a._3 + b._3, a._4 || b._4)))
    (out, rdd, if (seen) Some((lo, hi)) else None, sum)
  }

  /** [[materialize]], but the single materializing action also sums an
    * INT column — so an iterative algorithm gets its convergence signal
    * for free instead of running a second probe job (and its shuffle)
    * per round. NULLs count as 0. */
  def materializeSummingInt(df: DataFrame, sumCol: String)
      : (DataFrame, RDD[InternalRow], Long) = {
    val idx = df.schema.fieldIndex(sumCol)
    val (out, rdd, sum) = checkpointed(df)(_.aggregate(0L)(
      (acc, r) => acc + (if (r.isNullAt(idx)) 0L else r.getInt(idx).toLong),
      _ + _))
    (out, rdd, sum)
  }
}
