package graft.core

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** Hadoop `Configuration` isn't java-serializable; ship it to executors
  * via its own `write`/`readFields` (same trick as Spark's internal
  * `SerializableConfiguration`, which is `private[spark]`). It only
  * travels inside a [[Broadcast]] (see [[SerializableHadoopConf.broadcast]]):
  * captured in a closure or a reader factory, every task would
  * deserialize a full `Configuration` of its own. */
private[graft] class SerializableHadoopConf private (
    @transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

private[graft] object SerializableHadoopConf {
  /** The session's Hadoop conf, broadcast once: an executor fetches it
    * once, however many tasks read it. */
  def broadcast(spark: SparkSession): Broadcast[SerializableHadoopConf] =
    spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
}
