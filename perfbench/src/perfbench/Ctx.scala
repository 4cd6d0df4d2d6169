package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One executed op: a benchmark request or step, timed as one latency.
  * `cpuMs` is the process CPU time (all threads) spent while it ran. */
final case class OpRecord(id: Int, name: String, layer: String, ms: Double,
    cpuMs: Double, failed: Boolean)

/** What a run hands between the workload and the op runner: the session,
  * the tracer and (traced run only) the engine meter, plus the op log,
  * failures and the honest-measurement guard records. */
final class Ctx(val spark: SparkSession, val trace: Tracer,
    val meter: Option[Meter]) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Session-conf keys an op left changed, with the op that changed them. */
  val confDrift = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** CacheManager entries after each op, by op name (last value kept). */
  val cachedAfter = mutable.LinkedHashMap.empty[String, Int]
  private var nextId = 0

  def cachedEntries: Int = org.apache.spark.sql.PerfbenchShim.cachedPlans(spark)

  def fail(op: String, cls: String, msg: String): Unit =
    failures += Map("op" -> op, "class" -> cls,
      "message" -> Option(msg).getOrElse("").take(400))

  /** Run one op: time it, then (untimed) check its output. A throw or a
    * failed check marks the op failed; its time stays in the op log and in
    * the pass wall either way. Returns the op's value when it succeeded. */
  def op[T](layer: String, name: String)(body: => T)(check: T => Option[String]): Option[T] = {
    val id = nextId; nextId += 1
    trace.req = id
    val confBefore = spark.conf.getAll
    val c0 = Ctx.processCpuNs
    val t0 = System.nanoTime()
    val res =
      try Right(meter.fold(trace(layer, name)(body))(m => m.within(id)(trace(layer, name)(body))))
      catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = (Ctx.processCpuNs - c0) / 1e6
    val ok = res match {
      case Left(e) => fail(name, e.getClass.getName, e.getMessage); false
      case Right(v) =>
        try check(v) match {
          case Some(msg) => fail(name, "OutputMismatch", msg); false
          case None => true
        } catch { case NonFatal(e) => fail(name, e.getClass.getName, e.getMessage); false }
    }
    ops += OpRecord(id, name, layer, ms, cpuMs, !ok)
    cachedAfter(name) = cachedEntries
    val confAfter = spark.conf.getAll
    (confBefore.keySet ++ confAfter.keySet).filter(k => confBefore.get(k) != confAfter.get(k))
      .foreach(k => confDrift += Map("op" -> name, "key" -> k,
        "before" -> confBefore.getOrElse(k, null), "after" -> confAfter.getOrElse(k, null)))
    res.toOption.filter(_ => ok)
  }

  /** Collect `df` as a traced engine call. */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] =
    trace("spark", "collect")(df.collect())

}

object Ctx {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs: Long = os.getProcessCpuTime
}

object Stats {
  /** Median, the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  def dirBytes(dir: java.io.File): (Long, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    // Hadoop's local checksum sidecars are not part of the stored table
    val files = walk(dir).filter(f => f.isFile && !f.getName.endsWith(".crc"))
    (files.map(_.length).sum, files.count(_.getName.endsWith(".parquet")).toLong)
  }
}
