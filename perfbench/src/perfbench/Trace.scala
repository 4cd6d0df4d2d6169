package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the index of the enclosing
  * span (-1 at top level); spans of one request share `req`. */
final case class Span(name: String, layer: String, startNs: Long, endNs: Long,
    parent: Int, req: Long)

/** In-memory span recorder. Disabled (the untraced run) it only runs the
  * body; enabled it records a span per call, kept in memory and written
  * out once at the end of the run. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var req: Long = -1L

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.size
      spans += Span(name, layer, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), req)
      stack = idx :: stack
      try body
      finally {
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time per layer in ms: a span's duration minus its children's. */
  def selfMs: Map[String, Double] = {
    val child = Array.fill(spans.size)(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.endNs - s.startNs)
    spans.indices.groupMapReduce(i => spans(i).layer)(i =>
      (spans(i).endNs - spans(i).startNs - child(i)) / 1e6)(_ + _)
  }

  def writeJsonl(path: String): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.zipWithIndex.map { case (s, i) =>
      Json(Map("id" -> i, "name" -> s.name, "layer" -> s.layer,
        "start_us" -> (s.startNs - t0) / 1000, "end_us" -> (s.endNs - t0) / 1000,
        "parent" -> s.parent, "req" -> s.req))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

/** Engine-side counters for one op (one benchmark request or step). */
final class OpCost {
  var jobs = 0L; var tasks = 0L; var taskMs = 0L; var longestTaskMs = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L; var gcMs = 0L
  var inputRecords = 0L; var inputBytes = 0L; var outputBytes = 0L
  var planningMs = 0L
  def +=(o: OpCost): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    longestTaskMs = math.max(longestTaskMs, o.longestTaskMs)
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    gcMs += o.gcMs; inputRecords += o.inputRecords; inputBytes += o.inputBytes
    outputBytes += o.outputBytes; planningMs += o.planningMs
  }
  def toMap: Map[String, Double] = Map("planning_ms" -> planningMs, "jobs" -> jobs,
    "tasks" -> tasks, "task_ms" -> taskMs, "longest_task_ms" -> longestTaskMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "gc_ms" -> gcMs, "input_records" -> inputRecords, "input_bytes" -> inputBytes,
    "output_bytes" -> outputBytes).map { case (k, v) => k -> v.toDouble }
}

/** Micro-batch phases of one streaming row, summed over its batches. */
final class StreamCost {
  var batches = 0L; var emptyBatches = 0L; var stateRows = 0L; var stateMemory = 0L
  var stateCommitMs = 0L
  val durations = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** Spark listeners registered from outside the program. Jobs are
  * attributed to an op by the job tag the benchmark adds around it
  * (`pb-op-<n>`); planning phases and micro-batch progress, which carry
  * no tag, by the op's wall-clock window. */
final class Meter(spark: SparkSession) {
  import Meter.Window
  private val windows = mutable.ArrayBuffer.empty[Window]
  private val jobOp = mutable.Map.empty[Int, Int]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val planning = mutable.ArrayBuffer.empty[(Long, Long)]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  val costs = mutable.Map.empty[Int, OpCost]

  private def opAt(ms: Long): Int =
    windows.find(w => w.startMs <= ms && ms <= w.endMs).map(_.op).getOrElse(-1)
  private def cost(op: Int): OpCost = costs.getOrElseUpdate(op, new OpCost)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Meter.this.synchronized {
      val tags = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.job.tags"))).getOrElse("")
      val tagged = tags.split(",").collectFirst {
        case t if t.startsWith("pb-op-") => t.stripPrefix("pb-op-").toInt }
      jobStartMs(e.jobId) = e.time
      tagged.foreach { op =>
        jobOp(e.jobId) = op
        e.stageIds.foreach(s => stageOp(s) = op)
        cost(op).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Meter.this.synchronized {
      // an untagged job (a stream's own thread may run with other tags)
      // belongs to the op whose window saw it start
      if (!jobOp.contains(e.jobId)) {
        val op = opAt(jobStartMs.getOrElse(e.jobId, e.time))
        jobOp(e.jobId) = op; cost(op).jobs += 1
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Meter.this.synchronized {
      if (!stageOp.contains(e.stageInfo.stageId))
        stageOp(e.stageInfo.stageId) = opAt(e.stageInfo.submissionTime
          .getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Meter.this.synchronized {
      val op = stageOp.getOrElse(e.stageId, opAt(e.taskInfo.finishTime))
      val c = cost(op)
      c.tasks += 1
      c.longestTaskMs = math.max(c.longestTaskMs, e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputRecords += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val queries = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) Meter.this.synchronized {
        planning += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Meter.this.synchronized(progress += e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(queries)
  spark.streams.addListener(streams)

  /** Run `body` as op `op`: its jobs carry the op's tag. */
  def within[T](op: Int)(body: => T): T = {
    val tag = s"pb-op-$op"
    // the window is open while the op runs: events are matched to it as
    // they arrive, not only after the op has ended
    Meter.this.synchronized(windows += Window(op, System.currentTimeMillis(), Long.MaxValue))
    spark.sparkContext.addJobTag(tag)
    try body
    finally {
      spark.sparkContext.removeJobTag(tag)
      Meter.this.synchronized(windows(windows.size - 1) =
        windows.last.copy(endMs = System.currentTimeMillis()))
    }
  }

  /** Wait for every posted event, then fold planning time into its op. */
  def finish(): Unit = {
    org.apache.spark.graftshim.ListenerShim.drain(spark.sparkContext)
    synchronized {
      planning.foreach { case (startMs, ms) => cost(opAt(startMs)).planningMs += ms }
      planning.clear()
    }
  }

  /** Per-op streaming cost (micro-batch phases summed over the op's
    * batches), attributed by each batch's trigger time. */
  def streamCosts: Map[Int, StreamCost] = synchronized {
    progress.groupBy(e => opAt(java.time.Instant.parse(e.progress.timestamp).toEpochMilli))
      .map { case (op, es) =>
        val c = new StreamCost
        es.foreach { e =>
          val p = e.progress
          c.batches += 1
          if (p.numInputRows == 0) c.emptyBatches += 1
          p.durationMs.forEach((k, v) => c.durations(k) += v.longValue)
          p.stateOperators.foreach { s =>
            c.stateRows = math.max(c.stateRows, s.numRowsTotal)
            c.stateMemory = math.max(c.stateMemory, s.memoryUsedBytes)
            c.stateCommitMs += s.commitTimeMs
          }
        }
        op -> c
      }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }
}

object Meter {
  private final case class Window(op: Int, startMs: Long, endMs: Long)
}

/** JSON for the result record and the spans, with the Jackson and
  * Scala-module jars that ship with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
