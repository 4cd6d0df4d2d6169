package graft.tools

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Per-micro-batch profile of streaming SparkEntry rows, read from the
  * replay harness itself: a StreamingQueryListener prints each batch's
  * input row count and `durationMs` phases while the named rows run.
  *
  * Usage: ReplayProf <sfDir> <row>... (e.g. `tools/jrun.sh
  * graft.tools.ReplayProf /path/to/sf0.1 q265_stream_stream_neardup`) */
object ReplayProf {
  def main(args: Array[String]): Unit = {
    val sfDir +: rows = args.toSeq
    val s = graft.core.GraftSession.local()
    s.sparkContext.setLogLevel("WARN")
    val started, ended = new AtomicInteger
    s.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
      def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[rp]   batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${new java.util.TreeMap(p.durationMs)}")
      }
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.incrementAndGet()
    })
    rows.foreach { row =>
      println(s"[rp] == $row ==")
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(row)(s, sfDir).collect().length
      val secs = (System.nanoTime() - t0) / 1e9
      // listener events arrive asynchronously: wait for this row's
      // streams to report their end before printing its total
      val deadline = System.nanoTime() + 10000000000L
      while (ended.get < started.get && System.nanoTime() < deadline)
        Thread.sleep(10)
      println(f"[rp] $row: $n rows out, $secs%.3f s")
    }
    s.stop()
  }
}
