package graft.tools

import graft.SparkEntry

/** Bench-move adjudicator: re-times named queries at n warm iterations
  * and prints min/median — the q54/q64 "did the plan regress or was it
  * machine noise" protocol (VERDICT r3/r4). Usage:
  *   runMain graft.tools.QTimer <sfDir> <n> <query> [<query> ...]
  */
object QTimer {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: QTimer <sfDir> <n> <query>...")
    val sfDir = args(0)
    val n = args(1).toInt
    val names = args.drop(2).toSeq
    // core count from the driver-contract env var (default 32) so the
    // 8-vs-32 scaling adjudications run through the same instrument
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // optional per-stage decomposition (QTIMER_STAGES=1): stage id,
    // task count and wall per completed stage — the poor man's UI for
    // a headless box (the bench session runs with spark.ui disabled)
    if (sys.env.contains("QTIMER_STAGES"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted)
              : Unit = {
            val i = e.stageInfo
            val ms = for {
              a <- i.completionTime; b <- i.submissionTime
            } yield a - b
            println(f"[stage] id=${i.stageId}%-4d tasks=${i.numTasks}%-3d " +
              f"wall=${ms.getOrElse(-1L)}%5d ms  ${i.name.take(70)}")
          }
        })
    names.foreach { q =>
      SparkEntry.queries(q)(spark, sfDir).count() // warm: plan + IO cache
      val ts = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      // true median for even n (the documented protocol is odd n=5,
      // but a mislabeled upper-middle would skew an even-n run)
      val med = if (n % 2 == 1) ts(n / 2)
        else (ts(n / 2 - 1) + ts(n / 2)) / 2.0
      println(f"[qtimer] $q%-28s n=$n min=${ts.head}%.3f " +
        f"med=$med%.3f max=${ts.last}%.3f")
    }
    spark.stop()
  }
}
