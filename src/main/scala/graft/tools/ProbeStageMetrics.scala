package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Empirical per-stage breakdown for a declared query (guide §1.1's
  * "open the Stages tab" with the UI disabled): a SparkListener collects
  * every completed stage's executor-run time, shuffle read/write bytes and
  * record counts, and the stage name (which carries the operator callsite).
  * The query runs `reps` times through [[ToolSession.timeQuery]] (caches
  * cleared before each rep); stages are printed for the LAST rep (steady
  * state — codegen compiled, page cache warm), sorted by task time.
  *
  * `runMain graft.tools.ProbeStageMetrics <sfDir> <reps> <query>...`
  */
object ProbeStageMetrics {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ProbeStageMetrics <sfDir> <reps> <query>...")
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = ToolSession()

    case class St(name: String, ms: Long, runMs: Long, cpuMs: Long,
                  shRead: Long, shWrite: Long, recIn: Long, recOut: Long,
                  nTasks: Int, gcMs: Long, deserMs: Long)
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    val listener = new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += St(si.name.linesIterator.next().take(140),
            si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
            m.executorRunTime, m.executorCpuTime / 1000000,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.inputMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten,
            si.numTasks, m.jvmGCTime, m.executorDeserializeTime)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { n =>
      var total = 0.0
      (1 to reps).foreach { r =>
        stages.synchronized(stages.clear())
        total = ToolSession.timeQuery(spark, n, sfDir)
        System.err.println(f"[stages] $n rep $r: $total%.2f s")
      }
      Thread.sleep(1500) // let the listener bus drain the final stage events
      val snap = stages.synchronized(stages.toVector)
      val byTime = snap.sortBy(-_.ms)
      System.err.println(f"[stages] $n LAST REP ${total}%.2f s, ${snap.size} stages, " +
        f"sum runMs=${snap.map(_.runMs).sum}, sum gcMs=${snap.map(_.gcMs).sum}, " +
        f"sum deserMs=${snap.map(_.deserMs).sum}, " +
        f"sum shWrite=${snap.map(_.shWrite).sum / 1048576.0}%.1f MiB")
      byTime.take(25).foreach { s =>
        System.err.println(f"  wall=${s.ms}%6d tasks=${s.nTasks}%4d run=${s.runMs}%6d cpu=${s.cpuMs}%6d " +
          f"gc=${s.gcMs}%5d deser=${s.deserMs}%5d " +
          f"shR=${s.shRead / 1048576.0}%7.1f shW=${s.shWrite / 1048576.0}%7.1f MiB " +
          f"recIn=${s.recIn}%10d recShW=${s.recOut}%10d  ${s.name}")
      }
    }
    spark.stop()
  }
}
