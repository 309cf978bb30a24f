package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters of a traced run, from Spark's public listener APIs.
  *
  * The benchmark tags every call it makes with thread-local job
  * properties (`perfbench.pass`, `perfbench.phase`); Spark copies them into
  * each job and stage those calls launch, so jobs, stages and tasks are
  * charged to the exact pass and phase that caused them. Each job is also
  * charged to the repository module of its call site ([[Layers.module]]). */
final class Layers extends SparkListener with QueryExecutionListener {

  final class Acc {
    val jobs = mutable.Map.empty[(String, String), Int].withDefaultValue(0)
    val jobMs = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    var stages = 0
    var tasks = 0
    var taskRunMs = 0L
    var taskCpuNs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  final case class Plan(startMs: Long, analysisMs: Long, optimizeMs: Long, planningMs: Long)

  private val accs = mutable.Map.empty[Int, Acc]
  private val jobInfo = mutable.Map.empty[Int, (Int, String, String, Long)]
  private val stageInfo = mutable.Map.empty[Int, (Int, String)]
  private val plans = mutable.ArrayBuffer.empty[Plan]
  private val executions = mutable.Map.empty[Long, String]
  @volatile private var fences = 0

  private def acc(pass: Int): Acc = accs.getOrElseUpdate(pass, new Acc)

  private def tags(p: java.util.Properties): (Int, String) =
    if (p == null) (-1, "")
    else (Option(p.getProperty(Layers.Pass)).map(_.toInt).getOrElse(-1),
      Option(p.getProperty(Layers.Phase)).getOrElse(""))

  override def onJobStart(ev: SparkListenerJobStart): Unit = synchronized {
    val (pass, phase) = tags(ev.properties)
    val site = if (ev.stageInfos.isEmpty) "" else ev.stageInfos.maxBy(_.stageId).details
    // a job Spark submits from its own threads (adaptive query stages,
    // broadcasts) has no repository frame: charge it to the module whose
    // action started its SQL execution
    val module = Layers.module(site) match {
      case "other" => Option(ev.properties).flatMap(p => Option(p.getProperty(Layers.ExecutionId)))
        .flatMap(id => executions.get(id.toLong)).getOrElse("other")
      case m => m
    }
    jobInfo(ev.jobId) = (pass, phase, module, ev.time)
  }

  override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      executions(e.executionId) = Layers.module(e.details)
    }
    case _ => ()
  }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(ev.jobId).foreach { case (pass, phase, module, start) =>
      if (phase == Layers.Fence) fences += 1
      else if (pass >= 0) {
        val a = acc(pass)
        a.jobs((phase, module)) += 1
        a.jobMs((phase, module)) += ev.time - start
      }
    }
  }

  override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit = synchronized {
    stageInfo(ev.stageInfo.stageId) = tags(ev.properties)
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = synchronized {
    stageInfo.get(ev.stageInfo.stageId).foreach { case (pass, _) =>
      if (pass >= 0) acc(pass).stages += 1
    }
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = synchronized {
    val m = ev.taskMetrics
    stageInfo.get(ev.stageId).foreach { case (pass, _) =>
      if (pass >= 0 && m != null) {
        val a = acc(pass)
        a.tasks += 1
        a.taskRunMs += m.executorRunTime
        a.taskCpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
    synchronized(plans += Plan(start, ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait until every event posted before now has been delivered: run one
    * marker job and wait for its end event, which the listener bus
    * delivers after all earlier events. */
  def fence(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val before = fences
    val (oldPass, oldPhase) = (sc.getLocalProperty(Layers.Pass), sc.getLocalProperty(Layers.Phase))
    sc.setLocalProperty(Layers.Pass, null)
    sc.setLocalProperty(Layers.Phase, Layers.Fence)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(Layers.Pass, oldPass)
      sc.setLocalProperty(Layers.Phase, oldPhase)
    }
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (fences == before && System.nanoTime() < deadline) Thread.sleep(5)
    require(fences > before, "listener events were not delivered within 60 s")
  }

  def pass(p: Int): Acc = synchronized(accs.getOrElse(p, new Acc))

  def plansBetween(startMs: Long, endMs: Long): Seq[Plan] =
    synchronized(plans.filter(pl => pl.startMs >= startMs && pl.startMs <= endMs).toVector)
}

object Layers {
  val Pass = "perfbench.pass"
  val Phase = "perfbench.phase"
  val Fence = "fence"
  private val ExecutionId = "spark.sql.execution.id"

  private val Frame = """(?m)^\s*(?:at\s+)?(graft\.[a-z]+|perfbench)\.""".r

  /** The module of a job: the package under `graft` of the innermost
    * repository frame of its call site (Spark's stack of the action that
    * launched it), skipping `core`, whose staging helper runs jobs on
    * behalf of its caller. This package's own calls are `exec`. */
  def module(callSite: String): String =
    Frame.findAllMatchIn(callSite).map(_.group(1)).collectFirst {
      case "perfbench" => "exec"
      case g if g != "graft.core" => g.stripPrefix("graft.")
    }.getOrElse("other")
}
