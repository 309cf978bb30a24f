package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** Set-up time of one run: session start and fixture staging, repeated
  * and taken as their median, plus one warm-up pass, which runs the JVM's
  * cold first pass outside the timed ones and checks every output. */
final case class Setup(startS: Seq[Double], warmUpS: Double) {
  def seconds: Double = Stats.median(startS) + warmUpS

  def report(): Unit = Measure.say(f"setup_s $seconds%.4f s = median session start + " +
    f"staging ${Stats.median(startS)}%.4f s of ${startS.size} " +
    f"${Measure.sampleList(startS)} + warm-up pass $warmUpS%.4f s")
}

object Setup {
  /** Session starts plus staging per run; their median counts in set-up. */
  val Setups = 3

  /** Timed passes at least, even when one pass outlasts the run's
    * seconds: an untraced run reports the median of two, and a traced run
    * needs an untraced and a traced one. A second warm-up pass would not
    * fit the time budget beside two timed `llm_dedup` passes. */
  val MinPasses = 2
}

/** Pieces both workload kinds share: process-wide counters read at pass
  * boundaries, the Spark-execution layer of one traced pass, and the
  * report lines a run prints before its result. */
object Measure {

  private val MB = 1024.0 * 1024.0

  /** Cumulative garbage-collection seconds of this JVM. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  /** Bytes of cached and staged blocks held in memory right now. */
  def storedBytes(sc: SparkContext): Long = sc.getRDDStorageInfo.map(_.memSize).sum

  /** The `exec` layer of one traced pass: all Spark work the pass caused,
    * in every phase. */
  def execLayer(acc: Layers#Acc, gcS: Double): Map[String, Double] = {
    val runS = acc.taskRunMs / 1000.0
    val cpuS = acc.taskCpuNs / 1e9
    Map(
      "exec.jobs" -> acc.jobs.values.sum.toDouble,
      "exec.stages" -> acc.stages.toDouble,
      "exec.tasks" -> acc.tasks.toDouble,
      "exec.shuffle_write_mb" -> acc.shuffleWrite / MB,
      "exec.shuffle_read_mb" -> acc.shuffleRead / MB,
      "exec.spill_mb" -> acc.spill / MB,
      "exec.gc_s" -> gcS,
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> cpuS,
      "exec.cpu_per_run" -> (if (runS > 0) cpuS / runS else 0.0))
  }

  def jobs(acc: Layers#Acc, phase: String, module: String = null): Double =
    acc.jobs.collect { case ((ph, m), n) if ph == phase && (module == null || m == module) => n }
      .sum.toDouble

  def jobSeconds(acc: Layers#Acc, phase: String, module: String = null): Double =
    acc.jobMs.collect { case ((ph, m), ms) if ph == phase && (module == null || m == module) => ms }
      .sum / 1000.0

  /** Per-metric median over the traced passes. */
  def medians(passes: Seq[Map[String, Double]]): Map[String, Double] =
    if (passes.isEmpty) Map.empty
    else passes.flatMap(_.keys).distinct.map(k =>
      k -> Stats.median(passes.map(_.getOrElse(k, 0.0)))).toMap

  def say(line: String): Unit = System.out.println("# " + line)

  def sampleList(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString("[", ", ", "]")

  /** The highest of p99/p90/p50 that has at least ten samples beyond it. */
  def reportPercentile(name: String, xs: Seq[Double]): Unit =
    Seq(0.99, 0.9, 0.5).collectFirst(Function.unlift(p =>
      Stats.percentile(xs, p).map(v => (p, v)))) match {
      case Some((p, v)) =>
        say(f"$name p${(p * 100).round} = $v%.4f s (n=${xs.size} samples)")
      case None => say(s"$name percentiles not reported (n=${xs.size} samples)")
    }
}
