package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `run.py` (which builds the
  * repository and this package first):
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --cores <n> --root <checkout> --work <dir> --result <file>
  *      [--goldens <file>]
  * Main --dump-oracles <file> --root <checkout>
  * }}}
  *
  * One client drives the program in a closed loop through its public
  * functions only; the run's end-to-end and per-layer metrics go to the
  * result file as one JSON object. */
object Main {

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def workload: String = this("workload")
    def seed: Long = this("seed").toLong
    def seconds: Double = this("seconds").toDouble
    def trace: Boolean = this("trace") == "1"
    def cores: Int = this("cores").toInt
    def root: Path = Paths.get(this("root")).toAbsolutePath
    def work: Path = Paths.get(this("work")).toAbsolutePath
    def fixtures: String = root.resolve("perfbench/fixtures/sf0.01").toString
    def goldens: Path = kv.get("goldens").map(Paths.get(_))
      .getOrElse(root.resolve("perfbench/goldens.json"))
  }

  /** What one run measured. Metric triples are (name, value, unit). */
  final case class Outcome(endToEnd: Seq[(String, Double, String)],
                           perLayer: Map[String, Double],
                           attempted: Long, failed: Long, trace: Trace)

  val Workloads: Seq[String] = Seq("llm_dedup", "tail_upsert")

  /** The declared queries one `llm_dedup` pass runs. */
  val DedupQueries: Seq[String] = Seq("q_dedup_minhash", "q_dedup_simhash",
    "q_dedup_clusters", "q_dedup_fuzzy", "q_dedup_containment", "q_dedup_jaccard_prefix",
    "q_sim_near_dup", "q_bpe_merges")

  /** Every per-layer metric a traced run prints, with its unit; a layer a
    * workload never enters reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "sources.build_jobs" -> "count", "sources.build_job_s" -> "s",
    "ops.build_jobs" -> "count", "ops.build_job_s" -> "s",
    "plans.analysis_s" -> "s", "plans.optimize_s" -> "s", "plans.planning_s" -> "s",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB", "exec.gc_s" -> "s",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.cpu_per_run" -> "ratio",
    "ops.storage_peak_mb" -> "MB") ++
    DedupQueries.flatMap(q => Seq(s"q.$q.build_s" -> "s", s"q.$q.exec_s" -> "s")) ++
    Seq(
      "streaming.latest_offset_s" -> "s", "streaming.planning_s" -> "s",
      "streaming.wal_s" -> "s", "streaming.add_batch_s" -> "s",
      "streaming.triggers" -> "count", "streaming.empty_triggers" -> "count",
      "streaming.rows_read" -> "count", "streaming.reread_ratio" -> "ratio",
      "ops.route_s" -> "s", "sinks.upsert_s" -> "s", "sinks.upsert_calls" -> "count",
      "sinks.jobs" -> "count", "sinks.insert_wave_s" -> "s", "sinks.update_wave_s" -> "s",
      "sinks.dead_letters" -> "count",
      "self.pass_s" -> "s", "self.query_s" -> "s", "self.build_s" -> "s",
      "self.execute_s" -> "s", "self.wave_s" -> "s", "self.trigger_s" -> "s",
      "self.route_s" -> "s", "self.upsert_s" -> "s",
      "trace.overhead_pct" -> "%", "host.calib_s" -> "s", "host.steal_s" -> "s")

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap)
    if (a.kv.contains("dump-oracles")) dumpOracles(a)
    else run(a)
  }

  private def run(a: Args): Unit = {
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; expected one of ${Workloads.mkString(", ")}")
    val calib0 = Host.calibrate()
    val steal0 = Host.stealSeconds()
    val out = a.workload match {
      case "llm_dedup" => new QueryWorkload(a, Goldens.load(a.goldens)).run()
      case "tail_upsert" => new TailWorkload(a).run()
    }
    val calib = calib0 ++ Host.calibrate()
    val steal = Host.stealSeconds() - steal0
    Measure.say(f"host.calib_s ${Stats.median(calib)}%.4f s (n=${calib.size}: start " +
      f"${Stats.median(calib0)}%.4f, end ${Stats.median(calib.drop(calib0.size))}%.4f); " +
      f"host.steal_s $steal%.2f s")
    if (out.trace.enabled)
      out.trace.writeTo(a.work.getParent.resolve(s"trace-${a.workload}-${a.seed}.jsonl"))

    val metrics =
      if (!a.trace) out.endToEnd
      else {
        val layer = out.perLayer ++ Map("host.calib_s" -> Stats.median(calib),
          "host.steal_s" -> steal)
        PerLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      }
    val json = Json.obj(Seq(
      "correct" -> (out.failed == 0).toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    Files.writeString(Paths.get(a("result")), json + "\n")
  }

  /** The benchmarked queries' DuckDB oracle SQL as JSON, for `goldens.py`. */
  private def dumpOracles(a: Args): Unit = {
    val names = DedupQueries.sorted
    val sql = graft.SparkEntry.oracleSql
    val missing = names.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
    Files.writeString(Paths.get(a("dump-oracles")),
      Json.obj(names.map(n => n -> Json.str(sql(n)))) + "\n")
  }

  /** A local session shaped like the repository's own perf surface, with
    * every scratch location inside the run's work directory. */
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", a.work.resolve("hadoop").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(a.work.resolve("checkpoints").toString)
    spark
  }
}
