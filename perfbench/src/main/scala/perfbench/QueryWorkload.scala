package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `llm_dedup` workload: one client runs the declared dedup queries
  * (`SparkEntry.queries`) over the benchmark's fixture, in a seed-shuffled
  * order each pass, with caches cleared before every query so no query
  * finds state another one built.
  *
  * Set-up starts the session and checks the fixture (`Preflight`)
  * `Setup.Setups` times, then runs the warm-up pass, which checks every
  * query's full result against its golden digest. The timed passes then
  * build each query (the DataFrame-construction call, including any eager
  * jobs it runs) and execute it through the noop sink. In a traced run,
  * every second pass is traced, so the tracing overhead is measured inside
  * the same JVM. */
final class QueryWorkload(a: Main.Args, goldens: Map[String, Digest.Result]) {

  private val names = Main.DedupQueries
  private val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = graft.SparkEntry.queries
    val missing = names.filterNot(n => all.contains(n) && goldens.contains(n))
    require(missing.isEmpty, s"no declared query or golden for ${missing.mkString(", ")}")
    names.map(n => n -> all(n)).toMap
  }
  private val dir = a.fixtures
  private val rng = new scala.util.Random(a.seed)
  private val trace = new Trace(a.trace)
  private var attempted = 0L
  private var failed = 0L

  private final case class Op(name: String, buildS: Double, execS: Double) {
    def totalS: Double = buildS + execS
  }
  private final case class Pass(idx: Int, traced: Boolean, wallS: Double, ops: Seq[Op],
                                startMs: Long, endMs: Long, gcS: Double, peakBytes: Long)

  private def clearCaches(): Unit = {
    graft.ops.Dedup.clearCaches()
    graft.sources.Tables.clearWidenMemo()
  }

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    System.err.println(s"[perfbench] $what failed: ${e.getClass.getName}: ${e.getMessage}")
  }

  /** Run one query to completion and compare its result with the golden. */
  private def check(spark: SparkSession, n: String): Unit = {
    attempted += 1
    clearCaches()
    try {
      val got = Digest.of(queries(n)(spark, dir))
      if (got != goldens(n)) {
        failed += 1
        System.err.println(s"[perfbench] WRONG RESULT $n: got $got, golden ${goldens(n)}")
      }
    } catch { case NonFatal(e) => fail(s"check of $n", e) }
  }

  private def pass(spark: SparkSession, p: Int, traced: Boolean): Pass = {
    val sc = spark.sparkContext
    val tr = if (traced) trace else Trace.Off
    val order = rng.shuffle(names)
    sc.setLocalProperty(Layers.Pass, p.toString)
    var peak = 0L
    val gc0 = Measure.gcSeconds()
    val ms0 = System.currentTimeMillis()
    val passId = tr.open()
    val t0 = System.nanoTime()
    val ops = order.flatMap { n =>
      val q0 = System.nanoTime()
      clearCaches()
      attempted += 1
      try {
        sc.setLocalProperty(Layers.Phase, "build")
        val b0 = System.nanoTime()
        val df = queries(n)(spark, dir)
        val b1 = System.nanoTime()
        if (traced) peak = math.max(peak, Measure.storedBytes(sc))
        sc.setLocalProperty(Layers.Phase, "execute")
        val e0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val e1 = System.nanoTime()
        if (traced) peak = math.max(peak, Measure.storedBytes(sc))
        val qid = tr.open()
        tr.add(qid, "build", n, p, b0, b1)
        tr.add(qid, "execute", n, p, e0, e1)
        tr.close(qid, passId, "query", n, p, q0, System.nanoTime())
        Some(Op(n, (b1 - b0) / 1e9, (e1 - e0) / 1e9))
      } catch { case NonFatal(e) => fail(s"pass $p query $n", e); None }
      finally sc.setLocalProperty(Layers.Phase, null)
    }
    val t1 = System.nanoTime()
    tr.close(passId, 0, "pass", s"pass$p", p, t0, t1)
    sc.setLocalProperty(Layers.Pass, null)
    Pass(p, traced, (t1 - t0) / 1e9, ops, ms0, System.currentTimeMillis(),
      Measure.gcSeconds() - gc0, peak)
  }

  def run(): Main.Outcome = {
    var spark: SparkSession = null
    val startS = (1 to Setup.Setups).map { _ =>
      if (spark != null) { clearCaches(); spark.stop() }
      val t0 = System.nanoTime()
      spark = Main.session(a)
      graft.sources.Preflight.check(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    rng.shuffle(names).foreach(check(spark, _))
    val setup = Setup(startS, (System.nanoTime() - w0) / 1e9)

    val layers = new Layers
    val passes = mutable.ArrayBuffer.empty[Pass]
    val m0 = System.nanoTime()
    while (passes.size < Setup.MinPasses || (System.nanoTime() - m0) / 1e9 < a.seconds) {
      val p = passes.size + 1
      val traced = a.trace && p % 2 == 0
      if (traced) layers.register(spark)
      passes += pass(spark, p, traced)
      if (traced) { layers.fence(spark); layers.unregister(spark) }
    }
    clearCaches()
    spark.stop()

    val plain = passes.filterNot(_.traced).toSeq
    val samples = plain.flatMap(_.ops)
    val perQuery = samples.groupBy(_.name).map { case (n, os) => n -> Stats.median(os.map(_.totalS)) }
    val passS = Stats.median(plain.map(_.wallS))
    val geo = Stats.geomean(perQuery.values.toSeq)
    val p50 = Stats.median(samples.map(_.totalS))

    Measure.say(f"${a.workload}: seed ${a.seed}, local[${a.cores}], ${passes.size} passes " +
      f"(${passes.count(_.traced)} traced), ${samples.size} untraced query samples")
    setup.report()
    Measure.say(f"pass_s $passS%.4f s = median of ${plain.size} passes " +
      Measure.sampleList(plain.map(_.wallS)))
    Measure.say(f"query_geo_s $geo%.4f s = geomean over ${perQuery.size} queries of each " +
      f"query's median build+execute (${samples.size / math.max(1, perQuery.size)} samples each)")
    Measure.say(f"op_p50_s $p50%.4f s = median of ${samples.size} query samples")
    Measure.reportPercentile("query", samples.map(_.totalS))
    Measure.say(f"fail_ratio ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f " +
      s"= $failed failed / $attempted attempted operations")
    perQuery.toSeq.sortBy(-_._2).foreach { case (n, s) =>
      Measure.say(f"  $n%-26s median $s%.4f s") }

    val layer = if (!a.trace) Map.empty[String, Double] else {
      val traced = passes.filter(_.traced).toSeq
      val perPass = traced.map { ps =>
        val acc = layers.pass(ps.idx)
        val plans = layers.plansBetween(ps.startMs, ps.endMs)
        val self = trace.selfSeconds(ps.idx)
        Measure.execLayer(acc, ps.gcS) ++ Map(
          "queries.build_s" -> ps.ops.map(_.buildS).sum,
          "queries.build_jobs" -> Measure.jobs(acc, "build"),
          "sources.build_jobs" -> Measure.jobs(acc, "build", "sources"),
          "sources.build_job_s" -> Measure.jobSeconds(acc, "build", "sources"),
          "ops.build_jobs" -> Measure.jobs(acc, "build", "ops"),
          "ops.build_job_s" -> Measure.jobSeconds(acc, "build", "ops"),
          "plans.analysis_s" -> plans.map(_.analysisMs).sum / 1000.0,
          "plans.optimize_s" -> plans.map(_.optimizeMs).sum / 1000.0,
          "plans.planning_s" -> plans.map(_.planningMs).sum / 1000.0,
          "exec.s" -> ps.ops.map(_.execS).sum,
          "ops.storage_peak_mb" -> ps.peakBytes / (1024.0 * 1024.0),
          "self.pass_s" -> self.getOrElse("pass", 0.0),
          "self.query_s" -> self.getOrElse("query", 0.0),
          "self.build_s" -> self.getOrElse("build", 0.0),
          "self.execute_s" -> self.getOrElse("execute", 0.0)) ++
          ps.ops.flatMap(o =>
            Seq(s"q.${o.name}.build_s" -> o.buildS, s"q.${o.name}.exec_s" -> o.execS)).toMap
      }
      traced.lastOption.foreach { ps =>
        val byModule = layers.pass(ps.idx).jobs.toSeq.filter(_._1._1 == "build")
          .map { case ((_, m), n) => s"$m $n" }.sorted.mkString(", ")
        Measure.say(s"build-time jobs of traced pass ${ps.idx} by call-site module: $byModule")
      }
      val tracedS = Stats.median(traced.map(_.wallS))
      val overhead = (tracedS / passS - 1) * 100
      Measure.say(f"trace.overhead_pct $overhead%.2f%% = traced pass median $tracedS%.4f s " +
        f"(n=${traced.size}) vs untraced $passS%.4f s (n=${plain.size})")
      val m = Measure.medians(perPass)
      Measure.say(f"exec.cpu_per_run ${m("exec.cpu_per_run")}%.3f = task cpu " +
        f"${m("exec.task_cpu_s")}%.3f s / task run ${m("exec.task_run_s")}%.3f s per pass")
      m + ("trace.overhead_pct" -> overhead)
    }

    Main.Outcome(
      Seq(("setup_s", setup.seconds, "s"), ("pass_s", passS, "s"),
        ("op_geo_s", geo, "s"), ("op_p50_s", p50, "s")),
      layer, attempted, failed, trace)
  }
}
