package perfbench

import java.sql.{Connection, DriverManager, SQLException}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.core.{ConnectionConfig, InputConfig, OutputConfig, SinkTableConfig, SourceTableConfig}

/** The reference's whole loop against embedded in-memory Derby: tail
  * several tables (`KeysetTail.multiReader`, `select_limit` 500), route
  * the tagged events by tag (`EventOps.routedTablesFromMap`: one hot
  * route plus the default route, each with a `from:to` column mapping)
  * and upsert each routed frame keyed on `id` (`JdbcSink.idempotentUpsert`).
  *
  * Each pass stages a fresh database from the seed: source tables of
  * halving sizes (skew across tables) with an indexed update column. The
  * insert wave drains that backlog; then the generator bumps the update
  * column and the value of a seeded 20% of rows, and the update wave
  * drains those, so the sink's UPDATE path runs beside its INSERT path.
  * Each wave starts the stream from the pass's checkpoint and ends when
  * everything available is processed; after each, the sink tables must
  * equal the state the generator expects. Waves are timed; staging, the
  * generator's updates and the checks are not.
  *
  * Set-up starts the session and stages a database `Setup.Setups` times, then
  * runs the warm-up pass over the last database staged. */
final class TailWorkload(a: Main.Args) {

  /** Rows per source table. 6000 rows at `select_limit` 500 give 12
    * insert-wave and 3 update-wave micro-batches per pass; sized so a
    * full measurement fits the benchmark's time budget on a loaded host. */
  private val sizes = Seq(6000, 3000, 1500, 750)
  private val selectLimit = 500
  private val updateShare = 0.2
  private val mapping = "ID:id,UPD:ver,V:val,tag"
  private val sinks = Seq("DST_HOT", "DST_REST")

  private val rng = new scala.util.Random(a.seed)
  private val trace = new Trace(a.trace)
  private var attempted = 0L
  private var failed = 0L
  private var dbSeq = 0

  private final class Src(val table: Int, val id: Long, var upd: Long, var v: String)
  private final class Fixture(val db: String, val rows: Seq[Src]) {
    def url: String = s"jdbc:derby:memory:$db"
  }

  private final case class Wave(seconds: Double, batches: Seq[StreamingQueryProgress],
                                routeS: Double, upsertS: Double, upsertCalls: Int,
                                deadLetters: Long)
  private final case class Pass(idx: Int, traced: Boolean, insert: Wave, update: Wave,
                                versions: Int, gcS: Double) {
    def seconds: Double = insert.seconds + update.seconds
  }

  private def word(): String = {
    val n = 16 + rng.nextInt(33)
    val sb = new StringBuilder(n)
    (1 to n).foreach(_ => sb += ('a' + rng.nextInt(26)).toChar)
    sb.toString
  }

  private def withConn[T](url: String)(f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def stage(): Fixture = {
    dbSeq += 1
    val db = s"perfbench_tail_$dbSeq"
    withConn(s"jdbc:derby:memory:$db;create=true") { c =>
      val st = c.createStatement()
      sizes.indices.foreach { k =>
        st.execute(s"CREATE TABLE t$k (id BIGINT NOT NULL PRIMARY KEY, " +
          "upd BIGINT NOT NULL, v VARCHAR(64) NOT NULL)")
        st.execute(s"CREATE INDEX t${k}_upd ON t$k (upd)")
      }
      sinks.foreach(t => st.execute(s"CREATE TABLE $t (id VARCHAR(24) NOT NULL PRIMARY KEY, " +
        "ver VARCHAR(24), val VARCHAR(64), tag VARCHAR(16))"))
      st.close()
      c.setAutoCommit(false)
      val rows = sizes.zipWithIndex.flatMap { case (n, k) =>
        val rs = (1 to n).map(i => new Src(k, k * 10000000L + i, i.toLong, word()))
        val ps = c.prepareStatement(s"INSERT INTO t$k (id, upd, v) VALUES (?, ?, ?)")
        rs.grouped(500).foreach { g =>
          g.foreach { r => ps.setLong(1, r.id); ps.setLong(2, r.upd); ps.setString(3, r.v); ps.addBatch() }
          ps.executeBatch()
        }
        ps.close()
        rs
      }
      c.commit()
      new Fixture(db, rows)
    }
  }

  private def drop(f: Fixture): Unit =
    try DriverManager.getConnection(s"${f.url};drop=true").close()
    catch { case _: SQLException => () } // Derby reports a successful drop as 08006

  /** Bump the update column and value of a seeded share of each table. */
  private def updateWave(f: Fixture): Int = withConn(f.url) { c =>
    c.setAutoCommit(false)
    val n = sizes.indices.map { k =>
      val rows = f.rows.filter(_.table == k)
      val chosen = rng.shuffle(rows).take(math.round(rows.size * updateShare).toInt)
      var next = rows.map(_.upd).max + 1
      val ps = c.prepareStatement(s"UPDATE t$k SET upd = ?, v = ? WHERE id = ?")
      chosen.foreach { r =>
        r.upd = next; next += 1; r.v = word()
        ps.setLong(1, r.upd); ps.setString(2, r.v); ps.setLong(3, r.id); ps.addBatch()
      }
      ps.executeBatch()
      ps.close()
      chosen.size
    }.sum
    c.commit()
    n
  }

  /** The sink tables must hold exactly the generator's current rows. */
  private def checkSink(f: Fixture, what: String): Unit = {
    attempted += 1
    try {
      val got = withConn(f.url) { c =>
        sinks.map { t =>
          val rs = c.createStatement().executeQuery(s"SELECT id, ver, val, tag FROM $t")
          val m = mutable.Map.empty[String, (String, String, String)]
          while (rs.next()) m(rs.getString(1)) = (rs.getString(2), rs.getString(3), rs.getString(4))
          rs.close()
          t -> m.toMap
        }.toMap
      }
      val want = sinks.map(t => t -> f.rows.filter(r => (r.table == 0) == (t == "DST_HOT"))
        .map(r => r.id.toString -> (r.upd.toString, r.v, s"t${r.table}")).toMap).toMap
      if (got != want) {
        failed += 1
        val diff = sinks.map { t =>
          val (g, w) = (got(t), want(t))
          s"$t: ${g.size} rows vs ${w.size} expected, " +
            s"${w.count { case (k, v) => !g.get(k).contains(v) }} missing or stale"
        }
        System.err.println(s"[perfbench] WRONG SINK STATE after $what: ${diff.mkString("; ")}")
      }
    } catch { case NonFatal(e) => failed += 1; System.err.println(s"[perfbench] $what check failed: $e") }
  }

  private def wave(spark: SparkSession, f: Fixture, cp: String, p: Int, kind: String,
                   tr: Trace, parent: Int): Wave = {
    val sc = spark.sparkContext
    val cc = ConnectionConfig(adapter = "derby", database = s"memory:${f.db}")
    val icfg = InputConfig(
      tables = sizes.indices.map(k => SourceTableConfig(s"t$k", updateColumn = Some("upd"))),
      tagPrefix = Some("src"), selectLimit = selectLimit)
    val ocfg = OutputConfig(
      routes = Seq(SinkTableConfig("t0", "dst_hot", mapping)),
      defaultTable = SinkTableConfig("", "dst_rest", mapping),
      removeTagPrefix = Some("src"))
    // (batchId, kind, name, start, end) of the spans inside each trigger
    val inner = new ConcurrentLinkedQueue[(Long, String, String, Long, Long)]()
    val dead = new java.util.concurrent.atomic.AtomicLong()
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val waveId = tr.open()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val q = graft.streaming.KeysetTail.multiReader(spark, cc, icfg).load()
      .writeStream
      .foreachBatch { (b: Dataset[Row], batchId: Long) =>
        sc.setLocalProperty(Layers.Phase, "route")
        val r0 = System.nanoTime()
        val routed = graft.ops.EventOps.routedTablesFromMap(b.toDF(), ocfg)
        inner.add((batchId, "route", "route", r0, System.nanoTime()))
        sc.setLocalProperty(Layers.Phase, "upsert")
        routed.toSeq.sortBy(_._1).foreach { case (table, df) =>
          val u0 = System.nanoTime()
          val letters = graft.sinks.JdbcSink.idempotentUpsert(df, f.url, table, Seq("id"))
          dead.addAndGet(letters.collect().length.toLong)
          calls.incrementAndGet()
          inner.add((batchId, "upsert", table, u0, System.nanoTime()))
        }
        sc.setLocalProperty(Layers.Phase, null)
      }
      .option("checkpointLocation", cp)
      .start()
    val t1 =
      try { q.processAllAvailable(); System.nanoTime() }
      finally q.stop()
    val progress = q.recentProgress.toSeq
    val spans = inner.asScala.toSeq
    if (tr.enabled) {
      val byBatch = spans.groupBy(_._1)
      progress.foreach { pr =>
        val s = t0 + (java.time.Instant.parse(pr.timestamp).toEpochMilli - ms0) * 1000000L
        val id = tr.open()
        byBatch.getOrElse(pr.batchId, Nil).foreach { case (_, k, n, s0, s1) => tr.add(id, k, n, p, s0, s1) }
        tr.close(id, waveId, "trigger", s"batch${pr.batchId}", p, s,
          s + pr.durationMs.getOrDefault("triggerExecution", 0L) * 1000000L)
      }
      tr.close(waveId, parent, "wave", kind, p, t0, t1)
    }
    def sum(k: String): Double = spans.filter(_._2 == k).map(x => x._5 - x._4).sum / 1e9
    Wave((t1 - t0) / 1e9, progress, sum("route"), sum("upsert"), calls.get, dead.get)
  }

  private def pass(spark: SparkSession, f: Fixture, p: Int, traced: Boolean): Pass = {
    val sc = spark.sparkContext
    val tr = if (traced) trace else Trace.Off
    val cp = a.work.resolve(s"checkpoints/tail-$p").toString
    sc.setLocalProperty(Layers.Pass, p.toString)
    val gc0 = Measure.gcSeconds()
    val passId = tr.open()
    val t0 = System.nanoTime()
    try {
      val ins = wave(spark, f, cp, p, "insert", tr, passId)
      checkSink(f, s"pass $p insert wave")
      val updated = updateWave(f)
      val upd = wave(spark, f, cp, p, "update", tr, passId)
      checkSink(f, s"pass $p update wave")
      tr.close(passId, 0, "pass", s"pass$p", p, t0, System.nanoTime())
      Pass(p, traced, ins, upd, f.rows.size + updated, Measure.gcSeconds() - gc0)
    } finally {
      sc.setLocalProperty(Layers.Pass, null)
      drop(f)
    }
  }

  private def latencies(w: Wave): Seq[Double] =
    w.batches.filter(_.numInputRows > 0).map(_.durationMs.get("triggerExecution") / 1000.0)

  def run(): Main.Outcome = {
    var spark: SparkSession = null
    var staged: Fixture = null
    val startS = (1 to Setup.Setups).map { _ =>
      if (spark != null) { drop(staged); spark.stop() }
      val t0 = System.nanoTime()
      spark = Main.session(a)
      staged = stage()
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    attempted += 1
    try pass(spark, staged, -1, traced = false)
    catch { case NonFatal(e) => failed += 1; System.err.println(s"[perfbench] warm-up failed: $e") }
    val setup = Setup(startS, (System.nanoTime() - w0) / 1e9)

    val layers = new Layers
    val passes = mutable.ArrayBuffer.empty[Pass]
    val m0 = System.nanoTime()
    var p = 0
    while (p < Setup.MinPasses || (System.nanoTime() - m0) / 1e9 < a.seconds) {
      p += 1
      val traced = a.trace && p % 2 == 0
      if (traced) layers.register(spark)
      attempted += 1
      try passes += pass(spark, stage(), p, traced)
      catch { case NonFatal(e) => failed += 1; System.err.println(s"[perfbench] pass $p failed: $e") }
      if (traced) { layers.fence(spark); layers.unregister(spark) }
    }
    spark.stop()
    require(passes.exists(!_.traced) && (!a.trace || passes.exists(_.traced)),
      s"tail_upsert: too few passes completed ($failed failures)")

    val plain = passes.filterNot(_.traced).toSeq
    val ins = plain.flatMap(ps => latencies(ps.insert))
    val upd = plain.flatMap(ps => latencies(ps.update))
    val all = ins ++ upd
    val passS = Stats.median(plain.map(_.seconds))
    val geo = Stats.geomean(Seq(Stats.median(ins), Stats.median(upd)))
    val p50 = Stats.median(all)
    val rowsPerS = Stats.median(plain.map(ps => ps.versions / ps.seconds))

    Measure.say(f"tail_upsert: seed ${a.seed}, local[${a.cores}], tables ${sizes.mkString("/")} " +
      f"rows, select_limit $selectLimit, ${passes.size} passes (${passes.count(_.traced)} traced)")
    setup.report()
    Measure.say(f"pass_s $passS%.4f s = median of ${plain.size} passes (insert + update wave) " +
      Measure.sampleList(plain.map(_.seconds)))
    Measure.say(f"rows_per_s $rowsPerS%.1f = median over ${plain.size} passes of " +
      f"${plain.headOption.map(_.versions).getOrElse(0)} source row-versions / pass_s")
    Measure.say(f"batch_p50_s $p50%.4f s = median of ${all.size} non-empty micro-batches " +
      f"(${ins.size} insert, ${upd.size} update)")
    Measure.reportPercentile("batch", all)
    Measure.say(f"op_geo_s $geo%.4f s = geomean of the insert-wave ${Stats.median(ins)}%.4f s " +
      f"and update-wave ${Stats.median(upd)}%.4f s batch medians")
    Measure.say(f"fail_ratio ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f " +
      s"= $failed failed / $attempted attempted passes and sink checks")

    val layer = if (!a.trace) Map.empty[String, Double] else {
      val traced = passes.filter(_.traced).toSeq
      val perPass = traced.map { ps =>
        val acc = layers.pass(ps.idx)
        val prog = ps.insert.batches ++ ps.update.batches
        def dur(keys: String*): Double =
          prog.map(pr => keys.map(k => pr.durationMs.getOrDefault(k, 0L).toLong).sum).sum / 1000.0
        val rowsRead = prog.map(_.numInputRows).sum.toDouble
        val self = trace.selfSeconds(ps.idx)
        Measure.execLayer(acc, ps.gcS) ++ Map(
          "streaming.latest_offset_s" -> dur("latestOffset"),
          "streaming.planning_s" -> dur("queryPlanning"),
          "streaming.wal_s" -> dur("walCommit", "commitOffsets"),
          "streaming.add_batch_s" -> dur("addBatch"),
          "streaming.triggers" -> prog.size.toDouble,
          "streaming.empty_triggers" -> prog.count(_.numInputRows == 0).toDouble,
          "streaming.rows_read" -> rowsRead,
          "streaming.reread_ratio" -> rowsRead / ps.versions,
          "ops.route_s" -> (ps.insert.routeS + ps.update.routeS),
          "sinks.upsert_s" -> (ps.insert.upsertS + ps.update.upsertS),
          "sinks.upsert_calls" -> (ps.insert.upsertCalls + ps.update.upsertCalls).toDouble,
          "sinks.jobs" -> Measure.jobs(acc, "upsert"),
          "sinks.insert_wave_s" -> ps.insert.seconds,
          "sinks.update_wave_s" -> ps.update.seconds,
          "sinks.dead_letters" -> (ps.insert.deadLetters + ps.update.deadLetters).toDouble,
          "self.pass_s" -> self.getOrElse("pass", 0.0),
          "self.wave_s" -> self.getOrElse("wave", 0.0),
          "self.trigger_s" -> self.getOrElse("trigger", 0.0),
          "self.route_s" -> self.getOrElse("route", 0.0),
          "self.upsert_s" -> self.getOrElse("upsert", 0.0))
      }
      val tracedS = Stats.median(traced.map(_.seconds))
      val overhead = (tracedS / passS - 1) * 100
      Measure.say(f"trace.overhead_pct $overhead%.2f%% = traced pass median $tracedS%.4f s " +
        f"(n=${traced.size}) vs untraced $passS%.4f s (n=${plain.size})")
      val m = Measure.medians(perPass)
      Measure.say(f"streaming.reread_ratio ${m("streaming.reread_ratio")}%.3f = rows read " +
        f"${m("streaming.rows_read")}%.0f / row-versions generated per pass")
      m + ("trace.overhead_pct" -> overhead)
    }

    Main.Outcome(
      Seq(("setup_s", setup.seconds, "s"), ("pass_s", passS, "s"),
        ("op_geo_s", geo, "s"), ("op_p50_s", p50, "s")),
      layer, attempted, failed, trace)
  }
}
