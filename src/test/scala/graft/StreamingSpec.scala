package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import scala.jdk.CollectionConverters._

import graft.core.{ConnectionConfig, InputConfig, SourceTableConfig}
import graft.sources.Tables
import graft.streaming.KeysetTail

class StreamingSpec extends SparkSpecBase {
  private val url = "jdbc:derby:memory:graftstream;create=true"

  private lazy val eventsMicro = {
    TailHarness.stage(Tables.events(spark, sf0001), url, "ST_EVENTS")
    "ST_EVENTS"
  }

  test("keyset-tail micro-batch source drains the table in limit-sized pages") {
    val out = spark.readStream
      .format("graft.streaming.KeysetTailProvider")
      .option("url", url).option("dbtable", eventsMicro)
      .option("updateColumn", "event_id")
      .option("maxRowsPerBatch", "300")
      .load()
    val q = out.writeStream
      .format("memory").queryName("tail_out")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT count(*) c, count(distinct event_id) d FROM tail_out").collect().head
      assert(got.getLong(0) === 1000)
      assert(got.getLong(1) === 1000) // each page picked up exactly once
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4) // ceil(1000/300) pages
    } finally q.stop()
  }

  test("timestamp update column: offsets round-trip through serialized strings") {
    // Derby's timestamp cast rejects a zone suffix, so the table's
    // time_format is zone-less (the config-time guard enforces it)
    val out = spark.readStream
      .format("graft.streaming.KeysetTailProvider")
      .option("url", url).option("dbtable", eventsMicro)
      .option("updateColumn", "ts")
      .option("timeFormat", "%Y-%m-%d %H:%M:%S.%6N")
      .option("maxRowsPerBatch", "400")
      .load()
    val q = out.writeStream.format("memory").queryName("tail_ts")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      // strict > on a non-unique timestamp may legally skip same-µs rows at
      // page boundaries (reference behavior, SURVEY §2.1); no duplicates ever
      val got = spark.sql("SELECT count(*) c, count(distinct event_id) d FROM tail_ts").collect().head
      assert(got.getLong(0) === got.getLong(1))
      assert(got.getLong(0) >= 990 && got.getLong(0) <= 1000)
    } finally q.stop()
  }

  test("non-string/timestamp columns (date, decimal, binary) survive the tail") {
    TailHarness.stage(spark.sql(
      """SELECT id,
        |  DATE'2024-01-01' + make_interval(0,0,0,CAST(id AS INT)) AS d,
        |  CAST(id AS DECIMAL(10,2)) / 3 AS m,
        |  encode(CAST(id AS STRING), 'UTF-8') AS payload
        |FROM range(0, 50)""".stripMargin), url, "ST_TYPED")
    val out = spark.readStream
      .format("graft.streaming.KeysetTailProvider")
      .option("url", url).option("dbtable", "ST_TYPED")
      .option("updateColumn", "id")
      .option("maxRowsPerBatch", "20")
      .load()
    val q = out.writeStream.format("memory").queryName("tail_typed")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT count(*) c, count(distinct id) u,
          |  sum(CAST(decode(payload, 'UTF-8') AS LONG)) pay_sum,
          |  max(d) dmax, sum(m) msum
          |FROM tail_typed""".stripMargin).collect().head
      assert(got.getLong(0) === 50 && got.getLong(1) === 50)
      assert(got.getLong(2) === (0 until 50).sum)
      assert(got.getDate(3).toString === "2024-02-19")
      assert(got.getDecimal(4).compareTo(new java.math.BigDecimal("408.333333")) === 0)
    } finally q.stop()
  }

  test("checkpoint recovery resumes from the committed offset (at-least-once)") {
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val outDir = Files.createTempDirectory("graft_sink").toString
    def run(): Unit = {
      val out = spark.readStream
        .format("graft.streaming.KeysetTailProvider")
        .option("url", url).option("dbtable", eventsMicro)
        .option("updateColumn", "event_id")
        .option("maxRowsPerBatch", "250")
        .load()
      val q = out.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0)).start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // full drain
    run() // restart: must resume at the end, not re-emit
    val got = spark.read.parquet(outDir)
    assert(got.count() === 1000)
    assert(got.select("event_id").distinct().count() === 1000)
  }

  test("mid-stream kill + restart: resumes from the offset log, no gaps, source growth picked up") {
    // own staged table so appending growth can't disturb other tests
    TailHarness.stage(spark.range(0, 1000).selectExpr("id AS event_id", "id * 2 AS v"),
      url, "ST_GROW")
    val ckpt = Files.createTempDirectory("graft_ckpt2").toString
    val outDir = Files.createTempDirectory("graft_sink2").toString
    def stream() = spark.readStream
      .format("graft.streaming.KeysetTailProvider")
      .option("url", url).option("dbtable", "ST_GROW")
      .option("updateColumn", "event_id")
      .option("maxRowsPerBatch", "100")
      .load()
    // slow trigger so the query is reliably mid-stream when killed
    val q1 = stream().writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(500)).start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!q1.recentProgress.exists(_.numInputRows > 0) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(q1.recentProgress.exists(_.numInputRows > 0), "no batch committed before kill")
    } finally q1.stop() // kill mid-stream: offset log holds a partial position
    val sofar = spark.read.parquet(outDir).count()
    assert(sofar >= 100, s"expected at least one 100-row page, got $sofar")
    // the table keeps growing while the consumer is down (tail semantics)
    spark.range(1000, 1200).selectExpr("id AS event_id", "id * 2 AS v")
      .write.mode("append").jdbc(url, "ST_GROW", new java.util.Properties())
    val q2 = stream().writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0)).start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir)
    // no gaps: every id delivered exactly once through the recovered offset
    // (file sink + offset log give effective exactly-once here; the source
    // contract itself is at-least-once)
    assert(got.select("event_id").distinct().count() === 1200)
    assert(got.count() === 1200)
  }

  test("kill at a page boundary inside a tie group: value-delimited batches lose NOTHING on restart") {
    // NON-UNIQUE update column with the page boundary splitting a tie
    // group: upd values 1,2,2,2,3,4 and a 2-row page limit put the
    // serialized boundary ("2") in the middle of three upd=2 rows. The
    // reference's row-limit paging would SKIP the other two on resume
    // (strict `>` past a row-limited page, in_sql.rb:131). The streaming
    // provider instead delimits each
    // micro-batch by the boundary VALUE — planInputPartitions takes every
    // row in (start, end] — so a tie group always travels whole and a
    // crash-restart at the boundary is exactly-once with NO skipped rows:
    // the deliberate improvement over the reference, pinned here.
    TailHarness.stage(spark.createDataFrame(Seq(
        (10L, 1L), (20L, 2L), (21L, 2L), (22L, 2L), (30L, 3L), (40L, 4L)))
      .toDF("id", "upd"), url, "ST_TIES")
    val ckpt = Files.createTempDirectory("graft_ckpt3").toString
    val outDir = Files.createTempDirectory("graft_sink3").toString
    def stream() = spark.readStream
      .format("graft.streaming.KeysetTailProvider")
      .option("url", url).option("dbtable", "ST_TIES")
      .option("updateColumn", "upd")
      .option("maxRowsPerBatch", "2")
      .load()
    // Trigger.Once = exactly one micro-batch, then the query dies — the
    // controlled stand-in for a crash right after batch 0's offset commit
    val q1 = stream().writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.Once()).start()
    q1.awaitTermination(30000)
    val afterKill = spark.read.parquet(outDir).select("id", "upd").collect()
    // the 2-row PAGE chose boundary "2"; the BATCH carries the whole
    // <= 2 value range, so all three tie rows arrive together
    assert(afterKill.length === 4, afterKill.mkString(","))
    assert(afterKill.map(_.getLong(1)).sorted.toSeq === Seq(1L, 2L, 2L, 2L))
    // the offset log carries the boundary as the SERIALIZED STRING "2" —
    // the reference's state-file form, not a binary value
    val offset0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ckpt, "offsets", "0")))
    assert(offset0.contains("\"last\":\"2\""), offset0)
    // restart from the offset log: strict > '2' resumes at upd=3; nothing
    // is replayed and nothing was lost
    val q2 = stream().writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0)).start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir).select("id", "upd").collect()
    assert(got.length === 6, got.mkString(","))
    assert(got.map(_.getLong(0)).distinct.length === 6)
    assert(got.map(_.getLong(1)).sorted.toSeq === Seq(1L, 2L, 2L, 2L, 3L, 4L))
  }
}

/** The batch/cron run: `Trigger.AvailableNow` on `keyset-tail-multi`.
  * Each run drains every live table up to its `MAX(upd)` at run start in
  * `select_limit` pages and stops by itself; the checkpoint's offset log is
  * the reference's `state_file` (`in_sql.rb:255-278, 280-307`). */
class RunnerSpec extends SparkSpecBase {
  private val cc = ConnectionConfig(adapter = "derby",
    database = "memory:graftrun;create=true")

  private def exec(sql: String): Unit = {
    val c = java.sql.DriverManager.getConnection(cc.jdbcUrl)
    try { val s = c.createStatement(); try s.execute(sql) finally s.close() }
    finally c.close()
  }

  /** Rows `(id, id / 7)` into a `(id, upd)` table. */
  private def insert(table: String, ids: Seq[Long]): Unit = {
    val c = java.sql.DriverManager.getConnection(cc.jdbcUrl)
    try {
      val ps = c.prepareStatement(s"INSERT INTO $table VALUES (?, ?)")
      ids.foreach { i => ps.setLong(1, i); ps.setLong(2, i / 7); ps.executeUpdate() }
    } finally c.close()
  }

  private def table(name: String, ids: Seq[Long]): Unit = {
    exec(s"CREATE TABLE $name (id BIGINT NOT NULL PRIMARY KEY, upd BIGINT)")
    insert(name, ids)
  }

  /** One cron run to its own end: `(batchId, tag, record)` per emitted row.
    * `onBatch` runs inside each batch, after its rows are collected. */
  private def run(cfg: InputConfig, cp: String, onBatch: Long => Unit = _ => ())
      : Seq[(Long, String, Map[String, String])] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Map[String, String])]()
    val q = KeysetTail.multiReader(spark, cc, cfg).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        b.collect().foreach(r => got.add((id, r.getString(0), r.getMap[String, String](1).toMap)))
        onBatch(id)
      }
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "an AvailableNow run must end by itself")
    finally q.stop()
    assert(q.exception.isEmpty, q.exception)
    got.asScala.toSeq
  }

  private def ids(rows: Seq[(Long, String, Map[String, String])]): Seq[Long] =
    rows.map(_._3("ID").toLong).sorted

  private def latestOffset(cp: String): String = {
    val latest = Files.list(java.nio.file.Paths.get(cp, "offsets")).iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    new String(Files.readAllBytes(latest), "UTF-8")
  }

  private def cfg(limit: Int, tables: String*): InputConfig =
    InputConfig(tables.map(t => SourceTableConfig(t, updateColumn = Some("id"))),
      tagPrefix = Some("db"), selectLimit = limit)

  test("poll cycle: page, emit, then state update; drain to exhaustion") {
    table("run_a", 1L to 130L)
    val cp = Files.createTempDirectory("graft_run_a").toString
    val got = run(cfg(40, "run_a"), cp)
    assert(ids(got) === (1L to 130L)) // every row exactly once
    assert(got.map(_._2).toSet === Set("db.run_a"))
    val batches = got.groupBy(_._1).values.map(_.size)
    assert(batches.size >= 3 && batches.forall(_ <= 40), batches)
    // the state: the last committed offset holds the final boundary
    assert(latestOffset(cp).contains("\"db.run_a\":\"130\""), latestOffset(cp))
  }

  test("state file persists across runners (in_sql.rb:280-307) — resume, not replay") {
    table("run_b", 1L to 100L)
    val cp = Files.createTempDirectory("graft_run_b").toString
    // rows written while the run is under way lie past its target: they
    // wait for the next run instead of keeping this one alive
    val first = run(cfg(40, "run_b"), cp,
      onBatch = id => if (id == 0) insert("run_b", 101L to 110L))
    assert(ids(first) === (1L to 100L))
    assert(ids(run(cfg(40, "run_b"), cp)) === (101L to 110L)) // resumed, once
    assert(run(cfg(40, "run_b"), cp).isEmpty)                 // drained
  }

  test("per-table fault isolation (in_sql.rb:233-243, 272-275)") {
    table("run_ok", 1L to 50L)
    table("run_gone", 1L to 50L)
    val cp = Files.createTempDirectory("graft_run_iso").toString
    // run_never fails init and is dropped; run_gone's polls fail from
    // batch 1 on and it is held — neither keeps the run from ending
    val got = run(cfg(10, "run_ok", "run_gone", "run_never"), cp,
      onBatch = id => if (id == 0) exec("DROP TABLE run_gone"))
    val byTag = got.groupBy(_._2)
    assert(byTag.keySet === Set("db.run_ok", "db.run_gone"))
    assert(ids(byTag("db.run_ok")) === (1L to 50L))
    assert(ids(byTag("db.run_gone")) === (1L to 10L))
    assert(latestOffset(cp).contains("\"db.run_gone\":\"10\""), latestOffset(cp))
  }

  test("keyset-tail under AvailableNow drains to the run-start target in pages, then resumes") {
    table("run_single", 1L to 130L)
    val cp = Files.createTempDirectory("graft_run_single").toString
    def runSingle(): Seq[Long] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.format("keyset-tail")
        .option("url", cc.jdbcUrl).option("dbtable", "run_single")
        .option("updateColumn", "id").option("maxRowsPerBatch", "40")
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r => got.add(r.getLong(0)))
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000), "an AvailableNow run must end by itself")
      finally q.stop()
      assert(q.exception.isEmpty, q.exception)
      got.asScala.toSeq.sorted
    }
    // each run pages through everything present at its start (40-row
    // pages), not one page per run
    assert(runSingle() === (1L to 130L))
    insert("run_single", 131L to 150L)
    assert(runSingle() === (131L to 150L))
    assert(runSingle().isEmpty)
  }

  test("select_limit <= 0: one AvailableNow batch per run, tie groups whole") {
    // 1000 rows in tie groups of 7 on upd (values 0..142); select_limit 0
    // disables paging (in_sql.rb:52): each run reads (last, target] whole
    table("run_ties", 0L until 1000L)
    val c = InputConfig(Seq(SourceTableConfig("run_ties", updateColumn = Some("upd"))),
      selectLimit = 0)
    val cp = Files.createTempDirectory("graft_run_ties").toString
    val first = run(c, cp, onBatch = id => if (id == 0) insert("run_ties", 1001L to 1014L))
    assert(first.map(_._1).distinct.size === 1)
    assert(ids(first) === (0L until 1000L))
    assert(latestOffset(cp).contains("\"run_ties\":\"142\""), latestOffset(cp))
    // the next run takes the rows past the old target (upd 143, 144), once
    assert(ids(run(c, cp)) === (1001L to 1014L))
  }
}
