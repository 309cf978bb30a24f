package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._

import graft.sinks.JdbcSink
import graft.sources.{JdbcSource, Tables}

/** JDBC source/sink e2e against embedded Derby (the reference's live-DB
  * tests, `test/plugin/test_out_sql.rb`, minus the network). */
class JdbcSpec extends SparkSpecBase {
  private val url = "jdbc:derby:memory:graftdb;create=true"

  private def withConn[T](f: java.sql.Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def exec(sql: String): Unit = withConn { c =>
    val s = c.createStatement(); try s.execute(sql) finally s.close()
  }

  test("idempotent upsert: replaying a batch is a no-op, changed values update in place") {
    exec("CREATE TABLE ups_t (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(20), n BIGINT)")
    import spark.implicits._
    val b1 = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "v", "n").repartition(2, col("id"))
    JdbcSink.idempotentUpsert(b1, url, "ups_t", Seq("id"))
    def snap() = spark.read.jdbc(url, "ups_t", new java.util.Properties())
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val first = snap()
    assert(first === Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
    // at-least-once replay of the SAME batch: state unchanged, no duplicates
    JdbcSink.idempotentUpsert(b1, url, "ups_t", Seq("id"))
    assert(snap() === first)
    // changed values + one new key: updates in place, inserts the new key
    val b2 = Seq((2L, "B", 21L), (4L, "d", 40L)).toDF("id", "v", "n")
      .repartition(2, col("id"))
    JdbcSink.idempotentUpsert(b2, url, "ups_t", Seq("id"))
    assert(snap() === Seq((1L, "a", 10L), (2L, "B", 21L), (3L, "c", 30L), (4L, "d", 40L)))
  }

  test("batched upsert: intra-partition duplicate keys apply in order (last wins), chunks flush at batchSize") {
    exec("CREATE TABLE ups_dup (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(20))")
    import spark.implicits._
    // ONE partition carrying a duplicate key: the batch must flush before
    // the dup so (1,"first") lands, then (1,"last") UPDATEs it — the exact
    // sequential semantics, now through executeBatch chunks
    val rows = Seq((1L, "first"), (2L, "b"), (1L, "last"), (3L, "c")) ++
      (10L until 40L).map(i => (i, s"v$i")) // > batchSize=8 forces mid-chunk flushes
    val df = rows.toDF("id", "v").coalesce(1)
    JdbcSink.idempotentUpsert(df, url, "ups_dup", Seq("id"), batchSize = 8)
    val got = spark.read.jdbc(url, "ups_dup", new java.util.Properties())
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got.size === 33)
    assert(got.head === ((1L, "last"))) // last occurrence won
    assert(got(1) === ((2L, "b")) && got(2) === ((3L, "c")))
    // replay the whole thing: still idempotent through the batched path
    JdbcSink.idempotentUpsert(df, url, "ups_dup", Seq("id"), batchSize = 8)
    val again = spark.read.jdbc(url, "ups_dup", new java.util.Properties())
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(again === got)
  }

  test("streaming upsert e2e: a FULL source replay leaves the table unchanged") {
    exec("CREATE TABLE s_ups (event_id BIGINT NOT NULL PRIMARY KEY, " +
      "event_type VARCHAR(20), value DOUBLE)")
    TailHarness.stage(Tables.events(spark, sf0001).limit(120)
      .select(col("event_id"), col("event_type"), col("value")), url, "UPS_SRC")
    def run(): Unit = {
      val cp = java.nio.file.Files.createTempDirectory("graft_ups_cp").toString
      val stream = spark.readStream.format("graft.streaming.KeysetTailProvider")
        .option("url", url).option("dbtable", "UPS_SRC").option("updateColumn", "event_id")
        .option("maxRowsPerBatch", "50").load()
        .select(col("event_id"), col("event_type"), col("value"))
      val q = JdbcSink.upsertStream(stream, url, "s_ups", Seq("event_id"))
        .option("checkpointLocation", cp).start()
      try q.processAllAvailable() finally q.stop()
    }
    def snap() = spark.read.jdbc(url, "s_ups", new java.util.Properties())
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    run()
    val first = snap()
    assert(first.size === 120, s"expected 120 upserted rows, got ${first.size}")
    // fresh checkpoint => the source replays EVERY batch from the start;
    // the keyed upsert must absorb the duplicates bit-for-bit
    run()
    assert(snap() === first)
  }

  test("bulk append + keyset page round-trip (in_sql.rb:129-135 / out_sql.rb:104)") {
    exec("CREATE TABLE logs (id BIGINT, message VARCHAR(200), created_at TIMESTAMP)")
    val df = Tables.events(spark, sf0001).limit(50)
      .select(col("event_id").as("id"), col("props").as("message"), col("ts").as("created_at"))
    JdbcSink.bulkAppend(df, url, "logs", batchSize = 16, numPartitions = Some(2))

    val all = spark.read.jdbc(url, "logs", new java.util.Properties())
    assert(all.count() === 50)

    // keyset resume through the tail: page 1 → boundary → page 2, strict >
    // (Derby has no LIMIT: the poll pages with FETCH FIRST)
    val tail = TailHarness.tail(url, "logs", "id", 20) // Derby upper-cases: ID
    val (o1, r1) = TailHarness.batch(tail, tail.initialOffset())
    val p1 = r1.map(_.getLong(0)).sorted
    assert(p1.length === 20)
    val boundary = p1.last
    assert(TailHarness.last(o1) === Some(boundary.toString))
    val p2 = TailHarness.batch(tail, o1)._2.map(_.getLong(0)).sorted
    assert(p2.head === boundary + 1)
    tail.stop()
  }

  test("catalog discovery + PK introspection (in_sql.rb:107-114, 214-230)") {
    exec("CREATE TABLE pk_tbl (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(10))")
    exec("CREATE TABLE composite_tbl (a INT NOT NULL, b INT NOT NULL, PRIMARY KEY (a, b))")
    exec("CREATE TABLE schema_migrations (version VARCHAR(20))")
    val tables = JdbcSource.discoverTables(url).map(_.toLowerCase)
    assert(tables.contains("pk_tbl"))
    assert(!tables.contains("schema_migrations")) // system-table skip
    assert(JdbcSource.primaryKey(url, "PK_TBL") === Some("ID"))
    intercept[IllegalStateException](JdbcSource.primaryKey(url, "COMPOSITE_TBL"))
  }

  test("streaming tail -> routed JDBC sink e2e (out_sql.rb:91-115, 226-237)") {
    import graft.core.{OutputConfig, SinkTableConfig}
    exec("CREATE TABLE t_money (event_id BIGINT, tag VARCHAR(50))")
    exec("CREATE TABLE t_rest (event_id BIGINT, tag VARCHAR(50))")
    val cfg = OutputConfig(
      routes = Seq(SinkTableConfig("{purchase,error}", "t_money", "event_id,tag")),
      defaultTable = SinkTableConfig("", "t_rest", "event_id,tag"),
      removeTagPrefix = Some("db"))

    // stage a tagged copy of events for the keyset tail
    TailHarness.stage(Tables.events(spark, sf0001).limit(200)
      .withColumn("tag", concat(lit("db."), col("event_type"))), url, "ROUTED_SRC")
    val stream = spark.readStream.format("graft.streaming.KeysetTailProvider")
      .option("url", url).option("dbtable", "ROUTED_SRC").option("updateColumn", "event_id")
      .option("maxRowsPerBatch", "75").load()

    val q = JdbcSink.routedStream(stream, cfg, url)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try q.processAllAvailable() finally q.stop()

    val money = spark.read.jdbc(url, "t_money", new java.util.Properties())
    val rest = spark.read.jdbc(url, "t_rest", new java.util.Properties())
    assert(money.count() + rest.count() === 200)
    // routing respects the pattern after the anchored prefix strip
    val moneyTags = money.select("tag").distinct().collect().map(_.getString(0)).toSet
    assert(moneyTags.subsetOf(Set("purchase", "error")) && moneyTags.nonEmpty)
    val restTags = rest.select("tag").distinct().collect().map(_.getString(0)).toSet
    assert(restTags.intersect(Set("purchase", "error")).isEmpty && restTags.nonEmpty)
  }

  test("config-text to pipeline e2e: parse, tail, route, land") {
    import graft.core.ConfigText
    exec("CREATE TABLE events (event_id BIGINT NOT NULL PRIMARY KEY, event_type VARCHAR(20))")
    exec("CREATE TABLE orders (o_orderkey BIGINT NOT NULL PRIMARY KEY, o_custkey BIGINT)")
    JdbcSink.bulkAppend(Tables.events(spark, sf0001).select("event_id", "event_type"),
      url, "events")
    JdbcSink.bulkAppend(Tables.orders(spark, sf0001).select("o_orderkey", "o_custkey"),
      url, "orders")
    exec("CREATE TABLE ev_sink (id BIGINT, tag VARCHAR(50))")
    exec("CREATE TABLE other_sink (id BIGINT, tag VARCHAR(50))")
    val source =
      """<source>
        |  adapter derby
        |  database memory:graftdb;create=true
        |  tag_prefix db
        |  select_limit 300
        |  <table>
        |    table events
        |    update_column event_id
        |  </table>
        |  <table>
        |    table orders
        |    update_column o_orderkey
        |  </table>
        |</source>""".stripMargin
    val in = ConfigText.parseInput(source)
    val out = ConfigText.parseOutput(
      """<match db.**>
        |  remove_tag_prefix db
        |  <table events>
        |    table ev_sink
        |    column_mapping event_id:id,tag
        |  </table>
        |  <table>
        |    table other_sink
        |    column_mapping o_orderkey:id,tag
        |  </table>
        |</match>""".stripMargin)
    // the cron schedule: one AvailableNow run drains both tables and stops;
    // records (Derby upper-cases names) project to the mapped columns
    val total = new java.util.concurrent.atomic.AtomicLong
    val q = graft.streaming.KeysetTail.multiReader(spark,
        ConfigText.parseInputConnection(source), in).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        total.addAndGet(b.count())
        val dead = JdbcSink.writeRouted(b.select(col("tag"),
          col("record")("EVENT_ID").cast("bigint").as("event_id"),
          col("record")("O_ORDERKEY").cast("bigint").as("o_orderkey")), out, url)
        if (dead.nonEmpty) fail(s"dead letters in ${dead.keySet}")
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_cfg_cp").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000)) finally q.stop()
    assert(q.exception.isEmpty, q.exception)
    val ev = spark.read.jdbc(url, "ev_sink", new java.util.Properties())
    val other = spark.read.jdbc(url, "other_sink", new java.util.Properties())
    assert(ev.count() === 1000)      // all events, routed by stripped tag
    assert(other.count() === 1500)   // orders fall through to the default
    assert(total.get === 2500)
    assert(ev.select("tag").distinct().collect().map(_.getString(0)).toSet === Set("events"))
    assert(ev.agg(countDistinct(col("id"))).collect().head.getLong(0) === 1000)
  }

  test("resilient fallback: bad rows dead-letter, good rows land (out_sql.rb:105-136)") {
    exec("CREATE TABLE strict_t (id BIGINT NOT NULL PRIMARY KEY, msg VARCHAR(5))")
    exec("INSERT INTO strict_t VALUES (3, 'dup')") // row 3 will violate the PK
    import spark.implicits._
    val df = Seq((1L, "ok"), (2L, "ok"), (3L, "ok"), (4L, "toolong-value"), (5L, "ok"))
      .toDF("id", "msg").coalesce(1)
    val dead = JdbcSink.resilientAppend(df, url, "strict_t", numRetries = 1, retrySleepMs = 1)
    val deadRows = dead.collect()
    assert(deadRows.length === 2) // PK violation + truncation, both deterministic → no retry
    assert(deadRows.map(_.getString(1)).forall(_.startsWith("deterministic")))
    val landed = spark.read.jdbc(url, "strict_t", new java.util.Properties())
      .select("id").collect().map(_.getLong(0)).toSet
    assert(landed === Set(1L, 2L, 3L, 5L)) // 3 = pre-existing dup row
  }

  test("enable_fallback toggle: false re-raises the bulk failure, true degrades (out_sql.rb:31,107-113)") {
    exec("CREATE TABLE fb_t (id BIGINT NOT NULL PRIMARY KEY, msg VARCHAR(5))")
    exec("INSERT INTO fb_t VALUES (2, 'dup')") // bulk insert will hit the PK
    import spark.implicits._
    val df = Seq((1L, "ok"), (2L, "ok"), (3L, "ok")).toDF("id", "msg").coalesce(1)
    // fallback disabled: the deterministic bulk failure propagates to the
    // caller (the buffer's retry mechanism in the reference)
    val thrown = intercept[Throwable] {
      JdbcSink.appendWithFallback(df, url, "fb_t", enableFallback = false,
        numRetries = 1, retrySleepMs = 1)
    }
    assert(thrown != null)
    // fallback enabled (default): degrades row-wise; only the dup dead-letters
    val dead = JdbcSink.appendWithFallback(df, url, "fb_t",
      numRetries = 1, retrySleepMs = 1)
    assert(dead.isDefined && dead.get.count() === 1)
    val landed = spark.read.jdbc(url, "fb_t", new java.util.Properties())
      .select("id").collect().map(_.getLong(0)).toSet
    assert(landed === Set(1L, 2L, 3L))
  }

  test("schema_search_path: reads, writes, and discovery follow the schema (in_sql.rb:40-41, out_sql.rb:24-25)") {
    import graft.core.{ConnectionConfig, OutputConfig, SinkTableConfig}
    import spark.implicits._
    // same table name in the DEFAULT schema (APP) and the configured one —
    // resolution must pick the search-path schema, not fall back silently
    exec("CREATE SCHEMA INGEST")
    exec("CREATE TABLE sp_logs (id BIGINT NOT NULL PRIMARY KEY, msg VARCHAR(50))")
    exec("CREATE TABLE ingest.sp_logs (id BIGINT NOT NULL PRIMARY KEY, msg VARCHAR(50))")
    exec("INSERT INTO ingest.sp_logs VALUES (1, 'in-schema'), (2, 'in-schema')")
    exec("INSERT INTO sp_logs VALUES (99, 'default-schema')")

    val cc = ConnectionConfig(adapter = "derby",
      database = "memory:graftdb;create=true", schemaSearchPath = Some("INGEST"))
    assert(cc.jdbcUrl === url)
    assert(cc.properties.getProperty("sessionInitStatement") === "SET SCHEMA INGEST")

    // READ: the tail runs sessionInitStatement on every connection it
    // opens (poll, read probe, executor reads), so the unqualified keyset
    // page resolves inside INGEST
    import scala.jdk.CollectionConverters._
    val tail = TailHarness.stream(cc.properties.asScala.toMap ++ Map("url" -> cc.jdbcUrl,
      "dbtable" -> "sp_logs", "updateColumn" -> "id", "maxRowsPerBatch" -> "10"))
    val page = TailHarness.batch(tail, tail.initialOffset())._2
    assert(page.map(_.getLong(0)).toSet === Set(1L, 2L))
    tail.stop()

    // DISCOVERY + PK: metadata connections apply the same init statement
    // and narrow the catalog listing to the session schema
    assert(JdbcSource.discoverTables(cc.jdbcUrl, cc.properties) === Seq("SP_LOGS"))
    assert(JdbcSource.primaryKey(cc.jdbcUrl, "SP_LOGS", cc.properties) === Some("ID"))

    // WRITE: the routed sink qualifies unqualified route tables with the
    // primary schema — rows land in INGEST, never the default schema
    val cfg = OutputConfig(routes = Seq.empty,
      defaultTable = SinkTableConfig("", "sp_logs", "id,msg"))
    val batch = Seq((10L, "routed", "any.tag"), (11L, "routed", "any.tag"))
      .toDF("id", "msg", "tag")
    val dead = JdbcSink.writeRouted(batch, cfg, cc, batchSize = 10)
    assert(dead.isEmpty)
    val inSchema = spark.read.jdbc(url, "INGEST.sp_logs", new java.util.Properties())
      .select("id").collect().map(_.getLong(0)).toSet
    assert(inSchema === Set(1L, 2L, 10L, 11L))
    val inDefault = spark.read.jdbc(url, "sp_logs", new java.util.Properties())
      .select("id").collect().map(_.getLong(0)).toSet
    assert(inDefault === Set(99L)) // untouched
  }
}
