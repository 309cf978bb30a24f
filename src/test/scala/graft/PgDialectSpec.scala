package graft

import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.ConnectionConfig
import graft.sinks.JdbcSink
import graft.sources.JdbcSource
import graft.testdb.PgShimDriver

/** Second-dialect JDBC e2e (r11 verdict #5): the PostgreSQL-only branches
  * — `currentSchema`/`SET search_path` session init, `timeout` mapped to
  * SECONDS, LIMIT-style paging, PostgresDialect quoted identifiers —
  * driven end-to-end through [[graft.testdb.PgShimDriver]] (Derby behind a
  * `jdbc:postgresql://` URL, so Spark resolves its real PostgresDialect).
  * Connect / page / upsert / tail matrix, mirroring JdbcSpec's Derby rows. */
class PgDialectSpec extends SparkSpecBase {
  PgShimDriver.ensureRegistered()

  private val cc = ConnectionConfig(adapter = "postgresql", host = "localhost",
    database = "pgdb", schemaSearchPath = Some("pgapp"), timeoutMs = Some(4200))
  private val url = cc.jdbcUrl

  private def execPlain(sql: String): Unit = {
    val c = DriverManager.getConnection(url) // no currentSchema: default schema
    try { val s = c.createStatement(); try s.execute(sql) finally s.close() }
    finally c.close()
  }

  // one-time schema + tables (the search path's target must exist first)
  private lazy val fixture: Unit = {
    assert(url === "jdbc:postgresql://localhost/pgdb") // the PG branch of jdbcUrl
    execPlain("CREATE SCHEMA pgapp")
    execPlain("CREATE TABLE pgapp.pgt (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(20))")
    (1 to 30).foreach(i => execPlain(s"INSERT INTO pgapp.pgt VALUES ($i, 'v$i')"))
  }

  test("connect: currentSchema + SET search_path land in the schema; timeout arrives in SECONDS") {
    fixture
    val conn = JdbcSource.connect(url, cc.properties)
    try {
      // pgjdbc takes connect timeouts in seconds: 4200 ms must arrive as 5
      assert(PgShimDriver.lastConnectTimeout === Some("5"))
      assert(PgShimDriver.lastLoginTimeout === Some("5"))
      assert(PgShimDriver.lastCurrentSchema === Some("pgapp"))
      // UNQUALIFIED name resolves through the applied search path
      val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM pgt")
      assert(rs.next() && rs.getLong(1) === 30L)
    } finally conn.close()
  }

  test("page: keyset pages through the PG LIMIT branch (translated at the shim), strict > resume") {
    fixture
    val tail = TailHarness.stream(cc.properties.asScala.toMap ++ Map("url" -> url,
      "dbtable" -> cc.qualify("pgt"), "updateColumn" -> "id", "maxRowsPerBatch" -> "12"))
    PgShimDriver.limitStatements.clear()
    val (o1, r1) = TailHarness.batch(tail, tail.initialOffset())
    val p1 = r1.map(_.getLong(0))
    assert(p1.length === 12)
    val boundary = p1.max
    val p2 = TailHarness.batch(tail, o1)._2.map(_.getLong(0))
    assert(p2.min === boundary + 1) // strict >
    assert(p2.length === 12)
    // the PG URL pages with LIMIT, which the shim translated
    assert(PgShimDriver.limitStatements.asScala.exists(_.contains("LIMIT 12")),
      PgShimDriver.limitStatements)
    tail.stop()
  }

  test("upsert: idempotent keyed upsert against the PG URL, replay is a no-op") {
    fixture
    execPlain("CREATE TABLE pgapp.ups_pg (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(20))")
    import spark.implicits._
    val b = Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
    def snap() = spark.read.jdbc(url, cc.qualify("ups_pg"), cc.properties)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    JdbcSink.idempotentUpsert(b, url, cc.qualify("ups_pg"), Seq("id"))
    assert(snap() === Seq((1L, "a"), (2L, "b")))
    JdbcSink.idempotentUpsert(b, url, cc.qualify("ups_pg"), Seq("id"))
    assert(snap() === Seq((1L, "a"), (2L, "b")))
    JdbcSink.idempotentUpsert(
      Seq((2L, "B2"), (3L, "c")).toDF("id", "v"), url, cc.qualify("ups_pg"), Seq("id"))
    assert(snap() === Seq((1L, "a"), (2L, "B2"), (3L, "c")))
  }

  test("shim double-check: statement failure ABORTS the txn (25P02 until rollback-to-savepoint), like PostgreSQL") {
    fixture
    execPlain("CREATE TABLE pgapp.abort_t (id BIGINT NOT NULL PRIMARY KEY)")
    val conn = JdbcSource.connect(url, cc.properties)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      st.executeUpdate("INSERT INTO abort_t VALUES (1)")
      val sp = conn.setSavepoint()
      intercept[java.sql.SQLException](
        st.executeUpdate("INSERT INTO abort_t VALUES (1)")) // PK violation
      // aborted: even a perfectly valid statement now fails 25P02
      val e = intercept[java.sql.SQLException](
        st.executeUpdate("INSERT INTO abort_t VALUES (2)"))
      assert(e.getSQLState === "25P02", e.getMessage)
      conn.rollback(sp) // un-aborts, preserves work before the savepoint
      st.executeUpdate("INSERT INTO abort_t VALUES (3)")
      conn.commit()
      st.close()
    } finally conn.close()
    val rows = spark.read.jdbc(url, cc.qualify("abort_t"), cc.properties)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(rows === Seq(1L, 3L))
  }

  test("upsert fallback on PG abort semantics: poisoned row dead-letters, REST OF THE BATCH COMMITS (savepoint isolation)") {
    fixture
    execPlain("CREATE TABLE pgapp.ups_dead (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(5) NOT NULL)")
    import spark.implicits._
    // one partition, one transaction: the middle row violates NOT NULL —
    // on PG the first failure aborts the txn, so a non-savepoint replay
    // would fail 25P02 on every subsequent row and retry forever
    val b = Seq((1L, "a"), (2L, null: String), (3L, "c")).toDF("id", "v").coalesce(1)
    val dead = JdbcSink.idempotentUpsert(b, url, cc.qualify("ups_dead"), Seq("id"))
      .collect()
    assert(dead.length === 1, dead.mkString("; "))
    assert(dead(0).getString(0).contains("\"id\":2"))
    val rows = spark.read.jdbc(url, cc.qualify("ups_dead"), cc.properties)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "a"), (3L, "c")), "healthy rows must commit")
    // replay of the same batch stays idempotent AND keeps dead-lettering
    val dead2 = JdbcSink.idempotentUpsert(b, url, cc.qualify("ups_dead"), Seq("id"))
      .collect()
    assert(dead2.length === 1)
    assert(spark.read.jdbc(url, cc.qualify("ups_dead"), cc.properties).count() === 2)
  }

  test("routed-write fallback connects with the caller's properties: connect timeout and currentSchema reach the row-wise path") {
    fixture
    import graft.core.{OutputConfig, SinkTableConfig}
    import spark.implicits._
    execPlain("CREATE TABLE pgapp.fb_pg (id BIGINT NOT NULL PRIMARY KEY, msg VARCHAR(20))")
    execPlain("INSERT INTO pgapp.fb_pg VALUES (2, 'dup')") // the bulk write hits the PK
    val cfg = OutputConfig(routes = Seq.empty,
      defaultTable = SinkTableConfig("", "fb_pg", "id,msg"))
    val batch = Seq((1L, "a", "any.tag"), (2L, "b", "any.tag"), (3L, "c", "any.tag"))
      .toDF("id", "msg", "tag")
    val dead = JdbcSink.writeRouted(batch, cfg, cc, batchSize = 10)
    // the row-wise fallback opened the last connection: it must carry the
    // config's properties, not just credentials
    assert(PgShimDriver.lastConnectTimeout === Some("5"))
    assert(PgShimDriver.lastCurrentSchema === Some("pgapp"))
    assert(dead.keySet === Set(cc.qualify("fb_pg")))
    assert(dead(cc.qualify("fb_pg")).count() === 1) // the duplicate key
    val landed = spark.read.jdbc(url, cc.qualify("fb_pg"), cc.properties)
      .collect().map(_.getLong(0)).toSet
    assert(landed === Set(1L, 2L, 3L))
  }

  test("fetchsize reaches the driver (pgjdbc's cursor-paging prerequisite)") {
    fixture
    val df = spark.read
      .option("fetchsize", "100")
      .jdbc(url, cc.qualify("pgt"), cc.properties)
    assert(df.count() === 30)
    assert(PgShimDriver.lastFetchSize === Some(100),
      s"fetchsize option must reach Statement.setFetchSize, got ${PgShimDriver.lastFetchSize}")
  }

  test("quoted mixed-case identifiers round-trip: PostgresDialect quoting preserves case through write, read, and keyset page") {
    fixture
    import spark.implicits._
    val src = (1 to 9).map(i => (i.toLong, s"m$i")).toDF("Id", "MixedCase")
    val props = cc.properties
    // pre-created: Spark's PG CREATE TABLE emits `TEXT`, which Derby can't
    // parse — the shim translates statements, not DDL type names (FIXTURES)
    execPlain("CREATE TABLE pgapp.mixed_pg (\"Id\" BIGINT, \"MixedCase\" VARCHAR(20))")
    src.write.mode("append").jdbc(url, "pgapp.mixed_pg", props)
    val back = spark.read.jdbc(url, "pgapp.mixed_pg", props)
    // dialect-quoted DDL keeps the EXACT case (Derby unquoted would upcase)
    assert(back.schema.fieldNames.toSeq === Seq("Id", "MixedCase"))
    assert(back.orderBy("Id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === (1 to 9).map(i => (i.toLong, s"m$i")))
    // keyset page over the quoted mixed-case update column (the tail
    // quotes through JdbcDialects.get — this is that path's PG row)
    val tail = TailHarness.stream(props.asScala.toMap ++ Map("url" -> url,
      "dbtable" -> "pgapp.mixed_pg", "updateColumn" -> "Id", "maxRowsPerBatch" -> "3"))
    val page = TailHarness.batch(tail, TailHarness.at(Some("4")))._2
    assert(page.map(_.getLong(0)).sorted === Seq(5L, 6L, 7L))
    tail.stop()
  }

  test("tail: streaming keyset-tail over the PG URL — PostgresDialect quoting, LIMIT paging, resume") {
    fixture
    execPlain("CREATE TABLE pgapp.tail_pg (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(20))")
    (1 to 20).foreach(i => execPlain(s"INSERT INTO pgapp.tail_pg VALUES ($i, 't$i')"))
    val cp = java.nio.file.Files.createTempDirectory("graft_pg_cp").toString
    // foreachBatch sink: the memory sink refuses checkpoint recovery,
    // which the restart half of this test exercises
    def startQuery(sink: java.util.Queue[Long]) =
      spark.readStream.format("keyset-tail")
        .option("url", url).option("dbtable", cc.qualify("tail_pg"))
        .option("updateColumn", "id").option("maxRowsPerBatch", "7")
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r => sink.add(r.getLong(0)))
        }
        .option("checkpointLocation", cp).start()
    val got1 = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q1 = startQuery(got1)
    try {
      q1.processAllAvailable()
      assert(got1.size === 20)
    } finally q1.stop()
    // new rows + restart from the same checkpoint: only the delta arrives
    (21 to 25).foreach(i => execPlain(s"INSERT INTO pgapp.tail_pg VALUES ($i, 't$i')"))
    val got2 = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q2 = startQuery(got2)
    try {
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(got2.asScala.toSet === (21L to 25L).toSet)
    } finally q2.stop()
  }

  test("savepoint isolation is scoped to the abort-on-error dialect CLASS: PG pays it, statement-level-rollback dialects keep the zero-overhead path (ADVICE r13)") {
    import graft.sinks.JdbcSink.abortsTxnOnError
    assert(abortsTxnOnError("jdbc:postgresql://localhost/db"))
    assert(abortsTxnOnError("jdbc:postgresql:db"))
    // Derby/MySQL keep statement-level rollback: a failed statement poisons
    // nothing, so per-chunk setSavepoint/releaseSavepoint round trips on the
    // happy path would be pure overhead
    assert(!abortsTxnOnError("jdbc:derby:memory:x;create=true"))
    assert(!abortsTxnOnError("jdbc:mysql://h/db"))
    assert(!abortsTxnOnError("jdbc:sqlite::memory:"))
  }
}
