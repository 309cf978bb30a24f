package graft

import java.sql.DriverManager

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Tables
import graft.streaming.{KeysetMultiMicroBatchStream, KeysetMultiOffset, KeysetRange}

/** Round-11 guards: the keyset-tail streaming source over JDBC (the
  * reference's actual RDBMS-tail scenario, `in_sql.rb:129-135`),
  * constant-size driver state for `limit <= 0` polls, pinned offset bytes,
  * and the fail-loud start-offset parse. */
class Round11OpsSpec extends SparkSpecBase {
  private val url = "jdbc:derby:memory:graftdb11;create=true"
  private val noProps = new java.util.Properties()

  private def exec(sql: String): Unit = {
    val c = DriverManager.getConnection(url)
    try { val s = c.createStatement(); try s.execute(sql) finally s.close() }
    finally c.close()
  }

  private val rubyFmt = graft.core.RubyStrftime.DefaultRubyFormat

  test("keyset-tail offset JSON keeps its bytes over BIGINT and TIMESTAMP rows") {
    spark.range(0, 1000).selectExpr("id AS event_id", "id * 2 AS v")
      .write.mode("append").jdbc(url, "R11_EVENTS", noProps)
    // the offsets the single-table stream wrote before it became the
    // multi-table stream over one table, byte for byte: 4 pages
    // (300/300/300/100) then an unchanged-offset empty poll
    def offsets(stream: KeysetMultiMicroBatchStream, polls: Int): Seq[String] =
      try Iterator.iterate(stream.initialOffset())(TailHarness.poll(stream, _))
        .take(polls + 1).map(_.json()).toSeq
      finally stream.stop()
    assert(offsets(TailHarness.tail(url, "R11_EVENTS", "event_id", 300), 5) === Seq(
      """{"last":null}""", """{"last":"299"}""", """{"last":"599"}""",
      """{"last":"899"}""", """{"last":"999"}""", """{"last":"999"}"""))
    exec("CREATE TABLE R11_TS_OFFS (id BIGINT, created_at TIMESTAMP)")
    (0 until 120).foreach(i => exec(s"INSERT INTO R11_TS_OFFS VALUES ($i, " +
      f"TIMESTAMP('2024-03-01 10:${i / 60}%02d:${i % 60}%02d.${i * 7919 % 1000000}%06d'))"))
    assert(offsets(TailHarness.tail(url, "R11_TS_OFFS", "created_at", 50,
        "timeFormat" -> "%Y-%m-%d %H:%M:%S.%6N"), 4) === Seq(
      """{"last":null}""", """{"last":"2024-03-01 10:00:49.388031"}""",
      """{"last":"2024-03-01 10:01:39.783981"}""",
      """{"last":"2024-03-01 10:01:59.942361"}""",
      """{"last":"2024-03-01 10:01:59.942361"}"""))
  }

  test("JDBC sub-range partitions carry only serialized bounds; readers fetch executor-side") {
    val jdbcSchema = spark.read.jdbc(url, "R11_EVENTS", noProps).schema
    val jd = TailHarness.tail(url, "R11_EVENTS", "event_id", 1000)
    val o0 = jd.initialOffset()
    val o1 = TailHarness.poll(jd, o0)
    val parts = jd.planInputPartitions(o0, o1)
    assert(parts.length === 2) // 1000-row page / RowsPerRange (500) per range
    parts.foreach { p =>
      val jp = p.asInstanceOf[KeysetRange]
      // serialized bound strings only — no rows, no typed payloads
      jp.productIterator.foreach(f => assert(!f.isInstanceOf[org.apache.spark.sql.Row]))
      assert(jp.query.startsWith("SELECT "))
    }
    // constant payload as the page grows 10x (drop the batch cap to compare
    // the same partition shape): bounds are strings, not row sets
    def payload(stream: KeysetMultiMicroBatchStream): Int = {
      val s = stream.initialOffset()
      val e = TailHarness.poll(stream, s)
      val part = stream.planInputPartitions(s, e).head
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(part); oos.close(); bos.size()
    }
    val small = payload(TailHarness.tail(url, "R11_EVENTS", "event_id", 100))
    val big = payload(TailHarness.tail(url, "R11_EVENTS", "event_id", 1000))
    assert(big < small * 2 + 1024, s"JDBC partition payload grew with the page: $small -> $big")
    // executor-side fetch path: readers return exactly the planned batch
    val idIdx = jdbcSchema.fieldIndex(jdbcSchema.fields.map(_.name)
      .find(_.equalsIgnoreCase("event_id")).get)
    val got = TailHarness.read(jd, parts.toSeq).flatten.map(_.getLong(idIdx))
    assert(got.length === 1000 && got.toSet === (0L until 1000L).toSet)
  }

  test("streaming tail over JDBC end-to-end via format(keyset-tail) — the reference's RDBMS scenario") {
    exec("CREATE TABLE R11_E2E (event_id BIGINT, payload VARCHAR(20))")
    val c = DriverManager.getConnection(url)
    try {
      val ps = c.prepareStatement("INSERT INTO R11_E2E VALUES (?, ?)")
      (0 until 700).foreach { i =>
        ps.setLong(1, i.toLong); ps.setString(2, s"p$i"); ps.executeUpdate()
      }
    } finally c.close()
    val out = spark.readStream.format("keyset-tail")
      .option("url", url).option("dbtable", "R11_E2E")
      .option("updateColumn", "event_id")
      .option("maxRowsPerBatch", "200")
      .load()
    val q = out.writeStream.format("memory").queryName("r11_jdbc_tail")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT count(*) c, count(distinct event_id) d FROM r11_jdbc_tail").collect().head
      assert(got.getLong(0) === 700 && got.getLong(1) === 700)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4) // ceil(700/200) pages
    } finally q.stop()
  }

  test("JDBC tie-group crash e2e: value-delimited batches lose nothing on restart") {
    // same shape as the parquet twin (StreamingSpec): upd 1,2,2,2,3,4 with a
    // 2-row page puts the serialized boundary '2' inside the tie group
    exec("CREATE TABLE R11_TIES (id BIGINT, upd BIGINT)")
    exec("INSERT INTO R11_TIES VALUES (10,1),(20,2),(21,2),(22,2),(30,3),(40,4)")
    val ckpt = java.nio.file.Files.createTempDirectory("r11_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("r11_sink").toString
    def stream() = spark.readStream.format("keyset-tail")
      .option("url", url).option("dbtable", "R11_TIES")
      .option("updateColumn", "upd").option("maxRowsPerBatch", "2")
      .load()
    val q1 = stream().writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.Once()).start()
    q1.awaitTermination(30000)
    val afterKill = spark.read.parquet(outDir).collect()
    assert(afterKill.length === 4, afterKill.mkString(","))
    val offset0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ckpt, "offsets", "0")))
    assert(offset0.contains("\"last\":\"2\""), offset0)
    val q2 = stream().writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0)).start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir)
    assert(got.count() === 6)
    assert(got.select("ID").distinct().count() === 6)
  }

  test("JDBC timestamp update column: serialized boundaries round-trip through the DB's cast") {
    // Derby accepts 'yyyy-MM-dd HH:mm:ss.ffffff' string comparisons but NOT
    // a %z zone suffix — the tail uses a zone-less time format (the
    // reference's time_format is per-table config, in_sql.rb:64-66)
    val fmt = "%Y-%m-%d %H:%M:%S.%6N"
    exec("CREATE TABLE R11_TS (id BIGINT, created_at TIMESTAMP)")
    val c = DriverManager.getConnection(url)
    try {
      val ps = c.prepareStatement("INSERT INTO R11_TS VALUES (?, ?)")
      (0 until 120).foreach { i =>
        ps.setLong(1, i.toLong)
        ps.setTimestamp(2, java.sql.Timestamp.valueOf(f"2024-03-01 10:${i / 60}%02d:${i % 60}%02d"))
        ps.executeUpdate()
      }
    } finally c.close()
    val out = spark.readStream.format("keyset-tail")
      .option("url", url).option("dbtable", "R11_TS")
      .option("updateColumn", "created_at")
      .option("maxRowsPerBatch", "50").option("timeFormat", fmt)
      .load()
    val q = out.writeStream.format("memory").queryName("r11_ts_tail")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT count(*) c, count(distinct id) d FROM r11_ts_tail").collect().head
      assert(got.getLong(0) === 120 && got.getLong(1) === 120)
    } finally q.stop()
  }

  test("limit <= 0 poll: driver holds O(partition cap) cut values, never O(rows) or O(distinct)") {
    // near-unique update column (the reference's PK default, in_sql.rb:107)
    // with the page limit DISABLED: the round-10 histogram would have put
    // 5000 (value, count) rows on the driver; the cut pass holds at most
    // 2 x defaultParallelism values
    TailHarness.stage(spark.range(0, 5000).selectExpr("id AS event_id", "id * 2 AS v"),
      url, "R11_NOLIMIT")
    val schema = spark.read.jdbc(url, "R11_NOLIMIT", noProps).schema
    val stream = TailHarness.tail(url, "R11_NOLIMIT", "event_id", maxRowsPerBatch = 0)
    assert(stream.getDefaultReadLimit === ReadLimit.allAvailable())
    val o0 = stream.initialOffset()
    val o1 = stream.latestOffset(o0, ReadLimit.allAvailable())
    assert(TailHarness.last(o1) === Some("4999"))
    val parts = stream.planInputPartitions(o0, o1)
    // 5000/500 would want 10 ranges; the parallelism cap binds
    val cap = spark.sparkContext.defaultParallelism
    assert(parts.length === math.min(cap, 10), s"expected the $cap-range cap, got ${parts.length}")
    val idIdx = schema.fieldIndex("event_id")
    val got = TailHarness.read(stream, parts.toSeq).flatten.map(_.getLong(idIdx))
    assert(got.length === 5000 && got.toSet === (0L until 5000L).toSet)
    stream.stop()
  }

  test("unparseable START offset fails loudly instead of replaying from the beginning") {
    TailHarness.stage(Tables.events(spark, sf0001).limit(50), url, "R11_BADSTART")
    // zone-less: Derby's timestamp cast rejects a zone suffix
    val stream = TailHarness.tail(url, "R11_BADSTART", "ts", 20,
      "timeFormat" -> "%Y-%m-%d %H:%M:%S.%6N")
    val o0 = stream.initialOffset()
    val o1 = TailHarness.poll(stream, o0)
    assert(TailHarness.last(o1).isDefined)
    // a checkpoint written under a different timeFormat does not parse —
    // the round-10 code silently dropped it (unbounded replay); now: error
    val bad = TailHarness.at(Some("not-a-timestamp"))
    val e = intercept[RuntimeException](stream.planInputPartitions(bad, o1))
    assert(e.getMessage.contains("start offset") && e.getMessage.contains("R11_BADSTART"),
      e.getMessage)
    // polling from it fails the same way instead of holding the table
    val ep = intercept[RuntimeException](TailHarness.poll(stream, bad))
    assert(ep.getMessage.contains("start offset") && ep.getMessage.contains("R11_BADSTART"),
      ep.getMessage)
    // the end boundary guard still fires too
    val e2 = intercept[RuntimeException](stream.planInputPartitions(o0, bad))
    assert(e2.getMessage.contains("end boundary"), e2.getMessage)
    stream.stop()
  }

  test("flagship loop: JDBC keyset tail -> route -> keyed upsert; a FULL replay is a no-op") {
    import graft.core.{OutputConfig, SinkTableConfig}
    // the reference's whole pipeline (in_sql.rb poll -> tag -> out_sql.rb
    // route/write) as one streaming query, RDBMS to RDBMS. Source written
    // by Spark (quoted lower-case identifiers — the mapping is
    // case-sensitive like the reference's record keys).
    Tables.events(spark, sf0001).limit(300)
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("append").jdbc(url, "R11_LOOP_SRC", noProps)
    exec("CREATE TABLE R11_MONEY (id BIGINT NOT NULL PRIMARY KEY, tag VARCHAR(50), amount DOUBLE)")
    exec("CREATE TABLE R11_REST (id BIGINT NOT NULL PRIMARY KEY, tag VARCHAR(50), amount DOUBLE)")
    val cfg = OutputConfig(
      routes = Seq(SinkTableConfig("{purchase,error}", "R11_MONEY", "event_id:id,tag,value:amount")),
      defaultTable = SinkTableConfig("", "R11_REST", "event_id:id,tag,value:amount"),
      removeTagPrefix = Some("db"))
    def run(): Unit = {
      val cp = java.nio.file.Files.createTempDirectory("r11_loop_cp").toString
      val stream = spark.readStream.format("keyset-tail")
        .option("url", url).option("dbtable", "R11_LOOP_SRC")
        .option("updateColumn", "event_id").option("maxRowsPerBatch", "120")
        .load()
        .withColumn("tag", concat(lit("db."), col("event_type")))
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.ops.EventOps.routedTables(batch.toDF().repartition(col("tag")), cfg)
            .foreach { case (table, df) =>
              graft.sinks.JdbcSink.idempotentUpsert(
                df.repartition(col("id")), url, table, Seq("id"))
            }
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.ProcessingTime(0)).start()
      try q.processAllAvailable() finally q.stop()
    }
    def snap(t: String) = spark.read.jdbc(url, t, noProps).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.get(2))).toSeq
    run()
    val money1 = snap("R11_MONEY")
    val rest1 = snap("R11_REST")
    assert(money1.size + rest1.size === 300)
    assert(money1.nonEmpty && money1.map(_._2).toSet.subsetOf(Set("purchase", "error")))
    assert(rest1.nonEmpty && rest1.map(_._2).toSet.intersect(Set("purchase", "error")).isEmpty)
    // a FRESH checkpoint replays the source from the beginning; the keyed
    // upsert absorbs every batch again — effective exactly-once end to end
    run()
    assert(snap("R11_MONEY") === money1 && snap("R11_REST") === rest1)
  }

  test("JDBC tail picks up table growth across a checkpointed restart (no replay, no gaps)") {
    exec("CREATE TABLE R11_GROW (id BIGINT, v BIGINT)")
    def insert(from: Int, until: Int): Unit = {
      val c = DriverManager.getConnection(url)
      try {
        val ps = c.prepareStatement("INSERT INTO R11_GROW VALUES (?, ?)")
        (from until until).foreach { i => ps.setLong(1, i.toLong); ps.setLong(2, i * 3L); ps.executeUpdate() }
      } finally c.close()
    }
    insert(0, 250)
    val ckpt = java.nio.file.Files.createTempDirectory("r11_grow_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("r11_grow_out").toString
    def drain(): Unit = {
      val q = spark.readStream.format("keyset-tail")
        .option("url", url).option("dbtable", "R11_GROW")
        .option("updateColumn", "id").option("maxRowsPerBatch", "100")
        .load()
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0)).start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assert(spark.read.parquet(outDir).count() === 250)
    // the table keeps growing while the consumer is down (tail semantics);
    // restart from the offset log resumes strictly after id=249
    insert(250, 400)
    drain()
    val got = spark.read.parquet(outDir)
    assert(got.count() === 400)
    assert(got.select("ID").distinct().count() === 400)
  }

  test("config text drives the streaming tail, schema_search_path honored executor-side") {
    import graft.core.ConfigText
    // the reference's <source> section, verbatim shape (in_sql.rb:28-66),
    // pointing at a NON-default schema — same table name exists in the
    // default schema with poison rows, so resolution must follow the path
    exec("CREATE SCHEMA TAILSCHEMA")
    exec("CREATE TABLE TAILSCHEMA.readings (id BIGINT, v BIGINT)")
    exec("CREATE TABLE readings (id BIGINT, v BIGINT)")
    exec("INSERT INTO readings VALUES (999, -1)") // default-schema poison
    val c = DriverManager.getConnection(url)
    try {
      val ps = c.prepareStatement("INSERT INTO TAILSCHEMA.readings VALUES (?, ?)")
      (0 until 90).foreach { i => ps.setLong(1, i.toLong); ps.setLong(2, i * 2L); ps.executeUpdate() }
    } finally c.close()
    val in = ConfigText.parseInput(
      """<source>
        |  select_limit 40
        |  <table>
        |    table readings
        |    update_column id
        |  </table>
        |</source>""".stripMargin)
    val cc = graft.core.ConnectionConfig(adapter = "derby",
      database = "memory:graftdb11;create=true",
      schemaSearchPath = Some("TAILSCHEMA"))
    val t = in.tables.head
    assert(t.resolvedTag(in.tagPrefix) === "readings") // tag defaults to table name
    // select_interval (default 60 s) maps onto the trigger
    assert(graft.streaming.KeysetTail.trigger(in) ===
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(60000L))
    val q = graft.streaming.KeysetTail.reader(spark, cc, t, in.selectLimit).load()
      .writeStream.format("memory").queryName("r11_cfg_tail")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT count(*) c, count(distinct id) d, max(id) m, min(v) mv FROM r11_cfg_tail")
        .collect().head
      // 90 schema rows, zero poison rows from the default schema
      assert(got.getLong(0) === 90 && got.getLong(1) === 90)
      assert(got.getLong(2) === 89 && got.getLong(3) === 0)
    } finally q.stop()
  }

  test("offset JSON: any string boundary round-trips on ONE line (offset log is line-oriented)") {
    val rnd = new scala.util.Random(7)
    val alphabet = "ab\"\\\n\r\té世 _".toCharArray
    val values = Seq("", "\\n", "\\", "\"", "a\nb", "\r\n", "\\\"", "\\\\n") ++
      (1 to 200).map(_ => (1 to rnd.nextInt(12)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    values.foreach { v =>
      val o = TailHarness.at(Some(v))
      val j = o.json()
      assert(!j.contains('\n') && !j.contains('\r'), s"offset json not single-line for ${v.toList}")
      assert(KeysetMultiOffset.fromJson(j) === o, s"round-trip failed for ${v.toList}: $j")
    }
    assert(KeysetMultiOffset.fromJson(TailHarness.at(None).json()) === TailHarness.at(None))
    // golden bytes: the offset log written by earlier checkpoints must
    // keep parsing, and new offsets must keep their exact form
    Seq(
      "" -> """{"last":""}""",
      "\\n" -> """{"last":"\\n"}""",
      "\\" -> """{"last":"\\"}""",
      "\"" -> """{"last":"\""}""",
      "a\nb" -> """{"last":"a\nb"}""",
      "\r\n" -> """{"last":"\r\n"}""",
      "\\\"" -> """{"last":"\\\""}""",
      "\\\\n" -> """{"last":"\\\\n"}"""
    ).foreach { case (v, golden) =>
      assert(TailHarness.at(Some(v)).json() === golden, s"offset bytes changed for ${v.toList}")
      assert(KeysetMultiOffset.fromJson(golden) === TailHarness.at(Some(v)), golden)
    }
    assert(TailHarness.at(None).json() === """{"last":null}""")
    assert(KeysetMultiOffset.fromJson("""{"last":null}""") === TailHarness.at(None))
  }

  test("index introspection: keyset page prerequisite detectable per README.md:100-102") {
    exec("CREATE TABLE R11_IDX (id BIGINT NOT NULL PRIMARY KEY, v BIGINT)")
    exec("CREATE TABLE R11_NOIDX (id BIGINT, v BIGINT)")
    exec("CREATE INDEX r11_v_idx ON R11_NOIDX (v, id)")
    import graft.sources.JdbcSource
    // PK index leads with id
    assert(JdbcSource.hasIndexOn(url, "R11_IDX", "id") === Some(true))
    // id only appears as the SECOND column of (v, id): not a keyset index
    assert(JdbcSource.hasIndexOn(url, "R11_NOIDX", "id") === Some(false))
    assert(JdbcSource.hasIndexOn(url, "R11_NOIDX", "v") === Some(true))
    // unanswerable catalogs (nonexistent table) stay None-silent
    assert(JdbcSource.hasIndexOn(url, "R11_NOPE", "id").getOrElse(false) === false)
  }

  test("string update column: cuts fan out, nasty values survive the offset JSON") {
    // the cut pass over a VARCHAR update column AND the offset serializer
    // against keys holding quotes/backslashes/unicode
    val nasty = Seq("\"quoted\"", "back\\slash", "uni·é世", "space key", "tab\tkey")
    val keys = (0 until 900).map(i => f"key_$i%04d") ++ nasty.map("zz_" + _)
    exec("CREATE TABLE R11_STR (k VARCHAR(40), v BIGINT)")
    val c = DriverManager.getConnection(url)
    try {
      val ps = c.prepareStatement("INSERT INTO R11_STR VALUES (?, ?)")
      keys.zipWithIndex.foreach { case (k, i) =>
        ps.setString(1, k); ps.setLong(2, i.toLong); ps.executeUpdate() }
    } finally c.close()
    val stream = TailHarness.tail(url, "R11_STR", "k", maxRowsPerBatch = 600)
    val o0 = stream.initialOffset()
    val o1 = TailHarness.poll(stream, o0)
    val parts1 = stream.planInputPartitions(o0, o1)
    assert(parts1.length > 1, "cuts should fan the 600-row page out")
    val o2 = TailHarness.poll(stream, o1)
    // the final boundary is a nasty key; it must round-trip the JSON offset
    assert(TailHarness.last(o2) === Some("zz_uni·é世"), o2.json())
    assert(KeysetMultiOffset.fromJson(o2.json()) === o2)
    // batch 2 planned from the replayed JSON string delivers exactly the rest
    val replayed = stream.deserializeOffset(o1.json())
    val got = TailHarness.read(stream, (stream.planInputPartitions(o0, o1) ++
        stream.planInputPartitions(replayed, o2)).toSeq).flatten.map(_.getUTF8String(0).toString)
    assert(got.length === 905 && got.toSet === keys.toSet)
    stream.stop()
  }

  test("texttiling kernel dots equal the relational explode-per-gap referee") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val kernel = docs.select(col("doc_id"),
        org.apache.spark.sql.functions.posexplode(
          graft.functions.TextTilingDots.of(col("text"), 10, 2)).as(Seq("g0", "dot")))
      .select(col("doc_id"), (col("g0") + 1).as("gap"), col("dot"))
      .orderBy("doc_id", "gap").collect().toSeq
    val relational = Referees
      .textTilingRelationalDots(docs, "doc_id", "text", w = 10, k = 2)
      .orderBy("doc_id", "gap").collect().toSeq
    assert(kernel.nonEmpty && kernel === relational)
    // degenerate inputs: < 2 segments -> no gaps; empty/short text -> none
    val tiny = spark.createDataFrame(Seq((1L, "only nine tokens a b c d e f"),
      (2L, ""), (3L, (1 to 25).map(i => s"t$i").mkString(" ")))).toDF("doc_id", "text")
    val t = tiny.select(col("doc_id"),
        org.apache.spark.sql.functions.explode(
          graft.functions.TextTilingDots.of(col("text"), 10, 2)).as("dot"))
      .groupBy("doc_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t === Map(3L -> 2L)) // 25 tokens -> 3 segments -> 2 gaps
  }

  test("keyframes: every planted hard cut detected, no false cuts elsewhere") {
    val out = graft.ops.Multimodal.keyframes(
        Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.nonEmpty)
    def plantedCut(doc: Long, f: Long): Boolean = doc % 3 == 0 && f == 1 + doc % 5
    // every planted cut frame is a keyframe (min measured margin 13 at
    // sf0.001 vs normal drift max 4 — the threshold sits in the gap)...
    val cuts = out.filter { case (d, f, _, _) => plantedCut(d, f) }
    assert(cuts.nonEmpty && cuts.forall { case (_, _, ham, key) => key && ham >= 10 })
    // ...frame 0 is always a keyframe with sentinel distance...
    assert(out.filter(_._2 == 0L).forall { case (_, _, ham, key) => key && ham == -1L })
    // ...and the only other keyframes are the frame AFTER a cut (shot of
    // length one re-opens) — normal lighting drift never crosses the
    // threshold
    val others = out.filter { case (d, f, _, _) =>
      f > 0 && !plantedCut(d, f) && !plantedCut(d, f - 1) }
    assert(others.forall { case (_, _, ham, key) => !key && ham >= 0 && ham < 10 })
  }
}
