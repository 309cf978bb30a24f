package graft

import org.apache.spark.sql.functions._

/** Round-12 dead-letter surfacing (r11 verdict #8): the upsert path's
  * deterministic-failure fallback and the streaming sinks' first-class
  * dead-letter output. */
class DeadLetterSpec extends SparkSpecBase {
  private val url = "jdbc:derby:memory:graftdl12;create=true"
  private val noProps = new java.util.Properties()

  private def exec(sql: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try { val s = c.createStatement(); try s.execute(sql) finally s.close() }
    finally c.close()
  }

  test("idempotentUpsert: a poisoned row dead-letters while the rest of the chunk commits") {
    exec("CREATE TABLE ups12 (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(5))")
    import spark.implicits._
    val df = Seq((1L, "ok"), (2L, "way-too-long-for-varchar5"), (3L, "ok3"))
      .toDF("id", "v").coalesce(1)
    val dead = graft.sinks.JdbcSink.idempotentUpsert(df, url, "ups12", Seq("id"))
    val deadRows = dead.collect()
    assert(deadRows.length === 1)
    assert(deadRows(0).getString(0).contains("\"id\":2"))
    assert(deadRows(0).getString(1).startsWith("deterministic:"))
    val got = spark.read.jdbc(url, "ups12", noProps)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "ok"), (3L, "ok3")))
    // enableFallback = false restores the raise-to-retry contract
    intercept[Exception] {
      graft.sinks.JdbcSink.idempotentUpsert(df, url, "ups12", Seq("id"),
        enableFallback = false)
    }
  }

  test("idempotentUpsert: an entirely-poisoned batch collects BOUNDED dead letters plus an exact-count overflow marker (r12 verdict #7)") {
    exec("CREATE TABLE ups13cap (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(3))")
    import spark.implicits._
    // every row poisoned: without the cap this collects the whole page
    val df = (1L to 40L).map(i => (i, s"too-long-$i")).toDF("id", "v").coalesce(1)
    // the cap belongs to the partition writer both row-wise paths share
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "idempotentUpsert" -> (() => graft.sinks.JdbcSink.idempotentUpsert(df, url,
        "ups13cap", Seq("id"), maxDeadLettersPerPartition = 5)),
      "resilientAppend" -> (() => graft.sinks.JdbcSink.resilientAppend(df, url,
        "ups13cap", maxDeadLettersPerPartition = 5))
    ).foreach { case (path, write) =>
      val dead = write().collect()
      // 5 materialized + 1 overflow marker — never 40 rows on the driver
      assert(dead.length === 6, s"$path: ${dead.mkString("; ")}")
      val (markers, letters) = dead.partition(_.isNullAt(0))
      assert(letters.length === 5, path)
      assert(letters.forall(_.getString(1).startsWith("deterministic:")), path)
      assert(markers.length === 1, path)
      assert(markers(0).getString(1).contains("35 additional"),
        s"$path: exact suppressed count must be reportable: ${markers(0).getString(1)}")
      assert(spark.read.jdbc(url, "ups13cap", noProps).count() === 0, path)
    }
  }

  test("upsertStream: poisoned record lands in the dead-letter TABLE while the batch commits") {
    exec("CREATE TABLE s12 (event_id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(8))")
    exec("CREATE TABLE dl12 (\"record_json\" VARCHAR(2000), \"error\" VARCHAR(2000), " +
      "\"dest_table\" VARCHAR(64), \"batch_id\" BIGINT)")
    import spark.implicits._
    TailHarness.stage((1L to 40L).map(i => (i, if (i == 17L) "poisoned-too-long" else s"v$i"))
      .toDF("event_id", "v"), url, "DL_SRC")
    val cp = java.nio.file.Files.createTempDirectory("graft_dl_cp").toString
    val stream = spark.readStream.format("keyset-tail")
      .option("url", url).option("dbtable", "DL_SRC").option("updateColumn", "event_id")
      .option("maxRowsPerBatch", "15").load()
    val q = graft.sinks.JdbcSink.upsertStream(stream, url, "s12", Seq("event_id"),
        deadLetterTable = Some("dl12"))
      .option("checkpointLocation", cp).start()
    try q.processAllAvailable() finally q.stop()
    // the batch carrying row 17 COMMITTED minus the poisoned record...
    val landed = spark.read.jdbc(url, "s12", noProps).count()
    assert(landed === 39)
    // ...and the loss is observable in the dead-letter table
    val dl = spark.read.jdbc(url, "dl12", noProps).collect()
    assert(dl.length === 1)
    assert(dl(0).getAs[String]("record_json").contains("\"event_id\":17"))
    assert(dl(0).getAs[String]("dest_table") === "s12")
  }
}
