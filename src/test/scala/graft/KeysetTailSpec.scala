package graft

import java.sql.DriverManager
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.connector.read.streaming.Offset

import graft.streaming.KeysetJdbc

/** The one keyset tail under both formats: no Spark job per poll or plan,
  * sub-ranges that tile each batch exactly, and named errors for removed
  * or malformed options. */
class KeysetTailSpec extends SparkSpecBase {
  private val url = "jdbc:derby:memory:graftkt;create=true"

  private def exec(sql: String): Unit = {
    val c = DriverManager.getConnection(url)
    try { val s = c.createStatement(); try s.execute(sql) finally s.close() }
    finally c.close()
  }

  /** `rows` rows `(u, id)`, `u` the column type's value of `id / 3`, so
    * every update value is a tie group of three. */
  private def table(name: String, uType: String, rows: Int)(u: Int => Any): Unit = {
    exec(s"CREATE TABLE $name (u $uType NOT NULL, id BIGINT NOT NULL)")
    val c = DriverManager.getConnection(url)
    try {
      val ps = c.prepareStatement(s"INSERT INTO $name VALUES (?, ?)")
      (0 until rows).foreach { i => ps.setObject(1, u(i / 3)); ps.setLong(2, i.toLong); ps.addBatch() }
      ps.executeBatch()
    } finally c.close()
  }

  test("no Spark job in latestOffset or planInputPartitions, for either format") {
    table("KT_JOBS_A", "BIGINT", 1500)(_.toLong)
    table("KT_JOBS_B", "BIGINT", 300)(_.toLong)
    val group = "keyset-tail-no-jobs"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id")) jobs.incrementAndGet()
    }
    val streams = Seq(
      TailHarness.tail(url, "KT_JOBS_A", "u", 100),  // one range per batch
      TailHarness.tail(url, "KT_JOBS_A", "u", 1000), // cut pass per batch
      TailHarness.tail(url, "KT_JOBS_A", "u", 0),    // cut pass, whole table
      TailHarness.stream(Map("url" -> url, "maxRowsPerBatch" -> "1000",
        "tables.0.tag" -> "a", "tables.0.dbtable" -> "KT_JOBS_A", "tables.0.updateColumn" -> "u",
        "tables.1.tag" -> "b", "tables.1.dbtable" -> "KT_JOBS_B", "tables.1.updateColumn" -> "u"),
        multi = true))
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "poll and plan")
      val planned = streams.map { s =>
        s.prepareForTriggerAvailableNow()
        var (from, n) = (s.initialOffset(), 0)
        var to = TailHarness.poll(s, from)
        while (to != from) {
          n += s.planInputPartitions(from, to).length
          from = to
          to = TailHarness.poll(s, from)
        }
        n
      }
      // 1500 rows in tie groups of 3: fifteen 102-row pages; 1002 + 498
      // rows (3 + 1 ranges); 1500 rows at once (3 ranges); the multi stream
      // adds KT_JOBS_B's 300 rows as one more range
      assert(planned === Seq(15, 4, 3, 5), "ranges planned per stream")
      // one sentinel job in the group: listener events arrive in order, so
      // once it is counted every earlier job start has been too
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (jobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.get() === 1, "latestOffset / planInputPartitions ran a Spark job")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
      streams.foreach(_.stop())
    }
  }

  test("sub-ranges tile (lo, hi] exactly: each split batch's rows equal the one-range read") {
    val t0 = java.sql.Timestamp.valueOf("2024-05-01 00:00:00").getTime
    val types = Seq[(String, String, Int => Any, Seq[(String, String)])](
      ("KT_TILE_BIGINT", "BIGINT", _.toLong, Nil),
      ("KT_TILE_TS", "TIMESTAMP", k => new java.sql.Timestamp(t0 + k * 1500L),
        Seq("timeFormat" -> "%Y-%m-%d %H:%M:%S.%6N")),
      ("KT_TILE_VARCHAR", "VARCHAR(20)", k => f"k$k%05d", Nil))
    types.foreach { case (name, uType, u, extra) =>
      table(name, uType, 2000)(u)
      val schema = spark.read.jdbc(url, name, new java.util.Properties()).schema
      Seq(1200, 0).foreach { limit =>
        val s = TailHarness.tail(url, name, "u", limit, extra: _*)
        try {
          var from: Offset = s.initialOffset()
          var to = TailHarness.poll(s, from)
          val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
          while (to != from) {
            val parts = s.planInputPartitions(from, to)
            val split = TailHarness.read(s, parts.toSeq).flatten.map(_.getLong(1)).sorted
            val one = KeysetJdbc.range(url, name, Map.empty, schema, "U",
              TailHarness.last(from), TailHarness.last(to).get)
            val whole = TailHarness.read(s, Seq(one)).flatten.map(_.getLong(1)).sorted
            assert(parts.length > 1, s"$name limit $limit: batch of ${split.size} rows not cut")
            assert(split === whole, s"$name limit $limit: split != one range")
            seen ++= split
            from = to
            to = TailHarness.poll(s, from)
          }
          assert(seen.sorted === (0L until 2000L), s"$name limit $limit")
        } finally s.stop()
      }
    }
  }

  test("named errors at stream construction: removed and malformed options") {
    table("KT_ERR", "BIGINT", 3)(_.toLong)
    val single = Map("url" -> url, "dbtable" -> "KT_ERR", "updateColumn" -> "u")
    val multi = Map("url" -> url, "tables.0.tag" -> "t", "tables.0.dbtable" -> "KT_ERR",
      "tables.0.updateColumn" -> "u")
    Seq[(Boolean, Map[String, String], Seq[String])](
      (false, Map("path" -> "/data/events", "updateColumn" -> "u"),
        Seq("path", "parquet mode is gone", "url + dbtable")),
      (false, single + ("maxRowsPerBatch" -> "ten"), Seq("maxRowsPerBatch", "'ten'")),
      (true, multi + ("maxRowsPerBatch" -> "1.5"), Seq("maxRowsPerBatch", "'1.5'")),
      (false, single + ("readFailureDemoteAfter" -> "x"), Seq("readFailureDemoteAfter", "'x'")),
      (true, multi + ("reprobeBackoffStart" -> "2s"), Seq("reprobeBackoffStart", "'2s'")),
      (false, single + ("readFailureDemoteAfter" -> "0"), Seq("readFailureDemoteAfter", ">= 1")),
      (true, multi + ("readFailureDemoteAfter" -> "-1"), Seq("readFailureDemoteAfter", ">= 1"))
    ).foreach { case (isMulti, opts, words) =>
      val e = intercept[IllegalArgumentException](TailHarness.stream(opts, isMulti))
      words.foreach(w => assert(e.getMessage.contains(w), s"$opts: ${e.getMessage}"))
    }
    // the well-formed options construct
    TailHarness.stream(single).stop()
    TailHarness.stream(multi, multi = true).stop()
  }
}
