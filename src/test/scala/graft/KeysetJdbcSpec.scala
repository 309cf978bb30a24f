package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.StructType

import graft.sources.Serialize
import graft.streaming.{KeysetJdbc, KeysetRange, KeysetRangeReader}

/** The JDBC keyset cursor shared by both streaming tails: one `(lo, hi]`
  * range read through the typed shape (`keyset-tail`) and the event shape
  * (`keyset-tail-multi`) must carry the same values. */
class KeysetJdbcSpec extends SparkSpecBase {
  private val url = "jdbc:derby:memory:graftkj;create=true"
  private val fmt = "%Y-%m-%d %H:%M:%S.%6N"

  private def exec(sql: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try { val s = c.createStatement(); try s.execute(sql) finally s.close() }
    finally c.close()
  }

  /** The referee: each non-NULL field of a typed row through
    * `Serialize.valueToString`, NULL fields absent. */
  private def rowToStringMap(schema: StructType, row: Row): Map[String, String] =
    schema.fields.zipWithIndex.collect {
      case (f, i) if !row.isNullAt(i) =>
        f.name -> Serialize.valueToString(f.dataType, row.get(i), fmt)
    }.toMap

  private def readAll(p: KeysetRange): Seq[InternalRow] = {
    val r = new KeysetRangeReader(p)
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    try while (r.next()) out += r.get().copy() finally r.close()
    out.toSeq
  }

  test("one (lo, hi] range: typed rows serialize to exactly the event records, NULL fields absent") {
    exec("CREATE TABLE kj_all (id BIGINT NOT NULL PRIMARY KEY, i INT, s SMALLINT, " +
      "d DOUBLE, m DECIMAL(10,2), b BOOLEAN, v VARCHAR(20), c CLOB, " +
      "ts TIMESTAMP, dt DATE)")
    exec("INSERT INTO kj_all VALUES (1, 10, 1, 0.5, 1.25, TRUE, 'before', 'c1', " +
      "TIMESTAMP('2024-01-01 00:00:01.000001'), DATE('2024-01-01'))")
    exec("INSERT INTO kj_all VALUES (2, -7, -2, 1.5e10, 12345678.90, FALSE, 'v2', " +
      "'clob two', TIMESTAMP('2024-02-29 23:59:59.123456'), DATE('2024-02-29'))")
    exec("INSERT INTO kj_all VALUES (3, NULL, NULL, NULL, NULL, NULL, NULL, NULL, " +
      "NULL, NULL)")
    exec("INSERT INTO kj_all VALUES (4, 2147483647, 32767, -0.25, -0.01, TRUE, " +
      "'it''s', 'line1\nline2', TIMESTAMP('1999-12-31 12:00:00.5'), NULL)")
    exec("INSERT INTO kj_all VALUES (5, 0, 0, 3.0, 0.00, NULL, '', NULL, " +
      "TIMESTAMP('2030-06-15 08:30:00'), DATE('2030-06-15'))")
    exec("INSERT INTO kj_all VALUES (6, 6, 6, 6.0, 6.00, TRUE, 'after', 'c6', " +
      "TIMESTAMP('2030-06-16 00:00:00'), DATE('2030-06-16'))")
    val schema: StructType = spark.read.jdbc(url, "kj_all", new java.util.Properties()).schema
    val upd = KeysetJdbc.updateColumn(schema, "id")
    def range(event: Option[KeysetRange.Event]) =
      KeysetJdbc.range(url, "kj_all", Map.empty, schema, upd, Some("1"), "5", event)

    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val typed = readAll(range(None))
      .map(r => toRow(r).asInstanceOf[Row])
      .map(r => rowToStringMap(schema, r))
    val events = readAll(range(Some(KeysetRange.Event("kj", fmt, 0)))).map { r =>
      assert(r.getUTF8String(0).toString === "kj")
      val m = r.getMap(1)
      m.keyArray().array.map(_.toString).zip(m.valueArray().array.map(_.toString)).toMap
    }
    assert(typed.map(_("ID")).sorted === Seq("2", "3", "4", "5"), "(1, 5] exactly")
    assert(events.sortBy(_("ID")) === typed.sortBy(_("ID")))
    // spot checks: NULLs absent, CLOB text (not a LOB handle), micros kept
    val byId = events.map(e => e("ID") -> e).toMap
    assert(byId("3").keySet === Set("ID"))
    assert(byId("2")("C") === "clob two")
    assert(byId("4")("C") === "line1\nline2")
    assert(byId("2")("TS") === "2024-02-29 23:59:59.123456")
    assert(!byId("4").contains("DT") && !byId("5").contains("B"))
  }
}
