package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources._

class FileSourcesSpec extends SparkSpecBase {

  test("JSONL round-trips the documents table; corrupt lines dead-letter") {
    val docs = Tables.documents(spark, sf0001)
    val dir = Files.createTempDirectory("graft_jsonl").toString + "/docs"
    docs.coalesce(1).write.mode("overwrite").json(dir)
    // append a malformed line to the data file
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json")).head
    Files.writeString(part.toPath, "{not valid json\n",
      java.nio.file.StandardOpenOption.APPEND)
    // the local FS keeps a CRC sidecar for Spark-written files; the append
    // invalidates it and ChecksumFileSystem would refuse the read
    new java.io.File(part.getParentFile, "." + part.getName + ".crc").delete()
    val schema = org.apache.spark.sql.types.StructType(docs.schema.fields)
    val (clean, dead) = FileSources.split(FileSources.jsonl(spark, dir, schema))
    assert(dead.count() === 1)
    assert(dead.collect().head.getString(0).startsWith("{not valid"))
    val a = clean.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = docs.select(clean.columns.map(col): _*)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a === b) // lossless round trip for the clean rows
  }

  test("ORC round-trips the documents table and pushes filters into the scan") {
    val docs = Tables.documents(spark, sf0001)
    val dir = Files.createTempDirectory("graft_orc").toString + "/docs"
    FileSources.writeOrc(docs, dir, sortCols = Seq("doc_id"))
    val back = FileSources.orc(spark, dir,
      org.apache.spark.sql.types.StructType(docs.schema.fields))
    val a = back.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = docs.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a === b)
    // predicate + projection reach the ORC scan
    val plan = back.filter(col("doc_id") > 10).select("doc_id", "lang")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,10)"), plan)
    assert(plan.contains("struct<doc_id:bigint,lang:string>"), plan)
  }

  test("CSV with explicit schema round-trips a projection; bad row dead-letters") {
    val li = Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_linenumber", "l_quantity").limit(200)
    val dir = Files.createTempDirectory("graft_csv").toString + "/li"
    li.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv")).head
    Files.writeString(part.toPath, "oops,not,numeric\n",
      java.nio.file.StandardOpenOption.APPEND)
    new java.io.File(part.getParentFile, "." + part.getName + ".crc").delete()
    val schema = org.apache.spark.sql.types.StructType(li.schema.fields)
    val (clean, dead) = FileSources.split(FileSources.csv(spark, dir, schema))
    assert(dead.count() === 1)
    assert(clean.count() === 200)
    val got = clean.agg(sum("l_quantity")).collect().head.getDouble(0)
    val exp = li.agg(sum("l_quantity")).collect().head.getDouble(0)
    assert(math.abs(got - exp) < 1e-9)
  }
}

class KeysetScanSpec extends SparkSpecBase {
  test("strict > resume skips the boundary row (in_sql.rb:132)") {
    val e = Tables.events(spark, sf0001)
    val page1 = KeysetScan.scan(e, "event_id", None, 10).collect()
    assert(page1.length === 10)
    val last = page1.last.getAs[Long]("event_id")
    val page2 = KeysetScan.scan(e, "event_id", Some(last.toString), 10).collect()
    assert(page2.head.getAs[Long]("event_id") === last + 1)
  }
  test("limit <= 0 disables LIMIT (in_sql.rb:52)") {
    val e = Tables.events(spark, sf0001)
    assert(KeysetScan.scan(e, "event_id", None, 0).count() === 1000)
  }
  test("timestamp resume round-trips through the serialized string (in_sql.rb:131,141)") {
    val e = Tables.events(spark, sf0001)
    val fmt = graft.core.RubyStrftime.DefaultSparkPattern
    val boundary = KeysetScan.scan(e, "ts", None, 5, tieBreak = Some("event_id"))
      .select(date_format(col("ts"), fmt)).collect().last.getString(0)
    val next = KeysetScan.scan(e, "ts", Some(boundary), 5, tieBreak = Some("event_id"))
    val minNext = next.select(min("ts")).collect().head.getTimestamp(0)
    val maxPrev = java.sql.Timestamp.from(
      java.time.OffsetDateTime.parse(boundary,
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSSZ")).toInstant)
    assert(minNext.after(maxPrev))
  }
  test("keyset filter pushes into the parquet scan") {
    val e = Tables.events(spark, sf0001).select("event_id", "user_id") // non-ts path: plain scan
    val plan = KeysetScan.scan(e, "event_id", Some("500"), 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(event_id,500)"),
      s"filter not pushed:\n$plan")
  }
}
