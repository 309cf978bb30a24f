package graft

import org.apache.spark.sql.functions._

/** Round-10 guards: cleanup-exception suppression in the JDBC sink, the
  * semDedupIncrement append-only contract, and the GramHashes k guard. */
class Round10OpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("cleanupQuietly surfaces the ORIGINAL exception when rollback throws") {
    val original = new java.sql.SQLException("insert failed: duplicate key")
    // a RuntimeException (not SQLException) from cleanup must be swallowed
    // AND attached as suppressed — the round-9 quietly caught only
    // SQLException, so this exact shape masked the root cause
    graft.sinks.JdbcSink.cleanupQuietly(
      throw new RuntimeException("rollback failed: connection reset"), original)
    assert(original.getSuppressed.length === 1)
    assert(original.getSuppressed.head.getMessage.contains("rollback failed"))
    // no cause in flight (finally-path close): swallowed, nothing to attach
    graft.sinks.JdbcSink.cleanupQuietly(
      throw new RuntimeException("close failed"))
    // fatal errors always propagate
    intercept[OutOfMemoryError] {
      graft.sinks.JdbcSink.cleanupQuietly(throw new OutOfMemoryError("boom"), original)
    }
    // the upsert failure path end-to-end: the original failure type
    // surfaces through the catch/cleanup sequence (mirrors
    // idempotentUpsert's catch block ordering)
    val surfaced = intercept[java.sql.SQLException] {
      val e = new java.sql.SQLException("root")
      graft.sinks.JdbcSink.cleanupQuietly(throw new IllegalStateException("cleanup"), e)
      throw e
    }
    assert(surfaced.getMessage === "root")
    assert(surfaced.getSuppressed.exists(_.getMessage == "cleanup"))
  }

  test("semDedupIncrement raises a named error when the append-only contract is violated") {
    val dim = 8
    def vec(seed: Int) = Array.tabulate(dim)(i => ((seed * 31 + i) % 7 - 3).toFloat)
    val corpus = (0L until 20L).map(id => (id, vec(id.toInt).toSeq)).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    // "history" claims to cover ids 0..14, but the "new" predicate selects
    // ids >= 10 — ids 10..14 overlap history: contract violated
    val history = (0L until 15L).map(id => (id, 0, true)).toDF("vec_id", "cid", "keep")
    val e = intercept[Exception] {
      graft.ops.Similarity.semDedupIncrement(
        history, corpus, _ >= 10L, threshold = 0.99, k = 4, dim = dim)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("append-only contract violated")),
      s"expected named contract error, got: ${messages(e).mkString(" | ")}")
    // the valid orientation still works: new ids strictly above history
    val ok = graft.ops.Similarity.semDedupIncrement(
      history, corpus, _ >= 15L, threshold = 0.99, k = 4, dim = dim)
    assert(ok.count() === 20)
    // empty history: max is NULL, guard must not fire
    val empty = history.filter(lit(false))
    val fromScratch = graft.ops.Similarity.semDedupIncrement(
      empty, corpus, _ >= 0L, threshold = 0.99, k = 4, dim = dim)
    assert(fromScratch.count() === 20)
  }

  test("bpeEncodeStream (literal replace kernel) == bpeLearn's relational fold") {
    // docs engineered for every island case: self-pair runs (odd AND even
    // lengths), chained merges, pairs at document edges
    val docs = Seq(
      (1L, "a a a a b c a a a"),
      (2L, "b c b c b b c c"),
      (3L, "a b c d e"),
      (4L, "c c c c c c"),
      (5L, "a"),
      (6L, "")).toDF("doc_id", "text")
    val rounds = 4
    // learn on the FULL set so both paths see the same merges
    val merges = graft.ops.TrainOps
      .bpeMerges(docs, "doc_id", "text", rounds).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.nonEmpty)
    val viaKernel = graft.ops.TrainOps
      .bpeEncodeStream(docs, "doc_id", "text", merges)
      .orderBy("doc_id", "pos")
      .collect().map(r => (r.getLong(0), r.getString(2))).toList
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2) }
    // the relational fold's final adjacency, per-doc in position order
    val viaFold = graft.ops.TrainOps
      .bpeFoldStream(docs, "doc_id", "text", rounds)
      .orderBy("doc_id", "pos")
      .collect().map(r => (r.getLong(0), r.getString(2))).toList
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2) }
    // full per-document stream equality, not just the vocabulary
    for (id <- 1L to 5L)
      assert(viaFold.getOrElse(id, Nil) === viaKernel.getOrElse(id, Nil),
        s"doc $id: fold=${viaFold.get(id)} kernel=${viaKernel.get(id)}")
    assert(viaKernel.getOrElse(6L, Nil) === Nil)
  }

  test("graft_gram_hashes rejects non-positive k at build time") {
    val df = Seq(("abc", 1L)).toDF("text", "id")
    val e0 = intercept[Exception] {
      df.select(graft.functions.GramHashes.hashes(col("text"), 0)).collect()
    }
    assert(e0.getMessage.contains("k must be positive"))
    val eNeg = intercept[Exception] {
      df.select(graft.functions.GramHashes.hashes(col("text"), -3)).collect()
    }
    assert(eNeg.getMessage.contains("k must be positive"))
  }

  test("keyset partitions stay constant-size as the page grows (driver holds bounds, not rows)") {
    val url = "jdbc:derby:memory:graftr10;create=true"
    TailHarness.stage(spark.range(0, 4000).selectExpr("id AS event_id", "id * 3 AS v"),
      url, "R10_PSIZE")
    def partBytes(pageRows: Int): Int = {
      val stream = TailHarness.tail(url, "R10_PSIZE", "event_id", pageRows)
      try {
        val start = stream.initialOffset()
        val end = TailHarness.poll(stream, start)
        val parts = stream.planInputPartitions(start, end)
        assert(parts.nonEmpty)
        val bos = new java.io.ByteArrayOutputStream()
        val oos = new java.io.ObjectOutputStream(bos)
        oos.writeObject(parts.head); oos.close()
        bos.size()
      } finally stream.stop()
    }
    val small = partBytes(100)   // one sub-range of a 100-row page
    val big = partBytes(4000)    // one sub-range of a 40x larger page
    // rows-in-partition would scale ~40x; bounds + connection settings do not
    assert(big < small * 2 + 4096,
      s"partition payload grew with the page: $small -> $big bytes")
  }

  test("keyset reader timestamp bounds parse exactly like the driver filter across a resume") {
    // timestamp update column through TWO planned batches, each cut into
    // sub-ranges: the second batch's lower bound is the serialized string
    // of batch 1's boundary, so the database's cast must read it as the
    // same micros the driver-side KeysetScan filter does — reader row sets
    // must equal the driver-computed (start, end] intervals exactly
    val url = "jdbc:derby:memory:graftr10;create=true"
    TailHarness.stage(graft.sources.Tables.events(spark, sf0001), url, "R10_TSB")
    // zone-less: Derby's timestamp cast rejects a zone suffix
    val fmt = "%Y-%m-%d %H:%M:%S.%6N"
    val stream = TailHarness.tail(url, "R10_TSB", "ts", 600, "timeFormat" -> fmt)
    val idIdx = spark.read.jdbc(url, "R10_TSB", new java.util.Properties())
      .schema.fieldIndex("event_id")
    def readBatch(start: org.apache.spark.sql.connector.read.streaming.Offset,
                  end: org.apache.spark.sql.connector.read.streaming.Offset): Seq[Long] =
      TailHarness.read(stream, stream.planInputPartitions(start, end).toSeq)
        .flatten.map(_.getLong(idIdx))
    def driverBatch(startLast: Option[String], endLast: String): Seq[Long] = {
      val t = spark.read.jdbc(url, "R10_TSB", new java.util.Properties())
      graft.sources.KeysetScan.scan(t, "ts", startLast, limit = 0, rubyTimeFormat = fmt)
        .filter(!graft.sources.KeysetScan.lowerBound(t, "ts", endLast, fmt))
        .select("event_id").collect().map(_.getLong(0)).toSeq
    }
    val o0 = stream.initialOffset()
    val o1 = TailHarness.poll(stream, o0)
    val o2 = TailHarness.poll(stream, o1)
    val (k1, k2) = (TailHarness.last(o1), TailHarness.last(o2))
    assert(k1.isDefined && k2.isDefined && k1 != k2)
    assert(stream.planInputPartitions(o0, o1).length > 1, "batch 1 should be cut")
    assert(readBatch(o0, o1).sorted === driverBatch(None, k1.get).sorted)
    assert(readBatch(o1, o2).sorted === driverBatch(k1, k2.get).sorted)
    // batches are disjoint and the resume loses nothing within the range
    assert(readBatch(o0, o1).toSet.intersect(readBatch(o1, o2).toSet).isEmpty)
    stream.stop()
  }

  test("minhashNearDupStream per-bucket state stays at its maxBucket bound") {
    // 20 IDENTICAL docs collide into one bucket per band with maxBucket=4:
    // the first 4 arrivals are stored, every later arrival pairs against
    // exactly those 4 and is NOT stored. Emitted pairs per band are then
    // the cap arithmetic C(4,2) + 16·4 = 70 — an uncapped bucket would
    // emit C(20,2) = 190 — and the state store holds one row per bucket
    // group, proving per-key state is bounded by construction.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val ms = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamOps.minhashNearDupStream(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text", maxBucket = 4)
      .toDF().writeStream.format("memory").queryName("r10_cap_out")
      .outputMode("append").start()
    try {
      ms.addData((1L to 10L).map(i => (i, text))); q.processAllAvailable()
      ms.addData((11L to 20L).map(i => (i, text))); q.processAllAvailable()
    } finally q.stop()
    val numBands = 16 // default numPerm 32 / rowsPerBand 2
    assert(spark.table("r10_cap_out").count() === 70L * numBands)
    // state rows = bucket groups (16 bands x 1 key), NOT 20 docs x 16
    val stateRows = Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
    assert(stateRows === numBands.toLong, s"state rows: $stateRows")
  }

  test("HistMinSum both-saturated sentinel dominates any real range overlap") {
    // 2^50 per both-saturated range; 128 of them must not overflow a Long
    assert(graft.functions.HistMinSum.BothSaturated === (1L << 50))
    assert(128L * graft.functions.HistMinSum.BothSaturated > 0L)
    // a pair of histograms saturated in EVERY range reports 128 * 2^50
    val full = Seq.fill(8)(-1L) // every nibble = 15 (saturated)
    val df = Seq((full, full)).toDF("a", "b")
      .select(graft.functions.HistMinSum.minSum(col("a"), col("b")).as("s"))
    assert(df.collect().head.getLong(0) === 128L * (1L << 50))
  }
}
