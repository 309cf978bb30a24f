package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Tables
import graft.streaming.StreamOps

/** Event-time streaming ops driven end-to-end through the keyset-tail
  * source, asserted equal to the same operator run in batch mode (the
  * stream==batch parity Structured Streaming guarantees for append-mode
  * windowed aggregations once all data is processed).
  */
class StreamOpsSpec extends SparkSpecBase {
  private val url = "jdbc:derby:memory:graftsops;create=true"

  private lazy val eventsMicro = {
    TailHarness.stage(Tables.events(spark, sf0001), url, "SOPS_EVENTS")
    "SOPS_EVENTS"
  }

  private def eventStream: DataFrame = spark.readStream
    .format("graft.streaming.KeysetTailProvider")
    .option("url", url).option("dbtable", eventsMicro)
    .option("updateColumn", "event_id")
    .option("maxRowsPerBatch", "400")
    .load()

  private def runToMemory(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode)
      .trigger(Trigger.ProcessingTime(0)).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  test("streaming A/B Welch moments: stream equals batch on closed windows") {
    val streamed = runToMemory(
      StreamOps.abTestStream(eventStream, "ts", "1 hour", "1 day"), "s_abtest", "append")
    val batch = StreamOps.abTestStream(Tables.events(spark, sf0001), "ts", "1 hour", "1 day")
    val emitted = streamed.select("w_start").distinct().collect().map(_.get(0)).toSet
    assert(emitted.nonEmpty, "watermark never closed any window")
    val b = batch.filter(col("w_start").isInCollection(emitted))
      .orderBy("w_start", "event_type").collect().toSeq
    val s = streamed.orderBy("w_start", "event_type").collect().toSeq
    assert(s === b)
  }

  test("streaming Markov hops: per-pair counts equal the batch transition matrix") {
    val streamed = runToMemory(
      StreamOps.markovStream(eventStream).toDF(), "s_markov", "append")
      .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
      .orderBy("cur", "nxt").collect().toSeq
    val batch = graft.ops.Stats.markovTransitions(Tables.events(spark, sf0001))
      .select("cur", "nxt", "n").orderBy("cur", "nxt").collect().toSeq
    assert(streamed === batch)
  }

  test("watermarked tumbling agg: stream equals batch") {
    val streamed = runToMemory(
      StreamOps.tumblingAgg(eventStream, "ts", "1 hour", "1 day"), "s_tumbling", "append")
    val batch = StreamOps.tumblingAgg(Tables.events(spark, sf0001), "ts", "1 hour", "1 day")
    // append mode only emits windows the watermark has passed; the final
    // (open) windows are legitimately withheld — compare on emitted ones
    val emitted = streamed.select("w_start").distinct().collect().map(_.get(0)).toSet
    assert(emitted.nonEmpty, "watermark never closed any window")
    val b = batch.filter(col("w_start").isInCollection(emitted))
      .orderBy("w_start", "event_type").collect().toSeq
    val s = streamed.orderBy("w_start", "event_type").collect().toSeq
    assert(s === b)
  }

  test("windowed KMV distinct sketch: stream equals batch (mergeable state)") {
    val streamed = runToMemory(
      StreamOps.tumblingKmvDistinct(eventStream, "ts", "1 hour", "1 day", "user_id"),
      "s_kmv", "append")
    val batch = StreamOps.tumblingKmvDistinct(
      Tables.events(spark, sf0001), "ts", "1 hour", "1 day", "user_id")
    val emitted = streamed.select("w_start").distinct().collect().map(_.get(0)).toSet
    assert(emitted.nonEmpty, "watermark never closed any window")
    val b = batch.filter(col("w_start").isInCollection(emitted))
      .orderBy("w_start").collect().toSeq
    val s = streamed.orderBy("w_start").collect().toSeq
    assert(s === b)
  }

  test("windowed count-min cells: stream equals batch (additive merge)") {
    val streamed = runToMemory(
      StreamOps.tumblingCountMin(eventStream, "ts", "1 hour", "1 day", "event_type"),
      "s_cmin", "append")
    val batch = StreamOps.tumblingCountMin(
      Tables.events(spark, sf0001), "ts", "1 hour", "1 day", "event_type")
    val emitted = streamed.select("w_start").distinct().collect().map(_.get(0)).toSet
    assert(emitted.nonEmpty, "watermark never closed any window")
    val b = batch.filter(col("w_start").isInCollection(emitted))
      .orderBy("w_start", "d", "cell").collect().toSeq
    val s = streamed.orderBy("w_start", "d", "cell").collect().toSeq
    assert(s === b)
  }

  test("windowed HDR quantile buckets: stream equals batch (additive merge)") {
    def cents = (graft.ops.Exact.dec(col("value")) * 100).cast("long")
    val streamed = runToMemory(
      StreamOps.tumblingHdrBuckets(eventStream, "ts", "1 hour", "1 day", cents, m = 5),
      "s_hdr", "append")
    val batch = StreamOps.tumblingHdrBuckets(
      Tables.events(spark, sf0001), "ts", "1 hour", "1 day", cents, m = 5)
    val emitted = streamed.select("w_start").distinct().collect().map(_.get(0)).toSet
    assert(emitted.nonEmpty, "watermark never closed any window")
    val b = batch.filter(col("w_start").isInCollection(emitted))
      .orderBy("w_start", "lb").collect().toSeq
    val s = streamed.orderBy("w_start", "lb").collect().toSeq
    assert(s === b)
  }

  test("tumbling latest-k via the native top-k aggregate: stream equals batch") {
    val streamed = runToMemory(
      StreamOps.tumblingLatestK(eventStream, "ts", "1 hour", "1 day",
        keyCol = "user_id", idCol = "event_id", k = 2),
      "s_topk", "append")
    val batch = StreamOps.tumblingLatestK(
      Tables.events(spark, sf0001), "ts", "1 hour", "1 day",
      keyCol = "user_id", idCol = "event_id", k = 2)
    val emitted = streamed.select("w_start").distinct().collect().map(_.get(0)).toSet
    assert(emitted.nonEmpty, "watermark never closed any window")
    val b = batch.filter(col("w_start").isInCollection(emitted))
      .orderBy("w_start", "user_id", "rn").collect().toSeq
    val s = streamed.orderBy("w_start", "user_id", "rn").collect().toSeq
    assert(s === b)
    // bounded emission: never more than k rows per (window, user)
    val over = streamed.groupBy("w_start", "user_id").count().filter(col("count") > 2)
    assert(over.count() === 0)
  }

  test("tumbling Misra-Gries heavy hitters: exact (= batch) when k fits; bounded under pressure") {
    // k=8 over 5 event types: no decrements -> summary IS the exact count
    // table, so stream == batch bit-for-bit (mergeable state)
    val streamed = runToMemory(
      StreamOps.tumblingHeavyHitters(eventStream, "ts", "1 hour", "1 day",
        keyCol = "event_type", k = 8), "s_mg", "append")
    val batch = StreamOps.tumblingHeavyHitters(
      Tables.events(spark, sf0001), "ts", "1 hour", "1 day",
      keyCol = "event_type", k = 8)
    val emitted = streamed.select("w_start").distinct().collect().map(_.get(0)).toSet
    assert(emitted.nonEmpty, "watermark never closed any window")
    val b = batch.filter(col("w_start").isInCollection(emitted))
      .orderBy("w_start", "term").collect().toSeq
    val s = streamed.orderBy("w_start", "term").collect().toSeq
    assert(s === b)
    // k=3 under 5 keys: pressure — per window, <= 3 rows, undercount only,
    // error within windowN/(k+1)
    val pressured = runToMemory(
      StreamOps.tumblingHeavyHitters(eventStream, "ts", "1 hour", "1 day",
        keyCol = "event_type", k = 3), "s_mg3", "append")
    val exact = Tables.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 day")("start").as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
    val winN = exact.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val perWin = pressured.collect()
      .map(r => ((r.get(0), r.getString(1)), r.getLong(2)))
    assert(perWin.groupBy(_._1._1).values.forall(_.size <= 3))
    perWin.foreach { case ((w, t), est) =>
      val ex = exact((w, t))
      assert(est <= ex && (ex - est) * 4 <= winN(w))
    }
  }

  test("session windows close after the gap and count every event") {
    val sessions = runToMemory(
      StreamOps.sessionAgg(eventStream, "ts", "1 hour", "30 minutes"), "s_sessions", "append")
    assert(sessions.count() > 0)
    // no session may contain a gap longer than 30 min: end-start <= n*gap bound
    val bad = sessions.filter(
      col("session_end").cast("long") - col("session_start").cast("long")
        > col("n_events") * 1800L).count()
    assert(bad === 0)
  }

  test("streaming exact dedup emits each key once for the stream lifetime") {
    val deduped = runToMemory(
      StreamOps.dedupStream(eventStream.withColumn("dup_key", col("event_id") % 100),
        Seq("dup_key")), "s_dedup", "append")
    assert(deduped.select("dup_key").distinct().count() === deduped.count())
    assert(deduped.count() === 100)
  }

  test("watermark-bounded dedup: exact within horizon, at-least-once per key") {
    val deduped = runToMemory(
      StreamOps.dedupStreamBounded(eventStream.withColumn("dup_key", col("event_id") % 100),
        "ts", "1 hour", Seq("dup_key")), "s_dedup_wm", "append")
    val total = deduped.count()
    val distinct = deduped.select("dup_key").distinct().count()
    assert(distinct === 100)   // every key surfaced
    assert(total >= distinct)  // re-emission after the horizon is legal
  }

  test("stream-stream interval join equals the batch interval join") {
    def shape(df: org.apache.spark.sql.DataFrame) = {
      val p = df.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      val c = df.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      (p, c)
    }
    val (ps, cs) = shape(eventStream)
    // generous watermark: the keyset tail pages by event_id, so event time
    // may arrive out of order — parity with batch needs no drops
    val streamed = runToMemory(
      StreamOps.intervalJoin(ps, cs, "p_ts", "c_ts", "30 days",
        col("p_user") === col("c_user"), "10 minutes", "10 minutes")
        .select("p_id", "c_id"), "s_ssjoin", "append")
    val (pb, cb) = shape(Tables.events(spark, sf0001))
    val batch = pb.join(cb, col("p_user") === col("c_user") &&
      col("c_ts") >= col("p_ts") - expr("INTERVAL 10 minutes") &&
      col("c_ts") <= col("p_ts") + expr("INTERVAL 10 minutes"))
      .select("p_id", "c_id")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("flatMapGroupsWithState: per-key running max advances monotonically") {
    val advances = runToMemory(
      StreamOps.runningMaxAdvances(eventStream).toDF(), "s_maxadv", "append")
    // per user: strictly increasing new_max across batches
    val rows = advances.collect().map(r => (r.getLong(0), r.getDouble(1)))
    val byUser = rows.groupBy(_._1)
    assert(byUser.nonEmpty)
    byUser.foreach { case (_, vs) =>
      val seq = vs.map(_._2).toSeq
      assert(seq == seq.sorted && seq.distinct.size == seq.size)
    }
    // final per-user max equals the batch max
    val batchMax = Tables.events(spark, sf0001).groupBy("user_id")
      .agg(max("value").as("m")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val streamFinal = rows.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).max }
    streamFinal.foreach { case (u, m) => assert(math.abs(m - batchMax(u)) < 1e-9) }
  }

  private lazy val docsMicro = {
    TailHarness.stage(Tables.documents(spark, sf0001), url, "SOPS_DOCS")
    "SOPS_DOCS"
  }

  /** One doc per micro-batch: cross-document duplicate attribution in the
    * segment-dedup parity test must match the batch groupBy/min winner,
    * and within one micro-batch the state store offers no cross-row order
    * guarantee after the shuffle — one-doc batches ENFORCE doc_id-ordered
    * arrival instead of merely relying on it. */
  private def docStream: DataFrame = spark.readStream
    .format("graft.streaming.KeysetTailProvider")
    .option("url", url).option("dbtable", docsMicro)
    .option("updateColumn", "doc_id")
    .option("maxRowsPerBatch", "1")
    .load()

  test("corpus cleaning is streamable: PII redaction equals batch row-for-row") {
    import graft.ops.CleanOps
    import graft.queries.CleaningQueries
    def shape(df: DataFrame): DataFrame = df.select(col("doc_id"),
      CleanOps.redactPii(
        CleaningQueries.plantedPiiText(col("doc_id"), col("text"))).as("red"))
    val streamed = runToMemory(shape(docStream), "s_pii", "append")
    val batch = shape(Tables.documents(spark, sf0001))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(streamed.filter(col("red").contains("<EMAIL>")).count() > 0)
  }

  test("streaming segment dedup: per-doc surviving counts equal the batch operator") {
    import graft.ops.CleanOps
    // keyset tail replays docs in doc_id order, so stream-lifetime
    // first-occurrence dedup on the segment hash attributes each segment
    // to the same (min doc_id) winner as the batch groupBy/min
    val segs = docStream.select(col("doc_id"),
      posexplode(CleanOps.tokenSegments(col("text"), 8)).as(Seq("pos", "seg")))
      .withColumn("h", md5(col("seg")))
    val streamed = runToMemory(
      StreamOps.dedupStream(segs, Seq("h")).select("doc_id", "h"), "s_segdedup", "append")
    val batch = CleanOps.segmentDedup(Tables.documents(spark, sf0001), "doc_id",
      CleanOps.tokenSegments(col("text"), 8))
    val streamCounts = streamed.groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchCounts = batch.filter(col("n_kept") > 0)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_kept")).toMap
    assert(streamCounts === batchCounts)
  }

  test("streaming keyframe detection equals the batch lag-window operator") {
    val streamed = runToMemory(
      StreamOps.keyframeStream(docStream).toDF(), "s_keyframes", "append")
    val batch = graft.ops.Multimodal.keyframes(
      Tables.documents(spark, sf0001), "doc_id", "text")
    val s = streamed.orderBy("doc_id", "frame_idx").collect().toSeq
    val b = batch.orderBy("doc_id", "frame_idx").collect().toSeq
    assert(s.nonEmpty && s === b)
  }

  test("streaming CUSUM recurrence equals the batch prefix-sum closed form") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val batch = graft.ops.EventOps.cusumDrift(Tables.events(spark, sf0001))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))
      .toMap
    val mu = batch.map { case ((t, _), v) => t -> v._2 }
    // the same daily counts, split mid-calendar so state crosses batches
    val daily = batch.toSeq.map { case ((t, d), v) => (t, d, v._1) }.sortBy(_._2)
    val cut = daily.map(_._2).distinct.sorted.apply(daily.map(_._2).distinct.size / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long, Long)]
    val q = StreamOps.cusumStream(ms.toDF().toDF("event_type", "day", "n"), mu)
      .toDF().writeStream.format("memory").queryName("s_cusum")
      .outputMode("append").start()
    try {
      ms.addData(daily.filter(_._2 < cut)); q.processAllAvailable()
      ms.addData(daily.filter(_._2 >= cut)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("s_cusum").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
      .toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (k, (n, su, sd, alarm)) =>
      val (bn, _, bsu, bsd, balarm) = batch(k)
      assert(n === bn && su === bsu && sd === bsd && alarm === balarm, s"at $k")
    }
  }

  test("streaming minhash near-dup: distinct pairs equal the batch bucket reference") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)].collect()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val stream = StreamOps.minhashNearDupStream(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", maxBucket = 1 << 20)
    val q = stream.writeStream.format("memory").queryName("s_mh")
      .outputMode("append").start()
    // two micro-batches so candidate pairs cross the state boundary (the
    // incremental new-vs-history shape)
    val (late, early) = docs.partition(_._1 % 5 == 0)
    try {
      ms.addData(early.toSeq); q.processAllAvailable()
      ms.addData(late.toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("s_mh").select("id_a", "id_b").distinct()
      .as[(Long, Long)].collect().toSet
    // batch reference: identical signatures + banding; a pair qualifies if
    // it shares any band bucket and >= threshold x numPerm perms agree
    val numPerm = 32; val rowsPerBand = 2
    val sigs = Tables.documents(spark, sf0001)
      .select(col("doc_id").cast("long").as("id"),
        graft.ops.TextOps.shingles(col("text"), 3).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("id"), graft.functions.MinHash.sigsMd5(col("shs"), numPerm).as("sig"))
    val bandCols = (0 until numPerm / rowsPerBand).map { b =>
      struct(lit(b).as("band"), concat_ws(",",
        (0 until rowsPerBand).map(r => col("sig")(b * rowsPerBand + r).cast("string")): _*)
        .as("bk"))
    }
    val banded = sigs.select(col("id"), col("sig"), explode(array(bandCols: _*)).as("e"))
      .select(col("e.band").as("band"), col("e.bk").as("bk"), col("id"), col("sig"))
    val ref = banded.select(col("band"), col("bk"), col("id").as("id_a"), col("sig").as("siga"))
      .join(banded.select(col("band"), col("bk"), col("id").as("id_b"), col("sig").as("sigb")),
        Seq("band", "bk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("agree",
        expr("size(filter(zip_with(siga, sigb, (x, y) -> x = y), z -> z))"))
      .filter(col("agree") * 2 >= numPerm) // est jaccard >= 0.5
      .select("id_a", "id_b").distinct()
      .as[(Long, Long)].collect().toSet
    assert(streamed === ref)
    assert(streamed.nonEmpty, "test data must produce near-dup pairs")
  }

  test("streaming minhash near-dup honors the per-bucket state cap by arrival order") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // three identical docs, cap 1: doc 1 is stored; docs 2 and 3 pair with
    // the stored doc 1 but are never stored, so (2,3) is NOT emitted
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val stream = StreamOps.minhashNearDupStream(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", maxBucket = 1)
    val q = stream.writeStream.format("memory").queryName("s_mh_cap")
      .outputMode("append").start()
    try { ms.addData(Seq((1L, text), (2L, text), (3L, text))); q.processAllAvailable() }
    finally q.stop()
    val pairs = spark.table("s_mh_cap").select("id_a", "id_b").distinct()
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (1L, 3L)))
  }

  test("cluster-delta edges are the minhash stream's pairs, threshold just above an agree count") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val numPerm = 32
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)].collect()
    // agree counts of the pairs that share a band bucket (the reference
    // banding of the stream==batch case above); t sits 1e-7 above one of
    // them, so pairs agreeing on exactly k permutations must be dropped by
    // both streams
    val sigs = Tables.documents(spark, sf0001)
      .select(col("doc_id").cast("long").as("id"),
        graft.ops.TextOps.shingles(col("text"), 3).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("id"), graft.functions.MinHash.sigsMd5(col("shs"), numPerm).as("sig"))
    val bandCols = (0 until numPerm / 2).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", col("sig")(2 * b).cast("string"), col("sig")(2 * b + 1).cast("string"))
          .as("bk"))
    }
    val banded = sigs.select(col("id"), col("sig"), explode(array(bandCols: _*)).as("e"))
      .select(col("e.band").as("band"), col("e.bk").as("bk"), col("id"), col("sig"))
    val agrees = banded.select(col("band"), col("bk"), col("id").as("id_a"), col("sig").as("siga"))
      .join(banded.select(col("band"), col("bk"), col("id").as("id_b"), col("sig").as("sigb")),
        Seq("band", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select(expr("size(filter(zip_with(siga, sigb, (x, y) -> x = y), z -> z))"))
      .as[Int].collect().toSet
    val k = agrees.filter(_ >= numPerm / 2).min
    val t = k / 32.0 + 1e-7
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (late, early) = docs.partition(_._1 % 5 == 0)
    def run(name: String, op: DataFrame => org.apache.spark.sql.Dataset[_]): DataFrame = {
      val ms = MemoryStream[(Long, String)]
      val q = op(ms.toDF().toDF("doc_id", "text")).writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      try {
        ms.addData(early.toSeq); q.processAllAvailable()
        ms.addData(late.toSeq); q.processAllAvailable()
      } finally q.stop()
      spark.table(name)
    }
    val pairs = run("s_mh_t", StreamOps.minhashNearDupStream(_, "doc_id", "text",
        threshold = t, maxBucket = 1 << 20))
      .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
    val edges = run("s_cd_t", StreamOps.clusterDeltaStream(_, "doc_id", "text",
        threshold = t, maxBucket = 1 << 20))
      .filter(col("kind") === "edge").select("id_a", "id_b").distinct()
      .as[(Long, Long)].collect().toSet
    assert(pairs.nonEmpty, s"fixture must produce pairs above k = $k")
    assert(edges === pairs, s"k = $k")
  }

  test("streaming image aHash near-dup equals the batch chunk4x16Pairs tier") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)].collect()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val stream = StreamOps.ahashNearDupStream(
      graft.ops.Multimodal.asBmpAssets(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text"),
      maxHamming = 4, maxBucket = 1 << 20)
    val q = stream.writeStream.format("memory").queryName("s_ahash")
      .outputMode("append").start()
    // two micro-batches: pairs must cross the state boundary
    val (late, early) = docs.partition(_._1 % 4 == 0)
    try {
      ms.addData(early.toSeq); q.processAllAvailable()
      ms.addData(late.toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("s_ahash").select("id_a", "id_b", "hamming")
      .distinct().as[(Long, Long, Long)].collect().toSet
    val batch = graft.ops.Dedup.chunk4x16Pairs(
        graft.ops.Multimodal.ahashBmpAssets(
          graft.ops.Multimodal.asBmpAssets(
            Tables.documents(spark, sf0001), "doc_id", "text"))
          .withColumnRenamed("asset_id", "id"),
        maxHamming = 4, maxBucket = 1 << 20)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty, "fixture must produce image near-dup pairs")
  }

  test("bloom dedup stream: verdicts equal the sequential reference fold, no false negatives") {
    import spark.implicits._
    val (buckets, m, j) = (8, 256, 3)
    val streamed = runToMemory(
      StreamOps.bloomDedupStream(
        eventStream.withColumn("dup_key", col("event_id") % 200),
        "dup_key", buckets, m, j).toDF(), "s_bloom", "append")
      .select(col("key"), col("dup"))
      .as[(Long, Boolean)].collect().toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    // reference: same keyset pages (400 rows by event_id), same in-batch
    // key sort (buckets are disjoint, so a global sort is equivalent),
    // same md5 bit positions
    val ids = Tables.events(spark, sf0001).select(col("event_id"))
      .orderBy("event_id").collect().map(_.getLong(0))
    val bits = Array.fill(buckets)(new Array[Long](m / 64))
    val expected = scala.collection.mutable.Map.empty[(Long, Boolean), Int]
    ids.grouped(400).foreach { page =>
      page.map(_ % 200).sorted.foreach { k =>
        val b = java.lang.Math.floorMod(k, buckets.toLong).toInt
        val dup = graft.ops.Sketch.BloomAgg.contains(bits(b), k.toString, j, m)
        if (!dup) {
          (0 until j).foreach { t =>
            val pos = graft.ops.Sketch.BloomAgg.position(k.toString, t, m)
            bits(b)(pos >> 6) |= (1L << (pos & 63))
          }
        }
        expected((k, dup)) = expected.getOrElse((k, dup), 0) + 1
      }
    }
    assert(streamed === expected.toMap)
    // one-sided error: after a key's first arrival, EVERY later arrival is
    // flagged (a bloom never forgets) — at most one dup=false per key
    streamed.keys.groupBy(_._1).foreach { case (k, vs) =>
      assert(streamed.filter { case ((kk, d), _) => kk == k && !d }.values.sum <= 1,
        s"key $k emitted more than one first-arrival verdict")
    }
    assert(streamed.exists { case ((_, d), _) => d }, "no duplicates flagged at all")
  }

  test("streaming as-of enrichment equals the batch as-of join on a time-ordered feed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.events(spark, sf0001).select("event_id", "user_id", "ts")
    val dims = Tables.orders(spark, sf0001)
      .groupBy(col("o_custkey").as("k"), col("o_orderdate").cast("timestamp").as("ts"))
      .agg(max(col("o_orderkey")).as("payload"))
    val evRows = ev.select(col("event_id"), col("user_id"), unix_micros(col("ts")))
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    val dimRows = dims.select(col("k"), unix_micros(col("ts")), col("payload"))
      .as[(Long, Long, Long)].collect().sortBy(_._2)
    // split both feeds at one global time cut: per-key arrival stays
    // time-ordered across the two micro-batches
    val cut = (evRows.map(_._3) ++ dimRows.map(_._2)).sorted
      .apply((evRows.length + dimRows.length) / 2)
    val msE = MemoryStream[(Long, Long, Long)]
    val msD = MemoryStream[(Long, Long, Long)]
    val q = StreamOps.asofEnrichStream(
        msE.toDF().select(col("_1").as("event_id"), col("_2").as("user_id"),
          timestamp_micros(col("_3")).as("ts")),
        msD.toDF().select(col("_1").as("k"), timestamp_micros(col("_2")).as("ts"),
          col("_3").as("payload")))
      .toDF().writeStream.format("memory").queryName("s_asof").outputMode("append")
      .start()
    try {
      msD.addData(dimRows.filter(_._2 <= cut).toSeq)
      msE.addData(evRows.filter(_._3 <= cut).toSeq)
      q.processAllAvailable()
      msD.addData(dimRows.filter(_._2 > cut).toSeq)
      msE.addData(evRows.filter(_._3 > cut).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("s_asof")
      .select(col("event_id"), col("asof_payload"))
      .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    val batch = graft.ops.AsofJoin.asofJoin(ev, dims,
        "user_id", "k", "ts", "ts", Seq("payload"))
      .select(col("event_id"), col("payload"))
      .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(streamed.size === batch.size)
    assert(streamed === batch)
  }

  test("as-of version buffer: dims-first replay exact to maxVersions, bounded beyond") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def run(maxV: Int, name: String): Map[Long, Option[Long]] = {
      val msE = MemoryStream[(Long, Long, Long)]
      val msD = MemoryStream[(Long, Long, Long)]
      val q = StreamOps.asofEnrichStream(
          msE.toDF().select(col("_1").as("event_id"), col("_2").as("user_id"),
            timestamp_micros(col("_3")).as("ts")),
          msD.toDF().select(col("_1").as("k"), timestamp_micros(col("_2")).as("ts"),
            col("_3").as("payload")), maxVersions = maxV)
        .toDF().writeStream.format("memory").queryName(name).outputMode("append")
        .start()
      try {
        // the ENTIRE dimension history lands before any fact arrives —
        // the replay/backfill arrival order a single-row cursor gets wrong
        msD.addData(Seq((1L, 10L, 100L), (1L, 20L, 200L), (1L, 30L, 300L),
          (1L, 40L, 400L), (1L, 50L, 500L)))
        q.processAllAvailable()
        msE.addData(Seq((1L, 1L, 5L), (2L, 1L, 15L), (3L, 1L, 35L), (4L, 1L, 55L)))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).select(col("event_id"), col("asof_payload"))
        .as[(Long, Option[Long])].collect().toMap
    }
    // 8 versions buffer all 5 dims: every event answers exactly
    assert(run(8, "s_asofv8") === Map(1L -> None, 2L -> Some(100L),
      3L -> Some(300L), 4L -> Some(500L)))
    // 2 versions keep only (40,400),(50,500): the too-late event degrades
    // to the oldest buffered version — the documented bounded-state answer
    val v2 = run(2, "s_asofv2")
    assert(v2(4L) === Some(500L) && v2(3L) === Some(400L) && v2(2L) === Some(400L))
  }

  test("streaming cluster maintenance: incremental labels across batches == one-shot CC") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val deltas = StreamOps.clusterDeltaStream(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val maintainer = new StreamOps.ClusterMaintainer(
      Seq.empty[(Long, Long)].toDF("id", "label"))
    val sink = scala.collection.mutable.ListBuffer.empty[(Long, Long, String)]
    val q = deltas.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.ClusterDelta], _: Long) =>
        val rows = b.collect()
        sink ++= rows.map(d => (d.id_a, d.id_b, d.kind))
        maintainer.absorb(b.toDF())
        ()
      }
      .outputMode("append").start()
    try {
      // two micro-batches split mid-corpus: day-2 docs must pair against
      // day-1 bucket state and merge into day-1 components
      ms.addData(docs.filter(_._1 < 25).toSeq); q.processAllAvailable()
      ms.addData(docs.filter(_._1 >= 25).toSeq); q.processAllAvailable()
    } finally q.stop()
    val nodes = sink.filter(_._3 == "node").map(_._1).distinct.toSeq
    val edges = sink.filter(_._3 == "edge").map(d => (d._1, d._2)).distinct.toSeq
    assert(nodes.size === docs.length) // every doc announced exactly once
    assert(edges.nonEmpty, "test corpus must produce near-dup edges")
    assert(edges.exists { case (a, b) => a < 25 && b >= 25 },
      "a cross-batch edge must exist for the test to prove maintenance")
    val batchLabels = graft.ops.Graph.connectedComponentsStar(
        nodes.toDF("id"), edges.toDF("id_a", "id_b"))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val incrLabels = maintainer.labels.orderBy("id").as[(Long, Long)].collect().toSeq
    assert(incrLabels === batchLabels)
  }
}
