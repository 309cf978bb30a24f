package graft

import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.sources.Tables

/** Round-12 guards: the reliable-checkpoint mode of `Materialize.stage`
  * (the 100 TB executor-loss posture — r11 verdict #3), and the r11
  * advice fixes (frameSigs nFrames bound, quote-escaped blocklist oracle,
  * fail-loud empty-ground-truth recall, token-index TextTiling oracle on
  * punctuated text, unigram types-cache release). */
class Round12OpsSpec extends SparkSpecBase {

  test("Materialize.stage: reliable-checkpoint mode yields bit-identical labelProp output") {
    val docs = Tables.documents(spark, sf0001)
    val pairs = graft.ops.Dedup.ngramJaccardPairsPrefix(
      docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b")
    def run(): Seq[(Long, Long, Long)] =
      graft.ops.Graph.labelPropagation(pairs, rounds = 3)
        .orderBy("id", "label")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val local = run()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Materialize.ConfKey, dir)
    try {
      val reliable = run()
      assert(local.nonEmpty && local === reliable)
      // the mode actually engaged: checkpoint files were written
      assert(spark.sparkContext.getCheckpointDir.nonEmpty)
      val root = new java.io.File(spark.sparkContext.getCheckpointDir.get
        .stripPrefix("file:"))
      assert(root.exists && root.listFiles != null && root.listFiles.nonEmpty,
        s"no checkpoint data under $root")
    } finally spark.conf.unset(Materialize.ConfKey)
  }

  test("frameSigs: the documented nFrames=8 bound is reachable (7 remap frames)") {
    val docs = Tables.documents(spark, sf0001).limit(4)
    val out = graft.ops.Multimodal.frameSigs(docs, "doc_id", "text", nFrames = 8)
      .groupBy("doc_id").count().collect().map(_.getLong(1)).toSeq
    assert(out.nonEmpty && out.forall(_ == 8L))
  }

  test("blocklist oracle escapes single quotes in patterns") {
    val sql = graft.ops.CleanOps.blocklistScreenOracle(
      "doc_id", "text", Seq("don't", "plain"))
    assert(sql.contains("'don''t'") && sql.contains("'plain'"))
  }

  test("dedup recall fails loudly when the exact ground-truth tier is empty") {
    // two documents with zero shared shingles: exact tier returns no pairs
    val docs = spark.createDataFrame(Seq(
      (1L, (1 to 30).map(i => s"aa$i").mkString(" ")),
      (2L, (1 to 30).map(i => s"zz$i").mkString(" ")))).toDF("doc_id", "text")
    val e = graft.ops.Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      .select(col("id_a"), col("id_b"), lit(1L).as("ie"), lit(0L).as("im"))
    val agg = e.groupBy("id_a", "id_b")
      .agg(max("ie").as("e"), max("im").as("m"))
      .agg(sum(col("e")).cast("long").as("n_exact"),
        sum(col("e")).cast("long").as("n_both"))
      .select(when(coalesce(col("n_exact"), lit(0L)) === 0,
          raise_error(lit("q_dedup_recall: exact tier returned no pairs")))
        .otherwise(call_function("div", col("n_both") * 1000000L, col("n_exact")))
        .as("recall_micro"))
    val ex = intercept[Exception](agg.collect())
    assert(ex.getMessage != null)
  }

  test("texttiling relational referee matches the kernel on PUNCTUATED text") {
    // commas/periods between tokens: the old w-token regex segmentation
    // broke a segment at every separator; the token-index form must not
    val docs = spark.createDataFrame(Seq(
      (1L, (1 to 47).map(i => s"w$i,").mkString(" ")),
      (2L, (1 to 33).map(i => if (i % 5 == 0) s"t$i." else s"t$i").mkString(" "))))
      .toDF("doc_id", "text")
    val kernel = docs.select(col("doc_id"),
        posexplode(graft.functions.TextTilingDots.of(col("text"), 10, 2))
          .as(Seq("g0", "dot")))
      .select(col("doc_id"), (col("g0") + 1).as("gap"), col("dot"))
      .orderBy("doc_id", "gap").collect().toSeq
    val relational = Referees
      .textTilingRelationalDots(docs, "doc_id", "text", w = 10, k = 2)
      .orderBy("doc_id", "gap").collect().toSeq
    assert(kernel.nonEmpty && kernel === relational)
  }

  test("unigram segmenters release the types cache (no per-invocation leak)") {
    val docs = Tables.documents(spark, sf0001).limit(50)
    def cachedCount: Int =
      spark.sparkContext.getPersistentRDDs.size
    val before = cachedCount
    graft.ops.TrainOps.unigramSegment(docs, "text").count()
    graft.ops.TrainOps.unigramSegmentEm(docs, "text").count()
    // unpersist(blocking=false) is async, and the staged outputs' own
    // localCheckpoint blocks are released by the ContextCleaner on GC —
    // poll with explicit GCs; a CacheManager-held leak (the r11 advice
    // finding) would never clear, a healthy run clears within the window
    val deadline = System.nanoTime() + 30e9.toLong
    var after = cachedCount
    while (after > before && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(200); after = cachedCount
    }
    assert(after <= before, s"types cache leaked: $before -> $after persistent RDDs")
  }
}
