package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

/** Bit-parity of the r15 one-pass xxhash64-family kernels against the
  * exploded-shingle relational formulations they replace (the sigsMd5 /
  * chunksMd5 discipline: a native kernel that changes a query's internals
  * ships with the relational twin asserted equal on real data).
  *
  *  - [[XxMinHashBands]] vs: explode shingles → numPerm min(xxhash64(p, s))
  *    aggregates → xxhash64 over each band's signature slice;
  *  - [[XxSimHash64]]  vs: explode shingles → 64 signed bit-vote sums of
  *    xxhash64(s) → OR-fold of positive-vote bits.
  */
class XxKernelParitySpec extends SparkSpecBase {

  private lazy val arrays = {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    docs.select(col("doc_id").as("id"),
      graft.ops.TextOps.shingles(col("text"), 3).as("shs"))
  }

  test("XxMinHashBands matches the exploded numPerm-min aggregate + band fold") {
    val numPerm = 8
    val rowsPerBand = 2
    val kernel = arrays.filter(size(col("shs")) > 0)
      .select(col("id"),
        MinHash.bandsXx(col("shs"), numPerm, rowsPerBand).as("bhs"))
      .select(col("id"), posexplode(col("bhs")))
      .select(col("id"), col("pos").as("band"), col("col").as("bh"))
    val sh = arrays.select(col("id"), explode(col("shs")).as("s"))
    val aggs = (0 until numPerm).map(p => min(xxhash64(lit(p), col("s"))).as(s"h$p"))
    val sigs = sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
    val bandCols = (0 until numPerm / rowsPerBand).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(slice: _*).as("bh"))
    }
    val relational = sigs.select(col("id"), explode(array(bandCols: _*)).as("e"))
      .select(col("id"), col("e.band").as("band"), col("e.bh").as("bh"))
    assert(kernel.exceptAll(relational).isEmpty && relational.exceptAll(kernel).isEmpty,
      "band hashes must be bit-identical to the relational formulation")
    // bounded geometry sanity: one row per (doc-with-shingles, band)
    val nDocs = arrays.filter(size(col("shs")) > 0).count()
    assert(kernel.count() == nDocs * (numPerm / rowsPerBand))
  }

  test("XxSimHash64 matches the exploded 64-bit-vote aggregate") {
    val kernel = arrays.filter(size(col("shs")) > 0)
      .select(col("id"), SimHash.sim64Xx(col("shs")).as("simhash"))
    val sh = arrays.select(col("id"), explode(col("shs")).as("s"))
      .withColumn("h", xxhash64(col("s")))
    val bitSums = (0 until 64).map { k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$k")
    }
    val sums = sh.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 64).map { k =>
      when(col(s"b$k") > 0, shiftleft(lit(1L), k)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    val relational = sums.select(col("id"), sim.as("simhash"))
    assert(kernel.exceptAll(relational).isEmpty && relational.exceptAll(kernel).isEmpty,
      "packed simhash must be bit-identical to the relational formulation")
  }

  test("XxShingleHashes matches sort_array(transform(shingles, xxhash64))") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    for (n <- Seq(2, 3, 5)) {
      val kernel = docs.select(col("doc_id").as("id"),
        ShingleHashes.of(col("text"), n).as("hs"))
      val relational = docs.select(col("doc_id").as("id"),
        sort_array(transform(graft.ops.TextOps.shingles(col("text"), n),
          s => xxhash64(s))).as("hs"))
      assert(kernel.exceptAll(relational).isEmpty && relational.exceptAll(kernel).isEmpty,
        s"n=$n: kernel hashes must be bit-identical to the relational chain")
    }
    // adversarial shapes: unicode (multi-byte separators + lowering),
    // punctuation-only, shorter-than-n, duplicated shingles, empty
    import spark.implicits._
    val edge = Seq(
      (1L, "The QUICK brown fox jumps over the quick brown fox"),
      (2L, "Héllo wörld ÉÉ naïve 世界 abc123 ABC123 x"),
      (3L, "!!! --- ??? ***"),
      (4L, "one two"),
      (5L, ""),
      (6L, "a_b_c a b c a b c a b"),
      (7L, "\ttabs\nnewlinesvt  spaces")
    ).toDF("doc_id", "text")
    val k = edge.select(col("doc_id").as("id"),
      ShingleHashes.of(col("text"), 3).as("hs"))
    val r = edge.select(col("doc_id").as("id"),
      sort_array(transform(graft.ops.TextOps.shingles(col("text"), 3),
        s => xxhash64(s))).as("hs"))
    assert(k.exceptAll(r).isEmpty && r.exceptAll(k).isEmpty,
      "edge-shape docs must match the relational chain")
  }

  test("empty shingle arrays produce no banded rows and no simhash rows") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta epsilon"), (2L, ""), (3L, "x"))
      .toDF("doc_id", "text")
    // n=3 word shingles: doc 2 has no tokens, doc 3 has fewer than 3 —
    // both must vanish exactly as the relational groupBy dropped them
    val pairsIn = docs.select(col("doc_id").as("id"),
      graft.ops.TextOps.shingles(col("text"), 3).as("shs"))
    val banded = pairsIn.filter(size(col("shs")) > 0)
      .select(col("id"), posexplode(MinHash.bandsXx(col("shs"), 4, 2)))
    assert(banded.select("id").distinct().collect().map(_.getLong(0)).toSet == Set(1L))
    val sims = pairsIn.filter(size(col("shs")) > 0)
      .select(col("id"), SimHash.sim64Xx(col("shs")).as("simhash"))
    assert(sims.count() == 1)
  }

  test("ShingleHashes.growSize clamps past 2^30 instead of going negative") {
    // sizes only: nothing of this length is allocated
    assert(ShingleHashes.growSize(257) === 512) // the doubling below the clamp
    val huge = (1 << 30) + 1
    assert(ShingleHashes.growSize(huge) === ShingleHashes.MaxArrayLength)
    assert(ShingleHashes.growSize(huge) >= huge)
    val e = intercept[IllegalArgumentException](
      ShingleHashes.growSize(ShingleHashes.MaxArrayLength + 1))
    assert(e.getMessage.contains(ShingleHashes.FunctionName))
  }
}
