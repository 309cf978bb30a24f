package graft

import org.apache.spark.sql.SparkSession

import graft.functions.{GraftExtensions, GraftFunctions, MinHash, Winnow}

/** The SQL surface of the native expressions: `GraftFunctions.registerAll`
  * on an existing session, and the `spark.sql.extensions` installation
  * path. Both must produce the same expression trees as the Column API
  * helpers (they share builders). */
class ExtensionsSqlSpec extends SparkSpecBase {

  test("registerAll exposes every native function to pure SQL") {
    GraftFunctions.registerAll(spark)
    assert(spark.sql("SELECT graft_dot(array(1.0D,2.0D), array(3.0D,4.0D))")
      .head.getDouble(0) === 11.0)
    assert(spark.sql("SELECT graft_first_eq(array(1,2,3), array(9,2,3))")
      .head.getInt(0) === 1)
    assert(spark.sql("SELECT graft_collect_capped(x, 2) FROM (VALUES (1),(2),(3)) t(x)")
      .head.getSeq[Int](0).size === 2)
    assert(spark.sql("SELECT graft_minhash_md5(array('ab','cd'), 16)")
      .head.getSeq[Long](0).size === 16)
    assert(spark.sql("SELECT graft_simhash_md5(array('ab','cd'))")
      .head.getSeq[Long](0).size === 4)
    assert(spark.sql("SELECT graft_lsh_sigs(array(1.0D,0.0D), array(0.5D,0.5D), 1, 2)")
      .head.getSeq[Long](0).size === 1)
    // centroids (0,0) and (2,2): (1,0) is nearer the first
    assert(spark.sql("SELECT graft_nearest_cell(array(1.0D,0.0D), " +
        "array(0.0D,0.0D,2.0D,2.0D), 2, 2)")
      .head.getInt(0) === 0)
    // identity matrix: projection returns the vector
    assert(spark.sql("SELECT graft_matvec(array(3.0D,4.0D), " +
        "array(1.0D,0.0D,0.0D,1.0D), 2, 2)")
      .head.getSeq[Double](0) === Seq(3.0, 4.0))
    // round-11 kernels
    assert(spark.sql("SELECT graft_stopword_counts('the cat the', 'the|cat,dog')")
      .head.getSeq[Int](0) === Seq(2, 1))
    assert(spark.sql("SELECT graft_ac_counts('a a a', 'a a|a')")
      .head.getSeq[Long](0) === Seq(2L, 3L))
    assert(spark.sql("SELECT graft_ac_summary('a a a', 'a a|a')")
      .head.getSeq[Long](0) === Seq(5L, 2L))
    assert(spark.sql("SELECT graft_viterbi_seg('abab', 'a:7,b:9,ab:12', 4)")
      .head.getString(0) === "ab|ab")
    // 20 identical tokens, w=10 -> 2 segments, 1 gap; dot = 10*10
    assert(spark.sql("SELECT graft_texttiling_dots(" +
        "concat_ws(' ', array_repeat('tok', 20)), 10, 2)")
      .head.getSeq[Long](0) === Seq(100L))
  }

  test("SQL calls build the same expression as the Column API helpers") {
    GraftFunctions.registerAll(spark)
    import spark.implicits._
    val df = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val viaSql = df.selectExpr("graft_winnow(text, 5, 4) AS fp").head.getSeq[Long](0)
    val viaCol = df.select(Winnow.fingerprints($"text", 5, 4).as("fp")).head.getSeq[Long](0)
    assert(viaSql === viaCol && viaSql.nonEmpty)
    val sigSql = df.selectExpr("graft_minhash_md5(array('abc','def','ghi'), 8) AS s")
      .head.getSeq[Long](0)
    val sigCol = df.select(MinHash.sigsMd5(
      org.apache.spark.sql.functions.array(
        org.apache.spark.sql.functions.lit("abc"),
        org.apache.spark.sql.functions.lit("def"),
        org.apache.spark.sql.functions.lit("ghi")), 8).as("s")).head.getSeq[Long](0)
    assert(sigSql === sigCol)
  }

  test("graft_minhash_xx_bands rejects bad band geometry at analysis") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      MinHash.XxBandsFunctionName, MinHash.xxBandsBuilder, "scala_udf")
    assert(spark.sql("SELECT graft_minhash_xx_bands(array('ab','cd'), 64, 4)")
      .head.getSeq[Long](0).size === 16)
    // (64, 5) used to keep 12 bands and drop the last 4 permutations
    Seq((64, 5), (0, 4), (64, 0), (-8, 4)).foreach { case (numPerm, rowsPerBand) =>
      val e = intercept[IllegalArgumentException](spark.sql(
        s"SELECT graft_minhash_xx_bands(array('ab','cd'), $numPerm, $rowsPerBand)"))
      assert(e.getMessage.contains(MinHash.XxBandsFunctionName), e.getMessage)
    }
  }

  test("session-extensions installation exposes the functions at session build") {
    // NOTE: the `spark.sql.extensions` CONFIG string is a static conf — it
    // only applies when the SparkContext itself is created, so a test
    // sharing the suite's context must use the equivalent programmatic
    // `withExtensions` path (same GraftExtensions class, same injection).
    val shared = spark // materialize the lazy shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-extensions-test")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      assert(s2 ne shared)
      assert(s2.sql("SELECT graft_dot(array(1.0D,2.0D), array(3.0D,4.0D))")
        .head.getDouble(0) === 11.0)
      // DESCRIBE FUNCTION works because injectFunction carries ExpressionInfo
      val desc = s2.sql("DESCRIBE FUNCTION graft_winnow").collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains("graft_winnow"))
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
