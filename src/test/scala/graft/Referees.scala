package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextOps}

/** Relational referees for the native kernels: the definitional
  * column-expression formulations (exploded rows, md5 columns, window
  * frames, per-group aggregates) that the DuckDB oracle SQL mirrors
  * step-for-step. The parity specs (DedupSpec, WinnowSpec, PlanSpec,
  * Round11OpsSpec, Round12OpsSpec) assert each native kernel equal to its
  * referee; no declared query runs them. */
object Referees {

  /** Exploded-shingle relational formulation of the portable MinHash
    * signatures (`Dedup.minhashNearDupPairsPortable`). Output:
    * (id, h0..h{numPerm-1}). */
  def minhashSigsPortableRelational(docs: DataFrame, idCol: String, textCol: String,
                                    n: Int = 3, numPerm: Int = 32): DataFrame = {
    val (as, bs) = Dedup.permConsts(numPerm)
    val sh = docs.select(col(idCol).as("id"), explode(TextOps.shingles(col(textCol), n)).as("s"))
      .withColumn("h", conv(substring(md5(col("s")), 1, 7), 16, 10).cast("long"))
    val aggs = (0 until numPerm).map(p =>
      min((lit(as(p)) * col("h") + lit(bs(p))) % lit(Dedup.MinhashPrime)).as(s"h$p"))
    sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** Exploded-shingle relational formulation of the portable SimHash
    * (`Dedup.simhash4x16Portable`): per-bit ±1 vote sums over the md5
    * halves, packed into four 16-bit chunks c0..c3. */
  def simhash4x16PortableRelational(docs: DataFrame, idCol: String, textCol: String,
                                    n: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), explode(TextOps.shingles(col(textCol), n)).as("s"))
      .withColumn("h1", conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long"))
      .withColumn("h2", conv(substring(md5(col("s")), 9, 8), 16, 10).cast("long"))
    val bitSums = (0 until 64).map { g =>
      val h = if (g < 32) col("h1") else col("h2")
      sum(when(shiftright(h, g % 32).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$g")
    }
    val sums = sh.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val chunkCols = (0 until 4).map { c =>
      (0 until 16).map { k =>
        when(col(s"b${c * 16 + k}") > 0, lit(1L << k)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b)).as(s"c$c")
    }
    sums.select(col("id") +: chunkCols: _*)
  }

  /** The relational formulation of `Dedup.winnowFingerprintsPortable`
    * (explode → md5 column → window-frame MIN). */
  def winnowFingerprintsPortableRelational(docs: DataFrame, idCol: String, textCol: String,
                                           k: Int = 16, w: Int = 4): DataFrame = {
    val norm = docs.select(col(idCol).as("id"),
        TextOps.normalizedText(col(textCol)).as("t"))
      .withColumn("n_grams", (length(col("t")) - k + 1).cast("long"))
      .filter(col("n_grams") >= 1)
    val grams = norm
      .select(col("id"), col("t"), col("n_grams"),
        explode(sequence(lit(1L), col("n_grams"))).as("pos"))
      .withColumn("h",
        conv(substring(md5(expr(s"substring(t, CAST(pos AS INT), $k)")), 1, 7), 16, 10)
          .cast("long"))
      .withColumn("enc", col("h") * lit(1L << 22) + (lit((1L << 22) - 1) - col("pos")))
    val frame = Window.partitionBy(col("id")).orderBy(col("pos")).rowsBetween(0, w - 1)
    grams.withColumn("me", min(col("enc")).over(frame))
      .filter(col("pos") <= greatest(lit(1L), col("n_grams") - (w - 1)))
      .select(col("id"), expr(s"me div ${1L << 22}").as("fp"))
      .distinct()
  }

  /** RELATIONAL referee for `TextOps.textTiling`'s native cohesion dots
    * (`graft.functions.TextTilingDots`): the definitional explode-per-gap
    * formulation ((doc, gap, term) block sums → dot). Kept out of the
    * declared path — its shuffle carries ~2k rows per token with
    * near-unique keys (the 1060% probe) — but it pins the kernel's
    * tokenization/segmentation/block semantics. */
  def textTilingRelationalDots(docs: DataFrame, idCol: String, textCol: String,
                               w: Int, k: Int): DataFrame = {
    // segment = token index / w, matching the kernel (and the oracle) on
    // ARBITRARY text — the earlier w-token regex chunking broke segments
    // early at any non-space separator and agreed only on [a-z0-9 ] fixtures
    val segTerms = docs
      .select(col(idCol), posexplode(TextOps.tokens(col(textCol))).as(Seq("ti", "term")))
      .select(col(idCol),
        call_function("div", col("ti"), lit(w)).cast("int").as("pos"),
        col("term"))
    val nSeg = segTerms.groupBy(idCol).agg(max(col("pos")).as("maxPos"))
    val contrib = segTerms.select(col(idCol), col("term"),
        explode(array(
          (1 to k).map(d => struct((col("pos") + d).as("gap"), lit(true).as("isLeft"))) ++
            (0 until k).map(d => struct((col("pos") - d).as("gap"), lit(false).as("isLeft"))): _*))
          .as("e"))
      .select(col(idCol), col("term"),
        col("e.gap").as("gap"), col("e.isLeft").as("isLeft"))
      .join(nSeg, Seq(idCol))
      .filter(col("gap") >= 1 && col("gap") <= col("maxPos"))
    contrib
      .groupBy(col(idCol), col("gap"), col("term"))
      .agg(sum(when(col("isLeft"), 1L).otherwise(0L)).as("lcnt"),
        sum(when(!col("isLeft"), 1L).otherwise(0L)).as("rcnt"))
      .groupBy(col(idCol), col("gap"))
      .agg(sum(col("lcnt") * col("rcnt")).cast("long").as("dot"))
  }
}
