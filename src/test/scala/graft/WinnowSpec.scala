package graft

import org.apache.spark.sql.functions._

import graft.functions.{Winnow, WinnowFingerprints}
import graft.ops.Dedup
import graft.sources.Tables

class WinnowSpec extends SparkSpecBase {
  import spark.implicits._

  private val K = 5
  private val W = 4

  test("identical texts produce identical fingerprint arrays") {
    val a = WinnowFingerprints.winnow("the quick brown fox jumps over the lazy dog", K, W)
    val b = WinnowFingerprints.winnow("the quick brown fox jumps over the lazy dog", K, W)
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("winnow guarantee: a shared substring of length >= w+k-1 shares a fingerprint") {
    val common = "abcdefghijklmnopqrstuvwxyz0123456789" // 36 > w+k-1 = 8
    val d1 = "XXXX " + common + " YYYY"
    val d2 = "totally different prefix " + common + " and suffix"
    val f1 = WinnowFingerprints.winnow(d1, K, W).toSet
    val f2 = WinnowFingerprints.winnow(d2, K, W).toSet
    assert(f1.intersect(f2).nonEmpty)
  }

  test("short text below k yields no fingerprints; at k yields one") {
    assert(WinnowFingerprints.winnow("abc", K, W).isEmpty)
    assert(WinnowFingerprints.winnow("abcde", K, W).length === 1)
  }

  test("codegen and interpreted paths agree") {
    val df = Tables.documents(spark, sf0001).limit(50)
      .select(col("doc_id"), Winnow.fingerprints(col("text"), K, W).as("fps"))
    val viaCodegen = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaOracle = Tables.documents(spark, sf0001).limit(50)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> WinnowFingerprints.winnow(r.getString(1), K, W).toSeq).toMap
    assert(viaCodegen === viaOracle)
  }

  /** Reference md5-winnow matching winnowFingerprintsPortable's semantics:
    * 28-bit md5 gram hashes, rightmost window-min, distinct values. */
  private def portableRef(text: String, k: Int, w: Int): Set[Long] = {
    val t = text.replaceAll("\\s+", " ").trim.toLowerCase
    val nG = t.length - k + 1
    if (nG < 1) return Set.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = Array.tabulate(nG) { i =>
      md.reset()
      val d = md.digest(t.substring(i, i + k).getBytes("UTF-8"))
      // first 7 hex chars = first 28 bits of the digest
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString.take(7), 16)
    }
    val lastStart = math.max(1, nG - (w - 1))
    (1 to lastStart).map { pos =>
      val enc = (pos until math.min(pos + w, nG + 1))
        .map(p => hs(p - 1) * (1L << 22) + ((1L << 22) - 1 - p)).min
      enc >> 22
    }.toSet
  }

  test("portable fingerprints match the reference md5-winnow exactly") {
    val docs = Tables.documents(spark, sf0001).limit(40)
    val got = Dedup.winnowFingerprintsPortable(docs, "doc_id", "text", k = 16, w = 4)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exp = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> portableRef(r.getString(1), 16, 4))
      .filter(_._2.nonEmpty).toMap
    assert(got === exp)
  }

  test("native md5-winnow expression equals the relational formulation") {
    val docs = Tables.documents(spark, sf0001)
    val native = Dedup.winnowFingerprintsPortable(docs, "doc_id", "text", k = 16, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val relational = Referees.winnowFingerprintsPortableRelational(docs, "doc_id", "text", k = 16, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(native === relational && native.nonEmpty)
  }

  test("planted copied passage is detected; unrelated docs are not paired") {
    val passage = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq(
      (1L, s"intro text here $passage closing remarks"),
      (2L, s"completely different opening $passage different ending too"),
      (3L, "no shared content at all just random words qqq www eee rrr")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlapPairs(docs, "doc_id", "text", K, W, minShared = 5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }
}
