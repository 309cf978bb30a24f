package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Similarity}
import graft.sources.Tables

class DedupSpec extends SparkSpecBase {
  private lazy val docs = Tables.documents(spark, sf0001)

  test("incremental dedup equals the full portable tier filtered to new-batch pairs") {
    val full = Dedup.minhashNearDupPairsPortable(docs, "doc_id", "text", 3, 32, 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (a, b) => a % 5 == 0 || b % 5 == 0 }
    val got = Dedup.minhashIncrementalPairsPortable(docs, "doc_id", "text",
        isNew = id => id % 5 === 0, 3, 32, 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    assert(expected.size < full.size, "history-only pairs must exist and be excluded")
  }

  test("containment pairs: prefix filter is lossless vs the naive ordered-pairs form") {
    val got = Dedup.containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // naive: full exploded self-join on shingle hashes, ordered pairs
    val sh = docs.select(col("doc_id"),
        explode(graft.ops.TextOps.shingles(col("text"), 3)).as("s"))
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getString(1)).toSet).toMap
    val want = (for {
      (ia, sa) <- sh.toSeq; (ib, sb) <- sh.toSeq if ia != ib
      inter = (sa & sb).size
      c = BigDecimal(inter.toDouble / sa.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= 0.9
    } yield (ia, ib, c)).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("containment catches the quoted-subset pair Jaccard dilutes away") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " " + (1 to 60).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(d, "doc_id", "text", n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cont.toSeq === Seq((1L, 2L))) // short ⊂ long only, not the reverse
    val jac = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.5)
      .collect()
    assert(jac.isEmpty, "Jaccard must dilute below 0.5 on this pair")
  }

  test("fuzzy dedup verifies blocked candidates with normalized edit distance") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumped over the lazy dog"), // one-word edit
      (3L, "the quick brown cat sat on a very warm mat today and then left"))
      .toDF("doc_id", "text")
    val out = Dedup.fuzzyDedupPairs(d, "doc_id", "text",
        n = 3, maxDf = 16, minShared = 1, simThreshold = 0.8)
      .orderBy("id_a", "id_b").collect()
    // (1,2) blocked AND verified; (1,3)/(2,3) share the opening shingle so
    // they block, but fail edit-distance verification
    val verdicts = out.map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Boolean]("is_dup"))).toMap
    assert(verdicts((1L, 2L)))
    assert(verdicts.contains((1L, 3L)) && !verdicts((1L, 3L)))
    val r12 = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
    assert(r12.getAs[Long]("edit_dist") === 2L) // jumps -> jumped: sub + insert
  }

  private lazy val exactPairs =
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exact n-gram Jaccard finds the planted near-dup pairs") {
    assert(exactPairs.nonEmpty)
  }

  test("prefix-filtered Jaccard is lossless vs the naive self-join") {
    val pf = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pf === exactPairs)
  }

  test("MinHash-LSH recalls the exact near-dup pairs with precision 1.0") {
    val mh = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 3, 64, 2, 0.5)
    val got = mh.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is 1.0 by construction (exact post-verification)...
    assert(got.subsetOf(exactPairs))
    // ...and 32 bands x 2 rows makes recall ~1 at j >= 0.5 for this corpus
    assert(got === exactPairs, s"missed: ${exactPairs -- got}")
  }

  test("SimHash candidates overlap the exact near-dup pairs and respect the hamming bound") {
    val sh = Dedup.simhashNearDupPairs(docs, "doc_id", "text", 3, 16)
    val rows = sh.collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // hamming bound holds by construction for everything reported
    assert(rows.forall(_.getAs[Int]("hamming") <= 16))
    // recall is probabilistic (pigeonhole needs one clean 16-bit chunk), but
    // the planted near-dups give a nonempty overlap with the exact baseline
    assert((got & exactPairs).nonEmpty, s"no overlap: got=${got.take(5)}")
  }

  test("native md5-minhash signatures equal the relational formulation bit-for-bit") {
    val numPerm = 32
    val native = docs
      .select(col("doc_id").as("id"), graft.ops.TextOps.shingles(col("text"), 3).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("id"), graft.functions.MinHash.sigsMd5(col("shs"), numPerm).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val relational = Referees.minhashSigsPortableRelational(docs, "doc_id", "text", 3, numPerm)
      .collect().map(r => r.getLong(0) -> (1 to numPerm).map(r.getLong).toVector).toMap
    assert(native.nonEmpty && native === relational)
  }

  test("native md5-simhash chunks equal the relational formulation bit-for-bit") {
    val native = Dedup.simhash4x16Portable(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val relational = Referees.simhash4x16PortableRelational(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(native.nonEmpty && native === relational)
  }

  test("simhash is a deterministic 64-bit signature") {
    val s1 = Dedup.simhash64(docs.limit(20), "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val s2 = Dedup.simhash64(docs.limit(20), "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(s1 === s2)
  }
}

class SimilaritySpec extends SparkSpecBase {
  private lazy val emb = Tables.embeddings(spark, sf0001)

  test("LSH top-k returns a subset of brute-force candidates, correctly ranked") {
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, q, 50)
      .select("qid", "nid", "cos").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Similarity.lshTopK(emb, q, 10).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("nid"))
      // exact cosine of an LSH candidate must agree with the brute-force value
      brute.get(key).foreach(c => assert(math.abs(c - r.getAs[Double]("cos")) < 1e-9))
    }
    // one rn per (qid, rank), ranks contiguous from 1 — the multi-band
    // candidate union must not leak duplicate (qid, nid) rows
    lsh.groupBy(_.getAs[Long]("qid")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rn")).sorted.toSeq === (1 to rs.length))
      assert(rs.map(_.getAs[Long]("nid")).distinct.length === rs.length)
    }
  }

  test("semDedup drops exactly the non-minimal members of same-cell near-dup groups") {
    val out = Similarity.semDedup(emb, threshold = 0.4, nList = 16).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cid"), r.getAs[Boolean]("keep")))
    val cid = out.map(t => t._1 -> t._2).toMap
    // ground truth from the exact all-pairs baseline, restricted to cells
    val dropExpected = Similarity.nearDupPairs(emb, 0.4).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .filter { case (a, b) => cid(a) == cid(b) }.map(_._2).toSet
    out.foreach { case (id, _, keep) => assert(keep === !dropExpected.contains(id)) }
    assert(dropExpected.nonEmpty, "test data must exercise the drop branch")
  }

  test("banded LSH top-k recall@10 >= 0.8 against brute force") {
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, q, 10).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val lsh = Similarity.lshTopK(emb, q, 10).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"banded LSH recall@10 = $recall")
  }

  test("IVF top-k: cosines exact, ranking consistent, recall over brute force") {
    val q = emb.filter(col("vec_id") < 20)
    val k = 10
    val brute = Similarity.bruteForceTopK(emb, q, k).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"), r.getAs[Double]("cos")))
    val bruteCos = brute.map(t => (t._1, t._2) -> t._3).toMap
    val ivf = Similarity.ivfTopK(emb, q, k, nList = 8, nProbe = 4).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"), r.getAs[Double]("cos"),
        r.getAs[Int]("rn")))
    assert(ivf.nonEmpty)
    // cosines of shared pairs agree exactly; per-query ranks are 1..n
    ivf.foreach { case (qid, nid, cos, _) =>
      bruteCos.get((qid, nid)).foreach(c => assert(math.abs(c - cos) < 1e-9))
    }
    ivf.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._4).sorted.toSeq === (1 to rs.length))
    }
    // probing half the lists must recover a meaningful share of true top-k
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val hit = ivf.count(t => bruteSet((t._1, t._2)))
    val recall = hit.toDouble / brute.length
    assert(recall >= 0.25, s"IVF recall@$k too low: $recall")
  }

  test("fixed-centroid IVF: cosines exact, ranks well-formed, bounded probe") {
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, q, 50)
      .select("qid", "nid", "cos").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ivf = Similarity.ivfTopKFixed(emb, q, k = 10, nList = 16, nProbe = 4).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("nid"))
      brute.get(key).foreach(c => assert(math.abs(c - r.getAs[Double]("cos")) < 1e-9))
    }
    ivf.groupBy(_.getAs[Long]("qid")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rn")).sorted.toSeq === (1 to rs.length))
    }
  }

  test("lshNearDupPairs maxBucket cap drops pairs only from oversized buckets") {
    val capped = Similarity.lshNearDupPairs(emb, 0.4, maxBucket = Some(1)).collect()
    val uncapped = Similarity.lshNearDupPairs(emb, 0.4).collect()
    // cap=1 keeps no bucket (every colliding bucket has >= 2 members)
    assert(capped.isEmpty && uncapped.nonEmpty)
  }

  test("banded-LSH near-dup pairs equal the exact all-pairs baseline") {
    val exact = Similarity.nearDupPairs(emb, 0.4).orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val lsh = Similarity.lshNearDupPairs(emb, 0.4, rowsPerBand = 3, numBands = 48)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(exact.nonEmpty)
    assert(lsh === exact) // recall 1.0 on real data, precision 1.0 by verify
  }

  test("tight-geometry LSH recovers the planted clusters sub-quadratically") {
    val corpus = graft.queries.ExtensionQueries.plantedCorpus(spark, sf0001)
    val exact = Similarity.nearDupPairs(corpus, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(corpus, 0.9, rowsPerBand = 16, numBands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 5 planted clusters of 6 (source + 5 copies) = 75 pairs; nothing else
    // in the quasi-orthogonal corpus reaches cos 0.9
    assert(exact.size === 75, s"planting must create exactly the clusters, got ${exact.size}")
    assert(lsh.subsetOf(exact), "precision must be 1.0 (exact cosine verify)")
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"planted recall = $recall")
  }

  test("cosine of a vector with itself is 1") {
    val self = Similarity.nearDupPairs(
      emb.limit(1).union(emb.limit(1).withColumn("vec_id", col("vec_id") + 1000000)), 0.99)
    assert(self.count() === 1)
  }
}

class DotProductSpec extends SparkSpecBase {
  import graft.functions.DotProduct

  private def df = {
    import spark.implicits._
    Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array.empty[Double], Array.empty[Double])
    ).toDF("a", "b")
  }

  test("codegen and interpreted paths agree") {
    val expected = Seq(32.0, 0.0)
    Seq("true", "false").foreach { cg =>
      spark.conf.set("spark.sql.codegen.wholeStage", cg)
      try {
        val got = df.select(DotProduct.dot(col("a"), col("b")).as("d"))
          .collect().map(_.getDouble(0)).toSeq
        assert(got === expected, s"wholeStage=$cg")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("null array yields null") {
    val withNull = df.select(
      when(lit(false), col("a")).as("a"), col("b"))
    val r = withNull.select(DotProduct.dot(col("a"), col("b")).as("d")).collect()
    assert(r.forall(_.isNullAt(0)))
  }
}

class MultimodalSpec extends SparkSpecBase {
  test("asset schema: binary content + typed metadata") {
    val assets = Multimodal.asAssets(Tables.documents(spark, sf0001), "doc_id", "text", "text/plain")
    val schema = assets.schema
    assert(schema("content").dataType.typeName === "binary")
    assert(schema("meta").dataType.typeName === "struct")
    assert(assets.count() === 500)
  }
  test("WAV codec: encode is a valid RIFF container, decode round-trips the stats") {
    val samples = "hello WAV world, 0123".getBytes("US-ASCII")
    val wav = Multimodal.encodeWav8(samples)
    assert(wav.length === 44 + samples.length)
    assert(new String(wav, 0, 4, "US-ASCII") === "RIFF")
    assert(new String(wav, 8, 4, "US-ASCII") === "WAVE")
    val st = Multimodal.decodeWav8(wav)
    assert(st.sampleRate === Multimodal.SampleRate)
    assert(st.nSamples === samples.length.toLong)
    val u = samples.map(_ & 0xff)
    assert(st.peak === u.max && st.trough === u.min)
    assert(st.meanMicro === u.map(_.toLong).sum * 1000000L / u.length)
    assert(st.energy === u.map(s => (s - 128L) * (s - 128L)).sum)
  }
  test("WAV decode walks extra chunks and rejects non-PCM-u8 payloads") {
    import java.nio.{ByteBuffer, ByteOrder}
    val samples = Array[Byte](1, 2, 3, 127, -128) // -128 = 0x80 = sample 128
    val base = Multimodal.encodeWav8(samples)
    // splice a LIST chunk (odd size → word-aligned walk) between fmt and data
    val junk = Array[Byte](9, 9, 9)
    val bb = ByteBuffer.allocate(base.length + 8 + junk.length + 1).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(base, 0, 36) // RIFF..fmt chunk end
    bb.put("LIST".getBytes("US-ASCII")).putInt(junk.length).put(junk).put(0.toByte)
    bb.put(base, 36, base.length - 36)
    val spliced = bb.array()
    assert(Multimodal.decodeWav8(spliced) === Multimodal.decodeWav8(base))
    // 16-bit flag must be rejected
    val bad = base.clone(); bad(34) = 16
    intercept[IllegalArgumentException](Multimodal.decodeWav8(bad))
  }
  test("WAV decode fails fast on overrunning chunk sizes; empty data is zeroed stats") {
    import java.nio.{ByteBuffer, ByteOrder}
    val base = Multimodal.encodeWav8(Array[Byte](1, 2, 3))
    // a chunk size >= 2^31 used to truncate negative in the position bump
    // and spin the walk forever; it must raise a decode error instead
    val hostile = base.clone()
    ByteBuffer.wrap(hostile).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(40, 0x80000010) // data chunk size -> 2^31 + 16
    intercept[IllegalArgumentException](Multimodal.decodeWav8(hostile))
    // encodeWav8 of an empty payload is a valid container and must decode
    val empty = Multimodal.decodeWav8(Multimodal.encodeWav8(Array.empty[Byte]))
    assert(empty.nSamples === 0L && empty.energy === 0L && empty.meanMicro === 0L)
    // asWavAssets drops empty payloads (the oracle's no-row semantic)
    import spark.implicits._
    val two = Seq((1L, "abc"), (2L, "")).toDF("doc_id", "text")
    assert(Multimodal.asWavAssets(two, "doc_id", "text").count() === 1L)
  }
  test("partition-batched WAV feature extraction is partitioning-invariant") {
    val docs = Tables.documents(spark, sf0001)
    val f1 = Multimodal.extractWavFeatures(Multimodal.asWavAssets(docs, "doc_id", "text"))
      .orderBy("asset_id").limit(5).collect().toSeq
    val f2 = Multimodal.extractWavFeatures(
        Multimodal.asWavAssets(docs.repartition(7), "doc_id", "text"))
      .orderBy("asset_id").limit(5).collect().toSeq
    assert(f1 === f2)
    assert(f1.forall(_.getAs[Int]("sample_rate") === Multimodal.SampleRate))
  }
  test("frame sampling explodes deterministic frames") {
    val assets = Multimodal.asAssets(Tables.documents(spark, sf0001).limit(3), "doc_id", "text", "video/fake")
    val frames = Multimodal.sampleFrames(assets, 4)
    assert(frames.count() === 12)
    assert(frames.select("frame_fp").distinct().count() === 12)
  }
  test("BMP codec: container layout + decode round-trips pixels exactly") {
    // 3x2 image with distinct pixels: row order + padding both matter
    val px = Array[Byte](10, 20, 30, 40, 50, 60)
    val bmp = Multimodal.encodeBmp24(px, 3, 2)
    assert(bmp(0) === 'B'.toByte && bmp(1) === 'M'.toByte)
    // rowBytes = (3*3+3) & ~3 = 12 -> file is 54 + 24 bytes
    assert(bmp.length === 54 + 12 * 2)
    // bottom-up: first stored row is the LAST logical row (40,50,60)
    assert((bmp(54) & 0xff) === 40 && (bmp(57) & 0xff) === 50)
    val (w, h, back) = Multimodal.decodeBmp24(bmp)
    assert(w === 3 && h === 2 && back.toSeq === px.toSeq)
  }
  test("BMP decode honors pixel offset and rejects malformed containers") {
    import java.nio.{ByteBuffer, ByteOrder}
    val px = Array.tabulate(8)(i => (i * 30).toByte)
    val base = Multimodal.encodeBmp24(px, 4, 2)
    // a gap between header and pixel array is legal if the offset says so
    val gap = 6
    val shifted = new Array[Byte](base.length + gap)
    System.arraycopy(base, 0, shifted, 0, 54)
    System.arraycopy(base, 54, shifted, 54 + gap, base.length - 54)
    ByteBuffer.wrap(shifted).order(ByteOrder.LITTLE_ENDIAN).putInt(10, 54 + gap)
    val (_, _, viaOffset) = Multimodal.decodeBmp24(shifted)
    assert(viaOffset.toSeq === px.toSeq)
    // 8bpp flag, RLE compression, and overrunning pixel arrays all fail fast
    val bpp = base.clone(); bpp(28) = 8
    intercept[IllegalArgumentException](Multimodal.decodeBmp24(bpp))
    val rle = base.clone(); rle(30) = 1
    intercept[IllegalArgumentException](Multimodal.decodeBmp24(rle))
    val overrun = base.clone()
    ByteBuffer.wrap(overrun).order(ByteOrder.LITTLE_ENDIAN).putInt(22, 99999)
    intercept[IllegalArgumentException](Multimodal.decodeBmp24(overrun))
  }
  test("BMP stats: h_edges pairs in-row neighbors only; resize picks in(2x,2y)") {
    // 4x2: |Δ|>=32 edges within rows; the row boundary (13->200) must NOT count
    val px = Array[Byte](10, 50, 60, 13, 200.toByte, 210.toByte, 1, 2)
    val s = Multimodal.bmpStats(4, 2, px)
    assert(s.hEdges === 3L) // 10->50, 60->13, 210->1
    assert(s.peak === 210 && s.trough === 1)
    import spark.implicits._
    val docs = Seq((7L, "abcdefghijklmnopABCDEFGHIJKLMNOPzz")).toDF("doc_id", "text")
    val assets = Multimodal.asBmpAssets(docs, "doc_id", "text") // 16x2, "zz" truncated
    val rs = Multimodal.resizeBmpAssets(assets, factor = 2)
    val (w2, h2, rpx) = Multimodal.decodeBmp24(
      rs.collect().head.getAs[Array[Byte]]("content"))
    assert(w2 === 8 && h2 === 1)
    assert(new String(rpx, "US-ASCII") === "acegikmo") // in(2x, 0)
    // a 16..31-char doc (height 1) resizes to zero rows and is dropped
    val short = Seq((8L, "0123456789abcdef")).toDF("doc_id", "text")
    assert(Multimodal.resizeBmpAssets(
      Multimodal.asBmpAssets(short, "doc_id", "text")).count() === 0L)
  }
  test("partition-batched BMP feature extraction is partitioning-invariant") {
    val docs = Tables.documents(spark, sf0001)
    val f1 = Multimodal.extractBmpFeatures(Multimodal.asBmpAssets(docs, "doc_id", "text"))
      .orderBy("asset_id").limit(5).collect().toSeq
    val f2 = Multimodal.extractBmpFeatures(
        Multimodal.asBmpAssets(docs.repartition(7), "doc_id", "text"))
      .orderBy("asset_id").limit(5).collect().toSeq
    assert(f1 === f2)
    assert(f1.forall(_.getAs[Int]("width") === Multimodal.ImgWidth))
  }
  test("aHash bits: block-mean threshold, ties, and remainder truncation") {
    // 16x8 -> bw=2, bh=1. Left half dark (0), right half bright (200):
    // every row sets bits gx=4..7 -> each chunk is 0xF0F0.
    val half = Array.tabulate(16 * 8)(i => if (i % 16 < 8) 0.toByte else 200.toByte)
    assert(Multimodal.ahashBits(16, 8, half).get.toSeq === Seq.fill(4)(0xF0F0L))
    // uniform image: every blockSum*64 == totalSum, strict > -> all bits 0
    val flat = Array.fill(16 * 8)(77.toByte)
    assert(Multimodal.ahashBits(16, 8, flat).get.toSeq === Seq.fill(4)(0L))
    // height 9 -> bh=1: row 8 (extreme values) must not affect the hash
    val tail = half ++ Array.fill(16)(255.toByte)
    assert(Multimodal.ahashBits(16, 9, tail).get.toSeq ===
      Multimodal.ahashBits(16, 8, half).get.toSeq)
    // no full 8x8 grid -> None
    assert(Multimodal.ahashBits(16, 7, half.take(16 * 7)).isEmpty)
    assert(Multimodal.ahashBits(4, 8, half.take(32)).isEmpty)
  }
  test("aHash assets match a per-doc recompute from the text bytes") {
    val docs = Tables.documents(spark, sf0001)
    val got = Multimodal.ahashBmpAssets(
        Multimodal.asBmpAssets(docs, "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    val want = docs.select("doc_id", "text").collect().flatMap { r =>
      val bytes = r.getString(1).getBytes("US-ASCII")
      val h = bytes.length / 16
      if (h < 8) None
      else Multimodal.ahashBits(16, h, java.util.Arrays.copyOf(bytes, 16 * h))
        .map(cs => r.getLong(0) -> cs.toIndexedSeq)
    }.toMap
    assert(got === want)
    assert(got.nonEmpty)
  }
  test("graft_ahash native expression equals the mapPartitions codec path; SQL-callable") {
    val assets = Multimodal.asBmpAssets(Tables.documents(spark, sf0001), "doc_id", "text")
    val viaExpr = assets.select(col("asset_id"),
        graft.functions.AhashBmp.ahash(col("content")).as("cs"))
      .filter(col("cs").isNotNull)
      .select(col("asset_id"), col("cs")(0), col("cs")(1), col("cs")(2), col("cs")(3))
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    val viaMap = Multimodal.ahashBmpAssets(assets)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    assert(viaExpr === viaMap)
    assert(viaExpr.nonEmpty)
    // a 2-row image (no 8x8 grid) -> NULL through the expression
    import spark.implicits._
    val tiny = Multimodal.asBmpAssets(
      Seq((9L, "x" * 40)).toDF("doc_id", "text"), "doc_id", "text")
    assert(tiny.select(graft.functions.AhashBmp.ahash(col("content")))
      .collect().head.isNullAt(0))
    // SQL surface builds the identical expression tree
    graft.functions.GraftFunctions.registerAll(spark)
    assets.createOrReplaceTempView("ahash_assets")
    val viaSql = spark.sql(
      "SELECT count(*) FROM ahash_assets WHERE graft_ahash(content) IS NOT NULL")
      .collect().head.getLong(0)
    assert(viaSql === viaMap.size.toLong)
  }

  test("incremental aHash pairs = symmetric pairs restricted to the new slice") {
    val sig = Multimodal.ahashBmpAssets(
        Multimodal.asBmpAssets(Tables.documents(spark, sf0001), "doc_id", "text"))
      .withColumnRenamed("asset_id", "id")
    val inc = graft.ops.Dedup.chunk4x16IncrementalPairs(sig, _ % 4 === 0,
        maxHamming = 4, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = graft.ops.Dedup.chunk4x16Pairs(sig, maxHamming = 4, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc === full.filter { case (a, b, _) => a % 4 == 0 || b % 4 == 0 })
  }

  test("aHash near-dup pairs = brute-force banded hamming<=4 set") {
    val sig = Multimodal.ahashBmpAssets(
        Multimodal.asBmpAssets(Tables.documents(spark, sf0001), "doc_id", "text"))
      .withColumnRenamed("asset_id", "id")
    val got = graft.ops.Dedup.chunk4x16Pairs(sig, maxHamming = 4, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rows = sig.collect().map(r => (r.getLong(0), (1 to 4).map(r.getLong)))
    val want = (for {
      (ia, ca) <- rows; (ib, cb) <- rows if ia < ib
      if ca.zip(cb).exists { case (x, y) => x == y } // shares a chunk (bucket)
      ham = ca.zip(cb).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      if ham <= 4
    } yield (ia, ib, ham.toLong)).toSet
    assert(got === want)
  }

  test("audio fingerprint: fixed anchor clip, equal-share threshold, floor") {
    def wav(samples: Array[Byte]) = Multimodal.encodeWav8(samples)
    // clip = 256: first half silent (128 -> energy 0), second half loud ->
    // windows 32..63 set -> c2 = c3 = 0xFFFF, c0 = c1 = 0
    val half = Array.tabulate(256)(i => if (i < 128) 128.toByte else 28.toByte)
    assert(Multimodal.audioFpBits(wav(half)).map(_._2.toSeq)
      === Some(Seq(0L, 0L, 0xFFFFL, 0xFFFFL)))
    // uniform energy: every windowSum*64 == clipEnergy, strict > -> all 0
    val flat = Array.fill(256)(28.toByte)
    assert(Multimodal.audioFpBits(wav(flat)).map(_._2.toSeq)
      === Some(Seq.fill(4)(0L)))
    // fixed-duration robustness: a tail past the clip cannot change the
    // signature, only n_samples (this is the near-dup collapse property)
    val tailed = half ++ Array.fill(300)(255.toByte)
    val (n1, cs1) = Multimodal.audioFpBits(wav(half)).get
    val (n2, cs2) = Multimodal.audioFpBits(wav(tailed)).get
    assert(cs1.toSeq === cs2.toSeq && n1 === 256L && n2 === 556L)
    // shorter than the clip -> None
    assert(Multimodal.audioFpBits(wav(half.take(255))).isEmpty)
  }

  test("audio fingerprint assets match a per-doc recompute from the bytes") {
    val docs = Tables.documents(spark, sf0001)
    val got = Multimodal.audioFpWavAssets(
        Multimodal.asWavAssets(docs, "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (2 to 5).map(r.getLong)).toMap
    val want = docs.select("doc_id", "text").collect().flatMap { r =>
      val bytes = r.getString(1).getBytes("US-ASCII")
      Multimodal.audioFpBits(Multimodal.encodeWav8(bytes))
        .map { case (_, cs) => r.getLong(0) -> cs.toIndexedSeq }
    }.toMap
    assert(got === want)
    assert(got.nonEmpty)
  }
}

class PqSpec extends SparkSpecBase {
  private lazy val emb = Tables.embeddings(spark, sf0001)

  test("ADC distance equals the exact distance to the decoded reconstruction") {
    // PQ's defining identity: sum_m ||q_m - c_{m,code_m}||^2 is EXACTLY the
    // L2 distance between q and the concatenated codewords (up to FP
    // association across subspace boundaries)
    val q = emb.filter(col("vec_id") < 3)
    val books = Similarity.fixedCodebooks(8, 16, 64)
    val adc = Similarity.pqTopKFixed(emb, q, k = 500).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")) -> r.getAs[Double]("adist"))
      .toMap
    val raw = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def encodeDecode(v: Array[Double]): Array[Double] =
      (0 until 8).flatMap { m =>
        val sub = v.slice(m * 8, m * 8 + 8)
        books(m).minBy(c => c.map(x => x * x).sum -
          2.0 * c.zip(sub).map { case (a, b) => a * b }.sum)
      }.toArray
    val recon = raw.map { case (id, v) => id -> encodeDecode(v) }
    assert(adc.nonEmpty)
    adc.foreach { case ((qid, nid), d) =>
      val qv = raw(qid); val rv = recon(nid)
      val exact = qv.zip(rv).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(math.abs(d - exact) < 1e-6, s"($qid,$nid): adc=$d recon=$exact")
    }
  }

  test("PQ codes are bounded, deterministic, and rank a full contiguous top-k") {
    val q = emb.filter(col("vec_id") < 5)
    val r1 = Similarity.pqTopKFixed(emb, q, k = 10).collect()
    val r2 = Similarity.pqTopKFixed(emb.repartition(7), q, k = 10).collect()
    assert(r1.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet ===
      r2.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet)
    r1.groupBy(_.getAs[Long]("qid")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rn")).sorted.toSeq === (1 to 10))
      assert(rs.map(_.getAs[Long]("nid")).distinct.length === rs.length)
    }
  }

  test("IVF-PQ rows carry the same ADC distances as the flat scan, probe-bounded") {
    val q = emb.filter(col("vec_id") < 5)
    val flat = Similarity.pqTopKFixed(emb, q, k = 500).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")) -> r.getAs[Double]("adist"))
      .toMap
    val ivfpq = Similarity.ivfPqTopKFixed(emb, q, k = 10).collect()
    assert(ivfpq.nonEmpty)
    // every IVF-PQ candidate is ranked by the identical ADC value — the
    // cell pruning changes WHICH candidates compete, never their distance
    ivfpq.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("nid"))
      flat.get(key).foreach(d => assert(d === r.getAs[Double]("adist")))
    }
    ivfpq.groupBy(_.getAs[Long]("qid")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rn")).sorted.toSeq === (1 to rs.length))
    }
  }

  test("learned codebooks beat fixed ones on recall@10 vs exact L2") {
    val q = emb.filter(col("vec_id") < 20)
    val truth = Similarity.bruteForceTopKL2(emb, q, k = 10).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
      (truth intersect got).size.toDouble / truth.size
    }
    // the declared-query geometry: 16 subspaces x 8-bit codebooks
    val learned = recall(Similarity.pqTopK(emb, q, k = 10, numSub = 16, numCodes = 256))
    val fixed = recall(Similarity.pqTopKFixed(emb, q, k = 10, numSub = 16, numCodes = 256))
    // Lloyd-fit codebooks adapt to the data distribution; random seeded
    // ones don't — the quality path must demonstrably pay for itself
    assert(learned >= fixed, s"learned=$learned fixed=$fixed")
    assert(learned >= 0.4, s"learned-PQ recall@10 too low: $learned")
  }
}
