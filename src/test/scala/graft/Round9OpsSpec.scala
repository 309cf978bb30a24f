package graft

import org.apache.spark.sql.functions._

/** Round-9 guards: the sorted merge-scan intersect that replaced
  * array_intersect in similarity-join verification, and the ADVICE-item
  * guard rails. */
class Round9OpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("graft_sorted_inter matches size(array_intersect) on random sorted arrays") {
    val rnd = new scala.util.Random(9)
    val rows = (0 until 200).map { i =>
      // overlapping value ranges; ~20% duplicate elements to exercise the
      // equal-run skip (array_intersect is distinct-count)
      def arr() = Seq.fill(rnd.nextInt(50))(rnd.nextInt(40).toLong)
        .flatMap(v => if (rnd.nextInt(5) == 0) Seq(v, v) else Seq(v))
        .sorted
      (i.toLong, arr(), arr())
    }
    val df = rows.toDF("id", "a", "b")
      .withColumn("fast", graft.functions.SortedIntersectCount.count(col("a"), col("b")))
      .withColumn("ref", size(array_intersect(col("a"), col("b"))).cast("long"))
    assert(df.filter(col("fast") =!= col("ref")).count() === 0)
    // empty and null inputs
    val edge = Seq((Some(Seq.empty[Long]), Some(Seq(1L, 2L))),
      (None, Some(Seq(1L))), (Some(Seq(1L)), None)).toDF("a", "b")
      .select(graft.functions.SortedIntersectCount.count(col("a"), col("b")).as("c"))
      .collect()
    assert(edge(0).getLong(0) === 0L)
    assert(edge(1).isNullAt(0) && edge(2).isNullAt(0))
  }

  test("graft_sorted_inter agrees between codegen and interpreted eval") {
    val df = Seq((Seq(1L, 3L, 3L, 7L, 9L), Seq(2L, 3L, 7L, 7L, 10L))).toDF("a", "b")
    val c = graft.functions.SortedIntersectCount.count(col("a"), col("b"))
    val viaCodegen = df.select(c).collect().head.getLong(0)
    val interpreted = graft.functions.SortedIntersectCount(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1L, 3L, 3L, 7L, 9L),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(2L, 3L, 7L, 7L, 10L),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))).eval(null)
    assert(viaCodegen === 2L)
    assert(interpreted === 2L)
  }

  test("graft_hist_min_sum upper-bounds the exact overlap (lossless count filter)") {
    val rnd = new scala.util.Random(99)
    val rows = (0 until 300).map { i =>
      // full-range 64-bit hashes (the histogram ranges come from the top 7
      // bits, so the values must span the whole space like xxhash64 output)
      def arr(sz: Int) = Seq.fill(sz)(rnd.nextLong()).sorted
      val shared = arr(rnd.nextInt(60))
      val a = (shared ++ arr(rnd.nextInt(60))).distinct.sorted
      val b = (shared ++ arr(rnd.nextInt(60))).distinct.sorted
      (i.toLong, a, b)
    }
    val df = rows.toDF("id", "a", "b")
      .withColumn("bound", graft.functions.HistMinSum.minSum(
        graft.functions.HashRangeHist.hist(col("a")),
        graft.functions.HashRangeHist.hist(col("b"))))
      .withColumn("exact", graft.functions.SortedIntersectCount.count(col("a"), col("b")))
    assert(df.filter(col("bound") < col("exact")).count() === 0)
    // and the bound is discriminative, not vacuous: disjoint small sets
    // bound well below their sizes
    val disjoint = Seq((Seq(1L, 2L, 3L).map(x => x << 58),
      Seq(9L, 10L, 11L).map(x => x << 58))).toDF("a", "b")
      .select(graft.functions.HistMinSum.minSum(
        graft.functions.HashRangeHist.hist(col("a")),
        graft.functions.HashRangeHist.hist(col("b"))).as("bound"))
      .collect().head.getLong(0)
    assert(disjoint === 0L)
  }

  test("graft_hist_min_sum saturation never under-counts (the false-prune hazard)") {
    // 20 distinct values all in hash range 0 (top 7 bits zero): both
    // nibbles saturate at 15, so the contribution must be the BIG
    // constant, never min(15, 15) = 15 < the true overlap 20
    val shared = (0L until 20L).toSeq
    val df = Seq((shared, shared)).toDF("a", "b")
      .select(graft.functions.HistMinSum.minSum(
        graft.functions.HashRangeHist.hist(col("a")),
        graft.functions.HashRangeHist.hist(col("b"))).as("bound"))
    assert(df.head.getLong(0) >= 20L)
    // one side saturated, the other exact: contribution = the exact side
    val df2 = Seq((shared, shared.take(7))).toDF("a", "b")
      .select(graft.functions.HistMinSum.minSum(
        graft.functions.HashRangeHist.hist(col("a")),
        graft.functions.HashRangeHist.hist(col("b"))).as("bound"))
    assert(df2.head.getLong(0) === 7L)
  }

  test("prefix-filtered Jaccard pairs (with histogram filter) == naive tier on fixture docs") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val fast = graft.ops.Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text",
      n = 3, threshold = 0.5).orderBy("id_a", "id_b").collect()
    val naive = graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5).orderBy("id_a", "id_b").collect()
    assert(fast.map(_.toSeq.toList).toList === naive.map(_.toSeq.toList).toList)
    assert(fast.nonEmpty)
  }

  test("semDedupGeom j=2 runs the multiprobe plan and only ever loses drops vs flat") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val dense = graft.ops.Similarity.semDedupGeom(emb, threshold = 0.4, k = 16, j = 2)
    val flat = graft.ops.Similarity.semDedupGeom(emb, threshold = 0.4, k = 16, j = 0)
    // the j>=1 path is structurally present: the 1-flip probe-key explode
    // exists only in the subsplit plan
    assert(dense.queryExecution.analyzed.toString.contains("explode"))
    assert(!flat.queryExecution.analyzed.toString.contains("explode"))
    val dd = dense.filter(!col("keep")).select("vec_id").collect().map(_.getLong(0)).toSet
    val fd = flat.filter(!col("keep")).select("vec_id").collect().map(_.getLong(0)).toSet
    // precision 1.0 by construction: multiprobe candidates are a subset of
    // the flat within-cell pairs, every survivor is exact-cosine-verified
    assert(dd.subsetOf(fd))
    assert(dd.nonEmpty)
    info(s"j=2 multiprobe drop recall on sf0.001: ${dd.size}/${fd.size}")
  }

  test("semDedupIncrement == full recompute on a planted two-day split") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val cut = 250L
    val hist = graft.ops.Similarity.semDedupGeom(
      emb.filter(col("vec_id") < cut), threshold = 0.4, k = 16, j = 0)
    val incr = graft.ops.Similarity.semDedupIncrement(hist, emb,
      _ >= cut, threshold = 0.4, k = 16).orderBy("vec_id").collect()
    val batch = graft.ops.Similarity.semDedupGeom(emb, threshold = 0.4, k = 16, j = 0)
      .orderBy("vec_id").collect()
    assert(incr.map(_.toSeq.toList).toList === batch.map(_.toSeq.toList).toList)
    // the split is non-trivial: some new-batch vec is dropped by history
    val newDropped = incr.filter(r => r.getLong(0) >= cut && !r.getBoolean(2))
    assert(newDropped.nonEmpty)
    // and under the j >= 1 multiprobe geometry (the scale path): the
    // asymmetric probe-key join must still equal the batch plan exactly
    val histJ = graft.ops.Similarity.semDedupGeom(
      emb.filter(col("vec_id") < cut), threshold = 0.4, k = 16, j = 2)
    val incrJ = graft.ops.Similarity.semDedupIncrement(histJ, emb,
      _ >= cut, threshold = 0.4, k = 16, j = 2).orderBy("vec_id").collect()
    val batchJ = graft.ops.Similarity.semDedupGeom(emb, threshold = 0.4, k = 16, j = 2)
      .orderBy("vec_id").collect()
    assert(incrJ.map(_.toSeq.toList).toList === batchJ.map(_.toSeq.toList).toList)
  }

  test("graft_gram_hashes: equal grams <=> equal hashes; codegen == interpreted") {
    val t = "abcdefgabcdefgXabcdefg" // the 7-gram 'abcdefg' recurs at 0, 7, 15
    val k = 7
    val rolled = graft.functions.GramHashes.hashAll(t, k)
    assert(rolled.length === t.length - k + 1)
    for (i <- rolled.indices; j <- rolled.indices)
      assert((t.substring(i, i + k) == t.substring(j, j + k)) === (rolled(i) == rolled(j)),
        s"positions $i/$j disagree")
    val viaCol = Seq(t).toDF("t")
      .select(graft.functions.GramHashes.hashes(col("t"), k)).head.getSeq[Long](0)
    assert(viaCol.toSeq === rolled.toSeq)
    assert(graft.functions.GramHashes.hashAll("short", 7).isEmpty)
  }

  test("asofJoinWithMatchTime rejects reserved and duplicate payload names") {
    val left = Seq((1L, 10L, "x")).toDF("k", "ts", "x")
    val right = Seq((1L, 5L, "p", "q")).toDF("k", "ts", "__graft_rt", "p")
    intercept[IllegalArgumentException] {
      graft.plans.AsOfJoinNative.asofJoinWithMatchTime(left, right,
        "k", "k", "ts", "ts", Seq("__graft_rt"))
    }
    val right2 = Seq((1L, 5L, "p")).toDF("k", "ts", "p")
    intercept[IllegalArgumentException] {
      graft.plans.AsOfJoinNative.asofJoinWithMatchTime(left, right2,
        "k", "k", "ts", "ts", Seq("p", "p"))
    }
  }

  test("keyset micro-batch fans a large page out over >1 input partition, rows fetched READER-side") {
    val url = "jdbc:derby:memory:graftr9;create=true"
    TailHarness.stage(graft.sources.Tables.events(spark, sf0001), url, "R9_PART")
    val stream = TailHarness.tail(url, "R9_PART", "event_id", maxRowsPerBatch = 1000)
    val start = stream.initialOffset()
    val end = TailHarness.poll(stream, start)
    val parts = stream.planInputPartitions(start, end)
    // 1000-row page / RowsPerRange (500) per range, under local[4]
    assert(parts.length === 2)
    // ZERO row materialization on the driver: partitions carry only value
    // bounds + connection settings — no Row/InternalRow payloads anywhere
    // in the partition product
    parts.foreach { part =>
      val rp = part.asInstanceOf[graft.streaming.KeysetRange]
      rp.productIterator.foreach { f =>
        assert(!f.isInstanceOf[org.apache.spark.sql.Row])
        assert(!f.isInstanceOf[Array[_]] || !f.asInstanceOf[Array[_]]
          .exists(_.isInstanceOf[org.apache.spark.sql.Row]))
      }
    }
    // the rows come from the PartitionReaders (executor-side fetch path)
    val ordinal = parts.head.asInstanceOf[graft.streaming.KeysetRange]
      .schema.fieldIndex("event_id")
    val perPart = TailHarness.read(stream, parts.toSeq).map(_.map(_.getLong(ordinal)))
    val ids = perPart.flatten
    assert(ids.length === 1000)
    assert(ids.toSet === graft.sources.Tables.events(spark, sf0001)
      .orderBy("event_id").limit(1000)
      .collect().map(_.getAs[Long]("event_id")).toSet)
    // value-contiguous sub-ranges: each partition's max < the next one's min
    perPart.sliding(2).foreach {
      case Seq(a, b) => assert(a.max < b.min)
      case _ => ()
    }
    // offset semantics byte-identical: boundary = last row's serialized value
    assert(TailHarness.last(end).contains(ids.max.toString))
  }

  test("packBinsFfd == the sequential FFD fold; no bin overfills") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        graft.ops.TextOps.wsTokenCount(col("text")).cast("long").as("n_tok"))
    val out = graft.ops.TrainOps.packBinsFfd(docs, "doc_id", "n_tok",
      budget = 512L, shardSize = 100).orderBy("bin_id").collect()
    // local reference: the same decreasing order, 100-doc shards, first fit
    val d = docs.filter(col("n_tok") > 0 && col("n_tok") <= 512)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, n) => (-n, id) }
    val ref = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Long)]
    var rems = scala.collection.mutable.ArrayBuffer.empty[Long]
    d.zipWithIndex.foreach { case ((_, n), k) =>
      val shard = k / 100
      if (k % 100 == 0) rems = scala.collection.mutable.ArrayBuffer.empty[Long]
      var i = 0
      while (i < rems.length && rems(i) < n) i += 1
      if (i == rems.length) rems += (512L - n) else rems(i) -= n
      val bin = shard * 100L + i
      val (c, t) = ref.getOrElse(bin, (0L, 0L))
      ref(bin) = (c + 1, t + n)
    }
    assert(out.length === ref.size)
    out.foreach { r =>
      val bin = r.getAs[Long]("bin_id")
      assert((r.getAs[Long]("n_docs"), r.getAs[Long]("bin_tokens")) === ref(bin))
      assert(r.getAs[Long]("bin_tokens") <= 512L)
    }
    // FFD beats one-doc-per-bin and sits above the chunker lower bound
    val totalBins = out.head.getAs[Long]("total_bins")
    assert(totalBins < d.length)
    assert(totalBins >= out.head.getAs[Long]("chunker_windows"))
  }

  test("ksTwoSample reports NULL ks_d when one arm is empty") {
    // every row lands in arm 0 -> n_b = 0: the guard must yield NULL, not NaN
    val df = Seq(("g", 0, 1.0), ("g", 0, 2.0)).toDF("grp", "arm", "value")
    val out = graft.ops.Stats.ksTwoSample(df, "grp", "arm", "value").collect()
    assert(out.length === 1)
    assert(out.head.isNullAt(out.head.fieldIndex("ks_d")))
  }
}
