package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan shape assertions — the properties that make these queries
  * survive a 100 TB / 1000-executor scale-up, checked against the real
  * optimizer output rather than asserted in prose:
  *
  *  - dimension joins broadcast (no shuffle of the fact side against dims);
  *  - sort+limit plans as TakeOrderedAndProject (per-partition top-k + merge,
  *    never a global sort);
  *  - projection pruning reaches the parquet scan (a 2-column query must not
  *    read all columns);
  *  - the as-of join plans exactly one exchange (union + window, no range
  *    join explosion).
  */
class PlanSpec extends SparkSpecBase {

  private def planString(df: DataFrame): String = {
    df.collect() // materialize so AQE finalizes the adaptive plan
    df.queryExecution.executedPlan.toString()
  }

  test("q_join_enrich broadcasts the nation/region dims") {
    val plan = planString(SparkEntry.queries("q_join_enrich")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast dim joins in:\n$plan")
  }

  test("q_select_limit_sort plans TakeOrderedAndProject, not a global sort") {
    val plan = planString(SparkEntry.queries("q_select_limit_sort")(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan in:\n$plan")
  }

  test("weighted sample and PMI top-k plan TakeOrderedAndProject, not global sorts") {
    for (q <- Seq("q_weighted_sample", "q_pmi_collocations")) {
      val plan = planString(SparkEntry.queries(q)(spark, sf0001))
      assert(plan.contains("TakeOrderedAndProject"), s"$q: expected top-k plan in:\n$plan")
      assert(!plan.contains("GlobalLimit"), s"$q: sort+limit not collapsed:\n$plan")
    }
  }

  test("two-column projection prunes the lineitem scan schema") {
    import org.apache.spark.sql.functions.col
    val df = sources.Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
      .filter(col("l_quantity") > 30)
    val scan = df.queryExecution.executedPlan.toString()
    assert(scan.contains("ReadSchema"), scan)
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"), readSchema)
    assert(!readSchema.contains("l_extendedprice"), s"scan not pruned: $readSchema")
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30"),
      s"filter not pushed: $scan")
  }

  test("q_tpch_q6 pushes every predicate to the scan and exchanges only the 1-row partials") {
    // the PushedFilters metadata line elides at 100 chars by default —
    // widen it so all four predicates are visible to the assertion
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val plan = try planString(SparkEntry.queries("q_tpch_q6")(spark, sf0001))
    finally spark.conf.unset("spark.sql.maxMetadataStringLength")
    // all four predicates reach the parquet scan...
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05", "LessThanOrEqual(l_discount,0.07",
        "LessThan(l_quantity,24"))
      assert(pushed.contains(f), s"$f not pushed:\n$plan")
    // ...and the only exchange carries the per-partition partial-agg rows
    // (a single global aggregate: no shuffle key, no join)
    assert(!plan.contains("Join"), s"scan-only query plans a join:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }

  test("q_tpch_q19's disjunctive predicate stays a broadcast equi-join with a residual") {
    val plan = planString(SparkEntry.queries("q_tpch_q19")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast part join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"OR-of-ANDs degraded the join to a product:\n$plan")
  }

  test("q_tpch_q20 prunes the agg-subquery side before the aggregate") {
    val plan = planString(SparkEntry.queries("q_tpch_q20")(spark, sf0001))
    // the part filter is pushed to the part scan...
    assert(plan.contains("StringStartsWith(p_name,red)"),
      s"part filter not pushed into the scan:\n$plan")
    // ...and reaches lineitem as a BROADCAST semi/inner join BELOW the
    // aggregate (the decorrelated correlated-subquery input is pruned
    // before any shuffle), never a shuffled join of unfiltered lineitem
    // (plan prints top-down: the deepest BroadcastHashJoin — the part
    // prune — must sit after the first HashAggregate line; the topmost
    // BHJ is the nation dim join above the aggregate)
    val aggIdx = plan.indexOf("HashAggregate")
    val bjIdx = plan.lastIndexOf("BroadcastHashJoin")
    assert(aggIdx >= 0 && bjIdx >= 0 && bjIdx > aggIdx,
      s"expected broadcast part-prune below the aggregate:\n$plan")
  }

  test("q_asof_join plans a single shuffle (no range-join explosion)") {
    val df = SparkEntry.queries("q_asof_join")(spark, sf0001)
    val plan = planString(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"as-of join must not fall back to a product join:\n$plan")
    // exchanges in the final plan: orders pre-agg + one hash partition on
    // the as-of key + the final range partition for the ORDER BY; anything
    // more means a join crept in (the AQE toString repeats the initial plan,
    // so cut it off first)
    val finalPlan = plan.split("== Initial Plan ==").head
    // Tables.widen's scan-parallelism floor is a REPARTITION_BY_NUM
    // exchange directly over a sub-parallelism scan; it vanishes at
    // production scan widths and is not part of the join's shuffle budget.
    // The exemption is CAPPED (r14 advice): the query widens at most its
    // two scan-side inputs, so a third REPARTITION_BY_NUM means an
    // accidental repartition(n) crept in somewhere — fail, don't exempt.
    val widenFloors = finalPlan.linesIterator
      .count(l => l.contains("Exchange") && l.contains("REPARTITION_BY_NUM"))
    assert(widenFloors <= 2,
      s"more REPARTITION_BY_NUM exchanges than widen sites ($widenFloors):\n$finalPlan")
    val exchanges = finalPlan.linesIterator
      .filterNot(_.contains("REPARTITION_BY_NUM"))
      .count(l => l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning"))
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges:\n$finalPlan")
  }

  test("bucketed tables co-locate: the join plans with zero exchanges") {
    import org.apache.spark.sql.functions.col
    sources.Tables.orders(spark, sf0001).write.mode("overwrite")
      .bucketBy(4, "o_custkey").sortBy("o_custkey").saveAsTable("orders_b")
    sources.Tables.customer(spark, sf0001).write.mode("overwrite")
      .bucketBy(4, "c_custkey").sortBy("c_custkey").saveAsTable("customer_b")
    // bucketed joins only kick in when neither side qualifies for broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b").join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      val plan = planString(joined)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(!plan.split("== Initial Plan ==").head.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("no declared query plans an unintended product join") {
    // quadratic-by-design baselines and the tiny-dim range join are the
    // ONLY places a nested-loop/cartesian plan is acceptable; q_tf_idf,
    // q_bm25_search and q_lm_perplexity broadcast a ONE-ROW aggregate
    // (corpus stats) — a scalar broadcast, not a data-dependent product
    // round 5: q_sim_lsh_topk left this list — the banded rewrite replaced
    // the bucket scan with a (band, bits) equi-join, so a product plan
    // there is a regression again
    val intended = Set("q_range_join", "q_sim_cosine_topk", "q_sim_near_dup",
      "q_sim_ivf_topk", "q_tf_idf", "q_bm25_search",
      // inherits bm25Scored's one-row broadcast stats cross join (the
      // lexical ranker); the semantic ranker and fusion are equi-joins
      "q_hybrid_search",
      "q_lm_perplexity",
      // same one-row broadcast stats cross join as q_lm_perplexity (the
      // corpus bigram-type total NT enters every scored row)
      "q_lm_kneser_ney",
      // one-row broadcast corpus total gates each support threshold
      "q_freq_itemsets",
      // the PAV minimax lattice: inequality self-joins over the <=10-row
      // decile BIN table — quadratic in bins by design, never in rows
      "q_isotonic",
      // one-row broadcast fan-out total (the q_tf_idf scalar-stats class)
      "q_join_fanout",
      // one-row broadcast (sum, count) balance threshold — the Q22 global
      // scalar, same class as q_tf_idf's corpus stats
      "q_tpch_q22",
      // one-row broadcast global total (Q11 HAVING fraction) and global
      // max (Q15 argmax) — aggregate re-reduced to a single row, never a
      // corpus-wide window
      "q_tpch_q11",
      "q_tpch_q15",
      // one-row broadcast 4096-bit Bloom bitmap filtering the fact side
      // pre-shuffle (the semi-join reduction itself)
      "q_bloom_join_reduce",
      // both rankings are the exact brute-force referee by design
      "q_emb_trunc_recall",
      // same audit shape over the JL-projected variant
      "q_emb_jl_recall",
      // recall is MEASURED against brute-force ground truth, so the
      // quadratic baseline is embedded by definition
      "q_ann_recall",
      // same class: recall/MRR/NDCG grade the IVF ranker against the
      // embedded brute-force ground truth
      "q_rank_metrics",
      // PQ-flat is a linear scan of compressed codes BY DESIGN (PQ's win is
      // the 32-64x smaller working set, not sub-linearity); the learned
      // report also embeds the exact-L2 ground truth. The sub-linear
      // combination is q_sim_ivfpq_portable, asserted equi-join below.
      "q_sim_pq_topk", "q_sim_pq_portable",
      // one-row (n, agree) x one-row (marginal-product sum) scalar cross
      // join — the kappa numerator/denominator, same class as q_tpch_q22
      "q_cohens_kappa",
      // one-row broadcast (total_bins, total tokens) summary joined onto
      // the per-bin rows — the q_tf_idf scalar-stats class
      "q_pack_bins",
      // one-row broadcast max(history vec_id) — the append-only contract
      // guard riding the keep projection (same scalar-broadcast class)
      "q_sim_semdedup_incr")
    val offenders = SparkEntry.queries.toSeq
      .filterNot { case (name, _) => intended(name) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf0001).queryExecution.executedPlan.toString()
        if (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
      }
    assert(offenders.isEmpty, s"product joins in: ${offenders.mkString(", ")}")
  }

  test("banded LSH top-k broadcasts the query side and joins on (band, bits)") {
    val plan = planString(SparkEntry.queries("q_sim_lsh_topk")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      s"query side must broadcast into the band equi-join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"banded top-k must not plan a product join:\n$plan")
  }

  test("tight-geometry LSH near-dup candidates come from a (band, bits) equi-join") {
    val plan = planString(SparkEntry.queries("q_sim_near_dup_lsh_tight")(spark, sf0001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"tight-threshold LSH must not plan a product join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"candidates must come from an equi-join on (band, bits):\n$plan")
  }

  test("filtered ANN pushes the label predicate into the parquet scan") {
    val plan = planString(SparkEntry.queries("q_sim_filtered_topk")(spark, sf0001))
    assert(plan.contains("In(label, [1,3])"),
      s"label pre-filter must reach the scan as a pushed filter:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"probe table must broadcast into the cid equi-join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"filtered ANN must not plan a product join:\n$plan")
  }

  test("IVF-PQ candidates come from a broadcast equi-join on the cell id") {
    val plan = planString(SparkEntry.queries("q_sim_ivfpq_portable")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      s"probe table must broadcast into the cid equi-join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"IVF-PQ must not plan a product join:\n$plan")
  }

  test("semDedup pair search is an equi-join on the cell id, no product join") {
    val plan = planString(SparkEntry.queries("q_sim_semdedup")(spark, sf0001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"cell-bounded pairs must come from an equi-join:\n$plan")
    assert(!plan.contains("Window"),
      s"keep/drop must not sort a window over the corpus:\n$plan")
  }

  test("count-min lookup broadcasts the fixed-size cell table") {
    val plan = SparkEntry.queries("q_count_min")(spark, sf0001)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"cells (depth x width rows) must broadcast:\n$plan")
  }

  test("segment dedup picks winners via partial-agg min, not a window sort") {
    import org.apache.spark.sql.functions.col
    val plan = graft.ops.CleanOps.segmentDedup(
        sources.Tables.documents(spark, sf0001), "doc_id",
        graft.ops.CleanOps.tokenSegments(col("text"), 8))
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"),
      s"hot-segment skew: winner selection must not be a window sort:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial min") ||
      plan.toLowerCase.contains("hashaggregate"),
      s"winner min must be partially aggregable:\n$plan")
  }

  test("winnow-portable window shuffles only (id,pos,enc) — never the document text") {
    // the per-char gram explode amplifies rows ~300x; if the normalized text
    // column survived into the window exchange, the shuffle would carry the
    // full corpus per gram row. Assert the WindowExec input is pruned.
    import org.apache.spark.sql.execution.window.WindowExec
    // AQE buries WindowExec inside finalized query stages; plan statically
    val aqeKey = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqeKey)
    val plan = try {
      spark.conf.set(aqeKey, "false")
      Referees.winnowFingerprintsPortableRelational(
        sources.Tables.documents(spark, sf0001), "doc_id", "text")
        .queryExecution.executedPlan
    } finally spark.conf.set(aqeKey, prev)
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected a WindowExec in:\n$plan")
    windows.foreach { w =>
      val inputCols = w.child.output.map(_.name).toSet
      assert(!inputCols.contains("t"),
        s"window input must not carry the text column, got $inputCols")
    }
  }

  test("KMV Aggregator plans map-side partial aggregation (mergeable sketch)") {
    import org.apache.spark.sql.functions.{col, udaf}
    val df = sources.Tables.lineitem(spark, sf0001)
      .select(col("l_returnflag"),
        ops.Sketch.portableUnitHashLong(col("l_partkey")).as("h"))
      .groupBy("l_returnflag")
      .agg(udaf(new ops.Sketch.KmvAgg(64)).apply(col("h")).as("est"))
    val plan = planString(df)
    // the sketch's mergeability must actually materialize as a partial
    // (map-side) aggregate before the exchange — k longs per group shuffled,
    // not the raw hash stream
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate in:\n$plan")
    assert(plan.contains("partial_"), s"expected a partial aggregation stage in:\n$plan")
  }

  test("partitioned parquet sink: layout written, reads partition-prune") {
    import org.apache.spark.sql.functions.{col, date_format}
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    val ev = sources.Tables.events(spark, sf0001)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    sinks.ParquetSink.writePartitioned(ev, out,
      partitionCols = Seq("day"), sortCols = Seq("event_id"))
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("day=")), dirs.mkString(","))
    val firstDay = dirs.min.stripPrefix("day=")
    val read = spark.read.parquet(out).filter(col("day") === firstDay)
    val scan = read.queryExecution.executedPlan.toString()
    val pf = scan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("day"), s"day predicate must prune partitions: $scan")
    assert(read.count() > 0)
    // round-trip completeness across all partitions
    assert(spark.read.parquet(out).count() === ev.count())
  }

  test("q_agg_revenue aggregates partially before the shuffle (map-side combine)") {
    val plan = planString(SparkEntry.queries("q_agg_revenue")(spark, sf0001))
    val aggs = plan.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggs.exists(_.contains("partial")), s"expected partial aggregate before exchange:\n$plan")
  }

  test("blocklist screen is map-only: AC kernel in the scan projection, zero exchanges") {
    // the OPERATOR (without the declared presentation ORDER BY) must not
    // shuffle at all — the verdict is a per-row projection
    val df = ops.CleanOps.blocklistScreen(
      sources.Tables.documents(spark, sf0001), "doc_id", "text",
      Seq("slow", "low", "a a"))
    val plan = planString(df)
    assert(plan.contains("graft_ac_summary"), s"AC kernel missing from plan:\n$plan")
    // map-only up to Tables.widen's scan-parallelism floor (a
    // REPARTITION_BY_NUM exchange of the raw rows that only exists below
    // the cluster's parallelism — at scale the screen is exchange-free).
    // Capped at ONE exempted exchange (r14 advice): the screen widens a
    // single table, so a second REPARTITION_BY_NUM is a stray repartition.
    assert(plan.linesIterator.count(l =>
        l.contains("Exchange") && l.contains("REPARTITION_BY_NUM")) <= 1,
      s"more than one widen floor in a one-table screen:\n$plan")
    assert(!plan.linesIterator.exists(l =>
        l.contains("Exchange") && !l.contains("REPARTITION_BY_NUM")),
      s"blocklist screen must be map-only:\n$plan")
  }

  test("HDR sketch: bucket counts partial-agg map-side; one bucket exchange feeds the windows") {
    val plan = planString(SparkEntry.queries("q_hdr_quantiles")(spark, sf0001))
    val aggs = plan.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggs.exists(a => a.contains("partial_count") || a.contains("partial")),
      s"expected partial bucket counts before the exchange:\n$plan")
    // the cum/total windows must run over the BOUNDED bucket table, never
    // over raw rows: below the last Window (plan prints top-down) there is
    // still a HashAggregate — the bucket count — between it and the scan
    val lastWindow = plan.lastIndexOf("Window [")
    assert(lastWindow > 0, s"expected window operators:\n$plan")
    assert(plan.indexOf("HashAggregate", lastWindow) > 0,
      s"windows must sit above the bucket aggregate:\n$plan")
  }

  test("unigram segmentation applies the Viterbi kernel on the TYPES table, map-only") {
    val plan = planString(SparkEntry.queries("q_unigram_segment")(spark, sf0001))
    assert(plan.contains("graft_viterbi_seg"), s"kernel missing:\n$plan")
    // the kernel input is the aggregated word table, not the raw corpus:
    // below the kernel projection sits either the HashAggregate itself or
    // (round 12: the types table is STAGED so its cache self-releases) the
    // staged materialization of exactly that (w, tf) aggregate
    val below = plan.substring(plan.indexOf("graft_viterbi_seg"))
    assert(below.contains("HashAggregate") || below.contains("Scan ExistingRDD[w#"),
      s"kernel must run over the aggregated (or staged) types table:\n$plan")
  }
}
