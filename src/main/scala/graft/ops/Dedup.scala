package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines, at three cost tiers:
  *
  *  1. exact — hash-groupBy on a content fingerprint. One shuffle on the
  *     fingerprint; at 100 TB this is the cheapest possible dedup.
  *  2. exact-similarity (n-gram Jaccard) — shingle → explode → self-join on
  *     shingle → per-pair intersection counts. Quadratic in the worst case;
  *     correct baseline and the oracle for the approximate tiers.
  *  3. approximate (MinHash-LSH / SimHash) — signatures via `xxhash64`
  *     column expressions (codegen'd, no UDFs), banded so candidate
  *     generation is an equi-join on (band, bandHash): the 100 TB path.
  *     Candidates are then exact-verified, so precision is 1.0 and only
  *     recall is probabilistic.
  */
object Dedup {

  /** Tier 1: keep the first (min id) row per fingerprint group. */
  def exactGroups(docs: DataFrame, idCol: String, fp: Column): DataFrame =
    docs.groupBy(fp.as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Drop every cached intermediate (callers own cleanup in long sessions;
    * required after in-place rewrites of input data — see [[PlanCache]]). */
  def clearCaches(): Unit = PlanCache.clear()

  /** Bucket-then-pair: ONE shuffle groups ids per bucket key; pairs are
    * generated map-side inside each bucket, with the size cap bounding a
    * hot bucket's quadratic fan-out (m ids → m²/2 pairs in one task).
    * Emits one (id_a, id_b) row per shared bucket — callers dedupe
    * (`distinct`) or count shared buckets (`groupBy.count`).
    *
    * The collection itself is capped at `cap + 1` elements per bucket
    * ([[graft.functions.CollectCapped]]), so a duplicate-heavy mega-bucket
    * never materializes an unbounded array in one aggregation buffer; the
    * retained (cap+1)-element marker is then dropped by the size filter —
    * bit-identical results to an unbounded collect_list + filter.
    *
    * Recall note on the cap: a bucket LARGER than `cap` is dropped from
    * candidate generation entirely, so near-duplicate clusters bigger than
    * the cap lose their pairs — the cap bounds worst-case task fan-out, not
    * recall. Byte-identical mega-clusters are caught by tier-1 exact dedup;
    * raise the cap where hot NEAR-dup clusters are real signal. */
  private def bucketPairs(df: DataFrame, keyCols: Seq[String], cap: Int): DataFrame = {
    val buckets = df.groupBy(keyCols.map(col): _*)
      .agg(graft.functions.CollectCapped.collectCapped(col("id"), cap + 1).as("ids"))
      .filter(size(col("ids")).between(2, cap))
    buckets
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
  }

  /** [[bucketPairs]] with a payload: each bucket collects `(id, payload…)`
    * structs (capped by CollectCapped the same way), and the pairs come out
    * as two structs `a`, `b` with `a.id < b.id`, so the caller verifies
    * against the carried signatures with no join back. One row per shared
    * bucket. */
  private def payloadBucketPairs(df: DataFrame, keyCols: Seq[String], payload: Seq[String],
                                 cap: Int): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(graft.functions.CollectCapped.collectCapped(
        struct((col("id") +: payload.map(col)): _*), cap + 1).as("es"))
      .filter(size(col("es")).between(2, cap))
      .select(explode(col("es")).as("a"), col("es"))
      .select(col("a"), explode(col("es")).as("b"))
      .filter(col("a.id") < col("b.id"))

  /** Per-doc distinct shingle array: (id, shs). The shingle regex is the
    * heaviest scan-side kernel of the dedup family, and the fixture
    * parquet is single-row-group (unsplittable) — Tables.widen floors the
    * scan parallelism so the kernel runs on all cores instead of one
    * task (no-op once the source is already >= cores wide). */
  private def shingleArrays(docs: DataFrame, idCol: String, textCol: String, n: Int) =
    graft.sources.Tables.widen(docs.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol).as("id"),
        TextOps.shingles(col(textCol), n).as("shs"))

  /** Per-doc distinct shingles as 64-bit hashes: (id, hs). Hashing once in
    * the cached arrays makes every downstream join key and set-intersect a
    * primitive long instead of a ~20-byte string; a cross-shingle collision
    * (p ~ |vocab|^2 / 2^64) is the only way this diverges from the
    * string-exact computation.
    *
    * r15: ONE native pass (tokenize + window + hash + sort + dedupe,
    * [[graft.functions.XxShingleHashes]]) instead of the
    * `sort_array(transform(shingles(text, n), xxhash64))` chain, which
    * allocated the full distinct shingle STRING array plus two array
    * copies per row — the substrate's scan stages measured cpu/run ≈ 0.6
    * (allocation stall); value-identical by XxKernelParitySpec. Widened
    * for the same scan-parallelism reason as shingleArrays. */
  private def hashedShingleArrays(docs: DataFrame, idCol: String, textCol: String, n: Int) =
    graft.sources.Tables.widen(docs.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol).as("id"),
        graft.functions.ShingleHashes.of(col(textCol), n).as("hs"))

  /** [[shingleArrays]] persisted once per (input, n) through the bounded
    * [[PlanCache]] (LRU + stopped-session eviction): the dedup ops that
    * read the per-doc arrays in several plan branches, or across tiers of
    * one query, share one cached instance instead of re-running the
    * shingle scan or accumulating block-manager entries. */
  private def cachedShingleArrays(docs: DataFrame, idCol: String, textCol: String, n: Int) =
    PlanCache.getOrPersist(docs, s"shingles:$idCol:$textCol:$n:false")(
      shingleArrays(docs, idCol, textCol, n))

  /** [[hashedShingleArrays]] persisted like [[cachedShingleArrays]], under
    * its own tag. */
  private def cachedHashedShingleArrays(docs: DataFrame, idCol: String, textCol: String, n: Int) =
    PlanCache.getOrPersist(docs, s"shingles:$idCol:$textCol:$n:true")(
      hashedShingleArrays(docs, idCol, textCol, n))

  /** Tier 2: all pairs with shingle-set Jaccard >= threshold (exact).
    * Output: (id_a, id_b, jaccard) with id_a < id_b, rounded to 6 dp so the
    * DuckDB oracle hash-matches despite engine-internal double noise. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // both self-join sides re-run the shingle regex scan otherwise
    val arrays = cachedShingleArrays(docs, idCol, textCol, n)
    val sh = arrays.select(col("id"),
      size(col("shs")).cast("long").as("n_sh"), explode(col("shs")).as("s"))
    val a = sh.as("a"); val b = sh.as("b")
    // n_a/n_b ride along with the grouping keys — no join back to a count table
    a.join(b, col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard", round(col("n_inter").cast("double")
        / (col("n_a") + col("n_b") - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Tier 2b: prefix-filtered exact Jaccard (AllPairs/PPJoin family) —
    * identical output to `ngramJaccardPairs`, different join geometry.
    *
    * Shingles are ordered by ascending global frequency (rarest first,
    * ties on the shingle string); each doc keeps only its first
    * `|S| - ceil(t*|S|) + 1` shingles as its PREFIX. Any pair with
    * J >= t must share at least ceil(t*max(|A|,|B|)) shingles, so under a
    * consistent global order their prefixes must intersect — joining
    * prefix-to-prefix loses no qualifying pair, but skips the massive
    * fan-out on common shingles (exactly the ones a near-dup pair can
    * afford to miss). Candidates are then exact-verified on full sets.
    *
    * At 100 TB this is the difference between joining on every "the_end_of"
    * and joining only on each doc's rarest handful. All stages are
    * shuffle-on-key; the frequency table is a broadcastable agg.
    */
  def ngramJaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
                              n: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0, "threshold must be positive")
    // The shingle regex pass dominates scan cost and the plan needs it in
    // several branches (ranking, both verify sides); Spark has no DAG-level
    // subplan reuse, so materialize the per-doc arrays once. Cardinality ==
    // the doc table (one array row per doc), so this holds at 100 TB too
    // (MEMORY_AND_DISK spills; columnar cache).
    val arrays = cachedHashedShingleArrays(docs, idCol, textCol, n)
    val ranked = rankedShingles(arrays)
    val (p, q) = rationalThreshold(threshold)
    val prefixLen = col("n_sh") - expr(s"(n_sh * $p + ${q - 1}) div $q") + 1
    // ASYMMETRIC index prefix (Bayardo et al. 2007 "Scaling Up All Pairs";
    // Xiao et al. 2008 PPJoin): when sets are compared in (size, id)
    // order, the EARLIER (smaller) side of a qualifying pair must be hit
    // within its first |y| − ⌈(2t/(1+t))·|y|⌉ + 1 tokens — shorter than
    // the probe prefix (2t/(1+t) ≥ t), so the index side of the join
    // carries ~(1−2t/(1+t)) of each doc instead of (1−t): a third fewer
    // candidate rows at t = 0.5, lossless by the prefix-filter lemma.
    // Integer form with t = p/q: 2t/(1+t) = 2p/(q+p).
    val indexLen = col("n_sh") -
      expr(s"(n_sh * 2 * $p + ${q + p - 1}) div ${q + p}") + 1
    // the probe-prefix table feeds BOTH self-join sides (the index rows
    // are a pos-filter subset, indexLen <= prefixLen); without persisting
    // it the whole freq-join + per-doc window pipeline runs twice.
    // Each prefix row also carries the doc's 64-byte count-histogram
    // sketch (graft_range_hist over the hashed shingle set) so the
    // candidate join can apply the lossless overlap upper bound BEFORE the
    // distinct and the full-array verify joins — at the 10x stretch
    // fixture this kills ~99% of the 9.8M junk candidates that the
    // length/positional filters structurally cannot (they are genuinely
    // ~0.35-Jaccard near-misses). The sketch join is 1-row-per-doc and
    // broadcast/AQE-friendly.
    val prefix = PlanCache.getOrPersist(docs, s"ppjoin_prefix_ct:$idCol:$textCol:$n:$threshold")(
      ranked.filter(col("pos") <= prefixLen)
        .select("id", "n_sh", "pos", "h").withColumn("idx_len", indexLen)
        .join(sketches(arrays), "id"))
    val index = prefix.filter(col("pos") <= col("idx_len"))
    // equi-join on the prefix shingle: the LARGER set (ties: larger id)
    // probes with its probe prefix, the smaller is met in its index
    // prefix, with the AllPairs length filter and the PPJoin positional
    // filter riding on the join:
    //  - length: J >= t forces t*|A| <= |B| (the other direction is the
    //    size order itself);
    //  - positional: overlap needed is ceil(t/(1+t)*(|A|+|B|)), and a match
    //    at sorted positions (i, j) caps achievable overlap at
    //    1 + min(|A|-i, |B|-j). The first common prefix shingle of a truly
    //    qualifying pair always passes, so the pruning is lossless.
    // (A bucket-then-pair formulation measured 2x slower here: hot prefix
    // shingles make big buckets, and carrying the bucket array through the
    // pair explode copies it O(df^2).)
    // all threshold comparisons in EXACT integer arithmetic (a double ratio
    // t/(1+t) rounded up under ceil() could prune a borderline qualifying
    // pair, e.g. t=0.2 with t/(1+t)*(|A|+|B|) an exact integer):
    //   t*|A| <= |B|                 ⇔  p*|A| <= q*|B|
    //   o >= ceil(t/(1+t)*(nA+nB))   ⇔  o*(q+p) >= p*(nA+nB)
    // histogram count filter (lossless, see HashRangeHist): the overlap
    // upper bound Σ_r min(cnt_a, cnt_b) must reach the required overlap
    // ceil(t/(1+t)·(nA+nB)); the extra (q+p) slack covers the 6-dp
    // rounding admission at the threshold boundary so no qualifying pair
    // can be pruned. Numeric validity bound: the 6-dp admission is eps·S
    // with eps = 5e-7 and S = nA+nB, so one unit of (q+p) slack absorbs
    // it only while S ≤ ~2e6 combined shingles per pair — far above any
    // fixture doc, but re-derive the slack if docs ever approach 1M
    // shingles each. (Both-saturated histogram ranges contribute 2^50,
    // which dominates any real overlap — see HistMinSum.BothSaturated.)
    // Evaluated per matched row inside the join's
    // whole-stage codegen — junk pairs never reach the distinct exchange.
    val candidates = prefix.as("a").join(index.as("b"),
        col("a.h") === col("b.h") &&
        (col("a.n_sh") > col("b.n_sh") ||
          (col("a.n_sh") === col("b.n_sh") && col("a.id") > col("b.id"))) &&
        col("a.n_sh") * p <= col("b.n_sh") * q &&
        (lit(1L) + least(col("a.n_sh") - col("a.pos"), col("b.n_sh") - col("b.pos")))
          * (q + p) >= (col("a.n_sh") + col("b.n_sh")) * p &&
        graft.functions.HistMinSum.minSum(col("a.ct"), col("b.ct")) * (q + p) >=
          (col("a.n_sh") + col("b.n_sh")) * p - (q + p))
      // distinct on the RAW (probe id, index id) pair — the size-order
      // orientation is unique per unordered pair, so the cardinality is
      // the same as distinct on (min, max). The least/greatest reorder
      // runs on the tiny VERIFIED output below: placed anywhere upstream
      // of the verify joins, Spark infers isnotnull(least(...))
      // constraints back into the candidate join condition (the CLAUDE.md
      // trap; measured 0.8 s -> 3.7 s at sf0.1), and jaccard is
      // orientation-symmetric so verifying the raw orientation is
      // equivalent.
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    // verify on the cached arrays: one merge-scan per candidate pair
    // instead of re-exploding both sides into a pairs x shingles join
    intersectCounts(candidates, arrays, "a", "b")
      .withColumn("jaccard", round(col("n_inter").cast("double")
        / (size(col("hs_a")) + size(col("hs_b")) - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
  }

  /** The prefix tiers' ranked shingle rows over the hashed arrays:
    * `(h, id, n_sh, df, pos)`, one row per (doc, shingle), with `pos` the
    * shingle's 1-based rank in the doc under the global rarest-first order
    * (ascending document frequency, ties on the hash). The document
    * frequency is a groupBy, not a window over the shingle: map-side
    * partial aggregation shrinks its shuffle to one row per distinct
    * shingle, and AQE turns the join back into a broadcast when the
    * vocabulary is small, where a window would shuffle and sort every
    * exploded row. */
  private def rankedShingles(arrays: DataFrame): DataFrame = {
    val sh = arrays.select(col("id"),
      size(col("hs")).cast("long").as("n_sh"), explode(col("hs")).as("h"))
    val freq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(freq, "h")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df").asc, col("h").asc)))
  }

  /** The prefix tiers' threshold as a rational p/q with p, q <= 10^6, so
    * every filter is pure LONG arithmetic: FP-safe (no double ratio, no
    * decimal ceil), cheaper than decimal ops in codegen, and free of
    * overflow for any |S| up to ~10^12 shingles (n_sh * p stays far below
    * 2^63; an unscaled-value rational from threshold.toString could reach
    * 10^16 and wrap). p/q = floor(t*10^6)/10^6 <= t, and a SMALLER
    * threshold only loosens each pruning filter, so losslessness is
    * preserved; exact decimals like 0.5 reduce to the identical fraction. */
  private def rationalThreshold(threshold: Double): (Long, Long) = {
    val g0 = (threshold * 1e6).toLong
    require(g0 > 0, "threshold too small for the rational prefix filter")
    val gcd = BigInt(g0).gcd(BigInt(1000000L)).toLong
    (g0 / gcd, 1000000L / gcd)
  }

  /** Per-doc 64-byte count-histogram sketch of the hashed shingle set,
    * `(id, ct)` — the input of the lossless overlap bound
    * [[graft.functions.HistMinSum]] both prefix tiers apply in their
    * candidate joins. */
  private def sketches(arrays: DataFrame): DataFrame =
    arrays.select(col("id"), graft.functions.HashRangeHist.hist(col("hs")).as("ct"))

  /** Candidate pairs `(id_<x>, id_<y>)` joined to both sides' sorted hashed
    * arrays (`hs_<x>`, `hs_<y>`) with their exact intersection size
    * `n_inter`. The count is [[graft.functions.SortedIntersectCount]], a
    * primitive two-pointer merge in whole-stage codegen instead of
    * array_intersect's per-row hash set and materialized output array: at
    * the 10x stretch fixture the candidate set is 9.8M pairs for 3k true
    * matches, so this constant factor IS the verify stage. The doc-array
    * joins are hinted SHUFFLE_HASH: the build side is one 1-row-per-doc
    * table, and hashing it beats sort-merge's sort of the (much larger)
    * candidate-pair stream on both the local bench and a real cluster. */
  private def intersectCounts(candidates: DataFrame, arrays: DataFrame,
                              x: String, y: String): DataFrame =
    candidates
      .join(arrays.select(col("id").as(s"id_$x"), col("hs").as(s"hs_$x")).hint("SHUFFLE_HASH"),
        Seq(s"id_$x"))
      .join(arrays.select(col("id").as(s"id_$y"), col("hs").as(s"hs_$y")).hint("SHUFFLE_HASH"),
        Seq(s"id_$y"))
      .withColumn("n_inter",
        graft.functions.SortedIntersectCount.count(col(s"hs_$x"), col(s"hs_$y")))

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against the
    * per-doc distinct-shingle arrays: two equi-joins on doc id plus one
    * `array_intersect` per pair — linear in candidates, never re-explodes. */
  private def verifyJaccard(candidates: DataFrame, arrays: DataFrame,
                            threshold: Double): DataFrame =
    candidates
      .join(arrays.select(col("id").as("id_a"), col("shs").as("shs_a")), Seq("id_a"))
      .join(arrays.select(col("id").as("id_b"), col("shs").as("shs_b")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .withColumn("jaccard", round(col("n_inter").cast("double")
        / (size(col("shs_a")) + size(col("shs_b")) - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Exact shingle Jaccard for an EXPLICIT pair set, via the exploded-join
    * formulation — a different code path from verifyJaccard's
    * array_intersect, so the bound-check reports can recompute precision
    * independently of the op under test instead of re-reading its own
    * output column. Cost: one (cached) shingle scan + joins bounded by the
    * pair set. Pairs sharing zero shingles produce no row (callers treat a
    * missing row as a failed check). */
  def jaccardForPairs(docs: DataFrame, idCol: String, textCol: String,
                      pairs: DataFrame, n: Int = 3): DataFrame = {
    val arrays = cachedShingleArrays(docs, idCol, textCol, n)
    val sh = arrays.select(col("id"), size(col("shs")).cast("long").as("n_sh"),
      explode(col("shs")).as("s"))
    pairs.select("id_a", "id_b")
      .join(sh.select(col("id").as("id_a"), col("n_sh").as("na"), col("s")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("n_sh").as("nb"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("n_inter"))
      .select(col("id_a"), col("id_b"),
        round(col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter")), 6)
          .as("jaccard"))
  }

  /** Tier 2b': ASYMMETRIC containment pairs — |S_sub ∩ S_sup| / |S_sub| ≥ t
    * over distinct n-gram shingle sets, the signal Jaccard dilutes when a
    * short document is wholly quoted inside a much longer one (J =
    * |A|/|B| → 0 as B grows, containment stays 1). Output is ORDERED
    * (id_sub, id_sup): both directions of a near-equal pair qualify.
    *
    * Candidate generation is the containment form of the AllPairs prefix
    * filter: a qualifying sub document must share ≥ ⌈t·|A|⌉ shingles with
    * the sup's FULL set, so under the global rarest-first shingle order
    * the sub's first |A| − ⌈t·|A|⌉ + 1 shingles must hit it — join
    * sub-prefix to the full inverted index, with the length filter
    * t·|A| ≤ |B| riding the join (|A∩B| ≤ |B|). Lossless (the oracle runs
    * the naive all-ordered-pairs form and hash-matches). The prefix keeps
    * mostly RARE shingles, so candidate fan-out concentrates on low-df
    * keys; thresholds in exact p/q integer arithmetic as in
    * [[ngramJaccardPairsPrefix]]. Verify = one array_intersect per
    * candidate on the cached hashed arrays. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.9): DataFrame = {
    require(threshold > 0.0, "threshold must be positive")
    val arrays = cachedHashedShingleArrays(docs, idCol, textCol, n)
    val ranked = rankedShingles(arrays)
    val (p, q) = rationalThreshold(threshold)
    val prefixLen = col("n_sh") - expr(s"(n_sh * $p + ${q - 1}) div $q") + 1
    // Two residuals ride this join (see ngramJaccardPairsPrefix):
    //  - count-histogram: containment >= t requires |A∩B| >= ceil(t·|A|),
    //    and Σ_r min(cnt) upper-bounds |A∩B|, so bound·q >= p·n_sub − q is
    //    a lossless prune (the q slack covers the 6-dp rounding
    //    admission). The 10x probe exploded 16.5x without it.
    //  - positional (round 10, the containment form of Xiao et al. 2008
    //    §3.2): BOTH sides carry their rarest-first rank, and a match at
    //    (pos_sub, pos_sup) caps achievable overlap at
    //    1 + min(n_sub − pos_sub, n_sup − pos_sup) — common shingles after
    //    the matched one sit strictly later in BOTH documents under the
    //    shared global order. A qualifying pair's FIRST common shingle is
    //    always inside the sub prefix (pigeonhole) and has no commons
    //    before it, so that row always passes: lossless. This is why the
    //    sup side reads from the RANKED table (position attached) instead
    //    of a bare re-explode; the ranked rows are persisted once and
    //    shared by both join sides, like the jaccard tier's prefix table.
    val ct = sketches(arrays)
    val rankedP = PlanCache.getOrPersist(docs,
        s"containment_ranked:$idCol:$textCol:$n:$threshold")(
      ranked.select("id", "n_sh", "pos", "h"))
    val subPrefix = rankedP.filter(col("pos") <= prefixLen)
      .select(col("id").as("id_sub"), col("n_sh").as("n_sub"),
        col("pos").as("pos_sub"), col("h"))
      .join(ct.select(col("id").as("id_sub"), col("ct").as("ct_sub")), Seq("id_sub"))
    val supSide = rankedP
      .select(col("id").as("id_sup"), col("n_sh").as("n_sup"),
        col("pos").as("pos_sup"), col("h"))
      .join(ct.select(col("id").as("id_sup"), col("ct").as("ct_sup")), Seq("id_sup"))
    val candidates = subPrefix.join(supSide, Seq("h"))
      .filter(col("id_sub") =!= col("id_sup") &&
        col("n_sub") * p <= col("n_sup") * q && // t·|A| ≤ |B| since |A∩B| ≤ |B|
        (lit(1L) + least(col("n_sub") - col("pos_sub"),
          col("n_sup") - col("pos_sup"))) * q >= col("n_sub") * p - q &&
        graft.functions.HistMinSum.minSum(col("ct_sub"), col("ct_sup")) * q >=
          col("n_sub") * p - q)
      .select("id_sub", "id_sup").distinct()
    intersectCounts(candidates, arrays, "sub", "sup")
      .withColumn("containment",
        round(col("n_inter").cast("double") / size(col("hs_sub")), 6))
      .filter(col("containment") >= threshold)
      .select("id_sub", "id_sup", "containment")
  }

  /** Tier 2c: copied-passage detection via winnowing fingerprints
    * (graft.functions.Winnow — rolling hash + rightmost-window-min). Docs
    * sharing >= minShared selected hashes contain common passages even when
    * the rest of the text differs — a containment signal Jaccard dilutes on
    * long documents. One explode + one equi-join; the winnow guarantee
    * bounds fingerprints per doc to ~2/(w+1) of its length. */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 16, w: Int = 4, minShared: Int = 10,
                         maxDf: Int = 50): DataFrame = {
    val fp = graft.sources.Tables.widen(docs.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol).as("id"),
      explode(array_distinct(graft.functions.Winnow.fingerprints(
        TextOps.normalizedText(col(textCol)), k, w))).as("fp"))
    // the stop-fingerprint cap (df > maxDf = boilerplate, and exactly the
    // quadratic-fan-out key) is the bucketPairs size filter — no df window,
    // no self-join, and a skewed bucket is bounded at maxDf^2/2 pairs
    bucketPairs(fp, Seq("fp"), maxDf)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Tier 2c': portable winnowing twin — identical selection geometry to
    * `graft.functions.Winnow` (rightmost minimum per sliding window of `w`
    * gram hashes over the normalized text), but the gram hash is md5-derived
    * (28 bits) instead of the native Rabin-Karp rolling hash, and the
    * selection runs as a window-frame MIN both engines evaluate identically:
    *
    *   enc(pos) = h(pos) * 2^22 + (2^22-1 - pos)
    *
    * so MIN(enc) over [pos, pos+w-1] picks the smallest hash with the
    * RIGHTMOST position on ties — exactly the winnowing rule — and
    * enc div 2^22 recovers the hash. Positions are capped at
    * max(1, nGrams-w+1) so short documents collapse to a single global
    * window, matching the native expression's <= w special case. This gives
    * the winnowing tier a FULL DuckDB oracle.
    *
    * Two implementations with identical output (asserted in WinnowSpec):
    * the default routes through `graft.functions.Md5WinnowFingerprints`, a
    * native one-pass codegen expression (no per-gram explode, no md5
    * column, no window exchange — at sf0.1 a ~1.5M-row shuffle saved); the
    * test-side referee `Referees.winnowFingerprintsPortableRelational`
    * keeps the pure column-expression formulation the DuckDB oracle SQL
    * mirrors step-for-step.
    *
    * Output: one row per distinct (id, fp). Requires docs < 2^22 chars. */
  def winnowFingerprintsPortable(docs: DataFrame, idCol: String, textCol: String,
                                 k: Int = 16, w: Int = 4): DataFrame =
    graft.sources.Tables.widen(docs.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol).as("id"),
      explode(graft.functions.Winnow.fingerprintsMd5(
        TextOps.normalizedText(col(textCol)), k, w)).as("fp"))

  /** Pair generation over the portable fingerprints — same bucket-then-pair
    * + stop-fingerprint df cap as `winnowOverlapPairs`. */
  def winnowOverlapPairsPortable(docs: DataFrame, idCol: String, textCol: String,
                                 k: Int = 16, w: Int = 4, minShared: Int = 10,
                                 maxDf: Int = 50): DataFrame = {
    val fp = winnowFingerprintsPortable(docs, idCol, textCol, k, w)
    bucketPairs(fp, Seq("fp"), maxDf)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Tier 3a: MinHash-LSH candidate pairs, exact-verified.
    *
    * numPerm signatures banded into groups of `rowsPerBand`; docs sharing any
    * band bucket are candidates (equi-join on the band hash — linear shuffle,
    * no cross join); candidates are then exact-verified with true Jaccard.
    * Detection probability for a pair at Jaccard j is
    * 1-(1-j^rowsPerBand)^(numPerm/rowsPerBand).
    */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, numPerm: Int = 64, rowsPerBand: Int = 2,
                          threshold: Double = 0.5, maxBucket: Int = 64): DataFrame = {
    require(numPerm % rowsPerBand == 0, "numPerm must be divisible by rowsPerBand")
    require(threshold > 0.0, "threshold must be positive (zero-overlap candidates are pruned)")
    val arrays = cachedShingleArrays(docs, idCol, textCol, n)
    // r15: band keys come from the one-pass native kernel (the sigsMd5
    // idiom) instead of exploding every shingle into a numPerm-wide
    // min-aggregate shuffle and folding numPerm signature columns into
    // band hashes — same xxhash64 values bit-for-bit (XxKernelParitySpec),
    // zero exploded-shingle exchange, no 64-buffer hash agg. filter
    // size > 0 mirrors the relational groupBy's absent-group semantics
    // for shingle-less docs.
    val banded = arrays.filter(size(col("shs")) > 0)
      .select(col("id"), posexplode(
        graft.functions.MinHash.bandsXx(col("shs"), numPerm, rowsPerBand)))
      .select(col("id"), col("pos").as("band"), col("col").as("bh"))
    // one shuffle on (band, bandHash); see bucketPairs for cap semantics
    // (near-dup clusters > maxBucket lose pairs — fan-out bound, not recall)
    val candidates = bucketPairs(banded, Seq("band", "bh"), maxBucket).distinct()
    // exact verification of candidates only (precision 1.0): array_intersect
    // against the cached per-doc arrays. Zero-shingle docs have no bands, so
    // every candidate id resolves; threshold > 0 keeps semantics identical.
    verifyJaccard(candidates, arrays, threshold)
  }

  /** Universal-hash permutation constants — see
    * [[graft.functions.MinHash.permConsts]] (shared with the native
    * expression and the oracle SQL builder). */
  def permConsts(numPerm: Int): (Array[Long], Array[Long]) =
    graft.functions.MinHash.permConsts(numPerm)

  /** MinHash prime modulus (2^31 - 1, Mersenne). */
  val MinhashPrime: Long = graft.functions.MinHash.Prime

  /** Tier 3a': portable-hash MinHash-LSH — identical algorithm to
    * `minhashNearDupPairs` but the hash family is md5-derived (28-bit base
    * hash from the first 7 hex chars) composed with integer universal
    * hashing `(a*h+b) mod 2^31-1`, every step of which an ANSI-SQL engine
    * reproduces bit-for-bit. This gives the approximate tier a FULL DuckDB
    * oracle: same signatures -> same bands -> same candidates -> same
    * verified pairs, checked end-to-end by the driver's hash compare.
    *
    * Signatures come from the native one-pass expression
    * (`graft.functions.Md5MinHashSigs` — no exploded-shingle numPerm-min
    * aggregate shuffle); the test-side referee
    * `Referees.minhashSigsPortableRelational` keeps the column-expression
    * formulation the oracle mirrors (bit-parity asserted in DedupSpec). */
  def minhashNearDupPairsPortable(docs: DataFrame, idCol: String, textCol: String,
                                  n: Int = 3, numPerm: Int = 32, rowsPerBand: Int = 2,
                                  threshold: Double = 0.5, maxBucket: Int = 64): DataFrame = {
    require(threshold > 0.0, "threshold must be positive")
    val arrays = cachedShingleArrays(docs, idCol, textCol, n)
    // same hot-bucket cap as minhashNearDupPairs (mirrored in the oracle SQL)
    val candidates = bucketPairs(md5BandKeys(arrays, numPerm, rowsPerBand),
      Seq("band", "bk"), maxBucket).distinct()
    verifyJaccard(candidates, arrays, threshold)
  }

  /** Portable MinHash band keys over an `(id, shs)` shingle-array frame:
    * `(id, sig, band, bk)`, one row per (doc, band), where `sig` is the
    * doc's md5-derived signature ([[graft.functions.MinHash.sigsMd5]]) and
    * `bk` joins the band's `rowsPerBand` signature values with "," (the
    * string key the oracle SQL builds). Shingle-less docs get no rows,
    * mirroring the relational groupBy's absent-group semantics. Shared by
    * the batch portable tiers and the streaming twins, so identical input
    * gives identical buckets in both. */
  private[graft] def md5BandKeys(arrays: DataFrame, numPerm: Int, rowsPerBand: Int): DataFrame = {
    require(numPerm % rowsPerBand == 0, "numPerm must be divisible by rowsPerBand")
    val bandCols = (0 until numPerm / rowsPerBand).map { b =>
      val slice = (0 until rowsPerBand).map(r => col("sig")(b * rowsPerBand + r).cast("string"))
      struct(lit(b).as("band"), concat_ws(",", slice: _*).as("bk"))
    }
    arrays.filter(size(col("shs")) > 0)
      .select(col("id"), graft.functions.MinHash.sigsMd5(col("shs"), numPerm).as("sig"))
      .select(col("id"), col("sig"), explode(array(bandCols: _*)).as("e"))
      .select(col("id"), col("sig"), col("e.band").as("band"), col("e.bk").as("bk"))
  }

  /** Incremental MinHash dedup: near-dup pairs that INVOLVE the new batch
    * (`isNew` over the id column), against new ∪ history — without ever
    * generating history×history pairs. This is the production ingest
    * shape: each day's crawl joins its band signatures against the full
    * band index, so the cost is |new batch| × bucket width, not
    * |corpus|². Implemented as an asymmetric bucket join (new side ⋈ all
    * sides) instead of the symmetric bucket-then-pair; the same
    * hot-bucket cap applies via a size filter on the bucket key, and
    * candidates are exact-verified as always (precision 1.0).
    * Output equals the full portable tier filtered to pairs with at
    * least one new id — the oracle checks exactly that equivalence. */
  def minhashIncrementalPairsPortable(docs: DataFrame, idCol: String, textCol: String,
                                      isNew: Column => Column,
                                      n: Int = 3, numPerm: Int = 32, rowsPerBand: Int = 2,
                                      threshold: Double = 0.5, maxBucket: Int = 64): DataFrame = {
    require(threshold > 0.0, "threshold must be positive")
    val arrays = cachedShingleArrays(docs, idCol, textCol, n)
    val candidates = newVsAllBucketPairs(md5BandKeys(arrays, numPerm, rowsPerBand),
      Seq("band", "bk"), maxBucket, isNew)
    verifyJaccard(candidates, arrays, threshold)
  }

  /** Asymmetric bucket join of the incremental tiers: `(id_a, id_b,
    * extra…)` for every pair of `banded` rows (`id` plus `keyCols`) that
    * share a bucket and include at least one `isNew` id. Bucket sizes are
    * counted over the FULL banded index, so a bucket made hot by history
    * alone still caps at `maxBucket`; the new-side filter then rides the
    * candidate equi-join (new side ⋈ all sides), never generating
    * history×history pairs. `extra` columns are computed over the joined
    * `x.`/`y.` sides and must be orientation-symmetric. */
  private def newVsAllBucketPairs(banded: DataFrame, keyCols: Seq[String], maxBucket: Int,
                                  isNew: Column => Column,
                                  extra: Seq[Column] = Nil): DataFrame = {
    val keys = keyCols.map(col)
    val sized = banded.groupBy(keys: _*).agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(2, maxBucket))
    val ok = banded.join(sized.select(keys: _*), keyCols)
    // raw-pair distinct first, reorder after: least/greatest projected
    // directly over the join seeds isnotnull(least(...)) constraint
    // inference into the join and drops it from whole-stage codegen
    // (see CLAUDE.md); a new×new pair appears in both orientations, so a
    // second (tiny) distinct follows the reorder
    val raw = ok.filter(isNew(col("id"))).as("x")
      .join(ok.as("y"),
        keyCols.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
          col("x.id") =!= col("y.id"))
      .select(col("x.id").as("u") +: col("y.id").as("v") +: extra: _*).distinct()
    raw.select(least(col("u"), col("v")).as("id_a") +:
        greatest(col("u"), col("v")).as("id_b") +: raw.columns.drop(2).map(col): _*)
      .distinct()
  }

  /** 64-bit SimHash of the shingle set: bit k is the sign of
    * sum over shingles of ±1 according to bit k of xxhash64(shingle). */
  def simhash64(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    // r15: one-pass native kernel (the chunksMd5 idiom) instead of
    // exploding every shingle into a 64-sum-aggregate shuffle and OR-folding
    // 64 sign columns — same xxhash64 bit votes bit-for-bit
    // (XxKernelParitySpec); filter size > 0 mirrors the relational
    // groupBy's absent-group semantics for shingle-less docs. The arrays
    // go through the shared shingle cache so q_dedup_simhash's raw-pair
    // and signature tiers run the regex pass once, not per tier.
    cachedShingleArrays(docs, idCol, textCol, n)
      .filter(size(col("shs")) > 0)
      .select(col("id"),
        graft.functions.SimHash.sim64Xx(col("shs")).as("simhash"))

  /** Tier 3b: SimHash near-dup candidates — band the 64 bits into four
    * 16-bit chunks (pigeonhole: hamming <= 3 pairs share at least one exact
    * chunk), equi-join per chunk, verify true hamming distance. */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, maxHamming: Int = 3, maxBucket: Int = 64): DataFrame = {
    val sims = simhash64(docs, idCol, textCol, n)
    val chunks = (0 until 4).map(c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL).as("ch")))
    val banded = sims.select(col("id"), col("simhash"), explode(array(chunks: _*)).as("e"))
      .select(col("id"), col("simhash"), col("e.chunk").as("chunk"), col("e.ch").as("ch"))
    payloadBucketPairs(banded, Seq("chunk", "ch"), Seq("simhash"), maxBucket)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb")).distinct()
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Tier 3b': portable-hash SimHash — identical banding/verify geometry to
    * `simhashNearDupPairs`, but the 64 per-shingle bits come from md5 (two
    * 32-bit halves of the hex digest), and the signature is kept as four
    * 16-bit chunks c0..c3 instead of one packed 64-bit value (no sign-bit
    * or shift-overflow divergence between engines). Every step — md5, bit
    * tests, majority vote, chunk packing, bucket join, hamming — is
    * reproducible in ANSI SQL, giving this approximate tier a FULL DuckDB
    * oracle (the q_dedup_minhash_portable pattern).
    */
  def simhash4x16Portable(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 3): DataFrame = {
    // native one-pass chunks over the shingle array (no exploded-shingle
    // 64-sum-aggregate shuffle); empty-shingle docs are filtered to match
    // the relational groupBy's absent-group semantics
    val withChunks = shingleArrays(docs, idCol, textCol, n)
      .filter(size(col("shs")) > 0)
      .withColumn("cs", graft.functions.SimHash.chunksMd5(col("shs")))
    withChunks.select(col("id") +:
      (0 until 4).map(c => col("cs")(c).as(s"c$c")): _*)
  }

  def simhashNearDupPairsPortable(docs: DataFrame, idCol: String, textCol: String,
                                  n: Int = 3, maxHamming: Int = 16,
                                  maxBucket: Int = 64): DataFrame =
    chunk4x16Pairs(simhash4x16Portable(docs, idCol, textCol, n), maxHamming, maxBucket)

  /** Pigeonhole Hamming join over any 4×16-bit signature table
    * (`id, c0..c3` — portable SimHash, image aHash, …): docs sharing any
    * 16-bit chunk value are candidates (equi-join on (chunk, value) — ONE
    * linear shuffle of the 32-byte signatures), verified by exact popcount
    * against the signatures carried in the bucket structs. Hot chunk values
    * are capped at `maxBucket` members (the aggregation buffer itself is
    * bounded by CollectCapped, so a degenerate value can't build an
    * unbounded array in one task) — the same cap semantics as every other
    * approximate tier, mirrored exactly by the oracles' `elig` CTE.
    * Recall: pigeonhole-complete for hamming < 4; candidate-based above. */
  def chunk4x16Pairs(sig: DataFrame, maxHamming: Int, maxBucket: Int): DataFrame = {
    val ham = (0 until 4).map(c =>
      bit_count(col(s"a.c$c").bitwiseXOR(col(s"b.c$c")))).reduce(_ + _)
    payloadBucketPairs(chunkBands(sig), Seq("chunk", "v"), ChunkCols, maxBucket)
      .distinct()
      .withColumn("hamming", ham.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("hamming"))
  }

  /** Incremental variant of [[chunk4x16Pairs]]: pairs that INVOLVE the
    * `isNew` slice only — the daily-ingest shape (new×new and new×history,
    * never history×history), the asymmetric bucket join of
    * `minhashIncrementalPairsPortable`. Hamming is orientation-symmetric,
    * so it rides the raw-pair distinct. */
  def chunk4x16IncrementalPairs(sig: DataFrame, isNew: Column => Column,
                                maxHamming: Int, maxBucket: Int): DataFrame = {
    val ham = (0 until 4).map(c =>
      bit_count(col(s"x.c$c").bitwiseXOR(col(s"y.c$c")))).reduce(_ + _)
    newVsAllBucketPairs(chunkBands(sig), Seq("chunk", "v"), maxBucket, isNew,
        Seq(ham.cast("long").as("hamming")))
      .filter(col("hamming") <= maxHamming)
  }

  private val ChunkCols = (0 until 4).map(c => s"c$c")

  /** A 4×16-bit signature table (`id, c0..c3`) banded by chunk: one row
    * `(id, c0..c3, chunk, v)` per (doc, chunk), with `v` the chunk's value
    * and the full signature carried for verification. */
  private[graft] def chunkBands(sig: DataFrame): DataFrame = {
    val sigCols = col("id") +: ChunkCols.map(col)
    val chunkStructs = ChunkCols.indices.map(c =>
      struct(lit(c).as("chunk"), col(ChunkCols(c)).as("v")))
    sig.select(sigCols :+ explode(array(chunkStructs: _*)).as("e"): _*)
      .select(sigCols :+ col("e.chunk").as("chunk") :+ col("e.v").as("v"): _*)
  }

  /** Tier 2c: fuzzy dedup via RARE-KEY blocking + edit-distance
    * verification — the classic entity-resolution pipeline shape.
    * Candidates are pairs sharing at least `minShared` shingles whose
    * corpus document frequency is ≤ `maxDf` (rare shingles are the
    * discriminative blocking keys; common ones only generate noise
    * pairs). Verification is normalized Levenshtein similarity
    * `1 - dist/max(len_a, len_b)` on the full texts, which catches
    * reorder-free edits (typos, small insertions) that set-based Jaccard
    * over-penalizes and ranks.
    *
    * Scale shape: the blocking join touches ONLY rare shingles, so each
    * key's fan-out is ≤ maxDf²/2 pairs — a hard bound, unlike a loose
    * Jaccard threshold whose prefix filter degenerates (an earlier
    * jaccard ≥ 0.02 formulation of this query cost 2.5× more at sf0.1 for
    * the same surviving pairs). `levenshtein` is O(|a|·|b|) per CANDIDATE
    * only, inside codegen, never all-pairs. The verdict compares the
    * ROUNDED similarity so both engines agree at the threshold boundary.
    * Recall of the blocking step vs the exact jaccard ≥ 0.5 tier is
    * perfect on both test scales (every exact pair shares ≥ 5 rare
    * shingles); in general recall is tunable via (maxDf, minShared).
    */
  def fuzzyDedupPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, maxDf: Int = 16, minShared: Int = 4,
                      simThreshold: Double = 0.75): DataFrame = {
    val sh = cachedShingleArrays(docs, idCol, textCol, n)
      .select(col("id"), explode(col("shs")).as("s"))
    val rareKeys = sh.groupBy("s").agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxDf)
    val rare = sh.join(rareKeys.select("s"), "s")
    val cand = rare.as("a")
      .join(rare.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).cast("long").as("shared"))
      .filter(col("shared") >= minShared)
    val da = docs.select(col(idCol).as("id_a"), col(textCol).as("text_a"))
    val db = docs.select(col(idCol).as("id_b"), col(textCol).as("text_b"))
    cand.join(da, "id_a").join(db, "id_b")
      .withColumn("edit_dist",
        levenshtein(col("text_a"), col("text_b")).cast("long"))
      .withColumn("mx",
        greatest(length(col("text_a")), length(col("text_b"))).cast("long"))
      // truncating micro-units ((mx-d)*1e6 div mx): a rounded double
      // quotient can land exactly on the halfway digit where the engines'
      // rounding laws split (FIXTURES.md)
      .withColumn("edit_sim",
        expr("((mx - edit_dist) * 1000000) div mx").cast("double") / 1000000d)
      .select(col("id_a"), col("id_b"), col("shared"), col("edit_dist"),
        col("edit_sim"), (col("edit_sim") >= simThreshold).as("is_dup"))
  }
}
