package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, shingling, stopword/language scoring, normalization
  * fingerprints, quality scoring. Everything is a codegen'd column
  * expression (`functions._` only — no UDFs), so Catalyst collapses these
  * into the scan projection and they vectorize over 100 TB of documents
  * as well as over the local testdata.
  */
object TextOps {

  /** Word tokens: maximal `[a-z0-9]+` runs of the lowercased text. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  /** Whitespace-separated tokens (Unix `wc -w` semantics). */
  def wsTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0)))

  /** BPE-ish pre-tokenization: letter runs | digit runs | punctuation runs —
    * the usual byte-pair pre-split shape (public GPT-2-style pre-tokenizer,
    * simplified to ASCII classes). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]+"), lit(0)))

  /** Distinct word n-gram shingles of the text, joined with '_'.
    *
    * Implemented as ONE codegen'd regex pass: tokens are '_'-joined, then
    * overlapping n-grams are captured through a zero-width lookahead anchored
    * at token starts (`(?<![a-z0-9])`). A `transform(sequence(...),
    * element_at(toks,...))` formulation is the obvious alternative, but
    * higher-order functions are CodegenFallback and re-evaluate the embedded
    * tokenizer regex per lambda call — measured ~150x slower per document.
    * Docs shorter than n tokens naturally yield an empty array. */
  def shingles(text: Column, n: Int = 3): Column = {
    val joined = array_join(tokens(text), "_")
    val pat = "(?<![a-z0-9])(?=(" + List.fill(n)("[a-z0-9]+").mkString("_") + "))"
    array_distinct(regexp_extract_all(joined, lit(pat), lit(1)))
  }

  def stopwordCount(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(lower(text), lit("\\b(" + words.mkString("|") + ")\\b"), lit(0)))

  /** Tiny public stopword lists per language for n-gram language ID. */
  val StopwordsEn = Seq("the", "and", "of", "to", "in", "is")
  val StopwordsDe = Seq("der", "die", "das", "und", "ist", "nicht")
  val StopwordsFr = Seq("le", "la", "les", "et", "est", "dans")
  val StopwordsEs = Seq("el", "los", "las", "y", "es", "en")

  /** All four language stopword scores in ONE native byte-scan pass —
    * `array(en, de, fr, es)` counts, value-identical per element to
    * [[stopwordCount]] on the matching list (parity property-tested in
    * StopwordCountsSpec). The 4-language scorers previously ran four full
    * regex scans of every document; ProbeBand measured that stage at
    * 0.38 s / 3.50 s (sf0.1 / sf1x) — the hottest part of
    * q_pipeline_assemble — so the fan-out sites use this fused form. */
  def langScores(text: Column): Column =
    graft.functions.StopwordCounts.of(text,
      Seq(StopwordsEn, StopwordsDe, StopwordsFr, StopwordsEs))

  /** Whitespace-collapsed, trimmed, lowercased canonical form. The
    * whitespace class is EXPLICIT ASCII, not `\s`: Java's `\s` includes
    * U+000B (vertical tab) but RE2's does not, so an oracle mirroring
    * `\s` silently diverges on VT-bearing text. `\x0B` parses identically
    * in both engines. */
  val WsClassRe = "[ \\t\\n\\r\\f\\x0B]+"
  def normalizedText(text: Column): Column =
    lower(trim(regexp_replace(text, WsClassRe, " ")))

  /** Content fingerprint of the normalized text (normalization-invariant
    * exact-dup key). */
  def fingerprint(text: Column): Column = md5(normalizedText(text))

  /** Per-source KL divergence KL(P_source ‖ P_corpus) over unigram
    * distributions — the domain-drift audit ("which source's language has
    * diverged from the corpus"), the information-theoretic complement of
    * [[graft.ops.CleanOps]]' shingle-overlap leakage audit. Formulated
    * over each source's OBSERVED terms with unsmoothed p_s (which sums to
    * 1) against the corpus marginal (positive for every observed term),
    * so no dense source×vocab completion is needed:
    * KL(s) = Σ_t (c_st/T_s)·ln(c_st·T_c / (T_s·c_ct)).
    *
    * Determinism: the ln argument is a quotient of EXACT integer products
    * (both < 2^53 — at larger scale divide counts first), each ln rounded
    * to integer micro-units, so per-source sums are exact BIGINT and
    * kl_micro a truncating quotient.
    *
    * Scale shape: one (source, term) partial-agg shuffle; T_s / c_ct /
    * T_c all fold in as windows over that BOUNDED bucket table
    * (per-source ≤ vocab rows, per-term ≤ |sources| rows, global =
    * vocab·|sources| — the dsirWeights discipline; cap vocab by df at
    * open-web scale). */
  def sourceKl(docs: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val cst = docs
      .select(col(sourceCol).as("source"), explode(tokens(col(textCol))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c_st"))
    val wSrc = Window.partitionBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wTerm = Window.partitionBy(col("term"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val enriched = cst
      .withColumn("t_s", sum(col("c_st")).over(wSrc))
      .withColumn("c_ct", sum(col("c_st")).over(wTerm))
      .withColumn("t_c", sum(col("c_st")).over(wAll))
      .withColumn("lr_micro",
        round(log((col("c_st") * col("t_c")).cast("double")
          / (col("t_s") * col("c_ct")).cast("double")) * lit(1e6), 0).cast("long"))
    enriched.groupBy("source")
      .agg(max(col("t_s")).as("n_tokens"),
        call_function("div",
          greatest(sum(col("c_st") * col("lr_micro")), lit(0L)),
          max(col("t_s"))).as("kl_micro"))
      .orderBy("source")
  }

  /** DuckDB twin of [[sourceKl]] over `documents`. */
  val SourceKlOracle: String =
    """WITH tt AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |           FROM documents),
      |cst AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c_st
      |        FROM tt GROUP BY 1, 2),
      |en AS (SELECT *,
      |    SUM(c_st) OVER (PARTITION BY source) AS t_s,
      |    SUM(c_st) OVER (PARTITION BY term) AS c_ct,
      |    SUM(c_st) OVER () AS t_c
      |  FROM cst),
      |lr AS (SELECT *,
      |    CAST(round(ln(CAST(c_st * t_c AS DOUBLE) / CAST(t_s * c_ct AS DOUBLE)) * 1000000, 0) AS BIGINT) AS lr_micro
      |  FROM en)
      |SELECT source, CAST(MAX(t_s) AS BIGINT) AS n_tokens,
      |  CAST(greatest(SUM(c_st * lr_micro), 0) // MAX(t_s) AS BIGINT) AS kl_micro
      |FROM lr GROUP BY source ORDER BY source""".stripMargin

  /** PMI collocation mining (Church & Hanks 1990): score each adjacent
    * word bigram by `pmi = ln(c_xy · N / (c_x · c_y))` where the margins
    * c_x (first-position) / c_y (second-position) and the total N all come
    * from the bigram table itself. High-PMI pairs are multiword
    * expressions — the phrase-vocabulary step of a training-data pipeline.
    *
    * Engine parity: counts and the margin products are exact BIGINT; the
    * single double op is one division + ln, rounded to integer micro-units
    * (the DSIR convention — ln of a rational never lands on a rounding
    * half-digit). The fixture's products stay far below 2^53; at real
    * corpus scale compute the score as `ln(c_xy)+ln(N)-ln(c_x)-ln(c_y)`
    * instead (monotone-identical ranking, no overflow).
    *
    * Scale shape: one explode pass over the corpus into a partial-agg'd
    * (w1, w2) count — the ONLY corpus-sized shuffle; margins re-aggregate
    * the distinct-bigram table (vocab-sized); N is a bounded ONE-row
    * driver collect entering as a literal (no one-row-join product plan,
    * see Sketch.kmvSetOps); the final top-k is TakeOrderedAndProject.
    * The margin joins shuffle vocab-sized tables only. */
  def pmiCollocations(docs: DataFrame, textCol: String,
                      minCount: Long = 5L, topK: Int = 30): DataFrame = {
    val joined = array_join(tokens(col(textCol)), "_")
    val bigramPat = "(?<![a-z0-9])(?=([a-z0-9]+_[a-z0-9]+))"
    val cnt = docs
      .select(explode(regexp_extract_all(joined, lit(bigramPat), lit(1))).as("g"))
      .select(substring_index(col("g"), "_", 1).as("w1"),
        substring_index(col("g"), "_", -1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_xy"))
    val lx = cnt.groupBy("w1").agg(sum("n_xy").as("n_x"))
    val ly = cnt.groupBy("w2").agg(sum("n_xy").as("n_y"))
    // N = Σ_docs max(n_tokens - 1, 0) ≡ total bigrams, but as a scan-only
    // aggregate (no second explode/shuffle pass for the one-row collect)
    val n = docs.select(
        sum(greatest(size(tokens(col(textCol))) - 1, lit(0)).cast("long")))
      .collect()(0).getLong(0)
    cnt.join(lx, "w1").join(ly, "w2")
      .filter(col("n_xy") >= minCount)
      .select(col("w1"), col("w2"), col("n_xy"), col("n_x"), col("n_y"),
        round(log((col("n_xy") * lit(n)).cast("double") /
          (col("n_x") * col("n_y")).cast("double")) * lit(1e6), 0)
          .cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** DuckDB twin of [[pmiCollocations]] over the `documents` table. */
  def pmiCollocationsOracle(minCount: Long = 5L, topK: Int = 30): String =
    s"""WITH t0 AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |            FROM documents),
       |g AS (SELECT unnest([toks[i]||'_'||toks[i+1] for i in range(1, len(toks))]) AS s
       |      FROM t0),
       |p AS (SELECT split_part(s, '_', 1) AS w1, split_part(s, '_', 2) AS w2 FROM g),
       |cnt AS (SELECT w1, w2, COUNT(*) AS n_xy FROM p GROUP BY 1, 2),
       |lx AS (SELECT w1, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM cnt GROUP BY 1),
       |ly AS (SELECT w2, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM cnt GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cnt)
       |SELECT w1, w2, n_xy, n_x, n_y,
       |  CAST(round(ln((n_xy * n)::DOUBLE / (n_x * n_y)::DOUBLE) * 1000000.0)
       |       AS BIGINT) AS pmi_micro
       |FROM cnt JOIN lx USING (w1) JOIN ly USING (w2) CROSS JOIN tot
       |WHERE n_xy >= $minCount
       |ORDER BY pmi_micro DESC, w1, w2 LIMIT $topK""".stripMargin

  /** Word-bigram extraction fragment shared by the corpus-statistics ops
    * (the one-pass lookahead from [[pmiCollocations]]/dsirWeights). */
  private val BigramPat = "(?<![a-z0-9])(?=([a-z0-9]+_[a-z0-9]+))"
  private def bigrams(text: Column): Column =
    regexp_extract_all(array_join(tokens(text), "_"), lit(BigramPat), lit(1))

  /** Zipf-law fit over the corpus term-frequency distribution: the least-
    * squares slope of ln(frequency) against ln(rank) for the top-`topK`
    * word bigrams — the standard corpus-health diagnostic (natural text
    * sits near slope −1; template/boilerplate floods flatten the head,
    * near-random token soup steepens the tail). Bigrams rather than
    * unigrams because the fixture's unigram vocabulary is ~31 terms.
    *
    * Engine parity: the two transcendentals (ln rank, ln freq) are
    * rounded to integer MILLI-units, after which the regression is pure
    * BIGINT — n·Σxy stays < 2^47 at milli-scale for any topK ≤ 10⁴ where
    * micro-units would overflow. The final quotient is sign-decomposed
    * (sign · |num|·10⁶ div den) because the numerator is negative and
    * Spark's div truncates toward zero while DuckDB's // floors — on the
    * non-negative |num| they agree (the FIXTURES.md negative-operand
    * trap).
    *
    * Scale shape: one explode pass into a partial-agg'd term count (the
    * only corpus-sized shuffle), TakeOrderedAndProject for the top-K, and
    * every window/aggregate after that runs over ≤ topK rows. */
  def zipfSlope(docs: DataFrame, textCol: String, topK: Int = 200): DataFrame = {
    require(topK >= 2, "need at least 2 ranks to fit a slope")
    val cnt = docs.select(explode(bigrams(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).cast("long").as("f"))
      .orderBy(col("f").desc, col("term").asc).limit(topK)
    val rk = cnt.withColumn("r",
      row_number().over(Window.orderBy(col("f").desc, col("term").asc)).cast("long"))
    val m = rk.select(
      round(log(col("r").cast("double")) * 1000, 0).cast("long").as("x"),
      round(log(col("f").cast("double")) * 1000, 0).cast("long").as("y"))
    m.agg(count(lit(1)).cast("long").as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n").as("n_terms"),
        (when(col("n") * col("sxy") - col("sx") * col("sy") < 0, -1L).otherwise(1L) *
          call_function("div",
            abs(col("n") * col("sxy") - col("sx") * col("sy")) * 1000000L,
            col("n") * col("sxx") - col("sx") * col("sx"))).as("slope_micro"))
  }

  /** DuckDB twin of [[zipfSlope]] over the `documents` table. */
  def zipfSlopeOracle(topK: Int = 200): String =
    s"""WITH t0 AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |            FROM documents),
       |g AS (SELECT unnest([toks[i]||'_'||toks[i+1] for i in range(1, len(toks))]) AS term
       |      FROM t0),
       |cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS f FROM g GROUP BY 1),
       |top AS (SELECT term, f FROM cnt ORDER BY f DESC, term LIMIT $topK),
       |rk AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, term) AS r FROM top),
       |m AS (SELECT CAST(round(ln(r) * 1000) AS BIGINT) AS x,
       |             CAST(round(ln(f) * 1000) AS BIGINT) AS y FROM rk),
       |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
       |             SUM(x*y) AS sxy, SUM(x*x) AS sxx FROM m)
       |SELECT n AS n_terms,
       |  CAST((CASE WHEN n*sxy - sx*sy < 0 THEN -1 ELSE 1 END) *
       |    ((abs(n*sxy - sx*sy) * 1000000) // (n*sxx - sx*sx)) AS BIGINT)
       |    AS slope_micro
       |FROM s""".stripMargin

  /** Heaps-law vocabulary-growth curve: distinct word-bigram vocabulary
    * V(n) after the first k/`checkpoints` fraction of the doc-id range,
    * for k = 1..checkpoints — the "is new data still adding new language"
    * acquisition diagnostic (a flattening curve means additional corpus
    * mostly repeats known vocabulary; sub-linear V ∝ n^β with β ≈ 0.4–0.6
    * is natural text).
    *
    * Scale shape: per-term first-occurrence = ONE partial-agg'd min over
    * the exploded corpus (the only corpus-sized shuffle); the curve is
    * the vocab-BOUNDED first-doc table exploded against `checkpoints`
    * literal thresholds — no join, no corpus-sized window. The doc-id
    * ceiling enters as a bounded 1-row collect (the PMI total-count
    * precedent) so thresholds are driver literals; threshold arithmetic
    * is nonnegative integer division (engine-agreement trap). */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
                  checkpoints: Int = 8): DataFrame = {
    require(checkpoints >= 1, "need at least one checkpoint")
    val m = docs.agg(max(col(idCol).cast("long"))).head().getLong(0)
    val cps = (1 to checkpoints).map(i =>
      struct(lit(i.toLong).as("checkpoint"),
        lit(m * i / checkpoints).as("threshold")))
    docs.select(col(idCol).cast("long").as("d"),
        explode(bigrams(col(textCol))).as("term"))
      .groupBy("term").agg(min("d").as("first_doc"))
      .select(col("first_doc"), explode(array(cps: _*)).as("cp"))
      .groupBy(col("cp.checkpoint").as("checkpoint"),
        col("cp.threshold").as("threshold"))
      .agg(count(when(col("first_doc") <= col("cp.threshold"), 1))
        .cast("long").as("vocab"))
      .orderBy("checkpoint")
  }

  /** DuckDB twin of [[vocabGrowth]] over the `documents` table. */
  def vocabGrowthOracle(checkpoints: Int = 8): String =
    s"""WITH t0 AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |            FROM documents),
       |tok AS (SELECT doc_id,
       |    unnest([toks[i]||'_'||toks[i+1] for i in range(1, len(toks))]) AS term
       |  FROM t0),
       |fd AS (SELECT term, MIN(doc_id) AS first_doc FROM tok GROUP BY 1),
       |mx AS (SELECT MAX(doc_id) AS m FROM documents),
       |th AS (SELECT i AS checkpoint, (m * i) // $checkpoints AS threshold
       |       FROM (SELECT unnest(range(1, ${checkpoints + 1})) AS i), mx)
       |SELECT checkpoint, threshold,
       |  CAST(COUNT(CASE WHEN first_doc <= threshold THEN 1 END) AS BIGINT) AS vocab
       |FROM th, fd GROUP BY 1, 2 ORDER BY checkpoint""".stripMargin

  // -------------------------------------- TextTiling topic segmentation

  /** TextTiling (Hearst 1997, "TextTiling: Segmenting text into
    * multi-paragraph subtopic passages") — topic-boundary detection, the
    * content-aware CHUNKING step a RAG pipeline wants instead of
    * q_chunk_sliding's fixed windows: documents split into `w`-token
    * pseudo-sentences; at every gap the lexical cohesion of the `k`
    * segments on each side is the exact integer DOT PRODUCT of their term
    * counts; a gap's DEPTH is `(maxLeft − dot) + (maxRight − dot)` with
    * running maxima standing in for Hearst's climb-to-peak (deterministic
    * and order-free); boundaries are gaps whose depth clears 1.5× the
    * document's mean depth, in the cross-multiplied integer form
    * `2·depth·nGaps ≥ 3·Σdepth` (no division, no FP — the oracle matches
    * bit-for-bit).
    *
    * Scale shape: every window partitions by document and is bounded by
    * the document's own gap count (≤ tokens/w rows); block-term rows fan
    * out ≤ 2k gaps per (segment, term); the dot is one partial-aggregable
    * groupBy(doc, gap). No corpus-wide shuffle key other than doc_id. */
  def textTiling(docs: DataFrame, idCol: String, textCol: String,
                 w: Int = 10, k: Int = 2): DataFrame = {
    // gap cohesion dots come from the ONE-PASS native kernel (element i =
    // gap i+1) — the relational explode-per-gap form shuffles ~2k rows per
    // token with nearly unique (doc, gap, term) keys and measured 1060%
    // at the 10× probe; the kernel makes this stage map-only (spec-proven
    // equal to the test-side Referees.textTilingRelationalDots)
    val dots = docs.select(col(idCol),
        posexplode(graft.functions.TextTilingDots.of(col(textCol), w, k))
          .as(Seq("g0", "dot")))
      .select(col(idCol), (col("g0") + 1).as("gap"), col("dot"))
    textTilingDepth(dots, idCol)
  }

  /** Depth scoring + the 1.5×-mean cutoff over a `(idCol, gap, dot)` gap
    * table — windows all partition by document, bounded by its gap count. */
  private def textTilingDepth(dots: DataFrame, idCol: String): DataFrame = {
    val wFwd = Window.partitionBy(idCol).orderBy("gap")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBwd = Window.partitionBy(idCol).orderBy(col("gap").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDoc = Window.partitionBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dots
      .withColumn("depth",
        (max(col("dot")).over(wFwd) - col("dot")) +
          (max(col("dot")).over(wBwd) - col("dot")))
      .withColumn("n_gaps", count(lit(1)).over(wDoc))
      .withColumn("sum_depth", sum(col("depth")).over(wDoc))
      .select(col(idCol), col("gap").cast("long").as("gap"),
        col("dot"), col("depth"),
        (col("depth") > 0 &&
          col("depth") * 2 * col("n_gaps") >= col("sum_depth") * 3).as("is_boundary"))
  }

  /** DuckDB twin of [[textTiling]] over the `documents` table. Segments by
    * TOKEN INDEX (`i // w` over the unnested token array) — exactly the
    * kernel's `tok / w` bucketing — rather than a w-token regex over the
    * normalized text, so the twin holds on arbitrary text (punctuation
    * between tokens forced the regex form to break a segment early; the
    * two agreed only on strictly-`[a-z0-9 ]` fixture text). */
  def textTilingOracle(w: Int = 10, k: Int = 2): String = {
    val offsets = ((1 to k).map(d => s"($d, TRUE)") ++
      (0 until k).map(d => s"(${-d}, FALSE)")).mkString(", ")
    s"""WITH raw AS (SELECT doc_id,
       |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |  FROM documents),
       |tok AS (SELECT doc_id, i // $w AS pos, term
       |        FROM (SELECT doc_id, unnest(range(len(toks))) AS i,
       |                unnest(toks) AS term
       |              FROM raw)),
       |st AS (SELECT doc_id, pos, term, CAST(COUNT(*) AS BIGINT) AS cnt
       |       FROM tok GROUP BY 1, 2, 3),
       |ns AS (SELECT doc_id, MAX(pos) AS max_pos FROM tok GROUP BY 1),
       |contrib AS (SELECT st.doc_id, st.term, st.cnt,
       |    st.pos + g0.d AS gap, g0.is_left
       |  FROM st, (VALUES $offsets) AS g0(d, is_left), ns
       |  WHERE ns.doc_id = st.doc_id
       |    AND st.pos + g0.d >= 1 AND st.pos + g0.d <= ns.max_pos),
       |bt AS (SELECT doc_id, gap, term,
       |         SUM(CASE WHEN is_left THEN cnt ELSE 0 END) AS lcnt,
       |         SUM(CASE WHEN NOT is_left THEN cnt ELSE 0 END) AS rcnt
       |       FROM contrib GROUP BY 1, 2, 3),
       |dots AS (SELECT doc_id, gap, CAST(SUM(lcnt * rcnt) AS BIGINT) AS dot
       |         FROM bt GROUP BY 1, 2),
       |dep AS (SELECT doc_id, gap, dot,
       |    (MAX(dot) OVER (PARTITION BY doc_id ORDER BY gap
       |       ROWS UNBOUNDED PRECEDING) - dot) +
       |    (MAX(dot) OVER (PARTITION BY doc_id ORDER BY gap DESC
       |       ROWS UNBOUNDED PRECEDING) - dot) AS depth
       |  FROM dots),
       |fin AS (SELECT doc_id, gap, dot, depth,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS n_gaps,
       |    SUM(depth) OVER (PARTITION BY doc_id) AS sum_depth
       |  FROM dep)
       |SELECT doc_id, CAST(gap AS BIGINT) AS gap, dot, CAST(depth AS BIGINT) AS depth,
       |  (depth > 0 AND depth * 2 * n_gaps >= sum_depth * 3) AS is_boundary
       |FROM fin ORDER BY doc_id, gap""".stripMargin
  }
}
