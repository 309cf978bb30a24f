package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Parquet-backed table loading for the driver testdata.
  *
  * Scale notes: everything returns a lazy DataFrame straight off the parquet
  * scan — filters/projections composed on top reach the scan via Catalyst
  * (PushedFilters/ReadSchema), so the same code path works against a
  * 100 TB partitioned table as against the local testdata.
  */
object Tables {

  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one table. `events.ts` has shipped under multiple physical
    * encodings across fixture generations (TIMESTAMP(NANOS), then
    * timestamp[us] without UTC adjustment); a real lake mixes encodings the
    * same way, so the loader branches on the schema it actually read instead
    * of hard-coding one:
    *
    *   - `LongType` — a TIMESTAMP(NANOS) fixture read under
    *     `spark.sql.legacy.parquet.nanosAsLong`; truncate ns→µs into
    *     TimestampType, the same truncation DuckDB's `CAST(ts AS TIMESTAMP)`
    *     performs.
    *   - `TimestampNTZType` — a timestamp[us] (isAdjustedToUTC=false)
    *     fixture; cast to TimestampType, a pure re-tag under the UTC session
    *     zone (wall clock preserved — identical to DuckDB's read).
    *   - `TimestampType` — already Spark's µs instant; pass through.
    *
    * Anything else is fixture drift and fails with one named error rather
    * than 25 scattered analysis exceptions downstream. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // nanosAsLong must be on BEFORE the footer is read or a NANOS fixture
      // throws at schema conversion; it is a no-op for µs fixtures. Sessions
      // we build set it at construction; this guarded set is a safety net for
      // externally-built sessions (e.g. the driver's smoke check) — parquet
      // has no per-read option for it (SQLConf-only, schema-converter level).
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      if (!spark.conf.getOption(key).contains("true")) spark.conf.set(key, "true")
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      adaptEventTs(raw, raw.schema("ts").dataType)
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }
  }

  /** Normalize an events-shaped frame's `ts` to TimestampType (see
    * [[table]] for the encoding contract). Exposed so other events readers
    * (streaming provider inputs, specs) share one adaptive path. */
  def adaptEventTs(df: DataFrame, tsType: DataType): DataFrame = tsType match {
    case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType    => df
    case other => throw new IllegalStateException(
      s"fixture schema changed: events.ts is now ${other.simpleString} " +
        "(expected INT64 nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
  }

  /** Scan-parallelism floor (r14, guide §6): the testdata parquet files are
    * single-row-group, so Spark cannot split them — every scan is ONE
    * partition and every scan-side kernel (regex shingling, rolling gram
    * hashes, md5 resampling ladders, embedding dot products) ran
    * SINGLE-THREADED until the first exchange (ProbeStageMetrics: 1-task
    * 0.4 s cpu-bound stages under 32 idle cores). When the scan is
    * narrower than the context's parallelism, redistribute rows by the
    * table's key — a deterministic hash repartition of well under a MiB
    * here. At production scale a table's scan already carries ≥ cores
    * partitions and this is a structural NO-OP (the `if` short-circuits),
    * so nothing extra is shuffled at 100 TB; on a cluster it still fixes
    * the same hazard for any small side table. Filters/pruning pass
    * through RepartitionByExpression, so PushedFilters/ReadSchema are
    * unchanged (PlanSpec). Keyed repartition (never round-robin): the
    * row→partition map is a pure hash of the key, so retried tasks
    * reproduce it (SPARK-38388 class).
    *
    * Applied SELECTIVELY at kernel-heavy sites, not blanket on every
    * reader: a full mid-r14 bench with every big table widened won the
    * kernel tier (bootstrap −2.2 s, sim_near_dup −2.0, dedup_fuzzy −1.9)
    * but taxed ~60 light-scan and iterative queries +0.3..+2.5 s each —
    * 32 partitions of near-empty data cascade task-scheduling overhead
    * through every downstream tiny stage and graph-loop staging. Net
    * −22 s worse. The winners keep it via the *Wide readers / op-level
    * widen calls; everything else stays on the narrow scan. */
  /** A bare `repartition` is NOT enough here: Catalyst pushes projections
    * below RepartitionByExpression (project-before-exchange), so a heavy
    * kernel composed on top of the repartition still ran in the 1-task
    * scan stage and only its OUTPUT was spread (ProbeStageMetrics on
    * q_dedup_simhash: three 1-task ~1 s kernel stages with the repartition
    * in place). When the floor fires, the repartitioned rows are staged
    * (lineage cut, layout advertised) so the kernel sits above a
    * wide LEAF that nothing can be pushed below. The staged copy is the
    * raw narrow table (a few MiB) and only ever exists below the
    * parallelism floor — at production widths this whole path is the
    * `df` short-circuit. */
  /** Bounded memo of widen results keyed by (session, analyzed-plan
    * semantic hash, key) — r14 advice: queries that widen the same
    * (table, key) at several sites (q_dedup_winnow widens documents in
    * both the pair pass and the fp recount; every q_dedup_consensus tier
    * re-widens docs) ran duplicate staging jobs and held duplicate staged
    * copies. One memo entry serves every site. LRU-bounded like
    * PlanCache; evicted entries need no explicit release (the staged
    * blocks clear via the ContextCleaner once unreferenced), and entries
    * are small by construction (widen short-circuits past advisory/4
    * bytes). Same in-session reuse contract as PlanCache — nothing
    * persists across JVMs, and the bench's outer-rep loop means a query's
    * own reps never find its leftover entry at 234 queries. */
  private val widenMemo =
    scala.collection.mutable.LinkedHashMap.empty[(SparkSession, Int, String), DataFrame]
  private val WidenMemoMax = 8

  /** Release all memoized widen entries (probe hygiene: per-rep clears so
    * min-of-reps prices the first-run staging cost, the r13 discipline). */
  def clearWidenMemo(): Unit = widenMemo.synchronized(widenMemo.clear())

  def widen(df: DataFrame, key: String): DataFrame = {
    val memoKey = (df.sparkSession, df.queryExecution.analyzed.semanticHash(), key)
    val hit = widenMemo.synchronized {
      widenMemo.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
      widenMemo.remove(memoKey).map { h => widenMemo.put(memoKey, h); h } // LRU touch
    }
    hit.getOrElse {
      val out = widenUncached(df, key)
      widenMemo.synchronized {
        if (widenMemo.size >= WidenMemoMax) widenMemo.remove(widenMemo.head._1)
        widenMemo.put(memoKey, out)
      }
      out
    }
  }

  private def widenUncached(df: DataFrame, key: String): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // Size cap: the floor is for SMALL narrow scans, where respreading is
    // near-free and the serial kernel is the whole cost. A table past one
    // advisory chunk already carries real scan parallelism (bytes /
    // maxPartitionBytes splits), and STAGING it is no longer cheap — the
    // sf10 stretch probe measured q_dedup_substring at 96 s when a 60 MB
    // compressed (~600 MB raw) documents table was eagerly staged under
    // the 24g heap, vs ~22 s with the scan left alone. Estimated from
    // Catalyst stats (≈ compressed file size; raw staged rows run ~8×
    // that, so advisory/4 keeps the staged copy inside ~2 advisory
    // chunks), checked BEFORE the partition count so big tables skip the
    // physical-plan probe too.
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"))
    val small = df.queryExecution.optimizedPlan.stats.sizeInBytes <= advisory / 4
    if (!small || df.rdd.getNumPartitions >= target) df
    // (A bare repartition for the mid-size tier was tried and rejected:
    // unstaged, it re-executes per consuming branch — q_freq_itemsets'
    // six tokenizer branches paid the text exchange six times at sf10,
    // 4.8 s -> 11.8 s. Past the cap the scan's own width has to do.)
    else graft.core.Materialize.stageKeepLayout(df.repartition(target, col(key)))
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "events")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Kernel-heavy variants: same tables with the scan-parallelism floor
    * applied (see [[widen]] — no-op once the scan itself is ≥ cores wide). */
  def documentsWide(spark: SparkSession, sfDir: String): DataFrame =
    widen(documents(spark, sfDir), "doc_id")
  def embeddingsWide(spark: SparkSession, sfDir: String): DataFrame =
    widen(embeddings(spark, sfDir), "vec_id")
}
