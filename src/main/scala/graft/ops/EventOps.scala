package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{OutputConfig, RubyStrftime, SinkTableConfig, TagPattern}
import graft.core.Materialize.StageOps

/** The event-pipeline projections: serialization/coercion, event-time
  * normalization, tag assignment/routing, and tag/time injection. All are
  * pure `DataFrame → DataFrame` column projections — fully codegen'd,
  * collapsible into the scan by Catalyst, shuffle-free.
  */
object EventOps {

  /** Row serialization (reference `in_sql.rb:87-96`): msgpack-native values
    * (ints, floats, strings, booleans, arrays, maps, null) pass through
    * natively; `Time` values format with the table's strftime pattern
    * (default µs precision + numeric zone, `in_sql.rb:62, 91-92`); everything
    * else stringifies (`to_s`, `in_sql.rb:93-94`) — decimals, dates, UUIDs.
    */
  def serializeRecord(df: DataFrame,
                      rubyTimeFormat: String = RubyStrftime.DefaultRubyFormat): DataFrame = {
    val pat = RubyStrftime.toSparkPattern(rubyTimeFormat)
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case TimestampType | TimestampNTZType =>
          date_format(col(f.name), pat).as(f.name)
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | StringType | BooleanType | _: ArrayType |
             _: MapType | NullType =>
          col(f.name) // msgpack-native → pass through
        case _ =>
          col(f.name).cast(StringType).as(f.name) // to_s catch-all
      }
    }: _*)
  }

  /** Event-time extraction + normalization (reference `in_sql.rb:117-126,
    * 143-148`): a parseable time_column value becomes the event time;
    * NULL or unparseable values fall back (reference: "now"; here the
    * fallback Column is explicit — pass a fixed literal for deterministic
    * verification, `current_timestamp()` for production parity). */
  def normalizeEventTime(df: DataFrame, timeColumn: String, fallback: Column,
                         parsePattern: Option[String] = None,
                         as: String = "event_time"): DataFrame = {
    val parsed = df.schema(timeColumn).dataType match {
      case TimestampType => col(timeColumn)
      case _ => parsePattern match {
        case Some(p) => try_to_timestamp(col(timeColumn), lit(p))
        case None    => try_to_timestamp(col(timeColumn))
      }
    }
    df.withColumn(as, coalesce(parsed, fallback))
  }

  /** Tag-prefix strip (reference `out_sql.rb:160-162, 253-259`): anchored
    * removal of `remove_tag_prefix` plus its separating dot. */
  def stripTagPrefix(tagCol: Column, prefix: String): Column = {
    val quoted = java.util.regex.Pattern.quote(prefix)
    regexp_replace(tagCol, s"^(?:$quoted\\.|$quoted$$)", "")
  }

  /** First-match-wins tag routing (reference `out_sql.rb:226-237`): an
    * ordered `when` chain over compiled patterns with the required default
    * table as `otherwise` (`out_sql.rb:183-185, 235`). Codegen'd regex
    * matches — no per-row Scala. */
  def routeColumn(tagCol: Column, routes: Seq[(TagPattern, String)], default: String): Column =
    routes.foldRight(lit(default): Column) { case ((p, table), acc) =>
      when(tagCol.rlike(p.regexString), lit(table)).otherwise(acc)
    }

  /** Route and write each chunk to its table (batch shape of the reference's
    * per-chunk flush). Returns per-table DataFrames, pruned through each
    * route's column mapping. */
  def routedTables(df: DataFrame, cfg: OutputConfig): Map[String, DataFrame] =
    routeEach(df, cfg)((sub, route) => route.mapping(sub.drop("__route")))

  /** [[routedTables]] for the `keyset-tail-multi` event shape
    * `(tag, record MAP<STRING,STRING>)`: same strip/route chain, but each
    * route's column mapping projects OUT OF THE MAP
    * (`ColumnMapping.fromMap`) — the reference's actual flow, where the
    * output plugin maps serialized record hashes (`out_sql.rb:140-148`).
    * With this, a whole multi-table reference config runs as ONE
    * streaming pipeline: `KeysetTail.multiReader` → route → per-table
    * projection → JDBC sink (MultiTailSpec full-loop e2e). Values arrive
    * serialized (strings); destinations wanting native types add a cast
    * projection after the mapping, like the reference relies on the
    * database's implicit cast. */
  def routedTablesFromMap(df: DataFrame, cfg: OutputConfig): Map[String, DataFrame] =
    routeEach(df, cfg)((sub, route) =>
      sub.select(route.mapping.fromMap(col("record"), col("tag")): _*))

  /** The strip/route step both routed shapes share: strip the configured
    * tag prefix, tag each row with its first-match `__route` table, and
    * hand each destination table's rows, with the table's first route
    * config, to `project`. */
  private def routeEach(df: DataFrame, cfg: OutputConfig)(
      project: (DataFrame, SinkTableConfig) => DataFrame): Map[String, DataFrame] = {
    val stripped = df.withColumn("tag",
      cfg.removeTagPrefix.map(p => stripTagPrefix(col("tag"), p)).getOrElse(col("tag")))
    val routed = stripped.withColumn("__route",
      routeColumn(col("tag"), cfg.routes.map(r => (r.compiledPattern, r.table)), cfg.defaultTable.table))
    (cfg.routes :+ cfg.defaultTable).groupBy(_.table).map { case (tableName, rs) =>
      tableName -> project(routed.filter(col("__route") === tableName), rs.head)
    }
  }

  /** Inject tag/time into the record before mapping (Fluentd `inject`,
    * reference `out_sql.rb:10, 96, 156`). */
  def injectTagTime(df: DataFrame, tagCol: Column, timeCol: Column): DataFrame =
    df.withColumn("tag", tagCol).withColumn("timestamp", timeCol)

  // ------------------------------------------------- temporal validity ops

  /** SCD-2 validity intervals from an event stream: each per-key reading is
    * valid from its own timestamp until the NEXT reading's (NULL `valid_to`
    * = still current) — the slowly-changing-dimension historization that
    * turns an append-only CDC/event table into an interval table joinable
    * by `valid_from <= t < valid_to` (the complement of q_latest_by_key's
    * SCD-1 compaction, which keeps only the current row).
    *
    * Scale shape: ONE window per key ordered by (ts, id). Per-key history
    * is the partition bound; for unbounded multi-year histories partition
    * the window by (key, coarse epoch bucket) and stitch the bucket
    * boundaries with a one-row-per-bucket join — the fixture's per-user
    * histories are bounded, so the direct form is declared. */
  /** Open (current) rows carry the warehouse-standard high-date sentinel
    * instead of NULL `valid_to`, so `valid_from <= t AND t < valid_to`
    * needs no NULL branch; `duration_s` stays NULL for them. The interval
    * bounds are emitted in the reference's serialized-time string form
    * (µs precision, `in_sql.rb:62`) — year 9999 is also unrepresentable
    * in nanosecond epoch integers, so the string form is the one every
    * consumer agrees on. */
  val Scd2OpenSentinel = "9999-12-31 00:00:00.000000"

  def scd2Intervals(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events.select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("__next", lead(col("ts"), 1).over(w))
      .withColumn("duration_s", call_function("div",
        unix_micros(col("__next")) - unix_micros(col("ts")),
        lit(1000000L)))
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
        col("value"),
        coalesce(date_format(col("__next"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
          lit(Scd2OpenSentinel)).as("valid_to"),
        col("duration_s"))
      .orderBy("user_id", "valid_from", "event_id")
  }

  /** DuckDB twin of [[scd2Intervals]]. */
  val Scd2Oracle: String =
    s"""SELECT user_id, event_id,
      |  strftime(vf, '%Y-%m-%d %H:%M:%S.%f') AS valid_from, value,
      |  COALESCE(strftime(nxt, '%Y-%m-%d %H:%M:%S.%f'), '$Scd2OpenSentinel') AS valid_to,
      |  (epoch_us(nxt) - epoch_us(vf)) // 1000000 AS duration_s
      |FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS vf, value,
      |        LEAD(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
      |          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
      |      FROM events)
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  /** Per-key TIME-weighted average of the event value over its SCD-2
    * validity intervals — the metric that is right when readings are
    * irregularly spaced (a value held for a week must outweigh one held
    * for a minute; the plain AVG treats them equally).
    *
    * Integer contract (bit-reproducible in ANSI SQL): values are exact
    * cents (`DECIMAL(12,2) · 100 → BIGINT`), weights are µs durations
    * TRUNCATED TO WHOLE SECONDS (the declared granularity — sub-second
    * residue is discarded identically in both engines, and zero-duration
    * intervals drop out), and the weighted mean is the truncating BIGINT
    * quotient `Σ(cents·dur_s)·10⁴ // Σdur_s` in micro-value units. The
    * open (last) interval has no duration and is excluded by definition.
    *
    * Scale shape: the interval window as in [[scd2Intervals]], then one
    * partial-agg'd groupBy — sums combine map-side. */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val iv = events.select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .filter(col("next_ts").isNotNull)
      .withColumn("dur_s", call_function("div",
        unix_micros(col("next_ts")) - unix_micros(col("ts")), lit(1000000L)))
      .filter(col("dur_s") > 0)
      .withColumn("cents",
        (col("value").cast(DecimalType(12, 2)) * 100).cast("long"))
    iv.groupBy("user_id").agg(
        count(lit(1)).as("n_intervals"),
        sum(col("dur_s")).as("total_s"),
        call_function("div",
          sum(col("cents") * col("dur_s")) * lit(10000L),
          sum(col("dur_s"))).as("twa_micro"))
      .orderBy("user_id")
  }

  /** Gap-fill + linear interpolation onto a daily grid — the time-series
    * RESAMPLING op (QuestDB/Timescale `interpolate`): for every midnight
    * strictly after the corpus's first day up to its last day, each key's
    * value is linearly interpolated between the bracketing readings;
    * points outside a key's observed span are dropped (no extrapolation).
    *
    * Integer contract: values in exact cents; the interpolation is the
    * ALL-NONNEGATIVE weighted form
    * `(cp·(tn−t) + cn·(t−tp)) // (tn−tp)` in µs — no negative operand
    * ever reaches the truncating division, sidestepping the Spark-trunc /
    * DuckDB-floor divergence on negatives (FIXTURES.md).
    *
    * Scale shape: the grid is |keys| × |days| rows built from a bounded
    * one-row min/max collect; bracketing is IGNORE NULLS navigation over
    * the per-key (readings ∪ grid) union — one window per key, partition
    * bounded by per-key history + grid, the [[scd2Intervals]] caveat
    * applies for unbounded histories. */
  def interpolateDaily(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), col("ts"),
      (col("value").cast(DecimalType(12, 2)) * 100).cast("long").as("cents"))
    val r = ev.agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      .collect()(0)
    val (d0, d1) = (r.getDate(0), r.getDate(1))
    val grid = ev.select(col("user_id")).distinct()
      .select(col("user_id"),
        explode(expr(s"sequence(date '$d0' + 1, date '$d1')")).as("gd"))
      .select(col("user_id"), col("gd").cast("timestamp").as("gts"))
    val u = ev
      .select(col("user_id"), col("ts"), col("cents"),
        lit(null).cast("timestamp").as("gts"))
      .unionByName(grid.select(col("user_id"), col("gts").as("ts"),
        lit(null).cast("long").as("cents"), col("gts")))
    val base = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("gts").asc_nulls_first)
    val wPrev = base.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wNext = base.rowsBetween(1, org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val evTs = when(col("cents").isNotNull, col("ts"))
    u.withColumn("cp", last(col("cents"), ignoreNulls = true).over(wPrev))
      .withColumn("tp", last(evTs, ignoreNulls = true).over(wPrev))
      .withColumn("cn", first(col("cents"), ignoreNulls = true).over(wNext))
      .withColumn("tn", first(evTs, ignoreNulls = true).over(wNext))
      .filter(col("gts").isNotNull && col("cp").isNotNull && col("cn").isNotNull)
      .select(col("user_id"), col("gts"),
        call_function("div",
          col("cp") * (unix_micros(col("tn")) - unix_micros(col("gts"))) +
            col("cn") * (unix_micros(col("gts")) - unix_micros(col("tp"))),
          unix_micros(col("tn")) - unix_micros(col("tp"))).as("interp_cents"))
      .orderBy("user_id", "gts")
  }

  /** DuckDB twin of [[interpolateDaily]]. */
  val InterpolateOracle: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events),
      |bounds AS (SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM ev),
      |grid AS (SELECT user_id, d AS gts
      |    FROM (SELECT DISTINCT user_id FROM ev),
      |      unnest(range((SELECT (d0 + 1)::TIMESTAMP FROM bounds),
      |                   (SELECT (d1 + 1)::TIMESTAMP FROM bounds),
      |                   INTERVAL 1 DAY)) AS t(d)),
      |u AS (SELECT user_id, ts, cents, NULL::TIMESTAMP AS gts FROM ev
      |      UNION ALL SELECT user_id, gts, NULL, gts FROM grid),
      |w AS (SELECT user_id, gts,
      |    LAST_VALUE(cents IGNORE NULLS) OVER wp AS cp,
      |    LAST_VALUE(CASE WHEN cents IS NOT NULL THEN ts END IGNORE NULLS) OVER wp AS tp,
      |    FIRST_VALUE(cents IGNORE NULLS) OVER wn AS cn,
      |    FIRST_VALUE(CASE WHEN cents IS NOT NULL THEN ts END IGNORE NULLS) OVER wn AS tn
      |  FROM u
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, gts NULLS FIRST
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |         wn AS (PARTITION BY user_id ORDER BY ts, gts NULLS FIRST
      |          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
      |SELECT user_id, gts,
      |  CAST((cp * (epoch_us(tn) - epoch_us(gts)) + cn * (epoch_us(gts) - epoch_us(tp)))
      |    // (epoch_us(tn) - epoch_us(tp)) AS BIGINT) AS interp_cents
      |FROM w WHERE gts IS NOT NULL AND cp IS NOT NULL AND cn IS NOT NULL
      |ORDER BY user_id, gts""".stripMargin

  /** Robust anomaly detection per event type: flag readings whose
    * deviation from the type's MEDIAN exceeds ~3 robust standard
    * deviations (3·1.4826·MAD ≈ 4.45·MAD, encoded as the exact integer
    * rule `10·|cents − p50| > 45·mad`) — the outlier gate that mean/stddev
    * z-scores (q_zscore) get wrong when the outliers themselves inflate
    * the scale. Median/MAD come from the same bounded bucket-table
    * counting as [[graft.ops.TrainOps.robustStats]]; the per-type stats
    * row broadcasts back onto the stream.
    *
    * @return the anomalous readings only: event_id, event_type, cents,
    *         p50, mad — ordered by event_id */
  def robustAnomalies(events: DataFrame): DataFrame = {
    val cents = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
    val ev = events.select(col("event_id"), col("event_type"), cents.as("cents"))
    // only p50 + mad are needed — inline the two bucket-count passes of
    // TrainOps.robustStats (same counting rule) rather than paying its
    // p10/p90/means joins to discard them
    def lowerMedian(df: DataFrame, c: String, out: String) = {
      val wCum = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col(c))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wTot = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      df.groupBy(col("event_type"), col(c)).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wTot))
        .filter(col("cum") * 2 >= col("n"))
        .groupBy(col("event_type")).agg(min(col(c)).as(out))
    }
    // med feeds both the deviation pass and the final stats join - staged
    // (rows = |event types|) so the median bucket pass runs once
    val med = lowerMedian(ev, "cents", "p50").staged()
    val mad = lowerMedian(
      ev.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), abs(col("cents") - col("p50")).as("dev")),
      "dev", "mad")
    val stats = med.join(mad, Seq("event_type"))
    ev.join(broadcast(stats), Seq("event_type"))
      .filter(abs(col("cents") - col("p50")) * 10 > col("mad") * 45)
      .select(col("event_id"), col("event_type"), col("cents"),
        col("p50"), col("mad"))
      .orderBy("event_id")
  }

  /** DuckDB twin of [[robustAnomalies]]. */
  val RobustAnomalyOracle: String =
    """WITH s AS (SELECT event_id, event_type,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events),
      |b AS (SELECT event_type, cents, COUNT(*) AS cnt FROM s GROUP BY 1, 2),
      |cb AS (SELECT event_type, cents,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM b),
      |q AS (SELECT event_type, MIN(CASE WHEN cum * 2 >= n THEN cents END) AS p50
      |      FROM cb GROUP BY event_type),
      |d AS (SELECT s.event_type, abs(s.cents - q.p50) AS dev
      |      FROM s JOIN q ON s.event_type = q.event_type),
      |db AS (SELECT event_type, dev, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
      |dcb AS (SELECT event_type, dev,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY dev
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM db),
      |m AS (SELECT event_type, MIN(CASE WHEN cum * 2 >= n THEN dev END) AS mad
      |      FROM dcb GROUP BY event_type)
      |SELECT s.event_id, s.event_type, s.cents, q.p50, m.mad
      |FROM s JOIN q ON s.event_type = q.event_type
      |       JOIN m ON m.event_type = s.event_type
      |WHERE abs(s.cents - q.p50) * 10 > m.mad * 45
      |ORDER BY s.event_id""".stripMargin

  /** Weekly-seasonal baseline decomposition of the daily event-rate
    * series: per (event_type, day-of-week) mean daily count — the
    * seasonal component a global mean or EWMA misses, the first-order
    * form of an STL decomposition — plus each day's residual and a
    * deviation flag (|residual| > 12.5% of the seasonal mean, as the
    * exact integer comparison 8·|resid| > mean). Day-of-week is pure
    * arithmetic (epochDay % 7), so neither engine's dow-numbering
    * convention (Spark 1=Sunday, DuckDB 0=Sunday) can leak into the
    * result. Integer-exact throughout: counts are integers, the seasonal
    * mean a truncating micro-quotient, the residual an exact BIGINT
    * difference.
    *
    * Scale shape: the daily table is one partially-aggregable groupBy
    * (combiner-compressed to |types|·|days| rows); the seasonal table is
    * 7·|types| rows, broadcast back. No corpus-sized window anywhere. */
  def seasonalBaseline(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"),
        datediff(date_trunc("day", col("ts")), lit("1970-01-01")).cast("long").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      .withColumn("dow", col("day") % 7)
    val seasonal = daily.groupBy("event_type", "dow")
      .agg(call_function("div", sum(col("n")) * lit(1000000L), count(lit(1)))
        .as("season_micro"))
    daily.join(broadcast(seasonal), Seq("event_type", "dow"))
      .withColumn("resid_micro", col("n") * lit(1000000L) - col("season_micro"))
      .withColumn("flagged", abs(col("resid_micro")) * 8 > col("season_micro"))
      .select(col("event_type"), col("day"), col("dow"), col("n"),
        col("season_micro"), col("resid_micro"), col("flagged"))
      .orderBy("event_type", "day")
  }

  /** Two-sided CUSUM changepoint audit over the per-type daily event
    * rate — the sequential drift detector that catches SUSTAINED small
    * shifts a per-day deviation flag (seasonalBaseline's resid test)
    * misses: ingestion slowdowns, a source going quiet, gradual mix
    * rot. Page's recurrence S_t = max(0, S_{t-1} + dev_t) is not a
    * window sum, but it has the standard closed form
    *
    *   S_t = P_t − min(0, min_{j<=t} P_j),   P_t = Σ_{i<=t} dev_i
    *
    * so both sides compute as ONE cumulative sum + ONE cumulative min
    * per type (the lower side mirrors with max) — no recursion, no
    * driver loop. Everything is exact BIGINT micro-units: per-type mean
    * rate μ = (Σn·1e6) div days, slack k = μ div 4, upper dev =
    * n·1e6 − μ − k, lower dev = μ − k − n·1e6, alarm when either side
    * exceeds h = μ (one mean-day of accumulated excess). Division
    * operands are all nonnegative, so no trunc-vs-floor law applies.
    *
    * Scale shape: the daily table is one partially-aggregable groupBy
    * (|types|·|days| rows); the per-type mean is |types| rows broadcast
    * back; the windows run over per-type day sequences — bounded by the
    * calendar, never by event volume. */
  def cusumDrift(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"),
        datediff(date_trunc("day", col("ts")), lit("1970-01-01")).cast("long").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val mu = daily.groupBy("event_type")
      .agg(call_function("div", sum(col("n")) * lit(1000000L), count(lit(1)))
        .as("mu_micro"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(broadcast(mu), Seq("event_type"))
      .withColumn("k_micro", call_function("div", col("mu_micro"), lit(4L)))
      .withColumn("p_up",
        sum(col("n") * 1000000L - col("mu_micro") - col("k_micro")).over(w))
      .withColumn("p_dn",
        sum(col("mu_micro") - col("k_micro") - col("n") * 1000000L).over(w))
      .withColumn("cusum_up_micro", col("p_up") - least(lit(0L), min(col("p_up")).over(w)))
      .withColumn("cusum_dn_micro", col("p_dn") - least(lit(0L), min(col("p_dn")).over(w)))
      .withColumn("alarm",
        col("cusum_up_micro") > col("mu_micro") || col("cusum_dn_micro") > col("mu_micro"))
      .select(col("event_type"), col("day"), col("n"), col("mu_micro"),
        col("cusum_up_micro"), col("cusum_dn_micro"), col("alarm"))
      .orderBy("event_type", "day")
  }

  /** DuckDB twin of [[cusumDrift]]. */
  val CusumDriftOracle: String =
    """WITH daily AS (SELECT event_type,
      |    datediff('day', DATE '1970-01-01',
      |             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |mu AS (SELECT event_type,
      |    CAST((SUM(n) * 1000000) // COUNT(*) AS BIGINT) AS mu_micro
      |  FROM daily GROUP BY 1),
      |p AS (SELECT daily.event_type, day, n, mu_micro, mu_micro // 4 AS k_micro,
      |    SUM(n * 1000000 - mu_micro - mu_micro // 4)
      |      OVER (PARTITION BY daily.event_type ORDER BY day
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_up,
      |    SUM(mu_micro - mu_micro // 4 - n * 1000000)
      |      OVER (PARTITION BY daily.event_type ORDER BY day
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_dn
      |  FROM daily JOIN mu USING (event_type)),
      |c AS (SELECT event_type, day, n, mu_micro,
      |    CAST(p_up - LEAST(0, MIN(p_up)
      |      OVER (PARTITION BY event_type ORDER BY day
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT)
      |      AS cusum_up_micro,
      |    CAST(p_dn - LEAST(0, MIN(p_dn)
      |      OVER (PARTITION BY event_type ORDER BY day
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT)
      |      AS cusum_dn_micro
      |  FROM p)
      |SELECT event_type, day, n, mu_micro, cusum_up_micro, cusum_dn_micro,
      |  (cusum_up_micro > mu_micro OR cusum_dn_micro > mu_micro) AS alarm
      |FROM c ORDER BY event_type, day""".stripMargin

  /** DuckDB twin of [[seasonalBaseline]]. */
  val SeasonalBaselineOracle: String =
    """WITH daily AS (SELECT event_type,
      |    datediff('day', DATE '1970-01-01',
      |             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |d2 AS (SELECT *, day % 7 AS dow FROM daily),
      |seas AS (SELECT event_type, dow,
      |    CAST((SUM(n) * 1000000) // COUNT(*) AS BIGINT) AS season_micro
      |  FROM d2 GROUP BY 1, 2)
      |SELECT d2.event_type, day, dow, n, season_micro,
      |  (n * 1000000 - season_micro) AS resid_micro,
      |  (abs(n * 1000000 - season_micro) * 8 > season_micro) AS flagged
      |FROM d2 JOIN seas USING (event_type, dow)
      |ORDER BY event_type, day""".stripMargin

  /** DuckDB twin of [[timeWeightedAvg]]. */
  val TwaOracle: String =
    """WITH iv AS (SELECT user_id,
      |    (epoch_us(LEAD(CAST(ts AS TIMESTAMP)) OVER w) - epoch_us(CAST(ts AS TIMESTAMP)))
      |      // 1000000 AS dur_s,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
      |f AS (SELECT * FROM iv WHERE dur_s > 0)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
      |  CAST(SUM(dur_s) AS BIGINT) AS total_s,
      |  CAST((SUM(cents * dur_s) * 10000) // SUM(dur_s) AS BIGINT) AS twa_micro
      |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin
}
