package graft.sources

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{InputConfig, SourceTableConfig}

/** Batch poll loop over a set of tailed tables — the reference's
  * `thread_main` cycle (`in_sql.rb:255-278`) as an explicit, testable step
  * function. Structured Streaming (graft.streaming.KeysetTailProvider) is
  * the production scheduler; this runner provides the same semantics for
  * batch/cron invocation and for tests:
  *
  *   - per-table: read last state → keyset page → emit → THEN update state
  *     (at-least-once, `in_sql.rb:269-271`)
  *   - per-table fault isolation: an emit/scan failure logs and continues
  *     with the other tables (`in_sql.rb:272-275`); init failures drop the
  *     table from the set (`in_sql.rb:233-243`)
  */
final class KeysetTailRunner(
    spark: SparkSession,
    cfg: InputConfig,
    loadTable: (SparkSession, String) => DataFrame,
    store: StateStore,
    /** Internal page size for `select_limit <= 0` polls ("disables limit",
      * `in_sql.rb:52`): the driver never collects the whole remaining table
      * at once — it walks VALUE-DELIMITED chunks of about this many rows. */
    internalChunkRows: Int = 5000) {

  /** Tables that survived init (update column resolvable). */
  val activeTables: Seq[SourceTableConfig] = cfg.tables.filter { t =>
    try {
      val df = loadTable(spark, t.table)
      t.updateColumn.orElse(t.primaryKey).exists(df.columns.contains)
    } catch { case NonFatal(_) => false }
  }

  val lastErrors: mutable.Map[String, Throwable] = mutable.Map.empty

  /** One poll cycle. Returns rows emitted per table. */
  def pollOnce(emit: (String, DataFrame) => Unit): Map[String, Long] = {
    val emitted = mutable.LinkedHashMap.empty[String, Long]
    activeTables.foreach { t =>
      try {
        val df = loadTable(spark, t.table)
        val updCol = t.updateColumn.orElse(t.primaryKey).getOrElse(
          throw new IllegalStateException(s"${t.table}: no update_column/primary_key"))
        val last = store.lastRecord(t.table).flatMap(_.get(updCol))
        val total =
          if (cfg.selectLimit > 0) {
            val page = KeysetScan.scan(df, updCol, last, cfg.selectLimit,
              rubyTimeFormat = t.timeFormat)
            emitPage(t, page.collect(), page.schema, emit) // bounded by select_limit
          } else {
            // select_limit <= 0 disables the LIMIT (in_sql.rb:52). One
            // unbounded collect would put O(remaining rows) on the driver;
            // instead walk VALUE-DELIMITED chunks: a limited probe page
            // reduces to ONE boundary scalar, the chunk is every row in
            // (last, boundary] (tie groups travel whole — nothing is lost
            // to the strict-> resume at an internal boundary), emit, and
            // advance. A boundary that cannot advance (the whole remaining
            // tail serializes equal to the resume value — a coarse
            // time_format pathology) stops the walk: those rows are
            // unreachable under the reference's strict-> contract, the same
            // skip the streaming provider's unchanged-offset poll applies.
            var lo = last
            var chunkTotal = 0L
            var continue = true
            while (continue) {
              val probe = KeysetScan.scan(df, updCol, lo, internalChunkRows,
                rubyTimeFormat = t.timeFormat)
              val mx = probe.agg(org.apache.spark.sql.functions.max(
                org.apache.spark.sql.functions.col(updCol)).as(updCol)).collect().head
              if (mx.isNullAt(0)) continue = false
              else {
                val boundary = Serialize.valueToString(
                  df.schema(updCol).dataType, mx.get(0), t.timeFormat)
                if (lo.contains(boundary)) continue = false
                else {
                  val chunk = KeysetScan.scan(df, updCol, lo, limit = 0,
                      rubyTimeFormat = t.timeFormat)
                    .filter(!KeysetScan.lowerBound(df, updCol, boundary, t.timeFormat))
                  chunkTotal += emitPage(t, chunk.collect(), chunk.schema, emit)
                  lo = Some(boundary)
                }
              }
            }
            chunkTotal
          }
        emitted += t.table -> total
      } catch {
        case NonFatal(e) =>
          lastErrors(t.table) = e // isolate: other tables keep polling
          emitted += t.table -> -1L
      }
    }
    emitted.toMap
  }

  /** Emit one collected page/chunk under the table's tag, then update the
    * state store (crash between = replay, at-least-once, in_sql.rb:269-271).
    * Rows arrive sorted by the update column (KeysetScan orders the page),
    * so `rows.last` IS the boundary record. */
  private def emitPage(t: SourceTableConfig, rows: Array[org.apache.spark.sql.Row],
                       schema: org.apache.spark.sql.types.StructType,
                       emit: (String, DataFrame) => Unit): Long = {
    if (rows.nonEmpty) {
      val tag = t.resolvedTag(cfg.tagPrefix)
      emit(tag, spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(rows: _*)),
        schema))
      store.update(t.table, Serialize.rowToStringMap(schema, rows.last, t.timeFormat))
    }
    rows.length.toLong
  }

  /** Poll until every table returns an empty page (Trigger.AvailableNow
    * catch-up semantics). */
  def drain(emit: (String, DataFrame) => Unit, maxCycles: Int = 1000): Long = {
    var total = 0L
    var cycle = 0
    var progressed = true
    while (progressed && cycle < maxCycles) {
      val counts = pollOnce(emit)
      val emittedNow = counts.values.filter(_ > 0).sum
      total += emittedNow
      progressed = emittedNow > 0
      cycle += 1
    }
    total
  }
}

object KeysetTailRunner {

  /** `all_tables` discovery (`in_sql.rb:178-180, 214-230`): every
    * non-system table in the directory becomes a tailed source with
    * tag = table name (`in_sql.rb:224`); `updateColumnFor` plays the role
    * of PK reflection (parquet has no PK metadata), and tables it cannot
    * resolve are dropped at init like the reference's `reject!`
    * (`in_sql.rb:233-243`). */
  def discovering(spark: SparkSession, dir: String, store: StateStore,
                  updateColumnFor: String => Option[String],
                  tagPrefix: Option[String] = None,
                  selectLimit: Int = 500): KeysetTailRunner = {
    val tables = Tables.discover(dir).map { name =>
      SourceTableConfig(name, tag = Some(name), updateColumn = updateColumnFor(name))
    }
    val cfg = InputConfig(tables, tagPrefix = tagPrefix,
      selectLimit = selectLimit, allTables = true)
    new KeysetTailRunner(spark, cfg, (s, t) => Tables.table(s, dir, t), store)
  }
}
