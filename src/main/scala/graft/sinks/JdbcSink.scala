package graft.sinks

import java.sql.{Connection, PreparedStatement, SQLNonTransientException}
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{ConnectionConfig, OutputConfig}
import graft.sources.JdbcSource

/** JDBC output — the reference's bulk insert + degraded fallback
  * (`out_sql.rb:91-136`), Spark-native:
  *
  *  - `bulkAppend`: one multi-row batched INSERT per partition
  *    (activerecord-import ≙ JDBC batch inserts; `batchsize` ≙ chunk size,
  *    `numPartitions` caps connection parallelism ≙ `pool`).
  *  - `resilientAppend`: the degraded path (`out_sql.rb:105-136`) — rows are
  *    written one-by-one inside each partition; deterministic statement
  *    errors drop the row immediately; transient errors retry up to
  *    `numRetries` with `retrySleepMs` backoff; rows that still fail land in
  *    the RETURNED dead-letter DataFrame instead of being silently lost
  *    (a deliberate improvement over the reference's drop-after-retries,
  *    `out_sql.rb:123, 127-129`).
  *  - `idempotentUpsert`: the keyed UPDATE→INSERT sink with the same
  *    dead-letter channel.
  *
  * The two row-wise paths share one executor-side partition writer
  * (`writeRowWise`): connection, parameter binding, bounded dead letters,
  * quiet cleanup and the one eager collect. Each keeps only its own
  * statement policy. No driver-side loops.
  */
object JdbcSink {

  /** Run a JDBC cleanup step (rollback/close) without letting its failure
    * mask the root cause: NonFatal cleanup exceptions are swallowed, and
    * when a root `cause` is in flight they are attached to it as
    * suppressed exceptions so Spark's task retry surfaces the ORIGINAL
    * failure with the cleanup failure still diagnosable. Fatal errors
    * (OOM, linkage) always propagate. */
  private[graft] def cleanupQuietly(f: => Unit, cause: Throwable = null): Unit =
    try f catch { case scala.util.control.NonFatal(ce) =>
      if (cause != null && (cause ne ce)) cause.addSuppressed(ce) }

  /** The abort-on-error transaction dialect CLASS (round-13 lesson): one
    * failed statement poisons the whole transaction until a rollback
    * (PostgreSQL's 25P02 protocol). Only these dialects need per-statement
    * savepoint isolation in the fallback replay; everywhere else
    * statement-level rollback holds and savepoints are pure round-trip
    * overhead (ADVICE r13). */
  private[graft] def abortsTxnOnError(url: String): Boolean =
    url.startsWith("jdbc:postgresql")

  def bulkAppend(df: DataFrame, url: String, table: String,
                 props: Properties = new Properties(),
                 batchSize: Int = 1000, numPartitions: Option[Int] = None): Unit = {
    val base = numPartitions.map(df.coalesce).getOrElse(df)
    base.write.mode("append")
      .option("batchsize", batchSize)
      .jdbc(url, table, props)
  }

  /** The reference's full output path for one chunk/batch (`out_sql.rb:
    * 91-115, 226-237`): strip the tag prefix, route each row to its
    * destination table (first matching pattern, else the required default),
    * project through that table's column mapping, and append through
    * [[appendWithFallback]] under the config's `enable_fallback`. The
    * `repartition(tag)` colocates each table's rows (≙ tag-keyed buffer
    * chunks, `out_sql.rb:37-39`) so every destination sees a handful of
    * dense partitions instead of all-tables-in-every-partition.
    *
    * Returns per-table dead-letter DataFrames from any degraded fallback —
    * NEVER silently dropped (resilientAppend's contract); tables whose rows
    * all landed are absent from the map. */
  def writeRouted(batch: DataFrame, cfg: OutputConfig, url: String,
                  props: Properties = new Properties(),
                  batchSize: Int = 1000): Map[String, DataFrame] =
    routed(batch, cfg, url, props, batchSize, pool = None, qualify = identity)

  /** [[writeRouted]] against a [[graft.core.ConnectionConfig]]: url and
    * properties (credentials, connect timeout, search path) come from the
    * config, bulk write and fallback alike; each destination's write is
    * capped at `cc.pool` partitions ([[capToPool]]); and when a
    * `schema_search_path` is set every routed table is qualified with its
    * primary schema (`out_sql.rb:25-27` — unqualified writes land in the
    * path's first schema). On PostgreSQL the `currentSchema` property in
    * `cc.properties` covers this at the driver level too; the explicit
    * qualification is what makes the behavior dialect-portable (Derby,
    * the embedded e2e engine, has no search-path property). */
  def writeRouted(batch: DataFrame, cfg: OutputConfig, cc: ConnectionConfig,
                  batchSize: Int): Map[String, DataFrame] =
    routed(batch, cfg, cc.jdbcUrl, cc.properties, batchSize, Some(cc.pool), cc.qualify)

  private def routed(batch: DataFrame, cfg: OutputConfig, url: String, props: Properties,
                     batchSize: Int, pool: Option[Int],
                     qualify: String => String): Map[String, DataFrame] = {
    val chunked = batch.repartition(col("tag"))
    graft.ops.EventOps.routedTables(chunked, cfg).flatMap { case (table, df) =>
      val dest = qualify(table)
      // concurrent connections per destination <= the configured pool
      appendWithFallback(pool.fold(df)(capToPool(df, _)), url, dest, props, batchSize,
        enableFallback = cfg.enableFallback).map(dest -> _)
    }.toMap
  }

  /** Cap a write's partition count at the connection-pool size: Spark's
    * analogue of the reference's pool/flush_thread_count guard
    * (`out_sql.rb:32-33, 179-181`) — ActiveRecord warns and then blocks on
    * pool checkout; Spark chooses its parallelism, so the bound is
    * ENFORCED (coalesce never increases partition count). */
  def capToPool(df: DataFrame, pool: Int): DataFrame = {
    require(pool > 0, s"pool must be positive, got $pool")
    df.coalesce(pool)
  }

  /** Streaming form of [[writeRouted]]: one routed write per micro-batch
    * (`foreachBatch` ≙ the per-chunk flush thread, `out_sql.rb:226-237`).
    * The caller starts the returned query with its own trigger/checkpoint.
    *
    * Dead letters are FIRST-CLASS streaming output: every batch's dropped
    * records are passed to the callback AND, when `deadLetterTable` is
    * set, appended to that JDBC table as (record_json, error, dest_table,
    * batch_id) — the reference's loss-after-retries mode (`out_sql.rb:
    * 123-129`) made observable. A failure writing the dead-letter table
    * itself raises (silently losing the loss record would defeat the
    * channel). */
  def routedStream(stream: DataFrame, cfg: OutputConfig, url: String,
                   props: Properties = new Properties(),
                   batchSize: Int = 1000,
                   deadLetterTable: Option[String] = None,
                   onDeadLetters: (String, DataFrame) => Unit = (table, dead) =>
                     System.err.println(
                       s"[graft.sink] $table: ${dead.count()} dead-letter row(s) after fallback"))
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], bid: Long) =>
      writeRouted(batch.toDF(), cfg, url, props, batchSize)
        .foreach { case (table, dead) =>
          onDeadLetters(table, dead)
          deadLetterTable.foreach(appendDeadLetters(dead, table, bid, url, _, props))
        }
    }

  /** Streaming form of [[idempotentUpsert]]: one keyed upsert per
    * micro-batch via foreachBatch. With the keyset-tail source's
    * at-least-once delivery this closes the pipeline to EFFECTIVE
    * exactly-once end-to-end — any replayed batch (crash, offset-log
    * rewind, even a full re-run from a fresh checkpoint) upserts the same
    * keys to the same values. Rows are repartitioned by the key columns
    * so no key spans two concurrent partition transactions.
    *
    * Dead letters surface as in [[routedStream]]: a poisoned record in a
    * micro-batch lands in the callback / `deadLetterTable` while the rest
    * of the batch COMMITS, instead of wedging the stream in a retry loop
    * on a deterministic failure. */
  def upsertStream(stream: DataFrame, url: String, table: String,
                   keyCols: Seq[String],
                   props: Properties = new Properties(),
                   deadLetterTable: Option[String] = None,
                   onDeadLetters: (Long, DataFrame) => Unit = (bid, dead) =>
                     System.err.println(
                       s"[graft.sink] batch $bid: ${dead.count()} dead-letter row(s) in upsert"))
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], bid: Long) =>
      val dead = idempotentUpsert(batch.toDF().repartition(keyCols.map(col): _*),
        url, table, keyCols, props)
      if (!dead.isEmpty) {
        onDeadLetters(bid, dead)
        deadLetterTable.foreach(appendDeadLetters(dead, table, bid, url, _, props))
      }
      ()
    }

  /** One micro-batch's dead letters for `table`, appended to the
    * dead-letter table with their destination and batch id. */
  private def appendDeadLetters(dead: DataFrame, table: String, bid: Long, url: String,
                                deadLetterTable: String, props: Properties): Unit =
    bulkAppend(dead
      .withColumn("dest_table", lit(table))
      .withColumn("batch_id", lit(bid)), url, deadLetterTable, props)

  /** The reference's full chunk write path with the `enable_fallback`
    * toggle (`out_sql.rb:31, 100-113`): bulk import, and on a DETERMINISTIC
    * statement failure either degrade to the row-wise resilient path
    * (enableFallback = true, the default — returns Some(deadLetters)) or
    * re-raise so the caller's buffer/retry mechanism owns the chunk
    * (enableFallback = false, "Fallback is disabled … raise e").
    * Transient failures always re-raise — they are the retry mechanism's
    * job in both modes, exactly as in the reference ("ignore other
    * exceptions to use Fluentd retry mechanism"). The fallback connects
    * with the same `props` as the bulk write.
    *
    * As in the reference, a bulk write that failed mid-chunk may have
    * committed some partitions; the fallback re-import is at-least-once. */
  def appendWithFallback(df: DataFrame, url: String, table: String,
                         props: Properties = new Properties(),
                         batchSize: Int = 1000, numPartitions: Option[Int] = None,
                         enableFallback: Boolean = true,
                         numRetries: Int = 5, retrySleepMs: Long = 500): Option[DataFrame] =
    try { bulkAppend(df, url, table, props, batchSize, numPartitions); None }
    catch {
      case e: Throwable if enableFallback && causeChain(e).exists(isDeterministic) =>
        Some(resilientAppend(df, url, table, props, numRetries, retrySleepMs))
    }

  /** Spark wraps executor-side SQLExceptions (SparkException → cause …);
    * classification must walk the chain. */
  private def causeChain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq

  /** Deterministic (non-retryable) vs transient classification — the
    * reference's `StatementInvalid`/`MissingColumnError` split
    * (`out_sql.rb:105-111, 117-136`). */
  private def isDeterministic(e: Throwable): Boolean = e match {
    // SQLIntegrityConstraintViolationException and SQLSyntaxErrorException
    // are both SQLNonTransientException subtypes — one case covers them
    case _: SQLNonTransientException => true
    case e: java.sql.SQLException =>
      // SQLState class 22 (data exception) / 23 (constraint violation)
      Option(e.getSQLState).exists(s => s.startsWith("22") || s.startsWith("23") || s.startsWith("42"))
    case _ => false
  }

  private def insertStatement(table: String, cols: Seq[String]): String =
    s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})"

  /** Row-wise resilient append (`out_sql.rb:117-136`): autocommit INSERTs,
    * one per row. A deterministic error dead-letters the row with no retry
    * (`out_sql.rb:120-123`); a transient one retries up to `numRetries`
    * times, `retrySleepMs` apart (`out_sql.rb:126-132`), then dead-letters
    * it. Returns the dead-letter DataFrame (row rendered as JSON + error),
    * materialized eagerly and bounded per partition as described on
    * `writeRowWise`. */
  def resilientAppend(df: DataFrame, url: String, table: String,
                      props: Properties = new Properties(),
                      numRetries: Int = 5, retrySleepMs: Long = 500,
                      maxDeadLettersPerPartition: Int = 10000): DataFrame = {
    val cols = df.schema.fieldNames.toSeq
    val insertSql = insertStatement(table, cols)
    writeRowWise(df, url, props, maxDeadLettersPerPartition) { (w, rows) =>
      w.conn.setAutoCommit(true)
      val stmt = w.prepare(insertSql)
      def writeOne(r: Row): Option[String] = {
        var attempt = 0
        while (true) {
          try {
            stmt.clearParameters()
            w.bind(stmt, r, cols.indices)
            stmt.executeUpdate()
            return None
          } catch {
            case e: Throwable if isDeterministic(e) =>
              return Some(s"deterministic: ${e.getMessage}")
            case e: Throwable =>
              attempt += 1
              if (attempt > numRetries) return Some(s"exhausted retries: ${e.getMessage}")
              Thread.sleep(retrySleepMs)
          }
        }
        None
      }
      rows.foreach(r => writeOne(r).foreach(w.deadLetter(r, _)))
    }
  }

  /** Idempotent keyed upsert — the sink mode that turns the source's
    * at-least-once delivery into EFFECTIVE exactly-once: replaying a batch
    * (crash between emit and checkpoint — the reference's documented
    * at-least-once window) UPDATEs the same keys to the same values
    * instead of appending duplicates. The UPDATE/INSERT pair is
    * dialect-portable (Derby — the embedded e2e engine — has no usable
    * VALUES-source MERGE).
    *
    * Each partition runs in ONE transaction committed at partition end, so
    * a replayed partition is all-or-nothing. Within it:
    *  - UPDATEs by key go through `addBatch`/`executeBatch` in chunks of
    *    `batchSize` (one round trip per chunk, not per row); the chunk's
    *    per-statement update counts select the misses, which are then
    *    batch-INSERTed;
    *  - sequential last-wins semantics hold: a chunk is flushed BEFORE a
    *    row whose key is already pending joins it, so intra-batch
    *    duplicates apply in arrival order;
    *  - a driver that reports `SUCCESS_NO_INFO` counts (the JDBC spec
    *    allows it) makes the chunk replay row by row in the same
    *    transaction — the updates are idempotent, so the replay is safe;
    *  - a DETERMINISTIC statement failure (SQLState 22/23/42) degrades the
    *    failing chunk to that same row-wise replay, and a row that still
    *    fails deterministically becomes a dead letter while the rest of the
    *    batch commits. `enableFallback = false` re-raises it instead
    *    (`out_sql.rb:107-113`); transient failures always raise, for the
    *    retry mechanism (`out_sql.rb:117-136`);
    *  - on abort-on-error dialects ([[abortsTxnOnError]]) that support
    *    savepoints, each chunk or row statement runs behind a savepoint
    *    that is rolled back before its replay, so "the rest of the batch
    *    commits" holds there too; other dialects skip the round trips.
    *
    * Caller contract: rows for the same key must not land in two
    * concurrent partitions — repartition by the key columns first (same
    * rule as any keyed sink). Connections = partitions (cap upstream like
    * bulkAppend's numPartitions). Dead letters are materialized eagerly
    * and bounded per partition as described on `writeRowWise`. */
  def idempotentUpsert(df: DataFrame, url: String, table: String,
                       keyCols: Seq[String],
                       props: Properties = new Properties(),
                       batchSize: Int = 500,
                       enableFallback: Boolean = true,
                       maxDeadLettersPerPartition: Int = 10000): DataFrame = {
    val cols = df.schema.fieldNames.toSeq
    require(keyCols.nonEmpty && keyCols.forall(cols.contains),
      s"keyCols $keyCols must be columns of ${cols.mkString(",")}")
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val valCols = cols.filterNot(keyCols.contains)
    require(valCols.nonEmpty, "need at least one non-key column to upsert")
    val updateSql = s"UPDATE $table SET ${valCols.map(c => s"$c = ?").mkString(", ")}" +
      s" WHERE ${keyCols.map(c => s"$c = ?").mkString(" AND ")}"
    val insertSql = insertStatement(table, cols)
    val keyIdx = keyCols.map(cols.indexOf(_))
    val updateIdx = valCols.map(cols.indexOf(_)) ++ keyIdx
    writeRowWise(df, url, props, maxDeadLettersPerPartition) { (w, rows) =>
      val conn = w.conn
      conn.setAutoCommit(false)
      val upd = w.prepare(updateSql)
      val ins = w.prepare(insertSql)
      def bindUpdate(r: Row): Unit = w.bind(upd, r, updateIdx)
      def bindInsert(r: Row): Unit = w.bind(ins, r, cols.indices)
      val pending = mutable.ArrayBuffer.empty[Row]
      val pendingKeys = mutable.HashSet.empty[Seq[Any]]
      // Savepoints only where a failed statement aborts the transaction:
      // there every later statement fails with a code OUTSIDE the
      // deterministic set, and the stream would retry the poisoned batch
      // forever. Statement-level-rollback dialects (Derby/MySQL) would pay
      // setSavepoint + release round trips on every happy-path flush for
      // nothing (ADVICE r13).
      val useSavepoints = abortsTxnOnError(url) &&
        (try conn.getMetaData.supportsSavepoints()
         catch { case scala.util.control.NonFatal(_) => false })
      def guarded[T](f: => T): T =
        if (!useSavepoints) f
        else {
          val sp = conn.setSavepoint()
          try {
            val out = f
            // release quietly: some drivers invalidate savepoints on use
            cleanupQuietly(conn.releaseSavepoint(sp))
            out
          } catch {
            case e: Throwable =>
              // un-abort the transaction before any replay runs
              cleanupQuietly(conn.rollback(sp), e)
              throw e
          }
        }
      def fallsBack(e: Throwable): Boolean =
        enableFallback && causeChain(e).exists(isDeterministic)
      // row-wise replay of a (possibly partially applied) chunk: UPDATE
      // replays are idempotent in-txn; a row that STILL fails
      // deterministically becomes a dead letter (enableFallback) instead
      // of failing the batch — transient errors propagate to task retry
      def rowWise(rs: Iterable[Row]): Unit = rs.foreach { r =>
        try guarded {
          bindUpdate(r)
          if (upd.executeUpdate() == 0) { bindInsert(r); ins.executeUpdate() }
        } catch {
          case e: Throwable if fallsBack(e) => w.deadLetter(r, s"deterministic: ${e.getMessage}")
        }
      }
      def insertMisses(misses: Seq[Row]): Unit =
        if (misses.nonEmpty) {
          try guarded {
            misses.foreach { r => bindInsert(r); ins.addBatch() }
            ins.executeBatch()
          } catch {
            case e: Throwable if fallsBack(e) =>
              cleanupQuietly(ins.clearBatch(), e)
              rowWise(misses) // their updates matched 0 rows; replay is safe
          }
        }
      def flush(): Unit = if (pending.nonEmpty) {
        try {
          val counts = guarded(upd.executeBatch())
          if (counts.exists(_ == java.sql.Statement.SUCCESS_NO_INFO)) {
            // driver withheld counts: replay the chunk row-by-row (the
            // already-applied updates are idempotent, same txn)
            rowWise(pending)
          } else {
            insertMisses(pending.indices.collect {
              case i if counts(i) == 0 => pending(i)
            })
          }
        } catch {
          case e: Throwable if fallsBack(e) =>
            // a poisoned row inside the UPDATE batch: isolate it row-wise
            // (the savepoint rollback in guarded() already un-aborted and
            // un-applied the partial batch)
            cleanupQuietly(upd.clearBatch(), e)
            rowWise(pending)
        }
        pending.clear(); pendingKeys.clear()
      }
      rows.foreach { r =>
        val k: Seq[Any] = keyIdx.map(r.get)
        if (pendingKeys.contains(k) || pending.size >= batchSize) flush()
        bindUpdate(r); upd.addBatch()
        pending += r; pendingKeys += k
      }
      flush()
      conn.commit()
    }
  }

  /** Dead letters: the failed row rendered as JSON, and why it failed. */
  private val DeadLetterSchema = new StructType()
    .add("record_json", StringType).add("error", StringType)

  /** The one executor-side write loop under [[resilientAppend]] and
    * [[idempotentUpsert]]. Each non-empty partition opens one connection
    * with the caller's `props` ([[JdbcSource.connect]]: driver class,
    * credentials, timeouts, session init), hands it and its rows to
    * `policy`, and closes quietly on every exit. The rows carry their JSON
    * rendering as a trailing `__json` field, so the original ordinals are
    * unchanged.
    *
    * Executes EAGERLY, exactly once: the writes run inside the single
    * `collect` here, and the returned dead-letter DataFrame is built from
    * its already-materialized result — re-using or re-computing it cannot
    * re-run them. The driver-side result is BOUNDED: at most
    * `maxDeadLettersPerPartition` letters per partition, plus one marker
    * row (`record_json` NULL) carrying the exact count suppressed past the
    * cap, so an entirely-poisoned page cannot collect whole. */
  private def writeRowWise(df: DataFrame, url: String, props: Properties,
                           maxDeadLettersPerPartition: Int)(
      policy: (PartitionWriter, Iterator[Row]) => Unit): DataFrame = {
    val schema = df.schema
    val withJson = df.withColumn("__json", to_json(struct(schema.fieldNames.toSeq.map(col): _*)))
    val letters = withJson.mapPartitions { rows =>
      if (rows.isEmpty) Iterator.empty[Row]
      else {
        val w = new PartitionWriter(JdbcSource.connect(url, props), schema,
          maxDeadLettersPerPartition)
        try policy(w, rows) // drains `rows` before the connection closes
        catch { case e: Throwable => w.close(e); throw e }
        w.close(null)
        w.letters
      }
    }(Encoders.row(DeadLetterSchema)).collect()
    df.sparkSession.createDataFrame(java.util.Arrays.asList(letters: _*), DeadLetterSchema)
  }

  /** One partition's connection, the statements prepared on it, and its
    * bounded dead letters (see `writeRowWise`). */
  private final class PartitionWriter(val conn: Connection, schema: StructType, cap: Int) {
    private val statements = mutable.ArrayBuffer.empty[PreparedStatement]
    private val dead = mutable.ArrayBuffer.empty[Row]
    private var suppressed = 0L // past the cap: count, don't materialize

    def prepare(sql: String): PreparedStatement = {
      val st = conn.prepareStatement(sql)
      statements += st
      st
    }

    /** Bind fields `fields` of `r`, in order, as the parameters of `st`. */
    def bind(st: PreparedStatement, r: Row, fields: Seq[Int]): Unit =
      fields.iterator.zipWithIndex.foreach { case (i, p) =>
        if (r.isNullAt(i)) st.setObject(p + 1, null)
        else schema(i).dataType match {
          case TimestampType => st.setTimestamp(p + 1, r.getTimestamp(i))
          case _ => st.setObject(p + 1, r.get(i))
        }
      }

    def deadLetter(r: Row, error: String): Unit =
      if (dead.size < cap) dead += Row(r.getString(schema.length), error)
      else suppressed += 1

    /** Close the statements, then the connection. On failure (`cause`
      * non-null) an open transaction is rolled back first, and no cleanup
      * error masks `cause`: Spark's task retry must see the original
      * failure, not a close()-with-open-txn error. */
    def close(cause: Throwable): Unit = {
      if (cause != null) cleanupQuietly(if (!conn.getAutoCommit) conn.rollback(), cause)
      statements.foreach(st => cleanupQuietly(st.close(), cause))
      cleanupQuietly(conn.close(), cause)
    }

    def letters: Iterator[Row] = {
      if (suppressed > 0)
        dead += Row(null, s"overflow: $suppressed additional dead-letter " +
          s"row(s) suppressed in this partition (cap $cap)")
      dead.iterator
    }
  }
}
