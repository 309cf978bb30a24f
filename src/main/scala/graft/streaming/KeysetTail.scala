package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.DataStreamReader

import graft.core.{ConnectionConfig, InputConfig, SourceTableConfig}

/** Config → streaming-source glue: build the keyset tail's reader straight
  * from the parsed reference config (`ConfigText.parseInput` +
  * `parseInputConnection`), so a reference user runs their existing
  * `<source>` section through Structured Streaming without hand-assembling
  * options. Both readers open the one stream
  * ([[KeysetMultiMicroBatchStream]]): [[multiReader]] over every configured
  * table as tagged events, [[reader]] over one table as its typed rows.
  *
  * Mapping (reference `in_sql.rb:28-66`): connection → `url` (+ JDBC
  * credentials and the schema-search-path session init, applied by the
  * driver-side page scan, the schema inference AND each executor-side
  * partition reader — `JdbcSource.connect`); `table` → schema-qualified
  * `dbtable` (the sink-side qualification rule, dialect-portable);
  * `update_column`/`primary_key` → `updateColumn`; `select_limit` →
  * `maxRowsPerBatch` (`<= 0` disables paging); `time_format` →
  * `timeFormat`. The sources pick `FETCH FIRST` paging for LIMIT-less
  * dialects from the url (`JdbcSource.fetchFirstDialect`). */
object KeysetTail {

  /** The column a table is tailed by: `update_column`, else `primary_key`. */
  private def updateColumn(t: SourceTableConfig): String =
    t.updateColumn.orElse(t.primaryKey).getOrElse(
      sys.error(s"${t.table}: no update_column/primary_key configured " +
        "(the reference reflects the PK; pass primary_key for PK-less views, in_sql.rb:107-114)"))

  def reader(spark: SparkSession, cc: ConnectionConfig, t: SourceTableConfig,
             selectLimit: Int = 500): DataStreamReader = {
    var r = spark.readStream.format("keyset-tail")
      .option("url", cc.jdbcUrl)
      .option("dbtable", cc.qualify(t.table))
      .option("updateColumn", updateColumn(t))
      .option("maxRowsPerBatch", selectLimit.toString)
      .option("timeFormat", t.timeFormat)
    cc.username.foreach(u => r = r.option("user", u))
    cc.password.foreach(p => r = r.option("password", p))
    cc.sessionInitStatement.foreach(s => r = r.option("sessionInitStatement", s))
    r
  }

  /** ALL configured tables as ONE coordinated stream
    * (`format("keyset-tail-multi")`): one checkpoint, one trigger, tagged
    * `(tag, record MAP<STRING,STRING>)` events, per-table fault isolation
    * (`in_sql.rb:233-243, 272-275`) — the reference's single input plugin,
    * whole. Start it with [[trigger]] for the poll loop, or with
    * `Trigger.AvailableNow` for a batch/cron run that drains each table to
    * its `MAX(upd)` at start and stops; the checkpoint's offset log is the
    * `state_file` either way. [[reader]] is the same stream over one table,
    * for a table that needs its own cadence or typed rows. */
  def multiReader(spark: SparkSession, cc: ConnectionConfig,
                  cfg: InputConfig): DataStreamReader = {
    var r = spark.readStream.format("keyset-tail-multi")
      .option("url", cc.jdbcUrl)
      .option("maxRowsPerBatch", cfg.selectLimit.toString)
    cfg.tables.zipWithIndex.foreach { case (t, i) =>
      r = r.option(s"tables.$i.tag", t.resolvedTag(cfg.tagPrefix))
        .option(s"tables.$i.dbtable", cc.qualify(t.table))
        .option(s"tables.$i.updateColumn", updateColumn(t))
        .option(s"tables.$i.timeFormat", t.timeFormat)
    }
    cc.username.foreach(u => r = r.option("user", u))
    cc.password.foreach(p => r = r.option("password", p))
    cc.sessionInitStatement.foreach(s => r = r.option("sessionInitStatement", s))
    r
  }

  /** `all_tables` mode feeding the ONE poll loop (`in_sql.rb:214-230`):
    * catalog discovery REPLACES the configured `<table>` blocks entirely
    * (the reference assigns `@tables =` from `connection.tables`), each
    * discovered table getting tag = table name and `update_column = nil` —
    * i.e. PK-defaulted here, since parquetless JDBC catalogs carry PK
    * metadata. Framework system tables (`schema_migrations`) are skipped
    * inside [[JdbcSource.discoverTables]] (`in_sql.rb:183, 217-219`); a
    * table whose PK cannot default a single update column is dropped with
    * a warning, the same `reject!` the provider applies to tables that
    * fail schema reflection (`in_sql.rb:233-243`). Returns the
    * [[multiReader]] over the discovered set. */
  def discoveredMultiReader(spark: SparkSession, cc: ConnectionConfig,
                            cfg: InputConfig): DataStreamReader = {
    require(cfg.allTables,
      "discoveredMultiReader: config must set all_tables (in_sql.rb:53-54)")
    val discovered = graft.sources.JdbcSource
      .discoverTables(cc.jdbcUrl, cc.properties)
      .flatMap { t =>
        // bare catalog name: primaryKey resolves the schema itself from the
        // session (getPrimaryKeys takes schema and table separately)
        try graft.sources.JdbcSource.primaryKey(cc.jdbcUrl, t, cc.properties) match {
          case Some(pk) =>
            Some(SourceTableConfig(t, tag = Some(t), updateColumn = Some(pk)))
          case None =>
            System.err.println(s"[graft.keyset-tail-multi] can't handle '$t' " +
              "table (no single-column primary key to default update_column " +
              "from). Ignoring. (in_sql.rb:233-243)")
            None
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft.keyset-tail-multi] can't handle '$t' " +
              s"table. Ignoring. (in_sql.rb:233-243): ${e.getMessage}")
            None
        }
      }
    require(discovered.nonEmpty,
      s"all_tables discovery found no tailable tables at ${cc.jdbcUrl}")
    multiReader(spark, cc, cfg.copy(tables = discovered))
  }

  /** `select_interval` (`in_sql.rb:49-50`, default 60 s) as the stream's
    * trigger — the last config param of the reference's poll loop. */
  def trigger(cfg: InputConfig): org.apache.spark.sql.streaming.Trigger =
    org.apache.spark.sql.streaming.Trigger.ProcessingTime(
      cfg.selectIntervalSec * 1000L)
}
