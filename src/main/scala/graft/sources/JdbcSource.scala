package graft.sources

import java.sql.{Connection, DriverManager}
import java.util.Properties

import scala.collection.mutable
import scala.util.Using

import org.apache.spark.sql.types.{DataType, NumericType}

import graft.core.SystemTables

/** JDBC input shell — the reference's ActiveRecord connection + reflection
  * surface (`in_sql.rb:188-230`), and the keyset SQL the tail's driver-side
  * poll and executor-side range reads send, so the database (with its index
  * on the update column, `README.md:100-102`) does the WHERE/ORDER/LIMIT.
  */
object JdbcSource {

  /** A serialized keyset resume value as a SQL literal of the update
    * column's Catalyst type `dt`. Numeric columns go unquoted (strict
    * engines like Derby refuse BIGINT > CHAR, and DOUBLE serializes in
    * E-notation from 1e7 up); every other column is a quoted string that
    * round-trips through the DB's cast, exactly like the reference's
    * serialized resume (`in_sql.rb:131, 141`) — a VARCHAR `010` stays a
    * string. The ONE literal form of the page and range queries, so
    * boundary semantics can never diverge. */
  def sqlLiteral(v: String, dt: DataType): String = dt match {
    case _: NumericType => v
    case _              => "'" + v.replace("'", "''") + "'"
  }

  /** Whether the URL's dialect lacks LIMIT and pages with
    * `FETCH FIRST n ROWS ONLY` instead (Derby/Oracle/DB2). */
  def fetchFirstDialect(url: String): Boolean =
    Seq("jdbc:derby", "jdbc:oracle", "jdbc:db2").exists(url.startsWith)

  /** The `(lo, hi]` predicate of the update column (`lo = None`: open
    * below), literals typed by [[sqlLiteral]]. */
  private def rangeBounds(updateColumn: String, updType: DataType,
                          lo: Option[String], hi: String): String =
    lo.map(v => s"${sqlLiteral(v, updType)} < $updateColumn AND ").getOrElse("") +
      s"$updateColumn <= ${sqlLiteral(hi, updType)}"

  /** The executor-side query for one keyset sub-range `(lo, hi]` of the
    * update column (`lo = None`: open below). No ORDER/LIMIT: sub-ranges
    * tile a batch exactly, and batch assembly has no order contract.
    * Identifiers arrive already quoted as the caller needs them. */
  def rangeQuery(columns: Seq[String], table: String, updateColumn: String,
                 updType: DataType, lo: Option[String], hi: String): String =
    s"SELECT ${columns.mkString(", ")} FROM $table WHERE " +
      rangeBounds(updateColumn, updType, lo, hi)

  /** The page-limit clause: `FETCH FIRST n ROWS ONLY` for LIMIT-less
    * dialects ([[fetchFirstDialect]]), `LIMIT n` otherwise. */
  def pageLimit(n: Int, fetchFirst: Boolean): String =
    if (fetchFirst) s"FETCH FIRST $n ROWS ONLY" else s"LIMIT $n"

  /** The keyset page `SELECT cols FROM t WHERE upd > last ORDER BY upd ASC
    * LIMIT n` (`in_sql.rb:129-135`); `limit <= 0` disables the limit
    * (`in_sql.rb:52`). ORDER BY only when a LIMIT defines the page through
    * it: an unbounded page is the whole remaining range, and its one
    * consumer (the tail's `MAX` poll) doesn't need order — leaving the ORDER BY
    * in would make unindexed databases sort the full remainder per poll for
    * nothing (planners are NOT guaranteed to elide a subquery ORDER BY).
    * `hi` caps the page from above with [[rangeQuery]]'s `(last, hi]`
    * predicate (a `Trigger.AvailableNow` run's target). */
  def pageQuery(select: String, table: String, updateColumn: String, updType: DataType,
                last: Option[String], limit: Int, fetchFirst: Boolean,
                hi: Option[String] = None): String = {
    val where = hi match {
      case Some(h) => "WHERE " + rangeBounds(updateColumn, updType, last, h)
      case None =>
        last.map(v => s"WHERE $updateColumn > ${sqlLiteral(v, updType)}").getOrElse("")
    }
    if (limit <= 0) s"SELECT $select FROM $table $where"
    else s"SELECT $select FROM $table $where ORDER BY $updateColumn ASC " +
      pageLimit(limit, fetchFirst)
  }

  /** `all_tables` discovery via JDBC catalog metadata, skipping system
    * tables (`in_sql.rb:214-230`, skip `in_sql.rb:183`). Catalog listing is
    * schema-wide by default; a `schema_search_path` (carried as
    * `sessionInitStatement` in props and applied by [[connect]]) narrows
    * discovery to the session's current schema, matching the reference's
    * PostgreSQL behavior where `connection.tables` sees the search path. */
  def discoverTables(url: String, props: Properties = new Properties()): Seq[String] =
    Using.resource(connect(url, props)) { conn =>
      val schema = Option(conn.getSchema).filter(_ => hasSessionInit(props)).orNull
      val rs = conn.getMetaData.getTables(null, schema, "%", Array("TABLE"))
      val out = mutable.ListBuffer.empty[String]
      while (rs.next()) out += rs.getString("TABLE_NAME")
      out.filterNot(t => SystemTables.isSystemTable(t)).sorted.toSeq
    }

  /** PK introspection for update-column defaulting: composite PK is a hard
    * error, `primary_key` overrides for PK-less views (`in_sql.rb:107-114`). */
  def primaryKey(url: String, table: String,
                 props: Properties = new Properties()): Option[String] =
    Using.resource(connect(url, props)) { conn =>
      val schema = Option(conn.getSchema).filter(_ => hasSessionInit(props)).orNull
      val rs = conn.getMetaData.getPrimaryKeys(null, schema, table)
      val pks = mutable.ListBuffer.empty[String]
      while (rs.next()) pks += rs.getString("COLUMN_NAME")
      if (pks.size > 1)
        throw new IllegalStateException(
          s"composite primary key detected for $table: ${pks.mkString(",")} — set primary_key explicitly")
      pks.headOption
    }

  /** Is `column` the LEADING column of some index on `table`? The keyset
    * page (`WHERE upd > ? ORDER BY upd LIMIT n`) is an index range scan
    * exactly when such an index exists — the reference's documented
    * prerequisite (`README.md:100-102`); without it every poll is a
    * full-table sort in the database. None when the catalog cannot answer
    * (views, subqueries, permission-restricted metadata). */
  def hasIndexOn(url: String, table: String, column: String,
                 props: Properties = new Properties()): Option[Boolean] =
    scala.util.Try(Using.resource(connect(url, props)) { conn =>
      val schema = Option(conn.getSchema).filter(_ => hasSessionInit(props)).orNull
      val rs = conn.getMetaData.getIndexInfo(null, schema, table, false, true)
      var found = false
      while (rs.next() && !found) {
        found = rs.getShort("ORDINAL_POSITION") == 1 &&
          Option(rs.getString("COLUMN_NAME")).exists(_.equalsIgnoreCase(column))
      }
      found
    }).toOption

  private def hasSessionInit(props: Properties): Boolean =
    props.getProperty("sessionInitStatement") != null

  /** Raw connection honoring the Spark-style `driver` and
    * `sessionInitStatement` properties, the one raw-JDBC opener of the
    * source, tail and sink paths. Executors don't run DriverManager's
    * service discovery for drivers loaded after JVM start, so an explicit
    * driver class is loaded first, as Spark does. Spark's JDBC reader runs
    * the init statement after opening a session; the connections opened
    * here get the same statement (e.g. `SET search_path TO ...` /
    * `SET SCHEMA ...` from `ConnectionConfig.schemaSearchPath`). */
  private[graft] def connect(url: String, props: Properties): Connection = {
    Option(props.getProperty("driver")).foreach(java.lang.Class.forName)
    val conn = DriverManager.getConnection(url, props)
    Option(props.getProperty("sessionInitStatement")).foreach { stmt =>
      Using.resource(conn.createStatement())(_.execute(stmt))
    }
    conn
  }
}
