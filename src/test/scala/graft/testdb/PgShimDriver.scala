package graft.testdb

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement, Statement}
import java.util.Properties
import java.util.logging.Logger

/** TEST DOUBLE: a JDBC driver that answers `jdbc:postgresql://…` URLs with
  * an embedded Derby database behind a thin PG-surface shim — the
  * offline-sandbox stand-in for a second JDBC dialect (r11 verdict #5; no
  * H2/pg jar is resolvable with zero egress). It exists to drive the
  * repo's PostgreSQL-only branches end-to-end, which Derby alone never
  * exercises:
  *
  *   - Spark resolves `JdbcDialects.get` by URL, so every read/write/quote
  *     against this driver goes through Spark's REAL `PostgresDialect`
  *     (quoted lower-case identifiers, PG type mapping);
  *   - `ConnectionConfig` emits its PG property set — `currentSchema`,
  *     `SET search_path TO …` sessionInit, `connectTimeout`/`loginTimeout`
  *     in SECONDS — all consumed or recorded here;
  *   - LIMIT-style paging (`fetchFirst = false`, the keyset tail's choice
  *     for a PG URL) is translated to Derby's `FETCH FIRST n ROWS ONLY` at
  *     execute time, so the LIMIT branch of the page SQL is what actually
  *     runs (and is recorded in [[PgShimDriver.limitStatements]]);
  *   - round 13: the shim emulates PostgreSQL's ABORT-ON-ERROR transaction
  *     semantics — once a statement fails inside a non-autocommit
  *     transaction, every subsequent statement fails with SQLState `25P02`
  *     ("current transaction is aborted") until `ROLLBACK` or
  *     `ROLLBACK TO SAVEPOINT`, and `COMMIT` of an aborted transaction
  *     rolls back instead (the server's behavior). This is what forces
  *     `JdbcSink.idempotentUpsert`'s fallback replay to be
  *     savepoint-isolated (ADVICE r12): Derby's statement-level rollback
  *     could never catch a replay that assumes it.
  *
  * Translation is intentionally minimal (the shim is a dialect-surface
  * exerciser, not a PostgreSQL emulator): `SET search_path TO a[, b…]` →
  * `SET SCHEMA a`, and integer `LIMIT n` → `FETCH FIRST n ROWS ONLY`.
  */
final class PgShimDriver extends Driver {
  import PgShimDriver._

  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith("jdbc:postgresql:")

  override def connect(url: String, info: Properties): Connection = {
    if (!acceptsURL(url)) return null
    lastConnectTimeout = Option(info.getProperty("connectTimeout"))
    lastLoginTimeout = Option(info.getProperty("loginTimeout"))
    lastCurrentSchema = Option(info.getProperty("currentSchema"))
    lastFetchSize = None
    // jdbc:postgresql://host[:port]/db  (or jdbc:postgresql:db)
    val tail = url.stripPrefix("jdbc:postgresql:")
    val db = tail.stripPrefix("//").split("/").last.takeWhile(_ != '?')
    require(db.nonEmpty, s"pg-shim: no database in $url")
    val derby = DriverManager.getConnection(s"jdbc:derby:memory:pgshim_$db;create=true")
    // pgjdbc applies currentSchema as the session's first search-path
    // entry; SET SCHEMA is Derby's equivalent
    lastCurrentSchema.map(_.split(",")(0).trim).filter(_.nonEmpty).foreach { s =>
      val st = derby.createStatement()
      try st.execute(s"SET SCHEMA $s") finally st.close()
    }
    wrapConnection(derby)
  }

  override def getMajorVersion: Int = 42
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getParentLogger: Logger =
    throw new java.sql.SQLFeatureNotSupportedException()
}

object PgShimDriver {
  /** Last connect's recorded PG-dialect properties — the spec's assertion
    * surface for the `timeout` → seconds mapping (`Config.scala`). */
  @volatile var lastConnectTimeout: Option[String] = None
  @volatile var lastLoginTimeout: Option[String] = None
  @volatile var lastCurrentSchema: Option[String] = None
  /** Last `setFetchSize` seen by any shim statement — asserts that Spark's
    * `fetchsize` reader option reaches the driver (pgjdbc needs it > 0 plus
    * autocommit off to switch from materialize-all to cursor paging). */
  @volatile var lastFetchSize: Option[Int] = None
  /** Every statement that arrived with a `LIMIT n` clause, as sent — the
    * spec's evidence that the LIMIT branch of the page SQL ran. */
  val limitStatements = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private lazy val registered: Unit =
    DriverManager.registerDriver(new PgShimDriver)
  /** Idempotent JVM-wide registration (local-mode executors share it). */
  def ensureRegistered(): Unit = registered

  private val SearchPath = "(?is)\\s*SET\\s+search_path\\s+TO\\s+(.+?)\\s*".r

  private[testdb] def translate(sql: String): String = sql match {
    case SearchPath(path) => s"SET SCHEMA ${path.split(",")(0).trim}"
    case _ =>
      val t = sql.replaceAll("(?i)\\bLIMIT\\s+(\\d+)\\b", "FETCH FIRST $1 ROWS ONLY")
      if (t != sql) limitStatements.add(sql)
      t
  }

  /** PostgreSQL transaction-abort state, shared by a connection and every
    * statement it hands out. */
  private final class TxnState {
    @volatile var autoCommit = true
    @volatile var aborted = false
  }

  private def abortedEx(): java.sql.SQLException =
    new java.sql.SQLException("ERROR: current transaction is aborted, " +
      "commands ignored until end of transaction block", "25P02")

  private def reflective[T](iface: Class[T], target: AnyRef,
      intercept: PartialFunction[(Method, Array[AnyRef]), AnyRef]): T = {
    val h = new InvocationHandler {
      override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = {
        val a = if (args == null) Array.empty[AnyRef] else args
        if (intercept.isDefinedAt((m, a))) intercept((m, a))
        else try m.invoke(target, a: _*)
        catch { case e: InvocationTargetException => throw e.getCause }
      }
    }
    Proxy.newProxyInstance(iface.getClassLoader, Array(iface), h).asInstanceOf[T]
  }

  private def invokeRaw(m: Method, target: AnyRef, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  /** Delegate everything to Derby; intercept the SQL-carrying calls to
    * translate, and the transaction-boundary calls to drive the PG abort
    * emulation. Statements (plain AND prepared) are wrapped so executes
    * respect/set the abort state. */
  private def wrapConnection(derby: Connection): Connection = {
    val state = new TxnState
    reflective(classOf[Connection], derby, {
      case (m, Array(sql: String)) if m.getName == "nativeSQL" => translate(sql)
      case (m, args) if m.getName == "setAutoCommit" =>
        // pgjdbc: toggling autocommit ends any open txn — but an ABORTED
        // txn ends in ROLLBACK on PG, where Derby's setAutoCommit(true)
        // would COMMIT the pre-failure work. Roll back first.
        if (state.aborted) derby.rollback()
        state.autoCommit = args(0).asInstanceOf[java.lang.Boolean]
        state.aborted = false
        invokeRaw(m, derby, args)
      case (m, args) if m.getName == "commit" =>
        // PG answers COMMIT of an aborted transaction with ROLLBACK
        if (state.aborted) { state.aborted = false; derby.rollback(); null }
        else invokeRaw(m, derby, args)
      case (m, args) if m.getName == "rollback" =>
        state.aborted = false // full rollback AND rollback-to-savepoint un-abort
        invokeRaw(m, derby, args)
      case (m, args) if m.getName == "setSavepoint" =>
        if (state.aborted) throw abortedEx() // can't savepoint an aborted txn
        invokeRaw(m, derby, args)
      case (m, args) if m.getName.startsWith("prepare") && args.nonEmpty &&
          args(0).isInstanceOf[String] =>
        val newArgs = args.clone()
        newArgs(0) = translate(args(0).asInstanceOf[String])
        wrapStatement(classOf[PreparedStatement],
          invokeRaw(m, derby, newArgs).asInstanceOf[PreparedStatement], state)
      case (m, args) if m.getName == "createStatement" =>
        wrapStatement(classOf[Statement],
          invokeRaw(m, derby, args).asInstanceOf[Statement], state)
    })
  }

  private val ExecMethods = Set("execute", "executeQuery", "executeUpdate",
    "executeLargeUpdate", "executeBatch", "executeLargeBatch")

  /** Translate SQL-carrying calls per execute, record fetch size, and run
    * the abort protocol: an execute inside an aborted txn throws 25P02; a
    * failed execute inside a live txn aborts it. (`addBatch` stays
    * client-side, as in pgjdbc — only executes talk to the "server".) */
  private def wrapStatement[S <: Statement](iface: Class[S], st: S,
                                            state: TxnState): S =
    reflective(iface, st, {
      case (m, args) if m.getName == "setFetchSize" =>
        lastFetchSize = Some(args(0).asInstanceOf[java.lang.Integer].intValue())
        invokeRaw(m, st, args)
      case (m, args) if m.getName == "addBatch" && args.nonEmpty &&
          args(0).isInstanceOf[String] =>
        val newArgs = args.clone()
        newArgs(0) = translate(args(0).asInstanceOf[String])
        invokeRaw(m, st, newArgs)
      case (m, args) if ExecMethods.contains(m.getName) =>
        if (state.aborted && !state.autoCommit) throw abortedEx()
        val newArgs =
          if (args.nonEmpty && args(0).isInstanceOf[String]) {
            val na = args.clone()
            na(0) = translate(args(0).asInstanceOf[String])
            na
          } else args
        try invokeRaw(m, st, newArgs)
        catch {
          case e: java.sql.SQLException =>
            if (!state.autoCommit) state.aborted = true
            throw e
        }
    })
}
