package graft.sources

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, SQLException, SQLIntegrityConstraintViolationException}
import java.util.concurrent.atomic.AtomicBoolean

/** Test-only JDBC shim simulating OTHER ENGINES' error semantics on
  * top of embedded Derby, in two modes:
  *
  *  - PostgreSQL (`jdbc:abortsim:`): TRANSACTION-LEVEL abort. Derby
  *    aborts only the failing STATEMENT and leaves the transaction
  *    usable — the lenient case — so a probe misordered after a
  *    duplicate-key hit passes on Derby but wedges every task retry on
  *    PostgreSQL ("current transaction is aborted, commands ignored
  *    until end of transaction block", SQLSTATE 25P02). This mode pins
  *    the strict contract the epoch writers' rollback-before-probe
  *    ordering relies on: after ANY statement in an open transaction
  *    errors, every further execute on that connection throws until
  *    `rollback()` (full or to a savepoint). Duplicate keys rethrow in
  *    PG's shape: a PLAIN SQLException with SQLState 23505, never
  *    Derby's SQLIntegrityConstraintViolationException subclass.
  *
  *  - MySQL (`jdbc:mysim:`): NO transaction-level abort (InnoDB
  *    rolls back only the failing statement), but duplicate keys
  *    rethrow in MySQL's shape — a plain SQLException with SQLState
  *    23000 (integrity-constraint class, no subclass). A dup-skip site
  *    that matches Derby's exception subclass or PG's 23505 literal
  *    misclassifies this shape as fatal; only the SQLState-class-23
  *    rule ([[SqlPubSub.isDuplicateKey]]) passes both modes.
  *
  * Both modes can also inject one transaction rollback: while
  * [[AbortSimDriver.failNextBatch]] is set, the next `executeBatch`
  * runs for real and then throws SQLState 40XL1 (Derby's lock
  * timeout), leaving its rows in the open transaction.
  *
  * URL shape: `jdbc:abortsim:<rest>` / `jdbc:mysim:<rest>` delegate
  * to `jdbc:<rest>`, e.g. `jdbc:abortsim:derby:memory:db;create=true`.
  * Executor-side writers resolve connections through
  * `DriverManager.getConnection(url)`, so passing a shim URL injects
  * the fault without touching the code under test. */
object AbortSimDriver {
  val Prefix = "jdbc:abortsim:"
  // NOT "jdbc:mysqlsim:": Spark's MySQLDialect claims any URL starting
  // with "jdbc:mysql", switching identifier quoting to backticks and
  // breaking partitioned reads against the underlying Derby store —
  // the shim must simulate MySQL's ERROR SHAPES, not its SQL dialect
  val MysqlPrefix = "jdbc:mysim:"

  /** One-shot fault: the next shim `executeBatch` throws 40XL1. */
  val failNextBatch = new AtomicBoolean(false)

  @volatile private var registered = false
  def ensureRegistered(): Unit = synchronized {
    if (!registered) {
      DriverManager.registerDriver(new AbortSimDriver); registered = true
    }
  }
}

/** A CLASS (public no-arg constructor), not an object: Spark's
  * DriverRegistry resolves the driver for a shim URL by class name and
  * constructs it reflectively, so Spark-side JDBC reads/writes through
  * `jdbc:abortsim:`/`jdbc:mysim:` work exactly like driver-side
  * DriverManager lookups. */
final class AbortSimDriver extends java.sql.Driver {
  import AbortSimDriver.{Prefix, MysqlPrefix}

  override def acceptsURL(url: String): Boolean =
    url != null && (url.startsWith(Prefix) || url.startsWith(MysqlPrefix))

  override def connect(url: String, info: java.util.Properties): Connection =
    if (url == null) null
    else if (url.startsWith(Prefix))
      wrap(DriverManager.getConnection(
        "jdbc:" + url.substring(Prefix.length), info), pgAbort = true)
    else if (url.startsWith(MysqlPrefix))
      wrap(DriverManager.getConnection(
        "jdbc:" + url.substring(MysqlPrefix.length), info), pgAbort = false)
    else null

  private def unwrapInvoke(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def wrap(real: Connection, pgAbort: Boolean): Connection = {
    val aborted = new AtomicBoolean(false)

    def wrapStmt(st: AnyRef, iface: Class[_]): AnyRef =
      Proxy.newProxyInstance(getClass.getClassLoader, Array(iface),
        new InvocationHandler {
          override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
            if (m.getName.startsWith("execute")) {
              if (aborted.get())
                throw new SQLException("abortsim: current transaction is " +
                  "aborted, commands ignored until end of transaction block",
                  "25P02")
              try {
                val r = m.invoke(st, args: _*)
                // handled below exactly like a real statement error
                if (m.getName == "executeBatch" &&
                    AbortSimDriver.failNextBatch.compareAndSet(true, false))
                  throw new InvocationTargetException(
                    new java.sql.SQLTransactionRollbackException(
                      "abortsim: injected lock timeout", "40XL1"))
                r
              } catch {
                case e: InvocationTargetException => e.getCause match {
                  case icv: SQLIntegrityConstraintViolationException =>
                    if (pgAbort && !real.getAutoCommit) aborted.set(true)
                    // neither engine throws Derby's
                    // SQLIntegrityConstraintViolationException subclass:
                    // PostgreSQL's driver throws a PLAIN SQLException
                    // with SQLState 23505, MySQL's a plain SQLException
                    // with the bare class code 23000 — rethrow in the
                    // mode's shape so a subclass-only (or
                    // 23505-literal) dup catch fails under this shim
                    // exactly as it would against the real engine
                    throw new SQLException(icv.getMessage,
                      if (pgAbort) "23505" else "23000", icv)
                  case sq: SQLException =>
                    // PG aborts the transaction on ANY statement error;
                    // MySQL rolls back only the failing statement
                    if (pgAbort && !real.getAutoCommit) aborted.set(true)
                    throw sq
                  case other => throw other
                }
              }
            } else unwrapInvoke(st, m, args)
        })

    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "rollback" =>
              aborted.set(false)
              unwrapInvoke(real, m, args)
            case "commit" =>
              if (aborted.get())
                throw new SQLException(
                  "abortsim: cannot commit an aborted transaction", "25P02")
              unwrapInvoke(real, m, args)
            case "prepareStatement" | "createStatement" | "prepareCall" =>
              wrapStmt(unwrapInvoke(real, m, args), m.getReturnType)
            case _ => unwrapInvoke(real, m, args)
          }
      }).asInstanceOf[Connection]
  }

  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def getPropertyInfo(url: String, info: java.util.Properties) =
    Array.empty[java.sql.DriverPropertyInfo]
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger =
    throw new java.sql.SQLFeatureNotSupportedException()
}
