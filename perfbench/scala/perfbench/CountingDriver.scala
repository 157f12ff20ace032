package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement}
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.logging.Logger

import scala.jdk.CollectionConverters._

/** Counting JDBC proxy for the traced run.
  *
  * Registered for the `jdbc:perfbench:` prefix; every connection is an
  * embedded Derby connection (`jdbc:derby:` + the rest of the URL)
  * behind dynamic proxies that count, per target table, connections,
  * prepares, `executeBatch` calls, bound rows, update counts, commits,
  * rollbacks and the time spent in `executeBatch` + `commit`. The
  * table is taken from the statement text (`MERGE INTO <table>` or
  * `INSERT INTO <table>`), so the sink's own table list is not
  * restated here.
  */
object CountingDriver extends Driver {
  val Prefix = "jdbc:perfbench:"

  final class TableStats {
    val connections, prepares, batches, rowsBound, rowsAffected = new AtomicLong
    val commits, rollbacks, dbBusyNs = new AtomicLong
    /** First connection open and last connection close, `System.nanoTime`. */
    val firstOpenNs = new AtomicLong(Long.MaxValue)
    val lastCloseNs = new AtomicLong(0L)
  }

  val connections = new AtomicLong
  private val tables = new ConcurrentHashMap[String, TableStats]()

  def stats: Map[String, TableStats] = tables.asScala.toMap
  def clear(): Unit = { tables.clear(); connections.set(0) }

  private def statsOf(t: String) = tables.computeIfAbsent(t, _ => new TableStats)

  private val TableRe = "(?is)^\\s*(?:MERGE|INSERT)\\s+(?:IGNORE\\s+)?INTO\\s+(\\w+)".r

  @volatile private var registered = false
  def register(): Unit = synchronized {
    if (!registered) { DriverManager.registerDriver(this); registered = true }
  }

  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(Prefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val target = DriverManager.getConnection(
        "jdbc:derby:" + url.stripPrefix(Prefix), info)
      connections.incrementAndGet()
      proxy(classOf[Connection], new ConnectionHandler(target, System.nanoTime()))
    }

  private def proxy[T](cls: Class[T], h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](cls), h)
      .asInstanceOf[T]

  private def forward(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private final class ConnectionHandler(target: Connection, openNs: Long)
      extends InvocationHandler {
    @volatile private var table: TableStats = _

    override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
      m.getName match {
        case "prepareStatement" =>
          val sql = args(0).asInstanceOf[String]
          val ps = forward(target, m, args).asInstanceOf[PreparedStatement]
          TableRe.findFirstMatchIn(sql).map(_.group(1)) match {
            case Some(t) =>
              val s = statsOf(t)
              if (table == null) {
                table = s
                s.connections.incrementAndGet()
                s.firstOpenNs.accumulateAndGet(openNs, math.min)
              }
              s.prepares.incrementAndGet()
              proxy(classOf[PreparedStatement], new StatementHandler(ps, s))
            case None => ps
          }
        case "commit" => timed(target, m, args, _.commits)
        case "rollback" if args == null => timed(target, m, args, _.rollbacks)
        case "close" =>
          try forward(target, m, args)
          finally if (table != null)
            table.lastCloseNs.accumulateAndGet(System.nanoTime(), math.max)
        case _ => forward(target, m, args)
      }

    private def timed(target: AnyRef, m: Method, args: Array[AnyRef],
        counter: TableStats => AtomicLong): AnyRef = {
      val t0 = System.nanoTime()
      try forward(target, m, args)
      finally if (table != null) {
        table.dbBusyNs.addAndGet(System.nanoTime() - t0)
        counter(table).incrementAndGet()
      }
    }
  }

  private final class StatementHandler(target: PreparedStatement,
      s: TableStats) extends InvocationHandler {
    override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
      m.getName match {
        case "addBatch" if args == null =>
          s.rowsBound.incrementAndGet()
          forward(target, m, args)
        case "executeBatch" =>
          val t0 = System.nanoTime()
          try {
            val counts = forward(target, m, args).asInstanceOf[Array[Int]]
            s.batches.incrementAndGet()
            s.rowsAffected.addAndGet(counts.iterator.map(c => math.max(c, 0).toLong).sum)
            counts
          } finally s.dbBusyNs.addAndGet(System.nanoTime() - t0)
        case _ => forward(target, m, args)
      }
  }

  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getPropertyInfo(url: String,
      info: Properties): Array[DriverPropertyInfo] = Array.empty
  override def getParentLogger: Logger = Logger.getGlobal
}
