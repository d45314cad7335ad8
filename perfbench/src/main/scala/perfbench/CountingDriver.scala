package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement}
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

/** JDBC driver wrapper owned by the benchmark: `jdbc:perfbench:<url>`
  * opens `<url>` through DriverManager and counts what the sink does with
  * it — connections opened and batches executed. Used by traced runs only,
  * so untraced timings never pay the proxy's per-call cost. */
final class CountingDriver extends Driver {
  import CountingDriver._

  def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)

  def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val inner = DriverManager.getConnection(url.stripPrefix(Prefix), info)
      connections.incrementAndGet()
      wrap(classOf[Connection], inner, new ConnHandler(inner))
    }

  def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  def getMajorVersion: Int = 1
  def getMinorVersion: Int = 0
  def jdbcCompliant(): Boolean = false
  def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getLogger("perfbench")
}

object CountingDriver {
  val Prefix = "jdbc:perfbench:"
  val connections = new AtomicLong
  val batches = new AtomicLong

  private lazy val registered: Unit = DriverManager.registerDriver(new CountingDriver)

  /** `url` routed through the counter. */
  def counted(url: String): String = { registered; Prefix + url }

  def reset(): Unit = { connections.set(0); batches.set(0) }

  private def wrap[T](iface: Class[T], target: AnyRef, h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(iface), h).asInstanceOf[T]

  private def forward(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private final class ConnHandler(c: Connection) extends InvocationHandler {
    def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
      val r = forward(c, m, args)
      r match {
        case ps: PreparedStatement =>
          wrap(classOf[PreparedStatement], ps, new StmtHandler(ps))
        case other => other
      }
    }
  }

  private final class StmtHandler(ps: PreparedStatement) extends InvocationHandler {
    def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
      if (m.getName == "executeBatch") batches.incrementAndGet()
      forward(ps, m, args)
    }
  }
}
