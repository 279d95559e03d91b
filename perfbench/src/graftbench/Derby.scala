package graftbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, SQLException}

import org.apache.spark.TaskContext

/** The warehouse: one in-memory embedded Derby database per operation. */
object Derby {

  /** Column width for string columns. The sink's default (VARCHAR(65535))
    * is rejected by Derby, whose VARCHAR limit is 32672; 4000 is the width
    * the streaming sink already defaults to, so every workload uses it. */
  val MaxVarchar = 4000

  /** Lifetimes (start, end, inExecutorTask) of the connections the engine
    * opened while `timing` is on (traced operations only). Driver-side
    * connections carry the sink's DDL and metadata probes, the idempotent
    * merge and the identity truncation; task-side ones the batched inserts. */
  val connections = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Boolean)]()
  @volatile var timing = false

  def url(db: String): String = s"jdbc:derby:memory:$db"

  /** Connection factory handed to the engine; runs on executors too. */
  def connector(db: String): () => Connection = () => open(db)

  def open(db: String): Connection = {
    val conn = DriverManager.getConnection(s"${url(db)};create=true")
    if (timing) timed(conn, TaskContext.get() != null) else conn
  }

  private def timed(conn: Connection, inTask: Boolean): Connection = {
    val t0 = System.nanoTime()
    val handler = new InvocationHandler {
      override def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef = {
        if (m.getName == "close") connections.add((t0, System.nanoTime(), inTask))
        try m.invoke(conn, (if (args == null) Array.empty[AnyRef] else args): _*)
        catch { case e: InvocationTargetException => throw e.getCause }
      }
    }
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]), handler)
      .asInstanceOf[Connection]
  }

  /** Drop an in-memory database (Derby signals success with an exception). */
  def drop(db: String): Unit =
    try DriverManager.getConnection(s"${url(db)};drop=true").close()
    catch { case _: SQLException => () }

  def rows[T](db: String, sql: String)(read: java.sql.ResultSet => T): Seq[T] = {
    val c = DriverManager.getConnection(url(db))
    try {
      val rs = c.createStatement().executeQuery(sql)
      val out = Seq.newBuilder[T]
      while (rs.next()) out += read(rs)
      out.result()
    } finally c.close()
  }

  def count(db: String, sql: String): Long = rows(db, sql)(_.getLong(1)).head

  /** DELETE, as the engine's batch pipeline does before reloading a table. */
  def deleteAll(connect: () => Connection, table: String): Unit = {
    val c = connect()
    try {
      val rs = c.getMetaData.getTables(null, null, table, null)
      val exists = try rs.next() finally rs.close()
      if (exists) { val st = c.createStatement(); try st.executeUpdate(s"""DELETE FROM "$table"""") finally st.close() }
    } finally c.close()
  }
}
