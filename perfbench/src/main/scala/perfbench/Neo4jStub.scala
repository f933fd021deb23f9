package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-process stand-in for Neo4j's transactional `transaction/commit`
  * endpoint, on the JDK HttpServer bound to the loopback interface.
  *
  * A statement that starts with `UNWIND $param` stores every row of
  * that parameter. Any other statement must read
  * `RETURN o.f1, o.f2, … ORDER BY o.<key> SKIP s LIMIT l` and is served
  * from the stored rows, sorted by the key. The stub counts requests,
  * bytes and rows, and records each request as a span tagged with the
  * op that was running when it arrived.
  */
final class Neo4jStub(threads: Int) {
  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(threads)
  private val stored = new ConcurrentLinkedQueue[ObjectNode]()
  @volatile private var sorted: (String, Vector[ObjectNode]) = ("", Vector.empty)
  private val ReadQ = """(?is)\s*MATCH\s.*RETURN\s+(.+?)\s+ORDER BY\s+\w+\.(\w+)\s+SKIP\s+(\d+)\s+LIMIT\s+(\d+)\s*""".r

  val requests, requestBytes, responseBytes = new AtomicLong()
  val rowsWritten, rowsRead, failed, busyNs = new AtomicLong()
  /** (op id, start ns, end ns) of every request. */
  val spans = new ConcurrentLinkedQueue[(Int, Long, Long)]()
  @volatile var currentOp: Int = -1
  @volatile var recordSpans: Boolean = false

  server.setExecutor(pool)
  server.createContext("/db/data/", (ex: HttpExchange) => handle(ex))
  server.start()

  def uri: String = s"http://127.0.0.1:${server.getAddress.getPort}/db/data/"

  /** Forgets the stored rows (one connector round trip starts empty). */
  def clear(): Unit = { stored.clear(); sorted = ("", Vector.empty) }

  def storedRows: Vector[ObjectNode] = stored.asScala.toVector

  def close(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS): Unit
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val op = currentOp
    try {
      val body = ex.getRequestBody.readAllBytes()
      requests.incrementAndGet()
      requestBytes.addAndGet(body.length.toLong)
      val stmt = mapper.readTree(body).at("/statements/0")
      val query = stmt.at("/statement").asText()
      val out = mapper.createObjectNode()
      val result = out.putArray("results").addObject()
      out.putArray("errors")
      val columns = result.putArray("columns")
      val data = result.putArray("data")
      val unwind = """(?is)^\s*UNWIND\s+\$(\w+)\s.*""".r
      query match {
        case unwind(param) =>
          val rows = stmt.at("/parameters/" + param)
          rows.elements().asScala.foreach(r => stored.add(r.asInstanceOf[ObjectNode]))
          rowsWritten.addAndGet(rows.size().toLong)
          sorted = ("", Vector.empty)
        case ReadQ(ret, key, skip, limit) =>
          val fields = ret.split(",").map(_.trim.stripPrefix("o."))
          fields.foreach(columns.add)
          val page = ordered(key).slice(skip.toInt, skip.toInt + limit.toInt)
          page.foreach { r =>
            val row = data.addObject().putArray("row")
            fields.foreach(f => row.add(r.get(f)))
          }
          rowsRead.addAndGet(page.size.toLong)
        case _ => throw new IllegalArgumentException(s"unsupported statement: $query")
      }
      val resp = mapper.writeValueAsBytes(out)
      responseBytes.addAndGet(resp.length.toLong)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, resp.length.toLong)
      ex.getResponseBody.write(resp)
    } catch {
      case e: Exception =>
        failed.incrementAndGet()
        System.err.println(s"[perfbench] stub request failed: $e")
        ex.sendResponseHeaders(400, -1)
    } finally {
      ex.close()
      val t1 = System.nanoTime()
      busyNs.addAndGet(t1 - t0)
      if (recordSpans) spans.add((op, t0, t1))
    }
  }

  private def ordered(key: String): Vector[ObjectNode] = synchronized {
    if (sorted._1 != key)
      sorted = (key, stored.asScala.toVector.sortBy(_.get(key).asLong()))
    sorted._2
  }
}
