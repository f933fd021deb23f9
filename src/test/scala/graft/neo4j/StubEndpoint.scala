package graft.neo4j

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

/** An in-process transactional endpoint for the connector specs. It
  * records every request body in `received` and serves keys 1..25 as
  * rows `[i, "name<i>"]`:
  *
  *  - `/paged/` slices them by the SKIP/LIMIT appended to the statement;
  *  - `/keyset/` slices them by the graftAfter/graftUpper/graftPage
  *    wire parameters;
  *  - `/stream/` is an append-only store of keys 1..`streamMax`: a
  *    `max(` statement returns the high-water key, any other statement
  *    slices like `/keyset/`;
  *  - `/write/` returns an empty result.
  */
final class StubEndpoint {
  val received = new ConcurrentLinkedQueue[String]()
  @volatile var streamMax = 10
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress(0), 0)

  private def row(i: Int) = s"""{"row":[$i,"name$i"]}"""
  private def result(rows: Seq[String]): String =
    s"""{"results":[{"columns":["id","name"],"data":[${rows.mkString(",")}]}],"errors":[]}"""
  private def keyset(params: com.fasterxml.jackson.databind.JsonNode, max: Int): String = {
    val (after, upper) = (params.get("graftAfter").asLong(), params.get("graftUpper").asLong())
    result((1 to max).filter(i => i > after && i <= upper)
      .take(params.get("graftPage").asInt()).map(row))
  }
  private def context(path: String)(respond: com.fasterxml.jackson.databind.JsonNode => String): Unit =
    server.createContext(path, new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        received.add(body)
        val resp = respond(mapper.readTree(body)).getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, resp.length.toLong)
        ex.getResponseBody.write(resp)
        ex.close()
      }
    })

  context("/paged/") { tree =>
    val m = """.*SKIP (\d+) LIMIT (\d+)""".r
    tree.at("/statements/0/statement").asText() match {
      case m(skip, limit) => result((1 to 25).slice(skip.toInt, skip.toInt + limit.toInt).map(row))
      case _              => result((1 to 25).map(row))
    }
  }
  context("/keyset/")(tree => keyset(tree.at("/statements/0/parameters"), 25))
  context("/stream/") { tree =>
    if (tree.at("/statements/0/statement").asText().contains("max("))
      s"""{"results":[{"columns":["k"],"data":[{"row":[$streamMax]}]}],"errors":[]}"""
    else keyset(tree.at("/statements/0/parameters"), streamMax)
  }
  context("/write/")(_ => """{"results":[],"errors":[]}""")
  server.start()

  /** The base URL; append a context path for a `url` option. */
  val base = s"http://localhost:${server.getAddress.getPort}"

  /** The recorded request bodies, cleared. */
  def drain(): List[String] =
    Iterator.continually(received.poll()).takeWhile(_ != null).toList

  def stop(): Unit = server.stop(0)
}
