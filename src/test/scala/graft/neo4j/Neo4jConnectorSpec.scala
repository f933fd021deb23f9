package graft.neo4j

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.TestSpark
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayInputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

/** Connector specs against an embedded HTTP server speaking the
  * transactional-endpoint protocol — the graft analog of the
  * reference's Neo4jFormatTest (which runs an embedded Neo4j).
  */
class Neo4jConnectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  // canned transactional response, shape as documented for
  // POST /db/data/transaction/commit
  private val cannedResponse =
    """{"results":[{"columns":["id","name","born","score","flag","missing"],
      |"data":[
      | {"row":[1,"Alice",1984,4.5,true,null]},
      | {"row":[2,"Bob",1976,3.25,false,null]},
      | {"row":[3,"Carol",1990,5.0,true,null]}
      |]}],"errors":[]}""".stripMargin

  private var server: HttpServer = _
  private var uri: String = _
  private val received = new ConcurrentLinkedQueue[String]()
  private val flakyFailures = new java.util.concurrent.atomic.AtomicInteger(0)
  private val flakyRequests = new java.util.concurrent.atomic.AtomicInteger(0)
  private val badreqRequests = new java.util.concurrent.atomic.AtomicInteger(0)
  private val amb500Requests = new java.util.concurrent.atomic.AtomicInteger(0)

  // paged and keyset endpoints: slice 25 canned rows by the appended
  // SKIP/LIMIT or by the graftAfter/graftUpper/graftPage WIRE
  // PARAMETERS (never spliced text) — a keyset page's work is
  // proportional to the page, not to any offset
  private var stub: StubEndpoint = _

  override def beforeAll(): Unit = {
    stub = new StubEndpoint
    server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/db/data/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        received.add(body)
        val resp = cannedResponse.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, resp.length.toLong)
        ex.getResponseBody.write(resp)
        ex.close()
      }
    })
    server.createContext("/broken/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.sendResponseHeaders(500, -1)
        ex.close()
      }
    })
    // flaky endpoint: 503 until `flakyFailures` hits 0, then the
    // canned result — exercises the retry loop's recovery path
    server.createContext("/flaky/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        flakyRequests.incrementAndGet()
        if (flakyFailures.getAndDecrement() > 0) {
          ex.sendResponseHeaders(503, -1)
          ex.close()
        } else {
          val resp = cannedResponse.getBytes(StandardCharsets.UTF_8)
          ex.getResponseHeaders.add("Content-Type", "application/json")
          ex.sendResponseHeaders(200, resp.length.toLong)
          ex.getResponseBody.write(resp)
          ex.close()
        }
      }
    })
    // ambiguous-failure endpoint: counts requests, always 500 — the
    // server may have committed before such a status (gateway case),
    // so non-idempotent writes must not replay against it
    server.createContext("/amb500/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        amb500Requests.incrementAndGet()
        ex.sendResponseHeaders(500, -1)
        ex.close()
      }
    })
    // client-error endpoint: 400 must never be retried
    server.createContext("/badreq/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        badreqRequests.incrementAndGet()
        ex.sendResponseHeaders(400, -1)
        ex.close()
      }
    })
    server.start()
    uri = s"http://localhost:${server.getAddress.getPort}/db/data/"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    if (stub != null) stub.stop()
  }

  test("row parser maps JSON scalar types like the reference") {
    val rows = Neo4jRowParser.parseRows(
      new ByteArrayInputStream(cannedResponse.getBytes(StandardCharsets.UTF_8))).toList
    assert(rows.length == 3)
    assert(rows.head.toSeq == Seq(1, "Alice", 1984, 4.5, true, null))
    assert(rows(1).toSeq == Seq(2, "Bob", 1976, 3.25, false, null))
  }

  test("row parser handles long-range ints") {
    val body = """{"results":[{"data":[{"row":[8589934592]}]}]}"""
    val rows = Neo4jRowParser.parseRows(
      new ByteArrayInputStream(body.getBytes(StandardCharsets.UTF_8))).toList
    assert(rows.head.toSeq == Seq(8589934592L))
  }

  test("reader fetches a Cypher result into a DataFrame") {
    val spark = TestSpark.spark
    val cfg = Neo4jConfig(uri, "MATCH (n:User) RETURN id(n), n.name, n.born")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("born", IntegerType), StructField("score", DoubleType),
      StructField("flag", BooleanType), StructField("missing", StringType)))
    val df = Neo4jReader.read(spark, cfg, schema)
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows.map(_.getString(1)).toSet == Set("Alice", "Bob", "Carol"))
    // the POST body carried the query in the transactional payload shape
    val sent = new com.fasterxml.jackson.databind.ObjectMapper().readTree(received.poll())
    assert(sent.at("/statements/0/statement").asText()
      == "MATCH (n:User) RETURN id(n), n.name, n.born")
    assert(sent.at("/statements/0/parameters").isObject)
  }

  test("typed reader yields a Dataset[T] with encoder-derived schema, fields bound by position") {
    val spark = TestSpark.spark
    import spark.implicits._
    val cfg = Neo4jConfig(uri,
      "MATCH (n:User) RETURN id(n), n.name, n.born, n.score, n.flag, n.note")
    val ds = Neo4jReader.readTyped[UserRow](spark, cfg)
    assert(ds.schema.fieldNames.toSeq ==
      Seq("id", "name", "born", "score", "flag", "note"))
    val rows = ds.collect().sortBy(_.id)
    assert(rows.map(_.name).toSeq == Seq("Alice", "Bob", "Carol"))
    assert(rows.head == UserRow(1, "Alice", 1984, 4.5, flag = true, None))
    assert(rows.forall(_.note.isEmpty)) // JSON null → None
    // typed operations compose directly on the Dataset
    assert(ds.filter(_.flag).map(_.score).collect().sorted.toSeq == Seq(4.5, 5.0))
  }

  test("reader surfaces non-200 as IOException (reference behavior)") {
    val cfg = Neo4jConfig(
      s"http://localhost:${server.getAddress.getPort}/broken/", "MATCH (n) RETURN n")
    val ex = intercept[java.io.IOException](
      Neo4jReader.read(TestSpark.spark, cfg,
        StructType(Seq(StructField("x", IntegerType)))))
    assert(ex.getMessage.contains("500"))
  }

  test("transient 503s are retried with backoff until success") {
    val base = s"http://localhost:${server.getAddress.getPort}/flaky/"
    flakyFailures.set(2); flakyRequests.set(0)
    val cfg = Neo4jConfig(base, "MATCH (n:User) RETURN id(n), n.name, n.born",
      retryBackoffMs = 1)
    val df = Neo4jReader.read(TestSpark.spark, cfg, StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("born", IntegerType), StructField("score", DoubleType),
      StructField("flag", BooleanType), StructField("missing", StringType))))
    assert(df.count() == 3) // two 503s absorbed, third attempt served
    assert(flakyRequests.get() == 3)
    // with retries disabled the first 503 is fatal
    flakyFailures.set(2); flakyRequests.set(0)
    val ex = intercept[java.io.IOException](
      Neo4jReader.read(TestSpark.spark, cfg.copy(maxRetries = 0),
        StructType(Seq(StructField("x", IntegerType)))))
    assert(ex.getMessage.contains("503") && flakyRequests.get() == 1)
  }

  test("4xx client errors fail fast, never retried") {
    val base = s"http://localhost:${server.getAddress.getPort}/badreq/"
    badreqRequests.set(0)
    val ex = intercept[java.io.IOException](
      Neo4jReader.read(TestSpark.spark,
        Neo4jConfig(base, "MATCH (n) RETURN n", retryBackoffMs = 1),
        StructType(Seq(StructField("x", IntegerType)))))
    assert(ex.getMessage.contains("400"))
    assert(badreqRequests.get() == 1, "a 400 must not be retried")
  }

  test("non-idempotent writes never replay an ambiguous failure") {
    // UNWIND…CREATE is not idempotent and the transactional endpoint
    // commits per request: a 500/502/504 (or a lost response) can
    // follow a committed transaction, so the writer must fail fast
    // instead of duplicating rows — exactly one POST despite
    // maxRetries=3.
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(("a", 1), ("b", 2)).toDF("name", "born").coalesce(1)
    val cfg = Neo4jConfig(
      s"http://localhost:${server.getAddress.getPort}/amb500/",
      "UNWIND $inserts AS i CREATE (a:User {name:i.name, born:i.born})",
      retryBackoffMs = 1)
    amb500Requests.set(0)
    val ex = intercept[org.apache.spark.SparkException](
      Neo4jWriter.write(df, cfg, Seq("name", "born")))
    assert(ex.getMessage.contains("500") ||
      Option(ex.getCause).exists(_.getMessage.contains("500")))
    assert(amb500Requests.get() == 1, "ambiguous 500 must not be replayed")
    // opting in (MERGE-style statements) restores at-least-once retry
    amb500Requests.set(0)
    intercept[org.apache.spark.SparkException](
      Neo4jWriter.write(df, cfg.copy(maxRetries = 1, idempotentWrites = true),
        Seq("name", "born")))
    assert(amb500Requests.get() == 2, "idempotent writes retry ambiguity")
  }

  test("writes still retry pre-processing rejections (503)") {
    // a 503 rejection precedes any transaction work, so even a
    // non-idempotent write may replay it safely
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(("a", 1)).toDF("name", "born").coalesce(1)
    flakyFailures.set(1); flakyRequests.set(0)
    Neo4jWriter.write(df,
      Neo4jConfig(s"http://localhost:${server.getAddress.getPort}/flaky/",
        "UNWIND $inserts AS i CREATE (a:User {name:i.name})",
        retryBackoffMs = 1),
      Seq("name", "born"))
    assert(flakyRequests.get() == 2) // one 503 absorbed, then success
  }

  test("writer batches per partition with bounded batch size") {
    received.clear()
    val spark = TestSpark.spark
    import spark.implicits._
    val df = (1 to 25).map(i => (s"user$i", 1980 + i)).toDF("name", "born")
      .repartition(2)
    val cfg = Neo4jConfig(uri,
      "UNWIND $inserts AS i CREATE (a:User {name:i.name, born:i.born})")
    Neo4jWriter.write(df, cfg, Seq("name", "born"), batchSize = 10)
    val bodies = Iterator.continually(received.poll()).takeWhile(_ != null).toList
    // 25 rows over 2 partitions with batchSize 10 → 4 POSTs (2+2 per partition)
    assert(bodies.length == 4)
    val allRows = bodies.flatMap(b =>
      """\{"name":"user\d+","born":\d+\}""".r.findAllIn(b).toList)
    assert(allRows.length == 25)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    bodies.foreach { b =>
      val tree = mapper.readTree(b)
      assert(tree.at("/statements/0/statement").asText()
        .startsWith("UNWIND $inserts AS i CREATE"))
      assert(tree.at("/statements/0/parameters/inserts").isArray)
      assert(tree.at("/statements/0/parameters/inserts").size() <= 10)
    }
  }

  test("writer handles update-style payloads with mixed value types") {
    // mirrors the reference's updateTest (Neo4jOutputTest.java:78):
    // UNWIND $updates MATCH … SET with (string, int, double, boolean)
    // tuples — booleans and doubles must serialize as JSON scalars,
    // not quoted strings, for the server to apply typed properties
    received.clear()
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(
      ("Alice", 42, 1.74, false),
      ("Bob", 75, 1.82, true)).toDF("name", "weight", "height", "trust")
      .coalesce(1)
    val cfg = Neo4jConfig(uri,
      "UNWIND $updates AS u MATCH (p) WHERE p.name = u.name " +
      "SET p.weight = u.weight, p.height = u.height, p.trust = u.trust")
    Neo4jWriter.write(df, cfg, Seq("name", "weight", "height", "trust"),
      batchSize = 10)
    val body = received.poll()
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    val arr = tree.at("/statements/0/parameters/updates")
    assert(arr.isArray && arr.size() == 2)
    val alice = (0 until 2).map(arr.get)
      .find(_.get("name").asText() == "Alice").get
    assert(alice.get("weight").isIntegralNumber && alice.get("weight").asInt() == 42)
    assert(alice.get("height").isFloatingPointNumber
      && alice.get("height").asDouble() == 1.74)
    assert(alice.get("trust").isBoolean && !alice.get("trust").asBoolean())
  }

  test("partitioned reader pages the full result exactly once") {
    val spark = TestSpark.spark
    val cfg = Neo4jConfig(s"${stub.base}/paged/",
      "MATCH (n:User) RETURN id(n), n.name ORDER BY id(n)")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))
    val df = Neo4jReader.readPartitioned(spark, cfg, schema,
      numPartitions = 3, pageSize = 4)
    val ids = df.collect().map(_.getInt(0)).sorted
    assert(ids.toSeq == (1 to 25))
    // a query carrying its own pagination must be rejected, not
    // silently double-paginated
    assertThrows[IllegalArgumentException](Neo4jReader.readPartitioned(
      spark, cfg.copy(query = cfg.query + " LIMIT 10"), schema))
  }

  test("keyset reader covers the key domain exactly once with no offsets") {
    stub.drain()
    val spark = TestSpark.spark
    val cfg = Neo4jConfig(s"${stub.base}/keyset/",
      "MATCH (n:User) WHERE id(n) > $graftAfter AND id(n) <= $graftUpper " +
        "RETURN id(n) AS id, n.name ORDER BY id LIMIT $graftPage")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))
    val df = Neo4jReader.readKeyset(spark, cfg, schema,
      bounds = (0L, 25L), keyIndex = 0, numPartitions = 3, pageSize = 4)
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == (1 to 25))
    // every POST paged by key predicate — no SKIP anywhere on the wire
    val bodies = stub.drain()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(bodies.nonEmpty)
    bodies.foreach { b =>
      val tree = mapper.readTree(b)
      assert(!tree.at("/statements/0/statement").asText().contains("SKIP"))
      assert(tree.at("/statements/0/parameters/graftAfter").isNumber)
    }
    // a query that never references the wire parameters would silently
    // return the same unbounded result per page — refuse loudly
    assertThrows[IllegalArgumentException](Neo4jReader.readKeyset(
      spark, cfg.copy(query = "MATCH (n) RETURN id(n)"), schema, bounds = (0L, 25L)))
  }

  test("payload batches cap rows per POST even for fully-dense keys") {
    val spark = TestSpark.spark
    import spark.implicits._
    // worst case for key-range batching: every key in 1..1000 present,
    // so range 0 alone would hold 399 rows without the cap
    val dense = (1 to 1000).map(i => (i.toLong, "O")).toDF("o_orderkey", "o_orderstatus")
    val batches = CypherPayload.payloadBatches(dense, keyRange = 400, rowCap = 100)
      .collect()
    assert(batches.map(_.getLong(2)).max <= 100, "a batch exceeded rowCap")
    assert(batches.map(_.getLong(2)).sum == 1000, "rows lost or duplicated")
    // range 0 covers keys 1..399 → sub-batches of 100,100,100,99
    val range0 = batches.filter(_.getLong(0) == 0L).map(_.getLong(2)).toSeq
    assert(range0 == Seq(100L, 100L, 100L, 99L))
    // each payload is valid JSON with exactly n_rows elements
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    batches.foreach { b =>
      val tree = mapper.readTree(b.getString(3))
      assert(tree.at("/statements/0/parameters/inserts").size() == b.getLong(2))
    }
  }

  test("config validation mirrors the reference builder") {
    assertThrows[IllegalArgumentException](Neo4jConfig("", "MATCH (n) RETURN n"))
    assertThrows[IllegalArgumentException](Neo4jConfig("http://x/", ""))
    assertThrows[IllegalArgumentException](
      CypherPayload.parameterName("CREATE (a:User)"))
    assert(CypherPayload.parameterName("UNWIND $rows AS r CREATE (a)") == "rows")
    assert(CypherPayload.parameterName("UNWIND {rows} AS r CREATE (a)") == "rows")
    // multi-line queries match; mismatched brace forms are rejected
    assert(CypherPayload.parameterName("UNWIND $rows AS r\nCREATE (a)") == "rows")
    assertThrows[IllegalArgumentException](
      CypherPayload.parameterName("UNWIND {rows AS r CREATE (a)"))
  }

  test("row parser rejects array and object cells (reference behavior)") {
    def parse(body: String) = Neo4jRowParser.parseRows(
      new ByteArrayInputStream(body.getBytes(StandardCharsets.UTF_8))).toList
    // a silently skipped array cell would shift all later columns
    assertThrows[IllegalArgumentException](
      parse("""{"results":[{"data":[{"row":[1,[2,3],4]}]}]}"""))
    assertThrows[IllegalArgumentException](
      parse("""{"results":[{"data":[{"row":[1,{"a":2}]}]}]}"""))
  }

  test("statement payloads stay valid JSON for hostile query text") {
    val q = "MATCH (n) WHERE n.name = \"x\\y\nz\" RETURN n"
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(CypherPayload.statementJson(q))
    assert(tree.at("/statements/0/statement").asText() == q)
  }
}

/** Typed row for the readTyped spec — field ORDER mirrors the RETURN
  * clause (positional binding), names become the Dataset columns.
  */
case class UserRow(id: Int, name: String, born: Int, score: Double,
    flag: Boolean, note: Option[String])
