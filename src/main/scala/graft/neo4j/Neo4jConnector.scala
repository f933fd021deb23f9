package graft.neo4j

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import graft.neo4j.Neo4jConfig.TransactionUri
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.types._
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** Connection settings for a Neo4j transactional HTTP endpoint —
  * graft's equivalent of the reference's builder surface
  * (Neo4jFormatBase.Builder: restURI, cypher query, username,
  * password, connect/read timeouts; validation at
  * Neo4jFormatBase.java:180-195).
  */
final case class Neo4jConfig(
    restUri: String,
    query: String,
    username: Option[String] = None,
    password: Option[String] = None,
    connectTimeoutMs: Int = 1000,
    readTimeoutMs: Int = 1000,
    maxRetries: Int = 3,
    retryBackoffMs: Int = 100,
    idempotentWrites: Boolean = false) {
  require(restUri != null && restUri.nonEmpty, "No Rest URI was supplied.")
  require(query != null && query.nonEmpty, "No Cypher statement was supplied.")
  require(maxRetries >= 0, "maxRetries must be >= 0")
  require(retryBackoffMs >= 0, "retryBackoffMs must be >= 0")

  def endpoint: String =
    (if (restUri.endsWith("/")) restUri else restUri + "/") + TransactionUri

  def authHeader: Option[String] = for (u <- username; p <- password) yield {
    "Basic " + java.util.Base64.getEncoder
      .encodeToString(s"$u:$p".getBytes("UTF-8"))
  }
}

object Neo4jConfig {
  /** Appended to the rest URI for transactional queries (mirrors
    * Neo4jFormatBase.TRANSACTION_URI).
    */
  val TransactionUri = "transaction/commit"
}

/** HTTP plumbing shared by reader and writer. */
private[neo4j] object Http {
  def client(cfg: Neo4jConfig): HttpClient =
    HttpClient.newBuilder()
      .connectTimeout(Duration.ofMillis(cfg.connectTimeoutMs.toLong))
      .build()

  /** Statuses safe to retry for ANY payload: the server (429
    * rate-limit) or its front proxy (503 unavailable) rejected the
    * request before processing it, so nothing can have committed.
    * 4xx client errors (bad query, auth) fail fast.
    */
  private val AlwaysRetryable = Set(429, 503)

  /** Statuses retryable only for replay-safe payloads: a 500, or a
    * gateway's 502/504, can arrive AFTER the backend committed the
    * transaction (the transactional endpoint commits per request), so
    * replaying a non-idempotent write here could duplicate rows.
    */
  private val AmbiguousRetryable = Set(500, 502, 504)

  /** Non-200 response, distinguishable by TYPE from transport
    * IOExceptions in the retry loop (message text can be null on
    * transport errors, so string matching is unsafe).
    */
  private final class StatusException(val status: Int)
    extends java.io.IOException(s"Server returned status [$status]")

  /** POST with bounded deterministic exponential backoff (base ×2 per
    * attempt, no jitter — reproducible tests beat decorrelation at
    * this fan-in), up to `cfg.maxRetries` times.
    *
    * `replaySafe = false` (the writer's default — UNWIND…CREATE is
    * not idempotent) narrows retries to failures that PRECEDE the
    * request reaching the server: connect-phase exceptions and
    * [[AlwaysRetryable]] statuses. Ambiguous failures — an IOException
    * after the request was sent (response lost mid-read) or an
    * [[AmbiguousRetryable]] gateway status — fail fast instead of
    * silently duplicating committed work; opting in via
    * `Neo4jConfig.idempotentWrites` (for MERGE-style statements)
    * restores full at-least-once retries.
    */
  def post(cfg: Neo4jConfig, payload: String,
      replaySafe: Boolean = true): HttpResponse[java.io.InputStream] = {
    var attempt = 0
    while (true) {
      val outcome: Either[Throwable, HttpResponse[java.io.InputStream]] =
        try {
          val b = HttpRequest.newBuilder(URI.create(cfg.endpoint))
            .timeout(Duration.ofMillis(cfg.readTimeoutMs.toLong))
            .header("Content-Type", "application/json;charset=UTF-8")
            .header("Accept", "application/json")
            .header("X-Stream", "true")
            .POST(HttpRequest.BodyPublishers.ofString(payload))
          cfg.authHeader.foreach(a => b.header("Authorization", a))
          val resp = client(cfg).send(b.build(),
            HttpResponse.BodyHandlers.ofInputStream())
          if (resp.statusCode() == 200) Right(resp)
          else {
            try resp.body().close() catch { case _: java.io.IOException => () }
            val e = new StatusException(resp.statusCode())
            val retriable = AlwaysRetryable(resp.statusCode()) ||
              (replaySafe && AmbiguousRetryable(resp.statusCode()))
            if (retriable) Left(e) else throw e
          }
        } catch {
          // typed guards, not message matching — transports raise
          // IOExceptions with null messages (e.g. a closed keep-alive
          // channel); a non-retryable status was thrown above and
          // propagates unchanged
          case se: StatusException => throw se
          // connect-phase failures: the request never reached the
          // server, so a replay can't duplicate anything
          case ce: java.net.ConnectException => Left(ce)
          case ct: java.net.http.HttpConnectTimeoutException => Left(ct)
          case io: java.io.IOException =>
            // sent-but-ambiguous (reset / read timeout mid-response):
            // the server may have committed before the response died
            if (replaySafe) Left(io) else throw io
        }
      outcome match {
        case Right(resp) => return resp
        case Left(e) =>
          if (attempt >= cfg.maxRetries) throw e
          Thread.sleep(cfg.retryBackoffMs.toLong << attempt)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** One partition of a read: partition `index` of a `pages` read, or the
  * key range `(rangeLo, rangeHi]` of a `keyset` read.
  */
private[neo4j] final case class Neo4jInputPartition(
    index: Int, rangeLo: Long, rangeHi: Long) extends InputPartition

/** How a read splits into requests — the one implementation under
  * both [[Neo4jReader]] and the `graft-neo4j` format. `Single` is one
  * request; `Pages` appends SKIP/LIMIT windows, page k of partition p
  * being page p + k·numPartitions; `Keyset` splits the key domain
  * `(lo, hi]` into contiguous ranges, each walked with the last-seen
  * key carried forward as a wire parameter. Every partition stops
  * after its first short page.
  */
private[neo4j] sealed trait Neo4jRead extends Serializable {
  def numPartitions: Int
  def pageSize: Int

  /** Refuses, before any request, a query this mode would read wrongly. */
  def validate(cfg: Neo4jConfig): Unit = {
    require(numPartitions >= 1 && pageSize >= 1, "bad partitioning")
    this match {
      case Neo4jRead.Single => ()
      case _: Neo4jRead.Pages =>
        // appending our own window onto a query that already paginates
        // would silently return the wrong subset, and without an ORDER
        // BY separate page requests may overlap or skip rows
        require(!"""(?is).*\b(SKIP|LIMIT)\s+\d+\s*$""".r.matches(cfg.query),
          "pages mode appends SKIP/LIMIT; the query must not end with its own")
        require("""(?is).*\bORDER\s+BY\b.*""".r.matches(cfg.query),
          "pages mode needs a deterministic ORDER BY to split the result exactly")
      case Neo4jRead.Keyset(lo, hi, _, _, _) =>
        Seq(Neo4jReader.KeysetAfter, Neo4jReader.KeysetUpper, Neo4jReader.KeysetPage)
          .foreach(p => require(cfg.query.contains("$" + p),
            s"keyset query must reference $$$p (wire parameter)"))
        require(lo <= hi, s"empty key domain ($lo, $hi]")
    }
  }

  /** The partitions to read, one task each; keyset ranges tile
    * `(lo, hi]` with the remainder spread over the first ranges, and
    * empty ranges are dropped.
    */
  def partitions: Seq[Neo4jInputPartition] = this match {
    case Neo4jRead.Single => Seq(Neo4jInputPartition(0, 0L, 0L))
    case _: Neo4jRead.Pages => (0 until numPartitions).map(Neo4jInputPartition(_, 0L, 0L))
    case Neo4jRead.Keyset(lo, hi, _, n, _) =>
      val span = hi - lo
      (0 until n).map(p => Neo4jInputPartition(p,
        lo + span / n * p + math.min(p.toLong, span % n),
        lo + span / n * (p + 1) + math.min(p + 1L, span % n)))
        .filter(r => r.rangeLo < r.rangeHi)
  }

  /** The request body for page `k` of partition `p`; `after` is the
    * last key read (keyset only).
    */
  private def payload(query: String, p: Neo4jInputPartition, k: Int, after: Long): String =
    this match {
      case Neo4jRead.Single => CypherPayload.statementJson(query)
      case Neo4jRead.Pages(n, size) => CypherPayload.statementJson(
        s"$query SKIP ${(p.index.toLong + k.toLong * n) * size} LIMIT $size")
      case Neo4jRead.Keyset(_, _, _, _, size) =>
        val nodes = JsonNodeFactory.instance
        CypherPayload.statementJson(query, Map(
          Neo4jReader.KeysetAfter -> nodes.numberNode(after),
          Neo4jReader.KeysetUpper -> nodes.numberNode(p.rangeHi),
          Neo4jReader.KeysetPage -> nodes.numberNode(size)))
    }

  /** The rows of partition `p`, fetched page by page as they are consumed. */
  def rows(cfg: Neo4jConfig, schema: StructType, p: Neo4jInputPartition): Iterator[Seq[Any]] = {
    var more = true
    var after = p.rangeLo
    Iterator.from(0).takeWhile(_ => more).flatMap { k =>
      val page = Neo4jRead.fetch(cfg, payload(cfg.query, p, k, after), schema)
      more = page.size >= pageSize
      this match {
        case Neo4jRead.Keyset(_, _, i, _, _) if more => after = page.last(i) match {
          case n: Number => n.longValue()
          case other => throw new java.io.IOException(
            s"keyset column $i must be integral, got $other")
        }
        case _ => ()
      }
      page
    }
  }

  /** The read as a DataFrame over an RDD with one task per partition. */
  def dataFrame(spark: SparkSession, cfg: Neo4jConfig, schema: StructType): DataFrame = {
    validate(cfg)
    val rdd = spark.sparkContext.parallelize(partitions, numPartitions)
      .flatMap(p => rows(cfg, schema, p).map(Row.fromSeq))
    spark.createDataFrame(rdd, schema)
  }
}

private[neo4j] object Neo4jRead {
  case object Single extends Neo4jRead {
    val numPartitions = 1
    val pageSize = Int.MaxValue // the one page is always the last
  }
  final case class Pages(numPartitions: Int, pageSize: Int) extends Neo4jRead
  final case class Keyset(lo: Long, hi: Long, keyIndex: Int,
      numPartitions: Int, pageSize: Int) extends Neo4jRead

  /** One request: post, parse the streamed rows, align them with the
    * schema, close the body.
    */
  def fetch(cfg: Neo4jConfig, payload: String, schema: StructType): Vector[Seq[Any]] = {
    val resp = Http.post(cfg, payload)
    try Neo4jRowParser.parseRows(resp.body()).map(coerce(_, schema)).toVector
    finally resp.body().close()
  }

  /** Aligns parsed JSON scalars with the declared column types (the
    * reference relies on Flink tuple field types the same way).
    */
  private def coerce(values: Array[Any], schema: StructType): Seq[Any] =
    values.toSeq.zip(schema.fields).map {
      case (null, _) => null
      case (v: Number, f) => f.dataType match {
        case IntegerType => v.intValue()
        case LongType    => v.longValue()
        case DoubleType  => v.doubleValue()
        case FloatType   => v.floatValue()
        case _           => v
      }
      case (v, _) => v
    }
}

/** Reads a Cypher query result from a Neo4j transactional endpoint
  * into a DataFrame — the Spark twin of Neo4jInputFormat.
  *
  * [[read]] fetches once on the driver (the endpoint is a single
  * server — same NonParallelInput constraint as the reference,
  * Neo4jInputFormat.java:40) and parallelizes the rows, so all
  * downstream processing distributes. For graph-scale data the native
  * path is GraphLoader + CypherPlanner, which never funnels through a
  * socket.
  */
object Neo4jReader {

  def read(spark: SparkSession, cfg: Neo4jConfig, schema: StructType): DataFrame = {
    val rows = Neo4jRead.fetch(cfg, CypherPayload.statementJson(cfg.query), schema)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq), math.max(1, rows.size / 10000)),
      schema)
  }

  /** Typed read — the Spark counterpart of the reference's typed
    * tuple emission (Neo4jInputFormat is generic in a Flink tuple
    * type; here the case class's Encoder derives the expected schema
    * AND the row mapping). Columns bind by POSITION like the
    * reference's tuple fields: the i-th RETURN expression feeds the
    * i-th case-class field; the encoder's field names become the
    * column names.
    */
  def readTyped[T <: Product](spark: SparkSession, cfg: Neo4jConfig)(
      implicit enc: org.apache.spark.sql.Encoder[T]): org.apache.spark.sql.Dataset[T] =
    read(spark, cfg, enc.schema).as[T](enc)

  /** Parallel paginated read: partition `p` of `numPartitions` fetches
    * pages p, p+numPartitions, … of `pageSize` rows by appending
    * `SKIP/LIMIT` to the query, stopping after its first short page.
    * The reference input format is explicitly single-split
    * (NonParallelInput, Neo4jInputFormat.java:40) — this spreads the
    * wire transfer and JSON parsing across executor tasks instead of
    * funnelling everything through one socket on the driver. The query
    * must have a deterministic ORDER BY for pagination to partition
    * the result exactly; a query without one is refused.
    */
  def readPartitioned(spark: SparkSession, cfg: Neo4jConfig, schema: StructType,
      numPartitions: Int = 4, pageSize: Int = 10000): DataFrame =
    Neo4jRead.Pages(numPartitions, pageSize).dataFrame(spark, cfg, schema)

  /** Parameter names a keyset query must embed (wire parameters in
    * the transactional payload, never spliced into query text).
    */
  val KeysetAfter = "graftAfter"
  val KeysetUpper = "graftUpper"
  val KeysetPage = "graftPage"

  /** Keyset-paginated parallel read — the scale-safe alternative to
    * [[readPartitioned]]'s SKIP/LIMIT pages, whose server-side cost is
    * O(offset) per page (deep pages of a large result degrade
    * quadratically). A keyset page costs O(log n + pageSize) on an
    * indexed key regardless of page index.
    *
    * The key domain `(bounds._1, bounds._2]` splits into
    * `numPartitions` contiguous ranges; each executor task pages its
    * range with the last-seen key carried forward. The query embeds
    * the three pagination parameters itself — they travel as
    * transactional-payload parameters, so no text is ever spliced:
    *
    * {{{
    * MATCH (n:User) WHERE id(n) > $graftAfter AND id(n) <= $graftUpper
    * RETURN id(n) AS id, n.name ORDER BY id LIMIT $graftPage
    * }}}
    *
    * The key must be the ascending ORDER BY column, returned at
    * `keyIndex`, integral, and unique (a run of equal keys split
    * across a page boundary would drop rows). Probe `bounds` with a
    * cheap `RETURN min(key)-1, max(key)` through [[read]]. (Reference
    * contrast: Neo4jInputFormat is single-split by design —
    * NonParallelInput, Neo4jInputFormat.java:40.)
    */
  def readKeyset(spark: SparkSession, cfg: Neo4jConfig, schema: StructType,
      bounds: (Long, Long), keyIndex: Int = 0,
      numPartitions: Int = 4, pageSize: Int = 10000): DataFrame =
    Neo4jRead.Keyset(bounds._1, bounds._2, keyIndex, numPartitions, pageSize)
      .dataFrame(spark, cfg, schema)
}

/** Rows → `UNWIND $param` payloads of at most `batchSize` rows, each
  * posted as it fills: the one batcher under [[Neo4jWriter]] and the
  * `graft-neo4j` batch and streaming sinks. Field i of a row becomes
  * key i of its UNWIND element; `extraParams` ride along in every
  * payload (the streaming epoch).
  */
private[neo4j] final class UnwindBatcher(cfg: Neo4jConfig, keys: Seq[String],
    batchSize: Int, extraParams: Map[String, JsonNode] = Map.empty) {
  private val param = CypherPayload.parameterName(cfg.query)
  private var batch = JsonNodeFactory.instance.arrayNode()

  def add(row: Row): Unit = {
    val node = batch.addObject()
    keys.zipWithIndex.foreach { case (key, i) =>
      row.get(i) match {
        case null       => node.putNull(key)
        case b: Boolean => node.put(key, b)
        case x: Int     => node.put(key, x)
        case x: Long    => node.put(key, x)
        case x: Float   => node.put(key, x)
        case x: Double  => node.put(key, x)
        case s: String  => node.put(key, s)
        case other => throw new java.io.IOException(
          s"Unsupported field type for value: $other (field $i, key $key)")
      }
    }
    if (batch.size() >= batchSize) flush()
  }

  // whole payload built by jackson (query text AND parameter rows),
  // so no hand-spliced JSON anywhere on the wire path
  def flush(): Unit = if (batch.size() > 0) {
    Http.post(cfg, CypherPayload.statementJson(cfg.query, extraParams + (param -> batch)),
      replaySafe = cfg.idempotentWrites).body().close()
    batch = JsonNodeFactory.instance.arrayNode()
  }
}

/** Writes a DataFrame to Neo4j as batched `UNWIND $param` statements —
  * the Spark twin of Neo4jOutputFormat: per-partition accumulation
  * with bounded batch size and a final flush on partition end
  * (Neo4jOutputFormat.java:104-116, writeRecord/close), executed in
  * parallel across partitions like the reference's parallel tasks.
  */
object Neo4jWriter {

  def write(df: DataFrame, cfg: Neo4jConfig, parameterKeys: Seq[String],
      batchSize: Int = 1000): Unit = {
    require(parameterKeys.nonEmpty, "No parameter keys were supplied.")
    CypherPayload.parameterName(cfg.query) // a non-UNWIND statement fails here, not per task
    df.foreachPartition { (rows: Iterator[Row]) =>
      val batcher = new UnwindBatcher(cfg, parameterKeys, batchSize)
      rows.foreach(batcher.add)
      batcher.flush()
    }
  }
}
