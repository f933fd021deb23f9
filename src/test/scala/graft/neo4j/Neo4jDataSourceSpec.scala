package graft.neo4j

import graft.TestSpark
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The DataSource V2 surface (`spark.read.format("graft-neo4j")`)
  * against the in-process stub transactional endpoint.
  */
class Neo4jDataSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var stub: StubEndpoint = _
  private var base: String = _
  private def received = stub.received
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  override def beforeAll(): Unit = {
    stub = new StubEndpoint
    base = stub.base
  }
  override def afterAll(): Unit = if (stub != null) stub.stop()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  test("format read in single mode fetches once, in one partition") {
    received.clear()
    val df = TestSpark.spark.read.format("graft-neo4j").schema(schema)
      .option("url", s"$base/paged/")
      .option("query", "MATCH (n) RETURN id(n), n.name ORDER BY id(n)")
      .load()
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 25)
    assert(received.size == 1)
  }

  test("pages mode spreads SKIP/LIMIT pages across partitions") {
    received.clear()
    val df = TestSpark.spark.read.format("graft-neo4j").schema(schema)
      .option("url", s"$base/paged/")
      .option("query", "MATCH (n) RETURN id(n), n.name ORDER BY id(n)")
      .option("mode", "pages")
      .option("numPartitions", "3").option("pageSize", "4")
      .load()
    assert(df.rdd.getNumPartitions == 3)
    val ids = df.collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (1L to 25L))
  }

  test("keyset mode walks disjoint key ranges via wire parameters") {
    received.clear()
    val df = TestSpark.spark.read.format("graft-neo4j").schema(schema)
      .option("url", s"$base/keyset/")
      .option("query", "MATCH (n) WHERE id(n) > $graftAfter AND id(n) <= $graftUpper " +
        "RETURN id(n), n.name ORDER BY id(n) LIMIT $graftPage")
      .option("mode", "keyset")
      .option("numPartitions", "4").option("pageSize", "5")
      .option("keysetLo", "0").option("keysetHi", "25")
      .load()
    assert(df.rdd.getNumPartitions == 4)
    val ids = df.collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (1L to 25L))
  }

  /** The message of the IllegalArgumentException a format read with
    * `options` raises; the check must come before any request.
    */
  private def rejection(options: (String, String)*): String = {
    received.clear()
    val e = intercept[IllegalArgumentException](
      TestSpark.spark.read.format("graft-neo4j").schema(schema)
        .options(options.toMap).load().collect())
    assert(received.isEmpty)
    e.getMessage
  }

  test("format reader refuses a self-paged query, a keyset query without its parameters, an empty key domain and an unknown mode") {
    val url = "url" -> s"$base/keyset/"
    val keysetQuery = "MATCH (n) WHERE id(n) > $graftAfter AND id(n) <= $graftUpper " +
      "RETURN id(n), n.name ORDER BY id(n) LIMIT $graftPage"
    assert(rejection(url, "mode" -> "pages",
      "query" -> "MATCH (n) RETURN id(n), n.name ORDER BY id(n) LIMIT 10")
      .contains("must not end with its own"))
    assert(rejection(url, "mode" -> "keyset",
      "query" -> keysetQuery.replace("$graftAfter", "0")).contains("$graftAfter"))
    assert(rejection(url, "mode" -> "keyset", "query" -> keysetQuery,
      "keysetLo" -> "25", "keysetHi" -> "0").contains("empty key domain"))
    assert(rejection(url, "mode" -> "bogus", "query" -> keysetQuery)
      .contains("unknown mode 'bogus'"))
  }

  test("a pages read without ORDER BY is refused on both surfaces") {
    val query = "MATCH (n) RETURN id(n), n.name"
    assert(rejection("url" -> s"$base/paged/", "query" -> query, "mode" -> "pages")
      .contains("ORDER BY"))
    val e = intercept[IllegalArgumentException](Neo4jReader.readPartitioned(
      TestSpark.spark, Neo4jConfig(s"$base/paged/", query), schema))
    assert(e.getMessage.contains("ORDER BY") && received.isEmpty)
  }

  test("read without a schema fails with a clear message") {
    val e = intercept[IllegalArgumentException](
      TestSpark.spark.read.format("graft-neo4j")
        .option("url", s"$base/paged/").option("query", "MATCH (n) RETURN n")
        .load())
    assert(e.getMessage.contains("schema"))
  }

  test("format write batches rows into UNWIND payloads") {
    received.clear()
    val spark = TestSpark.spark
    import spark.implicits._
    val df = (1 to 7).map(i => (i.toLong, s"u$i")).toDF("id", "name")
      .coalesce(1)
    df.write.format("graft-neo4j").mode("append")
      .option("url", s"$base/write/")
      .option("query", "UNWIND $rows AS r CREATE (n:User {id: r.id, name: r.name})")
      .option("batchSize", "3")
      .save()
    // 7 rows at batchSize 3 → 3 payloads (3+3+1)
    assert(received.size == 3)
    val batches = received.toArray(Array.empty[String]).map(mapper.readTree)
    assert(batches.forall(_.at("/statements/0/statement").asText().startsWith("UNWIND")))
    val sizes = batches.map(_.at("/statements/0/parameters/rows").size()).sorted
    assert(sizes.toSeq == Seq(1, 3, 3))
    val names = batches.flatMap { b =>
      val arr = b.at("/statements/0/parameters/rows")
      (0 until arr.size()).map(arr.get(_).get("name").asText())
    }
    assert(names.toSet == (1 to 7).map(i => s"u$i").toSet)
  }

  test("streaming keyset tail reads each appended key range exactly once") {
    received.clear()
    stub.streamMax = 10
    val spark = TestSpark.spark
    val df = spark.readStream.format("graft-neo4j").schema(schema)
      .option("url", s"$base/stream/")
      .option("query", "MATCH (n) WHERE id(n) > $graftAfter AND id(n) <= $graftUpper " +
        "RETURN id(n), n.name ORDER BY id(n) LIMIT $graftPage")
      .option("mode", "keyset")
      .option("maxKeyQuery", "MATCH (n) RETURN max(id(n))")
      .option("numPartitions", "2").option("pageSize", "4")
      .load()
    val q = df.writeStream.format("memory").queryName("neotail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val first = spark.table("neotail").collect().map(_.getLong(0)).sorted
      assert(first.toSeq == (1L to 10L))
      // the store grows; the next microbatches read ONLY the delta
      stub.streamMax = 25
      q.processAllAvailable()
      val all = spark.table("neotail").collect().map(_.getLong(0)).sorted
      assert(all.toSeq == (1L to 25L), s"appended rows must arrive exactly once")
      // high-water polls go through the max() statement; data fetches
      // carry the keyset wire parameters
      val stmts = received.toArray(Array.empty[String])
        .map(mapper.readTree(_).at("/statements/0/statement").asText())
      assert(stmts.exists(_.contains("max(")) &&
        stmts.exists(_.contains("$graftAfter")))
    } finally q.stop()
  }

  test("streaming tail resumes from the checkpoint after a restart") {
    stub.streamMax = 8
    val spark = TestSpark.spark
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-neo4j-ckpt").toString
    // the memory sink refuses checkpoint recovery; foreachBatch is
    // the recoverable sink shape — each run appends into its own
    // driver-side buffer
    def start(buf: ConcurrentLinkedQueue[Long]) =
      spark.readStream.format("graft-neo4j")
        .schema(schema)
        .option("url", s"$base/stream/")
        .option("query", "MATCH (n) WHERE id(n) > $graftAfter AND id(n) <= $graftUpper " +
          "RETURN id(n), n.name ORDER BY id(n) LIMIT $graftPage")
        .option("mode", "keyset")
        .option("maxKeyQuery", "MATCH (n) RETURN max(id(n))")
        .option("numPartitions", "2").option("pageSize", "4")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => buf.add(r.getLong(0)))
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
    val got1 = new ConcurrentLinkedQueue[Long]()
    val q1 = start(got1)
    try {
      q1.processAllAvailable()
      assert(got1.size == 8)
    } finally q1.stop()
    // the store grows while the query is DOWN; the restarted query
    // must resume from the checkpointed offset and read only the delta
    stub.streamMax = 14
    val got2 = new ConcurrentLinkedQueue[Long]()
    val q2 = start(got2)
    try {
      q2.processAllAvailable()
      val ids = got2.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted
      assert(ids.toSeq == (9L to 14L),
        s"restart must read only keys 9..14, got ${ids.toSeq}")
    } finally q2.stop()
  }

  test("streaming without maxKeyQuery or with a non-keyset mode fails") {
    val spark = TestSpark.spark
    val e1 = intercept[Exception] {
      spark.readStream.format("graft-neo4j").schema(schema)
        .option("url", s"$base/stream/")
        .option("query", "MATCH (n) WHERE id(n) > $graftAfter AND id(n) <= $graftUpper " +
          "RETURN id(n), n.name LIMIT $graftPage")
        .option("mode", "keyset")
        .load()
        .writeStream.format("memory").queryName("neofail1").start()
        .processAllAvailable()
    }
    assert(e1.getMessage.contains("maxKeyQuery") ||
      Option(e1.getCause).exists(_.getMessage.contains("maxKeyQuery")))
  }

  test("streaming write ships per-epoch UNWIND MERGE batches with the epoch bound") {
    received.clear()
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-neo4j-wckpt").toString
    val q = input.toDF().toDF("id", "name").coalesce(1)
      .writeStream.format("graft-neo4j")
      .option("url", s"$base/write/")
      .option("query", "UNWIND $rows AS r MERGE (n:User {id: r.id}) " +
        "SET n.name = r.name, n.epoch = $graftEpoch")
      .option("idempotentWrites", "true")
      .option("batchSize", "3")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      input.addData((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      q.processAllAvailable()
      input.addData((5L, "e"))
      q.processAllAvailable()
      val batches = received.toArray(Array.empty[String]).map(mapper.readTree)
      // 4 rows at batchSize 3 → two payloads for epoch 0, one for epoch 1
      assert(batches.length == 3)
      assert(batches.forall(_.at("/statements/0/statement").asText()
        .startsWith("UNWIND")))
      val ids = batches.flatMap { b =>
        val arr = b.at("/statements/0/parameters/rows")
        (0 until arr.size()).map(arr.get(_).get("id").asLong())
      }
      assert(ids.sorted.toSeq == (1L to 5L))
      // the statement references $graftEpoch → bound per batch
      val epochs = batches.map(_.at("/statements/0/parameters/graftEpoch").asLong())
      assert(epochs.count(_ == 0L) == 2 && epochs.count(_ == 1L) == 1)
    } finally q.stop()
  }

  test("streaming write replays an uncommitted epoch with identical payloads") {
    received.clear()
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-neo4j-rckpt").toString
    def start() = input.toDF().toDF("id", "name").coalesce(1)
      .writeStream.format("graft-neo4j")
      .option("url", s"$base/write/")
      .option("query", "UNWIND $rows AS r MERGE (n:User {id: r.id}) " +
        "SET n.name = r.name")
      .option("idempotentWrites", "true")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q1.processAllAvailable()
    } finally q1.stop()
    val sent1 = received.toArray(Array.empty[String]).toList
    assert(sent1.size == 1)
    // simulate a crash BETWEEN the epoch's writes and its commit
    // marker: drop the last commit file — the restarted query must
    // REPLAY the epoch, re-sending the byte-identical payload (this
    // is exactly the duplicate a MERGE statement absorbs, and why the
    // sink demands idempotentWrites)
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filterNot(_.getName.startsWith("."))
    assert(commits.nonEmpty)
    val last = commits.maxBy(_.getName.toLong)
    // drop the marker AND its checksum shadow (a stale .crc blocks
    // the replayed marker's rename)
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    assert(last.delete())
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val sent2 = received.toArray(Array.empty[String]).toList
    assert(sent2.size == 2, s"expected a replayed payload, got $sent2")
    assert(sent2.toSet.size == 1, "replayed payload must be byte-identical")
  }

  test("streaming write without idempotentWrites rejects loudly") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val e = intercept[Exception] {
      val q = input.toDF().toDF("id", "name")
        .writeStream.format("graft-neo4j")
        .option("url", s"$base/write/")
        .option("query", "UNWIND $rows AS r MERGE (n:User {id: r.id})")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft-neo4j-nckpt").toString)
        .outputMode("append").start()
      try { input.addData((1L, "a")); q.processAllAvailable() }
      finally q.stop()
    }
    def anywhere(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("idempotentWrites")) ||
        anywhere(t.getCause))
    assert(anywhere(e))
  }

  test("write with a non-UNWIND statement fails at planning time") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("id", "name")
    val e = intercept[Exception](
      df.write.format("graft-neo4j").mode("append")
        .option("url", s"$base/write/")
        .option("query", "CREATE (n:User)")
        .save())
    assert(e.getMessage.contains("parameter statement") ||
      Option(e.getCause).exists(_.getMessage.contains("parameter statement")))
  }

  test("a per-operation option wins over a table property that differs only in key case") {
    def table(props: (String, String)*) = new Neo4jTableProvider().getTable(schema,
      Array.empty, new java.util.HashMap[String, String](
        (Seq("url" -> s"$base/paged/", "query" -> "MATCH (n) RETURN n ORDER BY n") ++ props)
          .toMap.asJava))
    def opts(kv: (String, String)*) =
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(kv.toMap.asJava)
    def scan(t: org.apache.spark.sql.connector.catalog.Table, o: (String, String)*) =
      t.asInstanceOf[Neo4jTable].newScanBuilder(opts(o: _*)).build().description()
    assert(scan(table("mode" -> "pages", "numPartitions" -> "1", "pageSize" -> "2"),
      "NUMPARTITIONS" -> "3", "pagesize" -> "4").contains("Pages(3,4)"))
    assert(scan(table("mode" -> "pages", "NumPartitions" -> "5"), "numPartitions" -> "2")
      .contains("Pages(2,10000)"))
    def streaming(t: org.apache.spark.sql.connector.catalog.Table, o: (String, String)*) =
      t.asInstanceOf[Neo4jTable].newWriteBuilder(
        new org.apache.spark.sql.connector.write.LogicalWriteInfo {
          def queryId(): String = "q"
          def schema(): StructType = Neo4jDataSourceSpec.this.schema
          def options() = opts(o: _*)
        }).build().toStreaming
    val unwind = "query" -> "UNWIND $rows AS r MERGE (n:User {id: r.id})"
    streaming(table(unwind, "idempotentWrites" -> "false"), "IDEMPOTENTWRITES" -> "true")
    val e = intercept[IllegalArgumentException](
      streaming(table(unwind, "IdempotentWrites" -> "true"), "idempotentwrites" -> "false"))
    assert(e.getMessage.contains("idempotentWrites"))
  }
}
