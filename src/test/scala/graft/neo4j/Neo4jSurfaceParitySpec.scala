package graft.neo4j

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The programmatic connector ([[Neo4jReader]], [[Neo4jWriter]]) and
  * the `graft-neo4j` format against each other on the same stub
  * endpoint: for the same read or write they must return the same rows
  * and post the same request bodies.
  */
class Neo4jSurfaceParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var stub: StubEndpoint = _
  override def beforeAll(): Unit = stub = new StubEndpoint
  override def afterAll(): Unit = if (stub != null) stub.stop()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))
  private val keysetQuery = "MATCH (n) WHERE id(n) > $graftAfter AND id(n) <= $graftUpper " +
    "RETURN id(n), n.name ORDER BY id(n) LIMIT $graftPage"

  /** The sorted rows of `df` and the sorted bodies posted to read them. */
  private def traffic(df: => DataFrame): (Seq[String], Seq[String]) = {
    stub.drain()
    val rows = df.collect().map(_.toString).sorted.toSeq
    (rows, stub.drain().sorted)
  }

  private def format(path: String, query: String, options: (String, String)*) =
    TestSpark.spark.read.format("graft-neo4j").schema(schema)
      .option("url", s"${stub.base}$path").option("query", query)
      .options(options.toMap).load()

  test("pages and keyset reads return the same rows with the same requests on both surfaces") {
    val spark = TestSpark.spark
    val all = (1 to 25).map(i => s"[$i,name$i]").sorted
    val paged = Neo4jConfig(s"${stub.base}/paged/",
      "MATCH (n) RETURN id(n), n.name ORDER BY id(n)")
    val pages = traffic(Neo4jReader.readPartitioned(spark, paged, schema,
      numPartitions = 3, pageSize = 4))
    assert(pages._1 == all)
    assert(pages._2.size == 9) // 3 partitions × 3 pages, the last one short
    assert(traffic(format("/paged/", paged.query,
      "mode" -> "pages", "numPartitions" -> "3", "pageSize" -> "4")) == pages)

    val keyset = traffic(Neo4jReader.readKeyset(spark,
      Neo4jConfig(s"${stub.base}/keyset/", keysetQuery), schema,
      bounds = (0L, 25L), numPartitions = 4, pageSize = 3))
    assert(keyset._1 == all)
    // ranges of 7, 6, 6, 6 keys: 3 + 3 + 3 + 3 pages, each range ending
    // on a short page (the 6-key ranges on an empty one)
    assert(keyset._2.size == 12)
    assert(traffic(format("/keyset/", keysetQuery, "mode" -> "keyset",
      "numPartitions" -> "4", "pageSize" -> "3",
      "keysetLo" -> "0", "keysetHi" -> "25")) == keyset)
  }

  test("Neo4jWriter and the format sink post the same UNWIND payloads") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = (1 to 7).map(i => (i.toLong, s"u$i")).toDF("id", "name").coalesce(1)
    val cfg = Neo4jConfig(s"${stub.base}/write/",
      "UNWIND $rows AS r CREATE (n:User {id: r.id, name: r.name})")
    stub.drain()
    Neo4jWriter.write(df, cfg, Seq("id", "name"), batchSize = 3)
    val api = stub.drain()
    assert(api.size == 3) // 3 + 3 + 1 rows
    df.write.format("graft-neo4j").mode("append")
      .option("url", cfg.restUri).option("query", cfg.query)
      .option("batchSize", "3").save()
    assert(stub.drain() == api)
  }
}
