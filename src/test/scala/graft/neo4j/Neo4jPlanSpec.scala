package graft.neo4j

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-level audits for the DSv2 format — the `graft.PlanSpec`
  * discipline applied to the connector (r17): the properties that
  * decide 100 TB behavior are asserted on the PLANNED partitions, so
  * a regression fails a test instead of silently re-scanning a
  * production store every trigger.
  */
class Neo4jPlanSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))
  private val cfg = Neo4jConfig(
    restUri = "http://unused.invalid/db/data/",
    query = "MATCH (n) WHERE id(n) > $graftAfter AND id(n) <= $graftUpper " +
      "RETURN id(n), n.name ORDER BY id(n) LIMIT $graftPage")

  test("streaming read plans ONLY keyset ranges tiling (last, latest] — never a rescan") {
    // the 100-TB never-rescan contract: each trigger's InputPartitions
    // must tile exactly the (previous offset, latest offset] key range
    // — disjoint, contiguous, nothing below the last committed offset
    // (a partition reaching below it would re-read history every
    // trigger). Pure partition planning: no endpoint is contacted.
    val stream = new Neo4jMicroBatchStream(schema, cfg,
      maxKeyQuery = "MATCH (n) RETURN max(id(n))",
      read = Neo4jRead.Keyset(lo = 0L, hi = 0L, keyIndex = 0,
        numPartitions = 4, pageSize = 100), startKey = 0L)
    val parts = stream.planInputPartitions(Neo4jOffset(100L), Neo4jOffset(130L))
      .map(_.asInstanceOf[Neo4jInputPartition]).sortBy(_.rangeLo)
    assert(parts.nonEmpty && parts.length <= 4)
    assert(parts.head.rangeLo == 100L, "a partition reaches below the last offset")
    assert(parts.last.rangeHi == 130L, "the latest offset is not covered")
    parts.sliding(2).foreach {
      case Array(a, b) => assert(a.rangeHi == b.rangeLo,
        s"ranges must be contiguous and disjoint: $a / $b")
      case _ => ()
    }
    assert(parts.forall(p => p.rangeLo >= 100L && p.rangeHi <= 130L))
    // an idle trigger (offset unchanged) plans ZERO partitions: an
    // empty store poll must cost nothing on the scan side
    assert(stream.planInputPartitions(
      Neo4jOffset(130L), Neo4jOffset(130L)).isEmpty)
    // a delta smaller than numPartitions plans only non-empty ranges
    val tiny = stream.planInputPartitions(Neo4jOffset(10L), Neo4jOffset(12L))
      .map(_.asInstanceOf[Neo4jInputPartition])
    assert(tiny.forall(p => p.rangeLo < p.rangeHi) && tiny.length == 2)
  }

  test("batch keyset ranges tile (lo, hi] with the remainder spread") {
    val parts = Neo4jRead.Keyset(lo = 0L, hi = 25L, keyIndex = 0,
      numPartitions = 4, pageSize = 100).partitions.toArray
      .map(_.asInstanceOf[Neo4jInputPartition]).sortBy(_.rangeLo)
    assert(parts.head.rangeLo == 0L && parts.last.rangeHi == 25L)
    parts.sliding(2).foreach {
      case Array(a, b) => assert(a.rangeHi == b.rangeLo)
      case _ => ()
    }
    // spans differ by at most 1 (remainder spread over the first ranges)
    val spans = parts.map(p => p.rangeHi - p.rangeLo)
    assert(spans.max - spans.min <= 1)
  }
}
