package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FramesSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private def n = spark.conf.get("spark.sql.shuffle.partitions").toInt

  private def frame(rows: Int, mod: Int, name: String): DataFrame =
    spark.range(rows).select((col("id") % mod).as("k"), col("id").as(name))

  private def declared(df: DataFrame) = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr
    case p => fail(s"not a checkpoint leaf: ${p.nodeName}")
  }

  /** Every row sits in the partition Spark's hash of `key` names. */
  private def placedByHash(df: DataFrame, key: String): Boolean =
    df.select((spark_partition_id() === pmod(hash(col(key)), lit(n))).as("ok"))
      .collect().forall(_.getBoolean(0))

  private def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  test("keyedLeaf declares HashPartitioning(keys, shuffle partitions), truthfully") {
    val keyed = Frames.keyedLeaf(frame(100, 7, "a"), "k")
    declared(keyed).outputPartitioning match {
      case HashPartitioning(Seq(a: org.apache.spark.sql.catalyst.expressions.Attribute), m) =>
        assert(a.name == "k" && m == n)
      case p => fail(s"declared $p")
    }
    assert(declared(keyed).rdd.getNumPartitions == n)
    assert(placedByHash(keyed, "k"))
    assert(sorted(keyed) == sorted(frame(100, 7, "a")))
  }

  test("a join of two keyed leaves on their key needs no exchange") {
    val (a, b) = (frame(200, 13, "a"), frame(150, 13, "b"))
    val keyed = Frames.keyedLeaf(a, "k").join(Frames.keyedLeaf(b, "k"), "k")
    val plain = a.localCheckpoint(true).join(b.localCheckpoint(true), "k")
    assert(sorted(keyed) == sorted(plain))
    def exchanges(df: DataFrame) = collect(df.queryExecution.executedPlan) {
      case e: Exchange => e
    }
    assert(exchanges(keyed).isEmpty, keyed.queryExecution.executedPlan)
    // the finding behind keyedLeaf: under AQE a plain checkpoint keeps
    // no partitioning, so the same join exchanges both sides
    assert(exchanges(plain).nonEmpty)
  }

  test("an input whose final plan AQE coalesced is never declared hash-partitioned") {
    // an exchanged join of two tiny frames: AQE coalesces its
    // partitions, so the plan's initial hash partitioning is gone by
    // the time the rows land
    def joined = frame(40, 5, "a").join(frame(40, 5, "b").repartition(col("k")), "k")
    assert(joined.localCheckpoint(true).rdd.getNumPartitions < n,
      "premise: AQE coalesces this join's exchange")
    val keyed = Frames.keyedLeaf(joined, "k")
    assert(declared(keyed).rdd.getNumPartitions == n)
    assert(placedByHash(keyed, "k"))
    assert(sorted(keyed) == sorted(joined))
  }
}
