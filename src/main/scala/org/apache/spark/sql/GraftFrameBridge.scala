package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Bridge into the `private[sql]` pieces a checkpoint leaf that keeps
  * its hash partitioning needs: the AQE initial and final physical
  * plans, and a `LogicalRDD` built with a declared partitioning and
  * wrapped into a Dataset. Lives in the org.apache.spark.sql package
  * solely to satisfy the access qualifiers (the technique of
  * [[GraftExprBridge]]).
  *
  * Why it exists: with AQE on, `df.localCheckpoint()` takes its
  * `outputPartitioning` from `AdaptiveSparkPlanExec`, which reports
  * `UnknownPartitioning(0)`, so a checkpointed loop frame never keeps
  * the partitioning its last exchange gave it and every join against
  * it re-exchanges both sides.
  */
object GraftFrameBridge {

  /** `df`'s eager local checkpoint as a leaf that declares
    * `HashPartitioning(keys, n)` and carries no size estimate (the
    * planner sizes it like an RDD of unknown size, so joins against it
    * stay shuffled instead of broadcast).
    *
    * The declaration must be true of the rows, so it is made only
    * when the plan that produced them ends in that hash partitioning:
    * `repartition(n, keys)` is added when AQE's initial plan does not
    * already end in it (AQE never coalesces a repartition by number),
    * and when AQE's final plan lost it anyway (a coalesced join
    * exchange) or the checkpoint has other than `n` partitions, the
    * checkpoint itself is repartitioned by number.
    */
  def keyedLeaf(df: DataFrame, keys: Seq[String], n: Int): DataFrame = {
    val src =
      if (hashedBy(initialPlan(df).outputPartitioning, attrs(df, keys), n)) df
      else df.repartition(n, keys.map(functions.col): _*)
    val ck = src.localCheckpoint(true)
    val kept = finalPlan(src).exists(p => hashedBy(p.outputPartitioning, attrs(src, keys), n))
    if (kept && checkpointOf(ck).rdd.getNumPartitions == n) declare(ck, keys, n)
    else {
      val again = ck.repartition(n, keys.map(functions.col): _*).localCheckpoint(true)
      checkpointOf(ck).rdd.unpersist(blocking = false)
      declare(again, keys, n)
    }
  }

  private def attrs(df: DataFrame, keys: Seq[String]): Seq[Attribute] = {
    val out = df.queryExecution.analyzed.output
    val resolver = df.sparkSession.sessionState.conf.resolver
    keys.map(k => out.find(a => resolver(a.name, k)).getOrElse(
      throw new IllegalArgumentException(
        s"keyedLeaf: no column $k in ${out.map(_.name).mkString(", ")}")))
  }

  private def hashedBy(p: Partitioning, keys: Seq[Expression], n: Int): Boolean =
    p match {
      case h: HashPartitioning =>
        h.numPartitions == n && h.expressions.length == keys.length &&
          h.expressions.zip(keys).forall { case (a, b) => a.semanticEquals(b) }
      case c: PartitioningCollection => c.partitionings.exists(hashedBy(_, keys, n))
      case _ => false
    }

  private def initialPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  /** The plan that produced `df`'s rows, once `df` has run; None while
    * AQE has not settled on its final plan.
    */
  private def finalPlan(df: DataFrame): Option[SparkPlan] =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => if (a.isFinalPlan) Some(a.executedPlan) else None
      case p => Some(p)
    }

  private def checkpointOf(ck: DataFrame): LogicalRDD =
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD => lr
      case p => throw new IllegalStateException(s"not a checkpoint leaf: ${p.nodeName}")
    }

  private def declare(ck: DataFrame, keys: Seq[String], n: Int): DataFrame = {
    val lr = checkpointOf(ck)
    val out = lr.output.map(_.newInstance())
    val keyed = attrs(ck, keys).map(a => out(lr.output.indexOf(a)))
    val session = ck.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session,
      LogicalRDD(out, lr.rdd, HashPartitioning(keyed, n))(session))
  }
}
