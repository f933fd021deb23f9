package graft

import org.apache.spark.sql.DataFrame

/** Frame materialization helpers shared by multi-pass operators. */
object Frames {

  /** Eagerly materializes a frame as a TRUE optimizer leaf: eager
    * localCheckpoint (computes once, truncates lineage), then a
    * fresh-DataFrame wrap that DROPS the checkpoint's inherited
    * statistics. Use between the passes of an operator whose next
    * stage references the previous one several times — a plain
    * persist() leaves the full logical tree in place, so analysis
    * and optimization still walk (and a self-joining round plan's
    * size ESTIMATES still compound through `LogicalRDD.originStats`
    * into BigInts with exponentially many digits — Catalyst then
    * burns minutes just visiting stats). The wrap costs one
    * InternalRow↔Row conversion per read — noise next to the
    * exchanges it sits between.
    */
  def leaf(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Eagerly materializes a frame as an optimizer leaf, like [[leaf]],
    * that declares `HashPartitioning(keys, spark.sql.shuffle.partitions)`:
    * a join of two keyed leaves on their keys, or a key-grouped
    * aggregate over one, needs no exchange. A plain `localCheckpoint`
    * keeps no partitioning under AQE (it reports
    * `UnknownPartitioning(0)`), so loop state that must stay keyed
    * across rounds goes through here. The rows are hash-exchanged by
    * `keys` first unless the plan already ends in that partitioning
    * (see `GraftFrameBridge.keyedLeaf`). Free it with [[free]].
    */
  def keyedLeaf(df: DataFrame, keys: String*): DataFrame =
    org.apache.spark.sql.GraftFrameBridge.keyedLeaf(df, keys,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)

  /** Spreads a NARROW frame to the session's shuffle parallelism
    * ahead of compute-heavy per-row work (shingling, hashing, vector
    * math): a small file scans as a handful of splits, and any
    * expensive map riding that scan stage is pinned to that many
    * cores. Adaptive — when the input is already at least half the
    * session parallelism wide (every real-scale scan), this is a
    * no-op, so nothing here is tuned to a core count. Partition count
    * comes from `spark.sql.shuffle.partitions`.
    */
  def widen(df: DataFrame): DataFrame = {
    val npart = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    if (df.rdd.getNumPartitions * 2 < npart)
      df.repartition(npart)
    else df
  }

  /** Unpersists the block-backed RDD behind an eagerly
    * localCheckpoint-ed frame. A localCheckpoint TRUNCATES lineage,
    * so the blocks cannot be recomputed — free ONLY frames no live
    * plan will read again (the checkpoint superseded by the next
    * stride of an iterative loop). Without this, a k-iteration
    * algorithm leaves k/stride dead vertex-sized block sets in the
    * executor store; at large SFs they evict and spill the blocks the
    * LIVE iteration needs. No-op on frames that are not a checkpoint
    * leaf, and on leaves whose backing RDD is not actually persisted
    * (StorageLevel.NONE — e.g. a `createDataFrame(rdd, schema)` wrap
    * of a plain RDD, where unpersist would be a misleading claim that
    * blocks were released).
    */
  def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD
        if lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE =>
      lr.rdd.unpersist(blocking = false): Unit
    case _ => ()
  }
}
