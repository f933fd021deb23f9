package graft.neo4j

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds Neo4j transactional-endpoint write payloads: rows batched
  * into the `parameters` array of an `UNWIND $param … CREATE` Cypher
  * statement — the Spark re-expression of the reference's
  * Neo4jOutputFormat (payload template Neo4jFormatBase.java:44-45,
  * batching Neo4jOutputFormat.java:104-116, parameter-name extraction
  * from the UNWIND clause Neo4jOutputFormat.java:128-137).
  */
object CypherPayload {

  /** Payload template, mirroring Neo4jFormatBase.PAYLOAD_TEMPLATE.
    * Used by the oracle-checked [[writeBatches]] query, whose inputs
    * are JSON-safe by construction; the live HTTP path goes through
    * [[statementJson]] instead.
    */
  val PayloadTemplate = """{"statements" : [ {"statement" : "%s", "parameters" : {%s} }]}"""

  /** Shared mapper — ObjectMapper is expensive to build and
    * thread-safe for serialization, and [[statementJson]] sits on the
    * per-page / per-batch hot paths.
    */
  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Builds the transactional payload with jackson so arbitrary query
    * text (quotes, backslashes, newlines, control characters)
    * serializes to valid JSON — the reference's String.format with
    * quote-only escaping (Neo4jFormatBase.java:44) breaks on those.
    */
  def statementJson(query: String,
      parameters: Map[String, com.fasterxml.jackson.databind.JsonNode] = Map.empty)
      : String = {
    val root = mapper.createObjectNode()
    val stmt = root.putArray("statements").addObject()
    stmt.put("statement", query)
    val params = stmt.putObject("parameters")
    parameters.foreach { case (k, v) =>
      params.set[com.fasterxml.jackson.databind.JsonNode](k, v)
    }
    mapper.writeValueAsString(root)
  }

  /** Extracts the parameter name from an `UNWIND $param …` query
    * (reference semantics: Neo4jOutputFormat.getParameterName, which
    * matched the legacy `UNWIND {param}` form; Cypher has since moved
    * to `$param`, we accept both). `(?s)` so multi-line queries match;
    * the brace and dollar forms are strict alternatives, so mismatched
    * mixtures like `UNWIND {param ` are rejected.
    */
  def parameterName(query: String): String = {
    val m = """(?is)^\s*UNWIND\s+(?:\{([A-Za-z0-9_]+)\}|\$([A-Za-z0-9_]+))\s.*""".r
    query match {
      case m(brace, dollar) => if (brace != null) brace else dollar
      case _ => throw new IllegalArgumentException(
        "Query does not contain a parameter statement.")
    }
  }

  /** Serializes one JSON object element `{"k":v,…}` from columns.
    * Strings are quoted (values here are JSON-safe identifiers; full
    * escaping lives in Neo4jWriter's jackson path).
    */
  private def jsonElem(fields: Seq[(String, org.apache.spark.sql.Column, Boolean)]) =
    concat(
      lit("{") +:
      fields.zipWithIndex.flatMap { case ((name, c, quoted), i) =>
        val v = if (quoted) concat(lit("\""), c, lit("\"")) else c.cast("string")
        val kv = concat(lit("\"" + name + "\":"), v)
        if (i == 0) Seq(kv) else Seq(lit(","), kv)
      } :+
      lit("}"): _*)

  /** The oracle-checked `cypher_write_batches` query: rows →
    * deterministic key-range batches (`orderkey div keyRange`),
    * sub-split at `rowCap` rows → one full transactional payload
    * string per batch, exactly the bytes the reference's output
    * format would POST.
    *
    * Batch derivation is embarrassingly parallel: the range id is a
    * pure function of the key, so no global ordering shuffle and no
    * single-task window funnel exists anywhere in the plan (pinned by
    * PlanSpec) — every exchange hash-partitions on the range id.
    * Unlike the reference, whose isBatchFull caps EVERY batch at
    * batchSize rows (Neo4jOutputFormat.java:104-116), key-range
    * batches are populated by key density — so a dense range is
    * sub-split by a PER-RANGE row_number into chunks of at most
    * `rowCap` rows, making `rowCap` the hard upper bound on rows per
    * POST regardless of density (the window partitions by range id:
    * thousands of concurrent ranges, no funnel). Elements are ordered
    * within each batch, a per-group sort, not a global one. The
    * production write path ([[Neo4jWriter]]) batches per partition
    * with the same exact per-batch cap, like the reference per task.
    */
  def writeBatches(spark: SparkSession, sfDir: String, keyRange: Int = 400,
      rowCap: Int = 100): DataFrame =
    payloadBatches(
      Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderstatus")),
      keyRange, rowCap)

  /** The idempotent twin of [[writeBatches]]: identical batching, but
    * the statement is `MERGE … SET` keyed on the node's identity
    * property, so replaying a batch after an AMBIGUOUS transport
    * failure (response lost after the server may have committed —
    * see [[Http.post]]'s replay-safety contract) converges instead of
    * duplicating nodes. This is the payload shape to pair with
    * `Neo4jConfig.idempotentWrites = true`, which re-enables
    * at-least-once retries on the write path.
    */
  def mergeBatches(spark: SparkSession, sfDir: String, keyRange: Int = 400,
      rowCap: Int = 100): DataFrame =
    payloadBatches(
      Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderstatus")),
      keyRange, rowCap,
      "UNWIND $rows AS r MERGE (o:Order {orderkey:r.orderkey}) SET o.status = r.status")

  /** The key-range/row-cap transaction batcher SHARED by the
    * connector's payload builder ([[payloadBatches]]) and the Cypher
    * `CALL { … } IN TRANSACTIONS` surface (CypherPlanner): adds
    * `__tx_range = floor(key / keyRange)` (a pure per-row function —
    * every exchange hash-partitions on it, no global ordering) and
    * `__tx_sub`, a PER-RANGE row_number sub-split capping every
    * (range, sub) transaction at `rowCap` rows regardless of key
    * density. The intra-range window orders by the key alone, so with
    * TIED keys the per-transaction KEY MULTISETS are deterministic
    * (equal keys are interchangeable across tie positions) even though
    * individual row placement under a tie is not — consumers must
    * aggregate per-transaction facts from the key, not from
    * tie-distinguishing columns.
    */
  def txBatch(df: DataFrame, key: Column, keyRange: Int, rowCap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__tx_range")).orderBy(key)
    df.withColumn("__tx_range", floor(key / keyRange).cast("long"))
      .withColumn("__tx_sub",
        floor((row_number().over(w) - 1) / rowCap).cast("long"))
  }

  /** Core of [[writeBatches]]/[[mergeBatches]] over any
    * (orderkey, status) rows — split out so the cap is testable
    * against pathological fully-dense keys.
    */
  private[neo4j] def payloadBatches(orders: DataFrame, keyRange: Int,
      rowCap: Int,
      stmt: String =
        "UNWIND $inserts AS i CREATE (o:Order {orderkey:i.orderkey, status:i.status})")
      : DataFrame = {
    val param = parameterName(stmt)
    val rows = txBatch(orders, col(orders.columns(0)), keyRange, rowCap)
      .withColumnRenamed("__tx_range", "range_id")
      .withColumnRenamed("__tx_sub", "sub_id")
      .withColumn("elem", jsonElem(Seq(
        ("orderkey", col(orders.columns(0)), false),
        ("status", col(orders.columns(1)), true))))
    rows.groupBy(col("range_id"), col("sub_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        array_join(
          transform(array_sort(collect_list(struct(col(orders.columns(0)), col("elem")))),
            s => s.getField("elem")),
          ",").as("joined"))
      .select(
        col("range_id"), col("sub_id"), col("n_rows"),
        concat(
          lit(PayloadTemplate.split("%s")(0)), lit(stmt),
          lit(PayloadTemplate.split("%s")(1)),
          lit("\"" + param + "\" : ["), col("joined"), lit("]"),
          lit(PayloadTemplate.split("%s")(2))).as("payload"))
      .orderBy(col("range_id"), col("sub_id"))
  }
}
