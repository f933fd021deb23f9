package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Property graph over DataFrames: one node table per label (column
  * `__id` + plain-named property columns) and one relationship table
  * per type (`__src`, `__dst` + property columns).
  *
  * Ids are globally unique across labels (GraphLoader uses
  * label-offset encoding). Tables stay lazy DataFrames — Catalyst
  * prunes unused property columns all the way into the parquet scan,
  * so a query touching 2 of 8 customer properties reads 2 columns.
  */
final case class PropertyGraph(
    nodes: Map[String, DataFrame],
    rels: Map[String, DataFrame],
    /** Endpoint labels per relationship type: relType → (srcLabel,
      * dstLabel). The graph's SCHEMA, known at load time — lets the
      * Cypher planner statically prune type-less relationship unions
      * to the types that can actually touch a labeled pattern node
      * (e.g. expanding from `(n:Nation)` never scans an order→part
      * edge table). Empty map = schema unknown, no pruning.
      */
    relEndpoints: Map[String, (String, String)] = Map.empty) {

  def nodeTable(label: String): DataFrame =
    nodes.getOrElse(label, throw new IllegalArgumentException(
      s"unknown node label :$label (have ${nodes.keys.mkString(", ")})"))

  def relTable(relType: String): DataFrame =
    rels.getOrElse(relType, throw new IllegalArgumentException(
      s"unknown relationship type :$relType (have ${rels.keys.mkString(", ")})"))

  /** The relationships of `types` as one (src, dst) edge list. */
  def edges(types: String*): DataFrame =
    types.map(t => relTable(t).select(col("__src").as("src"), col("__dst").as("dst")))
      .reduce(_.unionByName(_))
}
