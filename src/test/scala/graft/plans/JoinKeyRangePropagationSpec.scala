package graft.plans

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The join-key range-propagation rule: a literal range proven on one
  * side of an equi-join whose keys are `column + literal-offset` must
  * reach the OTHER side's source as a filter on its raw column (the
  * graft id-offset algebra — `MATCH (o:Order)-[l]->() WHERE
  * o.orderkey < 8` must not scan the whole relationship table).
  * Sources are parquet (like the engine's tables) — local relations
  * constant-fold away before the user rule batch runs. TestSpark
  * installs GraftOptimizations like every production session.
  */
class JoinKeyRangePropagationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("jkrp").toFile
    d.deleteOnExit()
    import spark.implicits._
    (1L to 1000L).map(k => (k, s"o$k")).toDF("okey", "otag")
      .write.mode("overwrite").parquet(s"$d/orders")
    (1L to 1000L).flatMap(k => Seq((k, k * 10), (k, k * 10 + 1)))
      .toDF("lkey", "v")
      .write.mode("overwrite").parquet(s"$d/lines")
    d.getPath
  }
  private def orders: DataFrame = spark.read.parquet(s"$dir/orders")
  private def lines: DataFrame = spark.read.parquet(s"$dir/lines")

  private def joined: DataFrame = {
    val o = orders.filter(col("okey") < 8)
      .select((col("okey") + 1000000000L).as("__id"), col("otag"))
    val l = lines
      .select((col("lkey") + 1000000000L).as("__src"), col("v"))
    o.join(l, col("__id") === col("__src"))
  }

  test("range on one offset key filters the other side's source scan") {
    val j = joined
    val optimized = j.queryExecution.optimizedPlan
    assert(
      optimized.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.references.exists(_.name == "lkey") &&
              f.condition.toString.contains("< 8") => f
      }.nonEmpty,
      s"expected a derived lkey bound in:\n$optimized")
    // and it reaches the parquet scan as a pushed filter
    val physical = j.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") &&
      physical.contains("LessThan(lkey,8)"),
      s"expected PushedFilters LessThan(lkey,8) in:\n$physical")
    // results identical to the rule disabled
    val rows = j.count()
    spark.conf.set("spark.graft.joinRangePushdown", "false")
    try assert(rows === joined.count() && rows === 14L)
    finally spark.conf.set("spark.graft.joinRangePushdown", "true")
  }

  test("the injected upper bound carries the wrap-window guard") {
    // with a positive destination offset, only a base near
    // Long.MaxValue could defeat the bound under wrap semantics — the
    // injected filter keeps that window via an OR'd guard (under ANSI
    // such a row would make the query throw, with or without the
    // filter; the guard costs nothing and keeps the rewrite airtight
    // in non-ANSI sessions too)
    val optimized = joined.queryExecution.optimizedPlan.toString
    assert(optimized.contains(s"${Long.MaxValue - 1000000000L}"),
      s"expected the Max-offset wrap guard in:\n$optimized")
  }

  test("rule disabled leaves the relationship side unfiltered") {
    spark.conf.set("spark.graft.joinRangePushdown", "false")
    try {
      // only null-intolerance filters remain on the line side — no
      // derived range (isnotnull(lkey + offset) is Catalyst's own)
      val filters = joined.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.references.exists(_.name == "lkey") &&
              f.condition.toString.contains("< 8") => f
      }
      assert(filters.isEmpty)
      assert(joined.count() === 14L)
    } finally spark.conf.set("spark.graft.joinRangePushdown", "true")
  }

  test("a bound inside one union branch never restricts the other side") {
    // the union's output reuses branch 1's exprIds, so branch 1's
    // okey < 8 must not read as a bound on every union row: branch 2's
    // keys 500..502 match too (7·2 + 3·2 = 20 line rows)
    def unioned: DataFrame = {
      def branch(lo: Long, hi: Long) = orders
        .filter(col("okey") >= lo && col("okey") <= hi)
        .select((col("okey") + 1000000000L).as("__id"))
      val l = lines
        .select((col("lkey") + 1000000000L).as("__src"), col("v"))
      branch(1L, 7L).union(branch(500L, 502L))
        .join(l, col("__id") === col("__src"))
    }
    val on = unioned.count()
    spark.conf.set("spark.graft.joinRangePushdown", "false")
    val off = try unioned.count() finally
      spark.conf.set("spark.graft.joinRangePushdown", "true")
    assert(off === 20L && on === off)
  }

  test("a bound from the non-preserved side never filters an outer join's preserved side") {
    // lkey < 5 holds on the line side only; every order row must
    // survive the outer join (4 matched orders x 2 lines + 996
    // unmatched orders), in both orientations
    val o = orders.select((col("okey") + 1000000000L).as("__id"), col("otag"))
    val l = lines.filter(col("lkey") < 5)
      .select((col("lkey") + 1000000000L).as("__src"), col("v"))
    def left: DataFrame = o.join(l, col("__id") === col("__src"), "left_outer")
    def right: DataFrame = l.join(o, col("__src") === col("__id"), "right_outer")
    val on = Seq(left.count(), right.count())
    spark.conf.set("spark.graft.joinRangePushdown", "false")
    val off = try Seq(left.count(), right.count()) finally
      spark.conf.set("spark.graft.joinRangePushdown", "true")
    assert(off === Seq(1004L, 1004L) && on === off)
  }

  test("a derived bound never lands under a Limit on the other side") {
    // top 5 customers by balance, then a key-range match against them:
    // the c2.custkey range must not reach c's scan BELOW its LIMIT,
    // which would pick the top 5 of the in-range customers instead
    // (at sf0.01 none of the true top 5 is in range)
    val sf = new java.io.File(TestSpark.sf).getParent + "/sf0.01"
    val q = "MATCH (c:Customer) WITH c ORDER BY c.acctbal DESC LIMIT 5 " +
      "MATCH (c2:Customer) WHERE c2.custkey < 50 AND c2 = c " +
      "RETURN count(*) AS n"
    def rows(): Long = graft.cypher.CypherPlanner.run(spark,
      graft.graph.GraphLoader.tpch(spark, sf), q).collect()(0).getLong(0)
    val on = rows()
    spark.conf.set("spark.graft.joinRangePushdown", "false")
    val off = try rows() finally
      spark.conf.set("spark.graft.joinRangePushdown", "true")
    assert(off === 0L && on === off)
  }
}
