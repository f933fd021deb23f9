package graft.cypher

import graft.TestSpark
import graft.graph.GraphLoader
import org.scalatest.funsuite.AnyFunSuite

class CypherPlannerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def run(q: String) =
    CypherPlanner.run(spark, GraphLoader.tpch(spark, TestSpark.sf), q)

  test("node scan returns every customer") {
    val n = run("MATCH (c:Customer) RETURN c.custkey AS id").count()
    val expected = graft.Tables.customer(spark, TestSpark.sf).count()
    assert(n == expected)
  }

  test("inline property map filters") {
    val df = run("MATCH (c:Customer {mktsegment: 'BUILDING'}) RETURN c.custkey AS id")
    val expected = graft.Tables.customer(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("c_mktsegment") === "BUILDING").count()
    assert(df.count() == expected)
  }

  test("expand joins along relationships with label filtering") {
    // FROM_NATION only holds customer→nation edges; SUPP_NATION holds
    // supplier→nation — expanding Customer must not pick up suppliers
    val n = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) RETURN c.custkey AS id, n.name AS nation")
      .count()
    assert(n == graft.Tables.customer(spark, TestSpark.sf).count())
  }

  test("reverse direction matches the same rows") {
    val out = run("MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) RETURN c.custkey AS id")
    val rev = run("MATCH (n:Nation)<-[:FROM_NATION]-(c:Customer) RETURN c.custkey AS id")
    assert(out.collect().map(_.getLong(0)).sorted
      .sameElements(rev.collect().map(_.getLong(0)).sorted))
  }

  test("aggregate groups and counts") {
    val rows = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) " +
      "RETURN n.name AS nation, count(*) AS n_customers ORDER BY nation")
      .collect()
    assert(rows.map(_.getLong(1)).sum ==
      graft.Tables.customer(spark, TestSpark.sf).count())
    assert(rows.map(_.getString(0)).toSeq == rows.map(_.getString(0)).toSeq.sorted)
  }

  test("order by desc with skip and limit") {
    val all = run("MATCH (c:Customer) RETURN c.acctbal AS b ORDER BY b DESC LIMIT 5")
      .collect().map(_.getDouble(0))
    val skipped = run("MATCH (c:Customer) RETURN c.acctbal AS b ORDER BY b DESC SKIP 2 LIMIT 3")
      .collect().map(_.getDouble(0))
    assert(all.drop(2).sameElements(skipped))
  }

  test("optional match keeps unmatched left rows") {
    val df = run(
      "MATCH (c:Customer) OPTIONAL MATCH (o:Order)-[:PLACED_BY]->(c) " +
      "RETURN c.custkey AS id, o.orderkey AS ok")
    val customers = graft.Tables.customer(spark, TestSpark.sf).count()
    val matchedCustomers = graft.Tables.orders(spark, TestSpark.sf)
      .select("o_custkey").distinct().count()
    val nullRows = df.filter(org.apache.spark.sql.functions.col("ok").isNull).count()
    assert(nullRows == customers - matchedCustomers)
  }

  test("distinct dedups") {
    val n = run("MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) RETURN DISTINCT n.name AS nation")
      .count()
    assert(n == graft.Tables.customer(spark, TestSpark.sf)
      .select("c_nationkey").distinct().count())
  }

  test("unknown label and rel type raise") {
    assertThrows[IllegalArgumentException](run("MATCH (x:Nope) RETURN x.a"))
    assertThrows[IllegalArgumentException](
      run("MATCH (c:Customer)-[:NOPE]->(n:Nation) RETURN c.custkey"))
  }

  test("WITH aggregation horizon filters like HAVING") {
    val rows = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) " +
      "WITH n, count(c) AS cnt WHERE cnt > 3 " +
      "RETURN n.name AS nation, cnt ORDER BY nation").collect()
    // every surviving group is above the threshold and props of the
    // carried node variable stay addressable after the horizon
    assert(rows.nonEmpty && rows.forall(_.getLong(1) > 3))
    val all = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) " +
      "RETURN n.name AS nation, count(*) AS cnt").collect()
    assert(rows.length == all.count(_.getLong(1) > 3))
  }

  test("WITH scalar projection rebinds names for later clauses") {
    val rows = run(
      "MATCH (c:Customer) WITH c.acctbal AS bal WHERE bal > 0 " +
      "RETURN count(*) AS n").collect()
    val expected = graft.Tables.customer(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("c_acctbal") > 0).count()
    assert(rows.head.getLong(0) == expected)
  }

  test("UNWIND explodes list literals and collected lists") {
    val lits = run("UNWIND [1, 2, 3] AS x RETURN x ORDER BY x")
      .collect().map(_.getLong(0)).toSeq
    assert(lits == Seq(1L, 2L, 3L))
    val roundTrip = run(
      "MATCH (n:Nation) WITH collect(n.name) AS names " +
      "UNWIND names AS nm RETURN nm ORDER BY nm").count()
    assert(roundTrip == graft.Tables.nation(spark, TestSpark.sf).count())
  }

  test("WHERE on OPTIONAL MATCH filters the pattern, not the outer rows") {
    // Cypher semantics: every customer survives; only the optional
    // side is filtered (non-qualifying orders null out)
    val kept = run(
      "MATCH (c:Customer) OPTIONAL MATCH (o:Order)-[:PLACED_BY]->(c) " +
      "WHERE o.totalprice > 100000.0 " +
      "RETURN c.custkey AS id, o.orderkey AS ok")
    val all = graft.Tables.customer(spark, TestSpark.sf).count()
    assert(kept.select("id").distinct().count() == all)
    // post-join filtering (the anti-join idiom) goes through a WITH
    // horizon, exactly like Neo4j
    val orderless = run(
      "MATCH (c:Customer) OPTIONAL MATCH (o:Order)-[:PLACED_BY]->(c) " +
      "WITH c, o WHERE o.orderkey IS NULL RETURN count(*) AS n")
      .first().getLong(0)
    val viaAnti = run(
      "MATCH (c:Customer) WHERE NOT EXISTS { (o:Order)-[:PLACED_BY]->(c) } " +
      "RETURN count(*) AS n").first().getLong(0)
    assert(orderless == viaAnti)
  }

  test("parameterized queries bind $placeholders at plan time") {
    val g = GraphLoader.tpch(spark, TestSpark.sf)
    val df = CypherPlanner.run(spark, g,
      "MATCH (c:Customer) WHERE c.mktsegment = $seg AND c.acctbal > $minBal " +
      "RETURN count(*) AS n",
      Map("seg" -> "BUILDING", "minBal" -> 1000.0))
    val direct = graft.Tables.customer(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("c_mktsegment") === "BUILDING")
      .filter(org.apache.spark.sql.functions.col("c_acctbal") > 1000.0).count()
    assert(df.first().getLong(0) == direct)
    // unbound parameters fail loudly, not silently
    assertThrows[IllegalArgumentException](CypherPlanner.run(spark, g,
      "MATCH (c:Customer) WHERE c.acctbal > $x RETURN count(*) AS n",
      Map.empty[String, Any]))
  }

  test("IN list predicate matches direct isin filtering") {
    val inTwo = run(
      "MATCH (c:Customer) WHERE c.mktsegment IN ['BUILDING', 'MACHINERY'] " +
      "RETURN count(*) AS n").first().getLong(0)
    val direct = graft.Tables.customer(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("c_mktsegment")
        .isin("BUILDING", "MACHINERY")).count()
    assert(inTwo == direct)
  }

  test("EXISTS semi-join and NOT EXISTS anti-join partition the customers") {
    val withOrders = run(
      "MATCH (c:Customer) WHERE EXISTS { (o:Order)-[:PLACED_BY]->(c) } " +
      "RETURN count(*) AS n").first().getLong(0)
    val without = run(
      "MATCH (c:Customer) WHERE NOT EXISTS { (o:Order)-[:PLACED_BY]->(c) } " +
      "RETURN count(*) AS n").first().getLong(0)
    val all = graft.Tables.customer(spark, TestSpark.sf).count()
    val distinctBuyers = graft.Tables.orders(spark, TestSpark.sf)
      .select("o_custkey").distinct().count()
    assert(withOrders == distinctBuyers)
    assert(withOrders + without == all)
    // EXISTS must not duplicate outer rows (semi-join, not inner join)
    val rows = run(
      "MATCH (c:Customer) WHERE EXISTS { (o:Order)-[:PLACED_BY]->(c) } " +
      "RETURN c.custkey AS id")
    assert(rows.count() == rows.distinct().count())
  }

  test("undirected hop matches both orientations exactly once each") {
    val out = run(
      "MATCH (a:Nation)-[:NEXT_IN_REGION]->(b:Nation) RETURN a.name AS x").count()
    val in = run(
      "MATCH (a:Nation)<-[:NEXT_IN_REGION]-(b:Nation) RETURN a.name AS x").count()
    val both = run(
      "MATCH (a:Nation)-[:NEXT_IN_REGION]-(b:Nation) RETURN a.name AS x").count()
    assert(out > 0 && both == out + in)
  }

  test("ORDER BY on a non-projected property sorts before projection") {
    val viaProp = run(
      "MATCH (c:Customer) RETURN c.name AS name ORDER BY c.acctbal DESC, c.name LIMIT 5")
      .collect().map(_.getString(0)).toSeq
    val viaAlias = run(
      "MATCH (c:Customer) RETURN c.name AS name, c.acctbal AS b " +
      "ORDER BY b DESC, name LIMIT 5")
      .collect().map(_.getString(0)).toSeq
    assert(viaProp == viaAlias)
    // arithmetic sort keys work too
    val arith = run(
      "MATCH (c:Customer) RETURN c.custkey AS id ORDER BY c.acctbal * 2 DESC LIMIT 3")
    assert(arith.count() == 3)
  }

  test("relationship property map filters the edge table") {
    val filtered = run(
      "MATCH (o:Order)-[l:CONTAINS {qty: 25.0}]->(p:Part) RETURN count(*) AS n")
      .first().getLong(0)
    val expected = graft.Tables.lineitem(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("l_quantity") === 25.0).count()
    assert(filtered == expected && filtered > 0)
  }

  test("property maps on multi-type and typeless relationships filter per branch") {
    // `-[:CONTAINS|SUPPLIES {qty: 25.0}]->`: SUPPLIES has no qty, so
    // only the CONTAINS branch contributes (null never equals)
    val multi = run(
      "MATCH (o)-[l:CONTAINS|SUPPLIES {qty: 25.0}]->(p:Part) " +
        "RETURN count(*) AS n").first().getLong(0)
    val expected = graft.Tables.lineitem(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("l_quantity") === 25.0)
      .count()
    assert(multi == expected && multi > 0)
    // typeless with a property map: every type carrying qty filters,
    // the rest vanish — same count (only CONTAINS has qty)
    val untyped = run(
      "MATCH (o:Order)-[l {qty: 25.0}]->(p:Part) RETURN count(*) AS n")
      .first().getLong(0)
    assert(untyped == expected)
  }

  test("named relationship binds its property columns") {
    val rows = run(
      "MATCH (o:Order)-[l:CONTAINS]->(p:Part) " +
      "RETURN count(*) AS n, sum(l.qty) AS q").collect()
    val li = graft.Tables.lineitem(spark, TestSpark.sf)
    assert(rows.head.getLong(0) == li.count())
    val expected = li.agg(org.apache.spark.sql.functions.sum("l_quantity"))
      .first().getDouble(0)
    assert(math.abs(rows.head.getDouble(1) - expected) < 1e-6)
  }

  test("sum() result type follows the operand: integral -> long, float -> double") {
    // Neo4j sum() typing: summing integers yields an integer, summing
    // floats a float. The decimal fixed-point accumulation is an
    // implementation detail that must not surface in the result type.
    val intSum = run(
      "MATCH (n:Nation) RETURN sum(n.nationkey) AS s")
    assert(intSum.schema.head.dataType ==
      org.apache.spark.sql.types.LongType)
    assert(intSum.first().getLong(0) == (0 until 25).sum)
    val dblSum = run(
      "MATCH (c:Customer) RETURN sum(c.acctbal) AS s")
    assert(dblSum.schema.head.dataType ==
      org.apache.spark.sql.types.DoubleType)
    // and through a WITH horizon (the FOREACH/SET re-match shape)
    val viaWith = run(
      "MATCH (n:Nation) WITH n.regionkey AS rk, sum(n.nationkey) AS s " +
      "RETURN rk, s ORDER BY rk")
    assert(viaWith.schema("s").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("id(n) projects the node id; bare RETURN n expands to property columns") {
    val ids = run("MATCH (n:Nation) RETURN id(n) AS nid ORDER BY nid")
      .collect().map(_.getLong(0))
    assert(ids.head == graft.graph.GraphLoader.NationOffset &&
      ids.length == 25 && ids.forall(_ >= graft.graph.GraphLoader.NationOffset))
    val whole = run("MATCH (n:Nation) RETURN n ORDER BY n.nationkey")
    assert(whole.columns.toSeq == Seq("n.name", "n.nationkey", "n.regionkey"))
    assert(whole.count() == 25)
  }

  test("label-less nodes resolve against the union of label tables") {
    val viaUnion = run(
      "MATCH (a)-[:IN_REGION]->(b) RETURN id(a) AS s, id(b) AS d").count()
    assert(viaUnion == 25)
    // a label-less scan with a property filter only matches tables
    // carrying the property
    val byProp = run(
      "MATCH (a {mktsegment: 'BUILDING'}) RETURN id(a) AS i").count()
    val direct = graft.Tables.customer(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("c_mktsegment") === "BUILDING").count()
    assert(byProp == direct)
  }

  test("type-less relationships scan the union of relationship tables") {
    val fromNation = run(
      "MATCH (n:Nation)-[r]->(x) RETURN id(n) AS a, id(x) AS b").count()
    // nation sources: 25 IN_REGION edges + 20 NEXT_IN_REGION edges
    assert(fromNation == 45)
    val bare = run("MATCH (n:Nation)-->(x) RETURN id(x) AS b").count()
    assert(bare == fromNation)
  }

  test("var-length walks never reuse a relationship (Cypher uniqueness)") {
    // undirected 2-hop: without edge-identity tracking every node is
    // its own neighbor via a->x->a over the mirrored edge
    val twoHop = run(
      "MATCH (a:Nation)-[:NEXT_IN_REGION*2]-(b:Nation) " +
      "RETURN id(a) AS a_id, id(b) AS b_id").collect()
    assert(twoHop.forall(r => r.getLong(0) != r.getLong(1)))
    // brute-force expected walk count from the edge list
    val edges = graft.graph.GraphLoader.tpch(spark, TestSpark.sf)
      .relTable("NEXT_IN_REGION").collect()
      .map(r => (r.getLong(0), r.getLong(1))).zipWithIndex
    val adj: Map[Long, Seq[(Long, Int)]] =
      edges.toSeq.flatMap { case ((s, d), i) => Seq((s, (d, i)), (d, (s, i))) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val expected = (for {
      (s, out) <- adj.toSeq
      (m, e1)  <- out
      (t, e2)  <- adj.getOrElse(m, Seq.empty)
      if e2 != e1
    } yield (s, t)).size
    assert(twoHop.length == expected)
  }

  test("single-hop chains share relationship uniqueness (cross-pattern)") {
    // undirected chain (a)-[:T]-(b)-[:T]-(c): the second hop may not
    // reuse the first hop's edge, so its walk count must equal the
    // var-length *2 walk count (same brute-force expectation)
    val chain = run(
      "MATCH (a:Nation)-[:NEXT_IN_REGION]-(b:Nation)-[:NEXT_IN_REGION]-(c:Nation) " +
      "RETURN id(a) AS a_id, id(b) AS b_id, id(c) AS c_id").collect()
    assert(chain.forall(r => r.getLong(0) != r.getLong(2)),
      "a-b-a over the same mirrored edge must be excluded")
    val edges = graft.graph.GraphLoader.tpch(spark, TestSpark.sf)
      .relTable("NEXT_IN_REGION").collect()
      .map(r => (r.getLong(0), r.getLong(1))).zipWithIndex
    val adj: Map[Long, Seq[(Long, Int)]] =
      edges.toSeq.flatMap { case ((s, d), i) => Seq((s, (d, i)), (d, (s, i))) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val expected = (for {
      (s, out) <- adj.toSeq
      (m, e1)  <- out
      (t, e2)  <- adj.getOrElse(m, Seq.empty)
      if e2 != e1
    } yield (s, m, t)).size
    assert(chain.length == expected)
    // hops of DIFFERENT types never conflict — no identity filtering
    val mixed = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region) " +
      "RETURN count(*) AS n").first().getLong(0)
    assert(mixed == graft.Tables.customer(spark, TestSpark.sf).count())
  }

  test("DISTINCT and grouping on whole nodes use node identity, not props") {
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map("X" ->
        Seq((1L, "same"), (2L, "same"), (3L, "other"))
          .toDF("__id", "name")),
      rels = Map.empty)
    // two distinct nodes with identical properties stay two rows
    val d = CypherPlanner.run(spark, g, "MATCH (x:X) RETURN DISTINCT x")
    assert(d.count() == 3)
    assert(d.columns.toSeq == Seq("x.name"))
    // implicit grouping on a node groups by identity as well
    val a = CypherPlanner.run(spark, g, "MATCH (x:X) RETURN x, count(*) AS n")
    assert(a.count() == 3)
    assert(a.collect().forall(_.getLong(1) == 1L))
  }

  test("relationship property predicates in WHERE filter the edge table") {
    val n = run(
      "MATCH (o:Order)-[l:CONTAINS]->(p:Part) WHERE l.qty > 45.0 " +
      "RETURN count(*) AS n").first().getLong(0)
    val direct = graft.Tables.lineitem(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("l_quantity") > 45.0).count()
    assert(n == direct && n > 0)
  }

  test("multiple MATCH clauses join on the shared variable") {
    val pairs = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) " +
      "MATCH (s:Supplier)-[:SUPP_NATION]->(n) " +
      "RETURN n.name AS nation, count(*) AS pairs ORDER BY nation").collect()
    // per nation: |customers| × |suppliers|
    val c = graft.Tables.customer(spark, TestSpark.sf)
      .groupBy("c_nationkey").count().collect()
      .map(r => r.get(0).asInstanceOf[Number].longValue -> r.getLong(1)).toMap
    val sup = graft.Tables.supplier(spark, TestSpark.sf)
      .groupBy("s_nationkey").count().collect()
      .map(r => r.get(0).asInstanceOf[Number].longValue -> r.getLong(1)).toMap
    val expected = c.keySet.intersect(sup.keySet)
      .toSeq.map(k => c(k) * sup(k)).sum
    assert(pairs.map(_.getLong(1)).sum == expected)
  }

  test("string predicates filter like their Column twins") {
    import org.apache.spark.sql.functions.col
    val n = run(
      "MATCH (c:Customer) WHERE c.name STARTS WITH 'Customer#000000' " +
      "AND c.mktsegment CONTAINS 'ING' AND c.name ENDS WITH '1' " +
      "RETURN c.custkey AS id").count()
    val direct = graft.Tables.customer(spark, TestSpark.sf)
      .filter(col("c_name").startsWith("Customer#000000") &&
        col("c_mktsegment").contains("ING") && col("c_name").endsWith("1"))
      .count()
    assert(n == direct && n > 0)
    // `=~` matches the WHOLE string (Neo4j semantics): only custkey 1
    // is "Customer#" + zeros + "1" and nothing after
    val rx = run(
      "MATCH (c:Customer) WHERE c.name =~ 'Customer#0+1' RETURN c.custkey AS id")
      .count()
    assert(rx == 1)
  }

  test("type(r) binds for typed and type-less hops; labels(n) for any scan") {
    val typed = run(
      "MATCH (c:Customer)-[r:FROM_NATION]->(n:Nation) " +
      "RETURN type(r) AS t, count(*) AS n").collect()
    assert(typed.map(_.getString(0)).toSeq == Seq("FROM_NATION"))
    val untyped = run(
      "MATCH (n:Nation)-[r]->(x) RETURN type(r) AS t, count(*) AS n ORDER BY t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(untyped.keySet == Set("IN_REGION", "NEXT_IN_REGION"))
    assert(untyped("IN_REGION") ==
      graft.Tables.nation(spark, TestSpark.sf).count())
    val labels = run(
      "MATCH (n:Region) UNWIND labels(n) AS l RETURN l, count(*) AS n")
      .collect()
    assert(labels.length == 1 && labels.head.getString(0) == "Region")
  }

  test("length(p) is the relationship count per path row") {
    val hist = run(
      "MATCH p = (a:Nation)-[:NEXT_IN_REGION*1..3]->(b:Nation) " +
      "RETURN length(p) AS hops, count(*) AS n ORDER BY hops")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 5 regions × 5-nation chains: 4/3/2 paths of length 1/2/3 each
    assert(hist == Map(1L -> 20L, 2L -> 15L, 3L -> 10L))
    // fixed-hop path: every row reports length 2
    val fixed = run(
      "MATCH p = (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region) " +
      "RETURN length(p) AS hops, count(*) AS n").collect()
    assert(fixed.length == 1 && fixed.head.getLong(0) == 2L)
  }

  test("UNION dedups across parts; UNION ALL keeps duplicates") {
    val nNations = graft.Tables.nation(spark, TestSpark.sf).count()
    // both parts project nation names; plain UNION collapses to the
    // distinct nation set
    val u = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) RETURN n.name AS nation " +
      "UNION MATCH (s:Supplier)-[:SUPP_NATION]->(n:Nation) RETURN n.name AS nation")
    assert(u.count() == nNations)
    // UNION ALL keeps one row per customer + one per supplier
    val ua = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) RETURN n.name AS nation " +
      "UNION ALL MATCH (s:Supplier)-[:SUPP_NATION]->(n:Nation) RETURN n.name AS nation")
    assert(ua.count() ==
      graft.Tables.customer(spark, TestSpark.sf).count() +
      graft.Tables.supplier(spark, TestSpark.sf).count())
    // mismatched output columns are rejected at plan time
    assertThrows[IllegalArgumentException](run(
      "MATCH (c:Customer) RETURN c.name AS a UNION MATCH (s:Supplier) RETURN s.name AS b"))
  }

  test("shortestPath keeps the minimum hop count per pair (BFS, not walks)") {
    val sp = run(
      "MATCH p = shortestPath((a:Nation)-[:NEXT_IN_REGION*1..10]->(b:Nation)) " +
      "RETURN a.name AS a, b.name AS b, length(p) AS hops")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // oracle: minimum over the enumerated walks of the plain pattern
    val walks = run(
      "MATCH p = (a:Nation)-[:NEXT_IN_REGION*1..10]->(b:Nation) " +
      "RETURN a.name AS a, b.name AS b, length(p) AS hops")
      .collect().groupBy(r => (r.getString(0), r.getString(1)))
      .view.mapValues(_.map(_.getLong(2)).min).toMap
    assert(sp == walks)
    // undirected: same pairs both ways, never a self-pair from the
    // mirror-edge bounce, distance symmetric
    val und = run(
      "MATCH p = shortestPath((a:Nation)-[:NEXT_IN_REGION*1..10]-(b:Nation)) " +
      "RETURN a.name AS a, b.name AS b, length(p) AS hops")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(und.keys.forall { case (a, b) => a != b })
    assert(und.forall { case ((a, b), d) => und((b, a)) == d })
    assert(sp.forall { case (k, d) => und(k) == d })
    // a NAMED hop binds the walk's relationship list (r15): size(r)
    // agrees with length(p) on every pair
    val named = run(
      "MATCH p = shortestPath((a:Nation)-[r:NEXT_IN_REGION*1..3]->(b:Nation)) " +
      "RETURN a.name AS a, b.name AS b, size(r) AS n, length(p) AS l")
      .collect()
    assert(named.nonEmpty && named.forall(r => r.getLong(2) == r.getLong(3)))
    // named lists under allShortestPaths bind via the capped walk
    // enumeration since r16: the unique-successor chain has sigma = 1
    // everywhere, so the enumerated rows mirror the shortestPath ones
    val aspNamed = run(
      "MATCH p = allShortestPaths((a:Nation)-[r:NEXT_IN_REGION*1..3]->(b:Nation)) " +
      "RETURN a.name AS a, b.name AS b, size(r) AS n, length(p) AS l")
      .collect()
    assert(aspNamed.length == named.length &&
      aspNamed.forall(r => r.getLong(2) == r.getLong(3)))
  }

  test("shortestPath walk carry: deterministic min walk on ties, In-seeded flip, + concat") {
    import spark.implicits._
    // diamond: two tied 2-hop shortest walks 1→4 (via 2, via 3); the
    // carried walk is the lexicographically-least node sequence
    val diamond = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, "n1"), (2L, "n2"), (3L, "n3"), (4L, "n4"))
        .toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
        .toDF("__src", "__dst")))
    val tie = CypherPlanner.run(spark, diamond,
      "MATCH p = shortestPath((a:V)-[rs:E*1..3]->(b:V)) " +
        "WHERE id(a) = 1 AND id(b) = 4 " +
        "RETURN nodes(p) AS ns, [x IN rs | x.dst] AS ds, " +
        "relationships(p) AS res, length(p) AS l").collect()
    assert(tie.length == 1)
    assert(tie(0).getSeq[Long](0).toList == List(1L, 2L, 4L))
    assert(tie(0).getSeq[Long](1).toList == List(2L, 4L))
    // relationships(p) identities describe the SAME walk as rs
    assert(tie(0).getSeq[org.apache.spark.sql.Row](2)
      .map(r => (r.getLong(1), r.getLong(2))).toList ==
      List((1L, 2L), (2L, 4L)))
    assert(tie(0).getLong(3) == 2L)
    // parallel edges with different payloads: the walk takes the
    // payload-least one, and relationships(p) names that same edge
    // (identity ranks order parallel edges by their properties)
    val par = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, "n1"), (2L, "n2"), (3L, "n3"))
        .toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L, 5L), (1L, 2L, 3L), (2L, 3L, 7L))
        .toDF("__src", "__dst", "w")))
    val pw = CypherPlanner.run(spark, par,
      "MATCH p = shortestPath((a:V)-[rs:E*1..3]->(b:V)) " +
        "WHERE id(a) = 1 AND id(b) = 3 " +
        "RETURN [x IN rs | x.w] AS ws, relationships(p) AS res").collect()
    assert(pw.length == 1 && pw(0).getSeq[Long](0).toList == List(3L, 7L))
    assert(pw(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toList ==
      List((1L, 2L, 1), (2L, 3L, 1)))
    // In-spelled pre-bound shortest with walks: the hop is planned in
    // traversal orientation, so node and payload arrays come out in
    // pattern order
    val chainG = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, "n1"), (2L, "n2"), (3L, "n3"), (4L, "n4"))
        .toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L), (2L, 3L), (3L, 4L))
        .toDF("__src", "__dst")))
    val in = CypherPlanner.run(spark, chainG,
      "MATCH (a:V) WHERE id(a) = 4 " +
        "MATCH p = shortestPath((a)<-[rs:E*1..3]-(b:V)) " +
        "RETURN id(b) AS bid, nodes(p) AS ns, [x IN rs | x.src] AS ss " +
        "ORDER BY bid").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList,
        r.getSeq[Long](2).toList)).toList
    assert(in == List(
      (1L, List(4L, 3L, 2L, 1L), List(3L, 2L, 1L)),
      (2L, List(4L, 3L, 2L), List(3L, 2L)),
      (3L, List(4L, 3L), List(3L))))
    // Neo4j `+` string concatenation (r15): literal-driven, mixed
    // operands cast, reduce folds a path string
    val cc = CypherPlanner.run(spark, chainG,
      "MATCH p = shortestPath((a:V)-[:E*1..3]->(b:V)) " +
        "WHERE id(a) = 1 AND id(b) = 3 " +
        "RETURN 'n' + 1 AS m, " +
        "reduce(s = '', x IN nodes(p) | s + '/' + toString(x)) AS ps")
      .collect()
    assert(cc.length == 1 && cc(0).getString(0) == "n1" &&
      cc(0).getString(1) == "/1/2/3")
  }

  test("shortestPath over a multi-hop quantified group (composite BFS, r16)") {
    // linear nation chains: pair set = the h·k union, one arm per pair
    val sp = run(
      "MATCH p = shortestPath((s:Nation) " +
        "((a)-[:NEXT_IN_REGION]->(b)-[:NEXT_IN_REGION]->(c)){1,2} (t:Nation)) " +
        "RETURN s.name AS s_name, t.name AS t_name, length(p) AS hops")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val ref = run(
      "MATCH p = (s:Nation) " +
        "((a)-[:NEXT_IN_REGION]->(b)-[:NEXT_IN_REGION]->(c)){1,2} (t:Nation) " +
        "RETURN s.name AS s_name, t.name AS t_name, length(p) AS hops")
      .collect().groupBy(r => (r.getString(0), r.getString(1)))
      .view.mapValues(_.map(_.getLong(2)).min).toMap
    assert(sp.nonEmpty && sp == ref)
    // first-reach beats longer arms: a custom graph where a pair is
    // reachable at k=1 (via a shortcut) AND k=2 (along the chain)
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 9L).map(i => (i, s"n$i")).toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
        (5L, 6L), (6L, 7L), (1L, 9L), (9L, 5L)).toDF("__src", "__dst")),
      relEndpoints = Map("E" -> ("V", "V")))
    val short = CypherPlanner.run(spark, g,
      "MATCH p = shortestPath((s:V) ((x)-[:E]->(y)-[:E]->(z)){1,3} (t:V)) " +
        "WHERE id(s) = 1 AND id(t) = 5 " +
        "RETURN length(p) AS hops, nodes(p) AS ns").collect()
    assert(short.length == 1)
    assert(short(0).getLong(0) == 2L) // the k=1 shortcut, not the 4-hop chain
    assert(short(0).getSeq[Long](1).toList == List(1L, 9L, 5L))
    // group variables stride-slice the composite walk under the BFS:
    // shortest 1→7 is 2 reps via the shortcut (1→9→5→6→7), beating
    // the 3-rep chain walk
    val gv = CypherPlanner.run(spark, g,
      "MATCH p = shortestPath((s:V) ((x)-[:E]->(y)-[:E]->(z)){1,3} (t:V)) " +
        "WHERE id(s) = 1 AND id(t) = 7 " +
        "RETURN length(p) AS hops, y AS mids, size(z) AS reps").collect()
    assert(gv.length == 1 && gv(0).getLong(0) == 4L)
    assert(gv(0).getSeq[Long](1).toList == List(9L, 6L)) // mid of each rep
    assert(gv(0).getLong(2) == 2L)
    // a repetition may not reuse an edge of an earlier one: on the
    // triangle 1→2→3→1, reaching 2 from 1 takes the repetitions
    // 1→2→3 and 3→1→2, which re-traverses 1→2 — skipped, so only
    // 1⇝3 has a path
    val tri = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 3L).map(i => (i, s"n$i")).toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L), (2L, 3L), (3L, 1L))
        .toDF("__src", "__dst")),
      relEndpoints = Map("E" -> ("V", "V")))
    val reuse = CypherPlanner.run(spark, tri,
      "MATCH p = shortestPath((s:V) ((x)-[:E]->(y)-[:E]->(z)){1,2} (t:V)) " +
        "WHERE id(s) = 1 RETURN id(t) AS t, length(p) AS hops").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toList
    assert(reuse == List(3L -> 2L))
    // allShortestPaths over groups enumerates since r16 — on the
    // unique-successor chains it returns the same pairs as the
    // shortestPath spelling, one path each
    val aspRows = run(
      "MATCH p = allShortestPaths((s:Nation) " +
        "((a)-[:NEXT_IN_REGION]->(b)-[:NEXT_IN_REGION]->(c)){1,2} (t:Nation)) " +
        "RETURN s.name AS sn, t.name AS tn, count(p) AS n").collect()
    assert(aspRows.length == sp.size && aspRows.forall(_.getLong(2) == 1L))
    // zero lower bound under shortestPath rejects loudly
    assertThrows[IllegalArgumentException](run(
      "MATCH p = shortestPath((s:Nation) " +
        "((a)-[:NEXT_IN_REGION]->(b)-[:NEXT_IN_REGION]->(c)){0,2} (t:Nation)) " +
        "RETURN count(p) AS n"))
  }

  test("allShortestPaths walk enumeration: rows = sigma, node-simple, capped") {
    import spark.implicits._
    // diamond + a parallel edge: 1→4 has 3 shortest 2-hop walks
    // (via 2 twice — parallel E edges — and via 3)
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 4L).map(i => (i, s"n$i")).toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
        .toDF("__src", "__dst")),
      relEndpoints = Map("E" -> ("V", "V")))
    // count(p) over the enumeration agrees with the sigma plan
    val sigma = CypherPlanner.run(spark, g,
      "MATCH p = allShortestPaths((a:V)-[:E*1..3]->(b:V)) " +
        "WHERE id(a) = 1 AND id(b) = 4 RETURN count(p) AS np")
      .collect()(0).getLong(0)
    val walks = CypherPlanner.run(spark, g,
      "MATCH p = allShortestPaths((a:V)-[:E*1..3]->(b:V)) " +
        "WHERE id(a) = 1 AND id(b) = 4 " +
        "RETURN nodes(p) AS ns, count(p) AS np ORDER BY ns").collect()
    assert(sigma == 3L)
    assert(walks.map(_.getLong(1)).sum == sigma)
    // the two parallel-edge walks share the node walk [1,2,4]
    assert(walks.map(_.getSeq[Long](0).toList).toList ==
      List(List(1L, 2L, 4L), List(1L, 3L, 4L)))
    assert(walks.map(_.getLong(1)).toList == List(2L, 1L))
    // named relationship lists enumerate per walk: 3 rows, each a
    // 2-element list
    val named = CypherPlanner.run(spark, g,
      "MATCH p = allShortestPaths((a:V)-[rs:E*1..3]->(b:V)) " +
        "WHERE id(a) = 1 AND id(b) = 4 " +
        "RETURN size(rs) AS k").collect().map(_.getLong(0)).toList
    assert(named == List(2L, 2L, 2L))
    // per-pair sigma above the cap fails LOUDLY, never truncates: two
    // chained 40-wide fan stages give the end pair 40² = 1600
    // shortest 4-hop walks
    val mids = 40
    val braid = graft.graph.PropertyGraph(
      nodes = Map("V" -> (0L to 82L).map(i => (i, s"n$i")).toDF("__id", "name")),
      rels = Map("E" -> (0 until 2).flatMap { st =>
        val a = st * (mids + 1L); val b = a + mids + 1L
        (1 to mids).flatMap(i => Seq((a, a + i), (a + i, b)))
      }.toDF("__src", "__dst")),
      relEndpoints = Map("E" -> ("V", "V")))
    val e = intercept[IllegalArgumentException](CypherPlanner.run(spark, braid,
      "MATCH p = allShortestPaths((a:V)-[:E*1..10]->(b:V)) " +
        "WHERE id(a) = 0 " +
        "RETURN nodes(p) AS ns").count())
    assert(e.getMessage.contains("cap"))
  }

  test("allShortestPaths over a multi-hop quantified group enumerates per-path rows") {
    import spark.implicits._
    // two disjoint 2-rep chains 1→…→5 plus a 1-rep shortcut 1→9→5:
    // the SHORTEST repetition count is 1, so only the shortcut
    // survives; removing it (different target 7) exposes the two
    // tied 2-rep chains as TWO path rows
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 12L).map(i => (i, s"n$i")).toDF("__id", "name")),
      rels = Map("E" -> Seq(
        (1L, 2L), (2L, 3L), (3L, 4L), (4L, 7L),   // chain A to 7
        (1L, 5L), (5L, 6L), (6L, 4L),              // chain B shares 4? no: 6→4
        (1L, 9L), (9L, 7L)                          // 1-rep shortcut to 7
      ).toDF("__src", "__dst")),
      relEndpoints = Map("E" -> ("V", "V")))
    // 1→7: first-reach at 1 repetition via the shortcut — one row
    val one = CypherPlanner.run(spark, g,
      "MATCH p = allShortestPaths((s:V) ((x)-[:E]->(y)-[:E]->(z)){1,3} (t:V)) " +
        "WHERE id(s) = 1 AND id(t) = 7 " +
        "RETURN count(p) AS np, min(length(p)) AS h").collect()(0)
    assert(one.getLong(0) == 1L && one.getLong(1) == 2L)
    // 1→4: two edge-disjoint 2-hop... chain A reaches 4 at 1.5 reps —
    // not expressible; via B: 1→5→6 (rep), 6→4 is mid-chain. Use 1→3
    // (1 rep via A) and check node lists ride along
    val walks = CypherPlanner.run(spark, g,
      "MATCH p = allShortestPaths((s:V) ((x)-[:E]->(y)-[:E]->(z)){1,3} (t:V)) " +
        "WHERE id(s) = 1 RETURN id(t) AS t, count(p) AS np, " +
        "min(length(p)) AS h ORDER BY t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    // reachable at even depths from 1: 3 (A, 1 rep), 6 (B, 1 rep),
    // 7 (shortcut, 1 rep), 4 (A needs 3 hops — odd; via B 1→5→6→4 is
    // 3 hops — odd; so 4 only at 2 reps if some 4-hop walk exists:
    // 1→2→3→4→7 ends at 7; 1→5→6→4→7 ends at 7... 4 unreachable even)
    assert(walks == List((3L, 1L, 2L), (6L, 1L, 2L), (7L, 1L, 2L)))
    // group variables bind per enumerated path
    val gv = CypherPlanner.run(spark, g,
      "MATCH p = allShortestPaths((s:V) ((x)-[:E]->(y)-[:E]->(z)){1,3} (t:V)) " +
        "WHERE id(s) = 1 AND id(t) = 7 RETURN y AS mids").collect()
    assert(gv.length == 1 && gv(0).getSeq[Long](0).toList == List(9L))
  }

  test("weighted shortestPath over a multi-hop quantified group sums repetition weights") {
    import spark.implicits._
    // chain 1→2→3→4→5 (cheap) + shortcut 1→9→5 (expensive second
    // hop): fewest repetitions is the shortcut (1 rep, cost 11), the
    // CHEAPEST walk is the 2-rep chain (cost 4) — the weighted search
    // must pick cost over repetition count
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 9L).map(i => (i, s"n$i")).toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0),
        (4L, 5L, 1.0), (1L, 9L, 1.0), (9L, 5L, 10.0))
        .toDF("__src", "__dst", "w")),
      relEndpoints = Map("E" -> ("V", "V")))
    val r = CypherPlanner.run(spark, g,
      "MATCH p = shortestPath((s:V) ((x)-[:E]->(y)-[:E]->(z)){1,3} (t:V), 'w') " +
        "WHERE id(s) = 1 AND id(t) = 5 " +
        "RETURN length(p) AS hops, cost(p) AS c, nodes(p) AS ns, " +
        "y AS mids").collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 4L)
    assert(r(0).getDouble(1) == 4.0)
    assert(r(0).getSeq[Long](2).toList == List(1L, 2L, 3L, 4L, 5L))
    assert(r(0).getSeq[Long](3).toList == List(2L, 4L)) // per-rep mids
    // equivalence with the plain-relationship weighted spelling where
    // both are expressible: 2-hop groups over the tpch CONTAINS graph
    val grp = run(
      "MATCH (a:Part) WHERE a.partkey < 10 " +
        "MATCH p = shortestPath((a) ((x)-[:CONTAINS]-(y)-[:CONTAINS]-(z)){1,2} (b:Part), 'qty') " +
        "WHERE b.partkey < 10 AND a.partkey < b.partkey " +
        "RETURN a.partkey AS pa, b.partkey AS pb, length(p) AS hops, " +
        "round(cost(p), 6) AS cost ORDER BY pa, pb").collect()
      .map(r2 => (r2.getLong(0), r2.getLong(1), r2.getLong(2), r2.getDouble(3)))
    val plain = run(
      "MATCH (a:Part) WHERE a.partkey < 10 " +
        "MATCH p = shortestPath((a)-[:CONTAINS*1..4]-(b:Part), 'qty') " +
        "WHERE b.partkey < 10 AND a.partkey < b.partkey " +
        "RETURN a.partkey AS pa, b.partkey AS pb, length(p) AS hops, " +
        "round(cost(p), 6) AS cost ORDER BY pa, pb").collect()
      .map(r2 => (r2.getLong(0), r2.getLong(1), r2.getLong(2), r2.getDouble(3)))
    // the group spelling constrains walks to EVEN hop counts, so its
    // pairs are the plain ones whose cheapest even walk exists; on
    // the bipartite CONTAINS graph every part-part walk is even, so
    // the two agree exactly
    assert(grp.nonEmpty && grp.toList == plain.toList)
    // a missing weight property rejects loudly
    assertThrows[IllegalArgumentException](run(
      "MATCH p = shortestPath((s:Nation) ((x)-[:NEXT_IN_REGION]->(y)-[:NEXT_IN_REGION]->(z)){1,2} (t:Nation), 'qty') " +
        "RETURN length(p) AS l"))
  }

  test("SHORTEST k returns the k length-least trails per pair") {
    import spark.implicits._
    // 1→4: direct edge (1 hop), via 2 (2 hops), via 3 (2 hops) — the
    // 2 best are the direct edge and the lexicographically-least
    // 2-hop walk
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 4L).map(i => (i, s"n$i")).toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 4L), (1L, 2L), (2L, 4L), (1L, 3L), (3L, 4L))
        .toDF("__src", "__dst")),
      relEndpoints = Map("E" -> ("V", "V")))
    val two = CypherPlanner.run(spark, g,
      "MATCH p = SHORTEST 2 (a:V)-[:E]->{1,3}(b:V) " +
        "WHERE id(a) = 1 AND id(b) = 4 " +
        "RETURN length(p) AS l, nodes(p) AS ns ORDER BY l, ns").collect()
    assert(two.length == 2)
    assert(two(0).getLong(0) == 1L &&
      two(0).getSeq[Long](1).toList == List(1L, 4L))
    assert(two(1).getLong(0) == 2L &&
      two(1).getSeq[Long](1).toList == List(1L, 2L, 4L))
    // k larger than the trail count returns them all (3 here)
    val four = CypherPlanner.run(spark, g,
      "MATCH p = SHORTEST 4 (a:V)-[:E]->{1,3}(b:V) " +
        "WHERE id(a) = 1 AND id(b) = 4 RETURN length(p) AS l ORDER BY l")
      .collect().map(_.getLong(0)).toList
    assert(four == List(1L, 2L, 2L))
    // SHORTEST 1 stays the plain first-reach BFS (one row)
    val one = CypherPlanner.run(spark, g,
      "MATCH p = SHORTEST 1 (a:V)-[:E]->{1,3}(b:V) " +
        "WHERE id(a) = 1 AND id(b) = 4 RETURN length(p) AS l").collect()
    assert(one.length == 1 && one(0).getLong(0) == 1L)
    // k above the supported cap rejects at parse time
    assertThrows[IllegalArgumentException](CypherPlanner.run(spark, g,
      "MATCH p = SHORTEST 99 (a:V)-[:E]->{1,3}(b:V) RETURN length(p) AS l"))
  }

  test("per-binding LIMIT without ORDER BY takes the deterministic item tie-break") {
    import spark.implicits._
    // Neo4j accepts LIMIT-without-ORDER-BY but leaves row choice
    // unspecified; this engine documents the tie-break as the RETURN
    // items ascending in item order — so `v` leads and the kept rows
    // are exactly the 2 smallest v per key, on every run
    val g = graft.graph.PropertyGraph(
      nodes = Map(
        "K" -> Seq((1L, "a"), (2L, "b")).toDF("__id", "name"),
        "V" -> (10L to 15L).map(i => (i, i * 10)).toDF("__id", "v")),
      rels = Map("HAS" -> Seq((1L, 10L), (1L, 12L), (1L, 14L),
        (2L, 11L), (2L, 13L), (2L, 15L)).toDF("__src", "__dst")),
      relEndpoints = Map("HAS" -> ("K", "V")))
    val rows = CypherPlanner.run(spark, g,
      "MATCH (k:K) CALL { WITH k MATCH (k)-[:HAS]->(x:V) " +
        "RETURN x.v AS v LIMIT 2 } " +
        "RETURN k.name AS kn, v ORDER BY kn, v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toList
    assert(rows == List(("a", 100L), ("a", 120L), ("b", 110L), ("b", 130L)))
    // the same contract inside a COUNT subquery body horizon
    val cnt = CypherPlanner.run(spark, g,
      "MATCH (k:K) RETURN k.name AS kn, " +
        "COUNT { MATCH (k)-[:HAS]->(x:V) WITH x LIMIT 2 " +
        "  RETURN x } AS n ORDER BY kn").collect()
      .map(r => (r.getString(0), r.getLong(1))).toList
    assert(cnt == List(("a", 2L), ("b", 2L)))
  }

  test("toString of a zone-constructed datetime renders Neo4j's zoned format") {
    val r = run(
      "UNWIND [1] AS one RETURN " +
        "toString(datetime({year: 2024, month: 6, day: 1, hour: 12, " +
        "timezone: 'America/New_York'})) AS summer, " +
        "toString(datetime({year: 2024, month: 1, day: 15, hour: 12, " +
        "timezone: 'America/New_York'})) AS winter, " +
        "toString(datetime({year: 2024, month: 6, day: 1, hour: 12, " +
        "minute: 30, second: 45, timezone: 'Asia/Tokyo'})) AS tokyo, " +
        "toString(datetime({year: 2024, month: 6, day: 1, hour: 12, " +
        "timezone: 'UTC'})) AS utc").collect().head
    // java.time/Neo4j rendering: seconds omitted when zero, ±HH:MM
    // offset (DST-correct), 'Z' at zero offset, zone name bracketed
    assert(r.getString(0) == "2024-06-01T12:00-04:00[America/New_York]")
    assert(r.getString(1) == "2024-01-15T12:00-05:00[America/New_York]")
    assert(r.getString(2) == "2024-06-01T12:30:45+09:00[Asia/Tokyo]")
    assert(r.getString(3) == "2024-06-01T12:00Z[UTC]")
  }

  test("aliased zone-constructed datetime renders like the nested form") {
    // r18 — the aliased-display carve-out closed: the WITH horizon
    // carries the literal zone, through passthrough hops too
    val r = run(
      "UNWIND [1] AS u " +
        "WITH datetime({year: 2024, month: 6, day: 1, hour: 12, " +
        "timezone: 'America/New_York'}) AS d " +
        "WITH d, 1 AS one " +
        "RETURN toString(d) AS s, toString(one) AS o").collect().head
    assert(r.getString(0) == "2024-06-01T12:00-04:00[America/New_York]")
    assert(r.getString(1) == "1")
    // non-literal / absent zones keep the plain UTC rendering
    val p = run(
      "UNWIND [1] AS u " +
        "WITH datetime({year: 2024, month: 6, day: 1, hour: 12}) AS d " +
        "RETURN toString(d) AS s").collect().head
    assert(p.getString(0).startsWith("2024-06-01 12:00:00"))
  }

  test("weighted allShortestPaths enumerates ALL cost-minimal walks") {
    import spark.implicits._
    // minimal 1⇝4 cost is 2.0, reached four ways: TWO parallel direct
    // edges (w=2 each — distinct paths via edge identity), and two
    // 2-hop walks (1→2→4, 1→3→4, w=1+1) — ties ACROSS hop counts, so
    // first-reach pruning would lose the direct pair and a
    // keep-one-walk Bellman–Ford would lose three of the four
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 4L).map(i => (i, s"n$i")).toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L, 1.0), (2L, 4L, 1.0), (1L, 3L, 1.0),
        (3L, 4L, 1.0), (1L, 4L, 2.0), (1L, 4L, 2.0), (1L, 4L, 5.0))
        .toDF("__src", "__dst", "w")),
      relEndpoints = Map("E" -> ("V", "V")))
    val rows = CypherPlanner.run(spark, g,
      "MATCH p = allShortestPaths((a:V)-[:E*1..3]->(b:V), 'w') " +
        "WHERE id(a) = 1 AND id(b) = 4 " +
        "RETURN length(p) AS l, round(cost(p), 1) AS c, " +
        "reduce(s = '', x IN nodes(p) | s + '/' + toString(x)) AS ns " +
        "ORDER BY l, ns").collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getDouble(1) == 2.0))
    assert(rows.map(_.getLong(0)).toList == List(1L, 1L, 2L, 2L))
    assert(rows.map(_.getString(2)).toList ==
      List("/1/4", "/1/4", "/1/2/4", "/1/3/4"))
    // count(p) = number of enumerated minimal paths
    val np = CypherPlanner.run(spark, g,
      "MATCH p = allShortestPaths((a:V)-[:E*1..3]->(b:V), 'w') " +
        "WHERE id(a) = 1 AND id(b) = 4 RETURN count(p) AS n")
      .collect()(0).getLong(0)
    assert(np == 4L)
    // a NAMED relationship list rides the enumeration: per-walk
    // weight reduce re-derives cost(p) on every minimal walk
    val viaRs = CypherPlanner.run(spark, g,
      "MATCH p = allShortestPaths((a:V)-[rs:E*1..3]->(b:V), 'w') " +
        "WHERE id(a) = 1 AND id(b) = 4 " +
        "RETURN size(rs) AS n_steps, " +
        "round(reduce(acc = 0.0, r IN rs | acc + r.w), 1) AS wsum " +
        "ORDER BY n_steps").collect()
    assert(viaRs.length == 4)
    assert(viaRs.forall(_.getDouble(1) == 2.0))
    assert(viaRs.map(_.getLong(0)).toList == List(1L, 1L, 2L, 2L))
  }

  test("weighted allShortestPaths over a multi-hop group keeps cross-repetition-count ties") {
    import spark.implicits._
    // 1⇝4 minimal cost 4, two ways at DIFFERENT repetition counts:
    // one repetition 1→2→4 (2+2) and two repetitions 1→3→5, 5→6→4
    // (1+1 then 1+1) — plus a cost-10 decoy repetition 1→7→4. The
    // composite enumeration must keep BOTH minima (first-reach or
    // keep-one-walk plans lose one of them).
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 7L).map(i => (i, s"n$i")).toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L, 2.0), (2L, 4L, 2.0), (1L, 3L, 1.0),
        (3L, 5L, 1.0), (5L, 6L, 1.0), (6L, 4L, 1.0), (1L, 7L, 5.0),
        (7L, 4L, 5.0)).toDF("__src", "__dst", "w")),
      relEndpoints = Map("E" -> ("V", "V")))
    val rows = CypherPlanner.run(spark, g,
      "MATCH (a:V) WHERE id(a) = 1 " +
        "MATCH p = allShortestPaths((a) ((x)-[:E]->(y)-[:E]->(z)){1,2} (b:V), 'w') " +
        "WHERE id(b) = 4 " +
        "RETURN length(p) AS l, round(cost(p), 1) AS c, " +
        "reduce(s = '', x IN nodes(p) | s + '/' + toString(x)) AS ns " +
        "ORDER BY l").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getDouble(1) == 4.0))
    assert(rows.map(_.getLong(0)).toList == List(2L, 4L))
    assert(rows.map(_.getString(2)).toList ==
      List("/1/2/4", "/1/3/5/6/4"))
  }

  test("trail/tie enumerations fail loudly above the per-pair walk cap") {
    import spark.implicits._
    // 40 parallel 1→2 edges × 40 parallel 2→3 edges = 1600 two-hop
    // trails (and 1600 equal-cost minima) for the (1, 3) pair — above
    // the 1000-walk cap, so BOTH new enumerations must throw the
    // documented loud guard instead of silently truncating
    val manyEdges = (1 to 40).flatMap(i =>
      Seq((1L, 2L, 1.0), (2L, 3L, 1.0)))
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 3L).map(i => (i, s"n$i")).toDF("__id", "name")),
      rels = Map("E" -> manyEdges.toDF("__src", "__dst", "w")),
      relEndpoints = Map("E" -> ("V", "V")))
    val eK = intercept[IllegalArgumentException](CypherPlanner.run(spark, g,
      "MATCH p = SHORTEST 2 (a:V)-[:E]->{1,2}(b:V) " +
        "WHERE id(a) = 1 AND id(b) = 3 RETURN length(p) AS l").collect())
    assert(eK.getMessage.contains("cap"))
    val eW = intercept[IllegalArgumentException](CypherPlanner.run(spark, g,
      "MATCH p = allShortestPaths((a:V)-[:E*1..2]->(b:V), 'w') " +
        "WHERE id(a) = 1 AND id(b) = 3 RETURN count(p) AS n").collect())
    assert(eW.getMessage.contains("cap"))
  }

  test("SHORTEST k over a multi-hop quantified group enumerates composite trails") {
    import spark.implicits._
    // one 1-repetition trail 1⇝5 (1→2→5) and one 2-repetition trail
    // (1→3→4 then 4→2→5) — the k-best window must keep BOTH (the
    // 2nd-best trail takes more repetitions than the shortest, so
    // first-reach pruning would lose it)
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 5L).map(i => (i, s"n$i")).toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L), (2L, 5L), (1L, 3L), (3L, 4L), (4L, 2L))
        .toDF("__src", "__dst")),
      relEndpoints = Map("E" -> ("V", "V")))
    val rows = CypherPlanner.run(spark, g,
      "MATCH (a:V) WHERE id(a) = 1 " +
        "MATCH p = SHORTEST 2 (a) ((x)-[:E]->(y)-[:E]->(z)){1,2} (b:V) " +
        "WHERE id(b) = 5 RETURN length(p) AS l ORDER BY l")
      .collect().map(_.getLong(0)).toList
    assert(rows == List(2L, 4L))
    // SHORTEST 1 stays the first-reach composite BFS (one walk)
    val one = CypherPlanner.run(spark, g,
      "MATCH (a:V) WHERE id(a) = 1 " +
        "MATCH p = SHORTEST 1 (a) ((x)-[:E]->(y)-[:E]->(z)){1,2} (b:V) " +
        "WHERE id(b) = 5 RETURN length(p) AS l")
      .collect().map(_.getLong(0)).toList
    assert(one == List(2L))
  }

  test("group variables under weighted shortestPath bind from the carried walk") {
    // the quantified-group spelling of the weighted search must agree
    // with the plain var-length spelling on cost/hops, and the group
    // variable must slice the SAME carried walk
    val grp = run(
      "MATCH (a:Part) WHERE a.partkey < 10 " +
        "MATCH p = shortestPath((a) ((x)-[:CONTAINS]-(y)){1,4} (b:Part), 'qty') " +
        "WHERE b.partkey < 10 AND a.partkey < b.partkey " +
        "RETURN a.partkey AS pa, b.partkey AS pb, length(p) AS hops, " +
        "round(cost(p), 6) AS cost, y AS steps ORDER BY pa, pb").collect()
    val plain = run(
      "MATCH (a:Part) WHERE a.partkey < 10 " +
        "MATCH p = shortestPath((a)-[:CONTAINS*1..4]-(b:Part), 'qty') " +
        "WHERE b.partkey < 10 AND a.partkey < b.partkey " +
        "RETURN a.partkey AS pa, b.partkey AS pb, length(p) AS hops, " +
        "round(cost(p), 6) AS cost, nodes(p) AS ns ORDER BY pa, pb").collect()
    assert(grp.nonEmpty && grp.length == plain.length)
    grp.zip(plain).foreach { case (g, pl) =>
      assert(g.getLong(0) == pl.getLong(0) && g.getLong(1) == pl.getLong(1))
      assert(g.getLong(2) == pl.getLong(2))
      assert(g.getDouble(3) == pl.getDouble(3))
      // y = per-step end nodes = the walk after its start
      assert(g.getSeq[Long](4).toList == pl.getSeq[Long](4).toList.tail)
    }
  }

  test("inline pattern WHERE hoists into the owning context (Neo4j 5)") {
    // node + rel inline predicates ≡ the clause-level WHERE spelling
    val inline = run(
      "MATCH (c:Customer WHERE c.acctbal > 9000.0)-[r:FROM_NATION WHERE c.acctbal < 9900.0]->(n:Nation WHERE n.regionkey = 2) " +
        "RETURN n.name AS nm, count(*) AS n ORDER BY nm").collect()
      .map(r => (r.getString(0), r.getLong(1))).toList
    val hoisted = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) " +
        "WHERE c.acctbal > 9000.0 AND c.acctbal < 9900.0 AND n.regionkey = 2 " +
        "RETURN n.name AS nm, count(*) AS n ORDER BY nm").collect()
      .map(r => (r.getString(0), r.getLong(1))).toList
    assert(inline.nonEmpty && inline == hoisted)
    // OPTIONAL MATCH: the inline predicate filters the optional side
    // BEFORE the left join — unmatched outer rows keep their nulls
    val opt = run(
      "MATCH (n:Nation) OPTIONAL MATCH (c:Customer WHERE c.acctbal > 9999.0)-[:FROM_NATION]->(n) " +
        "RETURN n.name AS nm, count(c) AS nc").collect()
    assert(opt.length == 25)
    // EXISTS subquery accepts inline WHERE on its pattern
    val ex = run(
      "MATCH (n:Nation) WHERE EXISTS { (s:Supplier WHERE s.acctbal > 9000.0)-[:SUPP_NATION]->(n) } " +
        "RETURN count(*) AS n").collect()(0).getLong(0)
    val exRef = run(
      "MATCH (n:Nation) WHERE EXISTS { (s:Supplier)-[:SUPP_NATION]->(n) WHERE s.acctbal > 9000.0 } " +
        "RETURN count(*) AS n").collect()(0).getLong(0)
    assert(ex == exRef)
    // Neo4j's own rules stay loud rejects
    assertThrows[IllegalArgumentException](run(
      "MATCH (a:Nation)-[r:NEXT_IN_REGION*1..3 WHERE r.x = 1]->(b:Nation) RETURN count(*) AS n"))
    assertThrows[IllegalArgumentException](run(
      "MATCH (s:Nation) ((a WHERE a.regionkey = 1)-[:NEXT_IN_REGION]->(b)){1,2} (t:Nation) RETURN count(*) AS n"))
    assertThrows[IllegalArgumentException](run(
      "MATCH (a:Nation) MATCH (b:Nation) MERGE (a)-[r:NEXT_IN_REGION WHERE a.regionkey = 1]->(b) RETURN count(*) AS n"))
  }

  test("GQL path selectors and postfix quantifiers resolve onto shortest plans") {
    val paren = run(
      "MATCH p = shortestPath((a:Nation)-[:NEXT_IN_REGION*1..10]->(b:Nation)) " +
        "RETURN a.name AS a, b.name AS b, length(p) AS h").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val any = run(
      "MATCH p = ANY SHORTEST (a:Nation)-[:NEXT_IN_REGION]->+(b:Nation) " +
        "RETURN a.name AS a, b.name AS b, length(p) AS h").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(any == paren)
    val k1 = run(
      "MATCH p = SHORTEST 1 (a:Nation)-[:NEXT_IN_REGION]->{1,3}(b:Nation) " +
        "RETURN count(*) AS n").collect()(0).getLong(0)
    assert(k1 == paren.count(_._2 <= 3))
    // ALL SHORTEST keeps the multiplicity semantics
    val gqlAll = run(
      "MATCH p = ALL SHORTEST (o:Order)-[:CONTAINS]->+(b:Part) " +
        "WHERE o.orderkey < 100 RETURN count(p) AS s").collect()(0)
    val parenAll = run(
      "MATCH p = allShortestPaths((o:Order)-[:CONTAINS*1..10]->(b:Part)) " +
        "WHERE o.orderkey < 100 RETURN count(p) AS s").collect()(0)
    assert(gqlAll.getLong(0) == parenAll.getLong(0) && gqlAll.getLong(0) > 0)
    // `->*` is the zero-or-more quantifier: includes the empty path
    val star = run(
      "MATCH (a:Region)-[:IN_REGION]->*(b) RETURN count(*) AS n")
      .collect()(0).getLong(0)
    assert(star == 5L) // regions have no outgoing edges: zero-branch only
    // SHORTEST 2 composes with the GQL quantifier (r16): the
    // unique-successor chain has exactly one trail per pair, so the
    // k = 2 result equals the k = 1 one
    val kTwo = run(
      "MATCH p = SHORTEST 2 (a:Nation)-[:NEXT_IN_REGION]->+(b:Nation) " +
        "WHERE a.regionkey = 3 RETURN count(*) AS n").collect()(0).getLong(0)
    val kOne = run(
      "MATCH p = SHORTEST 1 (a:Nation)-[:NEXT_IN_REGION]->+(b:Nation) " +
        "WHERE a.regionkey = 3 RETURN count(*) AS n").collect()(0).getLong(0)
    assert(kTwo == kOne && kOne > 0)
  }

  test("label expressions: % wildcard, ! negation, & conjunction") {
    val nation = graft.Tables.nation(spark, TestSpark.sf).count()
    val region = graft.Tables.region(spark, TestSpark.sf).count()
    val supplier = graft.Tables.supplier(spark, TestSpark.sf).count()
    // % = any labeled node = the full union
    val wild = run("MATCH (n:%) RETURN count(*) AS n").collect()(0).getLong(0)
    val all = run("MATCH (n) RETURN count(*) AS n").collect()(0).getLong(0)
    assert(wild == all && wild > 0)
    // pure negation: everything except the negated tables
    val neg = run("MATCH (n:!Order&!Customer&!Part) RETURN count(*) AS n")
      .collect()(0).getLong(0)
    assert(neg == nation + region + supplier)
    // positive & negated conjunction; negating a label the node never
    // carries is a no-op, negating its own label empties the scan
    val posneg = run("MATCH (n:Supplier&!Order) RETURN count(*) AS n")
      .collect()(0).getLong(0)
    assert(posneg == supplier)
    assert(run("MATCH (n:Supplier&!Supplier) RETURN count(*) AS n")
      .collect()(0).getLong(0) == 0L)
    // unknown negated label excludes nothing (Neo4j)
    assert(run("MATCH (n:Nation&!NoSuch) RETURN count(*) AS n")
      .collect()(0).getLong(0) == nation)
    // & conjunction of two positives ≡ the :A:B spelling; negation
    // composes with a dynamically added label (SET n:Label)
    val conj = run(
      "MATCH (n:Nation) WHERE n.regionkey = 1 SET n:Hot " +
        "WITH count(*) AS tagged " +
        "MATCH (m:Nation&!Hot) RETURN tagged, count(*) AS cold")
      .collect()(0)
    assert(conj.getLong(0) == 5L && conj.getLong(1) == nation - 5L)
    // properties still filter per branch on a pure-negation union
    val p = run("MATCH (n:!Region {regionkey: 1}) RETURN count(*) AS n")
      .collect()(0).getLong(0)
    assert(p == 5L) // exactly the region-1 nations
    // mixing | with conjunction forms rejects at parse time
    assertThrows[IllegalArgumentException](run(
      "MATCH (n:Nation|Region&!Order) RETURN count(*) AS n"))
  }

  test("weighted shortestPath carries the cheapest walk when consumed") {
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, "n1"), (2L, "n2"), (3L, "n3"), (4L, "n4"))
        .toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L, 1.0), (2L, 4L, 1.0), (1L, 3L, 5.0),
        (3L, 4L, 1.0), (1L, 4L, 10.0)).toDF("__src", "__dst", "w")))
    val r = CypherPlanner.run(spark, g,
      "MATCH p = shortestPath((a:V)-[rs:E*1..3]->(b:V), 'w') " +
        "WHERE id(a) = 1 AND id(b) = 4 " +
        "RETURN nodes(p) AS ns, cost(p) AS c, length(p) AS l, " +
        "[x IN rs | x.w] AS ws").collect()
    assert(r.length == 1)
    assert(r(0).getSeq[Long](0).toList == List(1L, 2L, 4L))
    assert(r(0).getDouble(1) == 2.0 && r(0).getLong(2) == 2L)
    assert(r(0).getSeq[Double](3).toList == List(1.0, 1.0))
    // equal-cost same-round walks pick the lexicographically-least
    // node sequence (deterministic recorded choice)
    val g2 = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, "n1"), (2L, "n2"), (3L, "n3"), (4L, "n4"))
        .toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L, 1.0), (2L, 4L, 1.0), (1L, 3L, 1.0),
        (3L, 4L, 1.0)).toDF("__src", "__dst", "w")))
    val tie = CypherPlanner.run(spark, g2,
      "MATCH p = shortestPath((a:V)-[:E*1..3]->(b:V), 'w') " +
        "WHERE id(a) = 1 AND id(b) = 4 RETURN nodes(p) AS ns").collect()
    assert(tie(0).getSeq[Long](0).toList == List(1L, 2L, 4L))
    // named lists under allShortestPaths enumerate since r16 —
    // unweighted, 1→4's single shortest walk is the direct edge
    val aspRows = CypherPlanner.run(spark, g,
      "MATCH p = allShortestPaths((a:V)-[rs:E*1..3]->(b:V)) " +
        "WHERE id(a) = 1 AND id(b) = 4 RETURN size(rs) AS n").collect()
    assert(aspRows.length == 1 && aspRows.forall(_.getLong(0) == 1L))
  }

  test("scoped CALL (n) { } is the importing-WITH plan; (*) imports everything") {
    val scoped = run(
      "MATCH (n:Nation) CALL (n) { MATCH (c:Customer)-[:FROM_NATION]->(n) " +
        "RETURN count(*) AS nc } RETURN n.name AS nm, nc ORDER BY nm")
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    val importing = run(
      "MATCH (n:Nation) CALL { WITH n MATCH (c:Customer)-[:FROM_NATION]->(n) " +
        "RETURN count(*) AS nc } RETURN n.name AS nm, nc ORDER BY nm")
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    assert(scoped.nonEmpty && scoped == importing)
    // (*) imports every bound variable — here that is just n
    val star = run(
      "MATCH (n:Nation) CALL (*) { MATCH (c:Customer)-[:FROM_NATION]->(n) " +
        "RETURN count(*) AS nc } RETURN n.name AS nm, nc ORDER BY nm")
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    assert(star == scoped)
    // () is the uncorrelated form
    val empty = run(
      "MATCH (r:Region) CALL () { MATCH (n:Nation) RETURN count(*) AS nn } " +
        "RETURN count(*) AS rows, min(nn) AS nn").collect()(0)
    assert(empty.getLong(0) == 5L && empty.getLong(1) == 25L)
    // CALL (*) composes badly with IN TRANSACTIONS batching — loud
    assertThrows[IllegalArgumentException](run(
      "MATCH (n:Nation) CALL (*) { SET n.x = 1 } IN TRANSACTIONS " +
        "RETURN count(*) AS n"))
  }

  test("relationship-type negation drops listed types from the typeless union") {
    val neg = run(
      "MATCH (n:Nation)<-[r:!FROM_NATION]-(m) " +
        "RETURN type(r) AS rt, count(*) AS c ORDER BY rt")
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    val all = run(
      "MATCH (n:Nation)<-[r]-(m) RETURN type(r) AS rt, count(*) AS c ORDER BY rt")
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    assert(neg == all.filterNot(_._1 == "FROM_NATION") && neg.nonEmpty)
    // negating every compatible type empties the hop
    val none = run(
      "MATCH (n:Nation)<-[r:!FROM_NATION|!SUPP_NATION|!NEXT_IN_REGION]-(m) " +
        "RETURN count(*) AS c").collect()(0).getLong(0)
    assert(none == 0L)
    // an unknown negated type excludes nothing
    val unk = run(
      "MATCH (n:Nation)<-[r:!NO_SUCH]-(m) RETURN count(*) AS c")
      .collect()(0).getLong(0)
    assert(unk == all.map(_._2).sum)
    // mixing negated and positive alternatives rejects at parse time
    assertThrows[IllegalArgumentException](run(
      "MATCH (n)-[r:!FROM_NATION|SUPP_NATION]->(m) RETURN count(*) AS c"))
    assertThrows[IllegalArgumentException](run(
      "MATCH (n)-[r:FROM_NATION|!SUPP_NATION]->(m) RETURN count(*) AS c"))
  }

  test("full-body EXISTS subqueries: WITH horizons, NOT, ignored RETURN") {
    // multi-clause body ≡ the flattened two-hop exists
    val full = run(
      "MATCH (n:Nation) WHERE EXISTS { " +
        "MATCH (s:Supplier)-[:SUPP_NATION]->(n) WITH s WHERE s.acctbal > 1000.0 " +
        "MATCH (s)-[:SUPPLIES]->(p:Part) WHERE p.size > 20 RETURN p } " +
        "RETURN n.name AS nm ORDER BY nm").collect().map(_.getString(0)).toList
    val flat = run(
      "MATCH (n:Nation) WHERE EXISTS { " +
        "(s:Supplier)-[:SUPP_NATION]->(n) } " +
        "RETURN n.name AS nm ORDER BY nm").collect().map(_.getString(0)).toList
    assert(full.nonEmpty && full.toSet.subsetOf(flat.toSet))
    val direct = run(
      "MATCH (s:Supplier)-[:SUPP_NATION]->(n:Nation) WHERE s.acctbal > 1000.0 " +
        "MATCH (s)-[:SUPPLIES]->(p:Part) WHERE p.size > 20 " +
        "RETURN DISTINCT n.name AS nm ORDER BY nm")
      .collect().map(_.getString(0)).toList
    assert(full == direct)
    // NOT EXISTS is the complement
    val not = run(
      "MATCH (n:Nation) WHERE NOT EXISTS { " +
        "MATCH (s:Supplier)-[:SUPP_NATION]->(n) WITH s WHERE s.acctbal > 1000.0 " +
        "MATCH (s)-[:SUPPLIES]->(p:Part) WHERE p.size > 20 RETURN p } " +
        "RETURN count(*) AS c").collect()(0).getLong(0)
    assert(not == 25L - full.size)
    // the trailing RETURN is IGNORED (Neo4j rule): an aggregate there
    // cannot turn empty matches into existence
    val agg = run(
      "MATCH (n:Nation) WHERE EXISTS { " +
        "MATCH (s:Supplier)-[:SUPP_NATION]->(n) WHERE s.acctbal > 99999.0 " +
        "RETURN count(*) } RETURN count(*) AS c").collect()(0).getLong(0)
    assert(agg == 0L)
    // a body referencing no outer variable rejects loudly
    assertThrows[IllegalArgumentException](run(
      "MATCH (n:Nation) WHERE EXISTS { MATCH (r:Region) WITH r WHERE " +
        "r.regionkey > 99 MATCH (r)<-[:IN_REGION]-(x) RETURN x } " +
        "RETURN count(*) AS c"))
  }

  test("full-body COUNT/COLLECT subqueries: RETURN honored, per-binding") {
    // COUNT { body RETURN DISTINCT p } ≡ the relational distinct count
    val got = run(
      "MATCH (n:Nation) RETURN n.name AS nm, " +
        "COUNT { MATCH (s:Supplier)-[:SUPP_NATION]->(n) " +
        "WITH s WHERE s.acctbal > 1000.0 " +
        "MATCH (s)-[:SUPPLIES]->(p:Part) RETURN DISTINCT p } AS c " +
        "ORDER BY nm").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val ref = run(
      "MATCH (s:Supplier)-[:SUPP_NATION]->(n:Nation) WHERE s.acctbal > 1000.0 " +
        "MATCH (s)-[:SUPPLIES]->(p:Part) " +
        "RETURN n.name AS nm, count(DISTINCT p) AS c ORDER BY nm")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // zero-match nations read 0 from the subquery, absent from ref
    assert(got.nonEmpty && ref.forall { case (k, v) => got(k) == v })
    assert(got.filterNot { case (k, _) => ref.contains(k) }.values.forall(_ == 0L))
    // COLLECT gathers the single RETURN column, sorted; empty = []
    val coll = run(
      "MATCH (r:Region) RETURN r.name AS nm, " +
        "size(COLLECT { MATCH (n:Nation)-[:IN_REGION]->(r) " +
        "WITH n WHERE n.nationkey >= 10 RETURN n.name }) AS k " +
        "ORDER BY nm").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val collRef = run(
      "MATCH (n:Nation)-[:IN_REGION]->(r:Region) WHERE n.nationkey >= 10 " +
        "RETURN r.name AS nm, count(*) AS k ORDER BY nm")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(collRef.forall { case (k, v) => coll(k) == v })
    // per-binding LIMIT without ORDER BY runs with the deterministic
    // item tie-break (r17 — formerly a loud reject): caps per binding
    val capped = run(
      "MATCH (n:Nation) RETURN n.name AS nm, COUNT { " +
        "MATCH (s:Supplier)-[:SUPP_NATION]->(n) WITH s LIMIT 2 " +
        "MATCH (s)-[:SUPPLIES]->(p:Part) RETURN p } AS c ORDER BY nm")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(capped.nonEmpty && capped.forall(_._2 >= 0L))
    // COLLECT bodies must end in a single-item RETURN
    assertThrows[IllegalArgumentException](run(
      "MATCH (n:Nation) RETURN size(COLLECT { " +
        "MATCH (s:Supplier)-[:SUPP_NATION]->(n) WITH s WHERE s.acctbal > 0.0 " +
        "MATCH (s)-[:SUPPLIES]->(p:Part) RETURN p, s }) AS k"))
  }

  test("per-binding SKIP/LIMIT inside subquery bodies and aggregating CALL returns") {
    import org.apache.spark.sql.functions.{col, row_number, countDistinct}
    import org.apache.spark.sql.expressions.Window
    // COUNT body with a mid-body top-k horizon: each nation's supplier
    // frame caps at its 2 highest-acctbal suppliers BEFORE expanding
    // to parts (per-binding window, not a global limit)
    val got = run(
      "MATCH (n:Nation) RETURN n.name AS nm, " +
        "COUNT { MATCH (s:Supplier)-[:SUPP_NATION]->(n) " +
        "WITH s ORDER BY s.acctbal DESC, s.suppkey LIMIT 2 " +
        "MATCH (s)-[:SUPPLIES]->(p:Part) RETURN p } AS c ORDER BY nm")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal").desc, col("s_suppkey"))
    val top2 = graft.Tables.supplier(spark, TestSpark.sf)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 2)
      .select(col("s_suppkey"), col("s_nationkey"))
    val perNation = top2
      .join(graft.Tables.lineitem(spark, TestSpark.sf)
        .select(col("l_suppkey"), col("l_partkey")).distinct(),
        col("s_suppkey") === col("l_suppkey"))
      .groupBy(col("s_nationkey")).count()
      .join(graft.Tables.nation(spark, TestSpark.sf),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("count")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perNation.nonEmpty && perNation.forall { case (k, v) => got(k) == v })
    assert(got.filterNot { case (k, _) => perNation.contains(k) }
      .values.forall(_ == 0L))
    // COLLECT with ORDER BY + LIMIT on the trailing RETURN: top-2
    // nation names per region (collected list itself stays sorted)
    val coll = run(
      "MATCH (r:Region) RETURN r.name AS nm, " +
        "COLLECT { MATCH (n:Nation)-[:IN_REGION]->(r) " +
        "RETURN n.name ORDER BY n.name DESC LIMIT 2 } AS top2 ORDER BY nm")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    val nat = run(
      "MATCH (n:Nation)-[:IN_REGION]->(r:Region) " +
        "RETURN r.name AS rn, n.name AS nn").collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(_.getString(1)).sorted.takeRight(2).toList).toMap
    assert(coll.nonEmpty && nat.forall { case (k, v) => coll(k) == v })
    // SKIP drops per-binding prefixes (EXISTS: a binding with <= skip
    // rows stops existing)
    val skipped = run(
      "MATCH (r:Region) WHERE EXISTS { MATCH (n:Nation)-[:IN_REGION]->(r) " +
        "WITH n ORDER BY n.nationkey SKIP 4 RETURN n } " +
        "RETURN count(*) AS k").collect()(0).getLong(0)
    val fivePlus = nat.count(_._2.nonEmpty) // every region with >= 5 nations
    assert(skipped == run(
      "MATCH (n:Nation)-[:IN_REGION]->(r:Region) WITH r, count(n) AS k " +
        "WHERE k >= 5 RETURN count(*) AS c").collect()(0).getLong(0))
    assert(fivePlus >= skipped.toInt)
    // LIMIT without ORDER BY takes the deterministic item tie-break
    // (r17 — formerly a loud reject): a node item orders by its id,
    // so the form equals the explicit ORDER BY id(s) spelling
    val noOrder = run(
      "MATCH (n:Nation) RETURN n.name AS nm, COUNT { " +
        "MATCH (s:Supplier)-[:SUPP_NATION]->(n) WITH s LIMIT 2 " +
        "MATCH (s)-[:SUPPLIES]->(p:Part) RETURN p } AS c ORDER BY nm")
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    val explicitOrd = run(
      "MATCH (n:Nation) RETURN n.name AS nm, COUNT { " +
        "MATCH (s:Supplier)-[:SUPP_NATION]->(n) WITH s ORDER BY id(s) LIMIT 2 " +
        "MATCH (s)-[:SUPPLIES]->(p:Part) RETURN p } AS c ORDER BY nm")
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    assert(noOrder == explicitOrd && noOrder.nonEmpty)
    // aggregating CALL RETURN with grouped top-1 (r16 — formerly a
    // loud reject): each customer's most frequent order status
    val call = run(
      "MATCH (c:Customer) WHERE c.custkey <= 30 " +
        "CALL { WITH c MATCH (o:Order)-[:PLACED_BY]->(c) " +
        "RETURN o.orderstatus AS st, count(o) AS k ORDER BY k DESC, st LIMIT 1 } " +
        "RETURN c.custkey AS id, st, k ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val refCall = graft.Tables.orders(spark, TestSpark.sf)
      .filter(col("o_custkey") <= 30)
      .groupBy(col("o_custkey"), col("o_orderstatus")).count()
      .withColumn("rk", row_number().over(Window.partitionBy(col("o_custkey"))
        .orderBy(col("count").desc, col("o_orderstatus"))))
      .filter(col("rk") === 1)
      .select(col("o_custkey"), col("o_orderstatus"), col("count"))
      .orderBy(col("o_custkey")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(call.nonEmpty && call.toList == refCall.toList)
    // all-aggregate CALL: LIMIT 1 keeps every binding (incl. count=0),
    // SKIP 1 drops them all
    val keep = run(
      "MATCH (r:Region) CALL { WITH r MATCH (n:Nation)-[:IN_REGION]->(r) " +
        "RETURN count(n) AS k ORDER BY k LIMIT 1 } RETURN count(*) AS c")
      .collect()(0).getLong(0)
    assert(keep == 5L)
    val drop = run(
      "MATCH (r:Region) CALL { WITH r MATCH (n:Nation)-[:IN_REGION]->(r) " +
        "RETURN count(n) AS k ORDER BY k SKIP 1 } RETURN count(*) AS c")
      .collect()(0).getLong(0)
    assert(drop == 0L)
  }

  test("subquery bodies cannot redeclare an outer correlation key") {
    // a body horizon shadowing an outer scalar key would silently
    // mis-correlate (the key column would carry the body's value) —
    // Neo4j rejects redeclaring outer variables; so do we (r16)
    assertThrows[IllegalArgumentException](run(
      "MATCH (n:Nation) WITH n.nationkey AS x, n.name AS nm " +
        "RETURN nm, COUNT { MATCH (s:Supplier) WHERE s.nationkey = x " +
        "WITH s.acctbal AS x RETURN DISTINCT x } AS c"))
    // identity re-threading `WITH x` / `x AS x` stays legal
    val ok = run(
      "MATCH (n:Nation) WITH n.nationkey AS x, n.name AS nm " +
        "RETURN nm, COUNT { MATCH (s:Supplier) WHERE s.nationkey = x " +
        "WITH s, x WHERE s.acctbal > 0.0 RETURN s } AS c ORDER BY nm")
    assert(ok.count() == 25)
  }

  test("inline WHERE on earlier elements survives a nested subquery expression") {
    // the r16 parser frame fix: (a … WHERE pred) followed by an
    // element whose inline WHERE holds a FULL-BODY subquery must keep
    // pred in the OUTER filter, not drop it or push it into the body
    val got = run(
      "MATCH (s:Supplier WHERE s.acctbal > 5000.0)-[:SUPP_NATION]->" +
        "(n WHERE EXISTS { MATCH (n)<-[:FROM_NATION]-(c:Customer) WITH c " +
        "WHERE c.acctbal > 9000.0 RETURN c }) " +
        "RETURN s.suppkey AS sk ORDER BY sk").collect().map(_.getLong(0)).toList
    val ref = run(
      "MATCH (s:Supplier)-[:SUPP_NATION]->(n:Nation) " +
        "WHERE s.acctbal > 5000.0 AND " +
        "EXISTS { MATCH (n)<-[:FROM_NATION]-(c:Customer) WITH c " +
        "WHERE c.acctbal > 9000.0 RETURN c } " +
        "RETURN s.suppkey AS sk ORDER BY sk").collect().map(_.getLong(0)).toList
    assert(got.nonEmpty && got == ref)
    // and strictly fewer rows than without the first element's filter
    val loose = run(
      "MATCH (s:Supplier)-[:SUPP_NATION]->" +
        "(n WHERE EXISTS { MATCH (n)<-[:FROM_NATION]-(c:Customer) WITH c " +
        "WHERE c.acctbal > 9000.0 RETURN c }) " +
        "RETURN s.suppkey AS sk").count()
    assert(got.size < loose)
  }

  test("allShortestPaths counts shortest-path multiplicity via sigma recurrence") {
    // directed 1-hop over CONTAINS: count(p) per (order, part) pair
    // must equal the PARALLEL relationship count (one per lineitem) —
    // the semantics that distinguishes allShortestPaths from
    // shortestPath's one-row-per-pair
    val got = run(
      "MATCH p = allShortestPaths((o:Order)-[:CONTAINS*1..2]->(b:Part)) " +
      "WHERE o.orderkey < 200 " +
      "RETURN o.orderkey AS ok, b.partkey AS pk, count(p) AS np")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val li = graft.Tables.lineitem(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("l_orderkey") < 200)
      .groupBy("l_orderkey", "l_partkey").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty && got == li)
    // length(p) still reports the shortest hop count per pair
    val hops = run(
      "MATCH p = allShortestPaths((o:Order)-[:CONTAINS*1..2]->(b:Part)) " +
      "WHERE o.orderkey < 200 RETURN length(p) AS h, count(*) AS n")
      .collect().map(r => r.getLong(0)).toSet
    assert(hops == Set(1L)) // bipartite: parts are 1 hop from orders
  }

  test("CASE bands and coalesce plug optional-match nulls") {
    val bands = run(
      "MATCH (c:Customer) RETURN CASE WHEN c.acctbal < 0.0 THEN 'neg' " +
      "WHEN c.acctbal < 5000.0 THEN 'mid' ELSE 'high' END AS band, count(*) AS n " +
      "ORDER BY band").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bands.values.sum == graft.Tables.customer(spark, TestSpark.sf).count())
    assert(bands.keySet.subsetOf(Set("neg", "mid", "high")))
    val coal = run(
      "MATCH (n:Nation) OPTIONAL MATCH (c:Customer)-[:FROM_NATION]->(n) " +
      "WHERE c.acctbal > 999999.0 " + // matches nobody → all nulls
      "WITH n, coalesce(c.acctbal, 0.0) AS bal " +
      "RETURN n.name AS nation, sum(bal) AS total ORDER BY nation").collect()
    assert(coal.length == graft.Tables.nation(spark, TestSpark.sf).count())
    assert(coal.forall(_.getDouble(1) == 0.0))
  }

  test("list comprehension filters/projects and reduce folds, as HOFs") {
    val rows = run(
      "UNWIND [1] AS one " +
      "RETURN reduce(acc = 0, x IN [1, 2, 3, 4] | acc + x) AS total, " +
      "[y IN [1, 2, 3, 4] WHERE y > 2 | y * 10] AS big").collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 10L)
    assert(rows.head.getSeq[Long](1) == Seq(30L, 40L))
    // lambda variables resolve against collected per-group lists too
    val rich = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) " +
      "WITH n, collect(c.acctbal) AS bals " +
      "RETURN n.name AS nation, " +
      "reduce(acc = 0, b IN [x IN bals WHERE x > 5000.0] | acc + 1) AS n_rich " +
      "ORDER BY nation").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = graft.Tables.customer(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("c_acctbal") > 5000.0)
      .count()
    assert(rich.values.sum == direct)
  }

  test("COUNT subquery keeps zero-match rows and matches the grouped count") {
    val viaSub = run(
      "MATCH (c:Customer) RETURN c.custkey AS id, " +
      "COUNT { (o:Order)-[:PLACED_BY]->(c) } AS n_orders ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every customer appears, including order-less ones (count 0)
    assert(viaSub.size == graft.Tables.customer(spark, TestSpark.sf).count())
    // agreement with the direct per-customer order counts
    val direct = graft.Tables.orders(spark, TestSpark.sf)
      .groupBy(org.apache.spark.sql.functions.col("o_custkey"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSub.forall { case (id, n) => n == direct.getOrElse(id, 0L) })
    // zero-match rows survive with 0: an impossible property map
    // matches nothing, yet every customer still gets a row
    val zeros = run(
      "MATCH (c:Customer) RETURN c.custkey AS id, " +
      "COUNT { (o:Order {orderstatus: 'NO_SUCH'})-[:PLACED_BY]->(c) } AS n " +
      "ORDER BY id").collect()
    assert(zeros.length.toLong == graft.Tables.customer(spark, TestSpark.sf).count())
    assert(zeros.forall(_.getLong(1) == 0L))
  }

  test("RETURN * keeps label-less variables whole (no scan elision)") {
    // x is label-less; without star-aware needs analysis its node
    // scan would be elided and the star expansion would silently emit
    // zero columns for it
    val df = run("MATCH (n:Nation)-[:IN_REGION]->(x) RETURN * ORDER BY n.nationkey")
    val xCols = df.columns.filter(_.startsWith("x."))
    assert(xCols.nonEmpty, s"x vanished from RETURN *: ${df.columns.toSeq}")
    assert(df.columns.exists(_.startsWith("n.")))
    assert(df.count() == graft.Tables.nation(spark, TestSpark.sf).count())
    // hidden COUNT{} aliases must not surface through the star either
    val starCount = run(
      "MATCH (n:Nation) RETURN *, COUNT { (c:Customer)-[:FROM_NATION]->(n) } AS c " +
      "ORDER BY n.nationkey")
    assert(!starCount.columns.exists(_.startsWith("__graft_")),
      s"planner-internal binding leaked: ${starCount.columns.toSeq}")
    assert(starCount.columns.contains("c"))
    // two disconnected chains: star covers both cartesian sides
    val two = run("MATCH (r:Region) MATCH (n:Nation) RETURN * ORDER BY r.regionkey, n.nationkey")
    assert(two.columns.exists(_.startsWith("r.")) && two.columns.exists(_.startsWith("n.")))
    assert(two.count() ==
      graft.Tables.region(spark, TestSpark.sf).count() *
        graft.Tables.nation(spark, TestSpark.sf).count())
    // RETURN DISTINCT * dedups by node identity through the expansion
    val d = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) RETURN DISTINCT n.regionkey AS rk, n.name AS nm")
      .count()
    val dStar = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) WITH n MATCH (x:Region) " +
      "WHERE x.regionkey = n.regionkey RETURN DISTINCT * ").count()
    assert(dStar == graft.Tables.customer(spark, TestSpark.sf)
      .select("c_nationkey").distinct().count(), s"DISTINCT * gave $dStar (d=$d)")
  }

  test("EXISTS under OR evaluates as a boolean flag, not a reject") {
    // customers that placed an order OR hold a negative balance —
    // inexpressible as semi/anti joins alone
    val viaOr = run(
      "MATCH (c:Customer) " +
      "WHERE EXISTS { (o:Order)-[:PLACED_BY]->(c) } OR c.acctbal < 0.0 " +
      "RETURN count(*) AS n").first().getLong(0)
    val buyers = run(
      "MATCH (c:Customer) WHERE EXISTS { (o:Order)-[:PLACED_BY]->(c) } " +
      "RETURN c.custkey AS id").collect().map(_.getLong(0)).toSet
    val negs = graft.Tables.customer(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("c_acctbal") < 0.0)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(viaOr == (buyers ++ negs).size)
    // NOT distributes over the flag too (De Morgan sanity)
    val notOr = run(
      "MATCH (c:Customer) " +
      "WHERE NOT (EXISTS { (o:Order)-[:PLACED_BY]->(c) } OR c.acctbal < 0.0) " +
      "RETURN count(*) AS n").first().getLong(0)
    val all = graft.Tables.customer(spark, TestSpark.sf).count()
    assert(notOr == all - viaOr)
  }

  test("size() of a WITH-bound list variable is element count") {
    val rows = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) " +
      "WITH n.name AS nation, collect(DISTINCT c.mktsegment) AS segs " +
      "RETURN nation, size(segs) AS n_segs, size(nation) AS n_chars " +
      "ORDER BY nation").collect()
    assert(rows.nonEmpty)
    // list-typed binding → element count; string binding → char count
    assert(rows.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 5))
    assert(rows.forall(r => r.getLong(2) == r.getString(0).length.toLong))
    // the list-ness survives a second WITH horizon
    val carried = run(
      "MATCH (n:Nation) WITH collect(n.name) AS names " +
      "WITH names AS nms RETURN size(nms) AS n").collect().head.getLong(0)
    assert(carried == graft.Tables.nation(spark, TestSpark.sf).count())
  }

  test("percentileDisc rank is float-proof and NULL-safe") {
    // 0.07 × 100 rounds to 7.000000000000001 in double; the exact
    // integer rank must still pick the 7th smallest (1..100 → 7)
    val r = run(
      "UNWIND range(1, 100) AS x " +
      "RETURN percentileDisc(x, 0.07) AS p07, percentileDisc(x, 0.5) AS p50, " +
      "percentileDisc(x, 1.0) AS p100").collect().head
    assert(r.getLong(0) == 7L)
    assert(r.getLong(1) == 50L)
    assert(r.getLong(2) == 100L)
    // a group whose argument is entirely NULL yields NULL, not an
    // ANSI INVALID_ARRAY_INDEX on the empty collect
    val n = run(
      "MATCH (n:Nation) OPTIONAL MATCH (c:Customer)-[:FROM_NATION]->(n) " +
      "WHERE c.acctbal > 999999.0 " + // matches nobody → all nulls
      "RETURN percentileDisc(c.acctbal, 0.5) AS p").collect().head
    assert(n.isNullAt(0))
  }

  test("multi-type hops: undirected and var-length forms agree with unions") {
    // undirected multi-type: IN_REGION ∪ NEXT_IN_REGION seen from
    // Nation in either orientation
    val multi = run(
      "MATCH (n:Nation)-[r:IN_REGION|NEXT_IN_REGION]-(x) " +
      "RETURN type(r) AS t, count(*) AS n ORDER BY t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val single = Seq("IN_REGION", "NEXT_IN_REGION").map { t =>
      t -> run(s"MATCH (n:Nation)-[:$t]-(x) RETURN count(*) AS n")
        .collect().head.getLong(0)
    }.toMap
    assert(multi == single.filter(_._2 > 0))
    // var-length over a multi-type hop expands each step through both
    // tables; 1-hop slice equals the single-hop union
    val var1 = run(
      "MATCH (n:Nation)-[:IN_REGION|NEXT_IN_REGION*1..1]->(x) " +
      "RETURN count(*) AS n").collect().head.getLong(0)
    val dir1 = run(
      "MATCH (n:Nation)-[r:IN_REGION|NEXT_IN_REGION]->(x) " +
      "RETURN count(*) AS n").collect().head.getLong(0)
    assert(var1 == dir1)
  }

  test("math/string scalar functions evaluate with Neo4j semantics") {
    val r = run(
      "UNWIND [1] AS one RETURN " +
      "abs(-2.5) AS a, round(2.345, 2) AS rd, sign(-7) AS sg, " +
      "toInteger(3.9) AS ti, 17 % 5 AS m, 2 ^ 10 AS p, " +
      "substring('hello world', 6) AS sub1, substring('hello', 1, 3) AS sub2, " +
      "replace('banana', 'an', 'AN') AS rep, split('a,b,c', ',') AS sp, " +
      "left('spark', 2) AS l2, right('spark', 9) AS r9, " +
      "reverse('abc') AS rev, toString(42) AS ts").collect().head
    assert(r.getAs[Double]("a") == 2.5)
    assert(r.getAs[Double]("rd") == 2.35)
    assert(r.getAs[Long]("sg") == -1L)
    assert(r.getAs[Long]("ti") == 3L) // truncation toward zero, not rounding
    assert(r.getAs[Long]("m") == 2L)
    assert(r.getAs[Double]("p") == 1024.0)
    assert(r.getAs[String]("sub1") == "world") // 0-indexed start
    assert(r.getAs[String]("sub2") == "ell")
    assert(r.getAs[String]("rep") == "bANANa")
    assert(r.getSeq[String](r.fieldIndex("sp")) == Seq("a", "b", "c"))
    assert(r.getAs[String]("l2") == "sp")
    assert(r.getAs[String]("r9") == "spark") // n past length → whole string
    assert(r.getAs[String]("rev") == "cba")
    assert(r.getAs[String]("ts") == "42")
  }

  test("toBooleanOrNull follows Neo4j 5: strings, integers, all else null") {
    val r = run(
      "UNWIND [1] AS one RETURN " +
      "toBooleanOrNull('true') AS st, toBooleanOrNull('False') AS sf, " +
      "toBooleanOrNull('yes') AS sx, toBooleanOrNull(1) AS i1, " +
      "toBooleanOrNull(0) AS i0, toBooleanOrNull(-7) AS im, " +
      "toBooleanOrNull(1.5) AS f, toBooleanOrNull('42') AS s42, " +
      "toBooleanOrNull('0') AS s0, toBooleanOrNull(true) AS bt")
      .collect().head
    assert(r.getAs[Boolean]("st") == true)
    assert(r.getAs[Boolean]("sf") == false)
    assert(r.isNullAt(r.fieldIndex("sx")))
    assert(r.getAs[Boolean]("i1") == true)   // Neo4j: nonzero integer → true
    assert(r.getAs[Boolean]("i0") == false)  // 0 → false
    assert(r.getAs[Boolean]("im") == true)
    assert(r.isNullAt(r.fieldIndex("f")))    // floats are not convertible
    // numeric STRINGS are not integers: Neo4j returns null for any
    // string other than 'true'/'false' (r17 — dispatch on declared
    // type, not on the printed form)
    assert(r.isNullAt(r.fieldIndex("s42")))
    assert(r.isNullAt(r.fieldIndex("s0")))
    assert(r.getAs[Boolean]("bt") == true)   // booleans pass through
  }

  test("toBoolean shares the Neo4j 5 type dispatch (integers convert)") {
    // r18, ADVICE: the r17 strict-string fix stringified integers and
    // nulled all of them — toBoolean(1) must be true, exactly like
    // toBooleanOrNull (Neo4j 5 accepts BOOLEAN | STRING | INTEGER)
    val r = run(
      "UNWIND [1] AS one RETURN " +
      "toBoolean('true') AS st, toBoolean('FALSE') AS sf, " +
      "toBoolean('yes') AS sx, toBoolean(1) AS i1, " +
      "toBoolean(0) AS i0, toBoolean(-7) AS im, " +
      "toBoolean('42') AS s42, toBoolean(false) AS bf")
      .collect().head
    assert(r.getAs[Boolean]("st") == true)
    assert(r.getAs[Boolean]("sf") == false)
    assert(r.isNullAt(r.fieldIndex("sx")))
    assert(r.getAs[Boolean]("i1") == true)
    assert(r.getAs[Boolean]("i0") == false)
    assert(r.getAs[Boolean]("im") == true)
    assert(r.isNullAt(r.fieldIndex("s42")))
    assert(r.getAs[Boolean]("bf") == false)
  }

  test("list predicates and head/last/tail over lists") {
    val r = run(
      "UNWIND [1] AS one RETURN " +
      "any(x IN [1, 5, 9] WHERE x > 8) AS any_t, " +
      "all(x IN [1, 5, 9] WHERE x > 0) AS all_t, " +
      "all(x IN [1, 5, 9] WHERE x > 1) AS all_f, " +
      "none(x IN [1, 5, 9] WHERE x < 0) AS none_t, " +
      "single(x IN [1, 5, 9] WHERE x = 5) AS single_t, " +
      "single(x IN [5, 5, 9] WHERE x = 5) AS single_f, " +
      "head([3, 1, 2]) AS h, last([3, 1, 2]) AS l, " +
      "size(tail([3, 1, 2])) AS nt").collect().head
    assert(r.getAs[Boolean]("any_t") && r.getAs[Boolean]("all_t")
      && !r.getAs[Boolean]("all_f") && r.getAs[Boolean]("none_t"))
    assert(r.getAs[Boolean]("single_t") && !r.getAs[Boolean]("single_f"))
    assert(r.getAs[Long]("h") == 3L && r.getAs[Long]("l") == 2L)
    assert(r.getAs[Long]("nt") == 2L)
  }

  test("^ is left-associative per openCypher (2^3^2 = 64)") {
    val r = run("UNWIND [1] AS one RETURN 2 ^ 3 ^ 2 AS p, 2 ^ 10 AS p10")
      .collect().head
    assert(r.getAs[Double]("p") == 64.0)
    assert(r.getAs[Double]("p10") == 1024.0)
  }

  test("temporal scalars: constructors, components, ISO dayOfWeek") {
    val r = run(
      "UNWIND [1] AS one RETURN " +
      "date('2024-03-15').year AS y, date('2024-03-15').month AS m, " +
      "date('2024-03-15').day AS d, " +
      "datetime('2024-03-15T13:45:30').hour AS h, " +
      "datetime('2024-03-15T13:45:30').minute AS mi, " +
      "datetime('2024-03-15T13:45:30').second AS s, " +
      "date('2024-03-15').dayOfWeek AS dow, " +
      "date('2024-03-17').dayOfWeek AS dow_sun, " +
      "datetime('1970-01-01T00:01:00').epochSeconds AS es, " +
      "datetime('1970-01-01T00:00:01').epochMillis AS em").collect().head
    assert(r.getAs[Long]("y") == 2024L && r.getAs[Long]("m") == 3L
      && r.getAs[Long]("d") == 15L)
    assert(r.getAs[Long]("h") == 13L && r.getAs[Long]("mi") == 45L
      && r.getAs[Long]("s") == 30L)
    // ISO numbering: Friday=5, Sunday=7 (Spark's dayofweek is Sun=1 —
    // the planner shifts)
    assert(r.getAs[Long]("dow") == 5L && r.getAs[Long]("dow_sun") == 7L)
    assert(r.getAs[Long]("es") == 60L && r.getAs[Long]("em") == 1000L)
  }

  test("temporal comparisons and date() truncation on a real instant") {
    // events graph: Event.ts is a genuine timestamp property
    val df = CypherQueries.temporal(TestSpark.spark, TestSpark.sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the WHERE bound holds and hour-components agree with the date
    rows.foreach { row =>
      assert(row.getAs[java.sql.Date]("d").toString >= "2024-01-08")
      assert(row.getAs[Long]("h") >= 6L && row.getAs[Long]("h") <= 23L)
      assert(row.getAs[Long]("dow") >= 1L && row.getAs[Long]("dow") <= 7L)
    }
  }

  test("datetime.truncate buckets instants; unsupported units fail loudly") {
    val r = run(
      "UNWIND [1] AS one RETURN " +
      "datetime.truncate('month', datetime('2024-03-15T13:45:30')) AS mo, " +
      "datetime.truncate('week', datetime('2024-03-15T13:45:30')) AS wk, " +
      "date.truncate('year', datetime('2024-03-15T13:45:30')) AS yr")
      .collect().head
    assert(r.getAs[java.sql.Timestamp]("mo").toString == "2024-03-01 00:00:00.0")
    // 2024-03-15 is a Friday; ISO weeks start Monday 03-11
    assert(r.getAs[java.sql.Timestamp]("wk").toString == "2024-03-11 00:00:00.0")
    assert(r.getAs[java.sql.Date]("yr").toString == "2024-01-01")
    val err = intercept[IllegalArgumentException] {
      run("UNWIND [1] AS one RETURN " +
        "datetime.truncate('fortnight', datetime('2024-03-15T00:00:00')) AS x")
        .collect()
    }
    assert(err.getMessage.contains("fortnight"))
  }

  test("nodes(p) reports the path's node ids in PATTERN order, both directions") {
    // derive the chain of the start nation's region from the data
    // (NEXT_IN_REGION links nations of one region in nationkey order)
    val nation = graft.Tables.nation(spark, TestSpark.sf).collect()
      .map(r => r.getAs[Number]("n_nationkey").longValue ->
        r.getAs[Number]("n_regionkey").longValue)
    val region0 = nation.filter(_._2 == nation.toMap.apply(0L))
      .map(_._1).sorted.toList
    val List(k0, k1, k2) = region0.take(3)
    val out = run(
      s"MATCH p = (a:Nation)-[:NEXT_IN_REGION*1..2]->(b:Nation) " +
      s"WHERE a.nationkey = $k0 RETURN length(p) AS hops, nodes(p) AS ns")
      .collect().map(r => r.getAs[Long]("hops") ->
        r.getSeq[Long](r.fieldIndex("ns")).toList.map(_ - 3000000000L)).toMap
    assert(out(1L) == List(k0, k1))
    assert(out(2L) == List(k0, k1, k2))
    // In: `(a)<-[*]-(b)` — the walk runs b→…→a, but nodes(p) must
    // surface pattern order a, …, b
    val in = run(
      s"MATCH p = (a:Nation)<-[:NEXT_IN_REGION*1..2]-(b:Nation) " +
      s"WHERE a.nationkey = $k2 RETURN length(p) AS hops, nodes(p) AS ns")
      .collect().map(r => r.getAs[Long]("hops") ->
        r.getSeq[Long](r.fieldIndex("ns")).toList.map(_ - 3000000000L)).toMap
    assert(in(1L) == List(k2, k1))
    assert(in(2L) == List(k2, k1, k0))
    // zero-hop named path: the path is its single node
    val zero = run("MATCH p = (r:Region) RETURN size(nodes(p)) AS n, " +
      "length(p) AS len LIMIT 1").collect().head
    assert(zero.getAs[Long]("n") == 1L && zero.getAs[Long]("len") == 0L)
  }

  test("relationships(p) reports edge identities in PATTERN order, both directions") {
    val nation = graft.Tables.nation(spark, TestSpark.sf).collect()
      .map(r => r.getAs[Number]("n_nationkey").longValue ->
        r.getAs[Number]("n_regionkey").longValue)
    val region0 = nation.filter(_._2 == nation.toMap.apply(0L))
      .map(_._1).sorted.toList
    val List(k0, k1, k2) = region0.take(3)
    def pairs(r: org.apache.spark.sql.Row): List[(Long, Long)] =
      r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("rs")).toList
        .map(e => (e.getAs[Long]("u") - 3000000000L,
          e.getAs[Long]("v") - 3000000000L))
    val out = run(
      s"MATCH p = (a:Nation)-[:NEXT_IN_REGION*1..2]->(b:Nation) " +
      s"WHERE a.nationkey = $k0 RETURN length(p) AS hops, relationships(p) AS rs")
      .collect().map(r => r.getAs[Long]("hops") -> pairs(r)).toMap
    // edges keep their intrinsic orientation (u -> v), listed in
    // traversal order
    assert(out(1L) == List((k0, k1)))
    assert(out(2L) == List((k0, k1), (k1, k2)))
    // In hop: the walk runs b -> ... -> a; relationships(p) must list
    // pattern order (a's edge first)
    val in = run(
      s"MATCH p = (a:Nation)<-[:NEXT_IN_REGION*1..2]-(b:Nation) " +
      s"WHERE a.nationkey = $k2 RETURN length(p) AS hops, relationships(p) AS rs")
      .collect().map(r => r.getAs[Long]("hops") -> pairs(r)).toMap
    assert(in(1L) == List((k1, k2)))
    assert(in(2L) == List((k1, k2), (k0, k1)))
    // a fixed single hop also binds relationships(p)
    val one = run(
      s"MATCH p = (a:Nation)-[:NEXT_IN_REGION]->(b:Nation) " +
      s"WHERE a.nationkey = $k0 RETURN size(relationships(p)) AS n")
      .collect().head
    assert(one.getAs[Long]("n") == 1L)
  }

  test("CALL subquery: uncorrelated cross-joins, correlated decorrelates") {
    // uncorrelated: the 1-row aggregate multiplies onto every nation
    val un = run(
      "MATCH (n:Nation) CALL { MATCH (r:Region) RETURN count(r) AS n_regions } " +
      "RETURN n.name AS nation, n_regions ORDER BY nation LIMIT 3").collect()
    assert(un.length == 3 && un.forall(_.getAs[Long]("n_regions") == 5L))
    // correlated per-key top-k: ORDER BY+LIMIT inside CALL becomes a
    // window partitioned by the import key
    val topk = run(
      "MATCH (n:Nation) CALL { WITH n " +
      "MATCH (c:Customer)-[:FROM_NATION]->(n) " +
      "RETURN c.acctbal AS bal ORDER BY bal DESC LIMIT 2 } " +
      "RETURN n.name AS nation, bal ORDER BY nation, bal DESC")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val expect = graft.Tables.customer(spark, TestSpark.sf)
      .join(graft.Tables.nation(spark, TestSpark.sf),
        org.apache.spark.sql.functions.col("c_nationkey") ===
          org.apache.spark.sql.functions.col("n_nationkey"))
      .select("n_name", "c_acctbal").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).toSeq
      .flatMap { case (n, rows) => rows.sortBy(-_._2).take(2) }
      .sortBy(p => (p._1, -p._2))
    assert(topk.toSeq == expect)
    // window plan, not a per-row loop
    val plan = run(
      "MATCH (n:Nation) CALL { WITH n " +
      "MATCH (c:Customer)-[:FROM_NATION]->(n) " +
      "RETURN c.acctbal AS bal ORDER BY bal DESC LIMIT 2 } " +
      "RETURN n.name AS nation, bal").queryExecution.executedPlan.toString
    assert(plan.contains("Window"), "per-key top-k must plan as a window")
  }

  test("CALL subquery: pure-count aggregation keeps zero-match rows at 0") {
    val df = run(
      "MATCH (n:Nation) CALL { WITH n " +
      "MATCH (c:Customer)-[:FROM_NATION]->(n) WHERE c.acctbal > 99999999.0 " +
      "RETURN count(c) AS n_rich } " +
      "RETURN n.name AS nation, n_rich ORDER BY nation")
    val rows = df.collect()
    val nNations = graft.Tables.nation(spark, TestSpark.sf).count()
    assert(rows.length == nNations, "every nation row must survive")
    assert(rows.forall(_.getAs[Long]("n_rich") == 0L))
  }

  test("properties(n) yields the key-sorted struct array; map projection builds a struct") {
    val rows = run(
      "MATCH (r:Region) UNWIND properties(r) AS p " +
      "RETURN r.regionkey AS id, p.key AS k, p.val AS v ORDER BY id, k")
      .collect()
    // 5 regions × 2 properties, keys sorted, no nulls
    assert(rows.length == 10)
    assert(rows.map(_.getAs[String]("k")).distinct.sorted
      .sameElements(Array("name", "regionkey")))
    assert(rows.forall(_.getAs[String]("v") != null))

    val m = run(
      "MATCH (n:Nation) WHERE n.nationkey = 3 " +
      "WITH n {.name, .regionkey} AS m RETURN m.name AS nm, m.regionkey AS rk")
      .collect().head
    assert(m.getAs[String]("nm") == "NATION_3" && m.getAs[Long]("rk") == 3L)

    // computed entries `key: expr` mix with property selectors (r14)
    val c = run(
      "MATCH (n:Nation) WHERE n.nationkey = 3 " +
        "WITH n {.name, dbl: n.nationkey * 2, tag: 'x'} AS m " +
        "RETURN m.name AS nm, m.dbl AS d, m.tag AS t")
      .collect().head
    assert(c.getAs[String]("nm") == "NATION_3" &&
      c.getAs[Long]("d") == 6L && c.getAs[String]("t") == "x")
    // `.*` parses (r15) — it resolves to ALL properties at plan time
    val star = run(
      "MATCH (n:Nation) WHERE n.nationkey = 3 " +
        "RETURN n {.*} AS m").collect().head
      .getAs[org.apache.spark.sql.Row]("m")
    assert(star.schema.fieldNames.sorted
      .sameElements(Array("name", "nationkey", "regionkey")))
  }

  test("list indexing and slicing: 0-based, negative, open and OOB bounds") {
    val r = run(
      "UNWIND [1] AS one WITH [10, 20, 30, 40] AS xs RETURN " +
      "xs[0] AS a, xs[3] AS b, xs[-1] AS c, xs[-4] AS d, " +
      "xs[9] AS oob, " +                       // out of bounds → null
      "size(xs[1..3]) AS s13, " +              // [20, 30]
      "xs[1..3][0] AS s13h, " +                // chained postfix
      "size(xs[..2]) AS open_lo, " +           // [10, 20]
      "size(xs[2..]) AS open_hi, " +           // [30, 40]
      "size(xs[-2..]) AS neg_lo, " +           // [30, 40]
      "size(xs[2..99]) AS clamp_hi, " +        // [30, 40]
      "size(xs[3..1]) AS empty")               // inverted → []
      .collect().head
    assert(r.getAs[Long]("a") == 10L && r.getAs[Long]("b") == 40L)
    assert(r.getAs[Long]("c") == 40L && r.getAs[Long]("d") == 10L)
    assert(r.isNullAt(r.fieldIndex("oob")))
    assert(r.getAs[Long]("s13") == 2L && r.getAs[Long]("s13h") == 20L)
    assert(r.getAs[Long]("open_lo") == 2L && r.getAs[Long]("open_hi") == 2L)
    assert(r.getAs[Long]("neg_lo") == 2L && r.getAs[Long]("clamp_hi") == 2L)
    assert(r.getAs[Long]("empty") == 0L)
  }

  test("pattern comprehension: per-row lists, empty on zero matches") {
    // threshold high enough that some nations have NO qualifying
    // customer at sf0.001 — those rows must keep [] (size 0, sum 0),
    // not drop
    val rows = run(
      "MATCH (n:Nation) RETURN n.name AS nation, " +
      "size([(c:Customer)-[:FROM_NATION]->(n) WHERE c.acctbal > 9900.0 " +
      "| c.custkey]) AS n_rich ORDER BY nation").collect()
    assert(rows.length == 25, "zero-match nations must survive")
    assert(rows.exists(_.getAs[Long]("n_rich") == 0L))
    assert(rows.exists(_.getAs[Long]("n_rich") > 0L))

    // a list literal opening with a parenthesized expression still
    // parses as a literal (comprehension attempt backtracks)
    val lit = run("UNWIND [1] AS one RETURN size([(1+2), 3]) AS n")
      .collect().head
    assert(lit.getAs[Long]("n") == 2L)
  }

  test("ceil/floor preserve IEEE signed zero (Math.ceil semantics)") {
    // Neo4j ceil = Math.ceil: inputs in (-1, 0) yield -0.0, and the
    // driver compare hashes raw bytes, so the sign bit is observable.
    // Spark's ceil returns LONG (+0.0 after the double cast) — the
    // planner restores the sign; this canary pins it.
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    val r = run(
      "UNWIND [1] AS one RETURN " +
      "ceil(-0.5) AS cneg, floor(-0.5) AS fneg, " +
      "ceil(0.5) AS cpos, floor(0.5) AS fpos, " +
      "ceil(2.5) AS c25, floor(-2.5) AS f25").collect().head
    assert(bits(r.getAs[Double]("cneg")) == bits(-0.0)) // the r6 failure
    assert(bits(r.getAs[Double]("fneg")) == bits(-1.0))
    assert(bits(r.getAs[Double]("cpos")) == bits(1.0))
    assert(bits(r.getAs[Double]("fpos")) == bits(0.0)) // +0.0, not -0.0
    assert(r.getAs[Double]("c25") == 3.0 && r.getAs[Double]("f25") == -3.0)
  }

  test("startNode/endNode follow intrinsic edge orientation, not pattern spelling") {
    // Out-spelling and In-spelling of the same hop must agree: the
    // relationship's start is the stored source either way
    val out = run("MATCH (o:Order)-[r:CONTAINS]->(p:Part) WHERE p.partkey = 1 " +
      "RETURN id(startNode(r)) AS s, id(endNode(r)) AS e, id(o) AS oid")
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(0) == r.getLong(2))) // start = order
    val in = run("MATCH (p:Part)<-[r:CONTAINS]-(o:Order) WHERE p.partkey = 1 " +
      "RETURN id(startNode(r)) AS s, id(endNode(r)) AS e, id(o) AS oid")
      .collect()
    assert(in.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      out.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    // undirected hops lose intrinsic orientation: loud failure
    intercept[Exception] {
      run("MATCH (o:Order)-[r:CONTAINS]-(p:Part) WHERE p.partkey = 1 " +
        "RETURN id(startNode(r)) AS s").collect()
    }
    // bare startNode (whole-node expansion) is an explicit parse error
    intercept[IllegalArgumentException] {
      run("MATCH (o:Order)-[r:CONTAINS]->(p:Part) RETURN startNode(r) AS n")
        .collect()
    }
  }

  test("MERGE is idempotent: re-merging existing pairs adds no edges") {
    val before = run(
      "MATCH (n:Nation)-[:IN_REGION]->(r:Region) RETURN count(*) AS n")
      .collect().head.getLong(0)
    val after = run(
      "MATCH (n:Nation)-[:IN_REGION]->(r:Region) MERGE (n)-[:IN_REGION]->(r) " +
        "WITH count(*) AS w MATCH (x)-[:IN_REGION]->(y) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(after == before)
  }

  test("MERGE dedups new pairs; CREATE preserves duplicates") {
    // two orders of the same part produce ONE merged edge but BOTH
    // created edges (multiset CREATE vs set MERGE)
    val merged = run(
      "MATCH (o:Order)-[:CONTAINS]->(p:Part) WHERE p.partkey <= 3 " +
        "MERGE (p)-[:SEEN_IN]->(p) " +
        "WITH count(*) AS w MATCH (a)-[:SEEN_IN]->(b) RETURN count(*) AS n")
      .collect().head.getLong(0)
    val created = run(
      "MATCH (o:Order)-[:CONTAINS]->(p:Part) WHERE p.partkey <= 3 " +
        "CREATE (p)-[:SEEN_IN]->(p) " +
        "WITH count(*) AS w MATCH (a)-[:SEEN_IN]->(b) RETURN count(*) AS n")
      .collect().head.getLong(0)
    val matches = run(
      "MATCH (o:Order)-[:CONTAINS]->(p:Part) WHERE p.partkey <= 3 " +
        "RETURN count(*) AS n").collect().head.getLong(0)
    val distinctParts = run(
      "MATCH (o:Order)-[:CONTAINS]->(p:Part) WHERE p.partkey <= 3 " +
        "RETURN count(DISTINCT p.partkey) AS n").collect().head.getLong(0)
    assert(merged == distinctParts && created == matches && created > merged)
  }

  test("writes never leak into the shared graph (inputs immutable)") {
    run("MATCH (o:Order)-[:CONTAINS]->(p:Part) WHERE p.partkey = 1 " +
      "CREATE (o)-[:EPHEMERAL]->(p) " +
      "WITH count(*) AS w MATCH (a)-[:EPHEMERAL]->(b) RETURN count(*) AS n")
      .collect()
    // a fresh query against the cached graph must not see EPHEMERAL
    intercept[Exception] {
      run("MATCH (a)-[:EPHEMERAL]->(b) RETURN count(*) AS n").collect()
    }
  }

  test("DELETE removes matched edges row-level; unmatched rows survive") {
    val total = run(
      "MATCH (o:Order)-[r:CONTAINS]->(p:Part) RETURN count(*) AS n")
      .collect().head.getLong(0)
    val low = run(
      "MATCH (o:Order)-[r:CONTAINS]->(p:Part) WHERE r.qty <= 10.0 " +
        "RETURN count(*) AS n").collect().head.getLong(0)
    val left = run(
      "MATCH (o:Order)-[r:CONTAINS]->(p:Part) WHERE r.qty <= 10.0 DELETE r " +
        "WITH count(*) AS w MATCH (o2:Order)-[r2:CONTAINS]->(p2:Part) " +
        "RETURN count(*) AS n").collect().head.getLong(0)
    assert(low > 0 && left == total - low)
    // deleting an unbound/var-length variable fails loudly
    intercept[Exception] {
      run("MATCH (o:Order) DELETE o RETURN count(*) AS n").collect()
    }
  }

  test("SET writes a fresh property; unmatched nodes read null") {
    val rows = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) WHERE n.nationkey <= 4 " +
        "SET c.flagged = 1 WITH count(*) AS w MATCH (c2:Customer) " +
        "RETURN c2.flagged AS flagged, count(*) AS n ORDER BY flagged")
      .collect()
    val byFlag = rows.map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1)).toMap
    val flagged = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) WHERE n.nationkey <= 4 " +
        "RETURN count(*) AS n").collect().head.getLong(0)
    val all = run("MATCH (c:Customer) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(byFlag(1L) == flagged && byFlag(-1L) == all - flagged)
    // the shared cached graph is untouched: no flagged column leaks
    intercept[Exception] {
      run("MATCH (c:Customer) WHERE c.flagged = 1 RETURN count(*) AS n")
        .collect()
    }
  }

  test("node CREATE derives a readable label; MERGE node dedups; id required") {
    val n = run(
      "MATCH (r:Region) CREATE (t:Tag {id: r.regionkey, name: r.name}) " +
        "WITH count(*) AS w MATCH (t:Tag) RETURN count(*) AS n")
      .collect().head.getLong(0)
    val regions = run("MATCH (r:Region) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n == regions)
    // MERGE node: duplicate source rows collapse (customers share nations)
    val merged = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(nn:Nation) " +
        "MERGE (t:Tag {id: nn.nationkey, name: nn.name}) " +
        "WITH count(*) AS w MATCH (t:Tag) RETURN count(*) AS n")
      .collect().head.getLong(0)
    val nations = run(
      "MATCH (c:Customer)-[:FROM_NATION]->(nn:Nation) " +
        "RETURN count(DISTINCT nn.nationkey) AS n").collect().head.getLong(0)
    assert(merged == nations)
    // property values read back through the new label's scan
    val byName = run(
      "MATCH (r:Region) CREATE (t:Tag {id: r.regionkey, name: r.name}) " +
        "WITH count(*) AS w MATCH (t:Tag) RETURN id(t) AS i, t.name AS nm " +
        "ORDER BY i").collect()
    assert(byName.forall(r => r.getString(1).nonEmpty))
    // missing `id` property fails loudly
    intercept[Exception] {
      run("MATCH (r:Region) CREATE (t:Tag {name: r.name}) " +
        "WITH count(*) AS w MATCH (t:Tag) RETURN count(*) AS n").collect()
    }
  }

  test("MERGE endpoints must be bound and the relationship directed") {
    intercept[Exception] {
      run("MATCH (c:Customer) MERGE (c)-[:X]->(q) RETURN count(*) AS n")
        .collect()
    }
    intercept[Exception] {
      run("MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) " +
        "MERGE (c)-[:X]-(n) RETURN count(*) AS n").collect()
    }
  }

  test("MERGE ON CREATE/ON MATCH SET: branch chosen against the pre-merge table") {
    // first merge: label absent, everything creates (ON CREATE value);
    // second merge: nation keys 0..4 exist -> ON MATCH value, the
    // rest create with the second ON CREATE value
    val rows = run(
      "MATCH (r:Region) MERGE (h:Hub {id: r.regionkey}) " +
        "ON CREATE SET h.src = 1 " +
        "WITH count(*) AS w1 " +
        "MATCH (n:Nation) MERGE (h:Hub {id: n.nationkey}) " +
        "ON CREATE SET h.src = 10 ON MATCH SET h.src = 2 " +
        "WITH count(*) AS w2 MATCH (h:Hub) " +
        "RETURN h.id AS hub_id, h.src AS src ORDER BY hub_id").collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val (id, src) = (r.getLong(0), r.getLong(1))
      assert(if (id <= 4) src == 2L else src == 10L, s"hub $id src $src")
    }
    // ON CREATE/ON MATCH require MERGE, and only the merged variable
    // is assignable
    intercept[Exception] {
      run("MATCH (r:Region) CREATE (h:Hub {id: r.regionkey}) " +
        "ON CREATE SET h.src = 1 WITH count(*) AS w " +
        "MATCH (h:Hub) RETURN count(*) AS n").collect()
    }
    intercept[Exception] {
      run("MATCH (r:Region) MERGE (h:Hub {id: r.regionkey}) " +
        "ON MATCH SET r.name = 'x' WITH count(*) AS w " +
        "MATCH (h:Hub) RETURN count(*) AS n").collect()
    }
  }

  test("SET n += map: overwrite, add, and null-remove in one join") {
    val rows = run(
      "MATCH (n:Nation) WHERE n.nationkey <= 2 " +
        "SET n += {name: 'X', flagged: 1, regionkey: null} " +
        "WITH count(*) AS w MATCH (n2:Nation) " +
        "RETURN n2.nationkey AS k, n2.name AS name, n2.flagged AS flagged, " +
        "n2.regionkey AS rk ORDER BY k").collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val k = r.getLong(0)
      if (k <= 2) {
        assert(r.getString(1) == "X" && r.getLong(2) == 1L && r.isNullAt(3),
          s"nation $k not fully updated: $r")
      } else {
        assert(r.getString(1) != "X" && r.isNullAt(2) && !r.isNullAt(3),
          s"nation $k should be untouched: $r")
      }
    }
    // the reserved id property stays unassignable
    intercept[Exception] {
      run("MATCH (r:Region) SET r += {id: 99} WITH count(*) AS w " +
        "MATCH (r2:Region) RETURN count(*) AS n").collect()
    }
  }

  test("SET n:Label adds the label; multi-label pattern + labels() see it") {
    val rows = run(
      "MATCH (c:Customer) WHERE c.acctbal > 9900.0 SET c:Vip " +
        "WITH count(*) AS w " +
        "MATCH (v:Vip) RETURN v.custkey AS k, v.acctbal AS bal ORDER BY k")
      .collect()
    assert(rows.nonEmpty && rows.forall(_.getDouble(1) > 9900.0))
    // conjunction scan: Vip AND Customer = the same set; labels()
    // returns the sorted per-id label SET, not the scan tag
    val multi = run(
      "MATCH (c:Customer) WHERE c.acctbal > 9900.0 SET c:Vip " +
        "WITH count(*) AS w " +
        "MATCH (v:Vip:Customer) RETURN v.custkey AS k, labels(v) AS ls " +
        "ORDER BY k").collect()
    assert(multi.length == rows.length)
    multi.foreach { r =>
      assert(r.getSeq[String](1) == Seq("Customer", "Vip"), s"labels: $r")
    }
    // idempotent: SET twice, still one row per id
    val twice = run(
      "MATCH (c:Customer) WHERE c.acctbal > 9900.0 SET c:Vip SET c:Vip " +
        "WITH count(*) AS w MATCH (v:Vip) RETURN count(*) AS n").collect()
    assert(twice.head.getLong(0) == rows.length)
  }

  test("FOREACH: conditional-write idiom and list iteration") {
    // conditional write: flag only the high-balance nations' customers
    val rows = run(
      "MATCH (c:Customer) " +
        "FOREACH (x IN CASE WHEN c.acctbal > 9900.0 THEN [1] ELSE [] END | " +
        "SET c.vip = 1) " +
        "WITH count(*) AS w " +
        "MATCH (c2:Customer) RETURN c2.custkey AS k, c2.acctbal AS bal, " +
        "c2.vip AS vip ORDER BY k").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      if (r.getDouble(1) > 9900.0) assert(r.getLong(2) == 1L, s"missing flag: $r")
      else assert(r.isNullAt(2), s"spurious flag: $r")
    }
    // list iteration: one node per element, per frame row
    val created = run(
      "MATCH (r:Region) WHERE r.regionkey = 0 " +
        "FOREACH (k IN [100, 101, 102] | CREATE (:Tag {id: k + r.regionkey})) " +
        "WITH count(*) AS w MATCH (t:Tag) RETURN t.id AS id ORDER BY id")
      .collect()
    assert(created.map(_.getLong(0)).toSeq == Seq(100L, 101L, 102L))
    // cardinality is untouched by FOREACH
    val n = run(
      "MATCH (r:Region) FOREACH (x IN [1, 2, 3] | SET r.touched = x) " +
        "RETURN count(*) AS n").collect()
    assert(n.head.getLong(0) == 5L)
    // body must be update clauses only
    intercept[Exception] {
      run("MATCH (r:Region) FOREACH (x IN [1] | MATCH (c:Customer)) " +
        "RETURN count(*) AS n").collect()
    }
  }

  test("MERGE on key only + ON MATCH SET (no pattern props, no ON CREATE)") {
    // the canonical upsert shape: MERGE (x:L {id: e}) ON MATCH SET …
    // — the frame carries only __id, so the conflict-resolution
    // groupBy has zero aggregate columns and must fall back to distinct
    val rows = run(
      "MATCH (r:Region) MERGE (h:Hub {id: r.regionkey}) " +
        "WITH count(*) AS w1 " +
        "MATCH (n:Nation) WHERE n.nationkey <= 2 " +
        "MERGE (h:Hub {id: n.nationkey}) ON MATCH SET h.touched = 1 " +
        "WITH count(*) AS w2 MATCH (h:Hub) " +
        "RETURN h.id AS hub_id, h.touched AS touched ORDER BY hub_id").collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val id = r.getLong(0)
      val touched = if (r.isNullAt(1)) -1L else r.getLong(1)
      assert(if (id <= 2) touched == 1L else touched == -1L,
        s"hub $id touched $touched")
    }
  }

  test("relationship MERGE ON CREATE/ON MATCH stamps the right branch") {
    val rows = run(
      "MATCH (n:Nation)-[:IN_REGION]->(rg:Region) WHERE n.nationkey <= 10 " +
        "MERGE (n)-[r:IN_REGION]->(rg) ON MATCH SET r.seen = 1 " +
        "WITH count(*) AS w1 " +
        "MATCH (c:Customer)-[:FROM_NATION]->(n2:Nation)-[:IN_REGION]->(rg2:Region) " +
        "WHERE c.custkey <= 20 " +
        "MERGE (c)-[r2:IN_REGION]->(rg2) ON CREATE SET r2.seen = 2 " +
        "WITH count(*) AS w2 MATCH (x)-[e:IN_REGION]->(y) " +
        "RETURN id(x) AS src, e.seen AS seen").collect()
    val custBase = 2000000000L
    val nationBase = 3000000000L
    rows.foreach { r =>
      val src = r.getLong(0)
      val seen = if (r.isNullAt(1)) -1L else r.getLong(1)
      if (src >= custBase && src < nationBase) assert(seen == 2L)
      else if (src <= nationBase + 10) assert(seen == 1L)
      else assert(seen == -1L)
    }
    assert(rows.exists(_.getLong(0) >= custBase) &&
      rows.exists(r => !r.isNullAt(1) && r.getLong(1) == 1L))
    // a named rel variable without ON blocks stays rejected (dead name)
    intercept[Exception] {
      run("MATCH (n:Nation)-[:IN_REGION]->(rg:Region) " +
        "MERGE (n)-[r:IN_REGION]->(rg) WITH count(*) AS w " +
        "MATCH (x)-[:IN_REGION]->(y) RETURN count(*) AS n").collect()
    }
  }

  test("COLLECT subquery: sorted lists, empty-match [] and zero fold") {
    val r = run(
      "MATCH (r:Region) WHERE r.regionkey = 0 " +
        "RETURN COLLECT { MATCH (n:Nation)-[:IN_REGION]->(r) " +
        "RETURN n.nationkey } AS ks, " +
        "size(COLLECT { MATCH (n:Nation)-[:IN_REGION]->(r) " +
        "WHERE n.nationkey > 9999 RETURN n.nationkey }) AS none")
      .collect().head
    val ks = r.getSeq[Long](0)
    assert(ks.nonEmpty && ks == ks.sorted, s"collect must be sorted: $ks")
    assert(r.getLong(1) == 0L)
  }

  test("catalog procedures list the graph's labels and types, compose with MATCH") {
    val labels = run("CALL db.labels() RETURN label ORDER BY label")
      .collect().map(_.getString(0)).toSeq
    assert(labels == Seq("Customer", "Nation", "Order", "Part",
      "Region", "Supplier"))
    val types = run(
      "CALL db.relationshipTypes() RETURN relationshipType AS t ORDER BY t")
      .collect().map(_.getString(0)).toSeq
    assert(types.contains("CONTAINS") && types.contains("IN_REGION") &&
      types.length == 7)
    // composes with a following MATCH (the catalog frame broadcasts)
    val n = run("CALL db.labels() MATCH (r:Region) " +
      "RETURN label, count(*) AS n ORDER BY label").collect()
    assert(n.length == 6 && n.forall(_.getLong(1) == 5L))
    // property keys span node and relationship tables, deduplicated
    val keys = run("CALL db.propertyKeys() RETURN propertyKey AS k ORDER BY k")
      .collect().map(_.getString(0)).toSeq
    assert(keys.contains("acctbal") && keys.contains("qty") &&
      keys.contains("name") && keys.count(_ == "name") == 1)
    // YIELD with the right column, with and without an alias
    val y = run("CALL db.labels() YIELD label RETURN label ORDER BY label")
      .collect().map(_.getString(0)).toSeq
    assert(y == labels)
    val ya = run("CALL db.labels() YIELD label AS l RETURN l ORDER BY l")
      .collect().map(_.getString(0)).toSeq
    assert(ya == labels)
    // YIELDing a wrong column fails loudly
    intercept[Exception] {
      run("CALL db.labels() YIELD nope RETURN nope").collect()
    }
    // unknown procedure fails loudly
    intercept[Exception] {
      run("CALL db.indexes() RETURN 1 AS x").collect()
    }
  }

  test("temporal map constructor: defaults, pushdown shape, validation") {
    // component defaults: omitted month/day -> 1, time-of-day -> 0
    val r = run(
      "MATCH (n:Nation) WHERE n.nationkey = 0 " +
        "RETURN datetime({year: 2024}) AS a, " +
        "datetime({year: 2024, month: 3, day: 5, hour: 6, minute: 7, second: 8}) AS b, " +
        "date({year: 2024, month: 2}) AS c").collect().head
    assert(r.getTimestamp(0).toString.startsWith("2024-01-01 00:00:00"))
    assert(r.getTimestamp(1).toString.startsWith("2024-03-05 06:07:08"))
    assert(r.getDate(2).toString == "2024-02-01")
    // unknown component / missing year / time on date() fail loudly
    intercept[Exception] {
      run("MATCH (n:Nation) RETURN datetime({yr: 2024}) AS a").collect()
    }
    intercept[Exception] {
      run("MATCH (n:Nation) RETURN datetime({month: 3}) AS a").collect()
    }
    intercept[Exception] {
      run("MATCH (n:Nation) RETURN date({year: 2024, hour: 3}) AS a").collect()
    }
  }

  test("duration map constructor folds; withinBBox: closed bounds, mixed CRS null") {
    val r = run(
      "MATCH (n:Nation) WHERE n.nationkey = 0 " +
        "RETURN datetime('2024-01-31T00:00:00') - duration({weeks: 1, days: 2}) AS a, " +
        "datetime('2024-01-22T00:00:00') + duration({days: 1, hours: 36}) AS b")
      .collect().head
    assert(r.getTimestamp(0).toString.startsWith("2024-01-22 00:00:00"))
    assert(r.getTimestamp(1).toString.startsWith("2024-01-24 12:00:00"))
    intercept[Exception] {
      run("MATCH (n:Nation) RETURN duration({fortnights: 1}) AS d").collect()
    }
    val bb = run(
      "MATCH (n:Nation) WHERE n.nationkey = 0 " +
        // on-edge point is inside (closed bounds); outside is false;
        // mixed CRS is null
        "RETURN point.withinBBox(point({x: 1.0, y: 2.0}), " +
        "  point({x: 1.0, y: 0.0}), point({x: 5.0, y: 2.0})) AS onEdge, " +
        "point.withinBBox(point({x: 9.0, y: 2.0}), " +
        "  point({x: 1.0, y: 0.0}), point({x: 5.0, y: 2.0})) AS outside, " +
        "point.withinBBox(point({latitude: 1.0, longitude: 2.0}), " +
        "  point({x: 0.0, y: 0.0}), point({x: 5.0, y: 5.0})) AS mixed")
      .collect().head
    assert(bb.getBoolean(0) && !bb.getBoolean(1) && bb.isNullAt(2))
  }

  test("weighted shortestPath: min cost per pair, ties to fewer hops, cost(p) bound") {
    // NEXT_IN_REGION has no weight property -> loud failure
    intercept[Exception] {
      run("MATCH p = shortestPath((a:Nation)-[:NEXT_IN_REGION*1..3]->(b:Nation), 'nosuch') " +
        "RETURN count(*) AS n").collect()
    }
    // CONTAINS with qty: 2-hop part pairs through a shared order must
    // cost min over shared orders of (qty_a + qty_b) — verify one pair
    // against a direct relational computation
    val rows = run(
      "MATCH (a:Part) WHERE a.partkey < 5 " +
        "MATCH p = shortestPath((a)-[:CONTAINS*1..2]-(b:Part), 'qty') " +
        "WHERE b.partkey < 5 AND a.partkey < b.partkey " +
        "RETURN a.partkey AS pa, b.partkey AS pb, length(p) AS hops, " +
        "cost(p) AS cost ORDER BY pa, pb").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(2) == 2L), "bipartite part pairs sit at 2 hops")
    val li = graft.Tables.lineitem(spark, TestSpark.sf)
    import org.apache.spark.sql.functions._
    val e = li.filter(col("l_partkey") < 5)
      .groupBy(col("l_orderkey"), col("l_partkey"))
      .agg(min(col("l_quantity")).as("w"))
    val expected = e.as("x").join(e.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("pa"), col("y.l_partkey").as("pb"),
        (col("x.w") + col("y.w")).as("c"))
      .groupBy(col("pa"), col("pb")).agg(min(col("c")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(expected.contains(k) && math.abs(expected(k) - r.getDouble(3)) < 1e-9,
        s"pair $k: engine ${r.getDouble(3)} vs relational ${expected.get(k)}")
    }
    // a cost tie keeps the fewer-hop walk: 1⇝3 costs 2.0 directly and
    // 2.0 via 2 — an equal cost never replaces the standing best, on
    // the pair-only search and the walk-carrying one alike
    import spark.implicits._
    val tg = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 3L).map(i => (i, s"n$i")).toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 2.0))
        .toDF("__src", "__dst", "w")))
    for (ret <- Seq("length(p) AS l, cost(p) AS c",
        "length(p) AS l, cost(p) AS c, nodes(p) AS ns")) {
      val t = CypherPlanner.run(spark, tg,
        "MATCH p = shortestPath((a:V)-[:E*1..3]->(b:V), 'w') " +
          s"WHERE id(a) = 1 AND id(b) = 3 RETURN $ret").collect()
      assert(t.length == 1 && t(0).getLong(0) == 1L && t(0).getDouble(1) == 2.0)
    }
    // cost(p) on an unweighted chain stays unbound and fails loudly
    intercept[Exception] {
      run("MATCH p = shortestPath((a:Nation)-[:NEXT_IN_REGION*1..3]->(b:Nation)) " +
        "RETURN cost(p) AS c").collect()
    }
    // shortestPath over a FIXED-length relationship is a loud
    // validation error (Neo4j: "requires variable length"), never an
    // opaque None.get — weighted and unweighted spellings alike (the
    // chain-shape validation catches both; the planner's own
    // variable-length require is defense-in-depth behind it)
    for (q <- Seq(
        "MATCH p = shortestPath((a:Nation)-[:NEXT_IN_REGION]->(b:Nation), " +
          "'dist') RETURN length(p) AS l",
        "MATCH p = shortestPath((a:Nation)-[:NEXT_IN_REGION]->(b:Nation)) " +
          "RETURN length(p) AS l")) {
      val e = intercept[IllegalArgumentException] { run(q).collect() }
      assert(e.getMessage.contains("var-length") ||
        e.getMessage.contains("variable-length"))
    }
  }

  test("GQL group variables bind per-step node lists") {
    import spark.implicits._
    // chain 1 → 2 → 3 → 4: the {2,3} group from V binds, per walk,
    // the step-source list a and step-target list b
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, "n1"), (2L, "n2"), (3L, "n3"), (4L, "n4"))
        .toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L), (2L, 3L), (3L, 4L))
        .toDF("__src", "__dst")))
    val rows = CypherPlanner.run(spark, g,
      "MATCH (s:V) ((a)-[:E]->(b)){2,3} (t:V) " +
        "RETURN s.name AS s_name, t.name AS t_name, size(a) AS k, a, b " +
        "ORDER BY s_name, t_name").collect()
    // walks: 1→3 (k=2), 2→4 (k=2), 1→4 (k=3)
    assert(rows.length == 3)
    def lists(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2),
        r.getSeq[Long](3).toList, r.getSeq[Long](4).toList)
    val byKey = rows.map(lists).map(t => (t._1, t._2) -> t).toMap
    assert(byKey(("n1", "n3")) == ("n1", "n3", 2L, List(1L, 2L), List(2L, 3L)))
    assert(byKey(("n2", "n4")) == ("n2", "n4", 2L, List(2L, 3L), List(3L, 4L)))
    assert(byKey(("n1", "n4")) == ("n1", "n4", 3L, List(1L, 2L, 3L), List(2L, 3L, 4L)))
    // UNWIND consumes a group variable like any bound list
    val un = CypherPlanner.run(spark, g,
      "MATCH (s:V) ((a)-[:E]->(b)){2,2} (t:V) WHERE s.name = 'n1' " +
        "UNWIND b AS step RETURN step ORDER BY step").collect()
    assert(un.map(_.getLong(0)).toList == List(2L, 3L))
    // group variables inside shortestPath bind from the carried walk
    // (r15 — formerly a loud reject)
    val spg = CypherPlanner.run(spark, g,
      "MATCH p = shortestPath((s:V) ((a)-[:E]->(b)){1,3} (t:V)) " +
        "WHERE s.name = 'n1' RETURN t.name AS t, b AS bl, length(p) AS l")
      .collect()
      .map(r => r.getString(0) -> ((r.getSeq[Long](1).toList, r.getLong(2))))
      .toMap
    assert(spg == Map(
      "n2" -> ((List(2L), 1L)),
      "n3" -> ((List(2L, 3L), 2L)),
      "n4" -> ((List(2L, 3L, 4L), 3L))))
    // consumed group variables under allShortestPaths bind via the
    // capped walk enumeration since r16 — on the linear chain the
    // enumerated lists equal the shortestPath ones
    val aspg = CypherPlanner.run(spark, g,
      "MATCH p = allShortestPaths((s:V) ((a)-[:E]->(b)){1,3} (t:V)) " +
        "WHERE s.name = 'n1' RETURN t.name AS t, b AS bl, length(p) AS l")
      .collect()
      .map(r => r.getString(0) -> ((r.getSeq[Long](1).toList, r.getLong(2))))
      .toMap
    assert(aspg == spg)
  }

  test("zero-length quantified paths: {0,m}, {,m} and *0..m include the empty path") {
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, "n1"), (2L, "n2"), (3L, "n3"), (4L, "n4"))
        .toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L), (2L, 3L), (3L, 4L))
        .toDF("__src", "__dst")))
    def pairs(q: String): Set[(Long, Long, Long)] =
      CypherPlanner.run(spark, g, q).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // *0..2 = 4 self-pairs (length 0) + 3 one-hop + 2 two-hop
    val expect02 = Set[(Long, Long, Long)](
      (1L, 1L, 0L), (2L, 2L, 0L), (3L, 3L, 0L), (4L, 4L, 0L),
      (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (1L, 3L, 2L), (2L, 4L, 2L))
    assert(pairs("MATCH p = (s:V)-[:E*0..2]->(t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") == expect02)
    // the GQL postfix {0,2} and the shorthand {,2} spell the same plan
    assert(pairs("MATCH p = (s:V)-[:E]->{0,2} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") == expect02)
    assert(pairs("MATCH p = (s:V)-[:E]->{,2} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") == expect02)
    // {0} / *0..0: only the empty path — start IS end
    assert(pairs("MATCH p = (s:V)-[:E]->{0} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((1L, 1L, 0L), (2L, 2L, 0L), (3L, 3L, 0L), (4L, 4L, 0L)))
    // nodes(p) on the empty path is the single-node path
    val np = CypherPlanner.run(spark, g,
      "MATCH p = (s:V)-[:E*0..1]->(t:V) WHERE s.name = 'n2' " +
        "RETURN length(p) AS l, nodes(p) AS ns ORDER BY l").collect()
    assert(np.length == 2)
    assert(np(0).getLong(0) == 0L && np(0).getSeq[Long](1).toList == List(2L))
    assert(np(1).getLong(0) == 1L && np(1).getSeq[Long](1).toList == List(2L, 3L))
    // In direction mirrors: (t)<-[:E*0..1]-(s) from n3's perspective
    val inc = CypherPlanner.run(spark, g,
      "MATCH p = (t:V)<-[:E*0..1]-(s:V) WHERE t.name = 'n3' " +
        "RETURN id(s) AS sid, length(p) AS l, nodes(p) AS ns ORDER BY l")
      .collect()
    assert(inc.length == 2)
    assert(inc(0).getLong(0) == 3L && inc(0).getLong(1) == 0L &&
      inc(0).getSeq[Long](2).toList == List(3L))
    assert(inc(1).getLong(0) == 2L && inc(1).getLong(1) == 1L &&
      inc(1).getSeq[Long](2).toList == List(3L, 2L))
    // a zero-repetition quantified GROUP binds empty group variables
    val gv = CypherPlanner.run(spark, g,
      "MATCH (s:V) ((a)-[:E]->(b)){0,2} (t:V) WHERE s.name = 'n1' " +
        "RETURN id(t) AS tid, size(a) AS k, a, b ORDER BY k").collect()
    assert(gv.length == 3)
    assert(gv(0).getLong(0) == 1L && gv(0).getLong(1) == 0L &&
      gv(0).getSeq[Long](2).isEmpty && gv(0).getSeq[Long](3).isEmpty)
    assert(gv(1).getLong(1) == 1L && gv(1).getSeq[Long](2).toList == List(1L))
    assert(gv(2).getLong(1) == 2L &&
      gv(2).getSeq[Long](2).toList == List(1L, 2L) &&
      gv(2).getSeq[Long](3).toList == List(2L, 3L))
    // uniqueness still holds across the union: no walk reuses an edge
    // (an undirected *0..2 must not surface a-x-a via the mirror)
    val undirected = CypherPlanner.run(spark, g,
      "MATCH (s:V)-[:E*0..2]-(t:V) WHERE s.name = 'n1' " +
        "RETURN id(t) AS tid, count(*) AS n ORDER BY tid").collect()
    assert(undirected.map(r => (r.getLong(0), r.getLong(1))).toList ==
      List((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("QPP per-step inner labels/properties constrain every repetition") {
    import spark.implicits._
    // chain 1→2→3→4→5; node 3 fails {ok: true}; W = {2, 3, 4}
    val g = graft.graph.PropertyGraph(
      nodes = Map(
        "V" -> Seq((1L, true), (2L, true), (3L, false), (4L, true),
          (5L, true)).toDF("__id", "ok"),
        "W" -> Seq(Tuple1(2L), Tuple1(3L), Tuple1(4L)).toDF("__id")),
      rels = Map("E" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
        .toDF("__src", "__dst")))
    def pairs(q: String): Set[(Long, Long, Long)] =
      CypherPlanner.run(spark, g, q).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // step-SOURCE property filter: usable edges are those whose source
    // has ok=true (1→2, 2→3, 4→5) — the walk 1→2→3 survives (sources
    // 1, 2 are ok; the END node is unconstrained), 2→3→4 does not
    // (step 2's source is node 3)
    assert(pairs("MATCH (s:V) ((a {ok: true})-[:E]->(b)){1,3} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, size(a) AS k") ==
      Set((1L, 2L, 1L), (2L, 3L, 1L), (4L, 5L, 1L), (1L, 3L, 2L)))
    // step-TARGET property filter: edges whose target is ok
    // (1→2, 3→4, 4→5); 3→4→5 chains, 2→3 is gone
    assert(pairs("MATCH (s:V) ((a)-[:E]->(b {ok: true})){1,3} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, size(a) AS k") ==
      Set((1L, 2L, 1L), (3L, 4L, 1L), (4L, 5L, 1L), (3L, 5L, 2L)))
    // step-source LABEL filter: sources must be :W ({2,3,4})
    assert(pairs("MATCH (s:V) ((a:W)-[:E]->(b)){1,2} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, size(a) AS k") ==
      Set((2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L),
        (2L, 4L, 2L), (3L, 5L, 2L)))
    // zero repetitions are vacuous under step filters: {0,1} keeps
    // every self-pair even where the predicate fails
    assert(pairs("MATCH (s:V) ((a {ok: true})-[:E]->(b)){0,1} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, size(a) AS k") ==
      Set((1L, 1L, 0L), (2L, 2L, 0L), (3L, 3L, 0L), (4L, 4L, 0L),
        (5L, 5L, 0L),
        (1L, 2L, 1L), (2L, 3L, 1L), (4L, 5L, 1L)))
    // In-direction group: the traversal source is the stored target —
    // `(a)<-[:E]-(b {ok: true})` walks edges backward, so the EDGE
    // source (= b) must be ok: usable reversed edges 2←1, 3←2, 5←4
    assert(pairs("MATCH (s:V) ((a)<-[:E]-(b {ok: true})){1,2} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, size(a) AS k") ==
      Set((2L, 1L, 1L), (3L, 2L, 1L), (5L, 4L, 1L), (3L, 1L, 2L)))
    // group variables still bind per-step lists alongside step filters
    val gv = CypherPlanner.run(spark, g,
      "MATCH (s:V) ((a {ok: true})-[:E]->(b)){2,2} (t:V) " +
        "RETURN a, b").collect()
    assert(gv.length == 1 &&
      gv(0).getSeq[Long](0).toList == List(1L, 2L) &&
      gv(0).getSeq[Long](1).toList == List(2L, 3L))
  }

  test("multi-hop quantified groups: the whole inner chain repeats as a unit") {
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, true), (2L, true), (3L, false),
        (4L, true), (5L, true)).toDF("__id", "ok")),
      rels = Map(
        "X" -> Seq((1L, 2L), (3L, 4L)).toDF("__src", "__dst"),
        "Y" -> Seq((2L, 3L), (4L, 5L)).toDF("__src", "__dst"),
        "E" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
          .toDF("__src", "__dst")))
    def pairs(q: String): Set[(Long, Long, Long)] =
      CypherPlanner.run(spark, g, q).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // alternating X·Y repetition: reps 1→3 and 3→5; k=2 chains them,
    // and length(p) counts k·2 RELATIONSHIPS
    assert(pairs("MATCH p = (s:V) (()-[:X]->()-[:Y]->()){1,2} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((1L, 3L, 2L), (3L, 5L, 2L), (1L, 5L, 4L)))
    // same-type inner chain: whole-path edge uniqueness holds across
    // and inside repetitions
    assert(pairs("MATCH p = (s:V) (()-[:E]->()-[:E]->()){1,2} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((1L, 3L, 2L), (2L, 4L, 2L), (3L, 5L, 2L), (1L, 5L, 4L)))
    // per-inner-node predicate constrains EVERY repetition's middle
    assert(pairs("MATCH p = (s:V) (()-[:E]->({ok: true})-[:E]->()){1,2} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((1L, 3L, 2L), (3L, 5L, 2L), (1L, 5L, 4L)))
    // zero repetitions compose with multi-hop groups
    assert(pairs("MATCH p = (s:V) (()-[:X]->()-[:Y]->()){0,1} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((1L, 1L, 0L), (2L, 2L, 0L), (3L, 3L, 0L), (4L, 4L, 0L),
        (5L, 5L, 0L), (1L, 3L, 2L), (3L, 5L, 2L)))
    // group variables bind one per-repetition list per inner node
    val gv = CypherPlanner.run(spark, g,
      "MATCH (s:V) ((a)-[:X]->(b)-[:Y]->(c)){2,2} (t:V) " +
        "RETURN id(s) AS sid, id(t) AS tid, a, b, c, size(b) AS k")
      .collect()
    assert(gv.length == 1)
    assert(gv(0).getLong(0) == 1L && gv(0).getLong(1) == 5L)
    assert(gv(0).getSeq[Long](2).toList == List(1L, 3L))
    assert(gv(0).getSeq[Long](3).toList == List(2L, 4L))
    assert(gv(0).getSeq[Long](4).toList == List(3L, 5L))
    assert(gv(0).getLong(5) == 2L)
    // inner chains beyond the shared quantifier cap reject loudly
    // (4-hop chains plan since r15 — see the dedicated cap-lift spec)
    val over = Seq.fill(CypherParser.MaxVarHops + 1)("-[:E]->()").mkString
    intercept[Exception](CypherParser.parse(
      s"MATCH (s) (()$over){1,2} (t) RETURN count(*) AS n"))
  }

  test("multi-hop groups widen to In, undirected, multi-type and typeless hops") {
    import spark.implicits._
    def pairs(g: graft.graph.PropertyGraph, q: String): Set[(Long, Long, Long)] =
      CypherPlanner.run(spark, g, q).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // In-direction inner hop: `(b)<-[:G]-(c)` walks stored G edges
    // backward, so a repetition is a -F-> b <-G- c
    val gIn = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 6L).map(i => Tuple1(i)).toDF("__id")),
      rels = Map(
        "F" -> Seq((1L, 2L), (3L, 4L)).toDF("__src", "__dst"),
        "G" -> Seq((3L, 2L), (6L, 4L)).toDF("__src", "__dst")))
    assert(pairs(gIn,
      "MATCH p = (s:V) (()-[:F]->()<-[:G]-()){1,2} (t:V) " +
        "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((1L, 3L, 2L), (3L, 6L, 2L), (1L, 6L, 4L)))
    // multi-type inner hop `-[:X|Z]->`: before the widening the
    // planner silently read only :X and lost every :Z repetition
    val gAlt = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 4L).map(i => Tuple1(i)).toDF("__id")),
      rels = Map(
        "X" -> Seq((1L, 2L)).toDF("__src", "__dst"),
        "Y" -> Seq((2L, 3L), (4L, 1L)).toDF("__src", "__dst"),
        "Z" -> Seq((3L, 4L)).toDF("__src", "__dst")))
    assert(pairs(gAlt,
      "MATCH p = (s:V) (()-[:X|Z]->()-[:Y]->()){1,2} (t:V) " +
        "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((1L, 3L, 2L), (3L, 1L, 2L), (1L, 1L, 4L), (3L, 3L, 4L)))
    // typeless inner hop: the union of every edge table (here X, Y, Z
    // all connect :V nodes), whole-path uniqueness across types
    assert(pairs(gAlt,
      "MATCH p = (s:V) (()-->()-[:Y]->()){1,2} (t:V) " +
        "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((1L, 3L, 2L), (3L, 1L, 2L), (1L, 1L, 4L), (3L, 3L, 4L)))
    // undirected inner hop: `(a)-[:X]-(b)` mirrors, so b=2 reaches
    // a=1 via the stored edge and continues 2 -Y-> 3
    assert(pairs(gAlt,
      "MATCH p = (s:V) (()-[:X]-()-[:Y]->()){1,1} (t:V) " +
        "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((1L, 3L, 2L)))
    // group variables still bind per-repetition lists across an
    // In-direction inner hop
    val gv = CypherPlanner.run(spark, gIn,
      "MATCH (s:V) ((a)-[:F]->(b)<-[:G]-(c)){2,2} (t:V) " +
        "RETURN id(s) AS sid, id(t) AS tid, a, b, c").collect()
    assert(gv.length == 1)
    assert(gv(0).getLong(0) == 1L && gv(0).getLong(1) == 6L)
    assert(gv(0).getSeq[Long](2).toList == List(1L, 3L))
    assert(gv(0).getSeq[Long](3).toList == List(2L, 4L))
    assert(gv(0).getSeq[Long](4).toList == List(3L, 6L))
  }

  test("QPP inline WHERE relates a repetition's endpoints and relationship") {
    import spark.implicits._
    // chain 1→2→3→4→5; node values DIP at 3 (so a.v < b.v prunes the
    // 2→3 step), edge weights drop on 3→4
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, 10L), (2L, 20L), (3L, 15L),
        (4L, 40L), (5L, 50L)).toDF("__id", "v")),
      rels = Map("E" -> Seq((1L, 2L, 9.0), (2L, 3L, 8.0), (3L, 4L, 2.0),
        (4L, 5L, 7.0)).toDF("__src", "__dst", "w")))
    def pairs(q: String): Set[(Long, Long, Long)] =
      CypherPlanner.run(spark, g, q).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // cross-endpoint node predicate: 2→3 violates a.v < b.v, so no
    // walk may cross it — {1,3} yields only segments on either side
    assert(pairs("MATCH p = (s:V) ((a)-[:E]->(b) WHERE a.v < b.v){1,3} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((1L, 2L, 1L), (3L, 4L, 1L), (4L, 5L, 1L), (3L, 5L, 2L)))
    // relationship property predicate: w >= 7 drops the 3→4 edge
    assert(pairs("MATCH p = (s:V) ((a)-[r:E]->(b) WHERE r.w >= 7.0){1,3} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((1L, 2L, 1L), (2L, 3L, 1L), (4L, 5L, 1L), (1L, 3L, 2L)))
    // node + rel predicates compose; id() resolves to the step ids
    assert(pairs("MATCH p = (s:V) ((a)-[r:E]->(b) WHERE a.v < b.v AND r.w > 2.0 " +
      "AND id(a) < id(b)){1,3} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((1L, 2L, 1L), (4L, 5L, 1L)))
    // In-direction group: a is the traversal source (stored dst), so
    // a.v < b.v holds only on the 3←2 step (15 < 20)
    assert(pairs("MATCH p = (s:V) ((a)<-[:E]-(b) WHERE a.v < b.v){1,3} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((3L, 2L, 1L)))
    // ...and the mirrored predicate walks the chain backward
    assert(pairs("MATCH p = (s:V) ((a)<-[:E]-(b) WHERE a.v > b.v){1,3} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((2L, 1L, 1L), (4L, 3L, 1L), (5L, 4L, 1L), (5L, 3L, 2L)))
    // zero-length branch is untouched even by a never-true predicate
    val zero = pairs("MATCH p = (s:V) ((a)-[:E]->(b) WHERE a.v > 999){0,2} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l")
    assert(zero == (1L to 5L).map(i => (i, i, 0L)).toSet)
  }

  test("named var-length relationships bind per-step payload lists") {
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 4L).map(Tuple1(_)).toDF("__id")),
      rels = Map("E" -> Seq((1L, 2L, 2.0), (2L, 3L, 5.0), (3L, 4L, 7.0))
        .toDF("__src", "__dst", "w")))
    // rs is the walk's relationship list: size + reduce over properties
    val rows = CypherPlanner.run(spark, g,
      "MATCH (a:V)-[rs:E*2..2]->(b:V) " +
        "RETURN id(a) AS aid, id(b) AS bid, size(rs) AS n, " +
        "reduce(acc = 0.0, r IN rs | acc + r.w) AS tw ORDER BY aid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toList
    assert(rows == List((1L, 3L, 2L, 7.0), (2L, 4L, 2L, 12.0)))
    // UNWIND surfaces per-step structs: type/src/dst + properties
    val un = CypherPlanner.run(spark, g,
      "MATCH (a:V)-[rs:E*1..2]->(b:V) WHERE id(a) = 1 " +
        "UNWIND rs AS r " +
        "RETURN id(b) AS bid, r.src AS s, r.dst AS d, r.w AS w, " +
        "r.type AS t ORDER BY bid, s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4))).toList
    assert(un == List((2L, 1L, 2L, 2.0, "E"), (3L, 1L, 2L, 2.0, "E"),
      (3L, 2L, 3L, 5.0, "E")))
    // a named single-hop group rel binds the same list, alongside the
    // node group variables
    val grp = CypherPlanner.run(spark, g,
      "MATCH (s:V) ((a)-[r:E]->(b)){2,2} (t:V) " +
        "RETURN id(s) AS sid, id(t) AS tid, size(r) AS n, " +
        "reduce(acc = 0.0, x IN r | acc + x.w) AS tw, b ORDER BY sid")
      .collect()
    assert(grp.length == 2)
    assert(grp(0).getLong(0) == 1L && grp(0).getLong(2) == 2L &&
      grp(0).getDouble(3) == 7.0 &&
      grp(0).getSeq[Long](4).toList == List(2L, 3L))
    // In-direction walks list edges from the LEFT endpoint backward
    val inc = CypherPlanner.run(spark, g,
      "MATCH (b:V)<-[rs:E*2..2]-(a:V) WHERE id(b) = 3 " +
        "UNWIND rs AS r RETURN r.src AS s, r.dst AS d")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(inc == List((2L, 3L), (1L, 2L)))
    // zero-length branch binds the empty list
    val zero = CypherPlanner.run(spark, g,
      "MATCH (a:V)-[rs:E*0..1]->(b:V) WHERE id(a) = 4 " +
        "RETURN id(b) AS bid, size(rs) AS n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(zero == List((4L, 0L)))
    // named var-length rels inside shortestPath bind the walk's
    // payload list (r15 — formerly a loud reject)
    val spl = CypherPlanner.run(spark, g,
      "MATCH p = shortestPath((a:V)-[rs:E*1..3]->(b:V)) WHERE id(a) = 1 " +
        "RETURN id(b) AS bid, size(rs) AS n ORDER BY bid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(spl == List((2L, 1L), (3L, 2L), (4L, 3L)))
    // type()/startNode()/endNode() work on UNWINDed payload elements
    val tse = CypherPlanner.run(spark, g,
      "MATCH (a:V)-[rs:E*1..1]->(b:V) WHERE id(a) = 1 " +
        "UNWIND rs AS r RETURN type(r) AS t, id(startNode(r)) AS s, " +
        "id(endNode(r)) AS d").collect()
    assert(tse.length == 1 && tse(0).getString(0) == "E" &&
      tse(0).getLong(1) == 1L && tse(0).getLong(2) == 2L)
    // OPTIONAL MATCH registers the list variable too; unmatched
    // outer rows read it as null
    val opt = CypherPlanner.run(spark, g,
      "MATCH (a:V) OPTIONAL MATCH (a)-[rs:E*2..2]->(b:V) " +
        "RETURN id(a) AS aid, size(rs) AS n ORDER BY aid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toList
    assert(opt == List((1L, 2L), (2L, 2L), (3L, -1L), (4L, -1L)))
  }

  test("multi-hop group named relationships bind per-repetition lists") {
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 5L).map(Tuple1(_)).toDF("__id")),
      rels = Map(
        "X" -> Seq((1L, 2L, 1.0), (3L, 4L, 3.0)).toDF("__src", "__dst", "w"),
        "Y" -> Seq((2L, 3L), (4L, 5L)).toDF("__src", "__dst")))
    // k=2 walk 1→2→3→4→5: rx collects the two X edges, ry the two Y
    // edges — one element per repetition, in walk order
    val rows = CypherPlanner.run(spark, g,
      "MATCH (s:V) ((a)-[rx:X]->(b)-[ry:Y]->(c)){2,2} (t:V) " +
        "RETURN id(s) AS sid, id(t) AS tid, size(rx) AS nx, " +
        "reduce(acc = 0.0, r IN rx | acc + r.w) AS xw, " +
        "[r IN ry | r.src] AS ysrcs").collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 1L && rows(0).getLong(1) == 5L)
    assert(rows(0).getLong(2) == 2L && rows(0).getDouble(3) == 4.0)
    assert(rows(0).getSeq[Long](4).toList == List(2L, 4L))
    // zero repetitions bind empty lists; UNWIND consumes the structs
    val zero = CypherPlanner.run(spark, g,
      "MATCH (s:V) ((a)-[rx:X]->(b)-[ry:Y]->(c)){0,1} (t:V) " +
        "WHERE id(s) = 5 RETURN id(t) AS tid, size(rx) AS n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(zero == List((5L, 0L)))
    val un = CypherPlanner.run(spark, g,
      "MATCH (s:V) ((a)-[rx:X]->(b)-[ry:Y]->(c)){1,2} (t:V) " +
        "WHERE id(s) = 1 AND id(t) = 5 " +
        "UNWIND rx AS r RETURN r.src AS s2, r.dst AS d, r.w AS w " +
        "ORDER BY s2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(un == List((1L, 2L, 1.0), (3L, 4L, 3.0)))
  }

  test("relationship-list and QPP feature combinations hold together") {
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
        .toDF("__id", "v")),
      rels = Map("E" -> Seq((1L, 2L, 2.0), (2L, 3L, 5.0), (3L, 4L, 7.0))
        .toDF("__src", "__dst", "w")))
    // path variable + rel list on the same hop: length(p) == size(rs)
    val pv = CypherPlanner.run(spark, g,
      "MATCH p = (a:V)-[rs:E*1..3]->(b:V) " +
        "RETURN length(p) AS l, size(rs) AS n").collect()
    assert(pv.nonEmpty && pv.forall(r => r.getLong(0) == r.getLong(1)))
    // undirected named var-length: the mirror shares identities, so
    // no a-x-a ghost walks appear in the payload lists either
    val und = CypherPlanner.run(spark, g,
      "MATCH (a:V)-[rs:E*2..2]-(b:V) WHERE id(a) = 1 " +
        "RETURN id(b) AS bid, reduce(acc = 0.0, r IN rs | acc + r.w) AS tw")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(und == Set((3L, 7.0)))
    // seeded zero-bound expansion: pre-bound start keeps its k=0 row
    val z = CypherPlanner.run(spark, g,
      "MATCH (a:V) WHERE id(a) = 4 " +
        "MATCH p = (a)-[rs:E*0..2]->(b:V) " +
        "RETURN id(b) AS bid, length(p) AS l, size(rs) AS n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(z == Set((4L, 0L, 0L)))
    // inline WHERE + rel list on one group: the filtered steps are
    // exactly the listed payloads
    val wl = CypherPlanner.run(spark, g,
      "MATCH (s:V) ((x)-[r:E]->(y) WHERE r.w > 2.0){1,2} (t:V) " +
        "RETURN id(s) AS sid, id(t) AS tid, " +
        "reduce(acc = 0.0, e IN r | acc + e.w) AS tw")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(wl == Set((2L, 3L, 5.0), (3L, 4L, 7.0), (2L, 4L, 12.0)))
    // OUTER-ref WHERE (composite keys) + named group rel (payload
    // list) on the same hop — the README quick-tour shape
    val ow = CypherPlanner.run(spark, g,
      "MATCH (s:V) ((x)-[r:E]->(y) WHERE y.v > s.v){1,3} (t:V) " +
        "RETURN id(s) AS sid, id(t) AS tid, size(r) AS n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(ow == Set((1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 3L),
      (2L, 3L, 1L), (2L, 4L, 2L), (3L, 4L, 1L)))
  }

  test("multi-hop group WHERE filters whole repetitions") {
    import spark.implicits._
    // chain 1→2→3→4→5, v values 10,20,15,40,50
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, 10L), (2L, 20L), (3L, 15L),
        (4L, 40L), (5L, 50L)).toDF("__id", "v")),
      rels = Map("E" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
        .toDF("__src", "__dst")))
    def pairs(q: String): Set[(Long, Long, Long)] =
      CypherPlanner.run(spark, g, q).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // endpoint-relating predicate: every 2-hop repetition must end
    // higher than it starts — all three reps qualify, and k=2 chains
    assert(pairs("MATCH p = (s:V) ((a)-[:E]->(b)-[:E]->(c) " +
      "WHERE a.v < c.v){1,2} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((1L, 3L, 2L), (2L, 4L, 2L), (3L, 5L, 2L), (1L, 5L, 4L)))
    // middle-node predicate: b must dominate BOTH endpoints — only
    // the 1→2→3 repetition survives (20 > 10 and 20 > 15)
    assert(pairs("MATCH p = (s:V) ((a)-[:E]->(b)-[:E]->(c) " +
      "WHERE b.v > a.v AND b.v > c.v){1,2} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((1L, 3L, 2L)))
    // id() resolves per-position; zero-length branch stays vacuous
    assert(pairs("MATCH p = (s:V) ((a)-[:E]->(b)-[:E]->(c) " +
      "WHERE id(a) < id(c) AND a.v > 999){0,1} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      (1L to 5L).map(i => (i, i, 0L)).toSet)
    // outer-scope references decorrelate on multi-hop groups too:
    // every repetition's end must exceed the WALK START's value
    assert(pairs("MATCH p = (s:V) ((a)-[:E]->(b)-[:E]->(c) " +
      "WHERE s.v < c.v){1,2} (t:V) " +
      "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l") ==
      Set((1L, 3L, 2L), (1L, 5L, 4L), (2L, 4L, 2L), (3L, 5L, 2L)))
    // unknown variables still reject loudly
    val e = intercept[IllegalArgumentException](CypherPlanner.run(spark, g,
      "MATCH p = (s:V) ((a)-[:E]->(b)-[:E]->(c) WHERE nosuch.v < c.v){1,2} (t:V) " +
        "RETURN id(s) AS sid").collect())
    assert(e.getMessage.contains("unknown"))
  }

  test("QPP WHERE references outer-scope variables (decorrelated per tuple)") {
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map(
        "C" -> Seq((100L, Some(15L)), (200L, Some(35L)), (300L, None))
          .toDF("__id", "cut"),
        "V" -> Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
          .toDF("__id", "v")),
      rels = Map("E" -> Seq((1L, 2L), (2L, 3L), (3L, 4L))
        .toDF("__src", "__dst")))
    // a variable bound by an EARLIER clause parameterizes the per-step
    // predicate: each x row sees its own filtered edge set
    val rows = CypherPlanner.run(spark, g,
      "MATCH (x:C) MATCH p = (s:V) ((a)-[:E]->(b) WHERE b.v > x.cut){1,3} (t:V) " +
        "RETURN id(x) AS xid, id(s) AS sid, id(t) AS tid, length(p) AS l")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(rows == Set(
      (100L, 1L, 2L, 1L), (100L, 2L, 3L, 1L), (100L, 3L, 4L, 1L),
      (100L, 1L, 3L, 2L), (100L, 2L, 4L, 2L), (100L, 1L, 4L, 3L),
      (200L, 3L, 4L, 1L)))
    // x = 300 has a NULL cut: every step predicate is null → no walks
    // with k >= 1 — but the ZERO-length branch never ran the WHERE, so
    // it survives even under a null outer value
    val zero = CypherPlanner.run(spark, g,
      "MATCH (x:C) MATCH p = (s:V) ((a)-[:E]->(b) WHERE b.v > x.cut){0,2} (t:V) " +
        "WHERE id(x) = 300 " +
        "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(zero == (1L to 4L).map(i => (i, i, 0L)).toSet)
    // the same on a composite group: its zero-length rows survive the
    // null cut with empty group and inner-relationship lists
    val zeroMh = CypherPlanner.run(spark, g,
      "MATCH (x:C) MATCH p = (s:V) " +
        "((a)-[r1:E]->(b)-[r2:E]->(c) WHERE c.v > x.cut){0,2} (t:V) " +
        "WHERE id(x) = 300 RETURN id(s) AS sid, id(t) AS tid, " +
        "length(p) AS l, size(a) AS na, size(c) AS nc, size(r2) AS nr")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(zeroMh == (1L to 4L).map(i => (i, i, 0L, 0L, 0L, 0L)).toSet)
    // the group's own juncture start is an outer binding too — the
    // round-13 divergence ((a)-[r]->(b) WHERE s.v < b.v) now plans
    val sv = CypherPlanner.run(spark, g,
      "MATCH p = (s:V) ((a)-[:E]->(b) WHERE s.v < b.v){1,2} (t:V) " +
        "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sv == Set((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 1L),
      (2L, 4L, 2L), (3L, 4L, 1L)))
    // inner and outer references compose in one predicate
    val mix = CypherPlanner.run(spark, g,
      "MATCH (x:C) MATCH p = (s:V) ((a)-[:E]->(b) WHERE a.v < b.v AND b.v > x.cut){1,3} (t:V) " +
        "WHERE id(x) = 200 " +
        "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(mix == Set((3L, 4L, 1L)))
    // genuinely unknown variables still reject loudly
    val e = intercept[IllegalArgumentException](CypherPlanner.run(spark, g,
      "MATCH p = (s:V) ((a)-[:E]->(b) WHERE nosuch.v < b.v){1,2} (t:V) " +
        "RETURN id(s) AS sid").collect())
    assert(e.getMessage.contains("unknown"))
  }

  test("undirected QPP WHERE over heterogeneous endpoints sees both labels") {
    import spark.implicits._
    // U --LIKES--> W with DIFFERENT endpoint labels declared in the
    // schema. An undirected group mirrors the edge list, so a step's
    // traversal source can be EITHER a :U or a :W node — the WHERE's
    // property lookup must union both label tables, or mirrored rows
    // null out and silently vanish.
    val g = graft.graph.PropertyGraph(
      nodes = Map(
        "U" -> Seq((1L, 10L), (2L, 5L)).toDF("__id", "v"),
        "W" -> Seq((11L, 7L), (12L, 1L)).toDF("__id", "v")),
      rels = Map("LIKES" -> Seq((1L, 11L), (2L, 12L))
        .toDF("__src", "__dst")),
      relEndpoints = Map("LIKES" -> ("U", "W")))
    val rows = CypherPlanner.run(spark, g,
      "MATCH (s) ((a)-[:LIKES]-(b) WHERE a.v > b.v){1,1} (t) " +
        "RETURN id(s) AS sid, id(t) AS tid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // stored rows: 1→11 (10 > 7 keeps), 2→12 (5 > 1 keeps);
    // mirrored rows: 11→1 (7 > 10 drops), 12→2 (1 > 5 drops).
    // Before the fix the mirrored rows' a.v lookup found no row
    // (single-sided label) and the kept set depended on orientation.
    assert(rows == Set((1L, 11L), (2L, 12L)))
    // the mirrored predicate keeps only the mirrored orientation
    val rev = CypherPlanner.run(spark, g,
      "MATCH (s) ((a)-[:LIKES]-(b) WHERE a.v < b.v){1,1} (t) " +
        "RETURN id(s) AS sid, id(t) AS tid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rev == Set((11L, 1L), (12L, 2L)))
  }

  test("weighted shortestPath fails loudly on null/non-numeric weights") {
    // a null weight would propagate NULL __wcost through every
    // relaxation touching the edge — pairs silently surfacing with
    // cost(p) = NULL. The inline raise_error guard makes it loud.
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("__id", "name")),
      rels = Map("E" -> Seq(
        (1L, 2L, Some(1.5)),
        (2L, 3L, None) // the poisoned edge
      ).toDF("__src", "__dst", "w")))
    val e = intercept[Exception] {
      CypherPlanner.run(spark, g,
        "MATCH p = shortestPath((a:V)-[:E*1..3]->(b:V), 'w') " +
          "RETURN a.name AS a, b.name AS b, cost(p) AS c").collect()
    }
    def causes(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    assert(causes(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("numeric weight")),
      s"expected the named null-weight error, got: ${e.getMessage}")
    // an all-weighted graph over the same shape still answers
    val ok = graft.graph.PropertyGraph(
      nodes = g.nodes,
      rels = Map("E" -> Seq((1L, 2L, 1.5), (2L, 3L, 2.0))
        .toDF("__src", "__dst", "w")))
    val rows = CypherPlanner.run(spark, ok,
      "MATCH p = shortestPath((a:V)-[:E*1..3]->(b:V), 'w') " +
        "WHERE a.name = 'a' AND b.name = 'c' RETURN cost(p) AS c").collect()
    assert(rows.length == 1 && math.abs(rows(0).getDouble(0) - 3.5) < 1e-9)
  }

  test("weighted searches reject zero or negative weights loudly") {
    // the <=-standing-min frontier pruning and the "minimal walks are
    // simple" enumeration argument hold only for strictly positive
    // weights — w <= 0 must fail loudly, not silently return an
    // incomplete cost-minimal set (r18, ADVICE)
    import spark.implicits._
    def g(w: Double) = graft.graph.PropertyGraph(
      nodes = Map("V" ->
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L, 1.5), (2L, 3L, w))
        .toDF("__src", "__dst", "w")))
    def causes(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    def positiveErr(e: Throwable): Boolean = causes(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("strictly positive"))
    val e0 = intercept[Exception] {
      CypherPlanner.run(spark, g(0.0),
        "MATCH p = shortestPath((a:V)-[:E*1..3]->(b:V), 'w') " +
          "RETURN cost(p) AS c").collect()
    }
    assert(positiveErr(e0), s"expected the w<=0 error, got: ${e0.getMessage}")
    val eNeg = intercept[Exception] {
      CypherPlanner.run(spark, g(-1.0),
        "MATCH p = allShortestPaths((a:V)-[:E*1..3]->(b:V), 'w') " +
          "RETURN cost(p) AS c").collect()
    }
    assert(positiveErr(eNeg),
      s"expected the w<=0 error, got: ${eNeg.getMessage}")
  }

  test("weighted SHORTEST k keeps the k cheapest trails per pair") {
    // crafted so the CHEAPEST trail is the LONGER one (1->2->3 costs
    // 3 vs the direct edge's 10) and a parallel direct edge (cost 5)
    // takes the 2nd slot — pins that neither first-reach nor
    // min-collapse pruning applies and parallel edges keep their own
    // weights. Before r18, SHORTEST 2 + weighted silently answered
    // 1-best.
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, "s"), (2L, "m"), (3L, "t"))
        .toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 3L, 10.0), (1L, 3L, 5.0),
        (1L, 2L, 1.0), (2L, 3L, 2.0)).toDF("__src", "__dst", "w")))
    val rows = CypherPlanner.run(spark, g,
      "MATCH p = SHORTEST 2 shortestPath((a:V)-[:E*1..2]->(b:V), 'w') " +
        "WHERE a.name = 's' AND b.name = 't' " +
        "RETURN length(p) AS hops, cost(p) AS c ORDER BY c").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((2L, 3.0), (1L, 5.0)))
    // the weighted allShortestPaths combination stays a loud reject
    val e = intercept[Exception] {
      CypherPlanner.run(spark, g,
        "MATCH p = SHORTEST 2 allShortestPaths((a:V)-[:E*1..2]->(b:V), 'w') " +
          "RETURN cost(p) AS c").collect()
    }
    assert(e.getMessage != null &&
      e.getMessage.contains("does not compose with weighted"))
  }

  test("group variables bind per-walk lists under allShortestPaths") {
    // r18 — the formerly-rejected cell: a diamond with TWO shortest
    // 2-hop walks (1→2→4 and 1→3→4); each enumerated walk binds its
    // OWN group lists, so x[1] names that walk's middle node
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, "s"), (2L, "m1"), (3L, "m2"), (4L, "t"))
        .toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
        .toDF("__src", "__dst")))
    val rows = CypherPlanner.run(spark, g,
      "MATCH (a:V) WHERE a.name = 's' " +
        "MATCH p = allShortestPaths((a) ((x)-[:E]->(y)){1,3} (b:V)) " +
        "WHERE b.name = 't' " +
        "RETURN x[1] AS mid, size(x) AS nx, size(y) AS ny, " +
        "length(p) AS hops ORDER BY mid").collect()
    assert(rows.length == 2, s"expected 2 walks, got ${rows.length}")
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 3L))
    assert(rows.forall(r =>
      r.getLong(1) == 2 && r.getLong(2) == 2 && r.getLong(3) == 2))
  }

  test("localdatetime/localtime/time: NTZ wall clock, epoch-anchored time-of-day") {
    val r = run(
      "MATCH (n:Nation) WHERE n.nationkey = 0 " +
        "RETURN localdatetime({year: 2024, month: 3, day: 5, hour: 7}) AS ldt, " +
        "time({hour: 6, minute: 30}) AS t, " +
        "localtime({hour: 23, minute: 59, second: 59}) AS lt, " +
        "time({hour: 6}).hour AS h")
      .collect().head
    assert(r.getAs[java.time.LocalDateTime](0) ==
      java.time.LocalDateTime.of(2024, 3, 5, 7, 0))
    assert(r.getAs[java.time.LocalDateTime](1) ==
      java.time.LocalDateTime.of(1970, 1, 1, 6, 30))
    assert(r.getAs[java.time.LocalDateTime](2) ==
      java.time.LocalDateTime.of(1970, 1, 1, 23, 59, 59))
    assert(r.getLong(3) == 6L)
    // single-arg conversions preserve sub-second time-of-day and the
    // whole family compares/sorts like Neo4j's instants
    def runEv(q: String) = CypherPlanner.run(spark,
      GraphLoader.events(spark, TestSpark.sf), q)
    val conv = runEv(
      "MATCH (e:Event) " +
        "WITH e.ts AS ts, localtime(e.ts) AS lt, localdatetime(e.ts) AS ldt " +
        "WHERE lt >= time({hour: 12}) " +
        "RETURN count(*) AS n").collect().head.getLong(0)
    val direct = runEv(
      "MATCH (e:Event) WHERE e.ts.hour >= 12 RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(conv == direct && conv > 0)
    // unknown / missing components fail loudly
    intercept[Exception] {
      run("MATCH (n:Nation) RETURN time({minute: 5}) AS t").collect()
    }
    intercept[Exception] {
      run("MATCH (n:Nation) RETURN localtime({hour: 1, day: 2}) AS t").collect()
    }
  }

  test("point/distance: euclidean, both spellings, {x,y} required") {
    val r = run(
      "MATCH (n:Nation) WHERE n.nationkey = 0 " +
        "RETURN point.distance(point({x: 3.0, y: 0.0}), point({x: 0.0, y: 4.0})) AS d1, " +
        "distance(point({y: 4.0, x: 3.0}), point({x: 0.0, y: 0.0})) AS d2")
      .collect().head
    assert(r.getDouble(0) == 5.0 && r.getDouble(1) == 5.0)
    intercept[Exception] {
      run("MATCH (n:Nation) RETURN point({x: 1.0, z: 2.0}) AS p").collect()
    }
  }

  test("geographic point: haversine distance, CRS dispatch, mixed CRS is null") {
    val r = run(
      "MATCH (n:Nation) WHERE n.nationkey = 0 " +
        // quarter meridian: equator to pole = pi/2 * R
        "RETURN point.distance(point({latitude: 0.0, longitude: 0.0}), " +
        "  point({latitude: 90.0, longitude: 0.0})) AS quarter, " +
        // same point -> 0
        "point.distance(point({latitude: 45.0, longitude: 10.0}), " +
        "  point({longitude: 10.0, latitude: 45.0})) AS zero, " +
        // mixed CRS -> null (Neo4j semantics)
        "point.distance(point({latitude: 1.0, longitude: 2.0}), " +
        "  point({x: 1.0, y: 2.0})) AS mixed")
      .collect().head
    val quarterMeridian =
      math.Pi / 2 * graft.cypher.CypherPlanner.EarthRadiusMeters
    assert(math.abs(r.getDouble(0) - quarterMeridian) < 1e-3)
    assert(r.getDouble(1) == 0.0)
    assert(r.isNullAt(2))
    // a WITH-carried geographic point keeps its CRS through the horizon
    val viaWith = run(
      "MATCH (n:Nation) WHERE n.nationkey = 0 " +
        "WITH point({latitude: 0.0, longitude: 0.0}) AS p " +
        "RETURN round(point.distance(p, " +
        "  point({latitude: 0.0, longitude: 180.0})), 1) AS d")
      .collect().head.getDouble(0)
    assert(math.abs(viaWith -
      math.Pi * graft.cypher.CypherPlanner.EarthRadiusMeters) < 0.1)
    // partial key sets fail loudly like {x, z}
    intercept[Exception] {
      run("MATCH (n:Nation) RETURN point({latitude: 1.0, y: 2.0}) AS p").collect()
    }
  }

  test("REMOVE nulls the property on matched nodes only") {
    val rows = run(
      "MATCH (c:Customer) WHERE c.acctbal < 0.0 REMOVE c.mktsegment " +
        "WITH count(*) AS w MATCH (c2:Customer) " +
        "RETURN c2.mktsegment AS seg, count(*) AS n ORDER BY seg").collect()
    val nullN = rows.filter(_.isNullAt(0)).map(_.getLong(1)).sum
    val negative = run(
      "MATCH (c:Customer) WHERE c.acctbal < 0.0 RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(nullN == negative && negative > 0)
    // removing an unknown property fails loudly
    intercept[Exception] {
      run("MATCH (c:Customer) REMOVE c.nosuch " +
        "WITH count(*) AS w MATCH (c2:Customer) RETURN count(*) AS n")
        .collect()
    }
  }

  test("DETACH DELETE drops nodes and cascades to incident edges") {
    val bigParts = run(
      "MATCH (p:Part) WHERE p.size > 40 RETURN count(*) AS n")
      .collect().head.getLong(0)
    val allParts = run("MATCH (p:Part) RETURN count(*) AS n")
      .collect().head.getLong(0)
    val partsLeft = run(
      "MATCH (p:Part) WHERE p.size > 40 DETACH DELETE p " +
        "WITH count(*) AS w MATCH (p2:Part) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(bigParts > 0 && partsLeft == allParts - bigParts)
    // CONTAINS edges to the deleted parts are gone even via the
    // untyped/edge-only read (no Part re-join hiding them)
    val edgesAll = run(
      "MATCH (o:Order)-[:CONTAINS]->(p:Part) RETURN count(*) AS n")
      .collect().head.getLong(0)
    val edgesToBig = run(
      "MATCH (o:Order)-[:CONTAINS]->(p:Part) WHERE p.size > 40 " +
        "RETURN count(*) AS n").collect().head.getLong(0)
    val edgesLeft = run(
      "MATCH (p:Part) WHERE p.size > 40 DETACH DELETE p " +
        "WITH count(*) AS w MATCH (a)-[:CONTAINS]->(b) " +
        "RETURN count(*) AS n").collect().head.getLong(0)
    assert(edgesLeft == edgesAll - edgesToBig)
    // unlabeled variable fails loudly
    intercept[Exception] {
      run("MATCH (a)-[:CONTAINS]->(b) DETACH DELETE a " +
        "WITH count(*) AS w MATCH (o:Order) RETURN count(*) AS n").collect()
    }
  }

  test("plain DELETE errors on attached nodes and deletes isolated ones") {
    // attached: every Part has SUPPLIES edges — plain DELETE is the
    // Neo4j runtime error, spec-pinned here
    val e = intercept[IllegalStateException] {
      run("MATCH (p:Part) WHERE p.size > 40 DELETE p " +
        "WITH count(*) AS w MATCH (p2:Part) RETURN count(*) AS n")
        .collect()
    }
    assert(e.getMessage.contains("still has relationships"))
    // legal pipeline: strip both edge families first, then the plain
    // DELETE sees the DERIVED (edge-free) tables and succeeds
    val bigParts = run(
      "MATCH (p:Part) WHERE p.size > 40 RETURN count(*) AS n")
      .collect().head.getLong(0)
    val allParts = run("MATCH (p:Part) RETURN count(*) AS n")
      .collect().head.getLong(0)
    val left = run(
      "MATCH (s:Supplier)-[r:SUPPLIES]->(p:Part) WHERE p.size > 40 DELETE r " +
        "WITH count(*) AS n1 " +
        "MATCH (o:Order)-[r2:CONTAINS]->(p2:Part) WHERE p2.size > 40 DELETE r2 " +
        "WITH count(*) AS n2 " +
        "MATCH (p3:Part) WHERE p3.size > 40 DELETE p3 " +
        "WITH count(*) AS n3 " +
        "MATCH (p4:Part) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(bigParts > 0 && left == allParts - bigParts)
  }

  test("db.schema.nodeTypeProperties emits no rows for a zero-node label") {
    // Neo4j's procedure reads the store: a label with no nodes has no
    // schema rows — the ungrouped agg must not leak its empty-group
    // row with a null `mandatory` (r16)
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map(
        "V" -> Seq((1L, "a"), (2L, "b")).toDF("__id", "name"),
        "W" -> Seq.empty[(Long, String)].toDF("__id", "tag")),
      rels = Map.empty)
    val rows = CypherPlanner.run(spark, g,
      "CALL db.schema.nodeTypeProperties() " +
        "RETURN nodeType, propertyName, mandatory ORDER BY nodeType, propertyName")
      .collect()
    assert(rows.map(_.getString(0)).forall(_ == ":`V`"))
    assert(rows.map(_.getString(1)).toList == List("name"))
    assert(rows.forall(!_.isNullAt(2)))
  }

  test("db.schema.relTypeProperties: typed rows, null frames, zero-edge gating") {
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, "a"), (2L, "b")).toDF("__id", "name")),
      rels = Map(
        "W" -> Seq((1L, 2L, 3.5), (2L, 1L, 4.5)).toDF("__src", "__dst", "w"),
        "BARE" -> Seq((1L, 2L)).toDF("__src", "__dst"),
        "EMPTY" -> Seq.empty[(Long, Long)].toDF("__src", "__dst")))
    val rows = CypherPlanner.run(spark, g,
      "CALL db.schema.relTypeProperties() " +
        "YIELD relType, propertyName, propertyTypes, mandatory " +
        "RETURN relType, propertyName, mandatory ORDER BY relType")
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getBoolean(2))).toList
    // BARE has edges but no properties → one null frame; W's `w` is
    // mandatory (never null); EMPTY emits nothing
    assert(rows == List((":`BARE`", null, false), (":`W`", "w", true)))
  }

  test("schema procedures return zero rows on schema-less graphs (no empty.reduce)") {
    import spark.implicits._
    // zero relationship types → relTypeProperties yields zero rows
    // (Neo4j); every label property-less → nodeTypeProperties too
    // (r17 — both used to throw on the empty fold)
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq(Tuple1(1L), Tuple1(2L)).toDF("__id")),
      rels = Map.empty)
    val relRows = CypherPlanner.run(spark, g,
      "CALL db.schema.relTypeProperties() " +
        "RETURN relType, propertyName, mandatory").collect()
    assert(relRows.isEmpty)
    val nodeRows = CypherPlanner.run(spark, g,
      "CALL db.schema.nodeTypeProperties() " +
        "RETURN nodeType, propertyName, mandatory").collect()
    assert(nodeRows.isEmpty)
  }

  test("SHORTEST k trails may revisit the source (edge uniqueness only)") {
    import spark.implicits._
    // 1→2 (e1), 2→1 (e2), 1→3 (e3), 2→3 (e4): trails 1⇝3 are [e3]
    // (1 hop), [e1,e4] (2 hops), and [e1,e2,e3] (3 hops — passes back
    // THROUGH the source; GQL trail semantics only require edge
    // uniqueness, so it is a valid trail Neo4j returns; r17 dropped
    // the src≠n shortcut that silently excluded it)
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 3L).map(i => (i, s"n$i")).toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L))
        .toDF("__src", "__dst")),
      relEndpoints = Map("E" -> ("V", "V")))
    val hops = CypherPlanner.run(spark, g,
      "MATCH p = SHORTEST 5 (a:V)-[:E]->{1,3}(b:V) " +
        "WHERE id(a) = 1 AND id(b) = 3 RETURN length(p) AS l ORDER BY l")
      .collect().map(_.getLong(0)).toList
    assert(hops == List(1L, 2L, 3L))
    // a closed trail back to the source is also valid: 1→2→1 via the
    // two distinct edge identities
    val closed = CypherPlanner.run(spark, g,
      "MATCH p = SHORTEST 2 (a:V)-[:E]->{1,3}(b:V) " +
        "WHERE id(a) = 1 AND id(b) = 1 RETURN length(p) AS l ORDER BY l")
      .collect().map(_.getLong(0)).toList
    assert(closed == List(2L))
    // ...while the BFS selectors never bind both ends to one node
    for (pat <- Seq("SHORTEST 1 (a:V)-[:E]->{1,3}(b:V)",
        "shortestPath((a:V)-[:E*1..3]->(b:V))"))
      assert(CypherPlanner.run(spark, g, s"MATCH p = $pat " +
        "WHERE id(a) = 1 AND id(b) = 1 RETURN length(p) AS l")
        .collect().isEmpty, pat)
  }

  test("plain DELETE on a nodes-only graph succeeds (no edge tables, nothing attached)") {
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, "a"), (2L, "b")).toDF("__id", "name")),
      rels = Map.empty)
    val n = CypherPlanner.run(spark, g,
      "MATCH (v:V) WHERE v.name = 'a' DELETE v " +
        "WITH count(*) AS w MATCH (v2:V) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n == 1L)
  }

  test("DELETE a, r plans relationship deletes before node deletes (order-free)") {
    import spark.implicits._
    def g() = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, "a"), (2L, "b")).toDF("__id", "name")),
      rels = Map("E" -> Seq((1L, 2L)).toDF("__src", "__dst")),
      relEndpoints = Map("E" -> ("V", "V")))
    // node listed FIRST: Neo4j still accepts it — the same clause
    // deletes the only incident relationship
    val n = CypherPlanner.run(spark, g(),
      "MATCH (a:V)-[r:E]->(b:V) DELETE a, r " +
        "WITH count(*) AS w MATCH (v:V) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n == 1L)
    // but an UNMATCHED relationship still blocks the node delete
    val g2 = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, "a"), (2L, "b"), (3L, "c"))
        .toDF("__id", "name")),
      rels = Map(
        "E" -> Seq((1L, 2L)).toDF("__src", "__dst"),
        "F" -> Seq((1L, 3L)).toDF("__src", "__dst")),
      relEndpoints = Map("E" -> ("V", "V"), "F" -> ("V", "V")))
    val e = intercept[IllegalStateException] {
      CypherPlanner.run(spark, g2,
        "MATCH (a:V)-[r:E]->(b:V) DELETE a, r " +
          "WITH count(*) AS w MATCH (v:V) RETURN count(*) AS n").collect()
    }
    assert(e.getMessage.contains("still has relationships"))
  }

  test("quantified groups accept 4-hop inner chains (cap lifted to MaxVarHops)") {
    val rows = CypherQueries.qppMultiHop4(spark, TestSpark.sf).collect()
    // one 4-hop walk per 5-nation region chain, k = 1 only (k = 2
    // needs 8 edges) — the group variable still binds one id per rep
    assert(rows.length == 5)
    assert(rows.forall(r => r.getLong(2) == 4L && r.getLong(3) == 1L))
    // the shared quantifier cap still rejects oversized inner chains
    val hops = Seq.fill(CypherParser.MaxVarHops + 1)("-[:E]->()").mkString
    val e = intercept[IllegalArgumentException](
      CypherParser.parse(s"MATCH (s) (()$hops){1,2} (t) RETURN id(s) AS x"))
    assert(e.getMessage.contains("at most"))
  }

  test("map projection `.*` resolves all properties; explicit entries override") {
    val rows = CypherQueries.mapProjectionStar(spark, TestSpark.sf).collect()
    assert(rows.length == 11)
    // the computed name: entry overrode the star's stored-name selector
    assert(rows.forall(r => r.getString(1) == r.getString(1).toUpperCase))
    // star + plain selectors dedupe (no duplicate struct field)
    val dup = run(
      "MATCH (n:Nation) WHERE n.nationkey = 0 " +
        "WITH n {.*, .name} AS m RETURN m.name AS nm, m.regionkey AS rk")
      .collect()
    assert(dup.length == 1 && dup.head.getString(0) == "NATION_0")
    // relationship variables project their properties through `.*` too
    val rel = run(
      "MATCH (o:Order)-[r:CONTAINS]->(p:Part) WHERE o.orderkey = 1 " +
        "WITH r {.*} AS m RETURN m.qty AS q, m.price AS pr ORDER BY q, pr")
      .collect()
    assert(rel.nonEmpty && !rel.head.isNullAt(0) && !rel.head.isNullAt(1))
    // a scalar binding has no property columns — narrowed loud reject
    val e = intercept[IllegalArgumentException](run(
      "MATCH (n:Nation) WITH n.name AS x RETURN x {.*} AS m").collect())
    assert(e.getMessage.contains("no property columns"))
  }

  test("CALL db.propertyKeys() answers the engine-wide key catalog") {
    val keys = CypherQueries.catalogKeys(spark, TestSpark.sf).collect()
      .map(_.getString(0)).toSeq
    assert(keys == keys.sorted && keys.contains("acctbal") &&
      keys.contains("qty") && keys.size == 19)
  }

  test("label disjunction (n:A|B) scans exactly the listed label tables") {
    val rows = CypherQueries.labelDisjunction(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).toSet.subsetOf(Set("Customer", "Supplier")))
    // schema-reconciled branches: a property only ONE branch carries
    // reads null on the other (Customer has mktsegment, Supplier none)
    val mixed = run(
      "MATCH (n:Customer|Supplier) WHERE n.acctbal > 9990.0 " +
        "RETURN labels(n)[0] AS kind, n.mktsegment AS seg")
      .collect()
    assert(mixed.filter(_.getString(0) == "Supplier").forall(_.isNullAt(1)))
    // inline props filter per branch: only branches carrying the
    // property can match
    val withProps = run(
      "MATCH (n:Customer|Supplier {mktsegment: 'BUILDING'}) " +
        "RETURN count(*) AS n").collect().head.getLong(0)
    val onlyCust = run(
      "MATCH (c:Customer {mktsegment: 'BUILDING'}) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(withProps == onlyCust && onlyCust > 0)
    // disjunction + conjunction mixing rejects at parse time
    val e = intercept[IllegalArgumentException](CypherParser.parse(
      "MATCH (n:Customer|Supplier:Nation) RETURN id(n) AS x"))
    assert(e.getMessage.contains("cannot mix"))
    // disjunction endpoints join through relationships (no stale
    // single-label schema pruning)
    val viaRel = run(
      "MATCH (n:Customer|Supplier)-[:FROM_NATION]->(m:Nation) " +
        "RETURN count(*) AS n").collect().head.getLong(0)
    val custOnly = run(
      "MATCH (n:Customer)-[:FROM_NATION]->(m:Nation) " +
        "RETURN count(*) AS n").collect().head.getLong(0)
    assert(viaRel == custOnly && custOnly > 0)
  }

  test("label predicates n:Label work in WHERE and RETURN position") {
    val rows = CypherQueries.labelPredicate(spark, TestSpark.sf).collect()
    // 5 region-2 nations (is_nation) + the region row itself
    assert(rows.length == 6)
    assert(rows.count(_.getBoolean(1)) == 5)
    // conjunction spelling `n:A:B` is an all-of check
    val none = run(
      "MATCH (n) WHERE n:Nation:Region RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(none == 0L)
  }

  test("elementId(n) is the stringified node id") {
    val rows = CypherQueries.elementIdQ(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getString(0) == (2000000000L +
      r.getString(1).split("#")(1).toLong).toString))
  }

  test("named fixed multi-type/typeless hops bind union props and per-branch keys/properties") {
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, "a"), (2L, "b"), (3L, "c"))
        .toDF("__id", "name")),
      rels = Map(
        "X" -> Seq((1L, 2L, 10L)).toDF("__src", "__dst", "w"),
        "Y" -> Seq((1L, 3L, "yy")).toDF("__src", "__dst", "z")),
      relEndpoints = Map("X" -> ("V", "V"), "Y" -> ("V", "V")))
    // r.prop on a multi-type FIXED hop: the union schema null-fills
    // per branch (Neo4j's missing-property null); keys(r) stays the
    // BRANCH type's own key set, not the union's
    val rows = CypherPlanner.run(spark, g,
      "MATCH (a:V)-[r:X|Y]->(b:V) " +
        "RETURN id(b) AS bid, type(r) AS t, r.w AS w, r.z AS z, " +
        "keys(r) AS ks").collect()
      .map(x => (x.getLong(0), x.getString(1), Option(x.get(2)),
        Option(x.get(3)), x.getSeq[String](4).toList)).toSet
    assert(rows == Set(
      (2L, "X", Some(10L), None, List("w")),
      (3L, "Y", None, Some("yy"), List("z"))))
    // typeless named fixed hop: same union surface, properties(r)
    // holds only the branch's own non-null entries
    val tl = CypherPlanner.run(spark, g,
      "MATCH (a:V)-[r]->(b:V) WHERE id(a) = 1 " +
        "UNWIND properties(r) AS kv " +
        "RETURN id(b) AS bid, kv.key AS k, kv.val AS v").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2))).toSet
    assert(tl == Set((2L, "w", "10"), (3L, "z", "yy")))
  }

  test("named var-length and group rels widen multi-type/typeless payloads to the union schema") {
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
        .toDF("__id", "name")),
      rels = Map(
        "X" -> Seq((1L, 2L, 10L), (3L, 4L, 30L)).toDF("__src", "__dst", "w"),
        "Y" -> Seq((2L, 3L, "yy")).toDF("__src", "__dst", "z")),
      relEndpoints = Map("X" -> ("V", "V"), "Y" -> ("V", "V")))
    // named MULTI-TYPE var-length: each step's payload carries the
    // union schema — w on :X steps, null on :Y steps (and vice versa
    // for z); type(r) via the payload's type field
    val rows = CypherPlanner.run(spark, g,
      "MATCH (a:V)-[rs:X|Y*2..3]->(b:V) WHERE id(a) = 1 " +
        "RETURN id(b) AS bid, size(rs) AS n, " +
        "[r IN rs | r.w] AS ws, [r IN rs | r.type] AS ts").collect()
    assert(rows.length == 2)
    val byB = rows.map(r => r.getLong(0) -> r).toMap
    assert(byB(3L).getSeq[Any](2).toList == List(10L, null))
    assert(byB(3L).getSeq[String](3).toList == List("X", "Y"))
    assert(byB(4L).getSeq[Any](2).toList == List(10L, null, 30L))
    // named TYPELESS var-length: same union schema over every
    // schema-compatible table
    val tl = CypherPlanner.run(spark, g,
      "MATCH (a:V)-[rs*2..2]->(b:V) WHERE id(a) = 1 " +
        "RETURN id(b) AS bid, [r IN rs | r.z] AS zs").collect()
    assert(tl.length == 1 && tl.head.getSeq[Any](1).toList == List(null, "yy"))
    // named inner rel of a multi-hop group over a MULTI-TYPE hop
    // (r15 — replaces the single-type reject): one payload element
    // per repetition, union-schema fields
    val mh = CypherPlanner.run(spark, g,
      "MATCH (s:V) ((u)-[r1:X|Y]->(v)-[r2:X|Y]->(w)){1,1} (t:V) " +
        "RETURN id(s) AS sid, id(t) AS tid, " +
        "[r IN r1 | r.w] AS w1, [r IN r2 | r.z] AS z2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Any](2).toList,
        r.getSeq[Any](3).toList)).toSet
    assert(mh == Set(
      (1L, 3L, List(10L), List("yy")),
      (2L, 4L, List(null), List(null))))
    // parallel edges of two types: relationships(p) reports each
    // edge's rank k — a single-hop union ranks across its types, a
    // composite hop ranks per type
    val par = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 3L).map(Tuple1(_)).toDF("__id")),
      rels = Map(
        "X" -> Seq((1L, 2L, 10L), (1L, 2L, 20L)).toDF("__src", "__dst", "w"),
        "Y" -> Seq((1L, 2L, "p"), (2L, 3L, "q")).toDF("__src", "__dst", "z")),
      relEndpoints = Map("X" -> ("V", "V"), "Y" -> ("V", "V")))
    def ranks(q: String): Set[List[(String, Int)]] =
      CypherPlanner.run(spark, par, q).collect().map(_.getSeq[
        org.apache.spark.sql.Row](0).map(e => (e.getString(0), e.getInt(3)))
        .toList).toSet
    assert(ranks("MATCH p = (a:V)-[:X|Y*2..2]->(b:V) WHERE id(a) = 1 " +
      "RETURN relationships(p) AS rs") == Set(
      List(("X", 1), ("Y", 1)), List(("X", 2), ("Y", 1)),
      List(("Y", 3), ("Y", 1))))
    assert(ranks("MATCH p = (a:V) ((u)-[:X|Y]->(v)-[:X|Y]->(w)){1,1} (b:V) " +
      "WHERE id(a) = 1 RETURN relationships(p) AS rs") == Set(
      List(("X", 1), ("Y", 1)), List(("X", 2), ("Y", 1)),
      List(("Y", 1), ("Y", 1))))
  }

  test("outer-scope QPP WHERE composes with shortestPath (per-tuple BFS)") {
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map(
        "C" -> Seq((100L, Some(15L)), (200L, Some(35L)), (300L, None))
          .toDF("__id", "cut"),
        "V" -> Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
          .toDF("__id", "v")),
      rels = Map("E" -> Seq((1L, 2L), (2L, 3L), (3L, 4L))
        .toDF("__src", "__dst")))
    // each x row runs its own BFS over its own filtered edge set;
    // x = 300 (null cut) has no qualifying edges, so no paths at all
    val rows = CypherPlanner.run(spark, g,
      "MATCH (x:C) " +
        "MATCH p = shortestPath((s:V) ((a)-[:E]->(b) WHERE b.v > x.cut){1,3} (t:V)) " +
        "RETURN id(x) AS xid, id(s) AS sid, id(t) AS tid, length(p) AS l")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(rows == Set(
      (100L, 1L, 2L, 1L), (100L, 2L, 3L, 1L), (100L, 3L, 4L, 1L),
      (100L, 1L, 3L, 2L), (100L, 2L, 4L, 2L), (100L, 1L, 4L, 3L),
      (200L, 3L, 4L, 1L)))
    // the group's own juncture start as the outer binding, shortest
    val sv = CypherPlanner.run(spark, g,
      "MATCH p = shortestPath((s:V) ((a)-[:E]->(b) WHERE b.v > s.v){1,3} (t:V)) " +
        "RETURN id(s) AS sid, id(t) AS tid, length(p) AS l")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sv == Set((1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 3L),
      (2L, 3L, 1L), (2L, 4L, 2L), (3L, 4L, 1L)))
    // pre-bound start + outer WHERE: the composite-keyed seed kicks in
    val seeded = CypherPlanner.run(spark, g,
      "MATCH (x:C) WHERE id(x) = 100 MATCH (s:V) WHERE id(s) = 2 " +
        "MATCH p = shortestPath((s) ((a)-[:E]->(b) WHERE b.v > x.cut){1,3} (t:V)) " +
        "RETURN id(t) AS tid, length(p) AS l")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(seeded == Set((3L, 1L), (4L, 2L)))
  }

  test("outer-scope QPP WHERE composes with weighted and allShortestPaths too") {
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map(
        "C" -> Seq((100L, 15L), (200L, 35L)).toDF("__id", "cut"),
        "V" -> Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
          .toDF("__id", "v")),
      rels = Map("E" -> Seq((1L, 2L, 5.0), (2L, 3L, 1.0), (1L, 3L, 9.0))
        .toDF("__src", "__dst", "w")))
    // weighted: per-tuple Bellman-Ford — x=100 admits every edge
    // (cheapest 1->3 is via 2, cost 6); x=200 drops b.v<=35 edges,
    // hmm: only (1,3,9) and (2,3,1) have dst v=30<=35? v(3)=30<=35 no
    // edges survive for x=200 except none with b.v>35 => only dst 4
    // (absent) — no paths
    val w = CypherPlanner.run(spark, g,
      "MATCH (x:C) " +
        "MATCH p = shortestPath((s:V) ((a)-[:E]->(b) WHERE b.v > x.cut){1,3} (t:V), 'w') " +
        "RETURN id(x) AS xid, id(s) AS sid, id(t) AS tid, cost(p) AS c")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(w == Set(
      (100L, 1L, 2L, 5.0), (100L, 2L, 3L, 1.0), (100L, 1L, 3L, 6.0)))
    // allShortestPaths: multiplicity counted per tuple
    val g2 = graft.graph.PropertyGraph(
      nodes = Map(
        "C" -> Seq((100L, 15L)).toDF("__id", "cut"),
        "V" -> Seq((1L, 10L), (2L, 20L), (3L, 20L), (4L, 40L))
          .toDF("__id", "v")),
      rels = Map("E" -> Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
        .toDF("__src", "__dst")))
    val a = CypherPlanner.run(spark, g2,
      "MATCH (x:C) " +
        "MATCH p = allShortestPaths((s:V) ((a)-[:E]->(b) WHERE b.v > x.cut){1,3} (t:V)) " +
        "WHERE id(s) = 1 AND id(t) = 4 " +
        "RETURN count(p) AS n").collect().head.getLong(0)
    assert(a == 2L)
  }

  test("In-direction pre-bound starts seed the expansion via the traversal flip") {
    import spark.implicits._
    def g() = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L))
        .toDF("__id", "v")),
      rels = Map("E" -> Seq((1L, 2L, 12L), (2L, 3L, 23L), (3L, 4L, 34L))
        .toDF("__src", "__dst", "w")),
      relEndpoints = Map("E" -> ("V", "V")))
    // shortestPath with an In hop and a PRE-BOUND start: the seed
    // must restrict the walk's start, not its far end (seeding the
    // stored-src end silently returned nothing)
    val sp = CypherPlanner.run(spark, g(),
      "MATCH (a:V) WHERE id(a) = 4 " +
        "MATCH p = shortestPath((a)<-[:E*1..3]-(b:V)) " +
        "RETURN id(b) AS bid, length(p) AS l").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sp == Set((3L, 1L), (2L, 2L), (1L, 3L)))
    // plain var-length: nodes(p) in pattern order, anchored on the
    // start
    val vl = CypherPlanner.run(spark, g(),
      "MATCH (a:V) WHERE id(a) = 4 " +
        "MATCH p = (a)<-[:E*1..2]-(b:V) " +
        "RETURN id(b) AS bid, length(p) AS l, nodes(p) AS ns").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList)).toSet
    assert(vl == Set((3L, 1L, List(4L, 3L)), (2L, 2L, List(4L, 3L, 2L))))
    // named relationship lists reverse into path order too
    val rl = CypherPlanner.run(spark, g(),
      "MATCH (a:V) WHERE id(a) = 4 " +
        "MATCH (a)<-[rs:E*1..2]-(b:V) " +
        "RETURN id(b) AS bid, [r IN rs | r.w] AS ws").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSet
    assert(rl == Set((3L, List(34L)), (2L, List(34L, 23L))))
    // and the seeded results equal the unseeded same-clause spelling
    val unseeded = CypherPlanner.run(spark, g(),
      "MATCH p = (a:V)<-[:E*1..2]-(b:V) WHERE id(a) = 4 " +
        "RETURN id(b) AS bid, length(p) AS l, nodes(p) AS ns").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList)).toSet
    assert(unseeded == vl)
    // unseeded In hop: the named list and nodes(p) are in pattern
    // order as well
    val rlUnseeded = CypherPlanner.run(spark, g(),
      "MATCH p = (a:V)<-[rs:E*1..3]-(b:V) WHERE id(a) = 4 " +
        "RETURN id(b) AS bid, [r IN rs | r.w] AS ws, nodes(p) AS ns")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList,
        r.getSeq[Long](2).toList)).toSet
    assert(rlUnseeded == Set((3L, List(34L), List(4L, 3L)),
      (2L, List(34L, 23L), List(4L, 3L, 2L)),
      (1L, List(34L, 23L, 12L), List(4L, 3L, 2L, 1L))))
    // group variables through a seeded In group hop
    val gv = CypherPlanner.run(spark, g(),
      "MATCH (s:V) WHERE id(s) = 4 " +
        "MATCH (s) ((x)<-[:E]-(y)){1,2} (t:V) " +
        "RETURN id(t) AS tid, x AS xs, y AS ys").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList,
        r.getSeq[Long](2).toList)).toSet
    val gvUnseeded = CypherPlanner.run(spark, g(),
      "MATCH (s:V) ((x)<-[:E]-(y)){1,2} (t:V) WHERE id(s) = 4 " +
        "RETURN id(t) AS tid, x AS xs, y AS ys").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList,
        r.getSeq[Long](2).toList)).toSet
    assert(gv == gvUnseeded && gv.nonEmpty)
    // zero-lower-bound: the seeded k=0 row survives on the In spelling
    val z = CypherPlanner.run(spark, g(),
      "MATCH (a:V) WHERE id(a) = 4 " +
        "MATCH p = (a)<-[:E*0..1]-(b:V) " +
        "RETURN id(b) AS bid, length(p) AS l").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(z == Set((4L, 0L), (3L, 1L)))
    // a fixed In hop: startNode/endNode keep the stored endpoints
    val se = CypherPlanner.run(spark, g(),
      "MATCH (a:V)<-[r:E]-(b:V) WHERE id(a) = 4 " +
        "RETURN id(startNode(r)) AS s, id(endNode(r)) AS e").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(se == Set((3L, 4L)))
    // relationships(p) in pattern order on a seeded In var-length hop
    // and on an unseeded one (label-less start: the scan is elided)
    def relEnds(q: String) = CypherPlanner.run(spark, g(), q).collect()
      .map(r => (r.getLong(0), r.getSeq[org.apache.spark.sql.Row](1)
        .map(e => (e.getLong(1), e.getLong(2))).toList)).toSet
    val wantRels = Set((3L, List((3L, 4L))), (2L, List((3L, 4L), (2L, 3L))))
    assert(relEnds("MATCH (a:V) WHERE id(a) = 4 " +
      "MATCH p = (a)<-[:E*1..2]-(b:V) " +
      "RETURN id(b) AS bid, relationships(p) AS rs") == wantRels)
    assert(relEnds("MATCH p = (a)<-[:E*1..2]-(b:V) WHERE id(a) = 4 " +
      "RETURN id(b) AS bid, relationships(p) AS rs") == wantRels)
    // an unseeded In shortestPath (label-less start, scan elided)
    // breaks a tie between equal walks like the seeded spelling: the
    // least node walk read from the start, 1 <- 4 <- 3 <- 6
    val tieG = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 6L).map(i => (i, i)).toDF("__id", "v")),
      rels = Map("E" -> Seq((6L, 2L), (2L, 5L), (5L, 1L), (6L, 3L),
        (3L, 4L), (4L, 1L)).toDF("__src", "__dst")),
      relEndpoints = Map("E" -> ("V", "V")))
    def tieWalk(start: String) = CypherPlanner.run(spark, tieG,
      s"MATCH p = shortestPath(($start)<-[:E*1..3]-(b:V)) " +
        "WHERE id(a) = 1 AND id(b) = 6 RETURN nodes(p) AS ns")
      .collect().map(_.getSeq[Long](0).toList).toList
    assert(tieWalk("a") == List(List(1L, 4L, 3L, 6L)))
    assert(tieWalk("a") == tieWalk("a:V"))
  }

  test("an In shortestPath picks between equal-length walks by the least node walk from its start") {
    import spark.implicits._
    // two 3-hop walks 1 <- 4 <- 3 <- 6 and 1 <- 5 <- 2 <- 6: read from
    // the pattern's start (1) the least node walk is [4, 3, 6]; read
    // in stored edge order from 6 it would be [2, 5, 1]
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> (1L to 6L).map(i => (i, i)).toDF("__id", "v")),
      rels = Map("E" -> Seq((6L, 2L), (2L, 5L), (5L, 1L), (6L, 3L),
        (3L, 4L), (4L, 1L)).toDF("__src", "__dst")),
      relEndpoints = Map("E" -> ("V", "V")))
    val rows = CypherPlanner.run(spark, g,
      "MATCH p = shortestPath((a:V)<-[:E*1..3]-(b:V)) " +
        "WHERE id(a) = 1 AND id(b) = 6 " +
        "RETURN nodes(p) AS ns, relationships(p) AS rs").collect()
    assert(rows.length == 1)
    assert(rows(0).getSeq[Long](0).toList == List(1L, 4L, 3L, 6L))
    assert(rows(0).getSeq[org.apache.spark.sql.Row](1).map(e => (e.getLong(1), e.getLong(2)))
      .toList == List((4L, 1L), (3L, 4L), (6L, 3L)))
  }

  test("mid-chain var-length hops seed from the accumulated frame") {
    import spark.implicits._
    val g = graft.graph.PropertyGraph(
      nodes = Map("V" -> Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L))
        .toDF("__id", "v")),
      rels = Map("E" -> Seq((1L, 2L), (2L, 3L), (3L, 4L))
        .toDF("__src", "__dst")),
      relEndpoints = Map("E" -> ("V", "V")))
    val rows = CypherPlanner.run(spark, g,
      "MATCH (a:V)-[:E]->(m:V)-[:E*1..2]->(b:V) " +
        "RETURN id(a) AS aid, id(m) AS mid, id(b) AS bid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 2L, 3L), (1L, 2L, 4L), (2L, 3L, 4L)))
    // the seed is visible in the optimized plan as a LeftSemi join
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val semis = CypherPlanner.run(spark, g,
      "MATCH (a:V)-[:E]->(m:V)-[:E*1..2]->(b:V) " +
        "RETURN id(a) AS aid, id(b) AS bid")
      .queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == LeftSemi => j
      }
    assert(semis.nonEmpty,
      "mid-chain var-length expansion lost its seed semi-join")
  }

  test("outer-scope QPP WHERE rejects decorrelation domains above the cap") {
    import spark.implicits._
    val big = (1L to (CypherPlanner.MaxQppOuterDomain + 10L))
      .map(i => (1000000L + i, i)).toDF("__id", "cut")
    val g = graft.graph.PropertyGraph(
      nodes = Map(
        "C" -> big,
        "V" -> Seq((1L, 10L), (2L, 20L)).toDF("__id", "v")),
      rels = Map("E" -> Seq((1L, 2L)).toDF("__src", "__dst")))
    val e = intercept[IllegalArgumentException] {
      CypherPlanner.run(spark, g,
        "MATCH (x:C) MATCH (s:V) ((a)-[:E]->(b) WHERE b.v > x.cut){1,2} (t:V) " +
          "RETURN id(x) AS xid, id(s) AS sid").collect()
    }
    assert(e.getMessage.contains("decorrelation domain too large"))
    // at-cap domains still plan (the declared queries' 25-row Nation
    // domain is far below the cap)
    val ok = graft.graph.PropertyGraph(
      nodes = Map(
        "C" -> Seq((100L, 15L)).toDF("__id", "cut"),
        "V" -> Seq((1L, 10L), (2L, 20L)).toDF("__id", "v")),
      rels = Map("E" -> Seq((1L, 2L)).toDF("__src", "__dst")))
    val rows = CypherPlanner.run(spark, ok,
      "MATCH (x:C) MATCH (s:V) ((a)-[:E]->(b) WHERE b.v > x.cut){1,2} (t:V) " +
        "RETURN id(s) AS sid, id(t) AS tid").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("CALL IN TRANSACTIONS: status caps every transaction and the write matches inline") {
    val rows = run(
      "MATCH (o:Order)-[:CONTAINS]->(p:Part) WHERE o.orderkey < 1000 " +
        "CALL { WITH o, p MERGE (o)-[:TXF]->(p) } " +
        "IN TRANSACTIONS OF 20 ROWS ON ERROR CONTINUE REPORT STATUS AS s " +
        "RETURN s.transactionId AS t, s.committed AS ok, " +
        "s.errorMessage AS err, count(*) AS n").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(3) <= 20 && r.getBoolean(1) && r.isNullAt(2)))
    // dense key ranges genuinely sub-split (the cap binds, not just the range)
    assert(rows.exists(_.getString(0).split("-")(1).toLong > 0))
    // chunking is state-invariant: same final edge set as the inline MERGE
    def flagged(writeSpelling: String): Long = run(
      "MATCH (o:Order)-[:CONTAINS]->(p:Part) WHERE o.orderkey < 1000 " +
        writeSpelling +
        " WITH count(*) AS n_src MATCH (a)-[:TXF]->(b) RETURN count(*) AS n")
      .collect().head.getLong(0)
    val inline = flagged("MERGE (o)-[:TXF]->(p)")
    val viaTx = flagged(
      "CALL { WITH o, p MERGE (o)-[:TXF]->(p) } IN TRANSACTIONS OF 20 ROWS")
    assert(inline == viaTx && inline > 0)
  }
}
