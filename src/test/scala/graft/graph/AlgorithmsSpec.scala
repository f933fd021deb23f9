package graft.graph

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AlgorithmsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def edgeDf(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  test("connected components on a known graph") {
    // components: {1,2,3,4}, {10,11}, {20}
    val edges = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L)))
    val cc = Algorithms.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(cc).toSet.size == 1)
    assert(Seq(10L, 11L).map(cc).toSet.size == 1)
    assert(cc(10L) != cc(1L) && cc(20L) != cc(1L))
    assert(cc(1L) == 1L && cc(10L) == 10L) // min-id labeling
  }

  test("bfs depth equals shortest hop count, unreachable nodes absent") {
    import spark.implicits._
    // chain 1→2→3→4 plus a shortcut 1→3 and an unreachable 10→11
    val edges = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (10L, 11L)))
    val depths = Algorithms.bfsDepths(edges, Seq(1L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(depths == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    // a live frontier at the hop bound is loud, never a silent
    // truncation that drops the deeper nodes
    val chain = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    intercept[IllegalStateException] {
      Algorithms.bfsDepths(chain, Seq(1L).toDF("id"), maxDepth = 1)
    }
  }

  test("pagerank mass is conserved and favors high in-degree") {
    // star: everyone points at 1
    val edges = edgeDf(Seq((2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L)))
    val pr = Algorithms.pageRank(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6, s"mass=${pr.values.sum}")
    assert(pr(1L) > pr(2L) * 2)
    assert(Seq(2L, 3L, 4L, 5L).map(pr).distinct.size == 1) // symmetric leaves
    // seeded at every vertex, the personalized teleport is uniform:
    // personalized PageRank is PageRank
    import spark.implicits._
    val ppr = Algorithms.personalizedPageRank(spark, edges,
        Seq(1L, 2L, 3L, 4L, 5L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ppr.keySet == pr.keySet)
    assert(pr.forall { case (id, r) => math.abs(ppr(id) - r) < 1e-12 },
      s"pr=$pr ppr=$ppr")
  }

  test("triangles finds each triangle once regardless of orientation") {
    // K4 on {1,2,3,4} → 4 triangles; extra pendant edge and a
    // duplicate/reversed/self-loop edge must not change the count
    val k4 = for {
      a <- 1L to 4L; b <- 1L to 4L if a < b
    } yield (a, b)
    val edges = edgeDf(k4 ++ Seq((2L, 1L), (3L, 3L), (4L, 5L)))
    val tris = Algorithms.triangles(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tris == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
    // triangle-free graph (star) → empty
    assert(Algorithms.triangles(
      edgeDf(Seq((1L, 2L), (1L, 3L), (1L, 4L)))).count() == 0)
  }

  test("triangle query counts consecutive custkey triples per nation") {
    // the proximity graph links custkey i→i+1 and i→i+2 within a
    // nation, so its triangles are exactly the consecutive triples:
    // a nation with k customers has max(k-2, 0) of them
    val perNation = graft.Tables.customer(spark, TestSpark.sf)
      .groupBy(col("c_nationkey")).count()
      .collect().map(r => r.getAs[Number](0).longValue ->
        math.max(r.getLong(1) - 2, 0L)).toMap
    val got = Algorithms.triangleCountQuery(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nationName = graft.Tables.nation(spark, TestSpark.sf)
      .collect().map(r => r.getAs[Number]("n_nationkey").longValue ->
        r.getAs[String]("n_name")).toMap
    val expected = perNation.collect {
      case (nk, n) if n > 0 => nationName(nk) -> n
    }
    assert(got == expected)
  }

  test("kcore peels a known graph to its core and the query's rounds converge") {
    // triangle 1-2-3 plus a tail 3-4-5: the 2-core is exactly the
    // triangle; the tail peels end-first over two rounds
    val edges = edgeDf(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)))
    val core = Algorithms.kcorePeel(edges, k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core.keySet == Set(1L, 2L, 3L))
    assert(core.values.forall(_ == 2L))
    // rounds-bounded contract on the declared query: each extra round
    // peels monotonically (survivors shrink, never grow), and a
    // surviving node's degree never increases
    val at4 = Algorithms.kcoreQuery(spark, TestSpark.sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val at5 = Algorithms.kcoreQuery(spark, TestSpark.sf, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(at5.keySet.subsetOf(at4.keySet), "peeling must only remove nodes")
    assert(at5.forall { case (id, d) => d <= at4(id) })
    assert(at4.nonEmpty)
  }

  test("label propagation: deterministic majority labels, ties to smallest") {
    // two triangles bridged by one edge: each triangle converges to
    // its own minimum label; the bridge can't outvote a triangle
    val edges = edgeDf(Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (3L, 10L)))
    val lp = Algorithms.labelPropagation(edges, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).map(lp).toSet.size == 1)
    assert(Seq(10L, 11L, 12L).map(lp).toSet.size == 1)
    assert(lp(1L) == 1L, "community label is its minimum member")
    // determinism: a second run produces identical labels
    val lp2 = Algorithms.labelPropagation(edges, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp == lp2)
    // isolated self-loop-free node keeps its own label via the query
    val q = Algorithms.labelPropQuery(spark, TestSpark.sf).collect()
    assert(q.nonEmpty && q.forall(_.getLong(1) <= q.map(_.getLong(0)).max))
  }

  /** The Spark jobs `body` starts, counted under a job group. A job in
    * a second group then drains the listener bus: events reach a
    * listener in order, so once its start is seen every job of `body`
    * has been counted.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (group, fence) = (s"jobs-${System.nanoTime()}", s"fence-${System.nanoTime()}")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(): Unit
          case Some(`fence`) => fenced.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      body
      sc.setJobGroup(fence, fence)
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    jobs.get
  }

  test("label propagation: each extra round costs at most 2 Spark jobs") {
    // the per-nation chain shape: offsets 1 and 2 along 300 ids
    val edges = edgeDf((0L until 300L).flatMap(i =>
      Seq(1L, 2L).filter(i + _ < 300L).map(d => (i, i + d))))
    for (alternating <- Seq(false, true)) {
      def run(rounds: Int) = jobsOf(
        Algorithms.labelPropagation(edges, rounds, alternating).collect(): Unit)
      val (two, six) = (run(2), run(6))
      assert(six - two <= 4 * 2,
        s"alternating=$alternating: 2 rounds $two jobs, 6 rounds $six jobs")
    }
  }

  test("k-truss: K4 survives at k=4, empties at k=5; pendant edges peel") {
    val k4 = edgeDf(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    // every K4 edge sits in exactly 2 triangles -> the 4-truss keeps
    // all 6 edges with support 2
    val t4 = Algorithms.ktruss(k4, k = 4, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t4.size == 6 && t4.values.forall(_ == 2L))
    // support >= 3 is unattainable -> first round empties the graph
    assert(Algorithms.ktruss(k4, k = 5, rounds = 1).count() == 0)
    // a pendant edge (support 0) peels; the triangle survives at k=3
    val tri = edgeDf(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 9L)))
    val t3 = Algorithms.ktruss(tri, k = 3, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t3 == Map((1L, 2L) -> 1L, (2L, 3L) -> 1L, (1L, 3L) -> 1L))
    // the declared query returns canonical ascending edges
    val q = Algorithms.ktrussQuery(spark, TestSpark.sf).collect()
    assert(q.nonEmpty && q.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("async-coloring label propagation breaks the synchronous oscillation") {
    // a single edge is the minimal oscillator: synchronous LPA swaps
    // the two labels every round forever (even rounds land back on
    // the initial labeling), so it never converges
    val edge = edgeDf(Seq((1L, 2L)))
    val sync2 = Algorithms.labelPropagation(edge, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sync2 == Map(1L -> 1L, 2L -> 2L), "sync LPA oscillates with period 2")
    // the parity schedule updates one endpoint at a time: node 1
    // (color 1) adopts 2, then node 2 reads the UPDATED label and
    // keeps 2 — a stable fixpoint after one full sweep
    val async2 = Algorithms.labelPropagation(edge, rounds = 2, alternating = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(async2 == Map(1L -> 2L, 2L -> 2L), "async converges on the edge")
    val async6 = Algorithms.labelPropagation(edge, rounds = 6, alternating = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(async6 == async2, "the fixpoint is stable under more rounds")
    // on the bridged triangles it finds the same communities as the
    // synchronous variant (both deterministic)
    val edges = edgeDf(Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (3L, 10L)))
    val lp = Algorithms.labelPropagation(edges, rounds = 8, alternating = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).map(lp).toSet.size == 1)
    assert(Seq(10L, 11L, 12L).map(lp).toSet.size == 1)
  }

  test("async label propagation updates vertices with negative ids") {
    // Spark's % yields -1 for negative odd ids: with `src % 2 === j%2`
    // those vertices matched NEITHER color class and never updated.
    // pmod puts every id in {0,1}, so both endpoints of an all-negative
    // edge participate and the pair converges to one label.
    val edge = edgeDf(Seq((-1L, -2L)))
    val lp = Algorithms.labelPropagation(edge, rounds = 4, alternating = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp.values.toSet.size == 1,
      s"negative-id endpoints must converge to one label, got $lp")
  }

  test("scc: cycles group, DAG tails are singletons, nested structure resolves") {
    // two 3-cycles bridged one-way (NOT one SCC), a tail into the
    // first cycle, and a pure chain hanging off the second
    val edges = edgeDf(Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),          // cycle A {1,2,3}
      (10L, 11L), (11L, 12L), (12L, 10L),    // cycle B {10,11,12}
      (3L, 10L),                             // one-way bridge A→B
      (50L, 1L),                             // tail into A
      (12L, 60L), (60L, 61L)))               // chain off B
    val scc = Algorithms.stronglyConnectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc(1L) == 1L && scc(2L) == 1L && scc(3L) == 1L)
    assert(scc(10L) == 10L && scc(11L) == 10L && scc(12L) == 10L)
    assert(Seq(50L, 60L, 61L).forall(v => scc(v) == v)) // singletons
    assert(scc.size == 9)
  }

  test("scc: mutually-reaching cycles sharing a vertex are ONE component") {
    // figure-eight: two cycles through 5 — strongly connected as one
    val edges = edgeDf(Seq(
      (5L, 6L), (6L, 5L), (5L, 7L), (7L, 8L), (8L, 5L), (1L, 5L)))
    val scc = Algorithms.stronglyConnectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(5L, 6L, 7L, 8L).map(scc).toSet == Set(5L))
    assert(scc(1L) == 1L)
  }

  test("scc query: nation rings group per region, orders/customers singleton") {
    val out = Algorithms.sccQuery(spark, TestSpark.sf).collect()
    val byId = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nations = byId.filter { case (id, _) => id >= 3000000000L && id < 4000000000L }
    // every nation's scc is a nation id and rings are non-trivial
    assert(nations.nonEmpty && nations.values.forall(s => s >= 3000000000L))
    assert(nations.values.toSet.size < nations.size) // at least one real ring
    val custs = byId.filter { case (id, _) => id >= 2000000000L && id < 3000000000L }
    assert(custs.forall { case (id, s) => s == id }) // customers singleton
  }

  test("adamic-adar: shared low-degree neighbors outscore shared hubs") {
    val out = Algorithms.adamicAdarQuery(spark, TestSpark.sf, k = 20).collect()
    assert(out.nonEmpty && out.length <= 20)
    val scores = out.map(_.getDouble(2))
    assert(scores.sameElements(scores.sortBy(-_))) // descending
    // score is a sum of 1/ln(pdeg) with pdeg>=2: each term <= 1/ln 2
    out.foreach { r =>
      val common = r.getLong(3)
      assert(r.getDouble(2) <= common / math.log(2.0) + 1e-6)
      assert(r.getDouble(2) > 0.0 && common >= 1L)
      assert(r.getLong(0) < r.getLong(1)) // canonical pair order
    }
  }

  test("approx neighbor-sim: estimates track exact Jaccard, deterministic") {
    val out = Algorithms.neighborSimApproxQuery(spark, TestSpark.sf, k = 20)
      .collect()
    assert(out.nonEmpty && out.length <= 20)
    val ests = out.map(_.getDouble(2))
    assert(ests.sameElements(ests.sortBy(-_))) // descending
    // NOTE the |est − exact| ≤ 0.5 bound below IS the regression pin
    // for the R10 correlated-family bug: a factoring hash family
    // saturates est at 1.0 on near-zero-Jaccard pairs, which that
    // bound rejects at any SF where the defect can manifest (a
    // legitimate est of 1.0 on a truly-similar pair passes).
    out.foreach { r =>
      assert(r.getLong(0) < r.getLong(1)) // canonical pair order
      assert(r.getLong(3) >= 4L && r.getLong(3) <= 16L)
      assert(math.abs(r.getDouble(2) - r.getLong(3) / 16.0) < 1e-12)
    }
    // the MinHash estimate must TRACK the exact Jaccard of the same
    // neighborhoods (k=16 components: single-pair std ~0.12, so only
    // assert a loose per-pair band and a tighter mean band)
    val g = GraphLoader.tpch(spark, TestSpark.sf)
    val nbrs: Map[Long, Set[Long]] = g.relTable("SUPPLIES")
      .select(col("__src").cast("long"), col("__dst").cast("long")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, ps) => s -> ps.map(_._2).toSet }
    val errs = out.map { r =>
      val (a, b) = (nbrs(r.getLong(0)), nbrs(r.getLong(1)))
      val exact = (a & b).size.toDouble / (a | b).size
      math.abs(r.getDouble(2) - exact)
    }
    assert(errs.forall(_ <= 0.5), s"per-pair error too large: ${errs.max}")
    assert(errs.sum / errs.length <= 0.25,
      s"mean |est - exact| = ${errs.sum / errs.length}")
    // determinism: fixed hash constants => identical result set
    val again = Algorithms.neighborSimApproxQuery(spark, TestSpark.sf, k = 20)
      .collect()
    assert(out.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("random walks: reproducible traces, contiguous steps, edges real") {
    val out = Algorithms.randomWalkQuery(spark, TestSpark.sf, steps = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    val byWalker = out.groupBy(_._1)
    byWalker.foreach { case (wk, trace) =>
      val steps = trace.map(_._2).sorted
      assert(steps.head == 0L && steps.last == steps.length - 1,
        s"walker $wk trace must be contiguous from step 0")
      assert(trace.find(_._2 == 0L).get._3 == wk, "walk starts at the seed")
    }
    // determinism: a second run yields the identical corpus
    val again = Algorithms.randomWalkQuery(spark, TestSpark.sf, steps = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.sameElements(again))
    // every consecutive (node, next) pair is a real proximity edge
    val c = graft.Tables.customer(spark, TestSpark.sf)
      .select(col("c_custkey").cast("long").as("k"), col("c_nationkey").as("n"))
      .collect().map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    byWalker.values.foreach { trace =>
      val ordered = trace.sortBy(_._2).map(_._3)
      ordered.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(c(a) == c(b) && b > a, s"hop $a->$b must stay in-nation, forward")
      }
    }
  }

  test("biased walks: reproducible, contiguous, never stuck (symmetric graph)") {
    val out = Algorithms.biasedWalkQuery(spark, TestSpark.sf, steps = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    val byWalker = out.groupBy(_._1)
    byWalker.foreach { case (wk, trace) =>
      // the symmetrized proximity graph has no dead ends reachable
      // from a seed, so every walk runs the full length
      assert(trace.length == 7, s"walker $wk must take all 6 steps")
      assert(trace.map(_._2).sorted.sameElements(0L to 6L))
      assert(trace.find(_._2 == 0L).get._3 == wk)
    }
    val again = Algorithms.biasedWalkQuery(spark, TestSpark.sf, steps = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.sameElements(again))
  }

  test("skip-gram pairs: symmetric counts, consistent with the walk corpus") {
    val walks = Algorithms.randomWalkQuery(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = scala.collection.mutable.Map.empty[(Long, Long), Long]
    walks.groupBy(_._1).values.foreach { trace =>
      val t = trace.sortBy(_._2)
      for {
        a <- t; b <- t
        if a._2 != b._2 && math.abs(a._2 - b._2) <= 2
      } expected((a._3, b._3)) = expected.getOrElse((a._3, b._3), 0L) + 1L
    }
    val got = Algorithms.walkSkipgramsQuery(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected.toMap)
    // window symmetry: (a,b) and (b,a) appear with equal counts
    got.foreach { case ((a, b), n) => assert(got((b, a)) == n) }
  }

  test("degrees on the tpch hierarchy: every order has out-degree 1") {
    val df = Algorithms.degreesQuery(spark, TestSpark.sf)
    val orders = df.filter(col("id") >= GraphLoader.OrderOffset &&
      col("id") < GraphLoader.CustomerOffset)
    assert(orders.filter(col("out_degree") =!= 1).count() == 0)
    assert(orders.filter(col("in_degree") =!= 0).count() == 0)
  }

  test("local clustering coefficient on a known graph") {
    // triangle {1,2,3} plus a pendant 3-4: coeff(1)=coeff(2)=1,
    // coeff(3)=1/3 (deg 3, one of three possible pairs closed),
    // coeff(4)=0 (degree 1)
    val edges = edgeDf(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    val m = Algorithms.localClustering(edges).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("n_tri"),
          r.getAs[Double]("coeff"))).toMap
    assert(m(1L) == ((2L, 1L, 1.0)))
    assert(m(2L) == ((2L, 1L, 1.0)))
    assert(m(3L) == ((3L, 1L, 0.333333)))
    assert(m(4L) == ((1L, 0L, 0.0)))
  }

  test("bounded-hop weighted SSSP relaxes to the cheapest path and truncates at the bound") {
    import spark.implicits._
    // 1→2 (w=10), 1→3 (w=1), 3→2 (w=1): cheapest 1→2 is 2 via 3.
    // chain 1→3→5→6 checks multi-hop accumulation.
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L),
      (3L, 5L, 2L), (5L, 6L, 3L)).toDF("src", "dst", "w")
    val full = Algorithms.ssspBoundedHops(edges, Seq(1L).toDF("id"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 5L -> 3L, 6L -> 6L))
    // one round only: the 2-hop improvement to node 2 must NOT apply,
    // and 3+ hop nodes are absent — the documented truncation
    val one = Algorithms.ssspBoundedHops(edges, Seq(1L).toDF("id"), 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 0L, 2L -> 10L, 3L -> 1L))
  }

  test("landmark distances keep per-landmark state and honor the hop bound") {
    import spark.implicits._
    // chain 1→2→3, landmarks 1 and 3: landmark 1 sees the whole
    // chain, landmark 3 only itself (forward edges)
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val lms = Seq((1L, 1L), (3L, 3L)).toDF("lm", "id")
    val full = Algorithms.landmarkDistances(edges, lms, maxDepth = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(full == Map((1L, 1L) -> 0L, (1L, 2L) -> 1L, (1L, 3L) -> 2L,
      (3L, 3L) -> 0L))
    // hop bound 1: landmark 1's depth-2 reach of node 3 is absent —
    // bounded-hop truncation is the documented sketch semantic
    val one = Algorithms.landmarkDistances(edges, lms, maxDepth = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(one == Map((1L, 1L) -> 0L, (1L, 2L) -> 1L, (3L, 3L) -> 0L))
    // profile aggregation on the declared query: landmarks exist per
    // nation, every reached count is 0/1/2 (two landmarks per nation,
    // no cross-nation edges), and dist_sum is NULL iff reached = 0
    val prof = Algorithms.closenessQuery(spark, TestSpark.sf).collect()
    assert(prof.nonEmpty)
    assert(prof.forall(r => Set(0L, 1L, 2L)(r.getLong(1))))
    assert(prof.forall(r => (r.getLong(1) == 0L) == r.isNullAt(2)))
  }

  test("centrality tuning curve: full budget agrees with itself, state grows with k") {
    val rows = Algorithms.centralityTuningQuery(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(5L, 10L, 25L, 50L))
    // the reference row (k = max) overlaps itself completely
    val full = rows.last
    assert(full._3 == 20L && math.abs(full._4 - 1.0) < 1e-9)
    rows.foreach { case (_, nPairs, overlap, agreement) =>
      assert(overlap >= 0L && overlap <= 20L)
      assert(math.abs(agreement - overlap / 20.0) < 1e-9)
      assert(nPairs > 0L)
    }
    // (lm, id) state volume grows monotonically with the budget —
    // the cost axis of the curve
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 > a._2, s"state must grow with k: $a -> $b")
    }
    // the k-subset estimates must SUM-consistently embed in the full
    // query: the full-budget per-node estimate equals graph_betweenness
    val tuningRef = Algorithms.betweennessQuery(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("bc") > 0).count()
    assert(tuningRef > 0)
  }

  test("centrality depth dial: deepest bound agrees with itself, state grows with depth") {
    val rows = Algorithms.centralityDepthTuningQuery(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(2L, 3L, 4L))
    // the reference row (deepest bound) overlaps itself completely
    val full = rows.last
    assert(full._3 == 20L && math.abs(full._4 - 1.0) < 1e-9)
    rows.foreach { case (_, nState, overlap, agreement) =>
      assert(overlap >= 0L && overlap <= 20L)
      assert(math.abs(agreement - overlap / 20.0) < 1e-9)
      assert(nState > 0L)
    }
    // dependency-state volume grows monotonically with the horizon —
    // the cost axis of the curve
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 > a._2, s"state must grow with depth: $a -> $b")
    }
    // the deepest cell IS the full bounded-Brandes estimate: its
    // backward chain re-derives betweennessDeltas at maxDepth, so the
    // per-node bc ranking the overlap is computed on matches the
    // graph_betweenness frame (spot-check: top-1 node agrees)
    val topFull = Algorithms.betweennessQuery(spark, TestSpark.sf)
      .orderBy(org.apache.spark.sql.functions.col("bc").desc,
        org.apache.spark.sql.functions.col("id"))
      .limit(1).collect().head.getLong(0)
    assert(topFull >= 0)
  }

  test("modularity: parts bounded, intra-edge mass conserved, partition sums sane") {
    val rows = Algorithms.modularityQuery(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    // each part is in (-1, 1); the label-prop communities on the
    // chain graph are denser than chance, so total Q is positive
    assert(rows.forall(r => math.abs(r.getAs[Double]("q_part")) < 1.0))
    assert(rows.map(_.getAs[Double]("q_part")).sum > 0.0)
    // intra-community edges can't exceed half the degree mass
    assert(rows.forall(r =>
      2 * r.getAs[Long]("m_intra") <= r.getAs[Long]("deg_sum")))
    // degree mass sums to 2m and nodes partition the graph
    val labels = Algorithms.labelPropQuery(spark, TestSpark.sf).collect()
    assert(rows.map(_.getAs[Long]("n_nodes")).sum == labels.length)
  }

  test("louvain: partition valid, local moves improve on the singleton baseline") {
    val rows = Algorithms.louvainQuery(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    // community parts are bounded and the partition covers every node
    assert(rows.forall(r => math.abs(r.getAs[Double]("q_part")) < 1.0))
    assert(rows.forall(r =>
      2 * r.getAs[Long]("m_intra") <= r.getAs[Long]("deg_sum")))
    val labels = Algorithms.labelPropQuery(spark, TestSpark.sf).collect()
    assert(rows.map(_.getAs[Long]("n_nodes")).sum == labels.length)
    // local moving beats the all-singletons start (Q_singleton < 0:
    // zero intra edges, only the negative degree terms) — Louvain's
    // whole point is positive modularity on a chain-structured graph
    val q = rows.map(_.getAs[Double]("q_part")).sum
    assert(q > 0.0, s"louvain Q=$q not positive")
    // non-trivial merging happened: fewer communities than nodes
    assert(rows.length < labels.length)
  }

  test("louvain2: contraction merges phase-1 communities, never splits") {
    val p1 = Algorithms.louvainQuery(spark, TestSpark.sf, rounds = 2).collect()
    val p2 = Algorithms.louvain2Query(spark, TestSpark.sf).collect()
    assert(p2.nonEmpty)
    // phase 2 moves whole phase-1 communities, so final communities
    // are unions of phase-1 ones: count can only drop, node mass and
    // degree mass are conserved exactly
    assert(p2.length <= p1.length)
    assert(p2.map(_.getAs[Long]("n_nodes")).sum ==
      p1.map(_.getAs[Long]("n_nodes")).sum)
    assert(p2.map(_.getAs[Long]("deg_sum")).sum ==
      p1.map(_.getAs[Long]("deg_sum")).sum)
    assert(p2.map(_.getAs[Long]("m_intra")).sum >=
      p1.map(_.getAs[Long]("m_intra")).sum)
    // still a sane modularity report
    assert(p2.forall(r => math.abs(r.getAs[Double]("q_part")) < 1.0))
    assert(p2.map(_.getAs[Double]("q_part")).sum > 0.0)
  }

  test("louvain3: each accepted level only coarsens, masses conserved") {
    val p2 = Algorithms.louvain2Query(spark, TestSpark.sf).collect()
    val p3 = Algorithms.louvain3Query(spark, TestSpark.sf).collect()
    assert(p3.nonEmpty)
    // deeper contraction can only merge further relative to phase-1
    // rounds with the same budget shape; mass conservation is exact
    val p1 = Algorithms.louvainQuery(spark, TestSpark.sf, rounds = 2).collect()
    assert(p3.length <= p1.length)
    assert(p3.map(_.getAs[Long]("n_nodes")).sum ==
      p1.map(_.getAs[Long]("n_nodes")).sum)
    assert(p3.map(_.getAs[Long]("deg_sum")).sum ==
      p1.map(_.getAs[Long]("deg_sum")).sum)
    assert(p3.forall(r => math.abs(r.getAs[Double]("q_part")) < 1.0))
    assert(p3.map(_.getAs[Double]("q_part")).sum > 0.0)
    // the level loop goes at least as deep as louvain2's single
    // contraction on this graph
    assert(p3.length <= p2.length)
  }

  test("weighted all-shortest multiplicity: sources exact, counts positive") {
    val rows = Algorithms.waspQuery(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    val dist = Algorithms.ssspQuery(spark, TestSpark.sf).collect()
      .map(r => r.getAs[Long]("id") ->
        (if (r.isNullAt(1)) null else r.getAs[Long]("cost"))).toMap
    rows.foreach { r =>
      val (id, np) = (r.getAs[Long]("id"), r.getAs[Long]("n_paths"))
      val cost = if (r.isNullAt(1)) null else r.getAs[Long]("cost")
      // the distance phase is exactly graph_sssp_weighted's
      assert(dist(id) == cost, s"cost mismatch for $id")
      if (cost != null && cost == 0L) assert(np == 1L, s"source $id np=$np")
      if (cost != null) assert(np >= 1L, s"reached $id has np=$np")
      else assert(np == 0L, s"unreached $id has np=$np")
    }
    // the skip-link weights genuinely produce tied shortest paths
    assert(rows.exists(_.getAs[Long]("n_paths") > 1L))
  }

  test("assortativity: bounded correlation, moments consistent with degrees") {
    val r = Algorithms.assortativityQuery(spark, TestSpark.sf).collect().head
    val (m, sxy, sx, sx2) = (r.getAs[Long]("m"), r.getAs[Long]("sum_xy"),
      r.getAs[Long]("sum_x"), r.getAs[Long]("sum_x2"))
    val coef = r.getAs[Double]("r")
    assert(coef >= -1.0 - 1e-9 && coef <= 1.0 + 1e-9)
    // Cauchy-Schwarz: covariance term bounded by the variance term
    assert((m * sxy - sx * sx).abs <= (m * sx2 - sx * sx))
    // every edge endpoint has degree >= 1, and the symmetrized edge
    // list is larger than the node set on this graph
    val labels = Algorithms.labelPropQuery(spark, TestSpark.sf).count()
    assert(m > labels && sx >= m)
  }

  test("component sizes conserve node mass against the CC partition") {
    val hist = Algorithms.componentSizesQuery(spark, TestSpark.sf).collect()
    assert(hist.nonEmpty)
    assert(hist.forall(r => r.getAs[Long]("n_nodes") ==
      r.getAs[Long]("component_size") * r.getAs[Long]("n_components")))
    val cc = Algorithms.connectedComponentsQuery(spark, TestSpark.sf)
    assert(hist.map(_.getAs[Long]("n_nodes")).sum == cc.count())
    assert(hist.map(_.getAs[Long]("n_components")).sum ==
      cc.select("comp").distinct().count())
  }

  test("eccentricity: bound dominates every landmark, coverage sane") {
    val rows = Algorithms.eccentricityQuery(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    val diam = rows.head.getAs[Long]("diam_lb")
    assert(rows.forall(_.getAs[Long]("diam_lb") == diam))
    assert(rows.forall(r => r.getAs[Long]("ecc") <= diam))
    assert(rows.exists(_.getAs[Long]("ecc") == diam))
    // a landmark reaches at least itself, and never more than |V|
    val nodes = graft.Tables.customer(spark, TestSpark.sf).count()
    assert(rows.forall(r => r.getAs[Long]("n_reached") >= 1L &&
      r.getAs[Long]("n_reached") <= nodes))
  }

  test("degree distribution partitions the positive-degree nodes") {
    val rows = Algorithms.degreeDistQuery(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("bucket") >= 0L))
    val deg = Algorithms.degreesQuery(spark, TestSpark.sf).collect()
    val outPos = deg.count(_.getAs[Long]("out_degree") > 0L).toLong
    val inPos = deg.count(_.getAs[Long]("in_degree") > 0L).toLong
    val byDir = rows.groupBy(_.getAs[String]("direction"))
      .view.mapValues(_.map(_.getAs[Long]("n_nodes")).sum).toMap
    assert(byDir("out") == outPos && byDir("in") == inPos)
  }

  test("personalized pagerank conserves mass and concentrates it at the seeds") {
    val rows = Algorithms.pprQuery(spark, TestSpark.sf).collect()
    val mass = rows.map(_.getAs[Double]("rank")).sum
    // teleport + propagation is mass-conserving (rounding noise only)
    assert(math.abs(mass - 1.0) < 1e-4)
    assert(rows.forall(_.getAs[Double]("rank") >= 0.0))
    // the five seed customers hold more mass than any other customer:
    // every walk restarts there
    val cust = rows.filter(r => r.getAs[Long]("id") >= 2000000000L &&
      r.getAs[Long]("id") < 3000000000L)
    val (seeds, others) = cust.partition(_.getAs[Long]("id") <= 2000000005L)
    assert(seeds.map(_.getAs[Double]("rank")).min >
      others.map(_.getAs[Double]("rank")).max)
  }
}
