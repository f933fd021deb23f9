package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph algorithms over the generic (src, dst) edge list — the
  * GraphX-analog surface from SURVEY §2.1 #10-12, kept in DataFrame
  * land so Catalyst/AQE optimize the iteration bodies.
  */
object Algorithms {

  /** Out/in degree per node id: union both endpoint roles then a
    * single groupBy — one shuffle on node id, map-side partials.
    */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"), lit(1L).as("out_d"), lit(0L).as("in_d"))
      .unionByName(
        edges.select(col("dst").as("id"), lit(0L).as("out_d"), lit(1L).as("in_d")))
      .groupBy(col("id"))
      .agg(sum(col("out_d")).as("out_degree"), sum(col("in_d")).as("in_degree"))

  /** Degrees over the order→customer→nation→region hierarchy (the
    * SparkEntry `graph_degrees` query, oracle-checked).
    */
  def degreesQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val g = GraphLoader.tpch(spark, sfDir)
    val edges = g.edges("PLACED_BY", "FROM_NATION", "IN_REGION")
    degrees(edges).orderBy(col("id"))
  }

  /** Log₂-bucketed degree distribution — the graph-shape
    * observability report (power-law heavy tail vs bell = which
    * skew strategy the joins need): per (direction, bucket) node
    * counts where bucket b covers degrees [2^b, 2^(b+1)).
    *
    * 100 TB notes: rides [[degrees]]'s single node-keyed exchange,
    * then collapses into ≤2·log₂(max_degree) rows with map-side
    * partials — the report costs one tiny aggregation over the
    * already-computed frame.
    */
  def degreeDistQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val g = GraphLoader.tpch(spark, sfDir)
    val edges = g.edges("PLACED_BY", "FROM_NATION", "IN_REGION")
    val d = degrees(edges)
    Seq(("out", col("out_degree")), ("in", col("in_degree"))).map {
      case (dir, deg) =>
        // floor(log2(d)) spelled as binary-string length − 1: pure
        // integer arithmetic, immune to the ln(8)/ln(2) =
        // 2.…96-ulp-under-3 hazard that makes floor(log2) differ
        // between libm spellings at exact powers of two
        d.filter(deg > 0)
          .select((length(bin(deg)) - 1).cast("long").as("bucket"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_nodes"))
          .withColumn("direction", lit(dir))
    }.reduce(_.unionByName(_))
      .select(col("direction"), col("bucket"), col("n_nodes"))
      .orderBy(col("direction"), col("bucket"))
  }

  /** Rounds-bounded k-core peeling: `rounds` iterations of "drop
    * every node with undirected degree < k, and all edges touching
    * it"; returns the surviving nodes with their degrees. The
    * ROUNDS-BOUNDED contract (rather than loop-to-convergence) is
    * deliberate: it makes the result a pure function of (edges, k,
    * rounds) that a SQL oracle reproduces by unrolling exactly
    * `rounds` CTE steps. Convergence can need up to O(diameter)
    * rounds (a path graph peels one node per end per round), so in
    * production `rounds` is an explicit iteration budget — callers
    * wanting the converged core loop until a round removes nothing
    * (the survivors-shrink monotonicity is spec-pinned).
    *
    * 100 TB notes: per round one map-side-combined degree count plus
    * two semi-joins against the (small, shrinking) survivor set; the
    * symmetrized edge list is checkpointed with src-hash partitioning
    * so the per-round degree count and src-side semi-join reuse the
    * partitioning without a new exchange.
    */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")).localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src"))
      sym = sym.join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        .repartition(col("src")).localCheckpoint()
    }
    sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
  }

  /** Customers in custkey order within their nation — the order the
    * synthetic per-nation graphs below link along.
    */
  private val byNation =
    Window.partitionBy(col("c_nationkey")).orderBy(col("c_custkey"))

  /** The per-nation consecutive-customer graph as (src, dst): an edge
    * from each customer to the one `k` places after it in its nation,
    * for every offset `k` in `leads` (null ends dropped). Offsets 1, 2
    * give the cyclic two-band graph of the community, triangle and
    * k-core operators; 1, 2, 3 the denser k-truss band; 1, 2, 8 the
    * forward-only log-spaced skip links of the path and walk operators.
    */
  private def customerChain(spark: SparkSession, sfDir: String,
      leads: Int*): DataFrame = {
    val nbr = graft.Tables.customer(spark, sfDir).select(
      col("c_custkey").as("src") +:
        leads.map(k => lead(col("c_custkey"), k).over(byNation).as(s"d$k")): _*)
    leads.map(k => nbr.select(col("src"), col(s"d$k").as("dst"))
      .filter(col("dst").isNotNull))
      .reduce(_.unionByName(_))
  }

  /** k-core peeling over the per-nation consecutive-customer graph
    * (the same cyclic synthetic graph as [[triangleCountQuery]] — the
    * TPC-H hierarchy itself is a forest, whose every k≥2 core is
    * empty).
    */
  def kcoreQuery(spark: SparkSession, sfDir: String, k: Int = 3,
      rounds: Int = 4): DataFrame = {
    val edges = customerChain(spark, sfDir, 1, 2)
    kcorePeel(edges, k, rounds).orderBy(col("id"))
  }

  /** Rounds-bounded k-TRUSS peeling — the edge-level analog of
    * [[kcorePeel]] (Cohen 2008): per round, every edge's triangle
    * SUPPORT (triangles it participates in) is computed on the
    * current edge set and edges with support < k−2 are dropped; the
    * survivors after `rounds` rounds are returned with their support
    * recomputed on the final set. Rounds-bounded for the same reason
    * as k-core: the result is a pure function of (edges, k, rounds)
    * that a SQL oracle unrolls exactly; convergence needs an explicit
    * iteration budget in production.
    *
    * 100 TB notes: edges canonicalize to u < v, so each triangle
    * enumerates exactly once as an ascending wedge (a<b<c) closed by
    * one more edge join — the standard oriented-triangle bound of
    * Σ d_out(b)² wedge candidates, never all pairs. Per round: two
    * edge-keyed joins + one per-edge aggregate, all on the (shrinking)
    * survivor set; support 0 edges (no triangles) coalesce in via a
    * left join so they peel correctly.
    */
  def ktruss(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    def support(e: DataFrame): DataFrame = {
      val ab = e.select(col("u").as("a"), col("v").as("b"))
      val bc = e.select(col("u").as("b2"), col("v").as("c"))
      val ac = e.select(col("u").as("a2"), col("v").as("c2"))
      val tris = ab.join(bc, col("b") === col("b2"))
        .join(ac, col("a") === col("a2") && col("c") === col("c2"))
        .select(col("a"), col("b"), col("c"))
      val perEdge = tris.select(col("a").as("u"), col("b").as("v"))
        .unionAll(tris.select(col("b").as("u"), col("c").as("v")))
        .unionAll(tris.select(col("a").as("u"), col("c").as("v")))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("tsup"))
      e.join(perEdge, Seq("u", "v"), "left_outer")
        .select(col("u"), col("v"),
          coalesce(col("tsup"), lit(0L)).as("support"))
    }
    var e = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .repartition(col("u")).localCheckpoint()
    for (_ <- 1 to rounds) {
      e = support(e).filter(col("support") >= k - 2)
        .select(col("u"), col("v"))
        .repartition(col("u")).localCheckpoint()
    }
    support(e)
  }

  /** [[ktruss]] over a THREE-band per-nation consecutive-customer
    * graph (lead 1, 2, and 3 — denser than the two-band graph the
    * other community ops use, whose 4-truss peels to empty): interior
    * lead-1 edges carry support up to 4, lead-3 edges exactly 2, so
    * the 4-truss survives non-trivially while the per-nation boundary
    * edges peel each round.
    */
  def ktrussQuery(spark: SparkSession, sfDir: String, k: Int = 4,
      rounds: Int = 2): DataFrame = {
    ktruss(customerChain(spark, sfDir, 1, 2, 3), k, rounds)
      .orderBy(col("u"), col("v"))
  }

  /** Label propagation (community detection): every node starts as
    * its own label; each round a node adopts its neighbors' MOST
    * FREQUENT label with ties to the smallest (a total order, so the
    * rounds-bounded variant is DETERMINISTIC — the random-order LPA of
    * the literature is not oracle-checkable); isolated nodes keep
    * their label.
    *
    * Schedule: synchronous by default — every node updates each round
    * from the previous round's labels. With `alternating` it is
    * semi-synchronous (coloring-scheduled, Cordasco & Gargano
    * 2011/2012) — the deterministic fix for synchronous LPA's
    * oscillation class (update one color class at a time and the
    * two-colorable label oscillation — e.g. a single edge swapping
    * labels forever — cannot form). Nodes are 2-colored by id parity;
    * round j updates ONLY color j % 2, reading every other node's
    * CURRENT label (Gauss–Seidel order). The argmax is the same total
    * order either way, so every round is deterministic and the DuckDB
    * oracle unrolls it exactly.
    *
    * 100 TB notes: per round, one (node, label)-keyed partial
    * aggregate (map-side combine collapses repeated neighbor labels),
    * one per-node argmax window on the same partitioning, and a
    * labels join — all keyed on node id, so the edge table's
    * partitioning is reused and nothing quadratic forms. The parity
    * filter halves an alternating round's aggregate input — a full
    * sweep costs the same total work as one synchronous round, just
    * split in two. localCheckpoint per round bounds the plan like
    * pageRank's.
    */
  def labelPropagation(edges: DataFrame, rounds: Int,
      alternating: Boolean = false): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")).localCheckpoint()
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .repartition(col("id")).localCheckpoint(true)
    val w = Window.partitionBy(col("src")).orderBy(col("cnt").desc, col("label"))
    for (j <- 1 to rounds) {
      // pmod, not %: Spark's % yields -1 for negative odd ids, which
      // would match neither color class and freeze those vertices'
      // labels on general (possibly negative-id) edge lists.
      val movers =
        if (alternating) sym.filter(pmod(col("src"), lit(2)) === lit(j % 2))
        else sym
      val best = movers
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("src").as("id"), col("label").as("new_label"))
      labels = labels.join(best, Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(col("new_label"), col("label")).as("label"))
        .localCheckpoint(true)
    }
    labels
  }

  /** Alternating-schedule [[labelPropagation]] over the per-nation
    * consecutive-customer graph — 4 parity rounds = two full sweeps.
    */
  def labelPropAsyncQuery(spark: SparkSession, sfDir: String,
      rounds: Int = 4): DataFrame = {
    val edges = customerChain(spark, sfDir, 1, 2)
    labelPropagation(edges, rounds, alternating = true)
      .select(col("id"), col("label").as("community"))
      .orderBy(col("id"))
  }

  /** Label propagation over the per-nation consecutive-customer graph
    * (same cyclic synthetic graph as [[kcoreQuery]]).
    */
  def labelPropQuery(spark: SparkSession, sfDir: String,
      rounds: Int = 3): DataFrame = {
    val edges = customerChain(spark, sfDir, 1, 2)
    labelPropagation(edges, rounds)
      .select(col("id"), col("label").as("community"))
      .orderBy(col("id"))
  }

  /** Newman modularity of [[labelPropQuery]]'s communities, reported
    * per community: Q_c = m_c/m − (d_c/2m)², whose sum is the
    * partition's modularity — the standard quality gauge for a
    * community detection run (Q ≈ 0: no better than random; higher:
    * denser-than-chance communities).
    *
    * Determinism: every input to the final expression is an exact
    * integer aggregate (edge count, intra-community count, degree
    * sums) and the one double expression evaluates identically on
    * both engines, 9-dp rounded.
    *
    * 100 TB notes: after label propagation, the cost is ONE edge-keyed
    * join against the (broadcastable) label table taken twice — src
    * and dst sides — plus community-keyed aggregates over node- and
    * community-cardinality frames; the global edge count rides in as
    * a broadcast 1-row aggregate, never a driver collect.
    */
  def modularityQuery(spark: SparkSession, sfDir: String,
      rounds: Int = 3): DataFrame = {
    // louvainReport's tail, but the edge count rides in as a broadcast
    // 1-row aggregate: louvainBase's collected count would cost this
    // query two more Spark jobs
    val edges = customerChain(spark, sfDir, 1, 2).localCheckpoint()
    val labels = labelPropagation(edges, rounds)
      .select(col("id"), col("label").as("community"))
    val mRow = edges.agg(count(lit(1)).as("m"))
    val sym = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val cdeg = labels.join(deg, Seq("id"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val intra = edges
      .join(labels.select(col("id").as("src"), col("community").as("ca")), Seq("src"))
      .join(labels.select(col("id").as("dst"), col("community").as("cb")), Seq("dst"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("m_intra"))
    cdeg.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("community"), col("n_nodes"),
        coalesce(col("m_intra"), lit(0L)).as("m_intra"), col("deg_sum"),
        (round(coalesce(col("m_intra"), lit(0L)).cast("double") / col("m") -
          (col("deg_sum").cast("double") / (lit(2L) * col("m"))) *
          (col("deg_sum").cast("double") / (lit(2L) * col("m"))), 9)
          + lit(0.0)).as("q_part"))
      .orderBy(col("community"))
  }

  /** Deterministic synchronous Louvain local-moving (phase 1 of
    * Blondel et al. 2008), rounds-bounded, over the per-nation
    * consecutive-customer graph, reported per final community with
    * its Newman modularity part (the [[modularityQuery]] tail).
    *
    * Each round the nodes whose id matches the round's parity move to
    * the neighboring community with the best modularity gain, all
    * SIMULTANEOUSLY from the previous round's assignment; the other
    * half holds. Classic sequential Louvain visits nodes in an
    * unspecified order (non-deterministic on a distributed engine),
    * so graft pins the synchronous variant, the standard distributed
    * spelling — with ALTERNATING-PARITY symmetry breaking (the
    * distributed-coloring trick), because fully-synchronous moving
    * lets symmetric neighbors swap into each other's community
    * forever with no net merge.
    *
    * Gain comparison is EXACT integer arithmetic: moving i to
    * community c improves modularity by (k_{i,c} − k_i·Σtot'(c)/2m)/m
    * up to constants, so candidates rank by
    * `2m·k_{i,c} − k_i·Σtot'(c)` — all int64 (≤ 2m·deg ≪ 2^62),
    * bit-identical on both engines, ties to the smallest community
    * id. Σtot'(c) excludes i's own degree when c is i's current
    * community (the self-term of the gain formula).
    *
    * 100 TB notes: per round one dst-keyed edge join + (src, comm)
    * aggregate (the label-prop exchange shape), a comm-keyed
    * node-cardinality aggregate for Σtot, and one src-keyed argmax
    * window; edges never change, the community frame is
    * node-cardinality and checkpointed per round. Phase-2 graph
    * coarsening would shrink the frame further between passes —
    * documented future work, the local-moving pass is the
    * corpus-scale cost either way.
    */
  def louvainQuery(spark: SparkSession, sfDir: String,
      rounds: Int = 3): DataFrame = {
    val (edges, sym, m) = louvainBase(spark, sfDir)
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    // community frame carries each node's degree so rounds never
    // re-join the degree table
    val comm0 = deg.select(col("id"), col("id").as("comm"), col("deg"))
    val comm = louvainRounds(sym, comm0, m, rounds)
    louvainReport(edges, comm, m)
  }

  /** Multi-level Louvain (phases 1+2 of Blondel et al. 2008): `r1`
    * local-moving rounds on the base graph, then the partition
    * CONTRACTS into a weighted supernode graph (coarse degree = the
    * community's degree mass, inter-community weights = edge counts)
    * and `r2` more rounds move whole communities at once — the step
    * that lets community structure grow beyond what per-node moves
    * reach, and the reason Louvain converges in practice. Final
    * communities project back to base nodes, reported like
    * [[louvainQuery]].
    *
    * 100 TB notes: the coarse graph is COMMUNITY-cardinality — after
    * one contraction, every subsequent round's exchanges shrink by
    * the phase-1 reduction factor (typically 10-100×); contraction
    * itself is one label join + (ca, cb)-keyed count, the modularity
    * tail's own shape. This is the multi-level scale path the
    * single-level variant documents as future work.
    */
  def louvain2Query(spark: SparkSession, sfDir: String,
      r1: Int = 2, r2: Int = 2): DataFrame = {
    val (edges, sym, m) = louvainBase(spark, sfDir)
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val comm0 = deg.select(col("id"), col("id").as("comm"), col("deg"))
    val c1 = louvainRounds(sym, comm0, m, r1)
    // contract: supernode = phase-1 community; inter-community edge
    // weights = counts (both orientations), coarse degree = tot(comm)
    // (self-loop mass rides inside it: each intra edge contributes 2)
    val cl = c1.select(col("id"), col("comm"))
    val ce = edges
      .join(cl.select(col("id").as("src"), col("comm").as("ca")), Seq("src"))
      .join(cl.select(col("id").as("dst"), col("comm").as("cb")), Seq("dst"))
      .filter(col("ca") =!= col("cb"))
      .select(col("ca"), col("cb")).localCheckpoint(true)
    val csym = ce.select(col("ca").as("src"), col("cb").as("dst"))
      .unionByName(ce.select(col("cb").as("src"), col("ca").as("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val g0 = c1.groupBy(col("comm"))
      .agg(sum(col("deg")).as("deg"))
      .select(col("comm").as("id"), col("comm"), col("deg"))
    val g = louvainRounds(csym, g0, m, r2, weighted = true)
    val projected = c1.select(col("id"), col("comm").as("c1"), col("deg"))
      .join(g.select(col("id").as("c1"), col("comm")), Seq("c1"))
      .select(col("id"), col("comm"), col("deg"))
    louvainReport(edges, projected, m)
  }

  /** Multi-LEVEL Louvain (the phase-3 completion of [[louvain2Query]]'s
    * single contraction): local-moving rounds + contraction repeat up
    * to `maxLevels` times, stopping EARLY at any level whose
    * partition no longer shrinks the coarse graph (Blondel et al.
    * 2008 §2's outer loop, level-budgeted like every other iterative
    * operator here — kcore, labelProp, the rounds of louvain
    * itself). A discarded non-shrinking candidate ends the loop; the
    * result is the last accepted projection — always a valid
    * partition, coarser per accepted level.
    *
    * Why bounded rather than run-to-fixpoint: even with
    * [[louvainRounds]]' alternating-parity symmetry breaking the
    * synchronous mover approaches its optimum asymptotically (late
    * levels trade single-digit merges), so a stops-shrinking
    * fixpoint has a long unproductive tail; the level budget IS the
    * contract — each accepted level strictly coarsens (sf0.1:
    * 15 000 nodes → 4 642 communities within the default 4 levels) —
    * and the oracle replays it exactly (`maxLevels` unrolled level
    * blocks, each conditionally a pass-through once the shrink test
    * fails — after a rejected level the carried state reproduces
    * itself, so later blocks are no-ops).
    *
    * 100 TB notes: level 1's rounds are the corpus-scale cost (the
    * [[louvainQuery]] exchange shape); every deeper level runs on a
    * COMMUNITY-cardinality graph shrunk by the previous level's
    * reduction factor, and the loop's driver-side work is one count
    * per level. Projection back composes one community-keyed join per
    * accepted level over the node-cardinality frame.
    */
  def louvain3Query(spark: SparkSession, sfDir: String,
      r: Int = 2, maxLevels: Int = 4): DataFrame = {
    val (edges, sym0, m) = louvainBase(spark, sfDir)
    val deg = sym0.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    var sym = sym0.withColumn("w", lit(1L))
    var nodes = deg.select(col("id"), col("id").as("comm"), col("deg"))
    var proj: DataFrame = null
    var projJoins = 0
    var nNodes = nodes.count()
    var converged = false
    var level = 0
    while (!converged && level < maxLevels) {
      level += 1
      val cand = louvainRounds(sym, nodes, m, r, weighted = true)
      // the next level's node frame IS one row per distinct community
      // — materialize it first and count THAT for the shrink test
      // (was: a separate distinct().count() probe job, then the same
      // community groupBy again on acceptance — r19, one job fewer
      // per level and no duplicate exchange)
      val cNodes = graft.Frames.leaf(cand.groupBy(col("comm"))
        .agg(sum(col("deg")).as("deg"))
        .select(col("comm").as("id"), col("comm"), col("deg")))
      val nComm = cNodes.count()
      if (nComm < nNodes) {
        // the base→current-level projection stays LAZY across levels
        // (a linear join chain over per-level cand leaves, read only
        // by the final report) and materializes ONCE at the end —
        // was: one node-cardinality checkpoint job per accepted level
        proj =
          if (proj == null) cand
          else {
            projJoins += 1
            proj
              .join(cand.select(col("id").as("__s"), col("comm").as("__c")),
                proj("comm") === col("__s"))
              .select(proj("id"), col("__c").as("comm"), proj("deg"))
          }
        val cl = cand.select(col("id"), col("comm"))
        sym = graft.Frames.leaf(sym
          .join(cl.select(col("id").as("src"), col("comm").as("ca")), Seq("src"))
          .join(cl.select(col("id").as("dst"), col("comm").as("cb")), Seq("dst"))
          .filter(col("ca") =!= col("cb"))
          .groupBy(col("ca").as("src"), col("cb").as("dst"))
          .agg(sum(col("w")).as("w")))
        nodes = cNodes
        nNodes = nComm
      } else converged = true
    }
    louvainReport(edges,
      if (proj == null) nodes
      else if (projJoins == 0) proj // single level: already a leaf
      else graft.Frames.leaf(proj), m)
  }

  /** Degree-assortativity coefficient (Newman 2002) over the
    * per-nation consecutive-customer graph — the one-number
    * graph-shape QA next to [[degreeDistQuery]]'s histogram: r > 0
    * means high-degree nodes link to high-degree nodes (social-graph
    * shape), r < 0 hub-and-spoke. Standard Pearson correlation of
    * endpoint degrees over the SYMMETRIZED edge list (each undirected
    * edge contributes both orientations, so the x/y marginals
    * coincide):
    * `r = (M·Σxy − Σx²) / (M·Σx2 − Σx²)`.
    *
    * Determinism: every input is an exact integer aggregate (degree
    * products/sums over int64, all ≪ 2^62 even at 10^8 edges); the
    * one double expression is 9-dp rounded.
    *
    * 100 TB notes: one node-keyed degree aggregate, one edge-keyed
    * join of (deg_src, deg_dst) through the dst side (src side rides
    * the same partitioning), then a full map-side-combined reduction
    * to a SINGLE row — nothing community- or node-sized survives the
    * final exchange.
    */
  def assortativityQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, sym) = louvainEdges(spark, sfDir)
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val withDegs = sym
      .join(deg.select(col("id").as("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("deg").as("dy")), Seq("dst"))
    withDegs.agg(
        count(lit(1)).as("m"),
        sum(col("dx") * col("dy")).as("sum_xy"),
        sum(col("dx")).as("sum_x"),
        sum(col("dx") * col("dx")).as("sum_x2"))
      .select(col("m"), col("sum_xy"), col("sum_x"), col("sum_x2"),
        (round(
          (col("m") * col("sum_xy") - col("sum_x") * col("sum_x"))
            .cast("double") /
          (col("m") * col("sum_x2") - col("sum_x") * col("sum_x"))
            .cast("double"), 9) + lit(0.0)).as("r"))
  }

  /** The per-nation consecutive-customer graph shared by the Louvain
    * family: (directed-unique edges, symmetrized edges, edge count m).
    *
    * m is LOOP-INVARIANT, so it is collected ONCE from the
    * already-materialized edge checkpoint (bounded O(1) driver state,
    * the embed_pca_power discipline) instead of riding every round's
    * plan as a broadcast 1-row aggregate subtree — that subtree cost
    * one agg + broadcast-exchange stage per round and per report
    * (r19; guide §1.2 "don't compute things you throw away").
    */
  private def louvainBase(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, Long) = {
    val (edges, sym) = louvainEdges(spark, sfDir)
    (edges, sym, edges.count())
  }

  /** [[louvainBase]] without the edge count, for a query that never
    * reads m (the count costs two Spark jobs).
    */
  private def louvainEdges(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val edges = customerChain(spark, sfDir, 1, 2)
      .localCheckpoint()
    (edges, edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst"))))
  }

  /** The synchronous local-moving loop shared by [[louvainQuery]] and
    * [[louvain2Query]]: `sym` is the symmetrized edge list (with a
    * `w` weight column when `weighted`; self-loops excluded — their
    * mass rides in the community frame's `deg`), `comm` carries
    * (id, comm, deg). Gain ranking is exact int64:
    * `2m·k_{i,c} − k_i·Σtot'(c)`, ties to the smallest community id.
    */
  private def louvainRounds(sym: DataFrame, comm0: DataFrame,
      m: Long, rounds: Int, weighted: Boolean = false): DataFrame = {
    var comm = comm0
    for (j <- 1 to rounds) {
      val tot = comm.groupBy(col("comm")).agg(sum(col("deg")).as("tot"))
      // the stay option must always be a candidate, even with no
      // intra-community neighbor (kic contributes 0 then). RAW
      // neighbor contributions union the stay rows and aggregate
      // ONCE: sum is associative, so the former two back-to-back
      // (src, nc) groupBys (neighbor kic, then kic ∪ stay again)
      // collapse into one exchange with map-side partials (r19,
      // guide §2.3/§2.4 — one aggregate, not two, for the same sum)
      val contrib = sym
        .join(comm.select(col("id").as("dst"), col("comm").as("nc")), "dst")
        .select(col("src"), col("nc"),
          (if (weighted) col("w") else lit(1L)).as("kic"))
      val cand = contrib.unionByName(
          comm.select(col("id").as("src"), col("comm").as("nc"),
            lit(0L).as("kic")))
        .groupBy(col("src"), col("nc")).agg(sum(col("kic")).as("kic"))
      comm = cand
        // tot first, src-keyed comm second: the final argmax groups by
        // src, so the last join's src-side exchange is the one the
        // aggregate reuses (nc-last would force one more exchange)
        .join(tot.withColumnRenamed("comm", "nc"), "nc")
        .join(comm.select(col("id").as("src"), col("comm").as("oc"),
          col("deg").as("ki")), "src")
        .withColumn("score",
          lit(2L * m) * col("kic") - col("ki") *
            when(col("nc") === col("oc"), col("tot") - col("ki"))
              .otherwise(col("tot")))
        // argmax by (score DESC, nc ASC) as ONE hash aggregate — a
        // struct max ordered by (score, -nc) is exactly the former
        // row_number window's first row (all int64, no ties: (src,nc)
        // is unique), but aggregates partially map-side and skips the
        // window's per-partition sort (r19, guide §2.3 / §4 codegen)
        .groupBy(col("src"), col("oc"), col("ki"))
        .agg(max(struct(col("score"), (-col("nc")).as("neg_nc"),
          col("nc"))).as("best"))
        // alternating-parity symmetry breaking: only nodes with
        // (id + round) parity 0 adopt their best move this round; the
        // rest hold. Fully-synchronous moving lets symmetric
        // neighbors swap INTO each other's community forever (no net
        // merge — measured as boundary-only trickle on chain graphs);
        // freezing alternate halves is the standard distributed
        // coloring fix and stays deterministic and exactly
        // SQL-replayable.
        .select(col("src").as("id"),
          when((col("src") + lit(j.toLong)) % 2 === 0, col("best.nc"))
            .otherwise(col("oc")).as("comm"),
          col("ki").as("deg"))
      comm = graft.Frames.leaf(comm)
    }
    comm
  }

  /** Per-community modularity report over a (id, comm, deg) frame —
    * the shared tail of the Louvain family ([[modularityQuery]] spells
    * the same columns over a broadcast edge count).
    */
  private def louvainReport(edges: DataFrame, comm: DataFrame,
      m: Long): DataFrame = {
    val lab = comm.select(col("id"), col("comm").as("community"))
    val cdeg = comm.groupBy(col("comm").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val intra = edges
      .join(lab.select(col("id").as("src"), col("community").as("ca")), Seq("src"))
      .join(lab.select(col("id").as("dst"), col("community").as("cb")), Seq("dst"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("m_intra"))
    cdeg.join(intra, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("m_intra"), lit(0L)).as("m_intra"), col("deg_sum"),
        (round(coalesce(col("m_intra"), lit(0L)).cast("double") / lit(m) -
          (col("deg_sum").cast("double") / lit(2L * m)) *
          (col("deg_sum").cast("double") / lit(2L * m)), 9)
          + lit(0.0)).as("q_part"))
      .orderBy(col("community"))
  }

  /** Exact triangle enumeration over an undirected edge list, one row
    * per triangle with the member ids sorted ascending.
    *
    * The classic distributed formulation: canonicalize (dedup both
    * orientations, drop self-loops), then orient every edge from its
    * lower-(degree, id) endpoint to the higher one. Each triangle then
    * has exactly one node with two out-edges, so the wedge join
    * `(a→b) ⋈ (a→c)` plus the closing-edge join `(b→c)` finds it
    * exactly once — no post-dedup, and the orientation bounds any
    * node's out-degree by O(√m), which is what keeps the wedge set
    * from exploding on skewed (power-law) graphs at 100 TB: hub nodes
    * become wedge *targets*, never wedge *apexes*. Three shuffles
    * total (degree agg, wedge join, closing join), all keyed on node
    * id; AQE broadcasts the degree table when small.
    */
  def triangles(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("id"))
      .unionByName(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("id").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("d").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("s"),
      when(uFirst, col("v")).otherwise(col("u")).as("t"))
    val wedge = oriented.select(col("s").as("a"), col("t").as("b"))
      .join(oriented.select(col("s").as("a2"), col("t").as("c")),
        col("a") === col("a2") && col("b") =!= col("c"))
      .select(col("a"), col("b"), col("c"))
    val closed = wedge.join(
      oriented.select(col("s").as("b2"), col("t").as("c2")),
      col("b") === col("b2") && col("c") === col("c2"))
    closed.select(sort_array(array(col("a"), col("b"), col("c"))).as("tri"))
      .select(col("tri")(0).as("n1"), col("tri")(1).as("n2"), col("tri")(2).as("n3"))
  }

  /** Triangles per nation over a deterministic customer proximity
    * graph (each customer linked to the next and next-next custkey in
    * its nation), attributed to the nation of the triangle's minimum
    * member — the SparkEntry `graph_triangle_count` query. The chain
    * construction makes the expected triangles exactly the consecutive
    * custkey triples, which the DuckDB oracle reproduces verbatim.
    */
  def triangleCountQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val c = graft.Tables.customer(spark, sfDir)
    triangles(customerChain(spark, sfDir, 1, 2))
      .join(c.select(col("c_custkey").as("n1"), col("c_nationkey")), "n1")
      .join(graft.Tables.nation(spark, sfDir),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_triangles"))
      .select(col("n_name").as("nation"), col("n_triangles"))
      .orderBy(col("nation"))
  }

  /** CC over the customer→nation→region forest (the SparkEntry
    * `graph_connected_components` query). Components are exactly the
    * regions and the min-id label is the smallest customer id in the
    * region, which makes the result fully SQL-expressible for the
    * oracle while still being computed by the generic iterative
    * algorithm.
    */
  def connectedComponentsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val g = GraphLoader.tpch(spark, sfDir)
    val edges = g.edges("FROM_NATION", "IN_REGION")
    connectedComponents(edges).orderBy(col("id"))
  }

  /** Component-size histogram over [[connectedComponentsQuery]]'s
    * partition — the graph twin of the dedup cluster-size report: a
    * giant component emerging (or the graph shattering into
    * fragments) is the first thing to check before any
    * per-component work is sized. Two map-side-combined aggregations
    * over the component frame; nothing node-sized survives the
    * second exchange.
    */
  def componentSizesQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val g = GraphLoader.tpch(spark, sfDir)
    val edges = g.edges("FROM_NATION", "IN_REGION")
    connectedComponents(edges)
      .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("component_size"))
      .agg(count(lit(1)).as("n_components"), sum(col("sz")).as("n_nodes"))
      .orderBy(col("component_size"))
  }

  /** PageRank over the order→customer→nation→region graph (the
    * SparkEntry `graph_pagerank` query, checked against a DuckDB
    * oracle that unrolls the same 10 power iterations). Rank rounded
    * to 6 dp: partial-sum ordering noise is ~1e-15 relative, so both
    * engines round to identical values with overwhelming margin.
    */
  def pageRankQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val g = GraphLoader.tpch(spark, sfDir)
    val edges = g.edges("PLACED_BY", "FROM_NATION", "IN_REGION")
    pageRank(spark, edges)
      .select(col("id"), round(col("rank"), 6).as("rank"))
      .orderBy(col("id"))
  }

  /** `edges` as (src, dst), hash-partitioned by src and materialized
    * once — the loop-invariant side of every frontier join keyed on
    * src, so no round re-exchanges the edge list.
    */
  private def bySrc(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .repartition(col("src")).localCheckpoint(true)

  /** First-reach BFS, the frontier loop behind [[bfsDepths]],
    * [[landmarkDistances]] and [[brandesForward]]: from `seeds`
    * (key columns `keys`, the last one `id`) at depth 0, each round
    * joins the frontier against the [[bySrc]] edge list `e`, keeps the
    * reached (key…, id) rows not seen at any earlier depth (anti-join
    * on the keys) and stamps them with the next `depth`. With `sigma`
    * each row also carries its shortest-path count — σ = 1 at the
    * seeds, σ(v) = Σ σ(u) over its frontier predecessors u. Every
    * level is checkpointed once and the result is their union, so the
    * accumulated frame has flat lineage without re-materializing it
    * each round. Returns (levels, deepest level reached, whether the
    * frontier drained within `maxDepth`).
    */
  private def firstReach(e: DataFrame, seeds: DataFrame, keys: Seq[String],
      maxDepth: Int, sigma: Boolean = false): (DataFrame, Int, Boolean) = {
    val start = seeds.select(keys.map(col): _*).distinct()
      .withColumn("depth", lit(0L))
    var levels = (if (sigma) start.withColumn("sigma", lit(1L)) else start)
      .localCheckpoint(true)
    val reach = keys.init.map(col) :+ col("dst").as("id")
    var frontier = levels
    var d = 0
    var drained = false
    while (d < maxDepth && !drained) {
      val hop = e.join(frontier, e("src") === frontier("id"))
      val reached =
        if (sigma) hop.groupBy(reach: _*).agg(sum(col("sigma")).as("sigma"))
        else hop.select(reach: _*).distinct()
      val next = reached
        .join(levels.select(keys.map(col): _*), keys, "left_anti")
        .withColumn("depth", lit(d + 1L))
        .localCheckpoint(true)
      if (next.isEmpty) drained = true
      else { levels = levels.unionByName(next); frontier = next; d += 1 }
    }
    (levels, d, drained)
  }

  /** BFS hop distance from a set of source nodes along directed
    * edges: the [[firstReach]] frontier expansion keyed on node id,
    * stopping when the frontier drains — O(depth) rounds, every
    * shuffle keyed on node id.
    */
  def bfsDepths(edges: DataFrame, sources: DataFrame, maxDepth: Int = 30)
      : DataFrame = {
    val (labels, _, drained) = firstReach(bySrc(edges), sources, Seq("id"),
      maxDepth)
    // truncating with a live frontier would silently misreport every
    // deeper node as unreachable — same non-negotiable as the CC
    // convergence check
    if (!drained) throw new IllegalStateException(
      s"bfsDepths frontier not drained after $maxDepth hops - " +
        "results would be wrong; raise maxDepth for graphs of this depth")
    labels
  }

  /** BFS over the reversed order→customer→nation→region hierarchy,
    * rooted at the region nodes (the SparkEntry `graph_bfs` query:
    * regions at depth 0, nations 1, customers 2, orders 3 — a shape
    * the recursive-CTE oracle verifies edge by edge, not by fiat).
    */
  def bfsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val g = GraphLoader.tpch(spark, sfDir)
    val edges = g.edges("PLACED_BY", "FROM_NATION", "IN_REGION")
      .select(col("dst").as("src"), col("src").as("dst"))
    val sources = g.nodeTable("Region").select(col("__id").as("id"))
    bfsDepths(edges, sources).orderBy(col("id"))
  }

  /** Connected components by iterative min-id label propagation with
    * pointer jumping. DataFrame-iterative with per-iteration
    * localCheckpoint to cut lineage; converges when no label changes
    * (checked with a cheap count, early-stop). Undirected semantics:
    * edges mirrored.
    *
    * Each iteration does (1) one hop of edge propagation and (2) one
    * pointer-jump (`comp ← label(comp)`), so label information travels
    * ~2× the distance per round — O(log diameter)-ish rounds on
    * chains, the same idea as the star-contraction CC algorithms.
    * Exiting without convergence is a hard error: truncated label
    * propagation silently returns WRONG components, which is never
    * acceptable.
    */
  def connectedComponents(edges: DataFrame, localEdgeCap: Int = 0)
      : DataFrame = {
    // Size-gated driver union-find (opt-in, default OFF): when the
    // caller KNOWS the edge list is orders of magnitude smaller than
    // the data it came from — duplicate-PAIR graphs after candidate
    // generation, not raw corpora — a bounded collect + union-find
    // replaces ~10 iterative Spark jobs whose scheduling floor
    // dominates at that size. Above the cap (or with cap 0) the
    // distributed propagation below runs unchanged; it IS the scale
    // path and stays the default for every graph-sized input.
    // Labels are identical: union-by-min-root keeps every root the
    // component minimum, matching the loop's min-label fixpoint.
    if (localEdgeCap > 0) {
      val sample = edges.select(col("src"), col("dst"))
        .limit(localEdgeCap + 1).collect()
      if (sample.length <= localEdgeCap) {
        val parent = scala.collection.mutable.LongMap[Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != r) {
            val n = parent(c); parent(c) = r; c = n
          }
          r
        }
        sample.foreach { row =>
          val s = row.getLong(0); val d = row.getLong(1)
          parent.getOrElseUpdate(s, s); parent.getOrElseUpdate(d, d)
          val (rs, rd) = (find(s), find(d))
          if (rs != rd) parent(math.max(rs, rd)) = math.min(rs, rd)
        }
        val spark = edges.sparkSession
        import spark.implicits._
        return parent.keys.toSeq.sorted.map(id => (id, find(id)))
          .toDF("id", "comp")
      }
    }
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src")).localCheckpoint(true)
    var labels = und.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (iter < CcMaxIter && !converged) {
      val propagated = und
        .join(labels, und("src") === labels("id"))
        .select(col("dst").as("id"), col("comp"))
      val hop = labels.select(col("id"), col("comp"))
        .unionByName(propagated)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
        .localCheckpoint(true)
      // pointer jump: my component's own label may already be smaller —
      // adopt it, doubling the effective propagation distance per
      // round. hop is checkpointed first: that cuts lineage AND gives
      // the self-join two independent LogicalRDD scans of one
      // materialized result.
      val next =
        if (iter < CcJumpAfter) hop
        else hop.as("a")
          .join(hop.select(col("id").as("cid"), col("comp").as("ccomp")),
            col("a.comp") === col("cid"), "left")
          .select(col("a.id").as("id"),
            least(col("a.comp"), coalesce(col("ccomp"), col("a.comp"))).as("comp"))
      val changed = next.join(labels.withColumnRenamed("comp", "old_comp"), "id")
        .filter(col("comp") =!= col("old_comp")).limit(1).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $CcMaxIter iterations - " +
        "results would be wrong; the graph's diameter exceeds the budget")
    labels
  }

  /** Iteration budget of [[connectedComponents]]. */
  private val CcMaxIter = 50

  /** Iteration index from which [[connectedComponents]] adds the
    * pointer-jump step. Plain propagation converges in O(diameter)
    * rounds at one shuffle each — optimal for the shallow graphs that
    * dominate in practice; the jump join (two extra shuffles/round)
    * only pays for itself on deep chains, so it switches on adaptively
    * once the iteration count reveals the graph IS deep.
    */
  private val CcJumpAfter = 8

  /** Lineage cut of the PageRank / personalized PageRank / HITS
    * loops: an eager checkpoint every this many iterations (and after
    * the last one). Measured in [[rankLoop]].
    */
  private val CheckpointStride = 2

  /** Damping factor and fixed iteration count of [[pageRank]] and
    * [[personalizedPageRank]] (the oracle unrolls the same 10).
    */
  private val Damping = 0.85
  private val RankIterations = 10

  /** PageRank, fixed iteration count (deterministic), damping 0.85.
    * Dangling mass redistributed uniformly:
    * rank_v = (1−d)/n + d·(received_v + dmass/n).
    */
  def pageRank(spark: SparkSession, edges: DataFrame): DataFrame = {
    val (edgesDeg, vertices) = rankGraph(edges, None)
    val n = vertices.count().toDouble
    rankLoop(edgesDeg, vertices,
      vertices.withColumn("rank", lit(1.0 / n)).localCheckpoint(true),
      lit((1.0 - Damping) / n) + lit(Damping) *
        (coalesce(col("received"), lit(0.0)) + col("dmass") / n))
  }

  /** Personalized PageRank: teleport mass goes to a SEED set instead
    * of uniformly — rank_v = (1−d)·p_v + d·(received_v + dmass·p_v)
    * with p_v = 1/|S| for seeds, 0 elsewhere. The standard
    * random-walk-with-restart relevance score for recommendation /
    * related-entity queries, converging to mass concentrated around
    * the seeds. The seed indicator rides the vertex frame, and
    * dangling mass restarts at the seeds.
    */
  def personalizedPageRank(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame): DataFrame = {
    val (edgesDeg, vertices) = rankGraph(edges, Some(seeds))
    val nSeeds = vertices.agg(
      sum(col("is_seed").cast("long")).as("ns"))
    val withP = vertices.crossJoin(broadcast(nSeeds))
      .select(col("id"), col("has_out"),
        when(col("is_seed"), lit(1.0) / col("ns")).otherwise(lit(0.0)).as("p"))
      .localCheckpoint(true)
    rankLoop(edgesDeg, withP, withP.withColumn("rank", col("p")),
      lit(1.0 - Damping) * col("p") + lit(Damping) *
        (coalesce(col("received"), lit(0.0)) + col("dmass") * col("p")))
  }

  /** The static structures of [[pageRank]] and
    * [[personalizedPageRank]], materialized ONCE (localCheckpoint
    * preserves outputPartitioning): edges pre-joined with their
    * source's out-degree and hash-partitioned by src, and the vertex
    * frame partitioned by id, carrying a `has_out` flag (and an
    * `is_seed` flag when `seeds` is given).
    */
  private def rankGraph(edges: DataFrame, seeds: Option[DataFrame])
      : (DataFrame, DataFrame) = {
    val e = edges.select(col("src"), col("dst"))
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    val edgesDeg = e.join(outDeg, "src")
      .repartition(col("src")).localCheckpoint(true)
    val flagged = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct()
      .join(outDeg.select(col("src").as("id"), lit(true).as("has_out")),
        Seq("id"), "left_outer")
    val vertices = seeds.fold(flagged)(s => flagged.join(
        s.select(col("id")).distinct().withColumn("is_seed", lit(true)),
        Seq("id"), "left_outer"))
      .select(Seq(col("id"), coalesce(col("has_out"), lit(false)).as("has_out")) ++
        seeds.map(_ => coalesce(col("is_seed"), lit(false)).as("is_seed")): _*)
      .repartition(col("id")).localCheckpoint(true)
    (edgesDeg, vertices)
  }

  /** The power iteration of [[pageRank]] and [[personalizedPageRank]]:
    * from `init`, each round rebuilds the ranks from the vertex frame
    * `base` (whose columns carry through) with `update`, an expression
    * over those columns, `received` (the contribution sum) and `dmass`
    * (the rank mass of nodes without out-edges).
    *
    * Shuffle discipline (the part that matters at 100 TB): each
    * iteration shuffles only the contribution aggregation — the
    * edge×rank join co-locates on the [[rankGraph]] partitioning, the
    * vertices×received join reuses the aggregation's id-partitioning,
    * and dangling mass is a filter on `has_out` (no anti-join). One
    * shuffle per iteration total.
    */
  private def rankLoop(edgesDeg: DataFrame, base: DataFrame,
      init: DataFrame, update: Column): DataFrame = {
    var ranks = init
    var i = 0
    while (i < RankIterations) {
      val contribs = edgesDeg
        .join(ranks, edgesDeg("src") === ranks("id"))
        .select(col("dst").as("id"), (col("rank") / col("out_deg")).as("contrib"))
      val summed = contribs.groupBy(col("id")).agg(sum(col("contrib")).as("received"))
      // dangling mass (nodes without out-edges) enters the plan as a
      // broadcast 1-row aggregate instead of a driver action — no
      // extra Spark job per iteration. (r19 measured: folding this
      // into the contribution exchange via a sentinel key ADDED ~3
      // AQE stage-jobs per iteration — 77→104 jobs, 3.8→5.0 s — so
      // the separate rank-frame scan stays.)
      val dangling = ranks.filter(!col("has_out"))
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dmass"))
      ranks = base.join(summed, Seq("id"), "left_outer")
        .crossJoin(broadcast(dangling))
        .select(base.columns.map(col) :+ update.as("rank"): _*)
      // materialize every `CheckpointStride`-th iteration: each
      // un-checkpointed round triples the plan (ranks feeds contribs,
      // dangling, and the final join), so a small stride keeps the
      // plan bounded (~3^stride scans of the last materialization)
      // while dividing the eager-write cost — the fixed overhead that
      // dominates iterative DataFrame loops. Measured (PerfLab
      // variants, best-of-3 at sf0.1 / best-of-2 at sf1): stride 2
      // eager 3.85s/14.9s, stride 3 4.0s, stride 1 4.2s, lazy
      // stride 2 3.42s/17.9s — lazy wins only while fixed overhead
      // dominates and loses at sf1 where the deferred write lands on
      // the next iteration's critical path, so eager stride 2 is the
      // scale-robust default.
      if (i % CheckpointStride == CheckpointStride - 1 || i == RankIterations - 1)
        ranks = ranks.localCheckpoint(true)
      i += 1
    }
    ranks.select(col("id"), col("rank"))
  }

  /** [[personalizedPageRank]] over the TPC-H entity graph, seeded at
    * the five lowest-key customers — "what is most relevant to this
    * cohort": their orders stay hot, mass drains through customers to
    * the shared nation/region spine.
    */
  def pprQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val g = GraphLoader.tpch(spark, sfDir)
    val edges = g.edges("PLACED_BY", "FROM_NATION", "IN_REGION")
    val seeds = graft.Tables.customer(spark, sfDir)
      .filter(col("c_custkey") <= 5)
      .select((lit(2000000000L) + col("c_custkey")).as("id"))
    personalizedPageRank(spark, edges, seeds)
      .select(col("id"), (round(col("rank"), 9) + lit(0.0)).as("rank"))
      .orderBy(col("id"))
  }

  /** HITS (Kleinberg hubs & authorities), L1-normalized once per FULL
    * iteration (normalization fusion): the mid-iteration authority
    * normalization cancels algebraically — hub_k = A·(aᵣ/‖aᵣ‖₁) /
    * ‖A·(aᵣ/‖aᵣ‖₁)‖₁ = A·aᵣ / ‖A·aᵣ‖₁ — so each iteration runs the
    * dst-keyed and src-keyed exchanges BACK TO BACK on raw sums and
    * pays exactly one broadcast 1-row norm barrier (the hub one);
    * authorities are normalized once, after the last iteration. Same
    * iterative discipline as [[pageRank]] otherwise: norms enter as
    * broadcast 1-row aggregates (never a driver action), lineage cut
    * on a checkpoint stride. Scores are sign-stable (non-negative
    * init, non-negative updates), so no norm is ever zero on a graph
    * with edges. The oracle unrolls this exact fused arithmetic.
    */
  def hits(spark: SparkSession, edges: DataFrame): DataFrame = {
    val e = bySrc(edges)
    // second copy partitioned on dst: the hub-sum join keys on e.dst,
    // so without it every iteration re-exchanges the FULL edge list
    // dst-ward (the aggregation exchanges are inherent, this one is
    // not). Two materialized edge copies buy 8 iterations × one
    // edge-list exchange — the classic in/out adjacency split every
    // Pregel-style engine keeps
    val eByDst = e.repartition(col("dst")).localCheckpoint(true)
    val vertices = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct().repartition(col("id")).localCheckpoint(true)
    // nodes outside either frame carry an exact zero: they contribute
    // nothing to the L1 norms or to any neighbor sum, so the
    // per-iteration frames keep only the NONZERO scores and the full
    // vertex set is zero-filled once at the end — two vertex-sized
    // left-joins per iteration gone (measured ~20% off the query,
    // with stride-1 checkpoints beating stride 2 on this join-heavy
    // iteration body)
    // normalization is deferred ENTIRELY to the end: HITS' update is
    // linear, so per-iteration scale factors commute out and a single
    // final L1 division yields the same scores (one division instead
    // of 8 one-row aggregate barriers; raw magnitudes grow as λ^k —
    // λ would need to exceed ~1e37 before 8 iterations could overflow
    // a double, far beyond any real degree distribution). The oracle
    // unrolls the identical raw recurrence.
    var hub = vertices.withColumn("hub", lit(1.0)).localCheckpoint(true)
    var authRaw: DataFrame = null
    // checkpoints superseded by the next stride: their lineage is cut
    // and no later plan reads them, so their blocks are freed as soon
    // as the replacing checkpoint has materialized. Leaving them
    // resident is what drove the sf10 scale drift (8 iterations × two
    // vertex-sized block sets in a bounded executor store evict and
    // spill the frames the LIVE iteration needs).
    var prevCks: Seq[DataFrame] = Seq(hub)
    var i = 0
    while (i < HitsIterations) {
      // authority raw: sum of in-neighbor raw hub scores
      val rawA = e.join(hub.select(col("id"), col("hub")),
          e("src") === col("id"))
        .groupBy(col("dst")).agg(sum(col("hub")).as("rawa"))
        .select(col("dst").as("id"), col("rawa"))
      authRaw = rawA
      // hub raw: sum of out-neighbor raw authority scores
      val rawH = eByDst.join(rawA.select(col("id"), col("rawa")),
          eByDst("dst") === col("id"))
        .groupBy(col("src")).agg(sum(col("rawa")).as("rawh"))
        .select(col("src").as("id"), col("rawh").as("hub"))
      hub = rawH
      if (i % CheckpointStride == CheckpointStride - 1 || i == HitsIterations - 1) {
        // only hub is checkpointed mid-loop (r18 optimization round):
        // authRaw re-derives from the hub checkpoint in ONE join+agg,
        // so its lineage stays shallow without paying a second
        // vertex-sized materialization job per stride. The LAST
        // iteration still checkpoints authRaw — the final assembly
        // reads it twice (norm + projection).
        hub = hub.localCheckpoint(true)
        if (i == HitsIterations - 1) authRaw = authRaw.localCheckpoint(true)
        prevCks.foreach(graft.Frames.free)
        prevCks = if (i == HitsIterations - 1) Seq(hub, authRaw) else Seq(hub)
      }
      i += 1
    }
    val hNorm = hub.agg(sum(col("hub")).as("hnorm"))
    val aNorm = authRaw.agg(sum(col("rawa")).as("anorm"))
    val hubN = hub.crossJoin(broadcast(hNorm))
      .select(col("id"), (col("hub") / col("hnorm")).as("hub"))
    val auth = authRaw.crossJoin(broadcast(aNorm))
      .select(col("id"), (col("rawa") / col("anorm")).as("auth"))
    vertices
      .join(hubN, Seq("id"), "left_outer")
      .join(auth, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("auth"))
  }

  /** Fixed iteration count of [[hits]] (the oracle unrolls the same 8). */
  private val HitsIterations = 8

  /** The declared `graph_hits` query: hubs/authorities over the
    * order→customer→nation→region hierarchy, 6-dp rounded (the same
    * ulp-absorption contract as `graph_pagerank` — the oracle unrolls
    * identical arithmetic as chained CTEs).
    */
  def hitsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val g = GraphLoader.tpch(spark, sfDir)
    val edges = g.edges("PLACED_BY", "FROM_NATION", "IN_REGION")
    hits(spark, edges)
      .select(col("id"), round(col("hub"), 6).as("hub"),
        round(col("auth"), 6).as("auth"))
      .orderBy(col("id"))
  }

  /** Neighborhood Jaccard similarity — the classic link-prediction /
    * entity-resolution feature: for part pairs sharing at least one
    * supplier, |N(a)∩N(b)| / |N(a)∪N(b)| over SUPPLIES neighborhoods,
    * top-k. Same inverted-index discipline as the dedup family: pairs
    * form ONLY through a shared neighbor (supplier), never by
    * crossing the part list with itself, so candidate volume is
    * Σ_s deg(s)² — bounded by the hub cap of the degree distribution,
    * not |parts|².
    */
  def neighborSimQuery(spark: SparkSession, sfDir: String, k: Int = 20,
      hubCap: Int = 500): DataFrame = {
    val e = suppliesByPart(spark, sfDir)
    // candidate pairs form through the PART side, whose supplier
    // fanout is bounded by the catalog shape (≈ suppliers-per-part, a
    // constant as the data grows) — pairing through the supplier side
    // would be quadratic in parts-per-supplier, which GROWS with
    // scale. Parts shared by more than hubCap suppliers are dropped
    // from candidate generation like dedup's stop shingles: a
    // universal part connects everyone and decides nothing.
    val partDeg = e.groupBy(col("part")).agg(count(lit(1)).as("pdeg"))
    val pruned = e.join(broadcast(partDeg.filter(col("pdeg") > hubCap)
      .select(col("part"))), Seq("part"), "left_anti")
    val deg = e.groupBy(col("supp")).agg(count(lit(1)).as("deg"))
    val pairs = pruned.as("a").join(pruned.as("b"),
        col("a.part") === col("b.part") && col("a.supp") < col("b.supp"))
      .groupBy(col("a.supp").as("supp_a"), col("b.supp").as("supp_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(deg.select(col("supp").as("supp_a"), col("deg").as("deg_a")), "supp_a")
      .join(deg.select(col("supp").as("supp_b"), col("deg").as("deg_b")), "supp_b")
      .select(col("supp_a"), col("supp_b"),
        round(col("inter").cast("double") /
          (col("deg_a") + col("deg_b") - col("inter")), 6).as("jaccard"),
        col("inter"))
      .orderBy(col("jaccard").desc, col("supp_a"), col("supp_b"))
      .limit(k)
  }

  /** The deduped SUPPLIES edge list `(supp, part)` of
    * [[neighborSimQuery]] and [[adamicAdarQuery]], materialized once:
    * it feeds the degree aggregates AND both sides of the pair join,
    * and each consumer would otherwise re-scan the raw table and
    * re-pay the distinct exchange (4 full scans observed in the
    * un-checkpointed plan). Partitioned by the pair key at the
    * session's shuffle parallelism: the Σ_p pdeg² pair enumeration
    * downstream is the expensive stage, and a checkpoint left at the
    * AQE-coalesced width would run it on that many cores.
    */
  private def suppliesByPart(spark: SparkSession, sfDir: String): DataFrame =
    GraphLoader.tpch(spark, sfDir).relTable("SUPPLIES")
      .select(col("__src").as("supp"), col("__dst").as("part")).distinct()
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("part"))
      .localCheckpoint(true)

  /** MinHash-APPROXIMATED neighborhood similarity (SparkEntry
    * `graph_neighbor_sim_approx`) — the scale path past
    * [[neighborSimQuery]]: the exact query's candidate volume is
    * Σ_s deg(s)² through shared neighbors, which a hub cap bounds but
    * a 100 TB co-occurrence graph still pays in full; here each node
    * carries a FIXED-WIDTH MinHash signature of its neighbor set
    * (Broder 1997 — P[min agree] = Jaccard), candidates come from
    * banded-LSH buckets over the signature (the dedup_minhash_lsh
    * discipline applied to graph neighborhoods, GDS nodeSimilarity's
    * sampled mode), and the similarity ESTIMATE is the fraction of
    * agreeing components — no common-neighbor pair is ever
    * enumerated.
    *
    * 100 TB shape: signatures are one groupBy(supp) with k min
    * aggregates (map-side partials collapse each partition to one row
    * per supplier before the only node-keyed exchange); band buckets
    * shuffle (band, 8-byte hash, supp) triples; hot buckets (> a cap
    * of suppliers hashing identically) are dropped via a broadcast
    * anti-join exactly like dedup's stop shingles; the verify join
    * touches signatures, never neighbor lists.
    *
    * Determinism: hashes are fixed-constant BIGINT modular algebra
    * (all products < 2^62 — no overflow), agreement counts are
    * integers, est = agree/k is an exact binary double — the DuckDB
    * oracle replays every step bit-for-bit.
    *
    * RESOLUTION CONTRACT: k components resolve similarity at the
    * J ≳ 1/k scale (k=16 → steps of 0.0625). On a corpus whose
    * neighborhoods are uniformly dissimilar (e.g. TPC-H sf0.1
    * suppliers: max true J ≈ 0.035) the ranking cannot — and should
    * not — reproduce the exact query's noise-level ordering; the est
    * column honestly reports ≈0.25-0.31 for every survivor. To
    * resolve finer similarity, raise k (dedup's document MinHash
    * uses 128 for exactly this reason); the plan shape is unchanged.
    */
  def neighborSimApproxQuery(spark: SparkSession, sfDir: String,
      k: Int = 20, bucketCap: Int = 200): DataFrame = {
    val g = GraphLoader.tpch(spark, sfDir)
    val e = g.relTable("SUPPLIES")
      .select(col("__src").as("supp"), col("__dst").as("part")).distinct()
    // Hash family — two hard-won constraints, both observed failing
    // on this exact query before they were imposed:
    //  1. multipliers must be LARGE (≈2^31) relative to P: small ones
    //     (131..211) over dense integer keys quantize the low range
    //     of the hash and the MINIMA of DISJOINT sets collide (est
    //     1.0 on near-zero-Jaccard pairs at sf0.1);
    //  2. the 16 slopes must be mutually UNRELATED: the linear family
    //     a_i = (i+1)·A, b_i = (i+1)·B factors as
    //     h_i(x) = (i+1)·h_1(x) mod P — sixteen scalar multiples of
    //     ONE permutation, whose argmins co-move, so agreement
    //     saturates at 0-or-16 (observed: est exactly 1.0 across
    //     whole supplier cohorts). POWER constants a_i = A^(i+1),
    //     b_i = B^(i+1) mod P give pairwise-unrelated affine maps.
    val P = graft.OracleHash.P // 1000000007
    val nHash = 16 // 8 bands x 2 rows
    // a_i = MulA^(i+1) mod P — since R11 this IS OracleHash.a/b (the
    // document-side family adopted this query's power-constant fix),
    // so the one shared definition serves both MinHash twins
    val as = (0 until nHash).map(graft.OracleHash.a)
    val bs = (0 until nHash).map(graft.OracleHash.b)
    val mins = (0 until nHash).map { i =>
      min(((col("part") % P) * as(i) + bs(i)) % P).as(s"s$i")
    }
    val sig = e.groupBy(col("supp")).agg(mins.head, mins.tail: _*)
      .localCheckpoint(true)
    // band hash: fold of the band's 2 components, mod-reduced each
    // step (collisions only ADD candidates; the estimate ranking
    // demotes them — same contract as any LSH bucketing). 2-row
    // bands keep the candidate probability J² per band, so the OR
    // over 8 bands still surfaces pairs on sparse-overlap corpora
    // where a 4-row band's J⁴ admits nothing.
    def bandHash(j: Int): org.apache.spark.sql.Column =
      (2 * j until 2 * j + 2).map(i => col(s"s$i"))
        .reduce((acc, s) => (acc * 31L + s) % P)
    val buckets = (0 until 8).map(j => sig.select(lit(j).as("band"),
        bandHash(j).as("bh"), col("supp")))
      .reduce(_.unionByName(_))
    // a bucket holding > bucketCap suppliers is a degenerate
    // signature region (near-empty or constant neighborhoods): it
    // would contribute cap² candidate pairs that the estimate filter
    // kills anyway — drop it up front, dedup's stop-shingle rule
    val hot = buckets.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("n")).filter(col("n") > bucketCap)
      .select(col("band"), col("bh"))
    val kept = buckets.join(broadcast(hot), Seq("band", "bh"), "left_anti")
    val cand = kept.as("a")
      .join(kept.as("b"), col("a.band") === col("b.band") &&
        col("a.bh") === col("b.bh") && col("a.supp") < col("b.supp"))
      .select(col("a.supp").as("supp_a"), col("b.supp").as("supp_b"))
      .distinct()
    val sigA = sig.select(col("supp").as("supp_a") +:
      (0 until nHash).map(i => col(s"s$i").as(s"a$i")): _*)
    val sigB = sig.select(col("supp").as("supp_b") +:
      (0 until nHash).map(i => col(s"s$i").as(s"b$i")): _*)
    val agree = (0 until nHash)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    // every banding survivor is RANKED (no agreement floor): on a
    // corpus with no truly-similar neighborhoods the top-k then
    // self-describes its low resolution through the est column,
    // instead of returning an arbitrary all-ties subset
    cand.join(sigA, Seq("supp_a")).join(sigB, Seq("supp_b"))
      .withColumn("agree", agree.cast("long"))
      .select(col("supp_a"), col("supp_b"),
        (col("agree").cast("double") / nHash).as("est_jaccard"),
        col("agree"))
      .orderBy(col("est_jaccard").desc, col("supp_a"), col("supp_b"))
      .limit(k)
  }

  /** Local clustering coefficient per node: 2·t(v) / (d(v)·(d(v)−1))
    * with t(v) the triangles containing v and d(v) the distinct
    * undirected degree; nodes of degree < 2 report 0.0.
    *
    * Reuses [[triangles]] (degree-ordered orientation — the √m wedge
    * bound is what survives skew at scale), then one explode +
    * count per member; degree is a second pass over the
    * canonicalized edge set. Three keyed shuffles total beyond the
    * triangle enumeration itself.
    */
  def localClustering(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("id"))
      .unionByName(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val perNode = triangles(edges)
      .select(explode(array(col("n1"), col("n2"), col("n3"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("id"), "left_outer")
      .select(col("id"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coeff",
        when(col("degree") >= 2,
          round(lit(2.0) * col("n_tri") /
            (col("degree") * (col("degree") - 1)), 6))
          .otherwise(lit(0.0)))
  }

  /** [[localClustering]] over the per-nation customer proximity graph
    * (same construction as [[triangleCountQuery]]) — the SparkEntry
    * `graph_clustering_coeff` query.
    */
  def clusteringCoeffQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = customerChain(spark, sfDir, 1, 2)
    localClustering(edges).orderBy(col("id"))
  }

  /** Hop-bounded weighted single-source shortest path (Bellman–Ford,
    * synchronous rounds): after `rounds` relaxations, `cost(v)` is
    * the cheapest path of ≤ rounds hops from any source — the exact
    * SSSP when the graph's hop diameter fits the bound, and a
    * documented truncation when it doesn't (unreached nodes surface
    * as NULL through the caller's left join). Early-stops when a
    * round improves nothing, which cannot change the fixpoint
    * (relaxation is monotone).
    *
    * 100 TB notes: each round is one join keyed on src + one
    * min-aggregate keyed on node id — the same two-exchange shape as
    * a PageRank iteration; dist is localCheckpointed each round to
    * cut lineage. Edge weights ride the edge relation; no per-round
    * driver data beyond the 1-row convergence count.
    */
  def ssspBoundedHops(edges: DataFrame, sources: DataFrame,
      rounds: Int): DataFrame = {
    // edges partitioned by src ONCE: every round's relax join then
    // reuses this layout instead of re-exchanging the edge relation
    val e = edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("src")).localCheckpoint(true)
    var dist = sources.select(col("id"), lit(0L).as("cost"))
      .localCheckpoint(true)
    // delta relaxation: only nodes improved last round can improve a
    // neighbor this round, so the relax join runs against the
    // (shrinking) frontier. Merge + improvement detection fuse into
    // ONE tagged min-aggregate — tag 0 carries the old dist, tag 1
    // the candidates, and `min(cost) < min(cost WHERE tag=0)` is the
    // improvement test — so each round pays the relax join, one
    // keyed exchange, and ONE eager checkpoint; the termination
    // count scans the materialized checkpoint.
    var frontier = dist
    var r = 0
    var frontierSize = 1L
    while (r < rounds && frontierSize > 0) {
      val candidates = frontier.join(e, frontier("id") === e("src"))
        .select(col("dst").as("id"), (col("cost") + col("w")).as("cost"))
      val merged = dist.select(col("id"), col("cost"), lit(0).as("tag"))
        .unionByName(candidates.select(col("id"), col("cost"),
          lit(1).as("tag")))
        .groupBy(col("id"))
        .agg(min(col("cost")).as("cost"),
          min(when(col("tag") === 0, col("cost"))).as("old_cost"))
        .localCheckpoint(true)
      val improved = merged
        .filter(col("old_cost").isNull || col("cost") < col("old_cost"))
        .select(col("id"), col("cost"))
      // only the BOOLEAN "did anything improve" matters — the limit
      // probe stops at the first surviving row instead of scanning
      // the whole vertex-sized checkpoint every round (r19)
      frontierSize = improved.limit(1).count()
      if (frontierSize > 0) dist = merged.select(col("id"), col("cost"))
      frontier = improved
      r += 1
    }
    dist
  }

  /** The weighted per-nation skip-link graph of [[ssspQuery]] and
    * [[waspQuery]] — the lead 1, 2, 8 edges with the deterministic
    * cost `w = 1 + (src + dst) mod 7` — and its sources, each nation's
    * minimum custkey.
    */
  private def weightedSkipLinks(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val edges = customerChain(spark, sfDir, 1, 2, 8)
      .withColumn("w", lit(1L) + (col("src") + col("dst")) % 7)
    val sources = graft.Tables.customer(spark, sfDir)
      .groupBy(col("c_nationkey"))
      .agg(min(col("c_custkey")).as("id"))
      .select(col("id"))
    (edges, sources)
  }

  /** SSSP over the per-nation proximity graph with log-spaced skip
    * links (lead 1, 2, 8) and the deterministic edge cost
    * `1 + (src + dst) mod 7`; one source per nation (its minimum
    * custkey). 14 rounds covers the sf0.01 hop diameter exactly
    * (oracle-checked); at larger factors the bound truncates —
    * unreached customers report NULL cost, the documented
    * bounded-hop semantic. The SparkEntry `graph_sssp_weighted`
    * query.
    */
  def ssspQuery(spark: SparkSession, sfDir: String,
      rounds: Int = 14): DataFrame = {
    val (edges, sources) = weightedSkipLinks(spark, sfDir)
    val dist = ssspBoundedHops(edges, sources, rounds)
    graft.Tables.customer(spark, sfDir).select(col("c_custkey").as("id"))
      .join(dist, Seq("id"), "left_outer")
      .select(col("id"), col("cost"))
      .orderBy(col("id"))
  }

  /** WEIGHTED all-shortest-path multiplicity (σ counting over weighted
    * distances — the counting companion Neo4j pairs with its weighted
    * shortest-path procedures, where the engine's Cypher
    * `allShortestPaths` counts unweighted hops): per node, the
    * cheapest cost from its nation's source AND the NUMBER of
    * distinct minimum-cost paths realizing it.
    *
    * Brandes' recurrence generalizes unchanged to weights: the
    * shortest-path DAG is the set of TIGHT edges
    * (`dist(u) + w(u,v) = dist(v)`, acyclic since weights are
    * positive), and σ(v) = Σ over tight predecessors σ(u), σ = 1 at
    * the source. σ propagates with `rounds` synchronous sweeps,
    * exact integer counts throughout.
    *
    * HOP-BOUNDED contract (inherited from [[ssspBoundedHops]] and
    * applied to σ the same way): `cost` is the cheapest ≤ rounds-hop
    * path and `n_paths` counts tight paths of ≤ rounds hops — the
    * exact Dijkstra answer whenever true shortest paths fit the
    * bound, and a deterministic truncation when they don't (cheap
    * many-hop chains can beat short expensive ones past any fixed
    * bound; the oracle applies the identical bound).
    *
    * 100 TB notes: the distance phase is [[ssspBoundedHops]]'s
    * two-exchange rounds; the tight-DAG extraction is two id-keyed
    * joins carrying (id, cost) pairs; each σ sweep is one src-keyed
    * join + id-keyed sum over the (node, count) frame — no frame ever
    * exceeds node cardinality, and the fixed sweep count keeps the
    * loop action-free.
    */
  def waspQuery(spark: SparkSession, sfDir: String,
      rounds: Int = 14): DataFrame = {
    val (graph, sources) = weightedSkipLinks(spark, sfDir)
    val edges = graph.localCheckpoint(true)
    val dist = ssspBoundedHops(edges, sources, rounds)
    val tight = edges
      .join(dist.select(col("id").as("src"), col("cost").as("__cs")), Seq("src"))
      .join(dist.select(col("id").as("dst"), col("cost").as("__cd")), Seq("dst"))
      .filter(col("__cs") + col("w") === col("__cd"))
      .select(col("src"), col("dst"))
      .repartition(col("src")).localCheckpoint(true)
    val seed = sources.select(col("id"), lit(1L).as("np"))
    var sig = seed
    for (k <- 1 to rounds) {
      sig = seed
        .unionByName(sig.join(tight, sig("id") === tight("src"))
          .select(col("dst").as("id"), col("np")))
        .groupBy(col("id")).agg(sum(col("np")).as("np"))
      // stride-3 checkpoints: each sweep references sig ONCE, so the
      // un-truncated tail grows linearly, and three sweeps of plan per
      // materialization trades 2/3 of the driver actions for nothing
      if (k % 3 == 0 || k == rounds) sig = sig.localCheckpoint(true)
    }
    graft.Tables.customer(spark, sfDir).select(col("c_custkey").as("id"))
      .join(dist, Seq("id"), "left_outer")
      .join(sig, Seq("id"), "left_outer")
      .select(col("id"), col("cost"),
        coalesce(col("np"), lit(0L)).as("n_paths"))
      .orderBy(col("id"))
  }

  /** Hop-bounded per-landmark BFS distances: like [[bfsDepths]] but
    * the state is keyed `(lm, id)` so every landmark keeps its OWN
    * distance to every node — the Thorup–Zwick-style landmark
    * distance sketch that large-graph systems precompute to answer
    * approximate point-to-point distance / closeness queries without
    * all-pairs work. Hop-bounding is intentional semantics here (the
    * sketch answers "distance within R hops"), unlike [[bfsDepths]]
    * where truncation is an error — nodes beyond the bound are simply
    * absent from a landmark's profile.
    *
    * 100 TB notes: state is k·|reached| rows for k landmarks — k is a
    * design constant (tens), so state is O(k·V), never V². Per
    * [[firstReach]] round: one src-keyed join (edges pre-partitioned
    * and checkpointed once) and one (lm, id) anti-join against the
    * accumulated levels; both
    * exchanges are on node-id-dominated keys, no skew amplification
    * beyond the graph's own hub structure.
    */
  def landmarkDistances(edges: DataFrame, landmarks: DataFrame,
      maxDepth: Int = 16): DataFrame =
    firstReach(bySrc(edges), landmarks, Seq("lm", "id"), maxDepth)._1

  /** The per-nation skip-link proximity DAG shared by
    * [[closenessQuery]] and [[betweennessQuery]] (forward-only d1/d2/
    * d8 leads ⇒ acyclic, unit-cost, no parallel edges), plus its
    * landmark set (each nation's 1st and 10th smallest custkeys).
    * One definition so the two centrality sketches cannot drift.
    */
  private def skipLinkGraph(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val landmarks = graft.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), row_number().over(byNation).as("rn"))
      .filter(col("rn") === 1 || col("rn") === 10)
      .select(col("c_custkey").as("lm"), col("c_custkey").as("id"))
    (customerChain(spark, sfDir, 1, 2, 8), landmarks)
  }

  /** Landmark eccentricity profile + diameter lower bound — the
    * graph-extent QA next to [[closenessQuery]] (same Thorup–Zwick
    * landmark-sketch family, same hop-bounded truncation semantic):
    * each landmark reports the farthest hop it reaches and its
    * coverage, and the max over landmarks is the standard
    * lower bound on the graph diameter (exact diameter needs
    * all-pairs — never at 100 TB; k well-spread landmarks give the
    * bound every practical system uses).
    *
    * 100 TB notes: rides [[landmarkDistances]]' (lm, id)-keyed BFS —
    * O(k·V) state — then collapses to k rows map-side; the diameter
    * bound is a broadcast 1-row aggregate over those k rows.
    */
  def eccentricityQuery(spark: SparkSession, sfDir: String,
      maxDepth: Int = 16): DataFrame = {
    val perLm = landmarkDistanceArtifact(spark, sfDir, maxDepth)
      .groupBy(col("lm"))
      .agg(max(col("depth")).as("ecc"), count(lit(1)).as("n_reached"))
    val diam = perLm.agg(max(col("ecc")).as("diam_lb"))
    perLm.crossJoin(broadcast(diam)).orderBy(col("lm"))
  }

  /** Memoized landmark-distance ARTIFACT per (session, dir, depth):
    * [[closenessQuery]] and [[eccentricityQuery]] both read the same
    * (lm, id, depth) sketch — in production the sketch is computed
    * once and persisted (it IS the Thorup–Zwick precompute), so the
    * BFS is paid once per session, not once per consumer. Same
    * discipline as the dedup cluster and BPE-rule artifacts.
    */
  def landmarkDistanceArtifact(spark: SparkSession, sfDir: String,
      maxDepth: Int = 16): DataFrame = {
    lmDistCache.getOrCompute((spark, sfDir, maxDepth), spark) {
      val (edges, landmarks) = skipLinkGraph(spark, sfDir)
      landmarkDistances(edges, landmarks, maxDepth).localCheckpoint(true)
    }
  }

  private val lmDistCache =
    new graft.Artifacts.Cache[(SparkSession, String, Int), DataFrame]()

  /** Landmark closeness profile over the per-nation proximity graph
    * (the [[ssspQuery]] skip-link edges, unit hop cost): landmarks =
    * each nation's 1st and 10th smallest custkeys, distances bounded
    * at 16 hops, and per customer the profile aggregate
    * `(reached, dist_sum)` — the closeness-centrality estimate a
    * distance sketch serves. Forward-only skip links make the graph a
    * DAG, so the oracle's recursive CTE terminates on the same bound.
    * Unreached customers report `reached = 0, dist_sum NULL` — the
    * documented bounded-hop semantic (same family as
    * `graph_sssp_weighted`). The SparkEntry `graph_closeness` query.
    */
  def closenessQuery(spark: SparkSession, sfDir: String,
      maxDepth: Int = 16): DataFrame = {
    val c = graft.Tables.customer(spark, sfDir)
    val dist = landmarkDistanceArtifact(spark, sfDir, maxDepth)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("reached"), sum(col("depth")).as("dist_sum"))
    c.select(col("c_custkey").as("id"))
      .join(dist, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("reached"), lit(0L)).as("reached"),
        col("dist_sum"))
      .orderBy(col("id"))
  }

  /** Landmark-sampled betweenness centrality (Brandes 2001, the
    * k-source sampling of Brandes–Pich 2007): from each landmark a
    * hop-bounded forward BFS accumulates shortest-path counts σ, then
    * the dependency recurrence runs BACKWARD level by level —
    * δ(v) = Σ_{w ∈ succ(v), dist(w)=dist(v)+1} σ(v)/σ(w) · (1+δ(w)) —
    * and a node's betweenness estimate is Σ_landmarks δ(v). The hop
    * bound is the sketch semantic (same family as [[closenessQuery]]
    * / `graph_sssp_weighted`): paths longer than `maxDepth` don't
    * contribute, documented truncation.
    *
    * Determinism: σ is exact integer arithmetic; each per-edge
    * dependency term rounds to 12 dp and accumulates as
    * DECIMAL(38,12) (order-independent), the cross-landmark sum
    * likewise, final 6-dp round — the DuckDB oracle (recursive-CTE σ,
    * backward levels unrolled) reproduces every double exactly.
    *
    * 100 TB shape: state is keyed (lm, id) — O(k·V) for k landmarks
    * like [[landmarkDistances]]; each forward level is one src-keyed
    * join + (lm, dst) agg + anti-join, each backward level one
    * src-keyed join + (lm, v) agg. Everything localCheckpoints per
    * level (flat lineage); nothing collects to the driver.
    */
  def betweennessQuery(spark: SparkSession, sfDir: String,
      maxDepth: Int = 4): DataFrame = {
    val c = graft.Tables.customer(spark, sfDir)
    val perNode = betweennessDeltas(spark, sfDir, maxDepth)
      .groupBy(col("id"))
      .agg((round(sum(col("delta").cast("decimal(38,12)")).cast("double"), 6)
        + lit(0.0)).as("bc"))
    c.select(col("c_custkey").as("id"))
      .join(perNode, Seq("id"), "left_outer")
      .select(col("id"), (coalesce(col("bc"), lit(0.0)) + lit(0.0)).as("bc"))
      .orderBy(col("id"))
  }

  /** The per-(landmark, node) dependency frame `(lm, id, delta)`
    * behind [[betweennessQuery]] — one full Brandes pass over ALL
    * landmarks; consumers aggregate (the full query sums every lm,
    * [[centralityTuningQuery]] re-aggregates prefix subsets from the
    * SAME pass, the hammingTuning zero-extra-pass discipline).
    */
  private[graft] def betweennessDeltas(spark: SparkSession, sfDir: String,
      maxDepth: Int = 4): DataFrame = {
    val (levels, e, deepest) = brandesForward(spark, sfDir, maxDepth)
    brandesBackward(levels, brandesPairs(levels, e), deepest)
  }

  /** Forward Brandes σ BFS ([[firstReach]] with σ): `(levels(lm, id,
    * depth, sigma), edges, deepest-reached-level)`. First-reach only,
    * so `levels` is PREFIX-STABLE in the depth bound — the frame
    * computed at bound D filtered to `depth <= d` IS the bound-d frame,
    * which is what lets
    * [[centralityDepthTuningQuery]] feed every grid depth from ONE
    * forward pass.
    */
  private[graft] def brandesForward(spark: SparkSession, sfDir: String,
      maxDepth: Int): (DataFrame, DataFrame, Int) = {
    val (edges, landmarks) = skipLinkGraph(spark, sfDir)
    val e = bySrc(edges)
    val (levels, deepest, _) = firstReach(e, landmarks, Seq("lm", "id"),
      maxDepth, sigma = true)
    (levels, e, deepest)
  }

  /** The Brandes successor-pair frame `(lm, vid, vdist, vsig, wid,
    * wsig)` — one row per (landmark, BFS-tree edge v→w with
    * dist(w) = dist(v)+1), computed in ONE edge-list join pass over
    * the whole forward frame and checkpointed (r19). Every backward
    * accumulation at every depth bound consumes the SAME pair frame:
    * like the forward levels, the pair structure is prefix-stable in
    * the bound, so the per-level (and, in the depth-tuning grid,
    * per-cell) edge-list re-joins of the former backward pass — the
    * only edge-sized work it did — collapse into this single pass
    * (guide §2.4).
    */
  private def brandesPairs(levels: DataFrame, e: DataFrame): DataFrame = {
    val v = levels.select(col("lm"), col("id").as("vid"),
      col("depth").as("vdist"), col("sigma").as("vsig"))
    val w = levels.select(col("lm").as("w_lm"), col("id").as("wid"),
      col("depth").as("wdist"), col("sigma").as("wsig"))
    v.join(e, v("vid") === e("src"))
      .join(w, col("lm") === col("w_lm") && col("dst") === col("wid") &&
        col("wdist") === col("vdist") + 1)
      .select(col("lm"), col("vid"), col("vdist"), col("vsig"),
        col("wid"), col("wsig"))
      .localCheckpoint(true)
  }

  /** Backward dependency accumulation of the depth-`bound`-bounded
    * Brandes over the forward `levels` frame and its [[brandesPairs]]
    * frame (both computed at a bound ≥ `bound`): nodes AT the horizon
    * seed delta 0, each shallower level sums σ-ratio terms from its
    * successors. Returns the per-(landmark, node) dependency frame
    * `(lm, id, delta)`, `1 <= depth <= bound` rows only.
    */
  private def brandesBackward(levels: DataFrame, pairs: DataFrame,
      bound: Int): DataFrame = {
    // nodes at the horizon have no successors inside the bound → 0
    var withDelta = levels.filter(col("depth") === bound)
      .withColumn("delta", lit(0.0)).localCheckpoint(true)
    val acc = Seq.newBuilder[DataFrame]
    acc += withDelta.select(col("lm"), col("id"), col("depth"), col("delta"))
    for (l <- (bound - 1) to 1 by -1) {
      val wSide = withDelta.select(col("lm"), col("id").as("wid"),
        col("delta").as("w_delta"))
      val contrib = pairs.filter(col("vdist") === l)
        .join(wSide, Seq("lm", "wid"))
        .select(col("lm"), col("vid").as("id"),
          round(col("vsig").cast("double") / col("wsig")
            * (lit(1.0) + col("w_delta")), 12).as("t"))
        .groupBy(col("lm"), col("id"))
        .agg(sum(col("t").cast("decimal(38,12)")).cast("double").as("delta"))
      withDelta = levels.filter(col("depth") === l)
        .join(contrib, Seq("lm", "id"), "left_outer")
        .select(col("lm"), col("id"), col("depth"), col("sigma"),
          coalesce(col("delta"), lit(0.0)).as("delta"))
        .localCheckpoint(true)
      acc += withDelta.select(col("lm"), col("id"), col("depth"), col("delta"))
    }
    acc.result().reduce(_.unionByName(_))
      .filter(col("depth") >= 1)
      .select(col("lm"), col("id"), col("delta"))
  }

  /** Landmark-count tuning curve for sampled betweenness (SparkEntry
    * `graph_centrality_tuning`) — the dial the ANN family already
    * has: per landmark budget k (prefix of the landmark set ordered
    * by lm id), how well does the k-landmark estimate's top-`topN`
    * agree with the FULL landmark set's top-`topN`? One Brandes pass
    * over all landmarks feeds every grid cell (the k-subsets are
    * re-aggregations of the same (lm, id, delta) frame — zero extra
    * BFS/backward passes, the [[graft.operators.Similarity]]
    * hammingTuning discipline); overlap@topN is an integer
    * rank-agreement measure, deterministic across engines (ties by
    * id). n_pairs is the k-subset's (lm, id) state volume — the cost
    * axis of the curve.
    */
  def centralityTuningQuery(spark: SparkSession, sfDir: String,
      maxDepth: Int = 4, ks: Seq[Int] = Seq(5, 10, 25, 50),
      topN: Int = 20): DataFrame = {
    val deltas = betweennessDeltas(spark, sfDir, maxDepth)
      .localCheckpoint(true)
    val lmRank = deltas.select(col("lm")).distinct()
      .select(col("lm"),
        row_number().over(Window.orderBy(col("lm"))).as("r"))
    val ranked = deltas.join(broadcast(lmRank), Seq("lm"))
    val byK = ks.map { k =>
      ranked.filter(col("r") <= k)
        .groupBy(col("id"))
        .agg((round(sum(col("delta").cast("decimal(38,12)"))
          .cast("double"), 6) + lit(0.0)).as("bc"),
          count(lit(1)).as("np"))
        .select(lit(k).as("cell"), col("id"), col("bc"), col("np"))
    }.reduce(_.unionByName(_))
    topNAgreement(byK, ks.max, topN, "n_landmarks", "n_pairs")
  }

  /** The agreement tail of the centrality tuning grids: per grid cell
    * of `cells(cell, id, bc, np)`, the overlap of the cell's top-`topN`
    * ids by (bc DESC, id ASC) with the reference cell `ref`'s, its
    * `topN` fraction, and the cell's state volume Σ np — reported as
    * (`cellOut`, `volOut`, top<topN>_overlap, agreement).
    *
    * Per-cell top-N is the mergeable bounded aggregate
    * ([[graft.functions.TopKAggregate]], same order as the former
    * row_number window): with 4 cells the window plan made 4
    * node-cardinality partitions whose map-side bounding leaned on the
    * unpinned WindowGroupLimit rescue — the aggregate bounds every map
    * task to ≤ topN rows per cell by construction, so the exchange
    * carries ≤ topN·cells·tasks rows.
    */
  private def topNAgreement(cells: DataFrame, ref: Int, topN: Int,
      cellOut: String, volOut: String): DataFrame = {
    val topkAgg = udaf(new graft.functions.TopKAggregate(topN))
    val tops = cells.groupBy(col("cell"))
      .agg(topkAgg(col("id"), col("bc")).as("top"))
      .select(col("cell"), explode(col("top")).as("row"))
      .select(col("cell"), col("row._1").as("id"))
      .localCheckpoint(true)
    val inRef = tops.filter(col("cell") === ref)
      .select(col("id"), lit(1L).as("in_ref"))
    val volume = cells.groupBy(col("cell")).agg(sum(col("np")).as("vol"))
    tops.join(broadcast(inRef), Seq("id"), "left_outer")
      .groupBy(col("cell"))
      .agg(coalesce(sum(col("in_ref")), lit(0L)).as("overlap"))
      .join(volume, Seq("cell"))
      .select(col("cell").cast("long").as(cellOut),
        col("vol").cast("long").as(volOut),
        col("overlap").cast("long").as(s"top${topN}_overlap"),
        (round(col("overlap").cast("double") / topN, 6) + lit(0.0))
          .as("agreement"))
      .orderBy(col(cellOut))
  }

  /** Depth-bound tuning curve for sampled betweenness — the OTHER
    * dial next to [[centralityTuningQuery]]'s landmark count: per BFS
    * horizon d in `depths`, how well does the depth-d-bounded
    * estimate's top-`topN` agree with the deepest bound's? ONE
    * forward σ pass at max(depths) feeds every cell (first-reach
    * levels are prefix-stable in the bound, see [[brandesForward]]);
    * only the cheap backward re-accumulation runs per grid depth —
    * zero extra BFS/anti-join passes, the landmark-grid discipline.
    * n_state is the cell's (lm, id) dependency-state volume — the
    * cost axis. Top-N via the mergeable bounded
    * [[graft.functions.TopKAggregate]] (map-side ≤ topN rows per
    * depth, no node-cardinality window partitions).
    */
  def centralityDepthTuningQuery(spark: SparkSession, sfDir: String,
      depths: Seq[Int] = Seq(2, 3, 4), topN: Int = 20): DataFrame = {
    val maxD = depths.max
    val (levels, e, deepest) = brandesForward(spark, sfDir, maxD)
    // ONE successor-pair frame feeds every grid cell's backward pass —
    // the per-cell edge-list joins were the grid's only edge-sized
    // work (r19; the forward pass was already shared)
    val pairs = brandesPairs(levels, e)
    val byD = depths.map { dep =>
      brandesBackward(levels, pairs, math.min(dep, deepest))
        .groupBy(col("id"))
        .agg((round(sum(col("delta").cast("decimal(38,12)"))
          .cast("double"), 6) + lit(0.0)).as("bc"),
          count(lit(1)).as("np"))
        .select(lit(dep).as("cell"), col("id"), col("bc"), col("np"))
    }.reduce(_.unionByName(_))
    topNAgreement(byD, maxD, topN, "max_depth", "n_state")
  }

  /** Budgets of [[stronglyConnectedComponents]]: trim peels, FW-BW
    * coloring rounds, and iterations per [[minLabelFixpoint]].
    */
  private val SccMaxTrim = 20
  private val SccMaxRounds = 10
  private val SccMaxProp = 50

  /** Directed min-label propagation to fixpoint over `edges`
    * restricted to `verts` (id column): label(v) = min{id(u) : u ⇝ v
    * along src→dst edges} ∪ {v}. The [[connectedComponents]] loop
    * without the symmetrization — one dst-keyed min-agg exchange per
    * iteration, `limit(1).count()` change probe, lineage cut per
    * round.
    */
  private def minLabelFixpoint(edges: DataFrame, verts: DataFrame)
      : DataFrame = {
    var labels = verts.select(col("id"), col("id").as("lbl"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (iter < SccMaxProp && !converged) {
      val propagated = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("lbl"),
          lit(null).cast(labels.schema("lbl").dataType).as("old"))
      // the change probe rides the SAME aggregate: every id has
      // exactly one row in `labels` (its previous label), so min(old)
      // recovers it and `lbl < old` marks a change — the former probe
      // re-joined two vertex-sized checkpoints per iteration just to
      // compare them (r19, guide §2.4; propagation itself unchanged)
      val next = labels.select(col("id"), col("lbl"), col("lbl").as("old"))
        .unionByName(propagated)
        .groupBy(col("id")).agg(min(col("lbl")).as("lbl"),
          min(col("old")).as("old"))
        .localCheckpoint(true)
      val changed = next.filter(col("lbl") < col("old")).limit(1).count()
      labels = next.select(col("id"), col("lbl"))
      converged = changed == 0
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"minLabelFixpoint did not converge in $SccMaxProp iterations")
    labels
  }

  /** Strongly connected components of a DIRECTED edge list — trim +
    * forward/backward min-label coloring (the FW-BW decomposition of
    * Fleischer-Hendrickson-Pinar 2000 in the data-parallel rounds
    * discipline of Hong-Rodia-Olukotun 2013, re-expressed as keyed
    * DataFrame aggregations):
    *
    *  1. TRIM: repeatedly remove vertices with zero in-degree or zero
    *     out-degree in the remaining graph — such a vertex lies on no
    *     cycle, so it is its own singleton SCC. Each peel is two
    *     degree aggregations + two semi-joins; DAG-shaped regions of
    *     the graph drain in depth-many peels.
    *  2. COLOR: on the cycle-bearing remainder, compute FWD(v) =
    *     min-id that reaches v and BWD(v) = min-id that v reaches
    *     (two [[minLabelFixpoint]] runs, one on reversed edges). The
    *     groups where FWD(v) = BWD(v) = c are EXACTLY the SCCs whose
    *     root c is the minimum of its own reach set: mutual
    *     reachability through c proves membership, and any smaller
    *     in/out-reachable vertex would contradict FWD(c) = c. The
    *     global minimum remaining vertex always qualifies, so every
    *     round makes progress. Remove resolved vertices, repeat.
    *
    * Scale: no step materializes anything larger than the edge list;
    * every exchange is keyed (src, dst, or id); the driver sees only
    * per-round count probes. Rounds are bounded and convergence is
    * ASSERTED — a silent partial answer is never returned.
    */
  def stronglyConnectedComponents(edges: DataFrame): DataFrame = {
    var rem = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).localCheckpoint(true)
    var verts = rem.select(col("src").as("id"))
      .unionByName(rem.select(col("dst").as("id")))
      .distinct().localCheckpoint(true)
    val acc = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    // ---- trim: peel no-in or no-out vertices as singleton SCCs ----
    // Restructured (r19): the surviving core IS hasIn ∩ hasOut (rem's
    // endpoints are already restricted to verts), so each peel
    // materializes ONE vertex frame — the next round's verts — and
    // detects the fixpoint by comparing its count with the previous
    // round's (a count over the fresh checkpoint, ~free). The peeled
    // singleton set stays LAZY (one anti-join over two checkpoints,
    // read once by the final union). The former loop paid two extra
    // vertex-sized checkpoint jobs + a probe join per peel for the
    // same information.
    var peel = 0
    var trimDone = false
    var nVerts = verts.count()
    while (peel < SccMaxTrim && !trimDone) {
      val core = rem.select(col("dst").as("id")).distinct()
        .join(rem.select(col("src").as("id")).distinct(),
          Seq("id"), "left_semi")
        .localCheckpoint(true)
      val nCore = core.count()
      if (nCore == nVerts) trimDone = true
      else {
        acc += verts.join(core, Seq("id"), "left_anti")
          .select(col("id"), col("id").as("scc"))
        verts = core
        nVerts = nCore
        rem = rem
          .join(verts.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(verts.select(col("id").as("dst")), Seq("dst"), "left_semi")
          .repartition(col("src")).localCheckpoint(true)
      }
      peel += 1
    }

    // ---- color: FW-BW rounds on the cycle-bearing remainder ----
    var round = 0
    var remaining = nVerts // known from the trim loop — no probe job
    while (remaining > 0 && round < SccMaxRounds) {
      val fwd = minLabelFixpoint(rem, verts)
        .withColumnRenamed("lbl", "fwd")
      val bwd = minLabelFixpoint(
        rem.select(col("dst").as("src"), col("src").as("dst")), verts)
        .withColumnRenamed("lbl", "bwd")
      val resolved = fwd.join(bwd, Seq("id"))
        .filter(col("fwd") === col("bwd"))
        .select(col("id"), col("fwd").as("scc"))
        .localCheckpoint(true)
      acc += resolved
      verts = verts.join(resolved, Seq("id"), "left_anti")
        .localCheckpoint(true)
      rem = rem
        .join(verts.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(verts.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .repartition(col("src")).localCheckpoint(true)
      remaining = verts.limit(1).count()
      round += 1
    }
    if (remaining > 0) throw new IllegalStateException(
      s"stronglyConnectedComponents did not resolve in $SccMaxRounds rounds")
    if (acc.isEmpty) verts.select(col("id"), col("id").as("scc"))
    else acc.result().reduce(_.unionByName(_))
  }

  /** [[stronglyConnectedComponents]] over a TPC-H-derived directed
    * graph with KNOWN cycle structure (SparkEntry `graph_scc`,
    * oracle-checked): order→customer (PLACED_BY) and customer→nation
    * (FROM_NATION) DAG tails feeding per-region nation RINGS —
    * NEXT_IN_REGION successor chains closed by a wrap-around edge
    * from each region's max nation back to its min. Expected SCCs:
    * every order and customer is a singleton (trimmed), each
    * region's ring is one SCC rooted at its minimum nation id.
    */
  def sccQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val g = GraphLoader.tpch(spark, sfDir)
    val dag = g.edges("PLACED_BY", "FROM_NATION", "NEXT_IN_REGION")
    val wrap = graft.Tables.nation(spark, sfDir)
      .groupBy(col("n_regionkey"))
      .agg(max(col("n_nationkey")).as("mx"), min(col("n_nationkey")).as("mn"))
      .select((lit(GraphLoader.NationOffset) + col("mx")).as("src"),
        (lit(GraphLoader.NationOffset) + col("mn")).as("dst"))
    stronglyConnectedComponents(dag.unionByName(wrap))
      .orderBy(col("id"))
  }

  /** Deterministic pseudo-random walks (SparkEntry
    * `graph_random_walk`, oracle-checked) — the node2vec/DeepWalk
    * sampling primitive: from each seed, take `steps` hops, choosing
    * the next neighbor by a SEEDED integer hash of (walker, step,
    * current node) so the walk corpus is reproducible end-to-end and
    * the oracle can replay the identical arithmetic. The hash is
    * plain BIGINT modular algebra (no engine-specific RNG, no
    * overflow — operands are reduced mod 1000003 before the one
    * multiply), so Spark and DuckDB agree bit-for-bit.
    *
    * Scale: neighbor indexing is ONE row_number window over the edge
    * list (per-src, bounded fanout) computed once; each step is two
    * keyed joins — degree lookup on the current node, then edge
    * lookup on (src, chosen index). Walker state is |seeds| rows,
    * never the graph. Dead-end nodes simply terminate their walk
    * (inner-join semantics, identical on the oracle side). Lineage
    * cut every other step.
    */
  def randomWalkQuery(spark: SparkSession, sfDir: String,
      steps: Int = 8): DataFrame = {
    val c = graft.Tables.customer(spark, sfDir)
    val iw = Window.partitionBy(col("src")).orderBy(col("dst"))
    val idx = customerChain(spark, sfDir, 1, 2, 8).withColumn("idx", row_number().over(iw) - lit(1))
      .localCheckpoint(true)
    val deg = idx.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val seeds = c.filter(col("c_custkey") % 100 === 1)
      .select(col("c_custkey").cast("long").as("walker"),
        lit(0L).as("step"), col("c_custkey").cast("long").as("node"))
    var state = seeds.localCheckpoint(true)
    val acc = scala.collection.mutable.ArrayBuffer[DataFrame](state)
    for (s <- 1 to steps) {
      // the walker state is |seeds|-bounded BY CONSTRUCTION (each
      // walker advances to at most one next node), so both per-step
      // joins broadcast the state side and STREAM the materialized
      // deg/idx frames — no per-step shuffle or sort of anything
      // edge-sized (without the hint, un-checkpointed odd-step plans
      // carry join-bloated size estimates and fall back to
      // shuffled-sort-merge over the edge list every step)
      val pick = broadcast(state)
        .join(deg.select(col("src").as("node"), col("deg")), Seq("node"))
        .withColumn("choice",
          (((col("node") % 1000003L) * 37L + col("walker") % 1000003L
            + col("step") * 101L) % 1000003L) % col("deg"))
      state = broadcast(pick)
        .join(idx.select(col("src").as("node"), col("idx").as("choice"),
          col("dst")), Seq("node", "choice"))
        .select(col("walker"), lit(s.toLong).as("step"),
          col("dst").as("node"))
      if (s % 2 == 0 || s == steps) state = state.localCheckpoint(true)
      acc += state
    }
    acc.result().reduce(_.unionByName(_))
      .orderBy(col("walker"), col("step"))
  }

  /** Second-order (p,q-biased) deterministic walks (SparkEntry
    * `graph_biased_walk`, oracle-checked) — node2vec's search-bias
    * (Grover & Leskovec 2016) on top of [[randomWalkQuery]]'s
    * machinery: the next hop is drawn from the current node's
    * neighbors with INTEGER weights by their relation to the
    * PREVIOUS node — return to prev (weight 1 ≙ high p), move to a
    * shared neighbor of prev (weight 4, BFS-ish), or jump outward
    * (weight 2, DFS-ish) — via cumulative-weight inversion of the
    * same seeded overflow-free hash. Integer weights keep the
    * cumulative arithmetic exact on both engines.
    *
    * Scale: per step the state (walker-cardinality) joins the
    * indexed edge list on the current node (keyed, bounded fanout
    * ≤3 here), flags shared-neighborhood via ONE (prev, dst) semi
    * join against the edge list, and the cumulative-weight pick is
    * a walker-partitioned window over ≤fanout rows — no exchange
    * ever carries more than |state| × fanout rows.
    */
  def biasedWalkQuery(spark: SparkSession, sfDir: String,
      steps: Int = 6): DataFrame = {
    val c = graft.Tables.customer(spark, sfDir)
    // symmetrized so walks can RETURN (the node2vec p-dial is
    // meaningless on a DAG): forward proximity edges + their reverses
    val fwd = customerChain(spark, sfDir, 1, 2, 8)
    val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    val seeds = c.filter(col("c_custkey") % 200 === 1)
      .select(col("c_custkey").cast("long").as("walker"),
        lit(0L).as("step"), lit(-1L).as("prev"),
        col("c_custkey").cast("long").as("node"))
    var state = seeds.localCheckpoint(true)
    val acc = scala.collection.mutable.ArrayBuffer[DataFrame](
      state.select(col("walker"), col("step"), col("node")))
    val pw = Window.partitionBy(col("walker")).orderBy(col("dst"))
    val tw = Window.partitionBy(col("walker"))
    for (s <- 1 to steps) {
      // walker-state broadcast, edge frames streamed — same
      // no-per-step-shuffle discipline as [[randomWalkQuery]]
      val cand = broadcast(state)
        .join(edges.select(col("src").as("node"), col("dst")), Seq("node"))
        .localCheckpoint(true)
      // shared-neighborhood flag: is (prev → dst) an edge? A direct
      // left join against the edge list would have to build (or
      // shuffle) the EDGE side — a left-outer join cannot broadcast
      // its preserved side — so probe the other way: stream the edge
      // list once against a broadcast semi-probe of the candidate
      // (prev, dst) pairs, then left-join the tiny hit set back.
      val hit = edges.select(col("src").as("prev"), col("dst"))
        .join(broadcast(cand.select(col("prev"), col("dst"))),
          Seq("prev", "dst"), "left_semi")
        .withColumn("__sh", lit(1))
      val weighted = cand
        .join(broadcast(hit), Seq("prev", "dst"), "left_outer")
        .withColumn("wt",
          when(col("dst") === col("prev"), lit(1L))
            .when(col("__sh").isNotNull, lit(4L))
            .otherwise(lit(2L)))
        .withColumn("cum", sum(col("wt")).over(pw))
        .withColumn("tot", sum(col("wt")).over(tw))
        .withColumn("r",
          (((col("node") % 1000003L) * 37L + col("walker") % 1000003L
            + col("step") * 101L) % 1000003L) % col("tot"))
      state = weighted
        .filter(col("cum") - col("wt") <= col("r") && col("r") < col("cum"))
        .select(col("walker"), lit(s.toLong).as("step"),
          col("node").as("prev"), col("dst").as("node"))
      if (s % 2 == 0 || s == steps) state = state.localCheckpoint(true)
      acc += state.select(col("walker"), col("step"), col("node"))
    }
    acc.result().reduce(_.unionByName(_))
      .orderBy(col("walker"), col("step"))
  }

  /** Skip-gram training pairs from the walk corpus (SparkEntry
    * `graph_walk_skipgrams`, oracle-checked) — the last mile of the
    * DeepWalk/node2vec pipeline: every (center, context) node pair
    * within `window` steps of each other on the SAME walk, plus the
    * corpus-frequency of each pair — exactly what a word2vec-style
    * embedding trainer consumes.
    *
    * Scale: the pairing is a walker-keyed self-join of the walk
    * corpus with a |step distance| ≤ window predicate — each walk
    * contributes ≤ steps·window pairs, so the exchange carries
    * corpus × window rows, keyed on walker; the count agg collapses
    * map-side onto the (center, context) key space.
    */
  def walkSkipgramsQuery(spark: SparkSession, sfDir: String,
      window: Int = 2): DataFrame = {
    val walks = randomWalkQuery(spark, sfDir)
      .select(col("walker"), col("step"), col("node"))
      .localCheckpoint(true)
    walks.as("a")
      .join(walks.select(col("walker"), col("step").as("cstep"),
        col("node").as("context")).as("b"), Seq("walker"))
      .filter(col("step") =!= col("cstep") &&
        abs(col("step") - col("cstep")) <= window)
      .groupBy(col("node").as("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("center"), col("context"), col("n_pairs"))
      .orderBy(col("center"), col("context"))
  }

  /** Adamic-Adar link prediction over the supplier-part bipartite
    * graph (SparkEntry `graph_adamic_adar`, oracle-checked): score a
    * supplier pair by Σ 1/ln(deg(w)) over shared parts w — common
    * neighbors inversely weighted by how promiscuous they are
    * (Adamic-Adar 2003), the classic refinement of raw
    * common-neighbor counting that [[neighborSimQuery]]'s Jaccard
    * normalizes globally instead of per-neighbor.
    *
    * Scale: identical candidate discipline to [[neighborSimQuery]] —
    * pairs form through the bounded-fanout PART side, parts shared by
    * more than hubCap suppliers are dropped (a universal part
    * connects everyone and scores ≈0 anyway: weight 1/ln(deg) decays
    * exactly where the fanout explodes). Per-part weights are scaled
    * to integer nano-units (round(1e9/ln(pdeg)) as LONG) and summed
    * as long — bit-identical under any aggregation order like a
    * decimal sum, but the accumulator stays a primitive: a
    * decimal(28,9) here exceeds Spark's 18-digit long-backed Decimal
    * and drops the whole 1B-pair aggregation onto BigDecimal
    * (measured 310 s → this plan at sf10). No overflow: ≤2^30 pairs
    * × ≤1.45e9 nano-weight < 2^63, and the final /1e9 stays under
    * 2^53 so the double division is exact on both engines.
    */
  def adamicAdarQuery(spark: SparkSession, sfDir: String, k: Int = 20,
      hubCap: Int = 500): DataFrame = {
    val e = suppliesByPart(spark, sfDir)
    val partDeg = e.groupBy(col("part")).agg(count(lit(1)).as("pdeg"))
    // pdeg >= 2 is implied by pair formation; the weight ln(pdeg) is
    // therefore never zero
    val weighted = e.join(broadcast(partDeg
        .filter(col("pdeg") <= hubCap && col("pdeg") >= 2)), Seq("part"))
      .withColumn("w9",
        round(lit(1.0e9) / log(col("pdeg").cast("double")), 0).cast("long"))
    val pairs = weighted.as("a")
      .join(weighted.select(col("part"), col("supp").as("supp_b")).as("b"),
        col("a.part") === col("b.part") && col("a.supp") < col("supp_b"))
      .groupBy(col("a.supp").as("supp_a"), col("supp_b"))
      .agg(sum(col("a.w9")).as("aa9"), count(lit(1)).as("common"))
    pairs.select(col("supp_a"), col("supp_b"),
        (round(col("aa9").cast("double") / lit(1.0e9), 6) + lit(0.0))
          .as("aa_score"),
        col("common"))
      .orderBy(col("aa_score").desc, col("supp_a"), col("supp_b"))
      .limit(k)
  }
}
