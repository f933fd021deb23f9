package graft.cypher

import graft.cypher.Ast._
import graft.graph.PropertyGraph
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Compiles a parsed [[Ast.CypherQuery]] into a DataFrame plan over a
  * [[PropertyGraph]].
  *
  * Where the reference ships the query string to Neo4j and streams
  * rows back through one socket (Neo4jInputFormat.java:60-92,
  * NonParallelInput), this planner turns the same query into Catalyst
  * operators: node patterns become pruned table scans, relationship
  * hops become equi-joins on node ids, `WHERE` becomes pushed-down
  * filters, `RETURN … count/sum` becomes partial-aggregated groupBys,
  * and `ORDER BY … LIMIT` becomes TakeOrderedAndProject. Every piece
  * is optimizer-visible, so the whole query distributes.
  *
  * Column naming convention inside a plan: `v__prop` for node
  * variable `v`, plus `v__id` for its node id.
  */
object CypherPlanner {

  /** Mean Earth radius in meters — the sphere `point.distance` uses
    * for WGS84 (geographic) points; the DuckDB oracles embed the same
    * constant.
    */
  val EarthRadiusMeters = 6371000.0

  /** Cap on the outer-scope QPP WHERE decorrelation domain: the
    * DISTINCT outer-value tuple frame is force-broadcast and
    * CROSS-joined into the hop's edge list, so |domain| multiplies
    * every expansion row — the one plan shape here that can go
    * quadratic on a reachable input. Domains above the cap reject
    * loudly at plan time (counted via a limit-capped probe, so the
    * check itself never scans past cap+1 rows).
    */
  val MaxQppOuterDomain = 1000

  def run(spark: SparkSession, graph: PropertyGraph, query: String): DataFrame = {
    graft.plans.GraftOptimizations.install(spark)
    planStatement(graph, CypherParser.parseStatement(query))
  }

  /** Parameterized execution: `$name` placeholders bind to literal
    * values before planning — the distributed twin of the reference's
    * `parameters` payload object (Neo4jFormatBase.java:44).
    */
  def run(spark: SparkSession, graph: PropertyGraph, query: String,
      params: Map[String, Any]): DataFrame = {
    graft.plans.GraftOptimizations.install(spark)
    val st = CypherParser.parseStatement(query)
    planStatement(graph, st.copy(parts = st.parts.map(bindParams(_, params))))
  }

  /** Plans each UNION part independently and combines: positional
    * union (column names must agree, Cypher's rule), then a distinct
    * for plain UNION. The dedup is one hash-partitioned exchange on
    * the output columns — the rows at that point are final projected
    * results, not pattern intermediates, so it is as narrow as the
    * result itself.
    */
  def planStatement(graph: PropertyGraph, st: CypherStatement): DataFrame = {
    val dfs = st.parts.map(plan(graph, _))
    val names = dfs.head.columns.toSeq
    dfs.tail.foreach(d => require(d.columns.toSeq == names,
      s"UNION parts must return the same columns: $names vs ${d.columns.toSeq}"))
    if (st.parts.size == 1) dfs.head
    else if (st.unionAll) dfs.reduce(_.union(_))
    else dfs.reduce(_.union(_)).distinct()
  }

  /** Replaces every [[Param]] in the query with its literal value. */
  def bindParams(q: CypherQuery, params: Map[String, Any]): CypherQuery = {
    def bx(e: CExpr): CExpr = e match {
      case Param(n) => LitV(params.getOrElse(n,
        throw new IllegalArgumentException(s"unbound query parameter $$$n")))
      case Cmp(op, l, r)   => Cmp(op, bx(l), bx(r))
      case Arith(op, l, r) => Arith(op, bx(l), bx(r))
      case And(l, r)       => And(bx(l), bx(r))
      case Or(l, r)        => Or(bx(l), bx(r))
      case Not(x)          => Not(bx(x))
      case IsNull(x)       => IsNull(bx(x))
      case InList(x, l)    => InList(bx(x), bx(l))
      case ListLit(items)  => ListLit(items.map(bx))
      case FnCall(n, a, s, d) => FnCall(n, a.map(bx), s, d)
      case FnCallN(n, as)    => FnCallN(n, as.map(bx))
      case ListPred(k, v, l, p) => ListPred(k, v, bx(l), bx(p))
      case StrPred(op, l, r) => StrPred(op, bx(l), bx(r))
      case Coalesce(args)  => Coalesce(args.map(bx))
      case CaseExpr(ws, o) => CaseExpr(ws.map { case (c, v) => (bx(c), bx(v)) }, o.map(bx))
      case other           => other
    }
    def bi(i: ReturnItem): ReturnItem = i.copy(expr = bx(i.expr))
    def bc(c: Clause): Clause = c match {
      case m: MatchClause   => m.copy(where = m.where.map(bx))
      case FilterClause(e)  => FilterClause(bx(e))
      case w: WithClause    => w.copy(items = w.items.map(bi), where = w.where.map(bx))
      case UnwindClause(l, a) => UnwindClause(bx(l), a)
      case CallClause(imp, inner) =>
        CallClause(imp, bindParams(CypherQuery(inner), params).clauses)
      case CallInTxClause(imp, body, cap, sv, oe) =>
        CallInTxClause(imp, bindParams(CypherQuery(body), params).clauses,
          cap, sv, oe)
      case w: WriteRelClause => // pattern props are literals already
        w.copy(onCreate = w.onCreate.map { case (k, e) => (k, bx(e)) },
          onMatch = w.onMatch.map { case (k, e) => (k, bx(e)) })
      case CreateNodeClause(v, l, ps, m, oc, om) =>
        CreateNodeClause(v, l, ps.map { case (k, e) => (k, bx(e)) }, m,
          oc.map { case (k, e) => (k, bx(e)) },
          om.map { case (k, e) => (k, bx(e)) })
      case d: DeleteRelClause => d
      case d: DetachDeleteClause => d
      case r: RemovePropClause => r
      case SetPropClause(as) =>
        SetPropClause(as.map { case (v, p, e) => (v, p, bx(e)) })
      case SetMapClause(v, entries) =>
        SetMapClause(v, entries.map { case (k, e) => (k, bx(e)) })
      case s: SetLabelClause => s
      case ForeachClause(x, l, body) => ForeachClause(x, bx(l), body.map(bc))
      case c: CatalogCallClause => c
      case r: ReturnClause  => r.copy(items = r.items.map(bi))
    }
    CypherQuery(q.clauses.map(bc))
  }

  /** Pipeline state between clauses: the accumulated plan, the bound
    * pattern variables (columns `v__*`), and the scalar bindings
    * introduced by WITH/UNWIND (columns named directly).
    */
  private final case class Scope(
      df: DataFrame, nodeVars: Set[String], scalars: Set[String],
      lists: Set[String] = Set.empty,
      tiny: Boolean = false, tinyScalars: Set[String] = Set.empty,
      zones: Map[String, String] = Map.empty) {
    def binds: Bindings = Bindings(scalars, lists, zones)
  }

  /** Scalar bindings visible to expression translation: the names
    * bound by WITH/UNWIND, plus which of them hold LIST values —
    * tracked through WITH horizons so the polymorphic `size()`
    * resolves correctly on bound list variables (e.g.
    * `WITH collect(x) AS xs … RETURN size(xs)`) — plus the DISPLAY
    * zone of aliases bound to a zone-constructed datetime (r18:
    * `WITH datetime({…, timezone: 'X'}) AS d … RETURN toString(d)`
    * renders in X exactly like the syntactically nested form; the
    * zone is a plan-time literal, the instant column is unchanged).
    */
  private[cypher] final case class Bindings(
      names: Set[String], lists: Set[String] = Set.empty,
      zones: Map[String, String] = Map.empty) {
    def apply(n: String): Boolean = names(n)
    def +(n: String): Bindings = Bindings(names + n, lists, zones)
  }
  private[cypher] object Bindings {
    val empty: Bindings = Bindings(Set.empty)
    /** Convenience for name-only contexts (no list vars known). */
    def apply(names: Set[String]): Bindings = new Bindings(names, Set.empty)
  }

  def plan(graph: PropertyGraph, q: CypherQuery): DataFrame = {
    // variables whose node-table columns are actually read somewhere —
    // every other label-less pattern variable is identity-only and its
    // node-table scan can be elided (the edge endpoint IS the id)
    val needs = colsNeeded(q)
    planClauses(graph, q.clauses, Scope(null, Set.empty, Set.empty), needs)._2
  }

  /** Plans a clause pipeline from an initial scope — the body of
    * [[plan]], reusable for `CALL { … }` subqueries (which seed the
    * scope with imported variables). Returns the final scope and the
    * RETURN result (null when the pipeline has no RETURN).
    */
  /** Spark column type → the Cypher type name the schema procedures
    * report (`db.schema.nodeTypeProperties` / `relTypeProperties`).
    */
  private def cypherTypeName(dt: org.apache.spark.sql.types.DataType): String =
    dt match {
      case _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.LongType => "Long"
      case _: org.apache.spark.sql.types.FloatType |
           _: org.apache.spark.sql.types.DoubleType |
           _: org.apache.spark.sql.types.DecimalType => "Double"
      case _: org.apache.spark.sql.types.StringType => "String"
      case _: org.apache.spark.sql.types.BooleanType => "Boolean"
      case _: org.apache.spark.sql.types.DateType => "Date"
      case _: org.apache.spark.sql.types.TimestampType => "DateTime"
      // wall-clock timestamps (no zone) are Cypher's LOCAL kind
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        "LocalDateTime"
      case other => other.typeName.capitalize
    }

  private def planClauses(graph0: PropertyGraph, clauses: Seq[Clause],
      s0: Scope, needs: Set[String]): (Scope, DataFrame) = {
    // a WriteRelClause swaps in the post-write graph, so clauses after
    // it (and the RETURN) read the updated relationship tables —
    // everything before the write planned against the original graph
    var graph = graph0
    var s = s0
    var out: DataFrame = null
    // walk consumption for shortest-path chains (nodes(p)/
    // relationships(p)/named lists) — decided from the AST because the
    // BFS's per-level checkpoints defeat lazy column pruning
    val wref = walkRefVars(clauses)
    // pattern metadata the write clauses need: which label a node
    // variable scanned, which single type a named relationship
    // variable bound (only SET/DELETE consume these, so WITH horizons
    // renaming vars away is harmless — a stale entry for a variable
    // no longer in the frame fails loudly at column resolution)
    var varLabels = Map.empty[String, String]
    var relVarTypes = Map.empty[String, String]
    def recordChainMeta(chain: PatternChain): Unit = {
      (chain.start +: chain.hops.map(_._2)).foreach { np =>
        for (v <- np.variable; l <- np.soleLabel) varLabels += (v -> l)
      }
      chain.hops.foreach { case (rel, _) =>
        for (rv <- rel.variable; t <- rel.relType
            if rel.altTypes.isEmpty && rel.varLength.isEmpty &&
              rel.direction != Both)
          relVarTypes += (rv -> t)
      }
    }
    def handleClause(clause: Clause): Unit = clause match {
      case WriteRelClause(chain, create, onCreate, onMatch) =>
        graph = planWriteRel(graph, s, chain, create, onCreate, onMatch)

      case CreateNodeClause(_, label, props, merge, onCreate, onMatch) =>
        graph = planCreateNode(graph, s, label, props, merge, onCreate, onMatch)

      case DeleteRelClause(vars) =>
        // Neo4j accepts a node and its relationships in ONE DELETE
        // clause regardless of listing order (`DELETE a, r` = `DELETE
        // r, a`): plan every relationship-variable delete first, so
        // the node deletes' attachment checks run against the DERIVED
        // (post-delete) edge tables.
        val (relVars, nodeVars) = vars.partition(relVarTypes.contains)
        relVars.foreach { rv =>
          graph = planDeleteRel(graph, s, rv, relVarTypes(rv))
        }
        nodeVars.foreach { rv =>
          // plain `DELETE n` on a NODE variable: legal only when
          // every matched node is already relationship-free
          // (Neo4j errors otherwise; DETACH DELETE cascades)
          val label = varLabels.getOrElse(rv,
            throw new IllegalArgumentException(
              s"DELETE $rv: not a bound relationship or labeled " +
                s"node variable"))
          graph = planDeleteNode(graph, s, rv, label)
        }

      case DetachDeleteClause(vars) =>
        vars.foreach { nv =>
          val label = varLabels.getOrElse(nv,
            throw new IllegalArgumentException(
              s"DETACH DELETE $nv: $nv is not a labeled bound node variable"))
          graph = planDetachDelete(graph, s, nv, label)
        }

      case RemovePropClause(targets) =>
        targets.foreach { case (v, prop) =>
          val label = varLabels.getOrElse(v,
            throw new IllegalArgumentException(
              s"REMOVE $v.$prop: $v is not a labeled bound node variable"))
          graph = planRemoveProp(graph, s, v, label, prop)
        }

      case SetPropClause(assignments) =>
        assignments.foreach { case (v, prop, value) =>
          val label = varLabels.getOrElse(v,
            throw new IllegalArgumentException(
              s"SET $v.$prop: $v is not a labeled bound node variable"))
          graph = planSetProp(graph, s, v, label, prop, value)
        }

      case SetMapClause(v, entries) =>
        val label = varLabels.getOrElse(v,
          throw new IllegalArgumentException(
            s"SET $v += {…}: $v is not a labeled bound node variable"))
        graph = planSetMap(graph, s, v, label, entries)

      case SetLabelClause(v, newLabel) =>
        val label = varLabels.getOrElse(v,
          throw new IllegalArgumentException(
            s"SET $v:$newLabel: $v is not a labeled bound node variable"))
        graph = planSetLabel(graph, s, v, label, newLabel)

      case ForeachClause(x, list, body) =>
        // the iteration frame: current rows × list elements (explode —
        // an empty list contributes no rows, the conditional-write
        // idiom). Body writes act on that frame and mutate the graph;
        // the pipeline's own scope is restored afterwards, so FOREACH
        // never changes downstream cardinality.
        require(s.df != null,
          "FOREACH needs a current frame (add a MATCH/UNWIND first)")
        require(!s.df.columns.contains(x) && !s.scalars.contains(x),
          s"FOREACH variable '$x' collides with an existing binding")
        val saved = s
        val exploded = s.df.select(
          s.df.columns.toSeq.map(col) :+ explode(toColumn(list, s.binds)).as(x): _*)
        s = Scope(exploded, s.nodeVars, s.scalars + x, s.lists,
          tiny = false, tinyScalars = s.tinyScalars)
        body.foreach(handleClause)
        s = saved

      case MatchClause(chain, false, _) =>
        recordChainMeta(chain)
        // a chain that shares no variable with the frame cross-joins
        // it (Cypher cartesian semantics); when the frame is a TINY
        // horizon (scalar aggregate / small LIMIT), hint it broadcast
        // so the cross join plans as a 1-row BroadcastNestedLoop, not
        // a partitioned CartesianProduct — the scalar-carry idiom
        // (`WITH count(*) AS n MATCH …`) would otherwise shuffle the
        // whole next pattern through a cartesian at any scale
        val sharesVar = chain.nodeVars.exists(s.nodeVars.contains)
        val prevDf =
          if (s.df != null && s.tiny && !sharesVar) broadcast(s.df) else s.df
        val (cdf, cvars) = new ChainPlanner(graph, chain, s.nodeVars, prevDf,
          needs = Some(needs), wref = wref).plan()
        // GQL group variables surface as LIST-valued scalar bindings
        // (UNWIND/size/indexing consume them like any WITH-bound list)
        val gvars = groupListVars(chain)
        s = s.copy(df = cdf, nodeVars = s.nodeVars ++ cvars,
          scalars = s.scalars ++ gvars, lists = s.lists ++ gvars,
          tiny = false)

      case MatchClause(chain, true, where) =>
        val shared = chain.nodeVars.filter(s.nodeVars.contains).distinct
        require(shared.nonEmpty,
          "OPTIONAL MATCH must share at least one variable with a previous MATCH")
        // plan the optional chain standalone (shared vars bind through
        // the relationship join keys, no second node-table scan), then
        // left-outer join on the shared variables' ids. The attached
        // WHERE filters the optional side BEFORE the join — unmatched
        // outer rows keep their nulls (Cypher semantics).
        var (odf, ovars) = new ChainPlanner(graph, chain, Set.empty, null,
          shared.toSet, needs = Some(needs), wref = wref).plan()
        where.foreach(e => odf = odf.filter(toColumn(e, s.binds)))
        val keys = shared.map(v => s"${v}__id")
        // drop the optional side's duplicate copies of shared-var props
        val dupCols = odf.columns.toSeq.filter(c =>
          shared.exists(v => c.startsWith(s"${v}__")) && !keys.contains(c))
        // group / relationship-list variables bound inside the
        // optional chain register as list-valued scalars, exactly
        // like the non-optional MATCH path (unmatched rows: null)
        val ogvars = groupListVars(chain)
        s = s.copy(df = s.df.join(odf.drop(dupCols: _*), keys, "left_outer"),
          nodeVars = s.nodeVars ++ ovars,
          scalars = s.scalars ++ ogvars, lists = s.lists ++ ogvars,
          tiny = false)

      case FilterClause(e) =>
        s = s.copy(df = applyFilter(graph, s, e))

      case UnwindClause(list, alias) =>
        require(s.df == null || !s.df.columns.contains(alias),
          s"UNWIND alias '$alias' collides with an existing binding")
        val c = explode(toColumn(list, s.binds)).as(alias)
        val df =
          if (s.df == null)
            graph.nodes.values.head.sparkSession.range(1).select(c)
          else s.df.select(s.df.columns.toSeq.map(col) :+ c: _*)
        s = Scope(df, s.nodeVars, s.scalars + alias, s.lists,
          tiny = false, tinyScalars = s.tinyScalars - alias)

      case w: WithClause =>
        val (s2, items2) = materializeCounts(graph, s, w.items)
        s = planWith(s2, w.copy(items = items2))

      case CallClause(imports, inner) =>
        // the scoped form's `CALL (*) { … }` imports every currently
        // bound variable (resolved here — parse time cannot know)
        val imps =
          if (imports == Seq("*")) (s.nodeVars ++ s.scalars).toSeq.sorted
          else imports
        s = planCall(graph, s, imps, inner)

      case CallInTxClause(imports, body, rowCap, statusVar, _) =>
        // the engine's writes are set-based (anti-joined unions /
        // keyed overlays), so transaction chunk boundaries CANNOT
        // change the final graph state — the body plans exactly as
        // inline writes over the full frame. What IN TRANSACTIONS
        // adds is the OBSERVABLE partition: REPORT STATUS binds each
        // row's transaction coordinate, computed by the SAME
        // key-range/row-cap batcher the connector's payload builder
        // POSTs by (CypherPayload.txBatch with keyRange = rowCap) —
        // one batching arithmetic end-to-end, per-range windows only
        // (thousands of concurrent ranges, no global-sort funnel).
        require(s.df != null,
          "CALL { … } IN TRANSACTIONS needs a driving frame (MATCH first)")
        require(s.nodeVars.contains(imports.head),
          s"CALL { … } IN TRANSACTIONS: first import '${imports.head}' " +
            "must be a bound node variable (its id keys the batches)")
        body.foreach(handleClause)
        // BATCH-IDENTITY DIVERGENCE (documented in SURVEY §6): Neo4j's
        // `s.transactionId` is a server-assigned physical transaction
        // identity ("neo4j-tx-123"), unstable across runs; here it is
        // the DETERMINISTIC key-range coordinate "<range>-<sub>" from
        // the shared batcher — same cardinality and per-row membership,
        // stable across replays (strictly stronger for testing, but a
        // user string-matching Neo4j's id format will see different
        // text). `committed` is always true and `errorMessage` always
        // null: set-based writes have no per-batch failure mode, so the
        // ON ERROR CONTINUE/BREAK distinction is unobservable.
        statusVar.foreach { sv =>
          require(!s.df.columns.contains(sv) && !s.scalars.contains(sv),
            s"REPORT STATUS variable '$sv' collides with an existing binding")
          val keyed = graft.neo4j.CypherPayload.txBatch(
            s.df, col(s"${imports.head}__id"), rowCap, rowCap)
          val status = struct(
            concat(col("__tx_range").cast("string"), lit("-"),
              col("__tx_sub").cast("string")).as("transactionId"),
            lit(true).as("committed"),
            lit(null).cast("string").as("errorMessage"))
          s = s.copy(
            df = keyed.withColumn(sv, status).drop("__tx_range", "__tx_sub"),
            scalars = s.scalars + sv, tiny = false)
        }

      case CatalogCallClause("nodeTypeProperties") =>
        // `CALL db.schema.nodeTypeProperties()` (r15): one row per
        // (label, property) with the Cypher-mapped type and the HONEST
        // `mandatory` answer — a per-table null-count aggregate (one
        // distributed pass per node table, lazily planned; Neo4j's own
        // procedure samples the store the same way). Fully plan-side:
        // the 1-row aggregate explodes into the per-property rows, no
        // driver action.
        val perTable = graph.nodes.toSeq.sortBy(_._1).flatMap {
          case (ln, nt) =>
            val props = nt.columns
              .filterNot(c => c.startsWith("__") || c.startsWith("@"))
              .sorted.toSeq
            if (props.isEmpty) None
            else Some {
              val nullAggs = props.map(p =>
                max(col(p).isNull.cast("int")).as(s"__n_$p"))
              // the ungrouped agg over an EMPTY table still yields one
              // row (max over no rows = null) — Neo4j emits NO rows
              // for a zero-node label, so guard on the row count
              nt.agg(nullAggs.head,
                  nullAggs.tail :+ count(lit(1)).as("__cnt"): _*)
                .filter(col("__cnt") > 0)
                .select(lit(s":`$ln`").as("nodeType"),
                  array(lit(ln)).as("nodeLabels"),
                  explode(array(props.map(p => struct(
                    lit(p).as("propertyName"),
                    array(lit(cypherTypeName(nt.schema(p).dataType)))
                      .as("propertyTypes"),
                    (col(s"__n_$p") === 0).as("mandatory"))): _*)).as("__e"))
                .select(col("nodeType"), col("nodeLabels"),
                  col("__e").getField("propertyName").as("propertyName"),
                  col("__e").getField("propertyTypes").as("propertyTypes"),
                  col("__e").getField("mandatory").as("mandatory"))
            }
        }
        // a graph where every label is property-less flatMaps to an
        // EMPTY collection — Neo4j returns zero rows there, so the
        // fold needs an empty typed frame, not `empty.reduce` (r17)
        val cat = perTable.reduceOption(_.unionByName(_)).getOrElse(
          graph.nodes.values.head.sparkSession.range(0).select(
            lit(null).cast("string").as("nodeType"),
            lit(null).cast("array<string>").as("nodeLabels"),
            lit(null).cast("string").as("propertyName"),
            lit(null).cast("array<string>").as("propertyTypes"),
            lit(null).cast("boolean").as("mandatory")))
        val df = if (s.df == null) cat else s.df.crossJoin(broadcast(cat))
        val cols = Set("nodeType", "nodeLabels", "propertyName",
          "propertyTypes", "mandatory")
        s = Scope(df, s.nodeVars, s.scalars ++ cols,
          s.lists ++ Set("nodeLabels", "propertyTypes"),
          tiny = s.df == null || s.tiny, tinyScalars =
            (if (s.df == null || s.tiny) s.tinyScalars ++ cols
             else s.tinyScalars))

      case CatalogCallClause("relTypeProperties") =>
        // `CALL db.schema.relTypeProperties()` (r16) — the
        // relationship half of nodeTypeProperties: same per-table
        // null-count plan over the EDGE tables; a relationship type
        // with edges but no properties emits Neo4j's one null-frame
        // row (propertyName/propertyTypes null, mandatory false),
        // zero-edge types emit nothing
        val perRel = graph.rels.toSeq.sortBy(_._1).map { case (tn, rt) =>
          val props = rt.columns
            .filterNot(c => c.startsWith("__") || c.startsWith("@"))
            .sorted.toSeq
          if (props.isEmpty)
            rt.agg(count(lit(1)).as("__cnt")).filter(col("__cnt") > 0)
              .select(lit(s":`$tn`").as("relType"),
                lit(null).cast("string").as("propertyName"),
                lit(null).cast("array<string>").as("propertyTypes"),
                lit(false).as("mandatory"))
          else {
            val nullAggs = props.map(p =>
              max(col(p).isNull.cast("int")).as(s"__n_$p"))
            rt.agg(nullAggs.head,
                nullAggs.tail :+ count(lit(1)).as("__cnt"): _*)
              .filter(col("__cnt") > 0)
              .select(lit(s":`$tn`").as("relType"),
                explode(array(props.map(p => struct(
                  lit(p).as("propertyName"),
                  array(lit(cypherTypeName(rt.schema(p).dataType)))
                    .as("propertyTypes"),
                  (col(s"__n_$p") === 0).as("mandatory"))): _*)).as("__e"))
              .select(col("relType"),
                col("__e").getField("propertyName").as("propertyName"),
                col("__e").getField("propertyTypes").as("propertyTypes"),
                col("__e").getField("mandatory").as("mandatory"))
          }
        }
        // zero relationship types → zero rows (Neo4j), not
        // `empty.reduce` (r17)
        val relCat = perRel.reduceOption(_.unionByName(_)).getOrElse(
          graph.nodes.values.head.sparkSession.range(0).select(
            lit(null).cast("string").as("relType"),
            lit(null).cast("string").as("propertyName"),
            lit(null).cast("array<string>").as("propertyTypes"),
            lit(null).cast("boolean").as("mandatory")))
        val rdf = if (s.df == null) relCat
          else s.df.crossJoin(broadcast(relCat))
        val rcols = Set("relType", "propertyName", "propertyTypes",
          "mandatory")
        s = Scope(rdf, s.nodeVars, s.scalars ++ rcols,
          s.lists + "propertyTypes",
          tiny = s.df == null || s.tiny, tinyScalars =
            (if (s.df == null || s.tiny) s.tinyScalars ++ rcols
             else s.tinyScalars))

      case CatalogCallClause(kind) =>
        val (names, colName) = kind match {
          case "labels" => (graph.nodes.keySet.toSeq.sorted, "label")
          case "propertyKeys" =>
            // every property column of every node and relationship
            // table, deduplicated — the engine-wide key catalog
            ((graph.nodes.values ++ graph.rels.values)
              .flatMap(_.columns).filterNot(_.startsWith("__"))
              .toSeq.distinct.sorted, "propertyKey")
          case _        => (graph.rels.keySet.toSeq.sorted, "relationshipType")
        }
        val spark0 = graph.nodes.values.head.sparkSession
        import spark0.implicits._
        val cat = names.toDF(colName)
        val df = if (s.df == null) cat else s.df.crossJoin(broadcast(cat))
        s = Scope(df, s.nodeVars, s.scalars + colName, s.lists,
          tiny = s.df == null || s.tiny, tinyScalars =
            (if (s.df == null || s.tiny) s.tinyScalars + colName
             else s.tinyScalars))

      case r: ReturnClause =>
        // a query can be pure projection (`RETURN 1`, `UNWIND … RETURN`)
        if (s.df == null)
          s = s.copy(df = graph.nodes.values.head.sparkSession.range(1).toDF())
        val (s2, items2) = materializeCounts(graph, s, r.items)
        out = planReturn(s2, r.copy(items = items2))
    }
    clauses.foreach(handleClause)
    (s, out)
  }

  /** Plans `MERGE`/`CREATE` of a single-hop relationship between two
    * bound node variables (see [[Ast.WriteRelClause]]): derives the
    * new edge rows from the current frame's endpoint id columns and
    * returns a graph whose table for the type is the insert-only
    * union.
    *
    * MERGE deduplicates — new (src, dst) pairs are distinct'd and
    * anti-joined against the existing pairs, so re-running the write
    * is idempotent (the engine-side twin of the payload builder's
    * `MERGE` batches, CypherPayload.mergeRelationships). CREATE
    * appends one edge per frame row, duplicates and all (Cypher
    * CREATE semantics).
    *
    * 100 TB notes: only 16-byte id pairs flow — the anti-join keys on
    * (__src, __dst), the same partitioning the dedup'd union needs,
    * and existing edge property columns null-extend lazily via
    * unionByName. The frame itself is untouched (MERGE preserves
    * cardinality), so a following RETURN costs nothing extra.
    */
  private def planWriteRel(graph: PropertyGraph, s: Scope,
      chain: PatternChain, create: Boolean,
      onCreate: Seq[(String, CExpr)] = Nil,
      onMatch: Seq[(String, CExpr)] = Nil): PropertyGraph = {
    val (rel, endNode) = chain.hops.head
    val aVar = chain.start.variable.getOrElse(throw new IllegalArgumentException(
      "MERGE/CREATE start node must be a bound variable"))
    val bVar = endNode.variable.getOrElse(throw new IllegalArgumentException(
      "MERGE/CREATE end node must be a bound variable"))
    require(s.nodeVars.contains(aVar) && s.nodeVars.contains(bVar),
      s"MERGE/CREATE endpoints ($aVar, $bVar) must be bound by a previous MATCH")
    require(chain.start.label.isEmpty && endNode.label.isEmpty &&
        chain.start.props.isEmpty && endNode.props.isEmpty,
      "MERGE/CREATE endpoints must be bare bound variables (no label/props)")
    val relType = rel.relType.getOrElse(throw new IllegalArgumentException(
      "MERGE/CREATE relationship must have a type"))
    // the relationship variable is only the ON CREATE/ON MATCH SET
    // assignment anchor (never bound into the frame) — without ON
    // blocks it would be dead, so reject it as before
    require(rel.altTypes.isEmpty && rel.varLength.isEmpty &&
        (rel.variable.isEmpty || onCreate.nonEmpty || onMatch.nonEmpty),
      "MERGE/CREATE supports a single typed, fixed-length relationship " +
        "(name it only to target ON CREATE/ON MATCH SET)")
    val (srcVar, dstVar) = rel.direction match {
      case Out => (aVar, bVar)
      case In  => (bVar, aVar)
      case Both => throw new IllegalArgumentException(
        "MERGE/CREATE relationship must be directed")
    }
    val pair = Seq(col(s"${srcVar}__id").as("__src"),
      col(s"${dstVar}__id").as("__dst"))
    // one projection over the frame: pattern map first, then ON
    // CREATE SET (later text wins, Neo4j order); expressions may read
    // any frame binding, so everything projects in a single select
    val propCols = {
      val byName = scala.collection.mutable.LinkedHashMap[String, Column]()
      rel.props.foreach { case (k, v) => byName += (k -> lit(v).as(k)) }
      onCreate.foreach { case (k, e) =>
        byName += (k -> toColumn(e, s.binds).as(k))
      }
      byName.values.toSeq
    }
    var newE = s.df.select(pair ++ propCols: _*)
    // MERGE dedups pairs; with expression-valued ON CREATE props the
    // per-pair conflicts resolve to MAX (the SET discipline)
    if (!create) {
      val others = newE.columns.filter(c => c != "__src" && c != "__dst")
      newE =
        if (others.isEmpty) newE.distinct()
        else newE.groupBy(col("__src"), col("__dst"))
          .agg(max(col(others.head)).as(others.head),
            others.tail.map(c => max(col(c)).as(c)): _*)
    }
    val updated = graph.rels.get(relType) match {
      case None => newE
      case Some(existing) =>
        val appended =
          if (create) newE
          else newE.join(existing.select(col("__src"), col("__dst")),
            Seq("__src", "__dst"), "left_anti")
        // ON MATCH SET: existing edges whose (src, dst) the frame
        // merges get the assignments — pair-keyed MAX-resolved update
        // join, the relationship twin of planSetProp
        val matchedBase =
          if (onMatch.isEmpty) existing
          else {
            val updates = s.df
              .select(pair ++ onMatch.map { case (k, e) =>
                toColumn(e, s.binds).as(s"__om_$k") }: _*)
              .groupBy(col("__src"), col("__dst"))
              .agg(max(col(s"__om_${onMatch.head._1}"))
                  .as(s"__om_${onMatch.head._1}"),
                onMatch.tail.map { case (k, _) =>
                  max(col(s"__om_$k")).as(s"__om_$k") }: _*)
            var base = existing
            onMatch.foreach { case (k, _) =>
              if (!base.columns.contains(k)) base = base.withColumn(k, lit(null))
            }
            var joined = base.join(updates, Seq("__src", "__dst"), "left_outer")
            onMatch.foreach { case (k, _) =>
              joined = joined.withColumn(k, coalesce(col(s"__om_$k"), col(k)))
            }
            joined.drop(onMatch.map { case (k, _) => s"__om_$k" }: _*)
          }
        matchedBase.unionByName(appended, allowMissingColumns = true)
    }
    // the written type's endpoint schema is no longer the declared one
    // (merged edges may connect other labels) — drop its relEndpoints
    // entry so type-less expansions keep (never prune) it, which is
    // always safe
    graph.copy(rels = graph.rels.updated(relType, updated),
      relEndpoints = graph.relEndpoints - relType)
  }

  /** Plans `CREATE`/`MERGE` of a node (see [[Ast.CreateNodeClause]]):
    * one node per frame row, the reserved `id` property supplying the
    * node's `__id` (caller owns global uniqueness — the GraphLoader
    * offset discipline). The label's table derives as a lazy union
    * with the new rows; MERGE dedups full rows for idempotent
    * CTAS-style re-runs. Only the projected property columns move —
    * node creation is exactly as wide as the created properties.
    */
  private def planCreateNode(graph: PropertyGraph, s: Scope, label: String,
      props: Seq[(String, CExpr)], merge: Boolean,
      onCreate: Seq[(String, CExpr)] = Nil,
      onMatch: Seq[(String, CExpr)] = Nil): PropertyGraph = {
    require(s.df != null,
      "CREATE/MERGE of a node needs a current frame (add a MATCH/UNWIND first)")
    require(merge || (onCreate.isEmpty && onMatch.isEmpty),
      "ON CREATE/ON MATCH SET requires MERGE")
    val idExpr = props.collectFirst { case ("id", e) => e }.getOrElse(
      throw new IllegalArgumentException(
        s"CREATE (:$label …) requires an `id` property — distributed node " +
          "creation needs caller-supplied deterministic ids"))
    // the `id` property IS the node id: `x.id` resolves to the same
    // `x__id` column a scan binds, so no separate `id` column exists
    // (it would collide with the id binding at rename time)
    // created rows carry the pattern props plus the ON CREATE
    // assignments (an ON CREATE prop overrides a same-named pattern
    // prop — last write of the clause text wins, Neo4j order)
    val createCols = {
      val byName = scala.collection.mutable.LinkedHashMap[String, Column]()
      byName += ("__id" -> toColumn(idExpr, s.binds).cast("long").as("__id"))
      props.foreach { case (k, e) =>
        if (k != "id") byName += (k -> toColumn(e, s.binds).as(k))
      }
      onCreate.foreach { case (k, e) =>
        require(k != "id", "ON CREATE SET cannot reassign the id property")
        byName += (k -> toColumn(e, s.binds).as(k))
      }
      byName.values.toSeq
    }
    var rows = s.df.select(createCols: _*)
    if (merge) rows = {
      // per-id conflicts across frame rows resolve to MAX per column —
      // the SetPropClause determinism discipline (plain distinct would
      // keep several rows per id when non-id props differ); an
      // id-only frame (MERGE on key with all updates in ON MATCH SET)
      // has nothing to resolve, so plain distinct is the whole rule
      val aggCols = rows.columns.filter(_ != "__id").map(c => max(col(c)).as(c))
      if (aggCols.isEmpty || (onCreate.isEmpty && onMatch.isEmpty))
        rows.distinct()
      else rows.groupBy(col("__id")).agg(aggCols.head, aggCols.tail: _*)
    }
    val updated = graph.nodes.get(label) match {
      case None => rows
      case Some(existing) =>
        val appended =
          if (merge)
            rows.join(existing.select(col("__id")), Seq("__id"), "left_anti")
          else rows
        // ON MATCH SET: existing nodes whose id the frame merges get
        // the assignments (id-keyed MAX-resolved update join, exactly
        // planSetProp's shape); everything else unchanged
        val matchedBase =
          if (onMatch.isEmpty) existing
          else {
            val updates = s.df
              .select(toColumn(idExpr, s.binds).cast("long").as("__id") +:
                onMatch.map { case (k, e) =>
                  toColumn(e, s.binds).as(s"__om_$k") }: _*)
              .groupBy(col("__id"))
              .agg(onMatch.map { case (k, _) =>
                  max(col(s"__om_$k")).as(s"__om_$k") }.head,
                onMatch.map { case (k, _) =>
                  max(col(s"__om_$k")).as(s"__om_$k") }.tail: _*)
            var base = existing
            onMatch.foreach { case (k, _) =>
              if (!base.columns.contains(k)) base = base.withColumn(k, lit(null))
            }
            var joined = base.join(updates, Seq("__id"), "left_outer")
            onMatch.foreach { case (k, _) =>
              joined = joined.withColumn(k,
                coalesce(col(s"__om_$k"), col(k)))
            }
            joined.drop(onMatch.map { case (k, _) => s"__om_$k" }: _*)
          }
        matchedBase.unionByName(appended, allowMissingColumns = true)
    }
    graph.copy(nodes = graph.nodes.updated(label, updated))
  }

  /** Plans `DETACH DELETE n` on a labeled bound node variable (see
    * [[Ast.DetachDeleteClause]]): the matched ids anti-join out of the
    * label's node table, and EVERY relationship table anti-joins away
    * edges incident to a deleted id on either endpoint.
    *
    * 100 TB notes: the deleted-id frame is distinct'd ids only (8
    * bytes/row); each rel table pays two id-keyed anti-joins
    * (broadcastable when the delete set is small — the common case),
    * and the whole cascade is lazy, so types never read again prune
    * away entirely.
    */
  private def planDetachDelete(graph: PropertyGraph, s: Scope,
      nv: String, label: String): PropertyGraph = {
    val idCol = s"${nv}__id"
    require(s.df != null && s.df.columns.contains(idCol),
      s"DETACH DELETE $nv: $nv is not bound in the current frame")
    // lazily checkpointed (r18 optimization round): the id set is
    // read by the node anti-join plus TWO anti-joins per relationship
    // table — 15 consumers on this graph — and each would otherwise
    // re-plan and re-run the whole MATCH that produced it. Lazy, so a
    // write whose graph is never read still prunes away.
    val ids = s.df.select(col(idCol).as("__id")).distinct()
      .localCheckpoint(false)
    val keptNodes = graph.nodeTable(label)
      .join(ids, Seq("__id"), "left_anti")
    val keptRels = graph.rels.map { case (t, e) =>
      t -> e.join(ids.select(col("__id").as("__src")), Seq("__src"), "left_anti")
            .join(ids.select(col("__id").as("__dst")), Seq("__dst"), "left_anti")
    }
    graph.copy(nodes = graph.nodes.updated(label, keptNodes), rels = keptRels)
  }

  /** Plans plain `DELETE n` (non-detach) on a labeled bound node
    * variable: Neo4j errors when any matched node still has
    * relationships ("Cannot delete node, because it still has
    * relationships") — same loud contract here, checked EAGERLY like
    * Neo4j's runtime error, then the matched ids anti-join out of the
    * label's table. Relationship tables are untouched (nothing can be
    * incident to a legal plain delete).
    *
    * 100 TB notes: the check is one semi-join of each edge table's
    * endpoint ids against the (distinct, usually small → broadcast)
    * delete set, short-circuited by limit(1); types already deleted
    * upstream check against their DERIVED tables, so a
    * delete-edges-then-node pipeline stays legal.
    */
  private def planDeleteNode(graph: PropertyGraph, s: Scope,
      nv: String, label: String): PropertyGraph = {
    val idCol = s"${nv}__id"
    require(s.df != null && s.df.columns.contains(idCol),
      s"DELETE $nv: $nv is not bound in the current frame")
    // lazily checkpointed: the attached-relationship probe reads this
    // set twice per edge table, then the node anti-join again (r18
    // optimization round — same argument as DETACH DELETE)
    val ids = s.df.select(col(idCol).as("__id")).distinct()
      .localCheckpoint(false)
    // ONE union-all limit(1) job over every edge table. A per-table
    // sequential probe was tried (r15) and MEASURED 3.2× slower on
    // the success path at sf1 (86.2 s vs 26.9 s): seven sequential
    // jobs forfeit the cross-table parallelism one union job gets
    // for free, while limit(1)'s incremental partition evaluation
    // already stops the union early when a hit exists. A graph with
    // no relationship tables at all (nodes-only, e.g. built by
    // CREATE) short-circuits entirely — nothing can be attached.
    val attached =
      if (graph.rels.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else graph.rels.values
        .map(e => e.select(col("__src").as("__id"))
          .unionByName(e.select(col("__dst").as("__id")))
          .join(ids, Seq("__id"), "left_semi"))
        .reduce(_.unionByName(_))
        .limit(1).collect()
    if (attached.nonEmpty)
      throw new IllegalStateException(
        s"DELETE $nv: cannot delete node ${attached.head.getLong(0)} " +
          s"because it still has relationships (use DETACH DELETE)")
    graph.copy(nodes = graph.nodes.updated(label,
      graph.nodeTable(label).join(ids, Seq("__id"), "left_anti")))
  }

  /** Plans `REMOVE n.prop` on a labeled bound node variable (see
    * [[Ast.RemovePropClause]]): matched ids read the property as null
    * afterwards. Unlike SET (whose coalesce keeps the old value for
    * null updates), removal marks matched ids through the join and
    * nulls the column exactly there.
    */
  private def planRemoveProp(graph: PropertyGraph, s: Scope, v: String,
      label: String, prop: String): PropertyGraph = {
    val idCol = s"${v}__id"
    require(s.df != null && s.df.columns.contains(idCol),
      s"REMOVE $v.$prop: $v is not bound in the current frame")
    val nt = graph.nodeTable(label)
    require(nt.columns.contains(prop),
      s"REMOVE $v.$prop: label $label has no property '$prop'")
    val hits = s.df.select(col(idCol).as("__id")).distinct()
      .withColumn("__rm", lit(true))
    val updated = nt.join(hits, Seq("__id"), "left_outer")
      .withColumn(prop, when(col("__rm"), lit(null)).otherwise(col(prop)))
      .drop("__rm")
    graph.copy(nodes = graph.nodes.updated(label, updated))
  }

  /** Plans `DELETE r` for a bound single-hop typed relationship
    * variable (see [[Ast.DeleteRelClause]]): rebuilds the matched
    * edge rows from the frame's `r__@src`/`r__@dst`/`r__prop`
    * columns and anti-joins them (all columns, distinct'd) out of the
    * type's table. Row-level set semantics — fully-identical parallel
    * rows are interchangeable, all matched copies go; rows with null
    * property values never match the anti-join keys and survive
    * (documented, like any null-unsafe equi-join).
    *
    * 100 TB notes: the anti-join keys on (__src, __dst, props) — the
    * same narrow rows the edge table itself holds; nothing else
    * moves, and the deletion is lazy (a later clause reading the type
    * plans the anti-join into its own scan).
    */
  private def planDeleteRel(graph: PropertyGraph, s: Scope,
      rv: String, relType: String): PropertyGraph = {
    val existing = graph.relTable(relType)
    val srcCol = s"${rv}__@src"
    require(s.df != null && s.df.columns.contains(srcCol),
      s"DELETE $rv: relationship variable is not bound in the current frame")
    // lazily checkpointed (r18 optimization round): later clauses
    // that read the type re-plan the anti-join, and every read would
    // otherwise re-run the MATCH behind the deleted-row set
    val delRows = s.df.select(existing.columns.toSeq.map {
      case "__src" => col(srcCol).as("__src")
      case "__dst" => col(s"${rv}__@dst").as("__dst")
      case c       => col(s"${rv}__$c").as(c)
    }: _*).distinct()
      .localCheckpoint(false)
    val updated = existing.join(delRows, existing.columns.toSeq, "left_anti")
    // deleting edges only shrinks the type's endpoint population —
    // the declared endpoint schema stays valid for static pruning
    graph.copy(rels = graph.rels.updated(relType, updated))
  }

  /** Plans `SET n.prop = expr` on a labeled bound node variable (see
    * [[Ast.SetPropClause]]): derives a new node table for the label
    * with the property overwritten on matched ids (fresh column when
    * the property is new). Per-node value conflicts (a frame binding
    * the node on several rows with different expr values) resolve to
    * the MAX — deterministic where Neo4j's sequential last-write is
    * row-order-dependent.
    *
    * 100 TB notes: one id-keyed left join of the label's table
    * against the distinct per-id update frame; only (id, value)
    * pairs move, and Catalyst prunes the join away for queries that
    * never read the label again.
    */
  private def planSetProp(graph: PropertyGraph, s: Scope, v: String,
      label: String, prop: String, value: CExpr): PropertyGraph = {
    val idCol = s"${v}__id"
    require(s.df != null && s.df.columns.contains(idCol),
      s"SET $v.$prop: $v is not bound in the current frame")
    val updates = s.df
      .select(col(idCol).as("__id"), toColumn(value, s.binds).as("__newval"))
      .groupBy(col("__id")).agg(max(col("__newval")).as("__newval"))
    val nt = graph.nodeTable(label)
    val base = if (nt.columns.contains(prop)) nt
      else nt.withColumn(prop, lit(null))
    val updated = base.join(updates, Seq("__id"), "left_outer")
      .withColumn(prop, coalesce(col("__newval"), col(prop)))
      .drop("__newval")
    graph.copy(nodes = graph.nodes.updated(label, updated))
  }

  /** Plans `SET n += {k: expr, …}` (see [[Ast.SetMapClause]]): ONE
    * id-keyed left join applies every listed key — matched ids take
    * the new value unconditionally (an explicit null REMOVES the
    * property, Neo4j `+=` semantics — which is why this is not
    * [[planSetProp]]'s coalesce), unmatched ids keep theirs. Per-id
    * conflicts resolve to MAX per key.
    *
    * 100 TB notes: the k-key map costs the same single join as a
    * 1-key SET — (id, k values) rows move once, against SetPropClause's
    * join-per-assignment.
    */
  private def planSetMap(graph: PropertyGraph, s: Scope, v: String,
      label: String, entries: Seq[(String, CExpr)]): PropertyGraph = {
    val idCol = s"${v}__id"
    require(s.df != null && s.df.columns.contains(idCol),
      s"SET $v += {…}: $v is not bound in the current frame")
    require(entries.nonEmpty, s"SET $v += {{}}: empty property map")
    require(entries.forall(_._1 != "id"),
      s"SET $v += {…}: cannot reassign the reserved id property")
    val aggs = entries.map { case (k, _) =>
      max(col(s"__sm_$k")).as(s"__sm_$k") }
    val updates = s.df
      .select(col(idCol).as("__id") +: entries.map { case (k, e) =>
        toColumn(e, s.binds).as(s"__sm_$k") }: _*)
      .groupBy(col("__id")).agg(aggs.head, aggs.tail: _*)
      .withColumn("__sm_hit", lit(1))
    var base = graph.nodeTable(label)
    entries.foreach { case (k, _) =>
      if (!base.columns.contains(k)) base = base.withColumn(k, lit(null))
    }
    var joined = base.join(updates, Seq("__id"), "left_outer")
    entries.foreach { case (k, _) =>
      joined = joined.withColumn(k,
        when(col("__sm_hit").isNotNull, col(s"__sm_$k")).otherwise(col(k)))
    }
    val updated = joined.drop("__sm_hit" +: entries.map {
      case (k, _) => s"__sm_$k" }: _*)
    graph.copy(nodes = graph.nodes.updated(label, updated))
  }

  /** Plans `SET n:Label` (see [[Ast.SetLabelClause]]): the target
    * label's table derives a new version additionally holding the
    * matched nodes' rows (properties carried from the variable's own
    * label table; schemas reconcile by name). Idempotent — ids
    * already under the target label are untouched.
    *
    * 100 TB notes: matched ids travel as a distinct 8-byte-id frame;
    * the anti-join against the target and the semi-join against the
    * source are both id-keyed (broadcastable when the SET set is
    * small — the common case), and a query that never reads the
    * target label again prunes the whole derivation away.
    */
  private def planSetLabel(graph: PropertyGraph, s: Scope, v: String,
      srcLabel: String, newLabel: String): PropertyGraph = {
    val idCol = s"${v}__id"
    require(s.df != null && s.df.columns.contains(idCol),
      s"SET $v:$newLabel: $v is not bound in the current frame")
    val ids = s.df.select(col(idCol).as("__id")).distinct()
    val rows = graph.nodeTable(srcLabel).join(ids, Seq("__id"), "left_semi")
    val updated = graph.nodes.get(newLabel) match {
      case None => rows
      case Some(existing) => existing.unionByName(
        rows.join(existing.select(col("__id")), Seq("__id"), "left_anti"),
        allowMissingColumns = true)
    }
    graph.copy(nodes = graph.nodes.updated(newLabel, updated))
  }

  /** `CALL { … }` subquery planning.
    *
    * Uncorrelated (no importing WITH): the subquery plans standalone
    * and cross-joins the outer rows (Cypher row-multiplication
    * semantics; the subquery result is typically small/aggregated, so
    * Catalyst broadcasts it).
    *
    * Correlated (`CALL { WITH a … }`): relational decorrelation — the
    * subquery plans ONCE over the DISTINCT imported bindings (never
    * per outer row), and the result joins back on the import keys:
    *  - aggregates group by the import keys (per-outer-row aggregation
    *    semantics); pure-count subqueries keep zero-match rows via a
    *    left join + 0-coalesce, mirroring Neo4j's "aggregation always
    *    returns a row";
    *  - ORDER BY/SKIP/LIMIT become a row_number window PARTITIONED BY
    *    the import keys — the per-row top-k idiom (`CALL { WITH a
    *    MATCH … RETURN b ORDER BY … LIMIT k }`) costs one window over
    *    the subquery frame, not a loop;
    *  - otherwise a plain projection joined back (zero-match imports
    *    drop their outer rows, Cypher semantics).
    * At 100 TB the decorrelated shape is the only viable one: the
    * subquery's exchanges are keyed on the import ids, and the join
    * back reuses that partitioning.
    */
  private def planCall(graph: PropertyGraph, outer: Scope,
      imports: Seq[String], inner: Seq[Clause]): Scope = {
    val innerQ = CypherQuery(inner)
    val needs = colsNeeded(innerQ)
    if (imports.isEmpty) {
      val sub = planClauses(graph, inner,
        Scope(null, Set.empty, Set.empty), needs)._2
      require(sub != null, "CALL subquery must end in RETURN")
      val df = if (outer.df == null) sub else outer.df.crossJoin(sub)
      return Scope(df, outer.nodeVars, outer.scalars ++ sub.columns,
        outer.lists)
    }
    require(outer.df != null, "CALL imports require previously bound variables")
    val nodeImports = imports.filter(outer.nodeVars)
    val scalarImports = imports.filter(outer.scalars)
    val unknown = imports.diff(nodeImports ++ scalarImports)
    require(unknown.isEmpty, s"CALL imports unbound variables: $unknown")
    val keyCols = nodeImports.map(v => s"${v}__id") ++ scalarImports
    val carryCols = (nodeImports.flatMap(v =>
      outer.df.columns.filter(_.startsWith(s"${v}__"))) ++ scalarImports).distinct
    val seed = Scope(
      outer.df.select(carryCols.map(col): _*).distinct(),
      nodeImports.toSet, scalarImports.toSet,
      outer.lists.intersect(scalarImports.toSet))

    val ret = inner.last match {
      case r: ReturnClause => r
      case other => throw new IllegalArgumentException(
        s"CALL subquery must end in RETURN, got $other")
    }
    var (si, _) = planClauses(graph, inner.init, seed, needs)
    val (si2, items2) = materializeCounts(graph, si, ret.items)
    si = si2
    val items = items2.map(i => i.copy())
    items.foreach(i => require(!outer.df.columns.contains(i.name),
      s"CALL subquery output '${i.name}' collides with an outer binding"))
    val (aggs, plain) = items.partition(i => isAggregate(i.expr))

    val (sub, joinKind, coalesceZero) =
      if (aggs.nonEmpty) {
        val keyExprs = keyCols.map(col) ++
          plain.map(i => toColumn(i.expr, si.binds).as(i.name))
        val aggCols = aggs.map(i =>
          toAggColumn(i.expr, si.binds, pathCountVars(si.df), si.df).as(i.name))
        val g0 = si.df.groupBy(keyExprs: _*).agg(aggCols.head, aggCols.tail: _*)
        // ORDER BY/SKIP/LIMIT over an aggregating RETURN (r16 —
        // formerly a loud reject): a POST-aggregation row_number
        // window partitioned by the import keys — per-binding top-k
        // over the aggregated rows. Sort keys resolve against the
        // aggregated frame (item aliases are its columns).
        val lo = ret.skip.getOrElse(0L)
        val hi = ret.limit.map(lo + _).getOrElse(Long.MaxValue)
        val g =
          if (ret.orderBy.isEmpty && ret.limit.isEmpty && ret.skip.isEmpty) g0
          else {
            // SKIP/LIMIT without ORDER BY (r17 — formerly a loud
            // reject): Neo4j accepts the form but leaves WHICH rows
            // survive unspecified; here it takes a DOCUMENTED
            // deterministic tie-break — the RETURN items' own output
            // columns, ascending, in item order (correlation keys are
            // constant within a partition) — a strictly stronger
            // contract than the accepted-but-nondeterministic surface.
            // Determinism holds because the plain items ARE the
            // groupBy key (unique per partition); unorderable agg
            // outputs (maps) are skipped from the sort list (r18).
            val sortCols =
              if (ret.orderBy.isEmpty && plain.isEmpty) Seq(lit(1).asc)
              else if (ret.orderBy.isEmpty) {
                val cs = items.map(i => col(s"`${i.name}`"))
                  .filter(isOrderableOn(g0, _)).map(_.asc)
                if (cs.isEmpty) Seq(lit(1).asc) else cs
              }
              else ret.orderBy.map { o =>
                val c = toColumn(o.expr, si.binds.copy(
                  names = si.binds.names ++ items.map(_.name)))
                if (o.ascending) c.asc else c.desc
              }
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(keyCols.map(col): _*).orderBy(sortCols: _*)
            g0.withColumn("__call_rk", row_number().over(w))
              .filter(col("__call_rk") > lo && col("__call_rk") <= hi)
              .drop("__call_rk")
          }
        // count() over zero matches must yield 0, not a dropped row —
        // but only when the virtual zero-row would itself survive the
        // modifiers (SKIP ≥ 1 drops the one-row body in Neo4j too)
        val allCounts = plain.isEmpty && aggs.forall(_.expr match {
          case FnCall("count", _, _, _) => true
          case _                        => false
        }) && lo == 0 && hi >= 1
        (g, if (allCounts) "left_outer" else "inner", allCounts)
      } else if (ret.orderBy.nonEmpty || ret.limit.isDefined || ret.skip.isDefined) {
        val itemByName = items.map(i => i.name -> i.expr).toMap
        // SKIP/LIMIT without ORDER BY (r17): deterministic tie-break
        // on the RETURN items themselves, ascending, in item order
        // (see the aggregating branch above for the contract). Item
        // values need not form a unique key per binding, so EVERY
        // bound identity column is appended as a last-resort
        // tiebreak — without it a tie leaves the surviving row
        // partition-order-dependent; unorderable (map-typed) items
        // are skipped where Neo4j accepts the query (r18, ADVICE).
        val sortCols =
          if (ret.orderBy.isEmpty) {
            val itemCols = items.flatMap { i =>
              i.expr match {
                case Ident(n) if si.df.columns.contains(s"${n}__id") =>
                  Some(col(s"${n}__id")) // node item ties break on its id
                case e =>
                  val c = toColumn(e, si.binds)
                  if (isOrderableOn(si.df, c)) Some(c) else None
              }
            }
            val idCols = si.df.columns.filter(_.endsWith("__id"))
              .sorted.map(col)
            val cs = (itemCols ++ idCols).map(_.asc)
            if (cs.isEmpty) Seq(lit(1).asc) else cs
          }
          else ret.orderBy.map { o =>
          val e = o.expr match {
            case Ident(n) if itemByName.contains(n) => itemByName(n)
            case e2                                 => e2
          }
          val c = toColumn(e, si.binds)
          if (o.ascending) c.asc else c.desc
        }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*).orderBy(sortCols: _*)
        val lo = ret.skip.getOrElse(0L)
        val hi = ret.limit.map(lo + _).getOrElse(Long.MaxValue)
        val ranked = si.df.withColumn("__call_rk", row_number().over(w))
          .filter(col("__call_rk") > lo && col("__call_rk") <= hi)
        val sel = ranked.select(keyCols.map(col) ++
          items.map(i => toColumn(i.expr, si.binds).as(i.name)): _*)
        (if (ret.distinct) sel.distinct() else sel, "inner", false)
      } else {
        val sel = si.df.select(keyCols.map(col) ++
          items.map(i => toColumn(i.expr, si.binds).as(i.name)): _*)
        (if (ret.distinct) sel.distinct() else sel, "inner", false)
      }

    var df = outer.df.join(sub, keyCols, joinKind)
    if (coalesceZero) aggs.foreach(i =>
      df = df.withColumn(i.name, coalesce(col(i.name), lit(0L))))
    val newLists = items.filter(i => isListShaped(i.expr)).map(_.name).toSet
    Scope(df, outer.nodeVars, outer.scalars ++ items.map(_.name),
      outer.lists ++ newLists)
  }

  /** Applies a WHERE expression: top-level conjuncts are split so
    * `EXISTS { pattern }` becomes a left-semi join and
    * `NOT EXISTS { pattern }` a left-anti join on the shared
    * variables' ids (no pattern data enters the row — exactly a
    * semi-join's contract); scalar conjuncts stay ordinary filters.
    * EXISTS under OR/deeper negation materializes as a boolean flag
    * join instead (general but wider plan — the fast path stays on
    * plain conjuncts).
    */
  private def applyFilter(graph: PropertyGraph, s: Scope, e: CExpr): DataFrame =
    e match {
      case And(l, r) =>
        applyFilter(graph, s.copy(df = applyFilter(graph, s, l)), r)
      case ExistsPattern(chain, w) =>
        existsJoin(graph, s, chain, "left_semi", w)
      case Not(ExistsPattern(chain, w)) =>
        existsJoin(graph, s, chain, "left_anti", w)
      case ExistsSubquery(body) =>
        existsBodyJoin(graph, s, body, "left_semi")
      case Not(ExistsSubquery(body)) =>
        existsBodyJoin(graph, s, body, "left_anti")
      // COUNT { } in a predicate (`WHERE COUNT { … } >= k`): bind the
      // counts as hidden scalars, filter, then drop them so they never
      // leak into RETURN * or later horizons
      case other if containsCountPattern(other) =>
        val (s2, e2) = bindCounts(graph, s, other)
        val added = (s2.scalars -- s.scalars).toSeq
        applyFilter(graph, s2, e2).drop(added: _*)
      case other if containsExists(other) =>
        // EXISTS in general boolean context (under OR, XOR-style
        // combinations, deeper NOT): each pattern materializes as a
        // boolean flag — the pattern's DISTINCT shared ids LEFT-join
        // back with `true`, unmatched rows coalesce to false — and the
        // expression then evaluates as ordinary boolean algebra. The
        // build side is ≤ |distinct bindings| rows. Top-level
        // conjuncts never reach here (the semi/anti fast path above
        // strips them first).
        var df = s.df
        var idx = 0
        val flags = Seq.newBuilder[String]
        def bind(e2: CExpr): CExpr = e2 match {
          case ExistsSubquery(body) =>
            // same flag-join as the pattern form, with the body
            // planned over the full-body seeding discipline
            val (keys, keyFrame) = existsBodyKeys(graph, s, body)
            val alias = s"__graft_ex_$idx"
            idx += 1
            flags += alias
            df = df.join(keyFrame.withColumn(alias, lit(true)),
              keys, "left")
            ColRef(coalesce(col(alias), lit(false)))
          case ExistsPattern(chain, w) =>
            val (odf, keys) = patternMatches(graph, s, chain, w, "EXISTS pattern")
            val alias = s"__graft_ex_$idx"
            idx += 1
            flags += alias
            df = df.join(
              odf.select(keys.map(col): _*).distinct()
                .withColumn(alias, lit(true)),
              keys, "left")
            ColRef(coalesce(col(alias), lit(false)))
          case And(l, r) => And(bind(l), bind(r))
          case Or(l, r)  => Or(bind(l), bind(r))
          case Not(x)    => Not(bind(x))
          case Cmp(op, l, r) => Cmp(op, bind(l), bind(r))
          case leaf      => leaf
        }
        val bound = bind(other)
        df.filter(toColumn(bound, s.binds)).drop(flags.result(): _*)
      case other => s.df.filter(toColumn(other, s.binds))
    }

  /** FULL-body `EXISTS { … }` (r15): the body is a whole clause
    * pipeline, planned ONCE over the DISTINCT bindings of the outer
    * variables it references (the CALL-subquery seeding discipline —
    * correlation without per-row re-execution), then semi/anti-joined
    * back on those keys. A trailing RETURN is stripped: Neo4j
    * documents that an EXISTS subquery's result is unaffected by it.
    */
  private def existsBodyJoin(graph: PropertyGraph, s: Scope,
      body: Seq[Clause], joinType: String): DataFrame = {
    val (keys, keyFrame) = existsBodyKeys(graph, s, body)
    s.df.join(keyFrame, keys, joinType)
  }

  /** The shared machinery of [[existsBodyJoin]] and the boolean-flag
    * path: plans the body and returns (outer key columns, the body's
    * DISTINCT surviving key bindings).
    */
  private def existsBodyKeys(graph: PropertyGraph, s: Scope,
      body0: Seq[Clause]): (Seq[String], DataFrame) = {
    val (keys, rows, _) =
      subqueryBodyRows(graph, s, body0, keepReturn = false, kind = "EXISTS")
    (keys, rows.select(keys.map(col): _*).distinct())
  }

  /** Shared decorrelation of full-body EXISTS / COUNT / COLLECT
    * subqueries (r15): the body plans ONCE over the DISTINCT outer
    * bindings it references (the CALL-subquery seeding discipline),
    * with the correlation keys THREADED through every projection
    * horizon the user's items would drop (on aggregating horizons
    * they become grouping keys — exactly per-binding semantics).
    * `keepReturn = false` (EXISTS) strips the trailing RETURN —
    * Neo4j documents existence as unaffected by it; `true`
    * (COUNT/COLLECT) folds it into a keys-threaded WITH, so `RETURN
    * DISTINCT x` is per-binding-distinct and SKIP/LIMIT take the
    * per-binding window (without ORDER BY: the r17 deterministic
    * item tie-break). Returns (key columns, surviving rows, the
    * RETURN item's column name when kept).
    */
  private def subqueryBodyRows(graph: PropertyGraph, s: Scope,
      body0: Seq[Clause], keepReturn: Boolean,
      kind: String): (Seq[String], DataFrame, Option[String]) = {
    val (body, ret) = body0.lastOption match {
      case Some(r: ReturnClause) => (body0.init, Some(r))
      case _                     => (body0, None)
    }
    require(body.nonEmpty || (keepReturn && ret.isDefined),
      s"empty $kind subquery body")
    val chainVars = body0.collect {
      case MatchClause(ch, _, _) => ch.nodeVars
    }.flatten.toSet
    val refs = walkRefVars(body0).idents ++ chainVars
    val sharedNodes = s.nodeVars.intersect(refs)
    val sharedScalars = s.scalars.intersect(refs)
    require(sharedNodes.nonEmpty || sharedScalars.nonEmpty,
      s"a $kind subquery must reference at least one outer variable")
    val keyCols = sharedNodes.toSeq.sorted.map(v => s"${v}__id") ++
      sharedScalars.toSeq.sorted
    val carryCols = (sharedNodes.toSeq.sorted.flatMap(v =>
      s.df.columns.filter(_.startsWith(s"${v}__"))) ++
      sharedScalars.toSeq.sorted).distinct
    val seed = Scope(s.df.select(carryCols.map(col): _*).distinct(),
      sharedNodes, sharedScalars, s.lists.intersect(sharedScalars))
    val keyVars = (sharedNodes ++ sharedScalars).toSeq.sorted
    def thread(w: WithClause): WithClause = {
      // a horizon item whose alias SHADOWS a correlation key (outer
      // `x`, body `WITH s.q AS x`) would not be re-threaded — the key
      // column would carry the body's value and the join would
      // silently mis-correlate. Neo4j rejects redeclaring an outer
      // variable inside a subquery; so do we (identity re-exports
      // `WITH x`/`WITH x AS x` stay legal).
      w.items.foreach(i => i.alias.foreach(a =>
        require(!keyVars.contains(a) || i.expr == Ident(a),
          s"cannot redeclare the outer variable `$a` inside a $kind " +
            "subquery body (it is a correlation key)")))
      if (w.items.exists(_.expr == Ident("*"))) w
      else {
        val present = w.items.flatMap(i => i.expr match {
          case Ident(v) => Seq(v) ++ i.alias.toSeq
          case _        => i.alias.toSeq
        }).toSet
        val missing = keyVars.filterNot(present)
        if (missing.isEmpty) w
        else w.copy(items = w.items ++ missing.map(v =>
          ReturnItem(Ident(v), None)))
      }
    }
    val retAsWith = ret.filter(_ => keepReturn).map(r =>
      thread(WithClause(r.distinct, r.items, None, r.orderBy, r.skip,
        r.limit)))
    val threaded = body.map {
      case w: WithClause => thread(w)
      case c             => c
    } ++ retAsWith.toSeq
    val needsAll = colsNeeded(CypherQuery(threaded)) ++
      sharedNodes ++ sharedScalars
    val hasLimitHorizon = threaded.exists {
      case w: WithClause => w.skip.isDefined || w.limit.isDefined
      case _             => false
    }
    val si =
      if (!hasLimitHorizon)
        planClauses(graph, threaded, seed, needsAll)._1
      else {
        // SKIP/LIMIT horizons are PER-BINDING in Neo4j: a global
        // sort-limit would diverge silently, so each such horizon
        // becomes a row_number window PARTITIONED BY the correlation
        // keys (the CALL-subquery top-k idiom, r16) — the clause list
        // plans in segments around them; everything else is the
        // single-pass plan above
        var cur = seed
        var buf = Vector.empty[Clause]
        def flush(): Unit = if (buf.nonEmpty) {
          cur = planClauses(graph, buf, cur, needsAll)._1
          buf = Vector.empty
        }
        threaded.foreach {
          case w: WithClause if w.skip.isDefined || w.limit.isDefined =>
            // plan the horizon itself (projection/aggregation,
            // DISTINCT) first; modifiers apply to ITS output
            buf :+= w.copy(orderBy = Nil, skip = None, limit = None)
            flush()
            // sort keys resolve against the POST-horizon frame: a
            // sort expression matching a projected item reads that
            // item's output column (pre-horizon variables are gone);
            // item aliases and carried node properties resolve as
            // ordinary post-horizon columns. Without ORDER BY (r17 —
            // formerly a loud reject) the horizon takes the
            // documented deterministic tie-break: its own projected
            // items, ascending, in item order (Neo4j accepts the
            // form but leaves row choice unspecified; this is the
            // same rows on every run and engine)
            val itemCol: Map[CExpr, String] =
              w.items.map(i => i.expr -> i.name).toMap
            val sortCols =
              if (w.orderBy.isEmpty)
                w.items.map { i =>
                  (if (cur.df.columns.contains(i.name)) col(s"`${i.name}`")
                   else col(s"`${i.name}__id`")).asc // node item → its id
                }
              else w.orderBy.map { o =>
              val c = itemCol.get(o.expr).map(n => col(s"`$n`"))
                .getOrElse(toColumn(o.expr, cur.binds))
              if (o.ascending) c.asc else c.desc
            }
            val wnd = org.apache.spark.sql.expressions.Window
              .partitionBy(keyCols.map(col): _*).orderBy(sortCols: _*)
            val lo = w.skip.getOrElse(0L)
            val hi2 = w.limit.map(lo + _).getOrElse(Long.MaxValue)
            cur = cur.copy(df = cur.df
              .withColumn("__sub_rk", row_number().over(wnd))
              .filter(col("__sub_rk") > lo && col("__sub_rk") <= hi2)
              .drop("__sub_rk"))
          case c => buf :+= c
        }
        flush()
        cur
      }
    (keyCols, si.df, ret.filter(_ => keepReturn).map(_.items.head.name))
  }

  private def existsJoin(graph: PropertyGraph, s: Scope,
      chain: PatternChain, joinType: String,
      where: Option[CExpr] = None): DataFrame = {
    val (odf, keys) = patternMatches(graph, s, chain, where, "EXISTS pattern")
    s.df.join(odf.select(keys.map(col): _*), keys, joinType)
  }

  /** A pattern subquery's matches — the chain planned standalone (the
    * outer variables it shares bind through the relationship join
    * keys, no second node scan), restricted by its inner WHERE (which
    * sees the pattern's own variables) — and the shared variables' id
    * columns it joins back on.
    */
  private def patternMatches(graph: PropertyGraph, s: Scope,
      chain: PatternChain, where: Option[CExpr],
      what: String): (DataFrame, Seq[String]) = {
    val shared = chain.nodeVars.filter(s.nodeVars.contains).distinct
    require(shared.nonEmpty,
      s"$what must share at least one variable with the outer MATCH")
    val (odf, _) = new ChainPlanner(graph, chain, Set.empty, null,
      shared.toSet).plan()
    (where.fold(odf)(p => odf.filter(toColumn(p, s.binds))),
      shared.map(v => s"${v}__id"))
  }

  /** Materializes `COUNT { pattern }` subqueries wherever they appear
    * in an expression: each pattern's matches pre-aggregate to one
    * count per shared-variable binding and LEFT-join back (zero-match
    * rows coalesce to 0 — Cypher's COUNT subquery never drops outer
    * rows), then the count participates as an ordinary scalar. The
    * join's build side is at most |distinct bindings| rows, and the
    * eager-count optimizer rule keeps the subquery's own join tree
    * pair-free.
    */
  private def bindCounts(graph: PropertyGraph, s0: Scope, e0: CExpr)
      : (Scope, CExpr) = {
    var scope = s0
    // one aggregate per outer binding, left-joined back under an alias
    // unique in this scope; rows without a match read 0 or the empty
    // list (`list` — the value is then list-valued)
    def joinBack(rows: DataFrame, keys: Seq[String], prefix: String,
        agg: Column, list: Boolean): CExpr = {
      val alias = Iterator.from(0).map(i => s"${prefix}_$i")
        .find(a => !scope.df.columns.contains(a)).get
      val per = rows.groupBy(keys.map(col): _*).agg(agg.as(alias))
      val none =
        if (list) array().cast(per.schema(alias).dataType) else lit(0L)
      val joined = scope.df.join(per, keys, "left")
        .withColumn(alias, coalesce(col(alias), none))
      scope = Scope(joined, scope.nodeVars, scope.scalars + alias,
        if (list) scope.lists + alias else scope.lists)
      Ident(alias)
    }
    def rw(e: CExpr): CExpr = e match {
      case CountPattern(chain, w) =>
        val (odf, keys) = patternMatches(graph, scope, chain, w, "COUNT { } pattern")
        joinBack(odf, keys, "__graft_psq", count(lit(1)), list = false)
      case PatternComp(chain, w, proj) =>
        // the list-valued sibling of COUNT { }: collect the projected
        // values per shared binding (SORTED — deterministic)
        val (odf, keys) = patternMatches(graph, scope, chain, w,
          "pattern comprehension")
        joinBack(odf, keys, "__graft_pc",
          sort_array(collect_list(toColumn(proj, scope.binds))), list = true)
      case CountSubquery(body) =>
        // full-body COUNT (r15): rows per outer binding, trailing
        // RETURN honored (DISTINCT = per-binding distinct)
        val (keys, rows, _) =
          subqueryBodyRows(graph, scope, body, keepReturn = true, "COUNT")
        joinBack(rows, keys, "__graft_psq", count(lit(1)), list = false)
      case CollectSubquery(body) =>
        // full-body COLLECT (r15): the single RETURN column collected
        // per outer binding (sorted — deterministic)
        body.lastOption match {
          case Some(r: ReturnClause) =>
            require(r.items.size == 1,
              "COLLECT { } subquery must RETURN exactly one item")
          case _ => throw new IllegalArgumentException(
            "COLLECT { } subquery must end in RETURN")
        }
        val (keys, rows, Some(valName)) =
          subqueryBodyRows(graph, scope, body, keepReturn = true, "COLLECT")
        joinBack(rows, keys, "__graft_pc",
          sort_array(collect_list(col(valName))), list = true)
      case Cmp(op, l, r)   => Cmp(op, rw(l), rw(r))
      case Arith(op, l, r) => Arith(op, rw(l), rw(r))
      case And(l, r)       => And(rw(l), rw(r))
      case Or(l, r)        => Or(rw(l), rw(r))
      case Not(x)          => Not(rw(x))
      case IsNull(x)       => IsNull(rw(x))
      case Coalesce(xs)    => Coalesce(xs.map(rw))
      case CaseExpr(ws, o) =>
        CaseExpr(ws.map { case (c, v) => (rw(c), rw(v)) }, o.map(rw))
      case FnCall(n, a, st, d) => FnCall(n, a.map(rw), st, d)
      case FnCallN(n, as)  => FnCallN(n, as.map(rw))
      // descend into lambda containers so a pattern subquery inside
      // reduce()/[x IN …]/any() materializes too (the subquery cannot
      // reference the lambda variable — it joins on pattern vars)
      case ReduceExpr(acc, init, v, l, step) =>
        ReduceExpr(acc, rw(init), v, rw(l), step)
      case ListComp(v, l, w, p) => ListComp(v, rw(l), w, p)
      case ListPred(k, v, l, p) => ListPred(k, v, rw(l), p)
      case InList(x, l)    => InList(rw(x), rw(l))
      case leaf            => leaf
    }
    // rewrite FIRST: rw mutates `scope`, so the tuple must read it
    // after the traversal, not before
    val e2 = if (containsCountPattern(e0)) rw(e0) else e0
    (scope, e2)
  }

  private def materializeCounts(graph: PropertyGraph, s: Scope,
      items: Seq[ReturnItem]): (Scope, Seq[ReturnItem]) = {
    var scope = s
    val out = items.map { it =>
      it.expr match {
        case cp: CountPattern => // bare item keeps its `count` default name
          val (s2, e2) = bindCounts(graph, scope, cp)
          scope = s2
          ReturnItem(e2, Some(it.alias.getOrElse("count")))
        case cs: CountSubquery =>
          val (s2, e2) = bindCounts(graph, scope, cs)
          scope = s2
          ReturnItem(e2, Some(it.alias.getOrElse("count")))
        case cs: CollectSubquery =>
          val (s2, e2) = bindCounts(graph, scope, cs)
          scope = s2
          ReturnItem(e2, Some(it.alias.getOrElse("collect")))
        case other if containsCountPattern(other) =>
          val (s2, e2) = bindCounts(graph, scope, other)
          scope = s2
          ReturnItem(e2, it.alias)
        case _ => it
      }
    }
    (scope, out)
  }

  private def containsCountPattern(e: CExpr): Boolean = e match {
    case _: CountSubquery  => true
    case _: CollectSubquery => true
    case _: CountPattern  => true
    case _: PatternComp   => true
    case And(l, r)        => containsCountPattern(l) || containsCountPattern(r)
    case Or(l, r)         => containsCountPattern(l) || containsCountPattern(r)
    case Not(x)           => containsCountPattern(x)
    case Cmp(_, l, r)     => containsCountPattern(l) || containsCountPattern(r)
    case Arith(_, l, r)   => containsCountPattern(l) || containsCountPattern(r)
    case IsNull(x)        => containsCountPattern(x)
    case Coalesce(xs)     => xs.exists(containsCountPattern)
    case CaseExpr(ws, o)  =>
      ws.exists { case (c, v) =>
        containsCountPattern(c) || containsCountPattern(v) } ||
        o.exists(containsCountPattern)
    case FnCall(_, a, _, _) => a.exists(containsCountPattern)
    case FnCallN(_, as)   => as.exists(containsCountPattern)
    case ReduceExpr(_, init, _, l, _) =>
      containsCountPattern(init) || containsCountPattern(l)
    case ListComp(_, l, _, _) => containsCountPattern(l)
    case ListPred(_, _, l, _) => containsCountPattern(l)
    case InList(x, l)     => containsCountPattern(x) || containsCountPattern(l)
    case _                => false
  }

  private def containsExists(e: CExpr): Boolean = e match {
    case _: ExistsPattern => true
    case _: ExistsSubquery => true
    case And(l, r)        => containsExists(l) || containsExists(r)
    case Or(l, r)         => containsExists(l) || containsExists(r)
    case Not(x)           => containsExists(x)
    case Cmp(_, l, r)     => containsExists(l) || containsExists(r)
    case _                => false
  }

  /** WITH: re-project the pipeline. A bare `v` item for a bound
    * pattern variable carries the whole node through (all its
    * columns); any other item becomes a scalar column named after the
    * item. If any item aggregates, the non-aggregate items are the
    * grouping keys (Cypher implicit grouping) and the trailing WHERE
    * is a HAVING.
    */
  private def planWith(s: Scope, w0: WithClause): Scope = {
    val w = w0.copy(items = expandStar(s, w0.items).map(i =>
      i.copy(expr = expandMapStars(s.df, i.expr))))
    val (aggs, keys) = w.items.partition(i => isAggregate(i.expr))
    val nodeKeeps = keys.collect {
      case ReturnItem(Ident(v), None) if s.nodeVars(v) => v
    }
    val scalarItems = keys.filterNot {
      case ReturnItem(Ident(v), None) => s.nodeVars(v)
      case _                          => false
    }
    val nodeCols = nodeKeeps.flatMap(v =>
      s.df.columns.filter(_.startsWith(s"${v}__")).map(col))
    val scalarCols = scalarItems.map(i => toColumn(i.expr, s.binds).as(i.name))

    var df =
      if (aggs.nonEmpty) {
        val aggCols = aggs.map(i =>
          toAggColumn(i.expr, s.binds, pathCountVars(s.df), s.df).as(i.name))
        val keyCols = nodeCols ++ scalarCols
        if (keyCols.isEmpty) s.df.agg(aggCols.head, aggCols.tail: _*)
        else s.df.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
      } else {
        val sel = s.df.select(nodeCols ++ scalarCols: _*)
        if (w.distinct) sel.distinct() else sel
      }
    // which of the new bindings hold lists: a list-shaped expression
    // (collect/split/comprehension/…) or a carried-through list var
    def bindsList(e: CExpr): Boolean = isListShaped(e) || (e match {
      case Ident(n) => s.lists(n)
      case _        => false
    })
    val newLists = (scalarItems ++ aggs)
      .filter(i => bindsList(i.expr)).map(_.name).toSet
    val newBinds = Bindings(
      s.scalars ++ scalarItems.map(_.name) ++ aggs.map(_.name), newLists)
    w.where.foreach(e => df = df.filter(toColumn(e, newBinds)))
    if (w.orderBy.nonEmpty)
      df = df.orderBy(w.orderBy.map { o =>
        val c = o.expr match {
          case Ident(n) => col(n)
          case e        => toColumn(e, newBinds)
        }
        if (o.ascending) c.asc else c.desc
      }: _*)
    w.skip.foreach(n => df = df.offset(n.toInt))
    w.limit.foreach(n => df = df.limit(n.toInt))
    // TINY-horizon tracking (feeds the cross-join broadcast hint): a
    // global aggregate is 1 row; an aggregate whose every grouping
    // key derives from tiny-domain scalars has a tiny key domain; a
    // small LIMIT is tiny by construction; a pure projection of a
    // tiny frame stays tiny (select/distinct/filter never grow rows)
    val outTiny =
      w.limit.exists(_ <= 10000) ||
      (aggs.nonEmpty && nodeKeeps.isEmpty &&
        scalarItems.forall(i => tinyDerived(i.expr, s.tinyScalars))) ||
      (aggs.isEmpty && s.tiny)
    val outNames = (scalarItems.map(_.name) ++ aggs.map(_.name)).toSet
    val outTinyScalars =
      if (outTiny) outNames
      else scalarItems.filter(i => tinyDerived(i.expr, s.tinyScalars))
        .map(_.name).toSet
    // display-zone carry (r18): an item that IS a zone-constructed
    // datetime (literal timezone) binds its alias to that zone, and a
    // plain passthrough of an already-zoned alias keeps it — so
    // toString(d) after the horizon renders like the nested form
    def zoneOf(e: CExpr): Option[String] = e match {
      case FnCallN("@mkdatetime", dtArgs) =>
        dtArgs.grouped(2).collectFirst {
          case Seq(LitV("timezone"), LitV(z: String)) => z
        }
      case Ident(n) => s.zones.get(n)
      case _        => None
    }
    val outZones = scalarItems
      .flatMap(i => zoneOf(i.expr).map(i.name -> _)).toMap
    Scope(df, nodeKeeps.toSet, outNames, newLists,
      tiny = outTiny, tinyScalars = outTinyScalars, zones = outZones)
  }

  /** True when `e` only reads literals and scalars whose value domain
    * is already known tiny — the conservatively-recognized shapes of
    * the scalar-carry idiom (anything else reports false and simply
    * forgoes the broadcast hint).
    */
  private def tinyDerived(e: CExpr, tiny: Set[String]): Boolean = e match {
    case Ident(n)           => tiny(n)
    case LitV(_)            => true
    case Arith(_, l, r)     => tinyDerived(l, tiny) && tinyDerived(r, tiny)
    case Cmp(_, l, r)       => tinyDerived(l, tiny) && tinyDerived(r, tiny)
    case Coalesce(as)       => as.forall(tinyDerived(_, tiny))
    case FnCall(_, a, _, _) => a.forall(tinyDerived(_, tiny))
    case FnCallN(_, as)     => as.forall(tinyDerived(_, tiny))
    case CaseExpr(ws, o) =>
      ws.forall { case (c, v) =>
        tinyDerived(c, tiny) && tinyDerived(v, tiny) } &&
        o.forall(tinyDerived(_, tiny))
    case _ => false
  }

  /** The UNION property schema of a set of typed edge tables (name →
    * type, name-sorted): the fixed payload shape a named multi-type /
    * typeless relationship needs — each branch null-fills properties
    * it lacks (typed from a carrier table), so `r.prop` on a step of
    * a type without the property reads null, Neo4j's missing-property
    * value, instead of failing on mismatched union schemas (r15).
    * Same-named properties with CONFLICTING types across tables
    * reject loudly (one struct field, one type).
    */
  private def unionPropSchema(tables: Seq[(String, DataFrame)])
      : Seq[(String, org.apache.spark.sql.types.DataType)] = {
    val m = scala.collection.mutable.LinkedHashMap[
      String, org.apache.spark.sql.types.DataType]()
    tables.sortBy(_._1).foreach { case (tn, t) =>
      t.schema.fields
        .filterNot(f => f.name == "__src" || f.name == "__dst")
        .foreach { f =>
          m.get(f.name) match {
            case None => m += f.name -> f.dataType
            case Some(dt) => require(dt == f.dataType,
              s"relationship property '${f.name}' has conflicting " +
                s"types across the union's tables (:$tn has " +
                s"${f.dataType.simpleString}, an earlier type " +
                s"${dt.simpleString}) — a multi-type payload needs " +
                s"one schema")
          }
        }
    }
    m.toSeq.sortBy(_._1)
  }

  /** Map-projection `.*` resolution (r15): the parser has no label
    * context, so `n {.*, extra: expr}` carries an `@mapstar` marker —
    * resolved HERE, where the bound frame is in scope: the variable's
    * property columns (`v__p`; the id and planner-internal `@` names
    * excluded) enumerate the key list at plan time, sorted, minus any
    * key the projection already names explicitly (Neo4j: explicit
    * entries override the star's). Works for node AND relationship
    * variables (both bind plain `v__prop` columns). A variable with
    * no property columns in the frame (scalar binding, elided scan)
    * rejects loudly — the narrowed form of the former blanket reject.
    */
  private def expandMapStars(df: DataFrame, e: CExpr): CExpr = {
    def rw(x: CExpr): CExpr = x match {
      case FnCallN("@mapproj", as) =>
        val hasStar = as.drop(1).exists {
          case FnCallN("@mapstar", _) => true; case _ => false
        }
        if (!hasStar) FnCallN("@mapproj", as.head +: as.drop(1).map(rw))
        else {
          val v = as.head match {
            case Ident(n) => n
            case other => throw new IllegalArgumentException(
              s"map projection must target a variable, got $other")
          }
          val explicit = as.drop(1).collect {
            case LitV(k: String) => k
            case FnCallN("@mapentry", Seq(LitV(k: String), _)) => k
          }.toSet
          val props =
            if (df == null) Seq.empty[String]
            else df.columns.toSeq.filter(_.startsWith(s"${v}__"))
              .map(_.stripPrefix(s"${v}__"))
              .filter(p => p != "id" && !p.startsWith("@")).sorted
          require(props.nonEmpty,
            s"map-projection `.*` on '$v': no property columns for " +
              s"'$v' in the current frame — `.*` enumerates the " +
              s"matched pattern's properties; list keys explicitly " +
              s"for scalar bindings")
          val entries = as.drop(1).flatMap {
            case FnCallN("@mapstar", _) =>
              props.filterNot(explicit).map(p => LitV(p): CExpr)
            case other => Seq(rw(other))
          }
          FnCallN("@mapproj", as.head +: entries)
        }
      case FnCall(n, a, s0, d)   => FnCall(n, a.map(rw), s0, d)
      case FnCallN(n, as)        => FnCallN(n, as.map(rw))
      case Cmp(op, l, r)         => Cmp(op, rw(l), rw(r))
      case Arith(op, l, r)       => Arith(op, rw(l), rw(r))
      case And(l, r)             => And(rw(l), rw(r))
      case Or(l, r)              => Or(rw(l), rw(r))
      case Not(y)                => Not(rw(y))
      case IsNull(y)             => IsNull(rw(y))
      case InList(y, l)          => InList(rw(y), rw(l))
      case StrPred(op, l, r)     => StrPred(op, rw(l), rw(r))
      case Coalesce(xs)          => Coalesce(xs.map(rw))
      case ListLit(xs)           => ListLit(xs.map(rw))
      case CaseExpr(ws, o)       =>
        CaseExpr(ws.map { case (c, v) => (rw(c), rw(v)) }, o.map(rw))
      case ListComp(v, l, w, p)  => ListComp(v, rw(l), w.map(rw), p.map(rw))
      case ReduceExpr(a, i, v, l, st) =>
        ReduceExpr(a, rw(i), v, rw(l), rw(st))
      case ListPred(k, v, l, p)  => ListPred(k, v, rw(l), rw(p))
      case other                 => other
    }
    rw(e)
  }

  /** `*` placeholder (RETURN * / WITH *) → every bound scalar then
    * every bound node variable, name-sorted (Neo4j's column order is
    * also deterministic by name). Node variables then expand to
    * whole-node projections downstream.
    */
  private def expandStar(s: Scope, items: Seq[ReturnItem]): Seq[ReturnItem] =
    items.flatMap {
      case ReturnItem(Ident("*"), None) =>
        // planner-internal bindings (COUNT{} subquery aliases etc.)
        // are not user-visible and must not surface through the star
        s.scalars.toSeq.filterNot(_.startsWith("__graft_")).sorted
          .map(n => ReturnItem(Ident(n), None)) ++
          s.nodeVars.toSeq.sorted.map(v => ReturnItem(Ident(v), None))
      case other => Seq(other)
    }

  private def planReturn(s: Scope, q00: ReturnClause): DataFrame = {
    val q0 = q00.copy(items = expandStar(s, q00.items).map(i =>
      i.copy(expr = expandMapStars(s.df, i.expr))))
    // bare `RETURN n` for a bound pattern variable returns the whole
    // node: expand to one output column per property, named `n.prop`
    // (the tabular spelling of Neo4j's node value; ids stay behind
    // `id(n)`). Under DISTINCT or implicit grouping the node's id is
    // carried as a hidden key — Neo4j dedups/groups nodes by IDENTITY,
    // not by property values, so two distinct nodes with identical
    // properties must stay two rows/groups. The hidden column is
    // dropped after the dedup/aggregation.
    val returnsAgg = q0.items.exists(i => isAggregate(i.expr))
    val needIdentity = q0.distinct || returnsAgg
    var hidden = List.empty[String]
    val q = q0.copy(items = q0.items.flatMap {
      case ReturnItem(Ident(v), None) if s.nodeVars(v) =>
        // "@"-prefixed names are planner-internal (labels/type/len)
        // and never user properties — they stay out of the node value
        val props = s.df.columns.toSeq.filter(_.startsWith(s"${v}__"))
          .map(_.stripPrefix(s"${v}__"))
          .filter(p => p != "id" && !p.startsWith("@")).sorted
          .map(p => ReturnItem(Prop(v, p), Some(s"$v.$p")))
        if (needIdentity) {
          val h = s"__identity_$v"
          hidden ::= h
          props :+ ReturnItem(Prop(v, "id"), Some(h))
        } else props
      case other => Seq(other)
    })
    val df = s.df
    val hasAgg = q.items.exists(i => isAggregate(i.expr))
    val names = q.items.map(_.name).toSet
    // sorts on anything but an output column must evaluate BEFORE the
    // projection discards the source columns; a projection preserves
    // its child's ordering, so sort-then-select is the same result
    val preSort = q.orderBy.exists {
      case SortItem(Ident(n), _)  => !names(n)
      // `ORDER BY n.prop` where whole-node expansion produced an
      // output column literally named "n.prop"
      case SortItem(Prop(v, p), _) => !names(s"$v.$p")
      case _                      => true
    }
    var out: DataFrame =
      if (hasAgg) {
        require(!preSort,
          "ORDER BY with aggregation must reference output columns")
        val (aggs, keys) = q.items.partition(i => isAggregate(i.expr))
        val keyCols = keys.map(i => toColumn(i.expr, s.binds).as(i.name))
        val aggCols = aggs.map(i =>
          toAggColumn(i.expr, s.binds, pathCountVars(df), df).as(i.name))
        if (keyCols.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
        else df.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
          // backticks: whole-node expansion names columns `v.prop`
          .select(q.items.map(i => col(s"`${i.name}`")): _*)
      } else if (preSort) {
        require(!q.distinct,
          "ORDER BY on non-output expressions with DISTINCT is unsupported")
        val byName = q.items.map(i => i.name -> i.expr).toMap
        val sorts = q.orderBy.map { o =>
          val e = o.expr match {
            case Ident(n) if byName.contains(n) => byName(n)
            case e                              => e
          }
          val c = toColumn(e, s.binds)
          if (o.ascending) c.asc else c.desc
        }
        df.orderBy(sorts: _*)
          .select(q.items.map(i => toColumn(i.expr, s.binds).as(i.name)): _*)
      } else {
        val sel = df.select(q.items.map(i => toColumn(i.expr, s.binds).as(i.name)): _*)
        if (q.distinct) sel.distinct() else sel
      }

    if (q.orderBy.nonEmpty && !preSort) {
      val sorts = q.orderBy.map { o =>
        val c = o.expr match {
          case Ident(n)                            => col(n)
          case Prop(v, p) if names(s"$v.$p")       => col(s"`$v.$p`")
          case e                                   => toColumn(e, s.binds)
        }
        if (o.ascending) c.asc else c.desc
      }
      out = out.orderBy(sorts: _*)
    }
    q.skip.foreach(n => out = out.offset(n.toInt))
    q.limit.foreach(n => out = out.limit(n.toInt))
    if (hidden.nonEmpty) out = out.drop(hidden: _*)
    out
  }

  /** Pattern variables whose node-table COLUMNS (properties, labels,
    * whole-node projection) are read anywhere in the query. A bare
    * identifier inside an expression only ever resolves to the id
    * column, so it does NOT put its variable here — only property
    * access `v.p`, `labels(v)`, and a bare `v` as a RETURN/WITH item
    * (whole-node expansion) do. Everything else is identity-only and
    * eligible for scan elision in [[ChainPlanner]].
    */
  private def colsNeeded(q: CypherQuery): Set[String] = {
    val out = scala.collection.mutable.Set[String]()
    def walk(e: CExpr): Unit = e match {
      case Prop(v, _)          => out += v
      case FnCall("labels" | "keys" | "properties", arg, _, _) =>
        arg.foreach { case Ident(v) => out += v; case other => walk(other) }
      case FnCall(_, arg, _, _) => arg.foreach(walk)
      case FnCallN("@mapproj", as) =>
        as.headOption.foreach { case Ident(v) => out += v; case _ => () }
        // computed entries may reference OTHER variables' properties
        as.drop(1).foreach {
          case FnCallN("@mapentry", Seq(_, e)) => walk(e)
          case _ => ()
        }
      // a label predicate reads the variable's @labels scan column
      case FnCallN("@haslabel", as) =>
        as.headOption.foreach { case Ident(v) => out += v; case _ => () }
      case FnCallN(_, as)      => as.foreach(walk)
      case ListPred(_, _, l, p) => walk(l); walk(p)
      case Cmp(_, l, r)        => walk(l); walk(r)
      case Arith(_, l, r)      => walk(l); walk(r)
      case And(l, r)           => walk(l); walk(r)
      case Or(l, r)            => walk(l); walk(r)
      case Not(x)              => walk(x)
      case IsNull(x)           => walk(x)
      case InList(x, l)        => walk(x); walk(l)
      case StrPred(_, l, r)    => walk(l); walk(r)
      case Coalesce(xs)        => xs.foreach(walk)
      case CaseExpr(ws, els)   =>
        ws.foreach { case (c, v) => walk(c); walk(v) }; els.foreach(walk)
      case ListLit(xs)         => xs.foreach(walk)
      // a full-body EXISTS reads outer columns inside its pipeline —
      // over-approximate (extra names only reduce scan elision)
      case ExistsSubquery(body) =>
        out ++= colsNeeded(CypherQuery(body))
        body.foreach {
          case MatchClause(ch, _, _) => out ++= ch.nodeVars
          case _                     => ()
        }
      case CountSubquery(body) =>
        out ++= colsNeeded(CypherQuery(body))
        body.foreach {
          case MatchClause(ch, _, _) => out ++= ch.nodeVars
          case _                     => ()
        }
      case CollectSubquery(body) =>
        out ++= colsNeeded(CypherQuery(body))
        body.foreach {
          case MatchClause(ch, _, _) => out ++= ch.nodeVars
          case _                     => ()
        }
      case _                   => () // Ident/LitV/Param/ExistsPattern
    }
    def walkItems(items: Seq[ReturnItem]): Unit = items.foreach {
      // `*` projects EVERY bound variable whole-node, so every pattern
      // variable's properties are needed — without this, a label-less
      // endpoint would be scan-elided as identity-only and then
      // silently contribute zero columns to the star expansion
      case ReturnItem(Ident("*"), _) =>
        q.clauses.foreach {
          case MatchClause(chain, _, _) => out ++= chain.nodeVars
          case _                        => ()
        }
      case ReturnItem(Ident(v), _) => out += v // whole-node projection
      case ReturnItem(e, _)        => walk(e)
    }
    q.clauses.foreach {
      case MatchClause(_, _, where) => where.foreach(walk)
      case FilterClause(e)          => walk(e)
      case UnwindClause(l, _)       => walk(l)
      case w: WithClause            =>
        walkItems(w.items); w.where.foreach(walk)
        w.orderBy.foreach(s0 => walk(s0.expr))
      case CallClause(imports, inner) =>
        // over-approximate: imported vars and everything the subquery
        // reads count as needed (extra columns only reduce scan
        // elision, never correctness)
        out ++= imports
        out ++= colsNeeded(CypherQuery(inner))
      case CallInTxClause(imports, body, _, _, _) =>
        out ++= imports
        out ++= colsNeeded(CypherQuery(body))
      case WriteRelClause(_, _, oc, om) => // endpoints read only __id
        (oc ++ om).foreach { case (_, e) => walk(e) }
      case CreateNodeClause(_, _, ps, _, oc, om) =>
        (ps ++ oc ++ om).foreach { case (_, e) => walk(e) }
      case _: DeleteRelClause       => () // rel props bind via the rel var
      case _: DetachDeleteClause    => () // reads only the node __id
      case RemovePropClause(ts)     => ts.foreach { case (v, _) => out += v }
      case SetPropClause(as)        =>
        as.foreach { case (v, _, e) => out += v; walk(e) }
      case SetMapClause(v, entries) =>
        out += v; entries.foreach { case (_, e) => walk(e) }
      case SetLabelClause(v, _)     => out += v
      case ForeachClause(_, l, body) =>
        walk(l); out ++= colsNeeded(CypherQuery(body))
      case _: CatalogCallClause     => () // plan-time catalog literals
      case r: ReturnClause          =>
        walkItems(r.items); r.orderBy.foreach(s0 => walk(s0.expr))
    }
    out.toSet
  }

  /** Names whose WALKS a shortest-path chain must materialize:
    * `nodesOf`/`relsOf` hold path variables consumed via
    * `nodes(p)`/`relationships(p)`, `idents` every plain identifier
    * reference anywhere in the pipeline (named relationship lists,
    * group variables). `length(p)`/`cost(p)`/`count(p)` read
    * pair-level scalars and do NOT register — a shortestPath consumed
    * only through them keeps the plain pair×depth BFS, which never
    * pays the walk arrays (the per-level localCheckpoint materializes
    * eagerly, so Catalyst cannot prune an always-carried walk; the
    * decision must be made from the AST, here).
    */
  private final case class WalkRefs(nodesOf: Set[String],
      relsOf: Set[String], idents: Set[String]) {
    def walksOf(pv: String): Boolean = nodesOf(pv) || relsOf(pv)
  }
  private object WalkRefs {
    val empty: WalkRefs = WalkRefs(Set.empty, Set.empty, Set.empty)
  }

  private def walkRefVars(clauses: Seq[Clause]): WalkRefs = {
    val nodesOf = scala.collection.mutable.Set[String]()
    val relsOf = scala.collection.mutable.Set[String]()
    val idents = scala.collection.mutable.Set[String]()
    def walk(e: CExpr): Unit = e match {
      case FnCall("nodes", Some(Ident(v)), _, _) => nodesOf += v; idents += v
      case FnCall("relationships", Some(Ident(v)), _, _) =>
        relsOf += v; idents += v
      case Ident(v)             => idents += v
      case Prop(v, _)           => idents += v
      case FnCall(_, arg, _, _) => arg.foreach(walk)
      case FnCallN(_, as)       => as.foreach(walk)
      case ListPred(_, _, l, p) => walk(l); walk(p)
      case ListComp(_, l, w, pj) => walk(l); w.foreach(walk); pj.foreach(walk)
      case ReduceExpr(_, i, _, l, st) => walk(i); walk(l); walk(st)
      case RangeList(f, t, st)  => walk(f); walk(t); walk(st)
      case PercentileCont(a, _) => walk(a)
      case PercentileDisc(a, _) => walk(a)
      case ExistsPattern(_, w)  => w.foreach(walk)
      case ExistsSubquery(body) => walkAll(body)
      case CountSubquery(body)  => walkAll(body)
      case CollectSubquery(body) => walkAll(body)
      case CountPattern(_, w)   => w.foreach(walk)
      case PatternComp(_, w, pj) => w.foreach(walk); walk(pj)
      case Cmp(_, l, r)         => walk(l); walk(r)
      case Arith(_, l, r)       => walk(l); walk(r)
      case And(l, r)            => walk(l); walk(r)
      case Or(l, r)             => walk(l); walk(r)
      case Not(x)               => walk(x)
      case IsNull(x)            => walk(x)
      case InList(x, l)         => walk(x); walk(l)
      case StrPred(_, l, r)     => walk(l); walk(r)
      case Coalesce(xs)         => xs.foreach(walk)
      case CaseExpr(ws, els)    =>
        ws.foreach { case (c, v) => walk(c); walk(v) }; els.foreach(walk)
      case ListLit(xs)          => xs.foreach(walk)
      case _                    => () // LitV/Param/ColRef
    }
    def walkAll(cs: Seq[Clause]): Unit = cs.foreach {
      case MatchClause(_, _, where)   => where.foreach(walk)
      case FilterClause(e)            => walk(e)
      case UnwindClause(l, _)         => walk(l)
      case w: WithClause              =>
        w.items.foreach(i => walk(i.expr)); w.where.foreach(walk)
        w.orderBy.foreach(s0 => walk(s0.expr))
      case CallClause(_, inner)       => walkAll(inner)
      case CallInTxClause(_, body, _, _, _) => walkAll(body)
      case WriteRelClause(_, _, oc, om) =>
        (oc ++ om).foreach { case (_, e) => walk(e) }
      case CreateNodeClause(_, _, ps, _, oc, om) =>
        (ps ++ oc ++ om).foreach { case (_, e) => walk(e) }
      case SetPropClause(as)          => as.foreach { case (_, _, e) => walk(e) }
      case SetMapClause(_, entries)   => entries.foreach { case (_, e) => walk(e) }
      case ForeachClause(_, l, body)  => walk(l); walkAll(body)
      case r: ReturnClause            =>
        r.items.foreach(i => walk(i.expr)); r.orderBy.foreach(s0 => walk(s0.expr))
      case _                          => ()
    }
    walkAll(clauses)
    WalkRefs(nodesOf.toSet, relsOf.toSet, idents.toSet)
  }

  /** Plans one linear pattern chain, one pattern element at a time,
    * over one shared state: the accumulated frame `df` (which also
    * carries the `__chain_eids` and `__path_*` accumulators), the bound
    * node variables, the current node `cur` and its label, and a
    * deferred start scan. `prev` (with `prevBound` vars) is the
    * accumulated plan from earlier clauses; a chain that starts from an
    * already-bound variable extends it, otherwise the chains are
    * cross-joined (per Cypher cartesian-product semantics). `plan()`
    * returns (df, node variables bound).
    *
    * Every hop is planned in TRAVERSAL orientation: `__src` is the
    * hop's pattern-left node and `__dst` its pattern-right node (an Out
    * hop reads its edges as stored, an In hop swapped, an undirected
    * hop mirrored). Seeds, join keys, walk lists and step constraints
    * therefore never depend on the spelled direction; only
    * startNode(r)/endNode(r) read the stored endpoints, bound before
    * orientation.
    */
  private final class ChainPlanner(graph: PropertyGraph, chain: PatternChain,
      prevBound: Set[String], prev: DataFrame,
      virtualVars: Set[String] = Set.empty,
      needs: Option[Set[String]] = None,
      wref: WalkRefs = WalkRefs.empty) {

    private var df = prev
    private var bound = prevBound
    private var cur = ""
    // the CURRENT node's pattern label, tracked through the hops —
    // drives static schema pruning of type-less relationship unions
    private var curLabel: Option[String] = None
    // the chain start's scan elision is deferred: its id column
    // materializes from the FIRST hop's edge source instead
    private var pendingStart: Option[String] = None

    // Cypher relationship uniqueness (isomorphism) spans ALL
    // relationships bound by one MATCH pattern, not just one
    // var-length walk. Relationships of different types can never be
    // equal, so a hop needs an edge identity only when another hop of
    // the same chain could bind the same edge: same type, or either
    // hop type-less.
    private val chainEidAt: Seq[Boolean] = {
      val hopTypes: Seq[Option[Set[String]]] = chain.hops.map { h =>
        h._1.groupChain match {
          // a composite group binds every inner hop's type; a typeless
          // inner hop can bind ANY type (None = overlaps everything)
          case Some(ch) =>
            if (ch.hops.exists(_._1.relType.isEmpty)) None
            else Some(ch.hops.flatMap(ih =>
              ih._1.relType.toSeq ++ ih._1.altTypes).toSet)
          case None =>
            if (h._1.relType.isEmpty) None
            else Some((h._1.relType.toSeq ++ h._1.altTypes).toSet)
        }
      }
      def overlap(a: Option[Set[String]], b: Option[Set[String]]): Boolean =
        a.isEmpty || b.isEmpty || a.get.intersect(b.get).nonEmpty
      hopTypes.zipWithIndex.map { case (t, i) =>
        hopTypes.zipWithIndex.exists { case (u, j) => j != i && overlap(t, u) }
      }
    }

    def plan(): (DataFrame, Set[String]) = {
      if (chain.shortest) {
        // a NAMED hop binds the walk's relationship list — legal on
        // plain shortestPath since the walk-carrying BFS (r15), and on
        // allShortestPaths since the capped walk enumeration (r16); the
        // hop-level needEpl logic enforces the remaining carve-outs
        require(chain.hops.size == 1 &&
            chain.hops.head._1.varLength.exists(_._1 == 1),
          "shortestPath supports a single var-length hop starting at *1")
      }
      cur = bindStart(chain.start)
      curLabel = chain.start.soleLabel
      chain.hops.zipWithIndex.foreach { case ((rel, next), i) =>
        val h = new Hop(rel, next, i)
        joinHop(h, rel.varLength match {
          case None => hopFrame(h)
          case Some((lo, hi)) => expandVar(h, lo, hi)
        })
        bindWalk(h)
        cur = h.nv
        curLabel = next.soleLabel
      }
      finish()
    }

    // identity-only scan elision: a label-less, prop-less pattern
    // variable whose property columns are never read anywhere in the
    // query (per colsNeeded) binds its id straight off the edge
    // endpoint — the node-table union scan proves nothing (every edge
    // endpoint is a node by construction) and is dropped from the
    // plan. At 100 TB this removes entire table scans from
    // existence-only patterns like `(n:Nation)-[r]->(x)` or `-->()`.
    private def idOnly(np: NodePattern, v: String): Boolean =
      needs.exists(n => np.label.isEmpty && np.props.isEmpty &&
        np.negLabels.isEmpty && !n(v))

    /** Inline property map `{k: v}` on one table: equality filters
      * on the table's own columns; a table without the property
      * contributes nothing (Neo4j: null never equals). Union scans
      * apply it per branch.
      */
    private def propsFilter(t: DataFrame, props: Map[String, Any]): DataFrame =
      props.foldLeft(t) { case (b, (k, v)) =>
        if (b.columns.contains(k)) b.filter(col(k) === lit(v))
        else b.filter(lit(false))
      }

    /** `keys(x)` / `properties(x)` of one table's rows: the sorted
      * property-name list, and a key-sorted array<struct<key,val>>
      * (val stringified — property types are heterogeneous) with null
      * values dropped to match Neo4j's absent-key semantics. Both are
      * literal-keyed, so Catalyst prunes them (and the columns they
      * read) whenever neither is asked for. A property-less table
      * still needs the TYPED empty array — a bare array() is
      * array<void> and the null-dropping lambda cannot field-extract
      * from it.
      */
    private def keysAndProps(t: DataFrame, ids: Set[String]): (Column, Column) = {
      val ks = t.columns.filterNot(ids).sorted.toSeq
      val props =
        if (ks.isEmpty) array().cast("array<struct<key:string,val:string>>")
        else org.apache.spark.sql.functions.filter(
          array(ks.map(k => struct(lit(k).as("key"),
            col(k).cast("string").as("val"))): _*),
          x => x.getField("val").isNotNull)
      (array(ks.map(lit(_)): _*), props)
    }

    /** The edge tables a relationship pattern reads, in STORED
      * orientation, name-sorted: a typed hop one table, `-[:A|B]->`
      * the listed tables, a typeless hop every table minus the
      * negated types `-[:!T]->` (a relationship has ONE type; unknown
      * negated names exclude nothing) whose declared endpoint labels
      * can match the hop's node labels `from` → `to` (pattern order).
      * That static schema pruning means `(n:Nation)-[r]->(x)` never
      * scans an order→part edge table — at 100 TB the difference
      * between two small scans and every edge list in the graph.
      * Types without a declared schema are kept.
      */
    private def relTables(r: RelPattern, from: Option[String],
        to: Option[String]): Seq[(String, DataFrame)] = r.relType match {
      case Some(t) => (t +: r.altTypes).distinct.sorted
        .map(tn => tn -> graph.relTable(tn))
      case None =>
        def fits(want: Option[String], have: String) = want.forall(_ == have)
        graph.rels.toSeq.sortBy(_._1).filter { case (tn, _) =>
          !r.negTypes.contains(tn) && (graph.relEndpoints.get(tn) match {
            case None => true
            case Some((sl, dl)) =>
              val out = fits(from, sl) && fits(to, dl)
              val in = fits(from, dl) && fits(to, sl)
              r.direction match {
                case Out  => out
                case In   => in
                case Both => out || in
              }
          })
        }
    }

    /** Declared endpoint label(s) of a hop's relationship type(s) on
      * its traversal source (`source`) or target side. An undirected
      * hop traverses mirrored edge rows, so EITHER declared endpoint
      * can be a step's source or target — both are included (ids are
      * globally unique across labels, the union never duplicates a
      * node); a one-sided lookup would null out a step predicate on
      * mirrored rows of a heterogeneous-endpoint relationship and
      * silently drop them.
      */
    private def endpointLabels(r: RelPattern, source: Boolean): Seq[String] =
      (r.relType.toSeq ++ r.altTypes).flatMap(graph.relEndpoints.get)
        .flatMap { ep =>
          r.direction match {
            case Both => Seq(ep._1, ep._2)
            case In   => Seq(if (source) ep._2 else ep._1)
            case Out  => Seq(if (source) ep._1 else ep._2)
          }
        }.distinct

    /** The edge frame with `__src` and `__dst` swapped — an In hop's
      * traversal orientation, an undirected hop's mirror; everything
      * else (identity, payload) rides along unchanged.
      */
    private def swapEnds(e: DataFrame): DataFrame = e.select(e.columns.toSeq.map {
      case "__src" => col("__dst").as("__src")
      case "__dst" => col("__src").as("__dst")
      case c       => col(c)
    }: _*)

    /** Edge identity `__eid` = (type, src, dst, rank among parallel
      * edges) in the edge's ORIGINAL orientation, tagged BEFORE any
      * mirroring — the mirror carries the struct through unchanged, so
      * an undirected edge and its mirror share one identity while two
      * distinct anti-parallel edges keep separate ones. The rank
      * window is partitioned by the edge key (parallel, no global
      * funnel) and ordered by the remaining columns — `@`-meta
      * literals excluded, which keeps it off array-of-struct ordering —
      * so it is deterministic up to fully-duplicate rows, which are
      * interchangeable. It ranks across whatever frame it is given: a
      * single hop's type union, or one table of a group's inner hop.
      */
    private def withEid(t: DataFrame, tag: Column): DataFrame = {
      val ordCols = t.columns.toSeq.filterNot(Set("__src", "__dst"))
        .filterNot(_.startsWith("@")).sorted.map(col) match {
        case Seq() => Seq(col("__src"))
        case cs    => cs
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__src"), col("__dst")).orderBy(ordCols: _*)
      t.withColumn("__eid", struct(tag.as("t"), col("__src").as("u"),
        col("__dst").as("v"), row_number().over(w).as("k")))
    }

    /** The type tag of every edge row: a union's `__rt`, or the hop's
      * one type.
      */
    private def typeTag(e: DataFrame, r: RelPattern): Column =
      if (e.columns.contains("__rt")) col("__rt")
      else lit(r.relType.getOrElse(""))

    /** Every node id, across all labels (a multi-label node
      * contributes once) — the zero-length expansion branch's domain.
      */
    private def nodeUniverse: DataFrame = graph.nodes.values
      .map(_.select(col("__id"))).reduce(_.union(_)).distinct()

    /** The rows of the nodes a pattern matches: its label — one table,
      * the union of the alternatives `(n:A|B)` (each table contributes
      * its own property columns, missing ones null out; two pruned
      * scans, never the whole catalog), the conjunction `(n:A:B)` (the
      * first label's table narrowed by an id semi-join per further
      * label), or, label-less, the union of every label table — then
      * the inline property map per table on the table's own columns,
      * and an id anti-join per negated label `(n:!A)` (an unknown
      * negated label excludes nothing, per Neo4j). With `meta` every
      * row carries its label list, property keys and properties as the
      * hidden literals `@labels` / `@keys` / `@props` (Catalyst prunes
      * them when unused); the id-only matcher leaves them and the
      * property columns out.
      */
    private def nodeMatch(np: NodePattern, meta: Boolean): DataFrame = {
      def branch(label: String, t: DataFrame): DataFrame = {
        val b = propsFilter(t, np.props)
        if (!meta) b.select(col("__id"))
        else {
          // keys(n): the property-name list, sorted, excluding the
          // hidden __id (Neo4j returns property keys, not the id)
          val (keys, props) = keysAndProps(t, Set("__id"))
          b.withColumn("@labels", array(lit(label)))
            .withColumn("@keys", keys)
            .withColumn("@props", props)
        }
      }
      def union(labels: Seq[String]): DataFrame = labels
        .map(l => branch(l, graph.nodeTable(l)))
        .reduce(_.unionByName(_, allowMissingColumns = true))
      var t = np.label match {
        case Some(l) if np.altLabels.nonEmpty =>
          union((l +: np.altLabels).distinct.sorted)
        case Some(l) if np.moreLabels.nonEmpty =>
          // property columns come from the FIRST label's table (one
          // node, one property set — the write family copies rows on
          // SET n:Label, so tables agree)
          val conj = branch(l, np.moreLabels.distinct.filter(_ != l)
            .foldLeft(graph.nodeTable(l)) { (acc, l2) =>
              acc.join(graph.nodeTable(l2).select(col("__id")),
                Seq("__id"), "left_semi")
            })
          if (!meta) conj
          else {
            // labels(n) of a multi-label scan is the per-id label SET:
            // @labels joins the id→sorted-label-set catalog (Neo4j's
            // getLabels equivalent)
            val catalog = graph.nodes.toSeq.sortBy(_._1)
              .map { case (ln, t0) => t0.select(col("__id"), lit(ln).as("__l")) }
              .reduce(_.union(_))
              .groupBy(col("__id"))
              .agg(sort_array(collect_set(col("__l"))).as("__dynlabels"))
            conj.join(catalog, Seq("__id"), "left_outer")
              .withColumn("@labels", col("__dynlabels")).drop("__dynlabels")
          }
        case Some(l) => branch(l, graph.nodeTable(l))
        case None => union(graph.nodes.keys.toSeq.sorted)
      }
      np.negLabels.distinct.foreach { nl =>
        graph.nodes.get(nl).foreach(nt =>
          t = t.join(nt.select(col("__id")), Seq("__id"), "left_anti"))
      }
      t
    }

    /** Node-id frame satisfying a pattern's label/property
      * constraints, or None for a bare pattern — the semi-join side of
      * per-step group constraints.
      */
    private def constraintIds(np: NodePattern): Option[DataFrame] =
      if (np.label.isEmpty && np.props.isEmpty && np.moreLabels.isEmpty &&
          np.negLabels.isEmpty) None
      else Some(nodeMatch(np, meta = false))

    /** A node pattern's scan, its columns renamed to `v__id` / `v__p`. */
    private def nodeDf(np: NodePattern): (DataFrame, String) = {
      val v = np.variable.getOrElse(s"__anon${np.hashCode.abs}")
      val t = nodeMatch(np, meta = true)
      (t.select(t.columns.toSeq.map(c =>
        if (c == "__id") col(c).as(s"${v}__id") else col(c).as(s"${v}__$c")): _*), v)
    }

    /** Node step: binds the chain's start node. */
    private def bindStart(np: NodePattern): String = {
      val v = np.variable.getOrElse("__start")
      if (bound.contains(v)) v // already in df — extend from it
      else if (chain.hops.nonEmpty && idOnly(np, v)) {
        pendingStart = Some(v)
        bound += v
        v
      } else {
        val (ndf, vv) = nodeDf(np)
        df = if (df == null) ndf else df.crossJoin(ndf)
        bound += vv
        vv
      }
    }

    /** Variable references of a quantified-group inline WHERE:
      * property accesses per variable plus bare-identity uses
      * (`id(v)`, `v IN …`). Rejects expression forms that cannot
      * appear in a per-step predicate (pattern subqueries,
      * comprehensions) loudly.
      */
    private def stepWhereRefs(pred: CExpr): (Map[String, Set[String]], Set[String]) = {
      val propRefs = scala.collection.mutable.Map.empty[String, Set[String]]
      val identRefs = scala.collection.mutable.Set.empty[String]
      def walk(e: CExpr): Unit = e match {
        case Prop(v, p) =>
          propRefs(v) = propRefs.getOrElse(v, Set.empty) + p
        case Ident(n)        => identRefs += n
        case LitV(_) | Param(_) =>
        case ListLit(xs)     => xs.foreach(walk)
        case Cmp(_, l, r)    => walk(l); walk(r)
        case Arith(_, l, r)  => walk(l); walk(r)
        case StrPred(_, l, r) => walk(l); walk(r)
        case IsNull(x)       => walk(x)
        case InList(x, l)    => walk(x); walk(l)
        case And(l, r)       => walk(l); walk(r)
        case Or(l, r)        => walk(l); walk(r)
        case Not(x)          => walk(x)
        case Coalesce(xs)    => xs.foreach(walk)
        case FnCall(_, a, _, _) => a.foreach(walk)
        case FnCallN(_, as)  => as.foreach(walk)
        case CaseExpr(ws, other) =>
          ws.foreach { case (c, v) => walk(c); walk(v) }
          other.foreach(walk)
        case other => throw new IllegalArgumentException(
          s"unsupported expression inside a quantified-group WHERE: $other")
      }
      walk(pred)
      (propRefs.toMap, identRefs.toSet)
    }

    /** Node-property lookup frame `(v__@pid, v__p…)` for an inner
      * group variable: its pattern label if constrained, else the
      * relationship schema's endpoint label(s), else any table
      * carrying all referenced properties — ids are globally unique
      * across labels, so the union never duplicates a node. Missing
      * properties null out (Cypher semantics).
      */
    private def propLookup(v: String, props: Seq[String], patLabel: Option[String],
        schemaLabels: Seq[String]): DataFrame = {
      val tables: Seq[DataFrame] = patLabel match {
        case Some(l) => Seq(graph.nodeTable(l))
        case None if schemaLabels.nonEmpty =>
          schemaLabels.distinct.map(graph.nodeTable)
        case None =>
          val cands = graph.nodes.values.toSeq
            .filter(t => props.forall(t.columns.contains))
          require(cands.nonEmpty,
            s"no node table carries properties " +
              s"${props.mkString(", ")} referenced by '$v'")
          cands
      }
      tables.map { t =>
        val cols = col("__id").as(s"${v}__@pid") +:
          props.map(p =>
            (if (t.columns.contains(p)) col(p)
             else lit(null)).as(s"${v}__$p"))
        t.select(cols: _*)
      }.reduce(_.unionByName(_))
    }

    /** One hop's decisions, taken when the chain reaches it: what the
      * query consumes of its walk, which search runs, which edge
      * columns the frame carries, the seeds from the bound frame, and
      * the outer references of a quantified-group WHERE.
      */
    private final class Hop(val rel: RelPattern, val next: NodePattern, idx: Int) {
      val nv: String = next.variable.getOrElse(s"__anon${next.hashCode.abs}")
      val varLen: Boolean = rel.varLength.isDefined
      // the query consumes the walk: nodes(p)/relationships(p), the
      // named relationship list or a group variable
      private val walkUsed = chain.pathVar.exists(wref.walksOf) ||
        rel.variable.exists(wref.idents) ||
        rel.groupNodes.exists { case (a, b) =>
          (a.toSeq ++ b.toSeq).exists(wref.idents) }
      // shortestPath never enumerates walks, so it needs no edge
      // identities: a BFS first-reach cannot traverse an edge twice.
      // When the query CONSUMES the walk, the BFS carries ONE
      // deterministic walk per pair alongside the frontier (still
      // pair-bounded, never walk enumeration — see frontierSearch). A
      // multi-hop group's repetition-level BFS always carries (the walk
      // arrays double as its uniqueness bookkeeping), and SHORTEST k
      // (k > 1) enumerates trails, which always carry.
      val spCarry: Boolean = chain.shortest && !chain.allShortest &&
        (rel.groupChain.isDefined || chain.kBest.exists(_ > 1) || walkUsed)
      // allShortestPaths whose walks are consumed enumerates shortest
      // walks under the per-pair σ cap; composite groups (the σ
      // recurrence cannot express cross-repetition edge uniqueness) and
      // weighted allShortestPaths always enumerate. The pair-aggregate
      // plan stays for count(p)-only consumers.
      val aspCarry: Boolean = chain.allShortest &&
        (rel.groupChain.isDefined || chain.weightProp.isDefined || walkUsed)
      // a shortest-path search that carries walks
      val carry: Boolean = spCarry || aspCarry
      val pathSel: PathSelector =
        if (chain.allShortest) AllMinimal
        else chain.kBest.filter(_ > 1).fold[PathSelector](FirstReach)(KBest)
      val payload: PathPayload =
        if (pathSel == AllMinimal && !aspCarry) Sigma
        else if (pathSel == FirstReach && !spCarry) PairsOnly
        else Walks
      val needChainEid: Boolean = !chain.shortest && chainEidAt(idx)
      // `relationships(p)` needs every hop's edge identity, even on
      // single-hop chains that need no uniqueness bookkeeping
      val needPathRels: Boolean = chain.pathVar.isDefined &&
        (!chain.shortest || (carry && chain.pathVar.exists(wref.relsOf)))
      // Edge identity: a walk (var-length) or another hop of the chain
      // could rebind this relationship, or the query lists it
      val needEid: Boolean = (!chain.shortest && rel.varLength.exists(_._2 > 1)) ||
        needChainEid || needPathRels || aspCarry || chain.kBest.exists(_ > 1)
      // A NAMED var-length relationship (`-[rs:T*1..3]->`, or a named
      // single-hop group rel) binds rs as the walk's per-step
      // RELATIONSHIP LIST (Neo4j semantics): each step carries a
      // payload struct accumulated alongside the walk arrays and
      // surfaced as a list-valued scalar binding (size(rs), UNWIND,
      // comprehensions, reduce, per-element property access). The
      // payload widens this hop's shuffles ONLY when it is named.
      val needEpl: Boolean = rel.variable.isDefined && varLen &&
        (!chain.shortest || (carry && rel.variable.exists(wref.idents)))
      require(rel.variable.isEmpty || !varLen || !chain.allShortest || aspCarry,
        "a named variable-length relationship inside allShortestPaths " +
          "must be consumed (unused names keep the pair-aggregate " +
          "plan, which carries no walks)")

      // Inline per-step WHERE (`((a)-[r:T]->(b) WHERE a.p < b.p){n,m}`):
      // evaluated once per repetition with the inner variables bound to
      // that repetition's elements. The predicate compiles to a FILTER
      // ON THE REPETITION FRAME, applied once before repetitions chain:
      // referenced node properties materialize as `v__p` columns via
      // id-equi-joins against the (label-pruned) node tables,
      // relationship properties alias in place, and the scalar compiler
      // evaluates the predicate unchanged. Left joins + filter give
      // Cypher's missing-property semantics (null predicate = row
      // dropped). Zero-length branches stay untouched — no step
      // executes, so the WHERE is vacuous.
      // Outer-scope variables referenced by the WHERE (`x` bound
      // earlier in `((a)-[r]->(b) WHERE a.p > x.q){n,m}`) are
      // decorrelated by embedding the DISTINCT outer-value tuples into
      // the repetition keys: the tuple frame (value domain, usually
      // tiny) is broadcast-crossed into the frame, the predicate
      // filters per tuple, and __src/__dst become (id, tuple) structs —
      // so the untouched expansion chains repetitions WITHIN one outer
      // binding, and the final join matches walks back to the bound
      // rows on start id + tuple equality. Per-repetition semantics are
      // Neo4j's: the outer value is constant across a walk and every
      // step's predicate saw it.
      val (propRefs, identRefs) = rel.stepWhere.fold(
        (Map.empty[String, Set[String]], Set.empty[String]))(stepWhereRefs)
      val qppOuterCols: Seq[String] =
        if (rel.stepWhere.isEmpty) Nil
        else {
          val inScope = (rel.groupChain match {
            case Some(ch) => (ch.start +: ch.hops.map(_._2)).flatMap(_.variable)
            case None => rel.groupNodes.toSeq.flatMap { case (a, b) =>
              a.toSeq ++ b.toSeq } ++ rel.variable.toSeq
          }).toSet
          val refs = propRefs.keySet ++ identRefs
          val outerVars = (refs -- inScope).filter(bound.contains)
          val unknown = refs -- inScope -- outerVars
          require(unknown.isEmpty,
            (if (rel.groupChain.isDefined)
              "a multi-hop quantified-group WHERE may reference the " +
                "group's inner node variables"
            else "a quantified-group WHERE may reference the group's " +
              "inner variables") +
              s" (${inScope.mkString(", ")}) or previously bound ones; " +
              s"unknown: ${unknown.mkString(", ")}")
          // outer variables compose with shortestPath/allShortestPaths:
          // the BFS machinery is key-agnostic (joins, distincts and
          // anti-joins work on the (id, tuple) structs unchanged), so
          // each outer binding gets its own per-tuple BFS — paths never
          // cross tuples because struct equality requires the tuple.
          val outerCols = outerVars.toSeq.sorted.flatMap { v =>
            propRefs.getOrElse(v, Set.empty).toSeq.sorted
              .map(p => s"${v}__$p") ++
              (if (identRefs.contains(v)) Seq(s"${v}__id") else Seq.empty)
          }.distinct
          outerCols.foreach(c =>
            require(df != null && df.columns.contains(c),
              s"outer reference '$c' of the quantified-group WHERE is " +
                s"not a column of the bound frame (is the property " +
                s"carried by the variable's label table?)"))
          outerCols
        }
      // The decorrelation is a forced broadcast + cross-join: |domain|
      // MULTIPLIES every frame row, and the broadcast hint overrides
      // Spark's own size safety — so the distinct domain is counted
      // first (one cheap action over a frame that is built anyway) and
      // anything above the cap rejects loudly instead of going
      // quadratic / OOMing the driver. A query whose outer variable
      // ranges over millions of rows should aggregate or pre-filter
      // that domain into a small one before correlating it into a
      // per-step QPP predicate.
      lazy val qppOuterTuples: DataFrame = {
        val t = df.select(qppOuterCols.map(col): _*).distinct()
        val n = t.limit(MaxQppOuterDomain + 1).count()
        require(n <= MaxQppOuterDomain,
          s"outer-scope QPP WHERE decorrelation domain too large: " +
            s"more than $MaxQppOuterDomain distinct value tuples over " +
            s"(${qppOuterCols.mkString(", ")}) — each tuple multiplies " +
            s"the expansion's edge list, so a large domain goes " +
            s"quadratic; aggregate or pre-filter the outer variable " +
            s"to at most $MaxQppOuterDomain distinct values first")
        broadcast(t)
      }
      // a node key under an outer-ref WHERE: the (id, outer tuple)
      // struct that keeps every expansion within one outer binding
      def outerKey(id: Column): Column =
        if (qppOuterCols.isEmpty) id
        else struct((id.as("i") +: qppOuterCols.map(col)): _*)
      // The step WHERE on one repetition frame `e`. Each node position
      // is (inner name, id column, pattern label, schema labels):
      // referenced properties join in via propLookup (pattern label →
      // declared endpoint labels → property-carrier union), id(v) and
      // bare-identity uses read `v__id`; `rels` alias a single hop's
      // relationship properties. Under outer references the keys
      // become (id, tuple) structs; edge identity and the walk arrays
      // stay plain (an edge is the same edge under every tuple).
      def stepWhereFilter(e: DataFrame,
          positions: Seq[(Option[String], Column, Option[String], Seq[String])],
          rels: Seq[(String, Column)]): DataFrame = {
        var f = if (qppOuterCols.isEmpty) e else e.crossJoin(qppOuterTuples)
        positions.foreach {
          case (Some(v), idCol, patLabel, labels) =>
            if (propRefs.contains(v)) {
              val pf = propLookup(v, propRefs(v).toSeq.sorted, patLabel, labels)
              f = f.join(pf, idCol === pf(s"${v}__@pid"), "left_outer")
            }
            if (identRefs.contains(v)) f = f.withColumn(s"${v}__id", idCol)
          case _ =>
        }
        rels.foreach { case (n, c) => f = f.withColumn(n, c) }
        f.filter(toColumn(rel.stepWhere.get, Bindings.empty))
          .select(e.columns.toSeq.map {
            case k @ ("__src" | "__dst") => outerKey(col(k)).as(k)
            case c => col(c)
          }: _*)
      }

      // shortest-path chains seed the BFS with the start variable's
      // bound id set (the pre-bound MATCH spelling, or at least the
      // start label's scan): sources outside the binding can never
      // survive the later join, so expanding them is pure waste — the
      // difference between all-pairs BFS over the whole edge set and
      // a frontier proportional to the restriction. Under an
      // outer-ref WHERE the frame keys are (id, tuple) structs — the
      // seed mirrors that shape, so each bound row seeds exactly its
      // own tuple's BFS.
      val bfsSeed: Option[DataFrame] =
        if (chain.shortest && df != null && df.columns.contains(s"${cur}__id"))
          Some(df.select(outerKey(col(s"${cur}__id")).as("__seedid")).distinct())
        else None
      // Plain var-length expansion gets the SAME pre-bound-start
      // seeding whenever the hop's source variable is already bound —
      // the chain's first hop after an earlier MATCH, or any LATER hop
      // of a chain (the accumulated frame binds `cur` there by
      // construction): the bound id set semi-joins the FIRST step's
      // edges, so walks that cannot survive the later start join never
      // expand. On an undirected 12M-row mirrored edge list restricted
      // to 3 bound starts this is the difference between a full 2-hop
      // blowup and a handful of rows. Composite-keyed outer-WHERE
      // frames are excluded (struct keys).
      val varSeed: Option[DataFrame] =
        if (!chain.shortest && varLen && rel.groupChain.isEmpty &&
            qppOuterCols.isEmpty && df != null &&
            !pendingStart.contains(cur) && df.columns.contains(s"${cur}__id"))
          Some(df.select(col(s"${cur}__id").as("__seedid")).distinct())
        else None
      def seededBy(f: DataFrame, key: String): DataFrame = varSeed.fold(f)(s =>
        f.join(s, f(key) === s("__seedid"), "left_semi"))
    }

    /** One hop's edge frame in TRAVERSAL orientation — a single
      * relationship hop's and every inner hop's of a quantified group.
      * From `tables` (the hop's schema-pruned edge tables, relTables;
      * empty = statically no edge) it builds, in order:
      *  - the inline property map, per table on the table's own columns;
      *  - one typed table as it is, or the union of several, each
      *    branch tagged with its type (`__rt`, for type(r) and
      *    identity) and, with `props`, null-filled to the union
      *    property schema (one payload shape; `r.prop` reads Neo4j's
      *    null where a type lacks it); with `meta`, each branch's own
      *    `@keys` / `@props` literals;
      *  - the identity `__eid` and the payload struct `__epl` (type,
      *    stored endpoints, the properties), both in stored
      *    orientation, so an undirected edge and its mirror share them.
      *    A union ranks parallel edges across its types, or, with
      *    `rankPerType` (a group's inner hop), each type on its own;
      *  - the strictly positive weight `__w` of `weight` (property,
      *    search name for the error);
      *  - with `storedEnds`, the stored endpoints `@src` / `@dst` for
      *    startNode(r) / endNode(r);
      *  - the orientation: Out as stored, In swapped, Both mirrored;
      *  - with `ends`, id semi-joins of each step's source and target
      *    against a group's inner node patterns. A repetition of a
      *    single-hop group IS one edge, so its per-step constraints are
      *    edge-endpoint constraints, applied once before expansion.
      *    Zero-length branches ({0,m}) are untouched: no step executes,
      *    so step constraints are vacuous (GQL semantics).
      */
    private def hopEdges(r: RelPattern, tables: Seq[(String, DataFrame)],
        what: String, props: Boolean, eid: Boolean, epl: Boolean,
        weight: Option[(String, String)], rankPerType: Boolean = false,
        meta: Boolean = false, storedEnds: Boolean = false,
        ends: Option[(NodePattern, NodePattern)] = None): DataFrame = {
      def weighable(tn: String, t: DataFrame): Unit = weight.foreach { case (wp, _) =>
        require(t.columns.contains(wp),
          s"weight property '$wp' is not a property of $what (type $tn)")
      }
      def metaCols(t: DataFrame): Seq[Column] =
        if (!meta) Nil
        else {
          val (keys, ps) = keysAndProps(t, Set("__src", "__dst"))
          Seq(ps.as("@props"), keys.as("@keys"))
        }
      val base = tables match {
        case Seq((tn, t)) if r.relType.isDefined && r.altTypes.isEmpty =>
          weighable(tn, t)
          val b = propsFilter(t, r.props)
          b.select(b.columns.toSeq.map(col) ++ metaCols(t): _*)
        // no relationship type connects these labels — statically
        // empty, but keep the union's schema for downstream code
        case Seq() =>
          val (tn, t) = graph.rels.toSeq.minBy(_._1)
          val e = t.select(col("__src"), col("__dst"), lit(tn).as("__rt"))
            .filter(lit(false))
          weighable(tn, e)
          e
        case tabs =>
          val schema = if (props) unionPropSchema(tabs) else Seq.empty
          val extra = weight.map(_._1).filterNot(schema.map(_._1).contains)
          tabs.map { case (tn, t) =>
            weighable(tn, t)
            val b0 = propsFilter(t, r.props)
            val b = if (eid && rankPerType) withEid(b0, lit(tn)) else b0
            b.select(Seq(col("__src"), col("__dst"), lit(tn).as("__rt")) ++
              schema.map { case (p, dt) =>
                (if (b.columns.contains(p)) col(p)
                 else lit(null).cast(dt)).as(p) } ++
              extra.map(col) ++ metaCols(b0) ++
              Seq("__eid").filter(b.columns.contains).map(col): _*)
          }.reduce(_.unionByName(_))
      }
      val tag = typeTag(base, r)
      var e = if (eid && !base.columns.contains("__eid")) withEid(base, tag) else base
      if (epl) {
        val propCols = base.columns.toSeq
          .filterNot(c => c.startsWith("__") || c.startsWith("@")).sorted
        val fields = Set("type", "src", "dst")
        require(propCols.forall(c => !fields(c)),
          s"relationship property ${propCols.filter(fields).mkString(",")} " +
            s"collides with the walk payload's type/src/dst fields")
        e = e.withColumn("__epl", struct((tag.as("type") +:
          col("__src").as("src") +: col("__dst").as("dst") +:
          propCols.map(col)): _*))
      }
      weight.foreach { case (wp, ctx) =>
        e = e.withColumn("__w", positiveWeightOrDie(col(wp), wp, ctx))
      }
      if (storedEnds)
        e = e.withColumn("@src", col("__src")).withColumn("@dst", col("__dst"))
      e = r.direction match {
        case Out  => e
        case In   => swapEnds(e)
        case Both => e.unionByName(swapEnds(e))
      }
      ends.foreach { case (a, b) =>
        constraintIds(a).foreach(f =>
          e = e.join(f, e("__src") === f("__id"), "left_semi"))
        constraintIds(b).foreach(f =>
          e = e.join(f, e("__dst") === f("__id"), "left_semi"))
      }
      e
    }

    /** A relationship hop's edge frame (fixed, or one step of a
      * var-length hop), filtered by a single-hop group's step WHERE.
      */
    private def hopFrame(h: Hop): DataFrame = {
      val rel = h.rel
      val named = rel.variable.isDefined
      val edges = hopEdges(rel, relTables(rel, curLabel, h.next.soleLabel),
        "this relationship", props = named, eid = h.needEid, epl = h.needEpl,
        weight = chain.weightProp.map(wp =>
          (wp, searchName(h.pathSel, weighted = true, composite = false))),
        meta = named && !h.varLen,
        storedEnds = named && !h.varLen && rel.direction != Both,
        ends = rel.stepFilters)
      if (rel.stepWhere.isEmpty) edges
      else {
        val (aVar, bVar) = rel.groupNodes.getOrElse((None, None))
        def patLabel(source: Boolean) = rel.stepFilters.flatMap {
          case (ap, bp) => (if (source) ap else bp).soleLabel }
        // relationship property refs alias the edge frame's own
        // plain-named property columns
        val rels = rel.variable.filter(h.propRefs.contains).toSeq.flatMap { v =>
          h.propRefs(v).toSeq.map { p =>
            require(edges.columns.contains(p),
              s"relationship property '$p' referenced by the " +
                s"quantified-group WHERE is not a property of :" +
                s"${(rel.relType.toSeq ++ rel.altTypes).mkString("|")} " +
                s"(have: ${edges.columns
                  .filterNot(c => c.startsWith("__") || c.startsWith("@"))
                  .sorted.mkString(", ")})")
            s"${v}__$p" -> col(p)
          }
        }
        h.stepWhereFilter(edges,
          Seq((aVar, col("__src"), patLabel(true), endpointLabels(rel, true)),
            (bVar, col("__dst"), patLabel(false), endpointLabels(rel, false))),
          rels)
      }
    }

    /** Var-length hop: the hop's REPETITION FRAME, built once —
      * `__src`, `__dst`, the node ids each repetition enters
      * (`__nids`), its edge identities (`__eids`), payload lists
      * (`__epls`, or `__epls_j` per named inner hop of a group) and
      * weight (`__w`) where the hop needs them. A single relationship
      * is the h = 1 frame (`__nids = [dst]`, `__eids = [eid]`,
      * `__epls = [epl]`, the edge's weight); a multi-hop group is its
      * composed frame. The shortest-path selectors search it
      * (frontierSearch), everything else enumerates it (repetitions).
      */
    private def expandVar(h: Hop, lo: Int, hi: Int): DataFrame = {
      val (frame, first, reps, composeFrom) = h.rel.groupChain match {
        case Some(ch) =>
          require(hi <= CypherParser.MaxVarHops,
            s"quantified group bound {$lo,$hi} above the shared " +
              s"var-length cap *..${CypherParser.MaxVarHops}")
          val (f, c) = compositeFrame(h, ch, lo, hi)
          (f, f, ch.hops.size, c)
        case None =>
          val edges = hopFrame(h)
          if (chain.shortest)
            require(chain.weightProp.isEmpty || chain.kBest.forall(_ <= 1) ||
                !chain.allShortest,
              "SHORTEST k (k > 1) does not compose with weighted " +
                "allShortestPaths (no GQL spelling; see README \"Path " +
                "selector semantics and permanent carve-outs\")")
          else require((lo == 0 && hi == 0) ||
              (hi >= math.max(lo, 1) && hi <= CypherParser.MaxVarHops),
            s"variable-length bounds *${math.max(lo, 1)}..$hi out of " +
              s"supported range (shared cap *..${CypherParser.MaxVarHops})")
          // a seeded search restricts the scan (and any __eid identity
          // window) to the seeds' reachable edges; the weighted
          // walk-free relaxation reads the raw frame
          val e =
            if (chain.shortest && (chain.weightProp.isEmpty || h.payload == Walks))
              seedRestrictEdges(edges, h.bfsSeed, hi)
            else edges
          // `first`: the frame of a walk's FIRST repetition — a seeded
          // plain expansion starts at a bound id, semi-joined BELOW the
          // frame's array projection, where Catalyst can still push it
          // under the step-WHERE lookups (a projection of computed
          // aliases stops that pushdown)
          def oneHop(e: DataFrame): DataFrame = e.select(Seq(col("__src"),
            col("__dst"), array(col("__dst")).as("__nids")) ++
            Seq("__eid", "__epl").filter(e.columns.contains)
              .map(c => array(col(c)).as(c + "s")) ++
            Seq("__w").filter(e.columns.contains).map(col): _*)
          (oneHop(e), oneHop(h.seededBy(e, "__src")), 1, None)
      }
      if (chain.shortest)
        frontierSearch(frame, h.pathSel, h.payload, lo, hi, h.bfsSeed,
          chain.weightProp.isDefined, reps, composeFrom)
      else {
        // the zero-length branch's domain: every node — per outer
        // tuple under an outer-ref WHERE (zero repetitions = vacuous
        // WHERE, null-valued tuples included); the seeded starts
        // only under a seed
        val universe =
          if (lo > 0) None
          else if (h.qppOuterCols.isEmpty) Some(h.seededBy(nodeUniverse, "__id"))
          else Some(nodeUniverse.crossJoin(h.qppOuterTuples)
            .select(h.outerKey(col("__id")).as("__id")))
        repetitions(frame, first, lo, hi, reps, universe)
      }
    }

    /** Multi-hop quantified group: composes the inner chain into a
      * composite REPETITION frame — one row per full repetition,
      * carrying the repetition's node-id list (pattern order after the
      * start) and its edge-identity list (for whole-path uniqueness)
      * — which the expansion then chains exactly like single edges.
      * Every inner hop's frame is a hop edge frame (hopEdges) whose
      * endpoints are semi-joined against the inner node patterns.
      * Returns the frame and, for a seeded search without outer
      * references, the frame composed per round from a start set.
      */
    private def compositeFrame(h: Hop, ch: PatternChain, lo: Int,
        hi: Int): (DataFrame, Option[DataFrame => DataFrame]) = {
      // plain MATCH, shortestPath, WEIGHTED shortestPath (a
      // repetition's weight is the sum of its inner edges' weights),
      // allShortestPaths (the capped composite enumeration) and
      // SHORTEST k (the capped composite TRAIL enumeration) all consume
      // the composite frame; the remaining rejects are the k-best
      // combinations with weighted / allShortestPaths, which have no
      // GQL spelling
      require(chain.kBest.forall(_ <= 1) ||
          (!chain.allShortest && chain.weightProp.isEmpty),
        "SHORTEST k (k > 1) over quantified groups composes only " +
          "with the plain (unweighted, single-selector) search — " +
          "the weighted/allShortest combinations have no GQL " +
          "spelling (permanent documented carve-out; see README " +
          "\"Path selector semantics and permanent carve-outs\")")
      // lower bound pinned to 1 under shortestPath (first-reach BFS
      // = fewest repetitions; a {2,…} floor would need post-floor
      // re-search) — same restriction as the single-edge search
      require(!chain.shortest || lo == 1,
        "shortestPath over a quantified group requires lower bound " +
          s"exactly 1 (got {$lo,$hi})")
      val n = ch.hops.size
      val nodePats = ch.start +: ch.hops.map(_._2)
      val weighted = chain.weightProp.isDefined
      val hopFrames0 = ch.hops.zipWithIndex.map { case ((r, _), j) =>
        val typed = relTables(r, nodePats(j).soleLabel,
          nodePats(j + 1).soleLabel)
        require(typed.nonEmpty,
          s"no relationship type connects the labels of quantified-" +
            s"group hop ${j + 1} (schema-pruned to nothing)")
        // a NAMED inner relationship binds a per-repetition payload
        // list; a weighted search sums the inner edges' weights
        val e = hopEdges(r, typed, s"quantified-group hop ${j + 1}",
          props = r.variable.isDefined, eid = true, epl = r.variable.isDefined,
          weight = chain.weightProp.map(wp =>
            (wp, searchName(h.pathSel, weighted = true, composite = true))),
          rankPerType = true, ends = Some((nodePats(j), nodePats(j + 1))))
        e.select(Seq("__src", "__dst", "__eid", "__epl", "__w")
          .filter(e.columns.contains).map(col): _*)
      }
      // a seeded composite SHORTEST-family search restricts every hop
      // frame to the seeds' reachable neighborhood (≤ hi·n traversal
      // steps over the union pair view) — the IN filter on __src
      // pushes below each branch's __eid identity window and into the
      // scans, exactly the seedRestrictEdges discipline. Stands down on
      // small tables or a tripped reach cap (an optimization, never a
      // semantic gate).
      val hopFrames = {
        val seedable = chain.shortest && df != null &&
          df.columns.contains(s"${cur}__id")
        if (!seedable) hopFrames0
        else {
          val unionPairs = hopFrames0
            .map(_.select(col("__src"), col("__dst")))
            .reduce(_.unionByName(_))
          if (unionPairs.queryExecution.optimizedPlan.stats.sizeInBytes <
              ReachRestrictMinBytes) hopFrames0
          else reachableWithin(unionPairs,
              df.select(col(s"${cur}__id").cast("long")).distinct(),
              hi * n) match {
            case None => hopFrames0
            case Some(reach) if reach.isEmpty =>
              hopFrames0.map(_.filter(lit(false)))
            case Some(reach) =>
              hopFrames0.map(
                _.filter(col("__src").isInCollection(reach.toSeq)))
          }
        }
      }
      // one repetition = the n hops joined through their junctures,
      // no edge reused INSIDE a repetition either. Named hops carry
      // their payload as per-hop scalars (__epl_j) — each repetition
      // contributes exactly one element to each named hop's list.
      //
      // NOT materialized (measured): checkpointing each hop frame once
      // so the frontier-bounded rounds stop re-running the __eid
      // identity windows REGRESSED the family — weighted_mh_group
      // 2.99→4.42 s narrow / 5.72 s widened (taskTime 36→55/88 s): the
      // lazy per-round plans fuse scan+window+joins into AQE-coalesced
      // one-task stages over the reach-restricted rows, while
      // checkpoint blocks are probed at their materialized width by
      // every round. The recomputation IS the cheaper shape here.
      val named = ch.hops.zipWithIndex.collect {
        case ((r, _), j) if r.variable.isDefined => j
      }
      // Repetition composition as a FUNCTION of the allowed start set:
      // a SEEDED composite search composes, per BFS round, only the
      // repetitions its frontier can actually enter — the first hop
      // semi-joins the round's start ids, so every downstream hop join
      // shrinks with it. Without the restriction the synthetic frame
      // is corpus × degree^n rows BEFORE the seed prunes anything
      // (measured: the weighted CONTAINS key took 181 s at sf1 eagerly;
      // frontier-bounded it tracks the plain weighted search).
      def composeRep(startIds: Option[DataFrame]): DataFrame = {
        val head0 = hopFrames.head
        val headF = startIds match {
          case Some(sd) =>
            head0.join(sd, head0("__src") === sd("__cstart"), "left_semi")
          case None => head0
        }
        val oneRep = hopFrames.tail.zipWithIndex
          .foldLeft(headF.select(Seq(col("__src"), col("__dst"),
            array(col("__eid")).as("__eids"),
            array(col("__dst")).as("__nids")) ++
            (if (named.contains(0)) Seq(col("__epl").as("__epl_0"))
             else Seq.empty) ++
            (if (weighted) Seq(col("__w")) else Seq.empty): _*)) {
            case (acc, (hf, j)) =>
              val right = hf.select(Seq(col("__src").as(s"__g$j"),
                col("__dst").as("__gd"), col("__eid").as("__ge")) ++
                (if (named.contains(j + 1)) Seq(col("__epl").as("__ge_epl"))
                 else Seq.empty) ++
                (if (weighted) Seq(col("__w").as("__ge_hw"))
                 else Seq.empty): _*)
              val keepEpls = acc.columns.filter(_.startsWith("__epl_"))
                .toSeq.map(acc(_))
              acc.join(right, acc("__dst") === right(s"__g$j") &&
                  !array_contains(acc("__eids"), right("__ge")))
                .select(Seq(acc("__src"), col("__gd").as("__dst"),
                  concat(acc("__eids"), array(col("__ge"))).as("__eids"),
                  concat(acc("__nids"), array(col("__gd"))).as("__nids")) ++
                  keepEpls ++
                  (if (named.contains(j + 1))
                    Seq(col("__ge_epl").as(s"__epl_${j + 1}"))
                  else Seq.empty) ++
                  (if (weighted)
                    Seq((acc("__w") + col("__ge_hw")).as("__w"))
                  else Seq.empty): _*)
          }
        // Inline WHERE on a multi-hop group: the predicate relates one
        // REPETITION's nodes to each other, so it filters the
        // composite frame once, before repetitions chain. Node
        // position j of the inner chain is __src (j = 0) or
        // __nids[j-1]; its schema labels come from the adjacent hop's
        // declared endpoints (traversal orientation).
        val filtered =
          if (h.rel.stepWhere.isEmpty) oneRep
          else h.stepWhereFilter(oneRep, nodePats.zipWithIndex.map {
            case (np, 0) => (np.variable, col("__src"), np.soleLabel,
              endpointLabels(ch.hops.head._1, source = true))
            case (np, j) => (np.variable, element_at(col("__nids"), j),
              np.soleLabel, endpointLabels(ch.hops(j - 1)._1, source = false))
          }, Nil)
        filtered.select(Seq(col("__src"), col("__dst"), col("__eids"),
          col("__nids")) ++
          named.map(j => array(col(s"__epl_$j")).as(s"__epls_$j")) ++
          (if (weighted) Seq(col("__w")) else Seq.empty): _*)
      }
      // a SEEDED search with plain keys composes lazily, per round,
      // from its frontier (an outer-ref WHERE composite-keys the
      // frame, which the plain-id start restriction cannot key)
      (composeRep(None),
        if (h.bfsSeed.isDefined && h.qppOuterCols.isEmpty)
          Some((starts: DataFrame) => composeRep(Some(starts)))
        else None)
    }

    /** Joins a hop's frame (the fixed hop's edges or the var-length
      * hop's walks, `__src` = the current node) into the chain: the
      * hop's bindings and walk columns, the join on `cur` (or the
      * deferred start), chain-wide relationship uniqueness, the
      * path length and cost, and the far endpoint's binding.
      */
    private def joinHop(h: Hop, expanded: DataFrame): Unit = {
      val rel = h.rel
      val outer = h.qppOuterCols
      // unpack composite (id, outer-tuple) keys after expansion: the
      // tuple columns surface as __oc_* for the join back to the
      // bound frame; node ids (keys and walks) revert to plain longs
      val e =
        if (outer.isEmpty) expanded
        else {
          var e2 = expanded
          outer.foreach(c =>
            e2 = e2.withColumn(s"__oc_$c", col("__src").getField(c)))
          e2 = e2.withColumn("__src", col("__src").getField("i"))
            .withColumn("__dst", col("__dst").getField("i"))
          // single-hop walks carry composite ids in __nids (each step
          // dst was a key); multi-hop composite walks keep them plain
          if (e2.columns.contains("__nids") &&
              e2.schema("__nids").dataType
                .asInstanceOf[org.apache.spark.sql.types.ArrayType]
                .elementType
                .isInstanceOf[org.apache.spark.sql.types.StructType])
            e2 = e2.withColumn("__nids",
              transform(col("__nids"), x => x.getField("i")))
          e2
        }
      val has = e.columns.toSet
      // a named fixed hop binds its properties (`rv__prop`; a union
      // carries the union property schema, null-filled per branch),
      // keys(r)/properties(r), type(r) and — directed hops only, an
      // undirected hop has no intrinsic orientation — the stored
      // endpoints for startNode(r)/endNode(r)
      val relCols = rel.variable.filter(_ => !h.varLen).toSeq.flatMap { rv =>
        e.columns.toSeq.filterNot(c => c.startsWith("__") || c.startsWith("@"))
          .map(c => col(c).as(s"${rv}__$c")) ++
          (if (has("@keys"))
            Seq(col("@props").as(s"${rv}__@props"), col("@keys").as(s"${rv}__@keys"))
          else Nil) ++
          Seq(typeTag(e, rel).as(s"${rv}__@type")) ++
          (if (has("@src"))
            Seq(col("@src").as(s"${rv}__@src"), col("@dst").as(s"${rv}__@dst"))
          else Nil)
      }
      // the edge identities this hop consumed, exposed only when some
      // other hop of the chain must be kept from reusing them
      val hopEids: Option[Column] =
        if (!h.needChainEid) None
        else if (has("__eids")) Some(col("__eids"))
        else Some(array(col("__eid")))
      // the walk, in pattern order: hop count for `length(p)`, node
      // ids (its last element IS the endpoint) for `nodes(p)` and
      // group variables — a shortest chain carries them only when the
      // query consumes them, otherwise nodes(p) fails loudly at
      // resolution — edge identities for `relationships(p)` (a fixed
      // hop its one edge), the allShortestPaths multiplicity for
      // `count(p)`, the weighted cost for `cost(p)`, and the named
      // relationship payload lists
      val walkCols =
        (if (chain.pathVar.isDefined && h.varLen)
          Seq(col("__hops").as("__r_hops")) else Nil) ++
        (if ((chain.pathVar.isDefined || rel.groupNodes.isDefined ||
            rel.groupChain.isDefined) && (!chain.shortest || h.carry) &&
            has("__nids"))
          Seq(col("__nids").as("__r_nids")) else Nil) ++
        (if (!h.needPathRels) Nil
        else if (has("__eids")) Seq(col("__eids").as("__r_reids"))
        else Seq(array(col("__eid")).as("__r_reids"))) ++
        (if (chain.allShortest) Seq(col("__np").as("__r_np")) else Nil) ++
        (if (chain.weightProp.isDefined && chain.pathVar.isDefined)
          Seq(col("__wcost").as("__r_wcost")) else Nil) ++
        (if (has("__epls")) Seq(col("__epls").as("__r_epls")) else Nil) ++
        e.columns.filter(_.startsWith("__epls_")).toSeq.map(col)
      val r = e.select(col("__src").as("__r_src") +: col("__dst").as("__r_dst") +:
        (relCols ++ walkCols ++ outer.map(c => col(s"__oc_$c")) ++
          hopEids.map(_.as("__r_eids")).toSeq): _*)
      // chain-wide uniqueness: this hop may not bind an edge identity
      // already consumed by an earlier hop of the same MATCH pattern
      val hasAcc = df != null && df.columns.contains("__chain_eids")
      if (pendingStart.contains(cur)) {
        // elided start scan: the first hop's edge source IS the
        // start id; disconnected prior clauses cross-join as usual
        pendingStart = None
        val r2 = r.withColumnRenamed("__r_src", s"${cur}__id")
        df = if (df == null) r2 else df.crossJoin(r2)
        // outer-ref WHERE: keep only walks computed under THIS row's
        // outer values (null-safe: zero-length rows must survive a
        // null outer value — no step ran, the WHERE never evaluated)
        outer.foreach(c => df = df.filter(col(c) <=> col(s"__oc_$c")))
      } else {
        var joinCond = col(s"${cur}__id") === col("__r_src")
        if (hasAcc && hopEids.isDefined)
          joinCond = joinCond &&
            !arrays_overlap(col("__chain_eids"), col("__r_eids"))
        outer.foreach(c =>
          joinCond = joinCond && (col(c) <=> col(s"__oc_$c")))
        df = df.join(r, joinCond)
      }
      if (outer.nonEmpty)
        df = df.drop(outer.map(c => s"__oc_$c"): _*)
      if (hopEids.isDefined)
        df =
          if (hasAcc)
            df.withColumn("__chain_eids",
              concat(col("__chain_eids"), col("__r_eids"))).drop("__r_eids")
          else df.withColumnRenamed("__r_eids", "__chain_eids")
      if (chain.pathVar.isDefined) {
        val contrib =
          if (h.varLen) col("__r_hops").cast("long") else lit(1L)
        df =
          if (df.columns.contains("__path_len"))
            df.withColumn("__path_len", col("__path_len") + contrib)
          else df.withColumn("__path_len", contrib)
        if (h.varLen) df = df.drop("__r_hops")
      }
      // accumulated weight for `cost(p)`: weighted chains carry one
      // var-length hop, so the first contribution is the whole cost
      if (df.columns.contains("__r_wcost"))
        df = df.withColumnRenamed("__r_wcost", "__path_wcost")
      val nv = h.nv
      if (bound.contains(nv)) {
        // closing a cycle back onto an already-bound variable
        df = df.filter(col(s"${nv}__id") === col("__r_dst"))
          .drop("__r_src", "__r_dst")
      } else if (virtualVars.contains(nv) || idOnly(h.next, nv)) {
        // bound in an earlier clause (the outer left-join constrains
        // it), or identity-only: the edge's far end IS the node id —
        // no node-table scan, same row multiplicity
        df = df.withColumnRenamed("__r_dst", s"${nv}__id").drop("__r_src")
        bound += nv
      } else {
        val (ndf, _) = nodeDf(h.next.copy(variable = Some(nv)))
        df = df.join(ndf, col("__r_dst") === col(s"${nv}__id"))
          .drop("__r_src", "__r_dst")
        bound += nv
      }
    }

    /** Binds what the hop's walk names — the relationship list, GQL
      * group variables — and accumulates `nodes(p)` /
      * `relationships(p)`. Every walk list is already in pattern
      * order (traversal orientation).
      */
    private def bindWalk(h: Hop): Unit = {
      val rel = h.rel
      val nv = h.nv
      // the named relationship lists: a var-length relationship's
      // payload structs in walk order (Neo4j's `-[rs:T*1..3]->` list
      // semantics), or a multi-hop group's per-repetition list for each
      // named inner relationship
      val relLists = rel.groupChain match {
        case Some(ch) => ch.hops.zipWithIndex.flatMap { case ((ir, _), j) =>
          ir.variable.map(_ -> s"__epls_$j") }
        case None => rel.variable.filter(_ => df.columns.contains("__r_epls"))
          .map(_ -> "__r_epls").toSeq
      }
      relLists.foreach { case (rv, c) =>
        require(!df.columns.contains(rv),
          s"relationship list variable '$rv' collides with an " +
            s"existing binding")
        df = df.withColumn(rv, col(c)).drop(c)
      }
      // GQL group variables: a group's inner node names bind node-id
      // lists stride-sliced from the walk (pattern-order node ids after
      // the chain source, n per repetition of an n-hop group): inner
      // node j ≥ 1 occupies walk indices ≡ j-1 (mod n), and the inner
      // START list is the chain source followed by every repetition end
      // but the last. Zero repetitions (a {0,m} group's k=0 branch) bind
      // empty lists throughout — no step executed (GQL semantics).
      val (names, n) = rel.groupChain match {
        case Some(ch) => ((ch.start +: ch.hops.map(_._2)).map(_.variable), ch.hops.size)
        case None => (rel.groupNodes.toSeq.flatMap { case (a, b) => Seq(a, b) }, 1)
      }
      if (rel.groupChain.isDefined || rel.groupNodes.isDefined) {
        if (chain.shortest && !h.carry) {
          // a walk-free search binds no lists: names consumed nowhere
          // (or only by the group's own WHERE, which filtered the edge
          // set before the search) need none, and a consumed name
          // forces the walk-carrying search (spCarry/aspCarry)
          assert(!names.flatten.exists(wref.idents), "internal: consumed " +
            "group variables must ride a walk-carrying search (spCarry/aspCarry)")
        } else {
          val walk = col("__r_nids")
          def stride(j: Int): Column =
            if (n == 1) walk
            else org.apache.spark.sql.functions.filter(walk, (_, i) => (i % n) === j)
          names.zipWithIndex.foreach {
            case (Some(name), j) =>
              require(!df.columns.contains(name),
                s"group variable '$name' collides with an existing binding")
              val ends = stride(n - 1)
              df = df.withColumn(name,
                if (j > 0) stride(j - 1)
                else when(size(walk) === 0, walk).otherwise(
                  concat(array(col(s"${cur}__id")),
                    slice(ends, lit(1), greatest(size(ends) - 1, lit(0))))))
            case _ => ()
          }
          if (chain.pathVar.isEmpty) df = df.drop("__r_nids")
        }
      }
      // `nodes(p)`: a var-length hop contributes its walk's node ids
      // (a zero-hop walk nothing: start = end), a fixed hop its
      // endpoint; the chain's start node seeds the array on the first
      // hop (`cur` still names the hop's source here)
      if (chain.pathVar.isDefined && (!chain.shortest || h.carry)) {
        val contrib =
          if (h.varLen) col("__r_nids") else array(col(s"${nv}__id"))
        df =
          if (df.columns.contains("__path_nids"))
            df.withColumn("__path_nids", concat(col("__path_nids"), contrib))
          else
            df.withColumn("__path_nids",
              concat(array(col(s"${cur}__id")), contrib))
        if (h.varLen) df = df.drop("__r_nids")
      }
      // `relationships(p)`: edge identities in pattern order
      if (h.needPathRels) {
        df =
          if (df.columns.contains("__path_reids"))
            df.withColumn("__path_reids",
              concat(col("__path_reids"), col("__r_reids")))
          else df.withColumn("__path_reids", col("__r_reids"))
        df = df.drop("__r_reids")
      }
    }

    /** Path finish: drops the chain-scoped accumulators and binds the
      * named path's length, nodes, relationships, multiplicity and
      * cost.
      */
    private def finish(): (DataFrame, Set[String]) = {
      // uniqueness is scoped to ONE MATCH pattern (Cypher semantics);
      // the accumulated identities don't leak into later clauses
      if (df != null && df.columns.contains("__chain_eids"))
        df = df.drop("__chain_eids")
      // unnamed allShortestPaths: the multiplicity has no consumer
      if (chain.pathVar.isEmpty && df != null && df.columns.contains("__r_np"))
        df = df.drop("__r_np")
      chain.pathVar.foreach { pv =>
        def rename(from: String, to: String): Unit =
          if (df.columns.contains(from)) df = df.withColumnRenamed(from, to)
        // shortest-path multiplicity: `count(p)` sums this per group
        rename("__r_np", s"${pv}__@npaths")
        df =
          if (df.columns.contains("__path_len"))
            df.withColumnRenamed("__path_len", s"${pv}__@len")
          else df.withColumn(s"${pv}__@len", lit(0L)) // zero-hop path `p = (a)`
        df =
          if (df.columns.contains("__path_nids"))
            df.withColumnRenamed("__path_nids", s"${pv}__@nodes")
          else if (!chain.shortest) // zero-hop: the path is its one node
            df.withColumn(s"${pv}__@nodes", array(col(s"${cur}__id")))
          else df // shortest chains don't carry node sequences
        // zero-hop paths have no relationships; the column stays unbound
        // there (a relationships(p) reference fails loudly rather than
        // fabricating an empty array of unknown element type)
        rename("__path_reids", s"${pv}__@rels")
        // accumulated weight of a weighted shortest chain → `cost(p)`
        rename("__path_wcost", s"${pv}__@wcost")
      }
      (df, bound)
    }
  }

  /** Non-shortest expansion of a var-length hop — `-[:T*lo..hi]->`,
    * a single-hop group `((a)-[:T]->(b)){lo,hi}` or a multi-hop group —
    * from its repetition frame (`__src`, `__dst`, `__nids`, and
    * `__eids` / `__epls` / `__epls_j` where the hop needs them; h
    * relationships per repetition): the union over k in lo..hi of the
    * k-fold repetition join, one row per distinct walk (Cypher
    * multiplicity semantics). A walk's lists concatenate per
    * repetition and `__hops` counts k·h relationships (`length(p)`).
    * Cypher relationship uniqueness: a repetition whose identities
    * overlap the walk's is joined away (≤ hi·h small structs per row —
    * bounded); without it an undirected *2 hop would return every
    * node as its own neighbor via a-x-a (the mirrored edge reused
    * backward). A frame without identities (a single hop whose walk
    * needs no uniqueness bookkeeping) only ever expands k ≤ 1.
    * Each k-fold is a chain of equi-joins — Catalyst/AQE picks
    * broadcast vs shuffle per step; at 100 TB the intermediate
    * frontier is keyed on node id throughout, so the partitioning is
    * reused between steps. `first` is the frame of a walk's first
    * repetition: the frame itself, or its restriction to a seed's
    * bound start ids — only the FIRST repetition is restricted, later
    * steps roam freely (the final join back to the bound frame
    * re-checks the start anyway).
    *
    * lo = 0 (GQL `{0,m}` / `*0..m`) adds the ZERO-LENGTH branch: one
    * (n, n) row per node of `universe` (the graph's full node id set —
    * isolated nodes have zero-length paths to themselves too — its
    * (id, outer tuple) keys, or a seed's bound ids), zero hops, typed
    * empty lists. The surrounding joins apply both endpoints'
    * constraints to the SAME node, exactly GQL's start-equals-end
    * semantics; `length(p)` sees 0, `nodes(p)` the single-node path and
    * group variables the empty list. |V| extra rows keyed on node id —
    * no fanout, broadcast/shuffle-join like any other branch.
    */
  private def repetitions(frame: DataFrame, first: DataFrame, lo: Int,
      hi: Int, h: Int, universe: Option[DataFrame]): DataFrame = {
    val lists = frame.columns.toSeq.filter(c =>
      c == "__nids" || c == "__eids" || c.startsWith("__epls"))
    def kRep(k: Int): DataFrame = (2 to k).foldLeft(first) { (acc, step) =>
      val right = frame.select(col("__src").as(s"__m$step") +:
        col("__dst").as("__nd") +: lists.map(c => col(c).as(s"__r$c")): _*)
      acc.join(right, acc("__dst") === right(s"__m$step") &&
          !arrays_overlap(acc("__eids"), right("__r__eids")))
        .select(acc("__src") +: col("__nd").as("__dst") +:
          lists.map(c => concat(acc(c), col(s"__r$c")).as(c)): _*)
    }
    val pos = (math.max(lo, 1) to hi).map(k => kRep(k).select(
      Seq(col("__src"), col("__dst"), lit(k * h).as("__hops")) ++
        lists.map(col): _*)).reduceOption(_.unionByName(_))
    if (lo > 0) pos.get
    else {
      val zero = universe.get.select(
        Seq(col("__id").as("__src"), col("__id").as("__dst"),
          lit(0).as("__hops")) ++
          lists.map(c => array().cast(frame.schema(c).dataType).as(c)): _*)
      pos.fold(zero)(zero.unionByName(_))
    }
  }

  /** Selector axis of [[frontierSearch]]. */
  private sealed trait PathSelector
  /** `shortestPath` / `SHORTEST 1`: one first-reach result per pair —
    * fewest hops, or, weighted, the cheapest (ties keep fewer hops).
    */
  private case object FirstReach extends PathSelector
  /** `allShortestPaths`: every minimal walk per pair, or their count. */
  private case object AllMinimal extends PathSelector
  /** GQL `SHORTEST k` (k > 1): the k least trails per pair. */
  private final case class KBest(k: Int) extends PathSelector

  /** Payload axis of [[frontierSearch]]: what a result row carries
    * besides `(__src, __dst, __hops[, __wcost])`.
    */
  private sealed trait PathPayload
  private case object PairsOnly extends PathPayload
  /** `__np`, the pair's shortest-path multiplicity (Brandes' σ):
    * parallel relationships weight the edge, and a pair first reached
    * at level k sums `σ(src, m) · w(m, dst)` over its predecessors —
    * every shortest walk's prefix is itself a shortest walk, so the
    * recurrence is exact under the first-reach anti-join. Feeds
    * `count(p)` when the query consumes no walk.
    */
  private case object Sigma extends PathPayload
  /** The walk contract: `__nids` (node ids after the source),
    * `__eids` (edge identities) and the payload lists `__epls` /
    * `__epls_j` when the query names relationships.
    */
  private case object Walks extends PathPayload

  /** A search's name in its errors: `weighted shortestPath`,
    * `allShortestPaths over a quantified group`, `SHORTEST 3`, …
    */
  private def searchName(sel: PathSelector, weighted: Boolean,
      composite: Boolean): String =
    (if (weighted) "weighted " else "") + (sel match {
      case FirstReach => "shortestPath"
      case AllMinimal => "allShortestPaths"
      case KBest(k)   => s"SHORTEST $k"
    }) + (if (composite) " over a quantified group" else "")

  /** The shortest-path / walk search behind `shortestPath`,
    * `allShortestPaths`, GQL `SHORTEST k`, their weighted forms and
    * their multi-hop quantified-group spellings: one level-synchronous
    * multi-source frontier loop, parameterised by selector, cost (hops,
    * or, `weighted`, the frame's strictly positive weight `__w` —
    * Bellman–Ford relaxation bounded by `hi` steps) and payload.
    *
    * The step frame is the hop's repetition frame (the one
    * [[repetitions]] enumerates): a single relationship (h = 1 —
    * `__nids = [dst]`, `__eids = [eid]`, `__epls = [epl]` and its
    * weight `__w`) or the composite frame of an h-hop quantified group,
    * which carries those arrays per repetition (and its summed weight
    * `__w`); the hop edge frames checked every weight. Every level extends the
    * frontier by one repetition — walk arrays concatenate, `__hops`
    * counts k·h relationships — and merges by selector:
    *  - FirstReach, hops: collapse per pair, anti-join the pairs
    *    already reached — a pair keeps its first level and ONE walk,
    *    the per-pair least by the tie order below; never enumeration.
    *  - FirstReach, weighted: collapse per pair to the cheapest
    *    candidate; only strictly cheaper candidates replace the
    *    standing best (ties keep fewer hops), and the next level
    *    extends just the improved pairs.
    *  - AllMinimal: keep every extension of a pair's first level
    *    (hops), or every extension at or below the pair's standing
    *    minimum cost (weighted; a final per-pair min filter drops the
    *    undercut ones); rows carry `__np = 1` so `count(p)` counts
    *    them. The Sigma payload counts instead of enumerating.
    *  - KBest: keep every trail; one per-pair window ordered by (cost,
    *    hops, node walk, identities, payloads) takes the k least.
    * With strictly positive weights every prefix of a minimal walk is
    * minimal, which makes each pruning exact.
    *
    * Rules that differ per cell, each kept as its variant had it:
    *  - src ≠ n: the BFS family never binds a path's two ends to one
    *    node; SHORTEST k follows TRAIL semantics instead, where edge
    *    uniqueness is the only rule (closed trails and source revisits
    *    are valid — README "Path selector semantics"). The weighted
    *    and composite BFS forms also drop same-node steps from the
    *    step frame.
    *  - edge reuse: trails, composite repetitions (which may share
    *    inner edges) and weighted all-minimal walks skip an extension
    *    whose identities overlap the walk's; the other single-edge
    *    searches only record node-simple walks (first-reach levels,
    *    strictly positive weights), so they need no check.
    *  - parallel edges: single-edge `shortestPath` collapses them up
    *    front to the payload-least edge (so `relationships(p)` and a
    *    named list describe the SAME edge) and σ counts them; every
    *    other cell keeps them apart and picks per candidate row.
    *  - tie order of a first-reach walk: node walk, identities,
    *    payloads — the composite weighted search compares identities
    *    before the node walk.
    *  - each cell's driver actions, checkpoints and broadcast choice.
    * Per level: one guarded driver action — `isEmpty`, or, for the
    * enumerations, the [[MaxAllShortestWalks]] per-pair cap check,
    * whose max aggregate is null exactly when the level is empty. A
    * seeded composite search composes its repetitions per level from
    * the frontier (`composeFrom`), so the corpus-wide composite frame
    * never materializes. Returns the var-expand walk contract.
    */
  private def frontierSearch(rel: DataFrame, sel: PathSelector,
      payload: PathPayload, lo: Int, hi: Int, seed: Option[DataFrame],
      weighted: Boolean = false, h: Int = 1,
      composeFrom: Option[DataFrame => DataFrame] = None): DataFrame = {
    val composite = h > 1
    val walks = payload == Walks
    val trail = sel.isInstanceOf[KBest]
    val what = searchName(sel, weighted, composite)
    require(lo == 1 && hi >= lo && hi <= CypherParser.MaxVarHops,
      s"$what var-length bounds *$lo..$hi out of supported range")
    val pair = Seq("__src", "__dst")
    val pairCols = pair.map(col)
    val dropSelf = !trail && (weighted || composite)
    val noReuse = composite || trail || (weighted && sel == AllMinimal)
    def stepFrame(e: DataFrame): DataFrame =
      if (dropSelf) e.filter(col("__src") =!= col("__dst")) else e
    def composeAt(from: DataFrame, idCol: String): DataFrame =
      stepFrame(composeFrom.get(
        from.select(col(idCol).as("__cstart")).distinct()))
    val carry = (if (walks) rel.columns.toSeq else Nil)
      .filter(c => c == "__nids" || c == "__eids" || c.startsWith("__epls"))
      .sorted
    val edges: DataFrame =
      if (composeFrom.isDefined) null
      else if (composite) stepFrame(rel).localCheckpoint()
      else {
        val e = stepFrame(rel.select(pairCols ++
          (if (weighted) Seq(col("__w")) else Nil) ++ carry.map(col): _*))
        // weighted: the walk-free relaxation reads the raw frame (the
        // per-round min collapses parallel edges on the stepped set);
        // the walk searches materialize it at session parallelism
        if (weighted && !trail) { if (walks) loopEdgeFrame(e) else e }
        else (payload match {
          case Sigma => e.groupBy(pairCols: _*).agg(count(lit(1)).as("__w"))
          // first-reach: parallel edges collapse to the payload-least
          case _ if sel == FirstReach =>
            Seq("__epls", "__eids").filter(e.columns.contains) match {
              case Seq() => e.distinct()
              case pay => e.groupBy(pairCols: _*)
                .agg(min(struct((pay :+ "__nids").map(col): _*)).as("__pk"))
                .select(col("__src"), col("__dst"), col("__pk.*"))
            }
          case _ => e
        }).localCheckpoint()
      }
    val order = Seq("__nids", "__eids").filter(carry.contains) ++
      carry.filterNot(Set("__nids", "__eids"))
    val tieOrder = if (composite && weighted) carry else order
    val cost = if (weighted) Seq("__wcost") else Nil
    def guard(level: DataFrame, k: Int): Boolean = {
      val top = level.groupBy(pairCols: _*).agg(count(lit(1)).as("__m"))
        .agg(max(col("__m"))).collect()(0)
      if (!top.isNullAt(0) && top.getLong(0) > MaxAllShortestWalks) {
        val noun = sel match {
          case KBest(_) => "trails"
          case _ => if (weighted) "candidate minimal walks" else "shortest paths"
        }
        val unit = if (composite) "repetition" else "hop"
        throw new IllegalArgumentException(
          s"$what: a pair at ${if (composite) "repetition " else ""}depth " +
            s"$k has ${top.getLong(0)} $noun, above the " +
            s"$MaxAllShortestWalks cap — " +
            (if (sel == AllMinimal && !weighted && !composite)
              "consume count(p)/length(p) (the pair-aggregate plan) or "
            else "") + s"bind tighter endpoints or lower the $unit bound")
      }
      top.isNullAt(0)
    }
    def keepMin(df: DataFrame): DataFrame =
      df.join(df.groupBy(pairCols: _*).agg(min(col("__wcost")).as("__mc")),
        pair).filter(col("__wcost") === col("__mc")).drop("__mc")
    val e0 =
      if (composeFrom.isDefined) composeAt(seed.get, "__seedid")
      else seed.fold(edges)(s =>
        edges.join(s, edges("__src") === s("__seedid"), "left_semi"))
    var acc = e0.select(Seq(col("__src"), col("__dst"), lit(h).as("__hops")) ++
      (if (weighted) Seq(col("__w").as("__wcost")) else Nil) ++
      (if (payload == Sigma) Seq(col("__w").cast("long").as("__np")) else Nil) ++
      carry.map(col): _*)
    if (sel == FirstReach && (weighted || composite))
      acc = acc.groupBy(pairCols: _*)
        .agg(min(struct((cost ++ tieOrder).map(col): _*)).as("__wk"))
        .select(col("__src"), col("__dst"), lit(h).as("__hops"), col("__wk.*"))
    else if (sel != FirstReach && (composite || weighted && sel == AllMinimal))
      acc = acc.distinct()
    if (walks || weighted) acc = acc.localCheckpoint()
    var frontier =
      if (weighted && sel == AllMinimal) keepMin(acc).localCheckpoint() else acc
    val guarded = walks && sel != FirstReach
    var exhausted = (guarded && guard(frontier, 1)) || hi < 2 ||
      (!guarded && frontier.isEmpty)
    var seenPairs =
      if (walks && sel == AllMinimal && !weighted)
        Some(acc.select(pairCols: _*).distinct().localCheckpoint())
      else None
    // a seeded frontier stays bounded by the seeds' reachable pairs —
    // the enumerations and the relaxation broadcast it, so a level is
    // a map-side join over the edge scan
    val bcast = seed.isDefined && !composite &&
      (trail || (if (weighted) sel == FirstReach else sel == AllMinimal && walks))
    var k = 2
    while (k <= hi && !exhausted) {
      val right = (if (composeFrom.isDefined) composeAt(frontier, "__dst")
        else edges).select(Seq(col("__src").as("__m"), col("__dst").as("__n")) ++
        (if (weighted || payload == Sigma) Seq(col("__w")) else Nil) ++
        carry.map(c => col(c).as(s"__r$c")): _*)
      var stepped = (if (bcast) broadcast(frontier) else frontier)
        .join(right, col("__dst") === col("__m"))
      if (!trail) stepped = stepped.filter(col("__src") =!= col("__n"))
      if (noReuse && carry.contains("__eids"))
        stepped = stepped.filter(!arrays_overlap(col("__eids"), col("__r__eids")))
      val stepCost =
        if (weighted) Seq((col("__wcost") + col("__w")).as("__wcost")) else Nil
      val grouped = stepped.groupBy(col("__src"), col("__n").as("__dst"))
      val cand =
        if (payload == Sigma)
          grouped.agg(sum(col("__np") * col("__w")).as("__np"))
        else if (sel != FirstReach)
          stepped.select(Seq(col("__src"), col("__n").as("__dst")) ++ stepCost ++
            carry.map(c => concat(col(c), col(s"__r$c")).as(c)): _*)
        else if (!weighted && !walks)
          stepped.select(col("__src"), col("__n").as("__dst")).distinct()
        else
          // deferred walk concat: every candidate of a level extends an
          // equal-length prefix, so (prefix, tail) pairs compare exactly
          // like the concatenated arrays and the concat runs once per
          // per-pair winner instead of once per candidate
          grouped.agg(min(struct(stepCost ++ tieOrder.flatMap(c =>
            Seq(col(c).as(s"__p$c"), col(s"__r$c").as(s"__t$c"))): _*)).as("__wk"))
            .select(pairCols ++ cost.map(c => col(s"__wk.$c").as(c)) ++
              tieOrder.map(c =>
                concat(col(s"__wk.__p$c"), col(s"__wk.__t$c")).as(c)): _*)
      val level = cand.withColumn("__hops", lit(k * h))
      val fresh = (sel match {
        case FirstReach if weighted =>
          level.join(acc.select(col("__src"), col("__dst"),
            col("__wcost").as("__old")), pair, "left_outer")
            .filter(col("__old").isNull || col("__wcost") < col("__old"))
            .drop("__old")
        case AllMinimal if weighted =>
          level.distinct().join(acc.groupBy(pairCols: _*)
            .agg(min(col("__wcost")).as("__mc")), pair, "left_outer")
            .filter(col("__mc").isNull || col("__wcost") <= col("__mc"))
            .drop("__mc")
        case KBest(_) => level
        case _ => level.join(
          seenPairs.getOrElse(acc.select(pairCols: _*)), pair, "left_anti")
      }).localCheckpoint()
      exhausted = if (guarded) guard(fresh, k) else fresh.isEmpty
      if (!exhausted) {
        acc = sel match {
          case FirstReach if weighted =>
            acc.join(fresh.select(pairCols: _*), pair, "left_anti")
              .unionByName(fresh).localCheckpoint()
          case AllMinimal if weighted => acc.unionByName(fresh).localCheckpoint()
          case _ => acc.unionByName(fresh)
        }
        seenPairs = seenPairs.map(_.unionByName(
          fresh.select(pairCols: _*).distinct()).localCheckpoint())
        frontier = fresh
      }
      k += 1
    }
    sel match {
      case KBest(n) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy(pairCols: _*)
          .orderBy((cost ++ ("__hops" +: order)).map(col): _*)
        acc.withColumn("__kb_rk", row_number().over(w))
          .filter(col("__kb_rk") <= n).drop("__kb_rk")
      case AllMinimal if walks =>
        (if (weighted) keepMin(acc) else acc).withColumn("__np", lit(1L))
      case _ => acc
    }
  }

  /** Per-pair cap on [[frontierSearch]]'s enumerations — the
    * `MaxQppOuterDomain` loud-guard discipline applied to σ: the
    * enumerated row count per pair IS that pair's shortest-path
    * multiplicity, which is exponential in the worst case (a braided
    * graph doubles σ per level), so enumeration without a cap is a
    * scale landmine. 1000 covers every sane walk-introspection query;
    * denser pairs keep the σ-counting plan (count(p)/length(p)) or
    * bind tighter endpoints.
    */
  private val MaxAllShortestWalks = 1000L

  /** Stand-down cap for [[seedRestrictEdges]]' bounded driver action:
    * reachable sets above this many nodes skip the scan restriction
    * (the optimization stands down, never gates semantics).
    */
  private val ReachRestrictCap = 100000

  /** Size gate for [[seedRestrictEdges]]: below this plan-stats
    * estimate the per-level reach jobs cost more than the full scans
    * they save, so the restriction stands down. 64 MB ≈ a few million
    * edge rows — measured crossover on the enumeration family (at
    * ~100 MB the restricted plan already beats unrestricted ~2×; at
    * ~15 MB the reach jobs are pure overhead).
    */
  private val ReachRestrictMinBytes = BigInt(64L << 20)

  /** Materializes an iterative loop's edge frame once, spread over
    * the session's shuffle parallelism (r18 optimization round). Two
    * problems, one fix:
    *
    *  1. a LAZY edge frame is re-planned and re-scanned on every
    *     round (hi rescans of the relationship table where one pays);
    *  2. a checkpoint taken at the frame's natural width (the scan's
    *     split count, or an AQE-coalesced exchange) pins every later
    *     round's broadcast-frontier join stage to that many tasks —
    *     the expensive expansion stages of the walk family were
    *     observed running 6-wide on a 32-core session.
    *
    * The repartition is stats-gated: tiny edge frames (the catalog
    * hierarchies) keep their natural single-task width, because 32
    * near-empty tasks per round cost more scheduling than they save
    * in compute. Both the gate (plan-stats estimate, no job) and the
    * width (`spark.sql.shuffle.partitions`) scale with the session —
    * nothing here is tuned to a core count.
    */
  private def loopEdgeFrame(df: DataFrame): DataFrame = {
    val narrow = df.localCheckpoint()
    // MEASURED gate, not plan stats: a seed-restricted frame's filter
    // is invisible to size estimates (no CBO selectivity), and
    // repartitioning a tiny restricted frame 32-wide costs more
    // per-round task scheduling than its expansions save. The count
    // is one job over already-materialized data (~ms).
    if (narrow.count() >= LoopRepartitionMinRows) {
      val npart = df.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt
      val wide = narrow
        .repartition(npart, col("__src"), col("__dst")).localCheckpoint()
      graft.Frames.free(narrow)
      wide
    } else narrow
  }

  /** Gate for [[loopEdgeFrame]]'s repartition: frames below this many
    * materialized rows keep their natural (usually narrow) width —
    * the scheduling cost of full-width rounds exceeds their compute.
    * Above it, expansion stages measurably benefit from every core;
    * at cluster scale real edge frames sit far above the gate and
    * always spread.
    */
  private val LoopRepartitionMinRows = 200000L

  /** Seeded enumerations (r18): the edge frame's `__eid` identity
    * window ranks the WHOLE edge table even though a seeded search
    * touches only the seeds' reachable neighborhood. Ranks are
    * per-(src, dst) partition and a src-restriction keeps or drops
    * whole partitions, so pushing an IN filter on `__src` below the
    * window (Catalyst pushes partition-key predicates through
    * Window, and on into the parquet scan) shrinks the rank shuffle
    * and the scan to the touched edges without changing any rank.
    * The reachable set (nodes within hi-1 traversal steps of a seed,
    * computed on the plain pair view — column pruning drops the
    * window there) is collected as a bounded driver action (the
    * `limit(cap+1)` discipline): above [[ReachRestrictCap]], or on
    * composite struct keys, the restriction silently stands down.
    */
  private def seedRestrictEdges(rel: DataFrame, seed: Option[DataFrame],
      hi: Int): DataFrame = seed match {
    case None => rel
    case Some(s) =>
      if (rel.schema("__src").dataType !=
          org.apache.spark.sql.types.LongType) return rel
      // cost gate: on a small edge table the per-level reach jobs
      // cost more than the full scans they save (plan-stats estimate,
      // no job)
      if (rel.queryExecution.optimizedPlan.stats.sizeInBytes <
          ReachRestrictMinBytes) return rel
      reachableWithin(rel.select(col("__src"), col("__dst")),
        s.select(col("__seedid").cast("long")), hi) match {
        case None => rel
        case Some(reach) if reach.isEmpty => rel.filter(lit(false))
        case Some(reach) =>
          rel.filter(col("__src").isInCollection(reach.toSeq))
      }
  }

  /** The reach BFS behind [[seedRestrictEdges]] (and the composite
    * hop-frame restriction): the node ids within `steps - 1`
    * traversal steps of any seed over the given (src, dst) pair
    * view — a driver-set BFS, ONE job per level (pruned scan + IN
    * filter + distinct + capped collect), exiting at the fixed
    * point. None = the [[ReachRestrictCap]] bound tripped (caller
    * stands down).
    */
  private def reachableWithin(pairs: DataFrame, seedIds: DataFrame,
      steps: Int): Option[Set[Long]] = {
    val seeds0 = seedIds.limit(ReachRestrictCap + 1).collect()
    if (seeds0.length > ReachRestrictCap) return None
    var reach = seeds0.map(_.getLong(0)).toSet
    var frontier = reach
    var i = 1
    while (i < steps && frontier.nonEmpty) {
      val nxt = pairs.filter(col("__src").isInCollection(frontier.toSeq))
        .select(col("__dst")).distinct()
        .limit(ReachRestrictCap + 1).collect()
      if (reach.size + nxt.length > ReachRestrictCap) return None
      val nxtIds = nxt.map(_.getLong(0)).toSet
      frontier = nxtIds -- reach
      reach = reach ++ nxtIds
      i += 1
    }
    Some(reach)
  }

  /** Weight guard shared by every weighted search. Null / non-numeric
    * weights would propagate NULL `__wcost` through every relaxation
    * touching the edge — a silent poisoning — and the `<=`-standing-min
    * frontier pruning plus the "cost-minimal walks never repeat a
    * node" enumeration argument are sound ONLY for strictly positive
    * weights: a zero weight admits zero-cost detours that tie the
    * minimum without being enumerated, a negative one breaks the
    * pruning outright. Both therefore fail LOUDLY with raise_error in
    * the same scan that reads the property (no extra validation pass).
    * (r18, ADVICE: the r17 guards silently accepted w <= 0, yielding a
    * possibly incomplete or wrong cost-minimal set.)
    */
  private def positiveWeightOrDie(weight: Column, weightProp: String,
      ctx: String): Column = {
    val w = weight.cast("double")
    when(w.isNull, raise_error(lit(
      s"$ctx: relationship property '$weightProp' is null or " +
        "non-numeric on at least one relationship — every edge must " +
        "carry a numeric weight")).cast("double"))
      .when(w <= 0.0, raise_error(lit(
        s"$ctx: relationship property '$weightProp' is zero or " +
          "negative on at least one relationship — weighted searches " +
          "require strictly positive weights (frontier pruning and " +
          "minimal-walk enumeration assume them)")).cast("double"))
      .otherwise(w)
  }

  /** Neo4j 5 toBoolean/toBooleanOrNull: booleans pass through,
    * INTEGER maps 0→false / nonzero→true, strings only
    * 'true'/'false' (case-insensitive); all else → null. Dispatch on
    * the DECLARED type via `typeof` (constant-folded to a literal per
    * plan — a column has one static type), so a purely-numeric STRING
    * ('42') stays null exactly as in Neo4j instead of riding the
    * integral branch. All value work runs on the stringified form so
    * non-castable types (arrays, maps) analyze fine and fall to null.
    */
  private def toBooleanColumn(cb: Column): Column = {
    val t = call_function("typeof", cb)
    val l = lower(cb.cast("string"))
    when(t === "boolean", l === "true")
      .when(t.isin("tinyint", "smallint", "int", "bigint"),
        l.try_cast("long") =!= 0)
      .when(t === "string",
        when(l === "true", lit(true)).when(l === "false", lit(false))
          .otherwise(lit(null)))
      .otherwise(lit(null))
  }

  /** Statically string-valued expressions — drives `+`-as-concat
    * (Neo4j overloads `+` on strings). Conservative: only shapes the
    * parser can PROVE are strings; a plain column reference stays
    * numeric-add (Cypher queries over numbers are the common case,
    * and an explicit toString() opts in).
    */
  private def stringish(e: CExpr): Boolean = e match {
    case LitV(_: String) => true
    case FnCall("toString" | "toUpper" | "toLower" | "trim" | "ltrim" |
        "rtrim" | "elementId", _, _, _) => true
    case FnCallN("substring" | "replace" | "left" | "right", _) => true
    case Arith("+", l, r) => stringish(l) || stringish(r)
    case CaseExpr(ws, els) =>
      ws.exists { case (_, v) => stringish(v) } || els.exists(stringish)
    case Coalesce(xs) => xs.exists(stringish)
    case _ => false
  }

  private def isAggregate(e: CExpr): Boolean = e match {
    case FnCall(n, _, _, _) =>
      Set("count", "sum", "min", "max", "avg", "collect", "stdev")(n)
    case _: PercentileCont => true
    case _: PercentileDisc => true
    case _                 => false
  }

  /** `scalars` holds the names bound by WITH/UNWIND (plain columns);
    * bare identifiers outside that set are pattern variables and
    * resolve to their node id column.
    */
  /** ISO-8601 duration string → a foldable `make_interval` column.
    * Supports Y/M/W/D date parts and H/M/S time parts (integer
    * values, Neo4j's common literal forms); weeks fold into days.
    */
  private val DurationRe =
    ("^P(?:(\\d+)Y)?(?:(\\d+)M)?(?:(\\d+)W)?(?:(\\d+)D)?" +
      "(?:T(?:(\\d+)H)?(?:(\\d+)M)?(?:(\\d+)S)?)?$").r
  private def durationInterval(s: String): Column = s.toUpperCase match {
    case DurationRe(y, mo, w, d, h, mi, sec) =>
      def n(x: String) = if (x == null) 0L else x.toLong
      require(Seq(y, mo, w, d, h, mi, sec).exists(_ != null),
        s"empty duration literal '$s'")
      expr(s"make_interval(${n(y)}, ${n(mo)}, 0, ${n(w) * 7 + n(d)}, " +
        s"${n(h)}, ${n(mi)}, ${n(sec)})")
    case _ => throw new IllegalArgumentException(
      s"unsupported duration literal '$s' — expected ISO-8601 like " +
        "'P7D', 'PT90M', 'P1YT2H'")
  }

  private def toColumn(e: CExpr, scalars: Bindings): Column = e match {
    // property access on a WITH/UNWIND-bound scalar is struct-field
    // access (e.g. `p.key` after `UNWIND properties(n) AS p`);
    // pattern variables keep their flattened `v__p` columns
    case Prop(v, p) if scalars(v) => col(v).getField(p)
    case Prop(v, p)   => col(s"${v}__$p")
    case Ident(n)     => if (scalars(n)) col(n) else col(s"${n}__id")
    case LitV(x)      => lit(x)
    case ListLit(xs)  => array(xs.map(toColumn(_, scalars)): _*)
    case Cmp("=", l, r)  => toColumn(l, scalars) === toColumn(r, scalars)
    case Cmp("<>", l, r) => toColumn(l, scalars) =!= toColumn(r, scalars)
    case Cmp("<", l, r)  => toColumn(l, scalars) < toColumn(r, scalars)
    case Cmp("<=", l, r) => toColumn(l, scalars) <= toColumn(r, scalars)
    case Cmp(">", l, r)  => toColumn(l, scalars) > toColumn(r, scalars)
    case Cmp(">=", l, r) => toColumn(l, scalars) >= toColumn(r, scalars)
    case Cmp(op, _, _)   => throw new IllegalArgumentException(s"bad operator $op")
    // Neo4j `+` concatenates when either operand is a string — decided
    // statically from the AST (a string literal, a string-returning
    // function, or a concatenation itself); mixed operands cast to
    // string like Neo4j's 'a' + 1 = 'a1'. Everything else stays the
    // codegen'd numeric add.
    case Arith("+", l, r) if stringish(l) || stringish(r) =>
      concat(toColumn(l, scalars).cast("string"),
        toColumn(r, scalars).cast("string"))
    case Arith("+", l, r) => toColumn(l, scalars) + toColumn(r, scalars)
    case Arith("-", l, r) => toColumn(l, scalars) - toColumn(r, scalars)
    case Arith("*", l, r) => toColumn(l, scalars) * toColumn(r, scalars)
    case Arith("/", l, r) => toColumn(l, scalars) / toColumn(r, scalars)
    case Arith("%", l, r) => toColumn(l, scalars) % toColumn(r, scalars)
    // Neo4j `^` is always floating-point exponentiation
    case Arith("^", l, r) => pow(toColumn(l, scalars).cast("double"),
      toColumn(r, scalars).cast("double"))
    case Arith(op, _, _)  => throw new IllegalArgumentException(s"bad operator $op")
    case IsNull(x)        => toColumn(x, scalars).isNull
    case InList(x, ListLit(items)) if items.forall(_.isInstanceOf[LitV]) =>
      // literal fast path: codegen'd isin
      toColumn(x, scalars).isin(items.map {
        case LitV(v) => v
        case other => throw new IllegalStateException(s"unreachable: $other")
      }: _*)
    // general list expression (r15): membership over any list value
    case InList(x, listE) =>
      array_contains(toColumn(listE, scalars), toColumn(x, scalars))
    case And(l, r)    => toColumn(l, scalars) && toColumn(r, scalars)
    case Or(l, r)     => toColumn(l, scalars) || toColumn(r, scalars)
    case Not(x)       => !toColumn(x, scalars)
    // id(n): the node's id column — the reference README's first
    // documented query shape (`MATCH (n:User) RETURN id(n), n.name`)
    case FnCall("id", Some(Ident(v)), _, _) => col(s"${v}__id")
    // elementId(n): Neo4j 5's string-valued identity — the same id,
    // stringified (the engine has no store-file epoch to encode)
    case FnCall("elementid", Some(Ident(v)), _, _) =>
      col(s"${v}__id").cast("string")
    // label predicate `v:Label(:More)*` (r15): true when the node
    // carries EVERY listed label — reads the scan's hidden @labels
    // column (the per-id label SET on multi-label scans), no join
    case FnCallN("@haslabel", Seq(Ident(v), ls @ _*)) =>
      ls.map {
        case LitV(l: String) => array_contains(col(s"${v}__@labels"), l)
        case other => throw new IllegalArgumentException(
          s"label predicate expects literal label names, got $other")
      }.reduce(_ && _)
    // startNode/endNode identity: resolves to the hidden @src/@dst
    // endpoint ids a named DIRECTED single-hop relationship binds
    // (missing column = loud resolution failure for undirected or
    // var-length hops, where the intrinsic orientation isn't carried)
    // … and on an UNWINDed relationship-payload struct, the struct's
    // stored-endpoint fields
    case FnCall("id", Some(FnCall("startnode", Some(Ident(r)), _, _)), _, _)
        if scalars(r) => col(r).getField("src")
    case FnCall("id", Some(FnCall("endnode", Some(Ident(r)), _, _)), _, _)
        if scalars(r) => col(r).getField("dst")
    case FnCall("id", Some(FnCall("startnode", Some(Ident(r)), _, _)), _, _) =>
      col(s"${r}__@src")
    case FnCall("id", Some(FnCall("endnode", Some(Ident(r)), _, _)), _, _) =>
      col(s"${r}__@dst")
    case FnCall("startnode" | "endnode", _, _, _) =>
      throw new IllegalArgumentException(
        "startNode()/endNode() are supported only under id(...): whole-node " +
          "expansion of a relationship endpoint is not implemented")
    case FnCall("id", Some(a), _, _) => throw new IllegalArgumentException(
      s"id() takes a pattern variable, got $a")
    case FnCall("toupper", Some(a), _, _) => upper(toColumn(a, scalars))
    case FnCall("tolower", Some(a), _, _) => lower(toColumn(a, scalars))
    case FnCall("trim", Some(a), _, _)    => trim(toColumn(a, scalars))
    case FnCall("ltrim", Some(a), _, _)   => ltrim(toColumn(a, scalars))
    case FnCall("rtrim", Some(a), _, _)   => rtrim(toColumn(a, scalars))
    // toBoolean — Neo4j 5 accepts BOOLEAN | STRING | INTEGER: booleans
    // pass through, integers map 0→false / nonzero→true, strings only
    // 'true'/'false' (case-insensitive); everything else → null. Same
    // declared-type dispatch as toBooleanOrNull (r18, ADVICE: the r17
    // strict-string fix stringified integers and nulled all of them).
    case FnCall("toboolean", Some(a), _, _) =>
      toBooleanColumn(toColumn(a, scalars))
    // size() is element count for a (statically) list-shaped argument,
    // character count otherwise — Neo4j's polymorphic size() resolved
    // at plan time from the expression shape
    case FnCall("size", Some(a), _, _)    =>
      val isList = isListShaped(a) || (a match {
        case Ident(n) => scalars.lists(n)
        case _        => false
      })
      if (isList) size(toColumn(a, scalars)).cast("long")
      else length(toColumn(a, scalars)).cast("long")
    // math scalars; ceil/floor surface as double (Neo4j returns Float).
    // Spark's ceil/floor return LONG, which erases IEEE -0.0: Math.ceil
    // of any value in (-1, 0) is -0.0, and both Neo4j (Math.ceil) and
    // the DuckDB oracle preserve that sign. When the integral result is
    // zero, multiply the input by 0.0 instead — for finite x, x * 0.0
    // is a zero carrying x's sign, which is exactly IEEE ceil/floor at
    // zero (ceil hits zero only for x in (-1, 0], floor only for
    // x in [0, 1)).
    case FnCall("abs", Some(a), _, _)   => abs(toColumn(a, scalars))
    case FnCall("ceil", Some(a), _, _) =>
      val c = toColumn(a, scalars)
      val r = ceil(c).cast("double")
      when(r === 0.0, c * lit(0.0)).otherwise(r)
    case FnCall("floor", Some(a), _, _) =>
      val c = toColumn(a, scalars)
      val r = floor(c).cast("double")
      when(r === 0.0, c * lit(0.0)).otherwise(r)
    case FnCall("round", Some(a), _, _) => round(toColumn(a, scalars), 0)
    case FnCall("sign", Some(a), _, _)  => signum(toColumn(a, scalars)).cast("long")
    case FnCall("sqrt", Some(a), _, _)  => sqrt(toColumn(a, scalars))
    // transcendental scalars (Neo4j math namespace): each maps to the
    // codegen'd Catalyst expression backed by java.lang.Math — the
    // same libm Neo4j itself calls. log() is NATURAL log in Cypher,
    // matching Spark's log(Column).
    case FnCall("exp", Some(a), _, _)     => exp(toColumn(a, scalars))
    case FnCall("log", Some(a), _, _)     => log(toColumn(a, scalars))
    case FnCall("log10", Some(a), _, _)   => log10(toColumn(a, scalars))
    case FnCall("sin", Some(a), _, _)     => sin(toColumn(a, scalars))
    case FnCall("cos", Some(a), _, _)     => cos(toColumn(a, scalars))
    case FnCall("tan", Some(a), _, _)     => tan(toColumn(a, scalars))
    case FnCall("asin", Some(a), _, _)    => asin(toColumn(a, scalars))
    case FnCall("acos", Some(a), _, _)    => acos(toColumn(a, scalars))
    case FnCall("atan", Some(a), _, _)    => atan(toColumn(a, scalars))
    case FnCall("degrees", Some(a), _, _) => degrees(toColumn(a, scalars))
    case FnCall("radians", Some(a), _, _) => radians(toColumn(a, scalars))
    // zero-arg constants: foldable literals, free to the optimizer
    case FnCall("pi", None, _, _) => lit(java.lang.Math.PI)
    case FnCall("e", None, _, _)  => lit(java.lang.Math.E)
    // isEmpty(list | string): element/character count = 0, resolved
    // at plan time from the expression shape like size()
    case FnCall("isempty", Some(a), _, _) =>
      val isList = isListShaped(a) || (a match {
        case Ident(n) => scalars.lists(n)
        case _        => false
      })
      if (isList) size(toColumn(a, scalars)) === 0
      else length(toColumn(a, scalars)) === 0
    // temporal constructors: date()/datetime() accept an ISO string
    // or an instant column; both compile to codegen'd casts that
    // CONSTANT-FOLD over literals, so a `ts >= datetime('…')` WHERE
    // reaches the parquet scan as a pushable timestamp comparison
    case FnCall("date", Some(a), _, _)     => to_date(toColumn(a, scalars))
    case FnCall("datetime", Some(a), _, _) => to_timestamp(toColumn(a, scalars))
    // local (zone-less) instant types. localdatetime is the wall-clock
    // NTZ twin of datetime; time/localtime are time-of-day values.
    // Spark has no TIME type, so time-of-day is EPOCH-ANCHORED: the
    // instant's micros-into-the-UTC-day added onto 1970-01-01 NTZ —
    // ordering, comparison, and the hour/minute/second components all
    // behave like Neo4j's. Under this engine's fixed UTC session,
    // time() (offset-carrying in Neo4j) coincides with localtime().
    case FnCall("localdatetime", Some(a), _, _) =>
      to_timestamp_ntz(toColumn(a, scalars))
    case FnCall("localtime" | "time", Some(a), _, _) =>
      // micros-of-day re-read as an epoch instant, then to NTZ under
      // the UTC session = 1970-01-01 + time-of-day, micros preserved
      to_timestamp_ntz(timestamp_micros(
        pmod(unix_micros(toColumn(a, scalars).cast("timestamp")),
          lit(86400000000L))))
    // duration('P7D'/'PT90M'/…): an ISO-8601 duration LITERAL as a
    // foldable interval, so `ts >= datetime('…') - duration('P7D')`
    // constant-folds into a pushable timestamp bound. Only literal
    // arguments make sense here (Neo4j duration strings are written
    // inline); anything else fails loudly
    case FnCall("duration", Some(a), _, _) => a match {
      case LitV(s: String) => durationInterval(s)
      case other => throw new IllegalArgumentException(
        s"duration() expects a string literal, got $other")
    }
    // duration.inSeconds.between(a, b) → total seconds b − a;
    // duration.inDays.between → whole 24h periods, truncated toward
    // zero (Neo4j duration component semantics). Pure epoch
    // arithmetic — codegen'd, constant-folds over literal instants
    case FnCallN("@durbetween_s", Seq(a, b)) =>
      (unix_timestamp(toColumn(b, scalars)) -
        unix_timestamp(toColumn(a, scalars))).cast("long")
    case FnCallN("@durbetween_d", Seq(a, b)) =>
      val d = unix_timestamp(toColumn(b, scalars)) -
        unix_timestamp(toColumn(a, scalars))
      // d − d%86400 is an exact multiple and |d| ≪ 2^53, so the
      // double quotient is the exact truncated-toward-zero integer
      ((d - d % lit(86400L)) / lit(86400L)).cast("long")
    // temporal components (parsed from Neo4j's postfix `.year` form
    // into reserved @-names); all surface as long like Neo4j integers.
    // dayOfWeek is ISO (Monday=1) — Spark's dayofweek is Sunday=1, so
    // shift; the DuckDB twin is isodow()
    case FnCall("@year", Some(a), _, _)   => year(toColumn(a, scalars)).cast("long")
    case FnCall("@month", Some(a), _, _)  => month(toColumn(a, scalars)).cast("long")
    case FnCall("@day", Some(a), _, _)    => dayofmonth(toColumn(a, scalars)).cast("long")
    case FnCall("@hour", Some(a), _, _)   => hour(toColumn(a, scalars)).cast("long")
    case FnCall("@minute", Some(a), _, _) => minute(toColumn(a, scalars)).cast("long")
    case FnCall("@second", Some(a), _, _) => second(toColumn(a, scalars)).cast("long")
    case FnCall("@dayofweek", Some(a), _, _) =>
      (((dayofweek(toColumn(a, scalars)) + 5) % 7) + 1).cast("long")
    case FnCall("@epochseconds", Some(a), _, _) =>
      unix_timestamp(toColumn(a, scalars)).cast("long")
    case FnCall("@epochmillis", Some(a), _, _) =>
      unix_millis(to_timestamp(toColumn(a, scalars)))
    // conversions: toInteger truncates toward zero (Neo4j semantics —
    // Spark's double→long cast truncates, matching)
    // toInteger/toFloat return null on unparseable strings (Neo4j
    // semantics) — under ANSI mode that must be try_cast, a plain
    // cast THROWS on malformed input
    case FnCall("tointeger" | "tointegerornull", Some(a), _, _) =>
      toColumn(a, scalars).try_cast("long")
    case FnCall("tofloat" | "tofloatornull", Some(a), _, _) =>
      toColumn(a, scalars).try_cast("double")
    // zone-aware datetime DISPLAY (r17 — closes the documented
    // display-only divergence): toString over a zone-constructed
    // datetime renders the instant IN the constructor's zone with
    // Neo4j's java.time-style format — wall clock, seconds omitted
    // when zero, offset as ±HH:MM ('Z' at zero), the zone name in
    // brackets. The instant itself is unchanged (epoch/comparison
    // surfaces were already exact); only the rendering carries the
    // zone, which is statically known from the constructor. The case
    // fires ONLY when the timezone value is a string LITERAL — any
    // other shape falls through to @mkdatetime's loud "must be a
    // string literal" reject instead of a bare NoSuchElement (r18,
    // ADVICE). Aliased datetimes reach the same rendering through
    // the bindings' zone carry (the Ident case below); zones survive
    // straight WITH→RETURN chains, not list/aggregate round-trips.
    case FnCall("tostring" | "tostringornull",
        Some(dt @ FnCallN("@mkdatetime", dtArgs)), _, _)
        if dtArgs.grouped(2).exists {
          case Seq(LitV("timezone"), LitV(_: String)) => true
          case _                                      => false
        } =>
      val z = dtArgs.grouped(2).collectFirst {
        case Seq(LitV("timezone"), LitV(zz: String)) => zz
      }.get
      zonedDisplay(toColumn(dt, scalars), z)
    // … and over an ALIAS bound to a zone-constructed datetime (r18 —
    // closes the aliased-display carve-out): the WITH horizon carried
    // the literal zone in the bindings, so
    // `WITH datetime({…, timezone:'X'}) AS d RETURN toString(d)`
    // renders exactly like the nested form
    case FnCall("tostring" | "tostringornull", Some(Ident(v)), _, _)
        if scalars.zones.contains(v) =>
      zonedDisplay(col(v), scalars.zones(v))
    case FnCall("tostring" | "tostringornull", Some(a), _, _) =>
      toColumn(a, scalars).cast("string")
    case FnCall("tobooleanornull", Some(a), _, _) =>
      toBooleanColumn(toColumn(a, scalars))
    case FnCall("isnan", Some(a), _, _) =>
      isnan(toColumn(a, scalars).cast("double"))
    // char_length/character_length: always character count (size()'s
    // non-list branch), Neo4j 5.13 aliases
    case FnCall("char_length" | "character_length", Some(a), _, _) =>
      length(toColumn(a, scalars)).cast("long")
    // haversin(x) = (1 - cos(x)) / 2
    case FnCall("haversin", Some(a), _, _) =>
      (lit(1.0) - cos(toColumn(a, scalars).cast("double"))) / lit(2.0)
    case FnCall("reverse", Some(a), _, _)   => reverse(toColumn(a, scalars))
    // head/last of an EMPTY list are null (Neo4j) — under ANSI mode
    // element_at throws there, so use the lenient accessor
    case FnCall("head", Some(a), _, _) =>
      try_element_at(toColumn(a, scalars), lit(1))
    case FnCall("last", Some(a), _, _) =>
      try_element_at(toColumn(a, scalars), lit(-1))
    case FnCall("tail", Some(a), _, _) =>
      val c = toColumn(a, scalars)
      slice(c, lit(2), greatest(size(c) - 1, lit(0)))
    // substring(s, i[, len]) — Neo4j indexes from 0, SQL from 1
    // list index xs[i]: Cypher is 0-based with negative-from-end;
    // `get` is the 0-based null-on-out-of-bounds accessor, and
    // element_at's negative indexing covers i < 0 — both codegen'd
    case FnCallN("@index", Seq(b, i)) =>
      val arr = toColumn(b, scalars)
      val ic = toColumn(i, scalars).cast("int")
      when(ic >= 0, get(arr, ic)).otherwise(element_at(arr, ic))
    // list slice xs[a..b]: 0-based end-exclusive with negative and
    // open bounds — normalize each bound to [0, n] then one `slice`
    case FnCallN("@slice", Seq(b, a0, b0)) =>
      val arr = toColumn(b, scalars)
      val n = size(arr)
      def norm(e: CExpr): Column = {
        val x = toColumn(e, scalars).cast("int")
        greatest(least(when(x < 0, n + x).otherwise(x), n), lit(0))
      }
      val lo = norm(a0)
      slice(arr, lo + 1, greatest(norm(b0) - lo, lit(0)))
    // map constructors datetime({year: …}) / date({…}) (parser sugar;
    // alternating LitV(key), expr arguments): make_timestamp/make_date
    // with Neo4j component defaults (month/day → 1, time-of-day → 0) —
    // foldable over literal components, so WHERE bounds stay pushable
    case FnCallN(fn @ ("@mkdatetime" | "@mkdate" | "@mklocaldatetime"), args) =>
      // datetime({…, timezone: '<IANA zone>'}) (r16): the wall-clock
      // components are interpreted IN that zone and the result is the
      // corresponding instant (Neo4j's zoned construction — DST rules
      // included, via the JVM tzdb). Under this engine's pinned UTC
      // session the instant DISPLAYS in UTC; Neo4j would display it
      // with the zone's offset — a formatting divergence only, the
      // instant (epoch seconds, comparisons, arithmetic) is exact.
      val (tzArgs, plainArgs) = args.grouped(2).toSeq.partition {
        case Seq(LitV("timezone"), _) => true
        case _                        => false
      }
      val tz: Option[String] = tzArgs.headOption.map {
        case Seq(_, LitV(z: String)) => z
        case other => throw new IllegalArgumentException(
          s"timezone component must be a string literal, got $other")
      }
      require(tz.isEmpty || fn == "@mkdatetime",
        "only datetime({…}) takes a timezone component")
      val comps = plainArgs.flatten.grouped(2).map {
        case Seq(LitV(k: String), e) => k -> toColumn(e, scalars)
        case other => throw new IllegalArgumentException(
          s"malformed temporal map constructor args: $other")
      }.toMap
      val allowed = Set("year", "month", "day", "hour", "minute", "second")
      val bad = comps.keySet -- allowed
      require(bad.isEmpty, s"unsupported temporal components: " +
        s"${bad.toSeq.sorted.mkString(", ")} (supported: " +
        s"${allowed.toSeq.sorted.mkString(", ")}, timezone)")
      require(comps.contains("year"),
        "temporal map constructor requires a year component")
      def c(k: String, default: Int): Column =
        comps.getOrElse(k, lit(default)).cast("int")
      if (fn == "@mkdate") {
        require(!comps.keySet.exists(Set("hour", "minute", "second")),
          "date({…}) takes only year/month/day components")
        make_date(c("year", 1), c("month", 1), c("day", 1))
      } else if (fn == "@mklocaldatetime")
        make_timestamp_ntz(c("year", 1), c("month", 1), c("day", 1),
          c("hour", 0), c("minute", 0), c("second", 0).cast("decimal(16,6)"))
      else tz match {
        case Some(z) =>
          make_timestamp(c("year", 1), c("month", 1), c("day", 1),
            c("hour", 0), c("minute", 0),
            c("second", 0).cast("decimal(16,6)"), lit(z))
        case None =>
          make_timestamp(c("year", 1), c("month", 1), c("day", 1),
            c("hour", 0), c("minute", 0), c("second", 0).cast("decimal(16,6)"))
      }
    // duration({years, months, weeks, days, hours, minutes, seconds})
    // — the map spelling of duration('P…'): integer-literal components
    // (like the ISO literal form) folded into one make_interval, so
    // instant ± duration bounds stay pushable
    case FnCallN("@mkduration", args) =>
      val comps = args.grouped(2).map {
        case Seq(LitV(k: String), LitV(v: Long)) => k -> v
        case Seq(LitV(k: String), other) => throw new IllegalArgumentException(
          s"duration({…}) takes integer-literal components, got $k: $other")
        case other => throw new IllegalArgumentException(
          s"malformed duration map constructor args: $other")
      }.toMap
      val allowed = Set("years", "months", "weeks", "days",
        "hours", "minutes", "seconds")
      val bad = comps.keySet -- allowed
      require(bad.isEmpty, s"unsupported duration components: " +
        s"${bad.toSeq.sorted.mkString(", ")} (supported: " +
        s"${allowed.toSeq.sorted.mkString(", ")})")
      require(comps.nonEmpty, "duration({}) needs at least one component")
      def dn(k: String): Long = comps.getOrElse(k, 0L)
      expr(s"make_interval(${dn("years")}, ${dn("months")}, 0, " +
        s"${dn("weeks") * 7 + dn("days")}, ${dn("hours")}, " +
        s"${dn("minutes")}, ${dn("seconds")})")
    // time({hour[, minute, second]}) / localtime({…}) — epoch-anchored
    // time-of-day (see the single-arg constructors above); hour is the
    // required component, Neo4j-style
    case FnCallN("@mktime", args) =>
      val comps = args.grouped(2).map {
        case Seq(LitV(k: String), e) => k -> toColumn(e, scalars)
        case other => throw new IllegalArgumentException(
          s"malformed time map constructor args: $other")
      }.toMap
      val allowed = Set("hour", "minute", "second")
      val bad = comps.keySet -- allowed
      require(bad.isEmpty, s"unsupported time components: " +
        s"${bad.toSeq.sorted.mkString(", ")} (supported: " +
        s"${allowed.toSeq.sorted.mkString(", ")})")
      require(comps.contains("hour"),
        "time map constructor requires an hour component")
      def tc(k: String): Column =
        comps.getOrElse(k, lit(0)).cast("int")
      make_timestamp_ntz(lit(1970), lit(1), lit(1),
        tc("hour"), tc("minute"), tc("second").cast("decimal(16,6)"))
    // point({x, y}) / point({latitude, longitude}) → a (crs, x, y)
    // struct (geographic stores x=longitude, y=latitude — Neo4j's own
    // aliasing). point.distance / distance dispatches on the CRS tags
    // at runtime like Neo4j: cartesian×cartesian → euclidean (spelled
    // with multiplication, not pow — libm pow differs by ulps across
    // engines; * and sqrt are IEEE-exact), wgs-84×wgs-84 → haversine
    // on the mean-radius sphere, mixed CRS → NULL (Neo4j semantics).
    // For literal-constructed points the when() chain constant-folds
    // to the one live branch.
    case FnCallN("@point", Seq(x, y)) =>
      struct(lit("cartesian").as("crs"),
        toColumn(x, scalars).cast("double").as("x"),
        toColumn(y, scalars).cast("double").as("y"))
    case FnCallN("@pointgeo", Seq(lon, lat)) =>
      struct(lit("wgs-84").as("crs"),
        toColumn(lon, scalars).cast("double").as("x"),
        toColumn(lat, scalars).cast("double").as("y"))
    case FnCallN("@distance" | "distance", Seq(a, b)) =>
      val pa = toColumn(a, scalars)
      val pb = toColumn(b, scalars)
      val bothCart = pa.getField("crs") === lit("cartesian") &&
        pb.getField("crs") === lit("cartesian")
      val bothGeo = pa.getField("crs") === lit("wgs-84") &&
        pb.getField("crs") === lit("wgs-84")
      val dx = pa.getField("x") - pb.getField("x")
      val dy = pa.getField("y") - pb.getField("y")
      val euclid = sqrt(dx * dx + dy * dy)
      // haversine, folded in a FIXED order the DuckDB oracle mirrors
      // token-for-token (sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2), then
      // 2·R·asin(√h)); libm sin/cos/asin spread is ≤ ulps of an O(1)
      // intermediate and the consumer query rounds the meter-scale
      // result coarsely enough to absorb it
      val sLat = sin(radians(pb.getField("y") - pa.getField("y")) / 2)
      val sLon = sin(radians(pb.getField("x") - pa.getField("x")) / 2)
      val h = sLat * sLat +
        cos(radians(pa.getField("y"))) * cos(radians(pb.getField("y"))) *
          (sLon * sLon)
      val hav = lit(2.0) * lit(EarthRadiusMeters) * asin(sqrt(h))
      when(bothCart, euclid).when(bothGeo, hav)
        .otherwise(lit(null).cast("double"))
    // point.withinBBox(p, lowerLeft, upperRight) → axis-range
    // containment (lat/lon ranges for geographic, x/y for cartesian —
    // no antimeridian wrap, documented); mixed CRS → NULL like
    // distance. getField over literal-constructed points simplifies
    // to plain column comparisons (SimplifyExtractValueOps), so the
    // predicate stays codegen'd scalar algebra.
    case FnCallN("@withinbbox", Seq(p, lo, hi)) =>
      val cp = toColumn(p, scalars)
      val cl = toColumn(lo, scalars)
      val ch = toColumn(hi, scalars)
      val sameCrs = cp.getField("crs") === cl.getField("crs") &&
        cp.getField("crs") === ch.getField("crs")
      val inside =
        cp.getField("x") >= cl.getField("x") &&
        cp.getField("x") <= ch.getField("x") &&
        cp.getField("y") >= cl.getField("y") &&
        cp.getField("y") <= ch.getField("y")
      when(sameCrs, inside).otherwise(lit(null).cast("boolean"))
    // namespaced temporal truncation (parser sugar):
    // datetime.truncate('month', x) → date_trunc — codegen'd, and
    // foldable over literal arguments so truncated-bound WHERE
    // comparisons stay pushable. date.truncate additionally casts to
    // date (Neo4j returns a Date from the date namespace).
    case FnCallN(fn @ ("@trunc" | "@truncdate"), Seq(LitV(unit: String), a)) =>
      val supported = Set("year", "quarter", "month", "week", "day",
        "hour", "minute", "second")
      require(supported.contains(unit),
        s"unsupported truncation unit '$unit' (supported: " +
          s"${supported.toSeq.sorted.mkString(", ")})")
      val t = date_trunc(unit, toColumn(a, scalars))
      if (fn == "@truncdate") t.cast("date") else t
    // map projection (parser sugar): n {.name, .acctbal} → a struct
    // with the selected properties as fields; field access on the
    // result goes through the scalar-Prop getField path
    case FnCallN("@mapproj", Seq(Ident(v), keys @ _*)) =>
      struct(keys.map {
        case LitV(k: String) => col(s"${v}__$k").as(k)
        // computed entry `key: expr` — any scalar expression, named
        case FnCallN("@mapentry", Seq(LitV(k: String), e)) =>
          toColumn(e, scalars).as(k)
        // an unresolved `.*` marker: the star resolves against the
        // projected frame in RETURN/WITH items; anywhere else the
        // frame is not in scope here — list the keys explicitly
        case FnCallN("@mapstar", _) => throw new IllegalArgumentException(
          "map-projection `.*` is supported in RETURN/WITH items; " +
            "list the keys explicitly in this position")
        case other => throw new IllegalArgumentException(
          s"map-projection key must be a property name, got $other") }: _*)
    case FnCallN("substring", args) if args.size == 2 || args.size == 3 =>
      val s = toColumn(args(0), scalars)
      val from = toColumn(args(1), scalars).cast("int") + 1
      val len = if (args.size == 3) toColumn(args(2), scalars).cast("int")
        else length(s)
      substr(s, from, len)
    case FnCallN("replace", Seq(s0, f0, t0)) =>
      replace(toColumn(s0, scalars), toColumn(f0, scalars), toColumn(t0, scalars))
    case FnCallN("atan2", Seq(y0, x0)) =>
      atan2(toColumn(y0, scalars), toColumn(x0, scalars))
    // datetime.fromEpoch(seconds[, nanos]) / fromEpochMillis(ms) —
    // epoch-anchored instants at microsecond precision (Spark's
    // timestamp grain; sub-microsecond nanos truncate)
    case FnCallN("@fromepoch", as) =>
      require(as.size <= 2,
        s"datetime.fromEpoch takes (seconds[, nanos]), got ${as.size} args")
      val secs = toColumn(as.head, scalars).cast("long")
      val nanos =
        if (as.size == 2) toColumn(as(1), scalars).cast("long") else lit(0L)
      timestamp_micros((secs * lit(1000000L) +
        (nanos / lit(1000L)).cast("long")).cast("long"))
    case FnCallN("@fromepochmillis", Seq(a)) =>
      timestamp_millis(toColumn(a, scalars).cast("long"))
    // split on a LITERAL delimiter (Neo4j splits literally; Spark's
    // split takes a regex, so the delimiter is quoted)
    case FnCallN("split", Seq(s0, LitV(d: String))) =>
      split(toColumn(s0, scalars), java.util.regex.Pattern.quote(d))
    case FnCallN("left", Seq(s0, n0)) =>
      substr(toColumn(s0, scalars), lit(1), toColumn(n0, scalars).cast("int"))
    case FnCallN("right", Seq(s0, n0)) =>
      val c = toColumn(s0, scalars)
      val n = toColumn(n0, scalars).cast("int")
      // start clamps to 1 when n exceeds the length (whole string)
      substr(c, greatest(length(c) - n + 1, lit(1)), n)
    case FnCallN("round", Seq(a, LitV(d: Long))) =>
      round(toColumn(a, scalars), d.toInt)
    case FnCallN(f, as) => throw new IllegalArgumentException(
      s"unsupported call $f/${as.size}")
    // list predicates → codegen'd higher-order functions
    case ListPred(kind, v, listE, predE) =>
      val c = toColumn(listE, scalars)
      def p(x: Column): Column = toColumn(subst(predE, v, x), scalars)
      kind match {
        case "any"    => exists(c, p)
        case "all"    => forall(c, p)
        case "none"   => !exists(c, p)
        case "single" => size(filter(c, x => p(x))) === 1
        case other => throw new IllegalArgumentException(
          s"bad list predicate $other")
      }
    // type(r): the relationship's type name — ChainPlanner binds it as a
    // hidden `r__@type` column (a literal for typed hops, the union's
    // `__rt` tag for type-less ones; "@" keeps it out of the
    // property namespace and whole-node expansion)
    // … and on an UNWINDed relationship-payload struct, its tag field
    case FnCall("type", Some(Ident(r)), _, _) if scalars(r) =>
      col(r).getField("type")
    case FnCall("type", Some(Ident(r)), _, _)   => col(s"${r}__@type")
    // labels(n): the node's label list, bound by every node scan as
    // the hidden `n__@labels` column
    case FnCall("labels", Some(Ident(v)), _, _) => col(s"${v}__@labels")
    // keys(n): the node's property-name list, a plan-time literal
    case FnCall("keys", Some(Ident(v)), _, _)   => col(s"${v}__@keys")
    // properties(n): sorted array<struct<key,val>> with stringified
    // values (a MAP would not be hashable by the driver compare);
    // bound per scan as the hidden `n__@props` column, null-valued
    // properties filtered out like Neo4j's absent keys
    case FnCall("properties", Some(Ident(v)), _, _) => col(s"${v}__@props")
    // length(p): relationship count of the named path — ChainPlanner
    // accumulates it while joining the chain's hops
    case FnCall("length", Some(Ident(p)), _, _) => col(s"${p}__@len")
    // cost(p): accumulated weight of a weighted shortestPath chain
    // (`shortestPath(…, 'prop')`); unbound — and loudly failing —
    // anywhere else
    case FnCall("cost", Some(Ident(p)), _, _) => col(s"${p}__@wcost")
    // nodes(p): the path's node-id sequence in pattern order,
    // accumulated hop by hop (unavailable on shortestPath chains —
    // the BFS keeps pair×depth, not walks; resolution fails there)
    case FnCall("nodes", Some(Ident(p)), _, _) => col(s"${p}__@nodes")
    // relationships(p): the path's edge identities in pattern order —
    // structs of (t: type tag, u: src id, v: dst id, k: parallel
    // rank), the same identity the uniqueness bookkeeping uses
    case FnCall("relationships", Some(Ident(p)), _, _) => col(s"${p}__@rels")
    case StrPred("startswith", l, r) =>
      toColumn(l, scalars).startsWith(toColumn(r, scalars))
    case StrPred("endswith", l, r) =>
      toColumn(l, scalars).endsWith(toColumn(r, scalars))
    case StrPred("contains", l, r) =>
      toColumn(l, scalars).contains(toColumn(r, scalars))
    // Neo4j `=~` matches the WHOLE string; Spark's regexp_like finds
    // anywhere — anchor via a non-capturing group
    case StrPred("regex", l, r) =>
      regexp_like(toColumn(l, scalars),
        concat(lit("^(?:"), toColumn(r, scalars), lit(")$")))
    case StrPred(op, _, _) => throw new IllegalArgumentException(
      s"bad string predicate $op")
    case Coalesce(args) => coalesce(args.map(toColumn(_, scalars)): _*)
    case CaseExpr(whens, otherwise) =>
      val base = whens.map { case (c, v) =>
        (toColumn(c, scalars), toColumn(v, scalars))
      }
      val first = when(base.head._1, base.head._2)
      val chained = base.tail.foldLeft(first) { case (acc, (c, v)) => acc.when(c, v) }
      otherwise.map(o => chained.otherwise(toColumn(o, scalars))).getOrElse(chained)
    case RangeList(f, t, st) =>
      sequence(toColumn(f, scalars), toColumn(t, scalars), toColumn(st, scalars))
    // list comprehension / reduce → codegen'd higher-order functions;
    // the lambda variable is substituted into the sub-expression as an
    // already-resolved column (ColRef), so nested expressions reuse
    // this translator unchanged
    case ListComp(v, listE, whereE, projE) =>
      var c = toColumn(listE, scalars)
      whereE.foreach(w => c = filter(c, x => toColumn(subst(w, v, x), scalars)))
      projE.foreach(p => c = transform(c, x => toColumn(subst(p, v, x), scalars)))
      c
    case ReduceExpr(accName, init, v, listE, step) =>
      aggregate(toColumn(listE, scalars), toColumn(init, scalars),
        (a, x) => toColumn(subst(subst(step, accName, a), v, x), scalars))
    case ColRef(c) => c.asInstanceOf[Column]
    case f: FnCall    => throw new IllegalArgumentException(
      s"aggregate ${f.name} not allowed here")
    case _: ExistsPattern | _: ExistsSubquery =>
      throw new IllegalArgumentException(
        "EXISTS is only valid in a WHERE directly after MATCH")
    case _: CountPattern | _: CountSubquery | _: CollectSubquery =>
      throw new IllegalArgumentException(
        "COUNT { } / COLLECT { } are only supported as top-level " +
          "RETURN/WITH items or inside a WHERE")
    case _: PercentileCont | _: PercentileDisc =>
      throw new IllegalArgumentException(
        "percentile aggregates are only valid in RETURN/WITH items")
    case Param(n) => throw new IllegalArgumentException(
      s"unbound query parameter $$$n - pass a params map to CypherPlanner.run")
  }

  /** True when `e` is statically known to produce a list value —
    * drives the polymorphic `size()` resolution together with
    * [[Bindings.lists]], which tracks WITH-bound variables holding
    * lists across horizons.
    */
  private def isListShaped(e: CExpr): Boolean = e match {
    case _: ListLit | _: RangeList | _: ListComp => true
    case FnCall("collect", _, _, _) => true
    case FnCall("labels", _, _, _)  => true
    case FnCall("keys", _, _, _)    => true
    case FnCall("properties", _, _, _) => true
    case FnCall("nodes", _, _, _)   => true
    case FnCall("relationships", _, _, _) => true
    case FnCallN("@slice", _)       => true
    case FnCall("tail", _, _, _)    => true
    case FnCallN("split", _)        => true
    case _                          => false
  }

  /** Substitutes lambda variable `name` with an already-resolved
    * column throughout a sub-expression (respecting inner shadowing by
    * a same-named comprehension/reduce variable).
    */
  private def subst(e: CExpr, name: String, c: Column): CExpr = e match {
    case Ident(`name`)   => ColRef(c)
    case i: Ident        => i
    // property access on the lambda variable is struct-field access
    // (e.g. `r.w` in `reduce(acc = 0.0, r IN rs | acc + r.w)` over a
    // relationship payload list)
    case Prop(`name`, p) => ColRef(c.getField(p))
    case p: Prop         => p
    case l: LitV         => l
    case pr: Param       => pr
    case cr: ColRef      => cr
    case ListLit(xs)     => ListLit(xs.map(subst(_, name, c)))
    case Cmp(op, l, r)   => Cmp(op, subst(l, name, c), subst(r, name, c))
    case Arith(op, l, r) => Arith(op, subst(l, name, c), subst(r, name, c))
    case IsNull(x)       => IsNull(subst(x, name, c))
    case InList(x, l)    => InList(subst(x, name, c), subst(l, name, c))
    case And(l, r)       => And(subst(l, name, c), subst(r, name, c))
    case Or(l, r)        => Or(subst(l, name, c), subst(r, name, c))
    case Not(x)          => Not(subst(x, name, c))
    case FnCall(f, a, s, d) => FnCall(f, a.map(subst(_, name, c)), s, d)
    case FnCallN(f, as)     => FnCallN(f, as.map(subst(_, name, c)))
    case lp @ ListPred(k, v, l, p) =>
      if (v == name) lp.copy(list = subst(l, name, c)) // inner shadow
      else ListPred(k, v, subst(l, name, c), subst(p, name, c))
    case StrPred(op, l, r)  => StrPred(op, subst(l, name, c), subst(r, name, c))
    case Coalesce(xs)    => Coalesce(xs.map(subst(_, name, c)))
    case CaseExpr(ws, o) => CaseExpr(
      ws.map { case (w, v) => (subst(w, name, c), subst(v, name, c)) },
      o.map(subst(_, name, c)))
    case RangeList(f, t, s) =>
      RangeList(subst(f, name, c), subst(t, name, c), subst(s, name, c))
    case lc @ ListComp(v, l, w, p) =>
      if (v == name) lc.copy(list = subst(l, name, c)) // inner shadow
      else ListComp(v, subst(l, name, c),
        w.map(subst(_, name, c)), p.map(subst(_, name, c)))
    case r @ ReduceExpr(acc, init, v, l, st) =>
      val init2 = subst(init, name, c)
      val l2 = subst(l, name, c)
      if (acc == name || v == name) r.copy(init = init2, list = l2)
      else ReduceExpr(acc, init2, v, l2, subst(st, name, c))
    case other => other // patterns (EXISTS/COUNT) hold no lambda vars
  }

  /** List-valued variables a MATCH chain binds as scalars: GQL node
    * group variables (single- and multi-hop), per-repetition
    * relationship lists of named inner hops, and named var-length
    * relationship lists. Shared by the MATCH and OPTIONAL MATCH
    * scope-registration paths.
    */
  private def groupListVars(chain: PatternChain): Set[String] =
    chain.hops.flatMap { case (r, _) =>
      r.groupNodes.toSeq.flatMap { case (a, b) => a.toSeq ++ b.toSeq } ++
        r.groupChain.toSeq.flatMap(ch =>
          (ch.start +: ch.hops.map(_._2)).flatMap(_.variable) ++
            ch.hops.flatMap(_._1.variable)) ++
        // named var-length lists bind under allShortestPaths too
        // since the capped walk enumeration (r16)
        (if (r.varLength.isDefined) r.variable.toSeq else Seq.empty)
    }.toSet

  /** Path variables carrying a shortest-path multiplicity
    * (`allShortestPaths` chains): `count(p)` over them sums the
    * multiplicities instead of counting rows — the relational
    * spelling of "one row per path" without enumerating paths.
    */
  private def pathCountVars(df: DataFrame): Set[String] =
    df.columns.collect {
      case c if c.endsWith("__@npaths") => c.stripSuffix("__@npaths")
    }.toSet

  /** Neo4j `sum()`/`avg()` result typing dispatches on the OPERAND
    * type: an integral operand yields an INTEGER (long) sum, a float
    * operand a FLOAT (double) one. The operand's Spark type is only
    * known against the actual frame, so the aggregation call sites
    * pass their input df for a plan-time resolve.
    */
  /** Zone-aware datetime DISPLAY rendering shared by the nested and
    * aliased `toString(datetime({…, timezone: 'z'}))` forms: the
    * instant rendered as a wall clock IN `z`, Neo4j's java.time-style
    * format — seconds omitted when zero, offset as ±HH:MM ('Z' at
    * zero), the zone name in brackets. The instant itself is
    * unchanged; only the rendering carries the plan-time zone.
    */
  private def zonedDisplay(inst: Column, z: String): Column = {
    val wall = from_utc_timestamp(inst, z)
    val off = (unix_timestamp(wall) - unix_timestamp(inst)).cast("long")
    val aoff = abs(off)
    val offStr = when(off === 0, lit("Z")).otherwise(concat(
      when(off < 0, lit("-")).otherwise(lit("+")),
      lpad((aoff / 3600).cast("long").cast("string"), 2, "0"), lit(":"),
      lpad(((aoff % 3600) / 60).cast("long").cast("string"), 2, "0")))
    val secs = second(wall)
    val base = date_format(wall, "yyyy-MM-dd'T'HH:mm")
    concat(
      when(secs === 0, base).otherwise(
        concat(base, lit(":"), lpad(secs.cast("string"), 2, "0"))),
      offStr, lit("["), lit(z), lit("]"))
  }

  /** Whether a column is usable as a sort key against the given frame
    * (map-typed values — and containers of them — have no ordering in
    * Spark; ORDER BY over one is an AnalysisException). Used to SKIP
    * unorderable items from the deterministic no-ORDER-BY tie-break,
    * where Neo4j accepts the query.
    */
  private def isOrderableOn(df: DataFrame, c: Column): Boolean =
    org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(
      df.select(c).schema.head.dataType)

  private def isIntegralOn(df: DataFrame, c: Column): Boolean =
    df.select(c).schema.head.dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  private def toAggColumn(e: CExpr, scalars: Bindings,
      npaths: Set[String] = Set.empty,
      df: DataFrame = null): Column = e match {
    case FnCall("count", Some(Ident(p)), _, false) if npaths(p) =>
      sum(col(s"${p}__@npaths")).cast("long")
    case FnCall("count", _, true, _)       => count(lit(1))
    case FnCall("count", Some(a), _, true) => countDistinct(toColumn(a, scalars))
    case FnCall("count", Some(a), _, _)    => count(toColumn(a, scalars))
    // fixed-point accumulation (like Relational's money sums): decimal
    // summation is exact, so parallel combine order cannot perturb low
    // bits; the surfaced type follows Neo4j sum() typing — long for an
    // integral operand, double for a float one
    case FnCall("sum", Some(a), _, d) =>
      val operand = toColumn(a, scalars)
      val c = operand.cast("decimal(18,4)")
      val acc = if (d) sum_distinct(c) else sum(c)
      if (df != null && isIntegralOn(df, operand)) acc.cast("long")
      else acc.cast("double")
    case FnCall("min", Some(a), _, _) => min(toColumn(a, scalars))
    case FnCall("max", Some(a), _, _) => max(toColumn(a, scalars))
    // avg via the same fixed-point sum over an explicit count, so the
    // result is order-independent like sum()
    case FnCall("avg", Some(a), _, _) =>
      sum(toColumn(a, scalars).cast("decimal(18,4)")).cast("double") /
        count(toColumn(a, scalars))
    // collect(DISTINCT x) dedups before the (deterministic) sort
    case FnCall("collect", Some(a), _, d) =>
      sort_array(if (d) collect_set(toColumn(a, scalars))
        else collect_list(toColumn(a, scalars)))
    // sample stddev from exact decimal moments — sqrt((Σx² − (Σx)²/n)
    // / (n−1)) where both sums accumulate in decimal, so parallel
    // combine order cannot perturb the result and the DuckDB oracle
    // folds the identical IEEE sequence; 6-dp rounded
    case FnCall("stdev", Some(a), _, _) =>
      val x = toColumn(a, scalars).cast("decimal(18,4)")
      val n = count(toColumn(a, scalars))
      val s1 = sum(x).cast("double")
      val s2 = sum((x * x).cast("decimal(38,8)")).cast("double")
      round(sqrt((s2 - s1 * s1 / n) / (n - lit(1L))), 6)
    // exact interpolated percentile (Spark sorts the group's values);
    // 6-dp rounding absorbs interpolation-formula ulp differences
    case PercentileCont(a, p) =>
      round(percentile(toColumn(a, scalars), lit(p)), 6)
    // discrete percentile: the ceil(p·n)-th smallest actual value —
    // an expression OVER aggregates (sorted collect + count), exact
    // and engine-agnostic (no interpolation to absorb)
    case PercentileDisc(a, p) =>
      val c = toColumn(a, scalars)
      // rank = ceil(p·n) in EXACT integer arithmetic: the double
      // product can round up past an integer (0.07 × 100 →
      // 7.000000000000001 → ceil 8, off by one vs every SQL engine).
      // With p = num/10^s (shortest decimal of the literal),
      // ceil(num·n / 10^s) = (num·n + 10^s - 1) div 10^s — decimal
      // arithmetic, no floats anywhere.
      val bd = java.math.BigDecimal.valueOf(p)
      val scale = math.max(bd.scale, 0)
      require(scale <= 6, s"percentileDisc supports ≤ 6 decimal places, got $p")
      val den = math.pow(10, scale.toDouble).toLong
      val num = bd.movePointRight(scale).longValueExact()
      val t = (lit(num) * count(c)).cast("decimal(38,0)") + lit(den - 1)
      val rank = greatest(floor(t / lit(den)).cast("int"), lit(1))
      // an all-NULL / empty group yields NULL (as quantile_disc does)
      // instead of an ANSI INVALID_ARRAY_INDEX on the empty collect
      when(count(c) === 0, lit(null))
        .otherwise(element_at(sort_array(collect_list(c)), rank))
    case other => throw new IllegalArgumentException(s"not an aggregate: $other")
  }
}
