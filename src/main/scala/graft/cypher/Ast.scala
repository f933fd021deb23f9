package graft.cypher

/** AST for the Cypher subset graft executes natively on Spark.
  *
  * The reference (s1ck/flink-neo4j, Neo4jInputFormat.java:60-92)
  * ships the Cypher string to a Neo4j server and parses result rows;
  * graft instead compiles the query itself into a Catalyst plan over
  * property-graph DataFrames — that is what makes the same surface
  * scale past a single server.
  *
  * Grammar (round 2 — clause pipeline):
  * {{{
  *   query      := clause+ return
  *   clause     := [OPTIONAL] MATCH pattern [WHERE expr]
  *               | WITH [DISTINCT] item (, item)* [WHERE expr]
  *                 [ORDER BY sort*] [SKIP n] [LIMIT n]
  *               | UNWIND expr AS var
  *   return     := RETURN [DISTINCT] item (, item)*
  *                 [ORDER BY sort*] [SKIP n] [LIMIT n]
  *   pattern    := [pathVar '='] node (rel node)*
  *   node       := '(' [var] [':' Label] [{prop: lit, …}] ')'
  *   rel        := '-[' [var] [':' TYPE] [*min..max] ']->'
  *               | '<-[' … ']-'
  * }}}
  */
object Ast {

  /** An expression node. Its children are written once, in
    * [[mapChildren]]; walks over the whole tree go through it:
    * [[transform]], [[exists]] and [[foreach]] take a partial function
    * that answers a node (and decides on its subtree itself), and
    * descend into the children of every node it does not answer.
    * Lambda bodies, a pattern subquery's WHERE / projection and the
    * expressions of a subquery body's clauses are children; pattern
    * property maps are literals, and a quantified group's inline WHERE
    * belongs to its pattern, not to the tree.
    */
  sealed trait CExpr {
    /** This node with `f` applied to each direct child, in source order. */
    def mapChildren(f: CExpr => CExpr): CExpr = this match {
      case ListLit(xs)                => ListLit(xs.map(f))
      case Cmp(op, l, r)              => Cmp(op, f(l), f(r))
      case Arith(op, l, r)            => Arith(op, f(l), f(r))
      case IsNull(x)                  => IsNull(f(x))
      case InList(x, l)               => InList(f(x), f(l))
      case And(l, r)                  => And(f(l), f(r))
      case Or(l, r)                   => Or(f(l), f(r))
      case Not(x)                     => Not(f(x))
      case c: FnCall                  => c.copy(arg = c.arg.map(f))
      case ExistsPattern(ch, w)       => ExistsPattern(ch, w.map(f))
      case ExistsSubquery(body)       => ExistsSubquery(body.map(_.mapExprs(f)))
      case CountSubquery(body)        => CountSubquery(body.map(_.mapExprs(f)))
      case CollectSubquery(body)      => CollectSubquery(body.map(_.mapExprs(f)))
      case CountPattern(ch, w)        => CountPattern(ch, w.map(f))
      case PatternComp(ch, w, p)      => PatternComp(ch, w.map(f), f(p))
      case PercentileCont(a, p)       => PercentileCont(f(a), p)
      case PercentileDisc(a, p)       => PercentileDisc(f(a), p)
      case RangeList(a, b, s)         => RangeList(f(a), f(b), f(s))
      case ListComp(v, l, w, p)       => ListComp(v, f(l), w.map(f), p.map(f))
      case ReduceExpr(a, i, v, l, s)  => ReduceExpr(a, f(i), v, f(l), f(s))
      case CaseExpr(ws, o)            =>
        CaseExpr(ws.map { case (c, v) => (f(c), f(v)) }, o.map(f))
      case StrPred(op, l, r)          => StrPred(op, f(l), f(r))
      case Coalesce(xs)               => Coalesce(xs.map(f))
      case FnCallN(n, as)             => FnCallN(n, as.map(f))
      case ListPred(k, v, l, p)       => ListPred(k, v, f(l), f(p))
      case _: Prop | _: Ident | _: LitV | _: Param | _: ColRef => this
    }

    def children: Seq[CExpr] = {
      val out = Seq.newBuilder[CExpr]
      mapChildren { c => out += c; c }
      out.result()
    }

    /** Top-down rewrite: `pf`'s answer replaces a node it is defined
      * at; elsewhere the rewrite descends into the children.
      */
    def transform(pf: PartialFunction[CExpr, CExpr]): CExpr =
      pf.applyOrElse(this, (e: CExpr) => e.mapChildren(_.transform(pf)))

    def exists(pf: PartialFunction[CExpr, Boolean]): Boolean =
      pf.applyOrElse(this, (e: CExpr) => e.children.exists(_.exists(pf)))

    def foreach(pf: PartialFunction[CExpr, Unit]): Unit =
      pf.applyOrElse(this, (e: CExpr) => e.children.foreach(_.foreach(pf)))
  }

  /** An expression planned as its own subquery over its own pattern or
    * clause body: EXISTS / COUNT / COLLECT and pattern comprehensions.
    */
  sealed trait Subquery extends CExpr

  final case class Prop(variable: String, prop: String) extends CExpr
  final case class Ident(name: String) extends CExpr
  final case class LitV(value: Any) extends CExpr
  final case class ListLit(items: Seq[CExpr]) extends CExpr
  final case class Cmp(op: String, l: CExpr, r: CExpr) extends CExpr
  /** Binary arithmetic: + - * / with the usual precedence. */
  final case class Arith(op: String, l: CExpr, r: CExpr) extends CExpr
  /** `e IS NULL` (negate with NOT / IS NOT NULL). */
  final case class IsNull(e: CExpr) extends CExpr
  /** `x IN list` — the list may be ANY list-valued expression
    * (literal, bound list variable, collect result, range(), group
    * variable — r15; formerly literals only). Literal lists keep the
    * codegen'd isin fast path.
    */
  final case class InList(e: CExpr, list: CExpr) extends CExpr
  /** `$name` placeholder — replaced by a literal at plan time (the
    * reference ships these in the payload's `parameters` object).
    */
  final case class Param(name: String) extends CExpr
  final case class And(l: CExpr, r: CExpr) extends CExpr
  final case class Or(l: CExpr, r: CExpr) extends CExpr
  final case class Not(e: CExpr) extends CExpr
  /** Aggregate or scalar function call; `star` for count(*),
    * `distinct` for count(DISTINCT e) / sum(DISTINCT e).
    */
  final case class FnCall(name: String, arg: Option[CExpr],
      star: Boolean = false, distinct: Boolean = false)
    extends CExpr
  /** `EXISTS { (MATCH)? pattern (WHERE pred)? }` — true when the
    * pattern (restricted by the optional inner predicate) matches at
    * least once from the current bindings; compiles to a semi-join
    * (or anti-join under NOT) over the filtered subquery frame.
    */
  final case class ExistsPattern(chain: PatternChain,
      where: Option[CExpr] = None) extends Subquery

  /** `EXISTS { <full clause pipeline> }` (Neo4j 5, r15): multi-clause
    * bodies — MATCH/WHERE/WITH/UNWIND chains; an optional trailing
    * RETURN is IGNORED (Neo4j's documented rule: existence is
    * unaffected by the subquery's RETURN). The common single-pattern
    * form stays the lighter [[ExistsPattern]].
    */
  final case class ExistsSubquery(body: Seq[Clause]) extends Subquery

  /** `COUNT { <full clause pipeline> }` (r15): the number of rows the
    * body yields per outer binding. A trailing RETURN is honored
    * (`RETURN DISTINCT x` counts distinct values per binding);
    * SKIP/LIMIT there reject — they would be per-binding, which the
    * decorrelated plan cannot express. The single-pattern form stays
    * [[CountPattern]].
    */
  final case class CountSubquery(body: Seq[Clause]) extends Subquery

  /** `COLLECT { <full clause pipeline> RETURN expr }` (r15): the
    * body's single RETURN column collected per outer binding (sorted —
    * deterministic). The single-pattern form stays [[PatternComp]].
    */
  final case class CollectSubquery(body: Seq[Clause]) extends Subquery

  /** `COUNT { (MATCH)? pattern (WHERE pred)? }` subquery expression
    * (openCypher): the number of pattern matches (after the optional
    * inner predicate) for the row's bindings of the shared variables.
    */
  final case class CountPattern(chain: PatternChain,
      where: Option[CExpr] = None) extends Subquery

  /** Pattern comprehension `[(a)-[:R]->(b) (WHERE pred)? | proj]` —
    * the per-row list of `proj` values over the pattern's matches.
    * Collected SORTED (deterministic; Neo4j leaves the order
    * unspecified, so any order-insensitive consumer agrees).
    */
  final case class PatternComp(chain: PatternChain,
      where: Option[CExpr], proj: CExpr) extends Subquery

  /** `percentileCont(expr, p)` — continuous (interpolated) percentile
    * aggregate; `p` must be a literal in [0, 1].
    */
  final case class PercentileCont(arg: CExpr, p: Double) extends CExpr

  /** `percentileDisc(expr, p)` — discrete percentile: the smallest
    * value whose cumulative fraction reaches `p` (an actual data
    * value, never interpolated).
    */
  final case class PercentileDisc(arg: CExpr, p: Double) extends CExpr

  /** `range(from, to [, step])` — inclusive integer list (openCypher). */
  final case class RangeList(from: CExpr, to: CExpr, step: CExpr) extends CExpr

  /** List comprehension `[x IN list WHERE pred | proj]` — filter and/or
    * projection over a list value (openCypher).
    */
  final case class ListComp(variable: String, list: CExpr,
      where: Option[CExpr], proj: Option[CExpr]) extends CExpr

  /** `reduce(acc = init, x IN list | step)` — left fold over a list
    * value (openCypher).
    */
  final case class ReduceExpr(acc: String, init: CExpr, variable: String,
      list: CExpr, step: CExpr) extends CExpr

  /** Planner-internal: a lambda-bound variable already resolved to a
    * Catalyst column (produced by the higher-order-function
    * translation; never emitted by the parser).
    */
  private[cypher] final case class ColRef(c: AnyRef) extends CExpr
  /** Searched `CASE WHEN cond THEN val … [ELSE val] END`. */
  final case class CaseExpr(whens: Seq[(CExpr, CExpr)],
      otherwise: Option[CExpr]) extends CExpr
  /** String predicates: STARTS WITH / ENDS WITH / CONTAINS, plus the
    * anchored regex match `=~` (op ∈ startswith|endswith|contains|regex).
    */
  final case class StrPred(op: String, l: CExpr, r: CExpr) extends CExpr
  /** `coalesce(a, b, …)` — first non-null argument. */
  final case class Coalesce(args: Seq[CExpr]) extends CExpr
  /** Multi-argument scalar call — `substring(s, i[, len])`,
    * `replace(s, from, to)`, `split(s, delim)`, `left/right(s, n)`,
    * `round(x, d)`. Single-argument scalars stay [[FnCall]].
    */
  final case class FnCallN(name: String, args: Seq[CExpr]) extends CExpr
  /** List predicate `any/all/none/single(x IN list WHERE pred)`. */
  final case class ListPred(kind: String, variable: String, list: CExpr,
      pred: CExpr) extends CExpr

  sealed trait Direction
  case object Out extends Direction
  case object In extends Direction
  /** Undirected `-[:T]-`: matches the relationship in either
    * orientation.
    */
  case object Both extends Direction

  /** `moreLabels` holds the 2nd..nth labels of a multi-label pattern
    * `(n:A:B)` (label holds the first; empty for single-label and
    * label-less patterns). A multi-label match is the CONJUNCTION:
    * nodes present in every listed label's table.
    */
  /** `negLabels` holds `!`-negated conjunction terms of a Neo4j-5
    * label expression — `(n:!A)`, `(n:B&!A)` (r15). `label` stays the
    * first POSITIVE term (None for pure negations and the `%`
    * wildcard, which desugars to the label-less scan).
    */
  final case class NodePattern(
      variable: Option[String],
      label: Option[String],
      props: Map[String, Any],
      moreLabels: Seq[String] = Nil,
      altLabels: Seq[String] = Nil,
      negLabels: Seq[String] = Nil) {
    /** The ONE label this pattern restricts to, when that question
      * has a single answer — None for label-less patterns AND for
      * label disjunctions `(n:A|B)` (r15), so label-keyed fast paths
      * (schema pruning, write metadata, prop lookups) fall back to
      * their conservative no-label behavior instead of silently
      * acting on the first alternative.
      */
    def soleLabel: Option[String] = if (altLabels.nonEmpty) None else label
  }

  /** `altTypes` holds the 2nd..nth alternatives of a multi-type
    * relationship `-[:A|B|C]->` (relType holds the first; empty for
    * single-type and type-less patterns).
    */
  final case class RelPattern(
      variable: Option[String],
      relType: Option[String],
      direction: Direction,
      /** Var-length bounds `(lo, hi)` of `*lo..hi`, the postfix
        * `{lo,hi}` quantifier, or a quantified group. Every spelling
        * shares ONE upper cap, [[CypherParser.MaxVarHops]] (10): open
        * ranges parse to it, and the planner enforces it with the
        * same named error for ranges and groups alike.
        */
      varLength: Option[(Int, Int)],
      props: Map[String, Any] = Map.empty,
      altTypes: Seq[String] = Nil,
      /** GQL group variables of a quantified path group
        * `((a)-[:T]->(b)){n,m}`: the inner source/target node names,
        * each binding a PER-STEP node-id list over the group's k
        * repetitions (a = pattern-order nodes minus the last, b =
        * minus the first). None for every other relationship shape.
        */
      groupNodes: Option[(Option[String], Option[String])] = None,
      /** Per-step inner node constraints of a quantified path group
        * `((a:L {p: v})-[:T]->(b:M)){n,m}`: the full inner source and
        * target NodePatterns (labels + property literals). They
        * constrain EVERY repetition — each step's source must satisfy
        * the first pattern and each step's target the second, which
        * the planner applies as a single semi-join pre-filter of the
        * edge list (a step is an edge; per-step node constraints are
        * edge-endpoint constraints). None when both inner nodes are
        * bare.
        */
      stepFilters: Option[(NodePattern, NodePattern)] = None,
      /** Multi-hop quantified path group `((a)-[:X]->(b)-[:Y]->(c))
        * {n,m}` (2–3 inner hops, any direction, typed, multi-type or
        * typeless — r14): the WHOLE inner chain repeats as a
        * unit. The planner composes the inner hops into a composite
        * edge frame (per-repetition node/edge-identity arrays ride
        * along) and var-expands that, so `length(p)` counts k·h
        * relationships and every named inner node binds its per-
        * repetition group-variable list by stride-slicing the walk.
        * None for single-hop groups (which use `groupNodes`/
        * `stepFilters`) and all other relationship shapes.
        */
      groupChain: Option[PatternChain] = None,
      /** Inline per-step WHERE of a quantified path group
        * `((a)-[r:T]->(b) WHERE a.p < b.p){n,m}` (GQL / Neo4j 5): the
        * predicate is evaluated once per REPETITION with the inner
        * variables bound to that repetition's elements — unlike
        * [[stepFilters]] (independent per-node constraints) it can
        * relate the two endpoints and the step relationship to each
        * other. Planned as prop-lookup id-joins + one filter on the
        * edge list ONCE before expansion. Outer-scope references are
        * decorrelated through broadcast distinct value tuples (r14);
        * on MULTI-hop groups the predicate instead filters whole
        * repetitions of the composite frame (same outer-ref
        * decorrelation). None when the group carries no WHERE.
        */
      stepWhere: Option[CExpr] = None,
      /** `!`-negated relationship types `-[:!T]->` (r15): the hop
        * matches any type EXCEPT the listed ones (each relationship
        * carries exactly one type, so negation is set difference on
        * the typeless union). Empty for all other shapes; mixing with
        * positive types rejects at parse time.
        */
      negTypes: Seq[String] = Nil)

  /** A linear pattern chain: start node then (rel, node) hops.
    * `pathVar` names the whole path (`MATCH p = (a)-[:T*]->(b)`) for
    * path introspection (`length(p)` = relationship count).
    * `shortest` marks a `shortestPath(...)` wrapper: the planner keeps
    * only a minimum-hop walk per (start, end) pair instead of every
    * walk. `allShortest` marks `allShortestPaths(...)`: same minimum
    * hop count per pair, but the pair additionally carries its
    * shortest-path MULTIPLICITY (parallel relationships count as
    * distinct paths), consumable as `count(p)`.
    * `weightProp` names a relationship cost property for the WEIGHTED
    * shortest-path spelling `shortestPath((a)-[:T*]->(b), 'prop')` —
    * an engine extension (core Cypher reaches this via apoc/GDS
    * dijkstra): the planner keeps a minimum-COST walk per pair
    * (ties → fewer hops) and `cost(p)` reads the accumulated weight.
    */
  final case class PatternChain(start: NodePattern, hops: Seq[(RelPattern, NodePattern)],
      pathVar: Option[String] = None, shortest: Boolean = false,
      allShortest: Boolean = false, weightProp: Option[String] = None,
      kBest: Option[Int] = None) {
    def nodeVars: Seq[String] =
      (start +: hops.map(_._2)).flatMap(_.variable)
  }

  /** A pipeline clause. The expressions it holds are enumerated once,
    * in [[mapExprs]] (nested CALL / FOREACH bodies included).
    */
  sealed trait Clause {
    /** This clause with `f` applied to every expression it holds. */
    def mapExprs(f: CExpr => CExpr): Clause = {
      def items(is: Seq[ReturnItem]) = is.map(i => i.copy(expr = f(i.expr)))
      def sorts(ss: Seq[SortItem]) = ss.map(s => s.copy(expr = f(s.expr)))
      def entries(es: Seq[(String, CExpr)]) = es.map { case (k, e) => (k, f(e)) }
      def body(cs: Seq[Clause]) = cs.map(_.mapExprs(f))
      this match {
        case m: MatchClause      => m.copy(where = m.where.map(f))
        case FilterClause(e)     => FilterClause(f(e))
        case w: WithClause       => w.copy(items = items(w.items),
          where = w.where.map(f), orderBy = sorts(w.orderBy))
        case u: UnwindClause     => u.copy(list = f(u.list))
        case c: CallClause       => c.copy(inner = body(c.inner))
        case c: CallInTxClause   => c.copy(body = body(c.body))
        case w: WriteRelClause   =>
          w.copy(onCreate = entries(w.onCreate), onMatch = entries(w.onMatch))
        case c: CreateNodeClause => c.copy(props = entries(c.props),
          onCreate = entries(c.onCreate), onMatch = entries(c.onMatch))
        case SetPropClause(as)   =>
          SetPropClause(as.map { case (v, p, e) => (v, p, f(e)) })
        case s: SetMapClause     => s.copy(entries = entries(s.entries))
        case fe: ForeachClause   => fe.copy(list = f(fe.list), body = body(fe.body))
        case r: ReturnClause     =>
          r.copy(items = items(r.items), orderBy = sorts(r.orderBy))
        case _: CatalogCallClause | _: DeleteRelClause | _: DetachDeleteClause |
             _: RemovePropClause | _: SetLabelClause => this
      }
    }

    def exprs: Seq[CExpr] = {
      val out = Seq.newBuilder[CExpr]
      mapExprs { e => out += e; e }
      out.result()
    }
  }
  /** `where` holds a WHERE attached to an OPTIONAL MATCH: per Cypher
    * semantics it filters the optional pattern BEFORE the left join
    * (unmatched outer rows survive with nulls). A WHERE after a plain
    * MATCH becomes a [[FilterClause]] instead — for an inner pattern
    * the two are equivalent.
    */
  final case class MatchClause(chain: PatternChain, optional: Boolean,
      where: Option[CExpr] = None) extends Clause
  /** A WHERE attached to the clause it follows (applied immediately). */
  final case class FilterClause(expr: CExpr) extends Clause
  /** Horizon: re-projects the row set (aggregating when any item
    * aggregates), optionally filters the projected rows (Cypher's
    * HAVING), then the pipeline continues with the new bindings.
    */
  final case class WithClause(
      distinct: Boolean,
      items: Seq[ReturnItem],
      where: Option[CExpr],
      orderBy: Seq[SortItem],
      skip: Option[Long],
      limit: Option[Long]) extends Clause
  /** UNWIND list AS var — one output row per list element. */
  final case class UnwindClause(list: CExpr, alias: String) extends Clause
  /** `CALL { [WITH var, …] … RETURN … }` subquery: `imports` is the
    * leading importing-WITH variable list (empty = uncorrelated).
    */
  final case class CallClause(imports: Seq[String], inner: Seq[Clause])
      extends Clause
  /** `CALL { [WITH var, …] <write clauses> } IN TRANSACTIONS
    * [OF n ROWS] [ON ERROR CONTINUE|BREAK|FAIL] [REPORT STATUS AS
    * var]` — Neo4j's batched-write subquery (the `:auto` bulk-update
    * idiom). The body is restricted to update clauses (engine
    * divergence, see the parser note); `rowCap` is the
    * per-transaction row bound (Neo4j's default 1000 when `OF … ROWS`
    * is omitted); `onError` is the per-batch error policy (Neo4j
    * requires CONTINUE or BREAK alongside REPORT STATUS); `statusVar`
    * binds the per-row transaction status map when `REPORT STATUS AS`
    * is present (`transactionId`, `committed`, `errorMessage` — the
    * Neo4j 5 status-map fields).
    *
    * Transaction identity is the key-range/row-cap batcher the
    * connector's payload builder uses
    * ([[graft.neo4j.CypherPayload.txBatch]]) keyed on the FIRST
    * imported variable's node id — the engine's write path and the
    * connector's UNWIND batcher share one batching arithmetic
    * end-to-end.
    */
  final case class CallInTxClause(imports: Seq[String], body: Seq[Clause],
      rowCap: Int, statusVar: Option[String],
      onError: Option[String] = None) extends Clause
  /** `CALL db.labels()` / `CALL db.relationshipTypes()` — the catalog
    * introspection procedures every Neo4j client calls on connect.
    * Produces one row per label / relationship type from the engine's
    * own graph catalog (name-sorted — Neo4j's order is unspecified,
    * so deterministic ordering is strictly stronger), bound as
    * `label` / `relationshipType` like the real procedures' YIELD
    * columns.
    */
  final case class CatalogCallClause(kind: String) extends Clause
  /** Engine-side write clause: `MERGE (a)-[:T {props}]->(b)` /
    * `CREATE (a)-[:T {props}]->(b)` — inserts a relationship between
    * two node variables bound by earlier reading clauses (the
    * engine-side analog of the reference's Neo4jOutputFormat write
    * half, Neo4jOutputFormat.java:104-137, which builds exactly these
    * UNWIND-batched MERGE/CREATE statements server-side).
    *
    * Insert-only CTAS-style semantics over immutable inputs: the
    * write never mutates the underlying DataFrames — it derives a new
    * [[graft.graph.PropertyGraph]] whose relationship table for T is
    * the union (MERGE: deduplicated against existing (src, dst)
    * pairs; CREATE: multiset) — and later clauses of the same query
    * read the post-write graph. Constant property maps on the
    * relationship become literal columns on the new edges.
    *
    * `onCreate` / `onMatch` (MERGE only, the relationship twin of
    * [[CreateNodeClause]]'s): a frame (src, dst) pair absent from the
    * PRE-merge edge table creates the edge and applies `onCreate`
    * (expression-valued, evaluated against the frame bindings); a
    * present pair applies `onMatch` to the existing edge. The
    * relationship variable names the assignment target only — it is
    * NOT bound into the frame (re-match to read the written edge).
    * Per-pair conflicts resolve to MAX (the SET discipline).
    */
  final case class WriteRelClause(chain: PatternChain, create: Boolean,
      onCreate: Seq[(String, CExpr)] = Nil,
      onMatch: Seq[(String, CExpr)] = Nil) extends Clause
  /** `CREATE (x:Label {id: expr, k: expr, …})` / `MERGE (…)` —
    * engine-side NODE creation (the reference's own write example:
    * Neo4jOutputFormat's UNWIND batches create `(:User)` nodes): one
    * node per current frame row, property values are full
    * expressions over the bindings. The reserved `id` property is
    * REQUIRED and becomes the node's `__id` (and stays readable as
    * `x.id`) — a distributed engine needs deterministic ids, so the
    * caller supplies them and owns global uniqueness (follow the
    * GraphLoader offset discipline). MERGE dedups whole rows
    * (idempotent CTAS); CREATE appends per row.
    *
    * `onCreate` / `onMatch` hold `ON CREATE SET` / `ON MATCH SET`
    * assignments (MERGE only): a frame row whose `id` is absent from
    * the PRE-MERGE label table creates the node and applies
    * `onCreate`; a present id applies `onMatch` to the existing node
    * instead. Neo4j's row-at-a-time semantics (later rows of the SAME
    * clause "match" an id an earlier row just created) is inherently
    * row-order-dependent, so the engine uses the deterministic
    * set-based reading: created-vs-matched is decided against the
    * pre-merge table, and per-id value conflicts resolve to MAX (the
    * [[SetPropClause]] discipline).
    */
  final case class CreateNodeClause(variable: Option[String], label: String,
      props: Seq[(String, CExpr)], merge: Boolean,
      onCreate: Seq[(String, CExpr)] = Nil,
      onMatch: Seq[(String, CExpr)] = Nil) extends Clause
  /** `DELETE r [, r2 …]` — engine-side removal of the relationships a
    * named single-hop pattern variable binds. Row-level set
    * semantics: the matched edges (src, dst, and every property
    * column) anti-join out of the type's table; fully-identical
    * parallel edge rows are interchangeable and all matched copies
    * are removed. Same CTAS-style derived-graph model as
    * [[WriteRelClause]]; later clauses read the post-delete graph.
    */
  final case class DeleteRelClause(vars: Seq[String]) extends Clause
  /** `SET n.prop = expr [, m.prop2 = expr2 …]` — engine-side property
    * write on a LABELED bound node variable: the label's node table
    * derives a new version with the property overwritten for matched
    * ids (added as a fresh column when new). Bindings already in
    * flight keep their pre-SET values — re-match to read the update
    * (Neo4j reads-own-writes applies to later clauses here).
    */
  final case class SetPropClause(assignments: Seq[(String, String, CExpr)])
      extends Clause
  /** `SET n += {k: expr, …}` — bulk property merge on a labeled bound
    * node variable (Neo4j map-projection update): every listed key
    * overwrites (or adds) the property on matched ids, and an
    * explicitly-null value REMOVES it (reads as null afterwards) —
    * unlike [[SetPropClause]]'s coalesce, a matched id always takes
    * the new value. Unlisted keys keep their values. Per-id conflicts
    * resolve to MAX (the [[SetPropClause]] discipline).
    */
  final case class SetMapClause(variable: String,
      entries: Seq[(String, CExpr)]) extends Clause
  /** `SET n:Label` — adds a label to the matched nodes: the target
    * label's table derives a new version including the matched nodes'
    * rows (idempotent — ids already present stay as they are; schemas
    * reconcile by name, missing properties null out). The source
    * label keeps the nodes too: labels are SETS in Neo4j's model, and
    * the engine's table-per-label layout realizes membership as
    * presence in the table.
    */
  final case class SetLabelClause(variable: String, label: String)
      extends Clause
  /** `FOREACH (x IN list | update-clause …)` — per-row iteration over
    * a list value, executing ONLY update clauses (SET / REMOVE /
    * CREATE / MERGE / DELETE / DETACH DELETE / nested FOREACH) with
    * `x` bound per element. The pipeline's own cardinality is
    * untouched — after FOREACH the frame is exactly what it was (the
    * iteration exists only for its write effects). An empty list
    * executes nothing, which is the canonical conditional-write idiom
    * `FOREACH (_ IN CASE WHEN p THEN [1] ELSE [] END | SET …)` the
    * reference's UNWIND batch statements embed
    * (Neo4jOutputFormat.java:254-270 ships such statements
    * server-side; graft executes them engine-side).
    */
  final case class ForeachClause(variable: String, list: CExpr,
      body: Seq[Clause]) extends Clause
  /** `REMOVE n.prop [, m.prop2 …]` — engine-side property removal on
    * labeled bound node variables: matched ids read the property as
    * null afterwards (Neo4j "missing property" ≡ null in the
    * engine's columnar model; the column itself stays when other
    * nodes keep values). Same derived-table discipline as
    * [[SetPropClause]].
    */
  final case class RemovePropClause(targets: Seq[(String, String)])
      extends Clause
  /** `DETACH DELETE n [, m …]` — engine-side NODE deletion: the
    * matched ids leave the label's node table AND every relationship
    * table drops edges incident (either endpoint) to a deleted id —
    * Neo4j's DETACH semantics, where plain `DELETE` of a connected
    * node errors. Same CTAS-style derived-graph model as the other
    * write clauses; later clauses read the post-delete graph.
    */
  final case class DetachDeleteClause(vars: Seq[String]) extends Clause
  final case class ReturnClause(
      distinct: Boolean,
      items: Seq[ReturnItem],
      orderBy: Seq[SortItem],
      skip: Option[Long],
      limit: Option[Long]) extends Clause

  final case class ReturnItem(expr: CExpr, alias: Option[String]) {
    def name: String = alias.getOrElse(expr match {
      case Prop(v, p)           => p
      case Ident(n)             => n
      case FnCall(f, _, true, _)  => f
      case FnCall(f, Some(_), _, _) => f
      case _                    => "expr"
    })
  }

  /** Sort key: a bare identifier naming an output column, or any
    * expression (e.g. `c.name`) evaluated against the pre-projection
    * row.
    */
  final case class SortItem(expr: CExpr, ascending: Boolean)

  object SortItem {
    /** Convenience for name-based sorts (the common case). */
    def apply(ref: String, ascending: Boolean): SortItem =
      SortItem(Ident(ref), ascending)
  }

  final case class CypherQuery(clauses: Seq[Clause]) {
    def returnClause: ReturnClause =
      clauses.collectFirst { case r: ReturnClause => r }.getOrElse(
        throw new IllegalArgumentException("query has no RETURN clause"))
  }

  /** A full statement: one query, or several combined with UNION
    * (dedup) / UNION ALL (keep duplicates). Neo4j forbids mixing the
    * two flavors in one statement, and so does the parser.
    */
  final case class CypherStatement(parts: Seq[CypherQuery], unionAll: Boolean) {
    require(parts.nonEmpty, "empty statement")
  }
}
