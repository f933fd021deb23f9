package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Propagates literal RANGE bounds across equi-joins through graft's
  * id-offset algebra, down to the other side's source scan.
  *
  * The graph loader maps every node/relationship id as
  * `raw_key + TYPE_OFFSET` (int64). A Cypher pattern like
  * `MATCH (o:Order)-[l:CONTAINS]->() WHERE o.orderkey < 8` plans as
  * `Filter(o_orderkey < 8) ⋈ rel` on `o_orderkey + 1e9 = l_orderkey +
  * 1e9`: the bound side scans 8 rows, but the relationship side scans
  * the ENTIRE fact table because Catalyst propagates only equality and
  * null-ness across joins, never ranges — at 100 TB that is a full
  * scan feeding a broadcast join against a handful of rows. Both key
  * definitions are affine with literal offsets, so the bound moves
  * exactly: `o_orderkey < 8 ⟹ key < 8 + 1e9 ⟹ l_orderkey < 8`. The
  * derived predicate is injected DIRECTLY above the other side's leaf
  * relation, where FileSourceStrategy collects it into the parquet
  * scan's PushedFilters (row-group pruning — guide §6).
  *
  * Soundness:
  *  - a derived filter only ever drops rows whose key cannot equal any
  *    surviving opposite-side key, so Inner and LeftSemi joins take it
  *    on both sides and LeftOuter/RightOuter only on the non-preserved
  *    side (dropped rows there produce no output row either way);
  *  - literal arithmetic is overflow-checked (Math.addExact) — on
  *    overflow the bound is discarded;
  *  - with a non-negative offset only UPPER bounds (and equalities)
  *    propagate, with a non-positive offset only LOWER bounds: in the
  *    unsafe direction a base value near ±2^63 could wrap `base +
  *    offset` and defeat the derivation. Within that gate the rewrite
  *    is exact for every int64 input — wrap-around in the kept
  *    direction would contradict the source filter's own bound.
  *
  * Only LongType keys with literal-offset definitions and literal
  * comparisons participate — exactly the id-offset shapes graft
  * generates. Disable with `spark.graft.joinRangePushdown=false`.
  */
object JoinKeyRangePropagation extends Rule[LogicalPlan] {

  private val MaxLit = 1L << 45 // id-algebra territory only

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.joinRangePushdown", "true").toBoolean)
      plan
    else plan.transform {
      case j @ Join(left, right, joinType, Some(cond), _)
          if joinType == Inner || joinType == LeftSemi ||
            joinType == LeftOuter || joinType == RightOuter =>
        var newLeft = left
        var newRight = right
        splitConjuncts(cond).foreach {
          case EqualTo(lk, rk) =>
            val lkInLeft = lk.references.subsetOf(left.outputSet)
            val rkInRight = rk.references.subsetOf(right.outputSet)
            val (leftKey, rightKey) =
              if (lkInLeft && rkInRight) (lk, rk)
              else (rk, lk) // resolved the other way around
            if (leftKey.references.subsetOf(left.outputSet) &&
                rightKey.references.subsetOf(right.outputSet) &&
                leftKey.dataType == LongType && rightKey.dataType == LongType) {
              // left bounds → restrict right (Inner, LeftSemi, LeftOuter
              // keep only right rows that can match)
              if (joinType != RightOuter)
                newRight = propagate(left, leftKey, newRight, rightKey)
              // right bounds → restrict left
              if (joinType != LeftOuter)
                newLeft = propagate(right, rightKey, newLeft, leftKey)
            }
          case _ => ()
        }
        if ((newLeft eq left) && (newRight eq right)) j
        else j.copy(left = newLeft, right = newRight)
    }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other     => Seq(other)
  }

  /** Bounds on `srcKey` proven by `srcSide`'s own filters → filter on
    * `dstKey`'s base column injected above `dstSide`'s leaf.
    */
  private def propagate(srcSide: LogicalPlan, srcKey: Expression,
      dstSide: LogicalPlan, dstKey: Expression): LogicalPlan = {
    // cheap pre-check before any affine resolution: injection only
    // ever targets a source relation, and the iterative loops'
    // per-round plans join checkpoint leaves — skip those instantly
    // (this rule re-runs on every loop round's optimization)
    if (!dstSide.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]))
      return dstSide
    val bounds = keyBounds(srcSide, srcKey)
    if (bounds.isEmpty) return dstSide
    resolveAffine(dstSide, dstKey) match {
      case None => dstSide
      case Some((base, dstOff, _)) =>
        var out = dstSide
        bounds.foreach { case (op, keyBound) =>
          // key `op` keyBound  ⇒  base `op` keyBound - dstOff
          checked(Math.subtractExact(keyBound, dstOff)).foreach { b =>
            val cmp: Expression = op match {
              case "<"  => LessThan(base, Literal(b, LongType))
              case "<=" => LessThanOrEqual(base, Literal(b, LongType))
              case ">"  => GreaterThan(base, Literal(b, LongType))
              case ">=" => GreaterThanOrEqual(base, Literal(b, LongType))
              case _    => EqualTo(base, Literal(b, LongType))
            }
            // airtight even under int64 wrap-around (ANSI off): a base
            // whose `base + dstOff` overflows could wrap back inside
            // the surviving key range, so those few sentinel values are
            // explicitly KEPT via an OR'd wrap-window — still a
            // parquet-pushable two-range filter on the same column.
            // Upper bounds / equality can only be defeated by positive
            // overflow (needs dstOff > 0), lower bounds / equality by
            // negative overflow (needs dstOff < 0).
            val guard: Option[Expression] = op match {
              case "<" | "<=" | "=" if dstOff > 0 =>
                Some(GreaterThan(base,
                  Literal(Long.MaxValue - dstOff, LongType)))
              case ">" | ">=" | "=" if dstOff < 0 =>
                Some(LessThan(base,
                  Literal(Long.MinValue - dstOff, LongType)))
              case _ => None
            }
            val pred = guard.map(g => Or(cmp, g)).getOrElse(cmp)
            out = inject(out, base, pred)
          }
        }
        out
    }
  }

  /** Literal bounds `(op, bound)` on the join key proven by the
    * side's own Filter nodes, moved through the key's affine
    * definition (key = base + off): `base op m ⇒ key op m + off`,
    * gated to the wrap-safe direction of `off`'s sign (`<`-family
    * bounds need off ≥ 0, `>`-family off ≤ 0 — in the unsafe
    * direction a base near ±2^63 could wrap `base + off` past the
    * claimed bound; in the safe direction the filter's own bound
    * contradicts the wrap).
    */
  private def keyBounds(side: LogicalPlan,
      key: Expression): Seq[(String, Long)] =
    resolveAffine(side, key) match {
      case None => Seq.empty
      case Some((base, off, context)) =>
        val safeOp: String => Boolean = op => op match {
          case "<" | "<=" => off >= 0
          case ">" | ">=" => off <= 0
          case _          => true
        }
        soundFilters(context, base).flatMap { c =>
          literalCmp(c, base).flatMap { case (op, m) =>
            if (safeOp(op))
              checked(Math.addExact(m, off)).map(op -> _)
            else None
          }
        }
    }

  /** Filter conjuncts referencing `base` that are guaranteed to hold
    * for EVERY base-carrying row reaching the top of `p` — the walk
    * follows base's liveness chain and stops at a Union: a union's
    * output reuses its FIRST child's exprIds, so a filter inside that
    * branch does not constrain the other branches' rows.
    */
  private def soundFilters(p: LogicalPlan,
      base: Attribute): Seq[Expression] = p match {
    case Filter(c, child) =>
      splitConjuncts(c).filter(_.references.contains(base)) ++
        soundFilters(child, base)
    case _: Union => Seq.empty
    case other =>
      other.children.filter(_.outputSet.contains(base))
        .flatMap(soundFilters(_, base))
  }

  /** `attr op literal` with the comparison normalized so the column is
    * on the left; only long literals inside the id-algebra magnitude.
    */
  private def literalCmp(c: Expression,
      base: Attribute): Option[(String, Long)] = {
    def lit(e: Expression): Option[Long] = e match {
      case Literal(v: Long, LongType) if math.abs(v) <= MaxLit => Some(v)
      case _ => None
    }
    def isBase(e: Expression): Boolean = e match {
      case a: Attribute => a.exprId == base.exprId
      case _            => false
    }
    c match {
      case LessThan(a, l) if isBase(a)           => lit(l).map("<" -> _)
      case LessThanOrEqual(a, l) if isBase(a)    => lit(l).map("<=" -> _)
      case GreaterThan(a, l) if isBase(a)        => lit(l).map(">" -> _)
      case GreaterThanOrEqual(a, l) if isBase(a) => lit(l).map(">=" -> _)
      case EqualTo(a, l) if isBase(a)            => lit(l).map("=" -> _)
      case LessThan(l, a) if isBase(a)           => lit(l).map(">" -> _)
      case LessThanOrEqual(l, a) if isBase(a)    => lit(l).map(">=" -> _)
      case GreaterThan(l, a) if isBase(a)        => lit(l).map("<" -> _)
      case GreaterThanOrEqual(l, a) if isBase(a) => lit(l).map("<=" -> _)
      case EqualTo(l, a) if isBase(a)            => lit(l).map("=" -> _)
      case _                                     => None
    }
  }

  /** Resolves an expression to `(base attribute, literal offset,
    * context)` through any chain of `+ literal` terms and pass-through
    * aliases inside the given subtree; `context` is the subplan in
    * which the base attribute is LIVE (the defining project's child, or
    * the whole side for an undefined/pass-through column) — the scope
    * the filter search is sound over. Returns None when the expression
    * is not affine-with-literal-offset over a single column.
    */
  private def resolveAffine(side: LogicalPlan,
      key: Expression): Option[(Attribute, Long, LogicalPlan)] = {
    // the defining alias for `a` inside `scope`, plus the subplan
    // beneath it. The search follows a's liveness chain down from the
    // scope's root and stops at a Union, exactly like soundFilters: a
    // union's output reuses its FIRST child's exprIds, so an alias
    // found inside branch 1 defines only that branch's rows.
    def defOf(a: Attribute,
        scope: LogicalPlan): Option[(Expression, LogicalPlan)] = {
      def aliasIn(exprs: Seq[NamedExpression], under: LogicalPlan) =
        exprs.collectFirst {
          case al @ Alias(child, _) if al.exprId == a.exprId => (child, under)
        }
      def below(p: LogicalPlan) = p.children.iterator
        .filter(_.outputSet.contains(a)).map(defOf(a, _))
        .collectFirst { case Some(d) => d }
      scope match {
        case _: Union => None
        case p: Project => aliasIn(p.projectList, p.child).orElse(below(p))
        // an aggregate-produced value is not affine over its input
        // rows — it resolves to a non-affine expr, so `a` stays base
        case agg: Aggregate =>
          aliasIn(agg.aggregateExpressions, agg.child).orElse(below(agg))
        case other => below(other)
      }
    }
    def go(e: Expression, off: Long, scope: LogicalPlan,
        depth: Int): Option[(Attribute, Long, LogicalPlan)] = {
      if (depth > 8) return None
      e match {
        case Add(l, Literal(k: Long, LongType), _) if math.abs(k) <= MaxLit =>
          checked(Math.addExact(off, k))
            .flatMap(go(l, _, scope, depth + 1))
        case Add(Literal(k: Long, LongType), r, _) if math.abs(k) <= MaxLit =>
          checked(Math.addExact(off, k))
            .flatMap(go(r, _, scope, depth + 1))
        case Subtract(l, Literal(k: Long, LongType), _)
            if math.abs(k) <= MaxLit =>
          checked(Math.subtractExact(off, k))
            .flatMap(go(l, _, scope, depth + 1))
        case a: Attribute =>
          defOf(a, scope) match {
            case Some((d, under)) =>
              go(d, off, under, depth + 1) match {
                case s @ Some(_) => s
                // defined by something non-affine (aggregate, window,
                // arbitrary expr): a is still a sound base — filtering
                // rows by a bound on `a` above its definition only
                // drops rows whose key cannot match
                case None => Some((a, off, scope))
              }
            case None => Some((a, off, scope)) // leaf column
          }
        case _ => None
      }
    }
    go(key, 0L, side, 0)
  }

  /** Injects `pred` directly above the SOURCE relation that outputs
    * `base`, where FileSourceStrategy collects the predicate into the
    * scan's PushedFilters. ONLY source relations qualify: injecting
    * above a checkpoint leaf (the iterative loops' frames) re-filters
    * already-materialized blocks on every loop round for rows the join
    * would drop anyway — measured ~15 % on the sf1 weighted walk
    * family — while the entire win of this rule is scan-side row-group
    * pruning. No-op when an equal predicate is already present
    * anywhere in the subtree (fixpoint safety for the to-convergence
    * user rule batch), and when a row-count-sensitive node (a limit,
    * offset, tail or sample) lies between the side's root and the
    * relation: filtering below it changes WHICH rows it keeps, not
    * just drops rows the join would drop.
    */
  private def inject(side: LogicalPlan, base: Attribute,
      pred: Expression): LogicalPlan = {
    val already = side.collect { case Filter(c, _) => c }
      .flatMap(splitConjuncts).exists(_ semanticEquals pred)
    if (already) return side
    // the root-to-relation path of the injection target
    def pathTo(p: LogicalPlan): Option[List[LogicalPlan]] = p match {
      case n: org.apache.spark.sql.execution.datasources.LogicalRelation
          if n.outputSet.contains(base) => Some(List(n))
      case _ => p.children.iterator.map(pathTo).collectFirst {
        case Some(rest) => p :: rest
      }
    }
    val rowCountSensitive = pathTo(side).exists(_.exists {
      case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail |
          _: Sample => true
      case _ => false
    })
    if (rowCountSensitive) return side
    var done = false
    side.transformUp {
      case n: org.apache.spark.sql.execution.datasources.LogicalRelation
          if !done && n.outputSet.contains(base) =>
        done = true
        Filter(pred, n)
    }
  }

  private def checked(body: => Long): Option[Long] =
    try Some(body) catch { case _: ArithmeticException => None }
}
