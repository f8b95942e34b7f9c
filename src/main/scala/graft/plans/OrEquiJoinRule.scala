package graft.plans

import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DecimalType, IntegerType}

/** Optimizer rule: `left LEFT JOIN right ON p1 OR p2 OR ... pn` (all pk
  * equi-predicates) => union of hash-joinable branches. INNER OR-joins
  * (round 17) take the same branch partition minus the null-complement
  * branch, and their aggregate consumers additionally support
  * `count(*)` (the pair count — exact for inner) with a pair-count > 0
  * filter replacing the left-outer group completeness. RIGHT and FULL
  * OUTER OR-joins (round 18) complete the type matrix: RightOuter is
  * the matched-pair branches plus the RIGHT null complement (right rows
  * satisfying no predicate, left columns null-extended — the mirrored
  * anti-join chain); FullOuter unions BOTH complements onto the
  * branches. LEFT SEMI and LEFT ANTI OR-joins (round 18) — explicit
  * `LEFT SEMI/ANTI JOIN` syntax, DataFrame "left_semi"/"left_anti", and
  * `[NOT] EXISTS (... WHERE a=x OR b=y)` subqueries (rewritten to the
  * join early, before RewritePredicateSubquery would hand them a BNLJ
  * after every injected rule has run) — finish the type matrix: semi is
  * the first-match partition over LEFT ROWS (branch k =
  * `left ANTI p1..p(k-1) SEMI pk`, disjoint, |L|-bounded), anti is the
  * anti-join chain, and an Exists under arbitrary boolean structure
  * (the ExistenceJoin shape) becomes the same partition carrying an
  * existence FLAG column. Matched pairs still land in exactly one branch, each
  * unmatched row in exactly one complement, so every form is
  * multiset-equivalent to its nested-loop original. Aggregate
  * consumers of a RightOuter OR-join commute into the left-outer
  * eager machinery verbatim (the preserved side carries the group
  * keys, the aggregated side the arguments — the Aggregate replaces
  * the join wholesale, so child order never matters); FullOuter
  * aggregates consume the rewritten union (group completeness would
  * need both complements).
  *
  * This rule is the engine's only OR-join implementation (SURVEY.md §4):
  * with it enabled, ANY query — SQL text, naive DataFrame code, the
  * Sparkify J2 join — gets the rewrite, and
  * [[graft.operators.OrEquiJoin.leftOrJoin]] is a thin wrapper that runs
  * [[rewrite]] on its naive join. Catalyst cannot key a hash join on a
  * disjunction and falls back to BroadcastNestedLoopJoin, O(|L| x |R|);
  * the rewrite produces:
  *
  *   branch k (k=1..n): left INNER JOIN right_k ON pk AND NOT(p1..p(k-1))
  *                      — each matched pair lands in exactly one branch
  *   branch n+1:        left ANTI p1 ANTI p2 ... ANTI pn, null-extended
  *                      — the left-outer null complement
  *
  * Multiset-equivalent to the OR join unconditionally (no distinct
  * required downstream). Every `right` re-use is refreshed via
  * `MultiInstanceRelation.newInstance` + `transformUpWithNewOutput`, the
  * same mechanism the analyzer uses to deduplicate self-joins, so no
  * duplicate expression ids appear in one branch tree. The union's first
  * branch reuses the original child attribute ids, so downstream
  * references resolve unchanged; Union merges nullability with the
  * null-literal branch, restoring the left-outer nullability contract.
  *
  * ==Aggregate-over-OR-join (the q81 plan, automatic)==
  *
  * The OR-join's OUTPUT is the quadratic object: a low-cardinality first
  * predicate emits |left|·|right|/|distinct keys| pairs, so at 10x the
  * data the join produces 100x the rows and no join algorithm beats its
  * own output size (q08: 43.9x at sf1). When the consumer is a
  * per-left-group aggregate of right columns —
  *
  *   Aggregate(g ⊆ left, count/sum/min/max(right cols),
  *             Join(left, right, LeftOuter, p1 OR .. OR pn))
  *
  * — the branch decomposition makes the expansion avoidable, and this
  * rule reaches that plan AUTOMATICALLY (SQL text or naive DataFrame
  * code):
  *
  *  - branch 0 carries no residual ("first satisfied predicate" by
  *    construction), so the right side pre-aggregates to one partial
  *    row per distinct join key BEFORE touching `left` — the exploding
  *    branch becomes a |left|-row join against a |keys|-row rollup;
  *  - branches 1..n-1 keep their joins (residuals reference left
  *    columns) but aggregate immediately, each |its own selectivity|-
  *    sized;
  *  - branch outputs partition the joined multiset, so group partials
  *    merge by SUM for count/sum and LEAST/GREATEST for min/max — no
  *    inclusion–exclusion;
  *  - branch 0's left join saw every left row, so its group set is
  *    complete; one merge aggregate on the group attrs combines the
  *    branches (a null group key is a group like any other, as groupBy
  *    treats it). Unmatched groups report count 0 / null min-max-sum —
  *    exactly the left-outer + aggregate semantics.
  *
  * Plan shape by consumer, in preference order:
  *
  *  1. ALL-min/max consumers: min/max ignore multiplicity and overlap,
  *     so `min(p1 OR .. OR pn) = LEAST` over n PER-PREDICATE terms,
  *     each term's right side pre-aggregated on its own key — n terms
  *     for ANY n and ANY predicate order (order-robust; gated by q84
  *     with the exploding predicate written second).
  *  2. count/sum/avg present (min/max may mix in) and either no usable
  *     stats at n≤3, or stats say several exploding predicates (at ANY
  *     n — the cost inequality below): INCLUSION–EXCLUSION —
  *     `agg(⋁ p_i) = Σ over non-empty subsets S of (−1)^(|S|+1) ·
  *     agg(⋀_{i∈S} p_i)` (3 terms at n=2, 7 at n=3), every term's right
  *     side pre-aggregated on its (composite) key(s); min/max units
  *     read LEAST/GREATEST of the n singleton terms and skip the signed
  *     overlap terms. Every stage is |left|- or |right|-bounded NO
  *     MATTER which predicate is the exploding one (order-robust; gated
  *     by q83 at n=2 and spec-pinned at n=3, both with the exploding
  *     predicate written LAST).
  *
  *     Forms 1 and 2 share one FUSED tree whatever the term count T,
  *     reading each input once:
  *
  *       right → Expand (one projection per term: term id, the term's
  *               keys in their slots, nulls elsewhere, the argument
  *               columns; term id null on a null key or a failed
  *               right-only residual)
  *             → Filter(term id IS NOT NULL) → Aggregate(term id, slots)
  *       left  → Expand (same slot layout, group attrs passed through)
  *       Join(LeftOuter, term id = term id AND slot <=> slot ...)
  *       → Aggregate(group attrs; per term t, merge of
  *                   If(term id = t, partial, NULL))
  *
  *     One scan of each input, one join and no union, however many
  *     terms (a subtree per term would scan each input and join T times:
  *     7 for q86).
  *  3. The BRANCH-PARTITION form, where only branch 0 (the sole
  *     residual-free branch) pre-aggregates and later branches are real
  *     joins sized by their own selectivity, unioned under one merge
  *     aggregate. OR commutes, so WHICH
  *     predicate is branch 0 is the rule's to choose: when both sides
  *     are single scans with persisted write-time key sketches
  *     ([[StarStatsRegistry]] — registered at ZoneMapTable write time
  *     or lazy-loaded from the `_starstats` sidecar), branch 0 is
  *     STATS-PICKED as the predicate with the largest estimated join
  *     output |L|·|R|/max(ndv) — a registry lookup plus driver-side
  *     theta reads, zero plan-time jobs (the §4 law), gated by q87
  *     with the exploding predicate written LAST. With stats the
  *     branch-vs-IE choice is COST-BASED at every n: the branch form
  *     wins iff the residual branches' estimated output stays below
  *     the IE overhead it avoids, (2^n−1−n)·(|L|+|R|) — so one
  *     exploding predicate among selective ones takes the n-term
  *     branch plan (reclaiming the q82-shape IE premium named in
  *     SURVEY §6 r17), while several exploding predicates keep IE.
  *     Without stats the branch form applies only at n≥4 (IE's 2^n−1
  *     terms cost more than they insure) in written order, where the
  *     |left|/|right| bound holds provided the exploding predicate is
  *     written first (a documented convention, no longer a contract:
  *     any order stays CORRECT, stats make it also optimal).
  *
  * Outputs may wrap aggregates in deterministic scalar expressions
  * (`CAST(SUM(x) AS DOUBLE)`, shared calls, arithmetic) — the merge is
  * substituted per aggregate CALL inside the output's own shape.
  *
  * The rewrite keeps the original output attribute ids (group attrs
  * pass through the left Expand, or branch 0's untouched `left`;
  * aggregate aliases are
  * re-issued under their original exprIds), so parent operators
  * resolve unchanged.
  * Equivalence is law-pinned in OrEquiJoinRuleSpec (randomized fixture
  * vs the nested-loop plan) and oracle-gated by `q82_or_join_auto`.
  *
  * Guarded by `spark.graft.rewriteOrJoin`. The conf's hard default is
  * false (a raw SparkSession with just the extensions sees stock Spark
  * behavior), but [[graft.GraftSession.configure]] ARMS it — same
  * first-line-of-defense rationale as AQE. The conf gates the optimizer
  * pass only: `OrEquiJoin.leftOrJoin` calls [[rewrite]] directly and
  * ignores it. Matching is top-down so
  * the Aggregate case wins over the bare-join case on the same subtree.
  */
object OrEquiJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  val ConfKey = "spark.graft.rewriteOrJoin"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.getConfString(ConfKey, "false").toBoolean) rewrite(plan) else plan

  /** The rewrite itself, whatever the session conf says — the entry point
    * of [[graft.operators.OrEquiJoin.leftOrJoin]]. */
  private[graft] def rewrite(plan: LogicalPlan): LogicalPlan = {
    // transformDown: Aggregate(Join(OR)) must match BEFORE the bare Join
    // case consumes the child (transformUp would rewrite the join first
    // and the aggregate pattern would never be seen).
    plan.transformDown {
      case AggOverOrJoin(rewritten) => rewritten
      case OrJoin(left, right, LeftOuter, preds, hint) =>
        Union(branchJoins(left, right, preds, hint) :+
          leftComplement(left, right, preds, hint))
      // INNER OR-joins hit the same BNLJ trap (ExtractEquiJoinKeys
      // needs conjunctive equalities); the branch partition applies
      // verbatim, just without the null-complement branch.
      case OrJoin(left, right, Inner, preds, hint) =>
        Union(branchJoins(left, right, preds, hint))
      // RIGHT OUTER: the mirrored form — matched-pair branches plus the
      // RIGHT null complement (right rows matching no predicate,
      // null-extended on the left).
      case OrJoin(left, right, RightOuter, preds, hint) =>
        Union(branchJoins(left, right, preds, hint) :+
          rightComplement(left, right, preds, hint))
      // FULL OUTER: both complements — each matched pair in exactly one
      // branch, each unmatched row (either side) in exactly one
      // complement, so the union is the full-outer multiset.
      case OrJoin(left, right, FullOuter, preds, hint) =>
        Union(branchJoins(left, right, preds, hint) :+
          leftComplement(left, right, preds, hint) :+
          rightComplement(left, right, preds, hint))
      // LEFT SEMI: explicit `LEFT SEMI JOIN ... ON a=x OR b=y` (SQL text
      // or DataFrame "left_semi") — ExtractEquiJoinKeys needs conjunctive
      // equalities here too, so stock Spark plans a BNLJ. First-match
      // partition over LEFT ROWS (not pairs): branch k keeps the left
      // rows whose first satisfied predicate is pk,
      //   (left ANTI p1 ... ANTI p(k-1)) SEMI pk
      // — disjoint by construction (a branch-k row has no partner under
      // any earlier predicate), so the Union is multiset-equal to the
      // semi OR join: each qualifying left row appears exactly once,
      // with its left multiplicity. |L|-bounded at every stage.
      case OrJoin(left, right, LeftSemi, preds, hint) =>
        Union(semiBranches(left, right, preds, hint))
      // LEFT ANTI: no right row satisfies the OR iff none satisfies any
      // disjunct, so the anti-join CHAIN (n hash anti joins over a
      // shrinking left) replaces the nested-loop anti join — the
      // complement construction above, minus the null-extension.
      case OrJoin(left, right, LeftAnti, preds, hint) =>
        antiChain(left, right, preds, hint.rightHint)
      // EXISTS / NOT EXISTS with an OR of correlated equalities: at this
      // point in the optimizer the Exists carries its pulled-up join
      // condition but RewritePredicateSubquery (a LATER batch) has not
      // yet turned it into a join — and when it does, no injected rule
      // runs after it, so the user would get the nested-loop semi/anti
      // join this rule exists to remove. Do the subquery-to-join step
      // early for exactly the shape we rewrite (top-level [NOT] Exists
      // conjunct, pure OR-of-equalities join condition, decorrelated
      // subplan, disjoint outputs) and partition it in the same pass.
      // Everything else stays with the stock rewrite. The extractors
      // bind the disjuncts okExists already computed — one equiDisjuncts
      // run per matching Filter, not three (ADVICE r18).
      case f @ ExistsConjunctFilter(e, negated, rest, preds) =>
        val child = f.child
        val rewritten: LogicalPlan =
          if (negated) antiChain(child, e.plan, preds, e.hint)
          else Union(semiBranches(child, e.plan, preds, JoinHint(None, e.hint)))
        rest match {
          case Some(r) => Filter(r, rewritten)
          case None    => rewritten
        }
      // EXISTS under arbitrary boolean structure (`EXISTS(...) OR x = 1`,
      // inside CASE WHEN, ...): RewritePredicateSubquery would plan an
      // ExistenceJoin — with an OR-of-equalities condition, a BNLJ yet
      // again. The same disjoint partition computes the existence FLAG:
      // every left row lands in exactly one of the semi branches (flag
      // true) or the anti chain (flag false), the Exists expression is
      // replaced by the flag attribute, and the surrounding condition —
      // whatever its shape — evaluates unchanged (EXISTS is never null,
      // and neither is the flag). One Exists per pass; the operator
      // batch's fixed point picks up any others.
      case f @ ExistsAnywhereFilter(e, preds) =>
        val child = f.child
        val flag = Alias(Literal(true), "__orj_exists")()
        def tagged(p: LogicalPlan, v: Boolean): LogicalPlan =
          Project(p.output :+
            Alias(Literal(v), flag.name)(exprId = flag.exprId), p)
        val branches =
          semiBranches(child, e.plan, preds, JoinHint(None, e.hint))
            .map(tagged(_, v = true)) :+
            tagged(antiChain(child, e.plan, preds, e.hint), v = false)
        val newCond = f.condition.transform {
          case ex: Exists if ex.exprId == e.exprId => flag.toAttribute
        }
        Project(child.output, Filter(newCond, Union(branches)))
    }
  }

  /** Shared precondition of the EXISTS rewrites, returning the computed
    * disjuncts so callers never re-derive them: the Exists' pulled-up
    * join condition is a pure OR-of-equalities between the filter child
    * and a DECORRELATED subplan with disjoint output ids. The subplan
    * must also be free of DomainJoin placeholders: stock
    * RewritePredicateSubquery calls rewriteDomainJoins before building
    * its join, and a plan that keeps a DomainJoin has no physical
    * strategy — correlation under an Aggregate/Limit/Window elsewhere in
    * the subquery leaves one even after the OR condition pulls up clean
    * (ADVICE r18). */
  private def okExists(e: Exists, child: LogicalPlan)
      : Option[Seq[Expression]] =
    if (e.joinCond.nonEmpty && e.joinCond.forall(_.resolved) &&
        e.plan.outputSet.intersect(child.outputSet).isEmpty &&
        deterministicPlan(child) && deterministicPlan(e.plan) &&
        !e.plan.exists(p => p.isInstanceOf[DomainJoin] ||
          p.expressions.exists(_.exists(_.isInstanceOf[OuterReference]))))
      equiDisjuncts(e.joinCond.reduce(And), child, e.plan)
    else None

  /** A rewritable Exists ANYWHERE in the filter condition (the flag
    * form), bound together with its disjuncts. */
  private object ExistsAnywhereFilter {
    def unapply(f: Filter): Option[(Exists, Seq[Expression])] =
      f.condition.collect { case e: Exists => e }.iterator
        .map(e => okExists(e, f.child).map((e, _)))
        .collectFirst { case Some(x) => x }
  }

  /** A rewritable [NOT] EXISTS CONJUNCT of a filter condition: the Exists
    * expression, whether it was negated, the remaining conjuncts (None
    * when the Exists was the whole condition), and the disjuncts okExists
    * computed. Applies only under okExists' preconditions — the exact
    * preconditions of the semi/anti partition. */
  private object ExistsConjunctFilter {
    def unapply(f: Filter)
        : Option[(Exists, Boolean, Option[Expression], Seq[Expression])] = {
      val conjuncts = splitConjunctivePredicates(f.condition)
      conjuncts.iterator.zipWithIndex.map {
        case (e: Exists, i) =>
          okExists(e, f.child).map(ps => (e, false, i, ps))
        case (Not(e: Exists), i) =>
          okExists(e, f.child).map(ps => (e, true, i, ps))
        case _ => None
      }.collectFirst { case Some(x) => x }.map { case (e, neg, i, ps) =>
        (e, neg, conjuncts.patch(i, Nil, 1).reduceOption(And), ps)
      }
    }
  }

  /** Every partition rewrite duplicates the preserved side across Union
    * branches and re-evaluates fresh copies of the other side per branch
    * — sound only when BOTH subplans are deterministic. With a
    * nondeterministic expression anywhere in either subtree (a `rand()`
    * filter, say), the "each row in exactly one branch" invariant breaks:
    * rows can land in several branches or none, and the flag form could
    * emit one row under both flag values — silently diverging from
    * stock's single-evaluation join. Mirrors the existing
    * cond.deterministic check at the PLAN level (ADVICE r18). */
  private[plans] def deterministicPlan(p: LogicalPlan): Boolean =
    !p.exists(_.expressions.exists(!_.deterministic))

  /** A cross-side equality: one side's references entirely in `left`,
    * the other's entirely in `right`, both non-empty (a literal side is
    * not a hash-join key — `c_x = 5` must never pass as a "disjunct", it
    * would turn a branch join into a filtered cross join). */
  private def crossEqui(e: Expression,
                        left: LogicalPlan, right: LogicalPlan): Boolean = e match {
    case EqualTo(a, b) =>
      a.references.nonEmpty && b.references.nonEmpty &&
        ((a.references.subsetOf(left.outputSet) &&
          b.references.subsetOf(right.outputSet)) ||
          (b.references.subsetOf(left.outputSet) &&
            a.references.subsetOf(right.outputSet)))
    case _ => false
  }

  /** The WIDENED shape for the join-level rewrites: the condition is —
    * or DISTRIBUTES to — an OR of >=2 deterministic terms, each carrying
    * at least one cross-side equality among its conjuncts, so every
    * branch join is hash-joinable (the remaining conjuncts ride along as
    * residual join conditions). This admits the TPC-H Q19 class with
    * per-disjunct keys, e.g.
    *   ON c_custkey = s_suppkey
    *   OR (c_nationkey = s_nationkey AND c_acctbal = s_acctbal).
    * Distribution `c AND (d1 OR d2)` -> `(d1 AND c) OR (d2 AND c)` (a
    * row-level boolean identity, sound under every join type) applies
    * only when NO top-level conjunct is itself a cross-side equality:
    * if one is, stock Spark already hash-joins on it with the Or as a
    * residual condition — one n-key join no branch union beats. It
    * matters because BooleanSimplification FACTORS common conjuncts out
    * of user-written disjunctions in this same fixed point, so
    * `(a=x AND f) OR (b=y AND f)` reaches this rule as
    * `f AND (a=x OR b=y)` — un-distributed, that shape is a BNLJ when
    * `f` carries no equality. */
  private def equiDisjuncts(cond: Expression,
                            left: LogicalPlan, right: LogicalPlan)
      : Option[Seq[Expression]] = {
    def usable(parts: Seq[Expression]): Boolean =
      parts.length >= 2 && parts.forall(p =>
        p.deterministic &&
          splitConjunctivePredicates(p).exists(crossEqui(_, left, right)))
    val direct = splitDisjunctivePredicates(cond)
    if (usable(direct)) Some(direct)
    else {
      val conj = splitConjunctivePredicates(cond)
      if (conj.length < 2 || !cond.deterministic ||
          conj.exists(crossEqui(_, left, right))) None
      else conj.zipWithIndex.iterator.map { case (c, i) =>
        val rest = conj.patch(i, Nil, 1)
        splitDisjunctivePredicates(c).map(d => (d +: rest).reduce(And))
      }.find(usable)
    }
  }

  /** Join extractor for the widened OR shape. */
  private object OrJoin {
    def unapply(p: LogicalPlan): Option[(LogicalPlan, LogicalPlan,
        org.apache.spark.sql.catalyst.plans.JoinType, Seq[Expression],
        JoinHint)] = p match {
      case j @ Join(l, r, jt, Some(cond), _)
          if deterministicPlan(l) && deterministicPlan(r) =>
        equiDisjuncts(cond, l, r).map(ps => (l, r, jt, ps, j.hint))
      case _ => None
    }
  }

  /** Fresh copy of a subplan: new expression ids throughout, plus the
    * old-output -> new-output attribute map for condition remapping.
    *
    * Relations re-id via `MultiInstanceRelation.newInstance` (the
    * analyzer's own self-join device), but that alone leaves any
    * ALIAS-defined attribute — a `withColumn`-computed join or group
    * key — carrying its original exprId into the "fresh" copy, and the
    * agg rewrite JOINS fresh subplans against the originals, where a
    * shared id makes the merge-join condition ambiguous. So aliases
    * defined by Project/Aggregate/Window nodes are re-issued too;
    * rarer alias-definers (Generate, Expand, ...) are caught by the
    * branch form's full-freshen bail-out in [[rewriteAgg]]. */
  private[plans] def freshen(p: LogicalPlan): (LogicalPlan, AttributeMap[Attribute]) = {
    def reAlias(list: Seq[NamedExpression]): Seq[NamedExpression] = list.map {
      case al: Alias => al.newInstance().asInstanceOf[NamedExpression]
      case o         => o
    }
    def changed(old: Seq[Attribute], now: Seq[Attribute]) =
      old.zip(now).filter { case (o, n) => o.exprId != n.exprId }
    val fresh = p.transformUpWithNewOutput {
      case m: MultiInstanceRelation =>
        val f = m.newInstance().asInstanceOf[LogicalPlan]
        (f, m.asInstanceOf[LogicalPlan].output.zip(f.output))
      case pr: Project if pr.projectList.exists(_.isInstanceOf[Alias]) =>
        val np = pr.copy(projectList = reAlias(pr.projectList))
        (np, changed(pr.output, np.output))
      case ag: Aggregate if ag.aggregateExpressions.exists(_.isInstanceOf[Alias]) =>
        val na = ag.copy(aggregateExpressions = reAlias(ag.aggregateExpressions))
        (na, changed(ag.output, na.output))
      case w: Window if w.windowExpressions.exists(_.isInstanceOf[Alias]) =>
        val nw = w.copy(windowExpressions = reAlias(w.windowExpressions))
        (nw, changed(w.output, nw.output))
    }
    (fresh, AttributeMap(p.output.zip(fresh.output)))
  }

  /** True iff every output attribute of `p` gets a NEW exprId under
    * [[freshen]]. The branch form of the agg rewrite requires this (its
    * residual branches join fresh copies); plans defining output attrs
    * via nodes freshen doesn't re-alias (Generate, Expand, ...) must fall
    * back. */
  private def freshensFully(p: LogicalPlan): Boolean =
    freshen(p)._1.output.zip(p.output).forall { case (n, o) => n.exprId != o.exprId }

  /** The matched-pair branches: branch k = `left INNER JOIN right ON pk
    * AND NOT(p1..p(k-1))` — each (left, right) pair lands in exactly the
    * branch of its first satisfied predicate, so the union of branches
    * is multiset-equal to the INNER OR join. Branch 1 keeps the ORIGINAL
    * right (its ids become the union output). The matched join's own
    * hint carries over unchanged — branch sides keep the original
    * orientation, and a broadcast hint on either side of an INNER join
    * is a hash-join build-side hint, so the user's intent survives the
    * rewrite (ADVICE r17). */
  private def branchJoins(left: LogicalPlan, right: LogicalPlan,
                          preds: Seq[Expression],
                          hint: JoinHint): Seq[LogicalPlan] =
    preds.zipWithIndex.map { case (p, k) =>
      if (k == 0) {
        Join(left, right, Inner, Some(p), hint): LogicalPlan
      } else {
        val (freshRight, m) = freshen(right)
        def remap(e: Expression): Expression =
          e.transform { case a: Attribute => m.getOrElse(a, a) }
        val cond = And(remap(p), remap(notYet(preds.take(k)).get))
        Join(left, freshRight, Inner, Some(cond), hint)
      }
    }

  /** A fresh copy of `other`, PRUNED to the attributes `preds` reference.
    * The semi/anti rewrites can run where no ColumnPruning follows (the
    * EXISTS path fires from the same operator batch, but its output is
    * also correct if reached late), and the probe side of a semi/anti
    * join only ever needs its key columns — so each rebuilt copy prunes
    * itself instead of relying on a later rule. At 100 TB this is the
    * difference between scanning the key columns and scanning the table
    * once per predicate. */
  private def prunedFresh(other: LogicalPlan, preds: Seq[Expression])
      : (LogicalPlan, AttributeMap[Attribute]) = {
    val (fresh, m) = freshen(other)
    val needed = AttributeSet(preds.flatMap(_.references))
    val keep = other.output.filter(needed.contains).map(a => m.getOrElse(a, a))
    val pruned: LogicalPlan =
      if (keep.length == other.output.length) fresh
      else Project(keep, fresh)
    (pruned, m)
  }

  /** The anti-join CHAIN: rows of `keep` with no `other` partner under
    * ANY predicate — n hash anti joins over a shrinking preserved side,
    * one pruned fresh `other` copy per predicate. `buildHint` is the
    * original hint of whichever side `other` was — a LeftAnti hash join
    * can only build right, so only the probe side's hint may propagate
    * (a preserved-side broadcast hint would force the nested-loop plan
    * this rule removes). Each stage prunes to ITS OWN predicate's
    * columns — not the chain's union — so every build of predicate pk
    * across all branches canonicalizes IDENTICALLY and physical
    * exchange reuse collapses the O(n²) semi-branch stages to n real
    * builds (spec-pinned: 4 preds = 4 BroadcastExchange + 6
    * ReusedExchange). */
  private def antiChain(keep: LogicalPlan, other: LogicalPlan,
                        preds: Seq[Expression],
                        buildHint: Option[HintInfo]): LogicalPlan = {
    val antiHint = JoinHint(None, buildHint)
    preds.foldLeft(keep) { (acc, p) =>
      val (fo, m) = prunedFresh(other, Seq(p))
      val cond = p.transform { case a: Attribute => m.getOrElse(a, a) }
      Join(acc, fo, LeftAnti, Some(cond), antiHint)
    }
  }

  /** The LEFT SEMI branches: branch k = left rows whose FIRST satisfied
    * predicate is pk, i.e. `(left ANTI p1 .. ANTI p(k-1)) SEMI pk` —
    * disjoint by construction, so the Union is the semi OR join as a
    * multiset. Every stage outputs a subset of `left` (original ids, so
    * downstream references resolve unchanged) and the right side is
    * pruned to its key columns. Only the right-side hint propagates
    * (semi/anti hash joins build right). */
  private def semiBranches(left: LogicalPlan, right: LogicalPlan,
                           preds: Seq[Expression],
                           hint: JoinHint): Seq[LogicalPlan] = {
    val semiHint = JoinHint(None, hint.rightHint)
    preds.zipWithIndex.map { case (p, k) =>
      val base = antiChain(left, right, preds.take(k), hint.rightHint)
      // own-predicate pruning, same as the anti stages: the pk build is
      // canonically identical across every branch -> exchange reuse
      val (fr, m) = prunedFresh(right, Seq(p))
      val cond = p.transform { case a: Attribute => m.getOrElse(a, a) }
      Join(base, fr, LeftSemi, Some(cond), semiHint): LogicalPlan
    }
  }

  /** The LEFT null complement: left rows satisfying no predicate (the
    * anti-join chain, one fresh right per pred), null-extended on the
    * right. Only the original RIGHT-side hint propagates, onto each anti
    * join's build side — a LeftAnti hash join can only build right, so a
    * user's broadcast-LEFT hint would force a nested-loop plan here, the
    * exact shape this rule exists to remove. */
  private def leftComplement(left: LogicalPlan, right: LogicalPlan,
                             preds: Seq[Expression],
                             hint: JoinHint): LogicalPlan =
    Project(
      left.output ++ right.output.map(a =>
        Alias(Literal(null, a.dataType), a.name)()),
      antiChain(left, right, preds, hint.rightHint))

  /** The RIGHT null complement (RightOuter/FullOuter): right rows
    * satisfying no predicate, null-extended on the LEFT — the mirrored
    * anti-join chain (right anti-joins fresh LEFT copies). The original
    * LEFT-side hint lands on each anti join's build side (the sides are
    * swapped here); the projection restores left++right column order so
    * the Union aligns positionally with the matched-pair branches. */
  private def rightComplement(left: LogicalPlan, right: LogicalPlan,
                              preds: Seq[Expression],
                              hint: JoinHint): LogicalPlan =
    Project(
      left.output.map(a =>
        Alias(Literal(null, a.dataType), a.name)(): NamedExpression) ++
        right.output,
      antiChain(right, left, preds, hint.leftHint))

  private def notYet(ps: Seq[Expression]): Option[Expression] =
    if (ps.isEmpty) None
    else Some(Not(Coalesce(Seq(ps.reduce(Or), Literal(false)))))

  // ---------------------------------------------------------------------
  // Aggregate-over-OR-join: eager aggregation through the branches.
  // ---------------------------------------------------------------------

  /** Extractor: builds the full eager-aggregation plan when every
    * applicability condition holds, None otherwise (the bare-join case
    * then fires on the child during the same top-down pass). */
  private object AggOverOrJoin {
    def unapply(plan: LogicalPlan): Option[LogicalPlan] = plan match {
      // The WIDENED disjunct shape (round 19): each disjunct may be a
      // conjunction carrying its own cross-side equalities (TPC-H Q19
      // class) — rewriteAgg parses keys/residuals per disjunct and
      // bails (None) where the eager forms cannot apply, falling to the
      // bare-join rewrite on the child in the same top-down pass.
      case a @ Aggregate(_, _, Join(l, r, jt @ (LeftOuter | Inner), Some(cond), _), _) =>
        equiDisjuncts(cond, l, r).flatMap(ps => rewriteAgg(a, l, r, ps, jt))
      // RIGHT OUTER commutes into the left-outer machinery verbatim:
      // `a RIGHT JOIN b` is `b LEFT JOIN a` as a multiset, and the
      // Aggregate replaces the join wholesale so child column order
      // never matters — the preserved (group-key) side is `r`, the
      // aggregated side is `l`.
      case a @ Aggregate(_, _, Join(l, r, RightOuter, Some(cond), _), _) =>
        equiDisjuncts(cond, l, r)
          .flatMap(ps => rewriteAgg(a, r, l, ps, LeftOuter))
      // ColumnPruning inserts an attribute-only Project between the
      // Aggregate and the Join; see through it (our rewrite references
      // only attributes the Aggregate itself references, all of which
      // survive any pruning Project by definition).
      case a @ Aggregate(_, _,
          Project(ps, Join(l, r, jt @ (LeftOuter | Inner), Some(cond), _)), _)
          if ps.forall(_.isInstanceOf[Attribute]) =>
        equiDisjuncts(cond, l, r).flatMap(d => rewriteAgg(a, l, r, d, jt))
      case a @ Aggregate(_, _,
          Project(ps, Join(l, r, RightOuter, Some(cond), _)), _)
          if ps.forall(_.isInstanceOf[Attribute]) =>
        equiDisjuncts(cond, l, r)
          .flatMap(d => rewriteAgg(a, r, l, d, LeftOuter))
      case _ => None
    }
  }

  /** One supported aggregate output: the original alias, the function
    * kind, and its (right-side) argument. */
  private sealed trait AggKind
  private case object CountK extends AggKind
  private case object SumK extends AggKind
  private case object MinK extends AggKind
  private case object MaxK extends AggKind
  private case object AvgK extends AggKind

  private case class AggOut(kind: AggKind, arg: Expression)

  /** Primitive partials one output decomposes into: avg carries TWO
    * (sum, count) — the same (sum, count) device the MV rule serves
    * avg from; everything else carries one. */
  private sealed trait Prim
  private case object PCount extends Prim
  private case object PSum extends Prim
  private case object PMin extends Prim
  private case object PMax extends Prim

  private def primsOf(k: AggKind): Seq[Prim] = k match {
    case CountK => Seq(PCount)
    case SumK   => Seq(PSum)
    case MinK   => Seq(PMin)
    case MaxK   => Seq(PMax)
    case AvgK   => Seq(PSum, PCount)
  }

  /** Sketch-estimated decision input for the branch-form choice: one
    * estimated join output |left|·|right|/max(ndv_L(key), ndv_R(key))
    * per predicate, plus both row counts. ndv comes from
    * [[StarStatsRegistry]]'s persisted write-time theta sketches — an
    * in-memory lookup plus driver-side heapify, zero plan-time jobs.
    *
    * None when either side is not a single stats-carrying scan, any key
    * is not a bare scan attribute, or any key sketch is missing: a
    * partial ranking could demote the true exploder on a confident
    * half-estimate. Filters above a scan make the whole-table sketch an
    * over-estimate, which is acceptable here — OR commutes, so a
    * mis-estimate costs plan QUALITY only, never correctness. */
  private def statsEstimates(left: LogicalPlan, right: LogicalPlan,
                             pairs: Seq[(Expression, Expression)])
      : Option[(Seq[Double], Long, Long)] = {
    // the scan's own attribute, whose name is the written column name the
    // sketches are keyed by: a predicate attribute keeps the caller's
    // spelling ("C_NATIONKEY" resolves case-insensitively), ADVICE r17
    def scanAttr(e: Expression, lr: org.apache.spark.sql.execution
        .datasources.LogicalRelation): Option[Attribute] = e match {
      case at: Attribute => lr.output.find(_.exprId == at.exprId)
      case _ => None
    }
    for {
      (lScan, lStats) <- StarStatsRegistry.statsUnder(left)
      (rScan, rStats) <- StarStatsRegistry.statsUnder(right)
      ests <- {
        val es = pairs.map { case (lk, rk) =>
          for {
            la <- scanAttr(lk, lScan)
            ra <- scanAttr(rk, rScan)
            lsk <- lStats.keySketches.get(la.name)
            rsk <- rStats.keySketches.get(ra.name)
          } yield {
            val ndv = math.max(1.0,
              math.max(StarStatsRegistry.distinctEstimate(lsk),
                StarStatsRegistry.distinctEstimate(rsk)))
            lStats.nRows.toDouble * rStats.nRows.toDouble / ndv
          }
        }
        if (es.forall(_.isDefined)) Some(es.map(_.get)) else None
      }
    } yield (ests, lStats.nRows, rStats.nRows)
  }

  private def rewriteAgg(a: Aggregate, left: LogicalPlan, right: LogicalPlan,
                         preds: Seq[Expression],
                         joinType: org.apache.spark.sql.catalyst.plans.JoinType)
      : Option[LogicalPlan] = {
    // The eager forms re-evaluate fresh copies of both sides per
    // term/branch — same single-evaluation exposure as the partition
    // rewrites, same guard.
    if (!deterministicPlan(left) || !deterministicPlan(right)) return None
    // Group keys: plain left attributes only (covers SQL GROUP BY col and
    // DataFrame groupBy(col)); nonEmpty so no branch degenerates to a
    // 1-row cross-merged global aggregate.
    val groupAttrs = a.groupingExpressions.map {
      case at: Attribute if left.outputSet.contains(at) => at
      case _ => return None
    }
    if (groupAttrs.isEmpty) return None

    val groupSet = AttributeSet(groupAttrs)

    // Distinct supported aggregate calls across ALL outputs (outputs may
    // wrap them in scalar arithmetic — `CAST(SUM(x) AS DOUBLE)` is this
    // repo's own decimal-exactness idiom — and may share one call).
    // count(*)/count(1) is NOT decomposable this way (unmatched left rows
    // count 1 there, not 0) — the nonEmpty-references guard excludes it.
    val units = scala.collection.mutable.ArrayBuffer[(AggregateExpression, AggKind, Expression)]()
    def unitFor(ae: AggregateExpression): Option[Int] = {
      val existing = units.indexWhere(_._1.semanticEquals(ae))
      if (existing >= 0) return Some(existing)
      val kindArg = ae match {
        case AggregateExpression(fn, _, false, None, _) => fn match {
          case Count(Seq(e)) => Some((CountK, e))
          case Sum(e, _)     => Some((SumK, e))
          case Min(e)        => Some((MinK, e))
          case Max(e)        => Some((MaxK, e))
          // numeric avg only (incl. DECIMAL since round 17 — the merged
          // (sum, count) partials substitute into Average's OWN
          // evaluateExpression, so precision/overflow semantics are
          // Spark's verbatim); interval averages carry their own buffer
          // types and stay on the join rewrite
          case Average(e, _)
              if e.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
            Some((AvgK, e))
          case _             => None
        }
        case _ => None
      }
      kindArg match {
        case Some((k, e))
            if e.deterministic && e.references.nonEmpty &&
              e.references.subsetOf(right.outputSet) =>
          units += ((ae, k, e)); Some(units.length - 1)
        // count(*)/count(1) IS decomposable for INNER joins: every
        // emitted row is a matched pair, so the branch/term pair counts
        // sum (or IE-combine) to it exactly. (Under LeftOuter it stays
        // unsupported: unmatched left rows count 1 there, which the
        // partials cannot see.)
        case Some((CountK, e))
            if joinType == Inner && e.foldable && e.deterministic =>
          units += ((ae, CountK, e)); Some(units.length - 1)
        case _ => None
      }
    }
    // attributes an output references OUTSIDE its aggregate calls — these
    // must be group attrs (the aggregate args themselves are right-side)
    def outerRefs(e: Expression): AttributeSet = e match {
      case _: AggregateExpression => AttributeSet.empty
      case at: Attribute          => AttributeSet(at)
      case other =>
        other.children.foldLeft(AttributeSet.empty)(_ ++ outerRefs(_))
    }

    // Classify each output: a group attribute (possibly aliased), a
    // constant (CollapseProject folds parent literal columns in — the r15
    // q82 demotion bug), or a deterministic expression over supported
    // aggregates and group attrs.
    val outs: Seq[Either[NamedExpression, Alias]] = a.aggregateExpressions.map {
      case at: Attribute if groupSet.contains(at) => scala.Left(at)
      case al @ Alias(at: Attribute, _) if groupSet.contains(at) => scala.Left(al)
      case al @ Alias(e, _) =>
        val aes = e.collect { case ae: AggregateExpression => ae }
        if (aes.isEmpty) {
          if (e.deterministic && e.references.isEmpty) scala.Left(al)
          else return None
        } else {
          if (!e.deterministic) return None
          if (aes.exists(ae => unitFor(ae).isEmpty)) return None
          if (!outerRefs(e).subsetOf(groupSet)) return None
          scala.Right(al)
        }
      case _ => return None
    }
    if (units.isEmpty) return None
    val realUnits = units.length

    // INNER join: a group exists iff it has at least one matched PAIR,
    // so the merged result is filtered on a pair count. Reuse the
    // query's own count(*) unit when present, else append a synthetic
    // one (filter-only — never projected). In the min/max-only form the
    // per-predicate terms overlap, so this count can OVERSTATE the pair
    // multiset — harmless, it is only ever compared against zero; the
    // IE and branch forms combine it exactly.
    val pairIdx: Option[Int] =
      if (joinType != Inner) None
      else {
        val ae = Count(Literal(1)).toAggregateExpression()
        val existing = units.indexWhere(_._1.semanticEquals(ae))
        if (existing >= 0) Some(existing)
        else { units += ((ae, CountK, Literal(1))); Some(units.length - 1) }
      }

    val aggs = units.toSeq.map { case (_, k, e) => AggOut(k, e) }

    // Parse each disjunct (the widened Q19 class, round 19): its
    // cross-side equality KEYS — composite allowed, `(a=x AND b=y)`
    // pre-aggregates on the pair — a RIGHT-ONLY residual conjunction
    // (filters the pre-aggregation's INPUT instead of blocking the
    // eager plan), and whether any residual references the left
    // (mixed): a mixed disjunct can never pre-aggregate, so it forces
    // the branch form and stays a real join there.
    case class Disj(keys: Seq[(Expression, Expression)],
                    res: Option[Expression], mixed: Boolean)
    val parsed: Seq[Disj] = preds.map { p =>
      val conj = splitConjunctivePredicates(p)
      val (eqs, rest) = conj.partition(crossEqui(_, left, right))
      if (eqs.isEmpty) return None
      val keys = eqs.map {
        case EqualTo(x, y) if x.references.subsetOf(left.outputSet) => (x, y)
        case EqualTo(x, y) => (y, x)
      }
      val rightOnly = rest.filter(_.references.subsetOf(right.outputSet))
      Disj(keys, rightOnly.reduceOption(And),
        mixed = rest.length != rightOnly.length)
    }
    val anyMixed = parsed.exists(_.mixed)

    // ---- stats-picked branch form --------------------------------------
    // Form (1) below (min/max-only) is order-robust with n terms — always
    // minimal. For count/sum/avg mixes the rule chooses between the
    // branch-partition form (n terms, ONE pre-aggregated — but its
    // residual branches materialize real joins) and inclusion–exclusion
    // (2^n−1 terms, ALL pre-aggregated — order-robust but a constant
    // factor heavier; the named q82 r15→r16 delta, SURVEY §6 r17). When
    // both sides are single scans with persisted write-time key sketches
    // ([[StarStatsRegistry]], populated by ZoneMapTable sketchCols writes
    // or lazily from the `_starstats` sidecar — driver-side reads, zero
    // plan-time jobs, the §4 law), the choice is COST-BASED: take the
    // branch form, branch 0 = the predicate with the largest estimated
    // join output |L|·|R|/max(ndv_L, ndv_R) (OR commutes, so permuting is
    // unconditionally sound), iff the residual branches' estimated output
    // Σ_{k≠picked} est_k stays below the IE overhead it avoids,
    // (2^n−1−n)·(|L|+|R|) — one exploding predicate among selective ones
    // → branch form (q82's r15 plan, reclaimed); several exploding
    // predicates → IE still wins. Without stats: IE at n≤3 (written order
    // cannot be trusted), branch form in written order at n≥4 (IE's 2^n−1
    // terms cost more than they insure).
    // form choice reads the REAL consumer units only — the synthetic
    // pair-count (if any) rides whatever form they pick
    val allMinMax = aggs.take(realUnits)
      .forall(a => a.kind == MinK || a.kind == MaxK)
    // The n-term min/max and IE forms pre-aggregate EVERY term, which a
    // left-referencing (mixed) residual makes impossible — those shapes
    // take the branch form, where a mixed disjunct is just a real join.
    val minMaxForm = allMinMax && !anyMixed
    // Composite-key disjuncts estimate from their first key — an
    // over-estimate of the branch output (each extra conjunct only
    // shrinks it), sound for a quality-only choice.
    val estsOpt =
      if (minMaxForm) None
      else statsEstimates(left, right, parsed.map(_.keys.head))
    val branchForm = !minMaxForm && (anyMixed || (estsOpt match {
      // With stats the cost inequality applies at EVERY n (ADVICE r17:
      // no n>=4 short-circuit): several exploding predicates can beat
      // the branch form even at n=4, where IE's 15 pre-aggregated terms
      // cost (2^4-1-4)·(|L|+|R|) — if the residual branches' estimated
      // output exceeds that, IE still wins.
      case Some((es, nl, nr)) =>
        val ieOverhead =
          ((1L << preds.length) - 1 - preds.length).toDouble * (nl + nr)
        (es.sum - es.max) < ieOverhead
      case None => preds.length >= 4
    }))
    val ieMode = !minMaxForm && !branchForm
    // The branch form's residual branches join FRESHENED copies of both
    // sides; if freshen cannot re-id some output attribute (defined by a
    // node it doesn't re-alias), a branch would carry one exprId on both
    // of its join sides — bail to the join-only rewrite. The fused forms
    // read each side once and re-id nothing.
    if (branchForm && (!freshensFully(left) || !freshensFully(right)))
      return None
    // Branch 0 must be pre-aggregatable (not mixed). With stats, pick
    // the ELIGIBLE disjunct with the largest estimated output; without,
    // keep written order unless preds(0) is mixed. OR commutes, so
    // permuting is unconditionally sound.
    val (oPreds, oParsed) =
      if (!branchForm) (preds, parsed)
      else {
        val elig = parsed.indices.filter(i => !parsed(i).mixed)
        if (elig.isEmpty) return None
        val pick = estsOpt match {
          case Some((es, _, _)) => elig.maxBy(es)
          case None             => elig.head
        }
        if (pick == 0) (preds, parsed)
        else {
          val perm = pick +: preds.indices.filterNot(_ == pick)
          (perm.map(preds), perm.map(parsed))
        }
      }

    // MIN/MAX over the DEFAULT string type route through the typed-
    // imperative twins (result-identical, law-pinned): a declarative
    // Min(string) buffer demotes the whole aggregate to SortAggregate —
    // a Sort of the input on both sides of every exchange — while the
    // typed form plans as ObjectHashAggregate (guide §4, VERDICT r19
    // item 6). Collated string types keep the stock path (the typed
    // comparison is byte-wise).
    def minOf(e: Expression): AggregateFunction =
      if (e.dataType == org.apache.spark.sql.types.StringType) TypedMin(e)
      else Min(e)
    def maxOf(e: Expression): AggregateFunction =
      if (e.dataType == org.apache.spark.sql.types.StringType) TypedMax(e)
      else Max(e)
    def fresh(p: Prim, e: Expression): AggregateFunction = p match {
      case PCount => Count(e)
      case PSum   => Sum(e)
      case PMin   => minOf(e)
      case PMax   => maxOf(e)
    }
    // Merge partials of an already-partial column: counts re-merge by
    // SUM, sums by SUM, min/max by themselves.
    def merge(p: Prim, part: Expression): AggregateFunction = p match {
      case PCount | PSum => Sum(part)
      case PMin          => minOf(part)
      case PMax          => maxOf(part)
    }
    def agg(fn: AggregateFunction): Expression = fn.toAggregateExpression()
    // Sum-of-Sum widens decimal precision (p+10 -> p+20); cast the
    // re-merged partial back to the single-level partial type so every
    // branch contributes the same type to the cross-branch merge.
    def sameType(e: Expression, dt: org.apache.spark.sql.types.DataType): Expression =
      if (e.dataType == dt) e else Cast(e, dt, Some(conf.sessionLocalTimeZone))

    // Flattened primitive partials: avg expands to (sum, count), the
    // rest to one slot; `offsets(i)` is output i's first slot. Avg's
    // sum partial accumulates in Average.sumDataType: DOUBLE for
    // non-decimal inputs — so integral inputs round exactly where the
    // un-rewritten plan does (beyond 2^53 an exact Long partial sum
    // would differ from Average's double accumulator in the last ulp) —
    // and for DECIMAL(p,s) inputs Sum's own bounded(p+10,s), which IS
    // Average's decimal sum buffer type, so no cast is needed.
    val flatPrims: Seq[(Prim, Expression)] =
      aggs.flatMap { ao =>
        primsOf(ao.kind).map { p =>
          val arg =
            if (ao.kind == AvgK && p == PSum &&
                !ao.arg.dataType.isInstanceOf[DecimalType])
              Cast(ao.arg, org.apache.spark.sql.types.DoubleType)
            else ao.arg
          (p, arg)
        }
      }
    val offsets: Seq[Int] =
      aggs.scanLeft(0)((acc, ao) => acc + primsOf(ao.kind).size)
    // Per-branch partial type: what ONE level of the primitive yields.
    val partialTypes = flatPrims.map { case (p, e) => fresh(p, e).dataType }

    // ---- plan shape choice -------------------------------------------
    // Three forms, in preference order:
    //  (1) ALL-min/max consumers: min/max are multiplicity- AND overlap-
    //      insensitive, so agg(p1 OR .. OR pn) = LEAST/GREATEST over n
    //      per-predicate terms, each term's right side pre-aggregated on
    //      its own key before touching `left` — n terms for ANY n and
    //      ANY predicate order, no inclusion–exclusion needed;
    //  (2) TWO or THREE predicates with count/sum/avg present (min/max
    //      may mix in): inclusion–exclusion — agg(⋁ p_i) =
    //      Σ_{∅≠S⊆[n]} (−1)^{|S|+1} agg(⋀_{i∈S} p_i), every term's right
    //      side pre-aggregated on its (composite) key(s) before touching
    //      `left`; min/max units read LEAST/GREATEST of the n singleton
    //      terms and ignore the signed overlap terms;
    //  (3) count/sum/avg where the cost model (or the no-stats n≥4
    //      default: IE's 2^n−1 terms, 15 at n=4, cost more than they
    //      insure) prefers it: the branch-partition form, with branch 0
    //      (the sole pre-aggregated branch) STATS-PICKED above from
    //      persisted key sketches; only when no stats exist does the
    //      |left|/|right| bound still need the exploding predicate
    //      written FIRST.
    // Forms (1)/(2) are |left|/|right|-bounded regardless of predicate
    // order — the order contract is gone for every n≤3 consumer mix, for
    // min/max-only at any n, and at n≥4 whenever both scans carry stats.
    // singletons first (ascending), then larger subsets: terms 0..n−1
    // are the additive per-predicate terms min/max read
    val ieKeys: Seq[Seq[Int]] =
      (1 to oPreds.length).flatMap(k =>
        oPreds.indices.combinations(k).map(_.toSeq))
    val termKeys: Option[Seq[Seq[Int]]] =
      if (minMaxForm) Some(oPreds.indices.map(Seq(_)))
      else if (ieMode) Some(ieKeys)
      else None

    // ---- fused terms (forms 1 and 2) ---------------------------------
    // Every term pre-aggregates `right` on its own key(s), so ONE pass
    // over each input serves all T terms (a subtree per term would scan
    // each input T times, 7 for q86):
    //  - `right` goes through one Expand with one projection per term:
    //    a term id, the term's keys in their key slots (null in every
    //    other slot), and the argument columns. The term id is null
    //    where a used key is null (an equality never matches a null
    //    key) or the term's right-only residual fails; those rows are
    //    filtered, and one Aggregate on (term id, slots) yields each
    //    term's partials per distinct key — every term's
    //    pre-aggregation, side by side;
    //  - `left` goes through one Expand with the same slot layout, its
    //    term id null where a used left key is null; the group attrs
    //    pass through under their original ids;
    //  - one LeftOuter join on term id `=` plus `<=>` per slot (used
    //    slots are non-null on both sides, unused ones null on both)
    //    attaches each (left row, term) to at most one partial row,
    //    as a per-term join would, and keeps every left row —
    //    the group set stays complete;
    //  - one merge Aggregate on the group attrs re-merges each term's
    //    partials over `If(term = t, partial, NULL)` (counts/sums by
    //    SUM, min/max by themselves), the `__orj_t<t>_p<j>` columns.
    // Each input is read once, one join serves all T terms, and no
    // Union is needed; per (group, term) the merge sees exactly the rows
    // a per-term join would give it.
    def fusedTerms(keys: Seq[Seq[Int]]): (LogicalPlan, Seq[Seq[Attribute]]) = {
      // one key slot per (disjunct, key) pair, typed as the right key
      val slotStart = oParsed.scanLeft(0)(_ + _.keys.length)
      val slotTypes = oParsed.flatMap(_.keys.map(_._2.dataType))
      def slots(ks: Seq[Int], side: ((Expression, Expression)) => Expression)
          : Seq[Expression] = {
        val filled = ks.flatMap(ki => oParsed(ki).keys.zipWithIndex.map {
          case (kp, j) => slotStart(ki) + j -> side(kp)
        }).toMap
        slotTypes.zipWithIndex.map { case (dt, i) =>
          filled.get(i).map(sameType(_, dt)).getOrElse(Literal(null, dt))
        }
      }
      def termId(t: Int, conds: Seq[Expression]): Expression =
        If(conds.reduce(And), Literal(t), Literal(null, IntegerType))
      def used(ks: Seq[Int], side: ((Expression, Expression)) => Expression) =
        ks.flatMap(ki => oParsed(ki).keys.map(side))

      val rTid = AttributeReference("__orj_tid", IntegerType)()
      val rSlots = slotTypes.indices.map(i =>
        AttributeReference(s"__orj_k$i", slotTypes(i))())
      val argSet = AttributeSet(flatPrims.flatMap(_._2.references))
      val args = right.output.filter(argSet.contains)
      val rExpand = Expand(
        keys.zipWithIndex.map { case (ks, t) =>
          val ok = used(ks, _._2).map(IsNotNull(_)) ++
            ks.flatMap(ki => oParsed(ki).res)
          (termId(t, ok) +: slots(ks, _._2)) ++ args
        },
        (rTid +: rSlots) ++ args, right)
      val partials = flatPrims.zipWithIndex.map { case ((p, e), i) =>
        Alias(agg(fresh(p, e)), s"__orj_p$i")()
      }
      val rKeys = rTid +: rSlots
      val pre = Aggregate(rKeys, rKeys ++ partials,
        Filter(IsNotNull(rTid), rExpand))

      val gAttrs = groupAttrs.distinct
      val lTid = AttributeReference("__orj_ltid", IntegerType)()
      val lSlots = slotTypes.indices.map(i =>
        AttributeReference(s"__orj_lk$i", slotTypes(i))())
      val lExpand = Expand(
        keys.zipWithIndex.map { case (ks, t) =>
          gAttrs ++ (termId(t, used(ks, _._1).map(IsNotNull(_))) +:
            slots(ks, _._1))
        },
        gAttrs ++ (lTid +: lSlots), left)
      val cond = (EqualTo(lTid, rTid) +: lSlots.zip(rSlots).map {
        case (l, r) => EqualNullSafe(l, r): Expression
      }).reduce(And)
      val joined = Join(lExpand, pre, LeftOuter, Some(cond), JoinHint.NONE)

      val termCols = keys.indices.map(t => partials.zipWithIndex.map {
        case (pa, j) =>
          Alias(If(EqualTo(lTid, Literal(t)),
            pa.toAttribute.withNullability(true),
            Literal(null, pa.dataType)), s"__orj_t${t}_p$j")()
      })
      val mergeAliases = termCols.map(_.zipWithIndex.map { case (c, j) =>
        Alias(sameType(agg(merge(flatPrims(j)._1, c.toAttribute)),
          partialTypes(j)), s"${c.name}m")()
      })
      (Aggregate(gAttrs, gAttrs ++ mergeAliases.flatten,
          Project(gAttrs ++ termCols.flatten, joined)),
        mergeAliases.map(_.map(_.toAttribute)))
    }

    // ---- branch-partition form (form 3): a union of branches ---------
    // Branch 0 carries no left-referencing residual, so `right`
    // pre-aggregates to one partial row per distinct branch-0 key BEFORE
    // touching `left` (a right-only residual filters its input);
    // branches 1..n-1 keep real joins (their residuals reference left
    // columns), sized by their own predicate's selectivity, over fresh
    // copies of both sides. The branch outputs are UNIONed — each owns a
    // disjoint block of slot columns, null-padded in every other branch
    // — and merged in ONE final aggregate:
    //  - branch 0 carries PARTIAL columns, re-merged (counts/sums by SUM,
    //    min/max by themselves);
    //  - residual branches carry their RAW argument columns, and the
    //    final aggregate applies the first-level function, which sees
    //    only that branch's rows.
    // Branch 0's LeftOuter join keeps the group set complete, and a null
    // group key is one group under groupBy.
    def branchUnion(): (LogicalPlan, Seq[Seq[Attribute]]) = {
      case class TermU(plan: LogicalPlan, gk: Seq[Attribute],
                       cols: Seq[NamedExpression], preAgged: Boolean)
      val b0 = {
        val keyPairs = oParsed(0).keys
        val keyAliases = keyPairs.zipWithIndex.map { case ((_, rk), j) =>
          Alias(rk, s"__orj_b0_k$j")()
        }
        val preAliases = flatPrims.zipWithIndex.map { case ((p, e), i) =>
          Alias(agg(fresh(p, e)), s"__orj_b0_p$i")()
        }
        // a right-only residual filters the pre-aggregation's INPUT
        val rIn = oParsed(0).res.map(Filter(_, right)).getOrElse(right)
        val pre = Aggregate(keyPairs.map(_._2), keyAliases ++ preAliases, rIn)
        val cond = keyPairs.zip(keyAliases).map { case ((lk, _), ka) =>
          EqualTo(lk, ka.toAttribute): Expression
        }.reduce(And)
        TermU(Join(left, pre, LeftOuter, Some(cond), JoinHint.NONE),
          groupAttrs, preAliases.map(_.toAttribute), preAgged = true)
      }
      val parts = oPreds.indices.drop(1).map { k =>
        val (fl, lm) = freshen(left)
        val (fr, rm) = freshen(right)
        def remap(e: Expression): Expression = e.transform {
          case at: Attribute => rm.getOrElse(at, lm.getOrElse(at, at))
        }
        val cond = And(remap(oPreds(k)), remap(notYet(oPreds.take(k)).get))
        val jk = Join(fl, fr, Inner, Some(cond), JoinHint.NONE)
        val argAliases = flatPrims.zipWithIndex.map { case ((_, e), i) =>
          Alias(remap(e), s"__orj_b${k}_a$i")()
        }
        TermU(jk, groupAttrs.map(lm(_)), argAliases, preAgged = false)
      }
      val terms = b0 +: parts
      val nSlots = flatPrims.length
      val branches: Seq[LogicalPlan] = terms.zipWithIndex.map { case (t, ti) =>
        val slots: Seq[NamedExpression] = terms.zipWithIndex.flatMap {
          case (u, ui) =>
            if (ui == ti) t.cols
            else u.cols.zipWithIndex.map { case (c, j) =>
              Alias(Literal(null, c.dataType), s"__orj_z${ui}_$j")()
            }
        }
        Project((t.gk: Seq[NamedExpression]) ++ slots, t.plan)
      }
      val unioned = Union(branches)
      // Union output ids come from the FIRST child — branch 0, whose
      // group keys are the ORIGINAL attributes, so the final projection's
      // groupAttrs references resolve unchanged.
      val gkOut = unioned.output.take(groupAttrs.length)
      val mergeAliases = terms.zipWithIndex.map { case (t, ti) =>
        flatPrims.zipWithIndex.map { case ((p, _), j) =>
          val c = unioned.output(groupAttrs.length + ti * nSlots + j)
          val fn = if (t.preAgged) merge(p, c) else fresh(p, c)
          Alias(sameType(agg(fn), partialTypes(j)), s"__orj_u${ti}_m$j")()
        }
      }
      (Aggregate(gkOut, (gkOut: Seq[NamedExpression]) ++ mergeAliases.flatten,
          unioned),
        mergeAliases.map(_.map(_.toAttribute)))
    }

    // Both constructions below yield the merged relation — one row per
    // group, the group attrs under their ORIGINAL ids — and, per term,
    // its merged partial attributes (one per flat primitive slot). A
    // term with no rows for a group yields null there (Sum/Min/Max over
    // no input), which the final projection's Coalesce/IsNull guards
    // turn into the left-outer + aggregate semantics.
    val (merged, termParts): (LogicalPlan, Seq[Seq[Attribute]]) =
      termKeys match {
        case Some(keys) => fusedTerms(keys)
        case None       => branchUnion()
      }

    val slot: Int => Seq[Expression] =
      (j: Int) => termParts.map(_(j).withNullability(true))
    // terms 0..n−1 carry PER-PREDICATE partials (additive) in every form;
    // in IE mode the later terms are the signed overlaps — min/max must
    // not read them
    val nAdditive = oPreds.length

    // ---- final projection: original output names AND exprIds, so parent
    // operators resolve unchanged.
    // A term with no rows for a group yields a NULL merged slot (Sum/
    // Min/Max over that term's all-null padding) — `slot` marks every
    // partial nullable so NullPropagation never folds away the
    // Coalesce/IsNull guards that give unmatched groups their 0/null.
    // Decimal Add/Subtract widen precision per node and BinaryOperator
    // wants same-typed children, so every arithmetic step casts back to
    // the common partial type (the same p+10 accumulator Sum itself
    // uses).
    def addSame(x: Expression, y: Expression): Expression =
      sameType(Add(x, y), x.dataType)
    def subSame(x: Expression, y: Expression): Expression =
      sameType(Subtract(x, y), x.dataType)
    def czero(p: Expression): Expression =
      Coalesce(Seq(p, Literal.default(p.dataType)))
    // The signed IE fold: odd-sized subsets add, even-sized subtract
    // (ieKeys order: singletons, pairs, [triple]). For n=2 this builds
    // exactly (A + B) − A∧B.
    def signedTotal(ps: Seq[Expression]): Expression =
      ps.zip(ieKeys).tail.foldLeft(czero(ps.head): Expression) {
        case (acc, (p, ks)) =>
          if (ks.size % 2 == 1) addSame(acc, czero(p))
          else subSame(acc, czero(p))
      }
    // count is never null: missing partials are 0.
    def countTotal(ps: Seq[Expression]): Expression =
      if (ieMode) signedTotal(ps)
      else ps.map(czero).reduce(addSame)
    // SQL sum: null iff every SINGLETON partial is null (each overlap
    // term's rows are a subset of its singletons' rows, so all
    // singletons null forces every overlap null too — the guard over
    // the additive terms is complete).
    def sumTotal(ps: Seq[Expression], dt: org.apache.spark.sql.types.DataType): Expression = {
      val additive = ps.take(nAdditive)
      val total =
        if (ieMode) signedTotal(ps)
        else additive.map(czero).reduce(addSame)
      If(IsNull(Coalesce(additive)), Literal.create(null, dt),
        sameType(total, dt))
    }
    // The cross-term merge of unit i, typed EXACTLY as the original
    // aggregate call so any scalar expression wrapped around it (casts,
    // arithmetic) still type-checks unchanged.
    def mergedUnit(i: Int): Expression = {
      val (ae, kind, _) = units(i)
      val partials = slot(offsets(i))
      val merged: Expression = kind match {
        case CountK => countTotal(partials)
        case SumK   => sumTotal(partials, ae.dataType)
        // min/max over a union ignore multiplicity AND overlap, so only
        // the per-predicate (additive) slots merge — in IE mode the
        // subtracted overlap slot is skipped
        case MinK   => Least(partials.take(nAdditive))
        case MaxK   => Greatest(partials.take(nAdditive))
        case AvgK   =>
          // avg = merged (sum, count), the MV rule's device — but the
          // final division is NOT hand-built: the merged partials
          // substitute for the `sum`/`count` buffer attributes inside
          // Average's OWN evaluateExpression, so the result is Spark's
          // division verbatim for every input type (double Divide for
          // numerics, the If-guarded DecimalDivideWithOverflowCheck
          // with its p+4/s+4 result type for decimals). The sum partial
          // is typed exactly Average.sumDataType (see flatPrims), so
          // the substitution type-checks unchanged.
          val avgFn = ae.aggregateFunction.asInstanceOf[Average]
          val cnt = countTotal(slot(offsets(i) + 1))
          val sum = sumTotal(partials, avgFn.sumDataType)
          avgFn.evaluateExpression.transform {
            case at: AttributeReference if at.exprId == avgFn.sum.exprId =>
              sum
            case at: AttributeReference if at.exprId == avgFn.count.exprId =>
              cnt
          }
      }
      sameType(merged, ae.dataType)
    }

    // ---- final projection: each output expression keeps its scalar
    // shape; every aggregate CALL inside it is substituted with its
    // cross-branch merge. Original names AND exprIds are preserved, so
    // parent operators resolve unchanged.
    val finalOuts: Seq[NamedExpression] = outs.map {
      case scala.Left(ne) => ne
      case scala.Right(al) =>
        val rewritten = al.child.transform {
          case ae: AggregateExpression =>
            mergedUnit(units.indexWhere(_._1.semanticEquals(ae)))
        }
        Alias(rewritten, al.name)(exprId = al.exprId)
    }
    // INNER join: groups with no matched pair never existed — term 0's
    // LeftOuter merge spine kept them for attachment, the pair-count
    // filter drops them (count semantics make the predicate non-null).
    val kept = pairIdx match {
      case Some(i) => Filter(GreaterThan(mergedUnit(i), Literal(0L)), merged)
      case None    => merged
    }
    Some(Project(finalOuts, kept))
  }
}
