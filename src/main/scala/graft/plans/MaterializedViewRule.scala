package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.DataType
import org.apache.hadoop.fs.Path
import graft.operators.MaterializedView
import graft.operators.MaterializedView.{MvAgg, MvDef}

/** Optimizer rule: route a grouped aggregate over a registered view's
  * base scan (or star-join of scans) to the persisted view table.
  *
  *   Aggregate(G, [G..., f1(c1), f2(c2)...], Scan ⋈ ... ⋈ Scan)
  *     =>  Project(outputs re-aliased to the ORIGINAL expr ids,
  *                 Scan(mvPath))                      — exact grouping
  *     =>  Aggregate(G', served outputs, Scan(mvPath)) — rollup
  *
  * when a registered [[MaterializedView.MvDef]] has the same input path
  * SET, the same inner-equi-join key pairs (matched as unordered
  * column-name pairs, so any join orientation or association order of
  * the same star routes), a grouping the view's dimensions COVER, and
  * every aggregate expression is servable from the view's stored
  * columns. Serving forms, composable per output expression:
  *
  *  - count_star / count / sum / min / max over a bare column (with at
  *    most one cast — the self-maintainable family) map to their stored
  *    partial directly;
  *  - `avg` is DERIVED from a stored (sum, count) pair over the same
  *    input — the rewrite reuses `Average`'s own `evaluateExpression`
  *    with the buffer attributes substituted by the view's columns, so
  *    the served value is computed by exactly the arithmetic (decimal
  *    precision, null-on-empty division) the direct plan would run;
  *  - `hll_sketch_agg` maps to a stored same-lgK sketch column, so a
  *    distinct-count query is served from KBs of mergeable state;
  *  - deterministic SCALAR structure around served aggregates —
  *    `hll_sketch_estimate(...)`, arithmetic over sums and counts — is
  *    preserved verbatim ([[serveOutput]]);
  *  - a grouping that is a PROPER SUBSET of the view's dimensions (or
  *    a COARSER `date_trunc` grain along a validated nesting chain)
  *    re-aggregates the view: counts/sums re-sum (decimal widening
  *    cast back — the absorb discipline at read time), min/max
  *    re-merge, avg divides the re-summed pair, sketches re-union with
  *    cross-group deduplication — still a |view-groups|-row read.
  *
  * The rewrite preserves the query's own output names and expression
  * ids, so parents resolve unchanged; the view relation is
  * `newInstance()`d per rewrite so two routed aggregates in one plan
  * never share attribute ids.
  *
  * Soundness gates, all of which fall back to the un-rewritten plan:
  *  - routing is opt-in (`spark.graft.rewriteMaterializedViews`);
  *  - every input's fingerprint must equal the one snapshotted at
  *    create/refresh/absorb — computed from the QUERY'S OWN
  *    already-materialized file index, so the probe costs zero
  *    filesystem calls at plan time and judges freshness against
  *    exactly the files the direct scan would read (a mutated base
  *    silently stops routing — results are never a function of
  *    freshness bookkeeping);
  *  - aggregate expressions must be non-distinct, unfiltered, and typed
  *    identically to the stored view column (a distinct or filtered
  *    aggregate is NOT derivable from stored partials);
  *  - between the aggregate and the scans: Projects that pass
  *    attributes or alias deterministic expressions (column pruning and
  *    the optimizer's pulled-out grouping expressions), plus Filters
  *    whose predicates touch ONLY bare grouping columns — those select
  *    whole groups, so they re-apply to the view's rows verbatim
  *    (`WHERE event_type = 'click' ... GROUP BY event_type` routes; a
  *    predicate over any aggregated column, or over a derived grouping
  *    dimension's input, stands down).
  *
  * When SEVERAL registered views pass every gate, the SMALLEST stored
  * table serves (by the relation's sizeInBytes, name-tiebroken for
  * determinism) — the cost-based half of view selection.
  *
  * At 100 TB this is the difference between scanning the base and
  * scanning a |groups|-row table; the staleness probe adds no I/O at
  * all. */
object MaterializedViewRule extends Rule[LogicalPlan] with PredicateHelper {

  val ConfKey = "spark.graft.rewriteMaterializedViews"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(ConfKey, "false").toBoolean) return plan
    if (MaterializedView.registered.isEmpty) return plan
    plan.transformUp {
      case agg: Aggregate =>
        rewrite(agg).getOrElse(agg)
    }
  }

  /** Why-didn't-it-route, per aggregate × registered view — the
    * operability face of the soundness gates. Runs the SAME checks the
    * rewrite runs, in order, and names the first one that fails, so a
    * user staring at a direct-scan plan gets "stale since last
    * refresh/absorb" instead of silence. Works off the ANALYZED plan
    * (diagnosis must not depend on which optimizer rules already
    * fired). */
  def diagnose(df: org.apache.spark.sql.Dataset[_]): Seq[String] = {
    val spark = df.sparkSession
    val views = MaterializedView.registered.values.toSeq.sortBy(_.name)
    val flagOn = spark.conf.get(ConfKey, "false").toBoolean
    val aggs = df.queryExecution.analyzed.collect { case a: Aggregate => a }
    val header =
      (if (!flagOn) Seq(s"routing disabled: set $ConfKey=true") else Nil) ++
        (if (views.isEmpty) Seq("no materialized views registered") else Nil) ++
        (if (aggs.isEmpty) Seq("no aggregate in the plan") else Nil)
    val rows = for (agg <- aggs; d <- views) yield {
      val verdict = coreOf(agg.child) match {
        case None =>
          "no servable scan/join under the aggregate (non-Project/Filter operator in between)"
        case Some(core) =>
          if (!coreMatches(spark, d, core))
            s"input shape differs (view is over ${d.basePath}" +
              d.joins.map(j => s" ⋈ ${j.rightPath}").mkString + ")"
          else if (!core.filters.forall(groupOnlyPredicate(_, d, core.env)))
            "a pre-aggregation filter touches a non-grouping column"
          else if (!groupingMatches(agg, d, core))
            "grouping differs from the view's declared dimensions"
          else if (!aggregatesMatch(agg, d, core))
            "an aggregate expression is not served by the view's stored columns"
          else if (!MaterializedView.isFresh(spark, d.name))
            "view is STALE: an input changed since the last create/refresh/absorb"
          else if (groupingModeOf(agg, d, core).contains(true)) "routable"
          else "routable (rollup re-aggregation)"
      }
      s"view '${d.name}': $verdict"
    }
    header ++ rows
  }

  /** One query aggregate's VIEW-SERVABLE shape, as the advisor consumes
    * it: the base path with its ordered star chain (directly feedable
    * to `create`), the grouping dimensions in declarable form, and the
    * stored aggregates that would serve every output. Only shapes
    * [[MaterializedView.advise]] can turn back into a `create(...)`
    * call are returned — bare-column or `date_trunc('unit', col)`
    * groupings, the self-maintainable aggregate family (avg contributes
    * its (sum, count) pair; `hll_sketch_agg` its sketch column). */
  final case class WorkloadShape(basePath: String,
                                 joins: Seq[MaterializedView.MvJoin],
                                 groupCols: Seq[String],
                                 groupExprs: Seq[MaterializedView.MvGroupExpr],
                                 aggs: Seq[MvAgg])

  /** Extract every advisable aggregate shape from a query's ANALYZED
    * plan (pre-optimization — advice must not depend on which rules
    * fired). Queries whose grouping or aggregates the rule could never
    * serve yield nothing. */
  def workloadShapes(df: org.apache.spark.sql.Dataset[_]): Seq[WorkloadShape] = {
    val spark = df.sparkSession
    df.queryExecution.analyzed.collect { case agg: Aggregate =>
      for {
        core <- coreOf(agg.child)
        if core.filters.isEmpty // filtered populations need their own view
        dims <- declarableDims(agg, core)
        aggs <- declarableAggs(agg, core)
        chain <- chainOf(spark, core)
      } yield WorkloadShape(chain._1, chain._2,
        dims.collect { case scala.util.Left(c) => c },
        dims.collect { case scala.util.Right(g) => g },
        aggs)
    }.flatten
  }

  /** Rebuild an ORDERED `MvJoin` chain from the core's scan set and
    * unordered key pairs: the first scan is the base, and each further
    * scan must connect to the already-covered columns (disjoint names
    * orient each pair). Shapes whose pairs don't fit a chain — a pair
    * between two not-yet-covered scans, a disconnected scan — yield
    * None rather than a mis-declared view. */
  private def chainOf(spark: SparkSession,
                      core: Core): Option[(String, Seq[MaterializedView.MvJoin])] = {
    val paths = core.scans.map(scanPath(spark, _))
    if (paths.exists(_.isEmpty)) return None
    if (core.scans.size == 1)
      return if (core.pairs.isEmpty) Some((paths.head.get, Nil)) else None
    val colsOf = core.scans.map(_.output.map(_.name).toSet)
    var covered = colsOf.head
    var remaining = core.scans.indices.drop(1).toSet
    var used = Set.empty[(String, String)]
    val joins = Seq.newBuilder[MaterializedView.MvJoin]
    while (remaining.nonEmpty) {
      val next = remaining.find(i => core.pairs.exists(p =>
        (colsOf(i)(p._1) && covered(p._2)) ||
          (colsOf(i)(p._2) && covered(p._1))))
      next match {
        case None => return None // disconnected scan
        case Some(i) =>
          val mine = core.pairs.filter(p =>
            (colsOf(i)(p._1) && covered(p._2)) ||
              (colsOf(i)(p._2) && covered(p._1)))
          val (leftKeys, rightKeys) = mine.toSeq.sorted.map { p =>
            if (colsOf(i)(p._1)) (p._2, p._1) else (p._1, p._2)
          }.unzip
          joins += MaterializedView.MvJoin(paths(i).get, leftKeys, rightKeys)
          used ++= mine
          covered = covered ++ colsOf(i)
          remaining -= i
      }
    }
    if (used != core.pairs) None // a pair outside the chain structure
    else Some((paths.head.get, joins.result()))
  }

  private def scanPath(spark: SparkSession,
                       scan: LogicalRelation): Option[String] =
    scan.relation.asInstanceOf[HadoopFsRelation]
      .location.rootPaths match {
      case Seq(p) => Some(p.toString)
      case _ => None
    }

  /** Query groupings in re-declarable form: Left(bare column) or
    * Right(date_trunc template). */
  private def declarableDims(agg: Aggregate, core: Core)
      : Option[Seq[scala.util.Either[String, MaterializedView.MvGroupExpr]]] = {
    val dims = agg.groupingExpressions.map(resolveThrough(_, core.env)).map {
      case a: AttributeReference => Some(scala.util.Left(a.name))
      case t: TruncTimestamp => (t.format, t.timestamp) match {
        case (Literal(u: org.apache.spark.unsafe.types.UTF8String, _),
              ts: AttributeReference) =>
          Some(scala.util.Right(MaterializedView.MvGroupExpr(
            s"${ts.name}_${u.toString.toLowerCase}",
            s"date_trunc('${u.toString.toLowerCase}', ${ts.name})")))
        case _ => None
      }
      case _ => None
    }
    if (dims.forall(_.isDefined)) Some(dims.flatten) else None
  }

  /** The stored aggregates that would serve the query's outputs —
    * every aggregate CALL anywhere in the output expressions (scalar
    * structure around them is served verbatim at rewrite time). */
  private def declarableAggs(agg: Aggregate, core: Core): Option[Seq[MvAgg]] = {
    var ok = true
    val found = scala.collection.mutable.ArrayBuffer.empty[MvAgg]
    def outCol(func: String, col: String, cast: Option[DataType]): String =
      (s"${func}_$col" + cast.map(t => "_" + t.simpleString).getOrElse(""))
        .replaceAll("[^a-zA-Z0-9_]", "_")
    def visit(e: Expression): Unit = e match {
      case AggregateExpression(fn, _, false, None, _) => fn match {
        case avgFn: Average => strip(avgFn.child) match {
          case Some((c, castT)) =>
            // the count carries the avg's cast: a cast can reject or
            // null values, so count(cast(c)) is the exact denominator
            val castS = castT.map(_.sql.toLowerCase)
            found += MvAgg("sum", c, castS, outCol("sum", c, castT))
            found += MvAgg("count", c, castS, outCol("count", c, castT))
          case None => ok = false
        }
        case h: HllSketchAgg => h.left match {
          case a: AttributeReference =>
            found += MvAgg("hll_sketch", a.name, None,
              outCol("hll", a.name, None), lgK = Some(h.lgConfigK))
          case _ => ok = false
        }
        case other => shapeOf(other) match {
          case Some((func, c, castT)) =>
            val castS = castT.map(_.sql.toLowerCase)
            val name = if (func == "count_star") "n_rows"
                       else outCol(func, c, castT)
            found += MvAgg(func, c, castS, name)
          case None => ok = false
        }
      }
      case _: AggregateExpression => ok = false // distinct/filtered
      case other => other.children.foreach(visit)
    }
    agg.aggregateExpressions.foreach {
      case al: Alias => visit(resolveThrough(al.child, core.env))
      case _: AttributeReference => () // grouping passthrough
      case _ => ok = false
    }
    if (ok) Some(found.toSeq.distinct) else None
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    val spark = SparkSession.active
    for {
      core <- coreOf(agg.child)
      mv <- MaterializedView.registered.values.toSeq
        .filter(d =>
          coreMatches(spark, d, core) &&
            core.filters.forall(groupOnlyPredicate(_, d, core.env)) &&
            groupingMatches(agg, d, core) &&
            aggregatesMatch(agg, d, core) &&
            freshFromPlan(spark, d, core))
        // several servable views: the smallest stored table wins
        .sortBy(d => (d.relation.relation.sizeInBytes, d.name))
        .headOption
      routed <- route(agg, mv, core)
    } yield routed
  }

  /** How a query grouping expression is served by a view dimension:
    * as the stored column itself, or — for `date_trunc` hierarchies —
    * by re-truncating the stored (finer) bucket to the query's coarser
    * one at read time. */
  private sealed trait DimMatch { def name: String }
  private case class ExactDim(name: String) extends DimMatch
  private case class CoarsenedDim(name: String,
                                  rebuild: Attribute => Expression) extends DimMatch

  /** Does `date_trunc(q, x)` equal `date_trunc(q, date_trunc(v, x))` —
    * i.e. is the stored level `v` strictly finer than the asked level
    * `q` along a nesting chain? Sub-day levels nest into everything
    * (week and month boundaries are day-aligned); month nests into
    * quarter/year; WEEK nests into nothing coarser (a week straddles
    * month and year boundaries). */
  private def truncCoarsens(q: String, v: String): Boolean = {
    val rank = Map(
      "microsecond" -> 0, "millisecond" -> 1, "second" -> 2,
      "minute" -> 3, "hour" -> 4, "day" -> 5, "dd" -> 5,
      "week" -> 6,
      "month" -> 7, "mon" -> 7, "mm" -> 7,
      "quarter" -> 8,
      "year" -> 9, "yyyy" -> 9, "yy" -> 9)
    (rank.get(q.toLowerCase), rank.get(v.toLowerCase)) match {
      case (Some(rq), Some(rv)) =>
        if (rv <= 5) rq > rv
        else if (rv == 6) false
        else rq > rv && rq >= 7
      case _ => false
    }
  }

  /** A query `date_trunc` grouping served by RE-TRUNCATING a stored
    * finer bucket: matches when the view has a `date_trunc` template
    * over the semantically-same input at a strictly finer level. */
  private def coarsenedTemplate(e: Expression, d: MvDef,
                                scans: Seq[LogicalRelation]): Option[CoarsenedDim] =
    e match {
      case tq: TruncTimestamp =>
        tq.format match {
          case Literal(fq: org.apache.spark.unsafe.types.UTF8String, _) =>
            d.groupTemplates.collectFirst {
              case (name, tv: TruncTimestamp)
                  if (tv.format match {
                    case Literal(fv: org.apache.spark.unsafe.types.UTF8String, _) =>
                      truncCoarsens(fq.toString, fv.toString) &&
                        remappedTemplate(tv.timestamp, scans)
                          .exists(_.semanticEquals(tq.timestamp))
                    case _ => false
                  }) =>
                CoarsenedDim(name, attr => tq.copy(timestamp = attr))
            }
          case _ => None
        }
      case _ => None
    }

  /** The view dimension serving query grouping `e`, if any. */
  private def dimMatchOf(e: Expression, d: MvDef,
                         scans: Seq[LogicalRelation]): Option[DimMatch] =
    e match {
      case a: AttributeReference if d.groupCols.contains(a.name) =>
        Some(ExactDim(a.name))
      case ex => templateFor(ex, d, scans).map(ExactDim.apply)
        .orElse(coarsenedTemplate(ex, d, scans))
    }

  /** Is the query's grouping an EXACT match of the view's dimensions
    * (serve by projection) or a coarsening — a proper subset and/or a
    * re-truncated time bucket (serve by re-aggregating the view — the
    * rollup rewrite)? None = not servable. */
  private def groupingModeOf(agg: Aggregate, d: MvDef,
                             core: Core): Option[Boolean] = {
    val matched = agg.groupingExpressions.map(resolveThrough(_, core.env))
      .map(dimMatchOf(_, d, core.scans))
    val want = (d.groupCols ++ d.groupExprs.map(_.name)).toSet
    if (!matched.forall(_.isDefined)) return None
    val dims = matched.flatten
    val names = dims.map(_.name)
    if (names.toSet.size != names.size || !names.toSet.subsetOf(want)) None
    else Some(names.toSet == want && dims.forall(_.isInstanceOf[ExactDim]))
  }

  /** The servable sub-plan under the aggregate: a tree of INNER
    * equi-joins over file scans (a single scan is the 1-input case),
    * with the alias environment, the collected pre-aggregation filters
    * from every layer, and the join's equi-pairs as UNORDERED
    * column-name pairs (inputs have disjoint names by the create-time
    * contract, so names identify sides). */
  private case class Core(scans: Seq[LogicalRelation],
                          env: Map[ExprId, Expression],
                          filters: Seq[Expression],
                          pairs: Set[(String, String)])

  private def orderPair(a: String, b: String): (String, String) =
    if (a <= b) (a, b) else (b, a)

  private def coreOf(plan: LogicalPlan): Option[Core] =
    unwrapOps(plan).flatMap { case (stop, env, filters) =>
      stop match {
        case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
          Some(Core(Seq(lr), env, filters, Set.empty))
        case j: Join if j.joinType == Inner && j.condition.isDefined =>
          for {
            l <- coreOf(j.left)
            r <- coreOf(j.right)
            env2 = env ++ l.env ++ r.env
            ps <- equiPairs(resolveThrough(j.condition.get, env2),
              l.scans, r.scans)
          } yield Core(l.scans ++ r.scans, env2,
            (filters ++ l.filters ++ r.filters).map(resolveThrough(_, env2)),
            l.pairs ++ r.pairs ++ ps)
        case _ => None
      }
    }

  /** Conjunction of attribute equalities across the two scan groups, as
    * unordered name pairs; anything else disqualifies. */
  private def equiPairs(cond: Expression, l: Seq[LogicalRelation],
                        r: Seq[LogicalRelation]): Option[Set[(String, String)]] = {
    val lOut = AttributeSet(l.flatMap(_.output))
    val rOut = AttributeSet(r.flatMap(_.output))
    val pairs = splitConjunctivePredicates(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if (lOut.contains(a) && rOut.contains(b)) ||
            (lOut.contains(b) && rOut.contains(a)) =>
        Some(orderPair(a.name, b.name))
      case _ => None
    }
    if (pairs.nonEmpty && pairs.forall(_.isDefined)) Some(pairs.flatten.toSet)
    else None
  }

  /** Does the core's input shape equal the view's declared inputs?
    * Path SET plus unordered join-key pair set — orientation- and
    * association-free, which is what makes `dim ⋈ fact` and any
    * parenthesization of a 3-way star route to the same view. */
  private def coreMatches(spark: SparkSession, d: MvDef,
                          core: Core): Boolean = {
    val declaredPaths = d.basePath +: d.joins.map(_.rightPath)
    if (core.scans.size != declaredPaths.size) return false
    val declaredPairs = d.joins
      .flatMap(j => j.leftKeys.zip(j.rightKeys).map((orderPair _).tupled))
      .toSet
    core.pairs == declaredPairs &&
      declaredPaths.forall(p => core.scans.exists(samePath(spark, p, _))) &&
      core.scans.forall(s => declaredPaths.exists(samePath(spark, _, s)))
  }

  /** A pre-aggregation filter is servable from the view iff it touches
    * ONLY bare grouping columns (after alias substitution): such a
    * predicate selects whole groups, so filtering the view's rows is
    * exactly filtering the base's groups. A predicate over any other
    * column — or over a derived grouping dimension's INPUT (hour
    * buckets cannot answer a raw-ts range) — stands down. */
  private def groupOnlyPredicate(cond: Expression, d: MvDef,
                                 env: Map[ExprId, Expression]): Boolean = {
    val resolved = resolveThrough(cond, env)
    resolved.deterministic && resolved.references.toSeq.forall {
      case a: AttributeReference => d.groupCols.contains(a.name)
      case _ => false
    }
  }

  /** Substitute projected aliases back into `e` so matching sees the
    * expression over the SCAN's attributes — the optimizer's
    * PullOutGroupingExpressions hoists non-attribute groupings into a
    * Project below the Aggregate as `_groupingexpression` columns, and
    * column-pruning Projects can alias too. */
  private def resolveThrough(e: Expression,
                             env: Map[ExprId, Expression]): Expression =
    e.transformUp {
      case a: AttributeReference if env.contains(a.exprId) => env(a.exprId)
    }

  /** The def's resolved group-expression template with its attribute
    * references re-bound BY NAME onto the query's own scans, so
    * semantic comparison sees one attribute id space. */
  private def remappedTemplate(template: Expression,
                               scans: Seq[LogicalRelation]): Option[Expression] = {
    val byName = scans.flatMap(_.output).map(a => a.name -> a).toMap
    var ok = true
    val r = template.transform {
      case a: AttributeReference =>
        byName.get(a.name) match {
          case Some(x) => x
          case None => ok = false; a
        }
    }
    if (ok) Some(r) else None
  }

  /** The stored column name of the group TEMPLATE `e` matches, if any. */
  private def templateFor(e: Expression, d: MvDef,
                          scans: Seq[LogicalRelation]): Option[String] =
    d.groupTemplates.collectFirst {
      case (name, t) if remappedTemplate(t, scans).exists(_.semanticEquals(e)) =>
        name
    }

  /** Walk down through Projects that only pass attributes or alias
    * DETERMINISTIC expressions (column pruning and the optimizer's
    * pulled-out grouping expressions) and Filters (collected, judged
    * against the matched view later by [[groupOnlyPredicate]]),
    * accumulating the alias environment — every aliased expression
    * fully substituted toward the layer below. Stops at the first
    * other node, which [[coreOf]] then requires to be a scan or an
    * inner equi-join tree of scans. */
  private def unwrapOps(plan: LogicalPlan)
      : Option[(LogicalPlan, Map[ExprId, Expression], Seq[Expression])] =
    plan match {
      case Project(projList, child) if projList.forall {
            case _: AttributeReference => true
            case a: Alias => a.child.deterministic
            case _ => false
          } =>
        unwrapOps(child).map { case (stop, childEnv, filters) =>
          val here = projList.collect {
            case a: Alias => a.exprId -> resolveThrough(a.child, childEnv)
          }.toMap
          (stop, childEnv ++ here, filters)
        }
      case Filter(cond, child) =>
        unwrapOps(child).map { case (stop, childEnv, filters) =>
          (stop, childEnv, resolveThrough(cond, childEnv) +: filters)
        }
      case other => Some((other, Map.empty, Nil))
    }

  private def samePath(spark: SparkSession, basePath: String,
                       scan: LogicalRelation): Boolean = {
    val hconf = spark.sessionState.newHadoopConf()
    def qualified(p: Path): Path = {
      val fs = p.getFileSystem(hconf)
      p.makeQualified(fs.getUri, fs.getWorkingDirectory)
    }
    val want = qualified(new Path(basePath))
    val got = scan.relation.asInstanceOf[HadoopFsRelation]
      .location.rootPaths.map(qualified)
    got == Seq(want)
  }

  /** Freshness judged from the QUERY'S OWN file indexes — every
    * declared input's scan has already listed its files when the
    * DataFrame was built, so fingerprinting that listing costs zero
    * filesystem calls and is snapshot-consistent with what the direct
    * plan would read. Falls back to the walking probe only for
    * non-standard FileIndex implementations. */
  private def freshFromPlan(spark: SparkSession, d: MvDef,
                            core: Core): Boolean =
    d.inputFingerprints.forall { case (path, want) =>
      core.scans.find(samePath(spark, path, _)).exists { scan =>
        scan.relation.asInstanceOf[HadoopFsRelation].location match {
          case idx: PartitioningAwareFileIndex =>
            MaterializedView.fingerprintOfFiles(idx.allFiles()) == want
          case _ => MaterializedView.fingerprint(spark, path) == want
        }
      }
    }

  /** Every query grouping is either a bare declared column or matches a
    * declared group-expression template, each dimension used at most
    * once. Full coverage serves by projection; a PROPER SUBSET serves by
    * re-aggregating the view (the stored rows partition the base's, so
    * rolling a dimension up re-merges disjoint partials — q41's merge
    * algebra applied at read time). A grouping FINER than the stored one
    * is never servable. */
  private def groupingMatches(agg: Aggregate, d: MvDef,
                              core: Core): Boolean =
    groupingModeOf(agg, d, core).isDefined

  /** (column, cast-to) of a bare or once-cast column reference. */
  private def strip(e: Expression): Option[(String, Option[DataType])] = e match {
    case a: AttributeReference => Some((a.name, None))
    case c: Cast =>
      c.child match {
        case a: AttributeReference => Some((a.name, Some(c.dataType)))
        case _ => None
      }
    case _ => None
  }

  /** (func, inputCol, castTo) of a directly-stored aggregate call. */
  private def shapeOf(fn: AggregateFunction): Option[(String, String, Option[DataType])] =
    fn match {
      case s: Sum => strip(s.child).map { case (c, t) => ("sum", c, t) }
      case m: Min => strip(m.child).map { case (c, t) => ("min", c, t) }
      case m: Max => strip(m.child).map { case (c, t) => ("max", c, t) }
      case c: Count => c.children match {
        case Seq(Literal(1, _)) => Some(("count_star", "", None))
        case Seq(e) => strip(e).map { case (col, t) => ("count", col, t) }
        case _ => None
      }
      case _ => None
    }

  private def declaredShape(a: MvAgg): (String, String, Option[DataType]) =
    (a.func, a.inputCol, a.castTo.map(DataType.fromDDL))

  /** The stored (sum, count) pair serving `avg(x)`, with Average's
    * buffer attributes — shared by the exact and rollup paths so the
    * matching rules cannot drift. The stored sum must carry the
    * buffer's exact type (Sum over the same cast yields it by
    * construction; an integral avg whose buffer is DOUBLE does NOT
    * match a long stored sum — bit-exactness over derivability). The
    * count's cast must match the avg's EXACTLY: a cast can null out or
    * reject values (NaN/overflow to decimal), so `count(cast(c))` and
    * `count(c)` are different denominators in non-ANSI sessions —
    * count_star substitutes only for a cast-free avg over a
    * non-nullable column, where the two are provably equal. */
  private def avgPartials(avgFn: Average, d: MvDef, core: Core,
                          byName: Map[String, Attribute])
      : Option[(Attribute, Attribute, Attribute, Attribute)] =
    strip(avgFn.child).flatMap { case (c, castT) =>
      val nonNullable = core.scans.flatMap(_.output)
        .exists(a => a.name == c && !a.nullable)
      val sumAttr = d.aggs.find(a => a.func == "sum" && a.inputCol == c &&
          a.castTo.map(DataType.fromDDL) == castT)
        .flatMap(a => byName.get(a.outCol))
      val cntAttr = d.aggs.find(a => a.func == "count" && a.inputCol == c &&
          a.castTo.map(DataType.fromDDL) == castT)
        .orElse(if (nonNullable && castT.isEmpty)
          d.aggs.find(_.func == "count_star") else None)
        .flatMap(a => byName.get(a.outCol))
      (sumAttr, cntAttr, avgFn.aggBufferAttributes) match {
        case (Some(s), Some(n), Seq(sumBuf, cntBuf))
            if s.dataType == sumBuf.dataType && n.dataType == cntBuf.dataType =>
          Some((s, n, sumBuf, cntBuf))
        case _ => None
      }
    }

  /** `avg(x)` served from stored (sum, count) partials over the same
    * input: reuse Average's OWN `evaluateExpression` — the exact
    * resolved arithmetic (decimal promotion, null-on-empty-group
    * division) the direct plan runs over its final buffer — with the
    * buffer attributes substituted by the view's columns. */
  private def serveAverage(avgFn: Average, d: MvDef, core: Core,
                           byName: Map[String, Attribute]): Option[Expression] =
    avgPartials(avgFn, d, core, byName).map { case (s, n, sumBuf, cntBuf) =>
      avgFn.evaluateExpression.transform {
        case a: AttributeReference if a.exprId == sumBuf.exprId => s
        case a: AttributeReference if a.exprId == cntBuf.exprId => n
      }
    }

  /** The stored sketch column serving an `hll_sketch_agg` call — the
    * input column and lgK must both match the declaration (a silent
    * lgK drift would change the error bound). */
  private def servedSketch(h: HllSketchAgg, d: MvDef,
                           byName: Map[String, Attribute]): Option[Attribute] =
    h.left match {
      case a: AttributeReference =>
        d.aggs.find(x => x.func == "hll_sketch" && x.inputCol == a.name &&
            x.lgK.getOrElse(MaterializedView.DefaultLgK) == h.lgConfigK)
          .flatMap(x => byName.get(x.outCol))
      case _ => None
    }

  /** The stored KLL column serving a `kll_sketch_agg_double` call —
    * input column and k must both match (k is the rank-error bound). */
  private def servedKll(kll: KllSketchAggDouble, d: MvDef,
                        byName: Map[String, Attribute]): Option[Attribute] =
    kll.child match {
      case a: AttributeReference =>
        d.aggs.find(x => x.func == "kll" && x.inputCol == a.name &&
            x.lgK.getOrElse(MaterializedView.DefaultKllK) == kllK(kll))
          .flatMap(x => byName.get(x.outCol))
      case _ => None
    }

  /** The k of a `kll_sketch_agg_double` call: its foldable k argument,
    * or the built-in's default (200) when none is given. */
  private def kllK(kll: KllSketchAggDouble): Int =
    kll.kExpr.map(_.eval().asInstanceOf[Number].intValue)
      .getOrElse(MaterializedView.DefaultKllK)

  /** The view-side expression serving aggregate expression `ae`, bound
    * against `byName` (the view relation's output attributes). */
  private def serveAggExpr(ae: AggregateExpression, d: MvDef, core: Core,
                           byName: Map[String, Attribute]): Option[Expression] =
    ae match {
      case AggregateExpression(avgFn: Average, _, false, None, _) =>
        serveAverage(avgFn, d, core, byName)
      case AggregateExpression(h: HllSketchAgg, _, false, None, _) =>
        servedSketch(h, d, byName)
      case AggregateExpression(kll: KllSketchAggDouble, _, false, None, _) =>
        servedKll(kll, d, byName)
      case AggregateExpression(fn, _, false, None, _) =>
        shapeOf(fn).flatMap { got =>
          d.aggs.find(a => declaredShape(a) == got)
            .flatMap(a => byName.get(a.outCol))
        }
      case _ => None
    }

  /** The ROLLUP form of serving: the query groups by a proper subset of
    * the view's dimensions, so each of its groups merges several stored
    * rows — counts and sums re-sum, min/max re-min/max (q41's merge
    * family as read-time expressions), and avg divides the re-summed
    * (sum, count) pair through Average's own evaluateExpression. A
    * re-aggregated decimal sum widens (Sum over decimal(p,s) yields
    * p+10) and is cast back to the query's type — the absorb cast
    * discipline at read time; overflow behaves as the direct plan
    * would, because a total too wide for the original sum type
    * overflows there too. */
  private def rollupAggExpr(ae: AggregateExpression, d: MvDef, core: Core,
                            byName: Map[String, Attribute]): Option[Expression] = {
    def reSum(stored: Attribute, outType: DataType): Expression = {
      val s = Sum(stored).toAggregateExpression()
      if (s.dataType == outType) s else Cast(s, outType)
    }
    ae match {
      case AggregateExpression(avgFn: Average, _, false, None, _) =>
        avgPartials(avgFn, d, core, byName).map { case (s, n, sumBuf, cntBuf) =>
          val totalSum = reSum(s, sumBuf.dataType)
          val totalCnt = reSum(n, cntBuf.dataType)
          avgFn.evaluateExpression.transform {
            case a: AttributeReference if a.exprId == sumBuf.exprId => totalSum
            case a: AttributeReference if a.exprId == cntBuf.exprId => totalCnt
          }
        }
      case AggregateExpression(h: HllSketchAgg, _, false, None, _) =>
        // merging rolled-up groups' sketches: register-max union — the
        // same final registers as a direct build under ANY merge
        // schedule (q49's schedule-independence law as a rewrite)
        servedSketch(h, d, byName).map(stored =>
          new HllUnionAgg(stored, Literal(false)).toAggregateExpression())
      case AggregateExpression(kll: KllSketchAggDouble, _, false, None, _) =>
        // quantile rollup: merge the stored per-group KLL sketches —
        // within the k-bound rank error under any schedule, exact
        // order statistics below k retained values (q52's contract)
        servedKll(kll, d, byName).map(stored =>
          KllMergeAggDouble(stored, Some(Literal(kllK(kll))))
            .toAggregateExpression())
      case AggregateExpression(fn, _, false, None, _) =>
        shapeOf(fn).flatMap { got =>
          d.aggs.find(a => declaredShape(a) == got)
            .flatMap(a => byName.get(a.outCol)).map { stored =>
              got._1 match {
                case "count_star" | "count" =>
                  // a GLOBAL rollup over an empty selection must answer
                  // 0 like the direct count, not Sum's NULL-on-empty
                  Coalesce(Seq(reSum(stored, fn.dataType),
                    Literal(0L, fn.dataType)))
                case "sum" => reSum(stored, fn.dataType)
                case "min" => Min(stored).toAggregateExpression()
                case "max" => Max(stored).toAggregateExpression()
              }
            }
        }
      case _ => None
    }
  }

  /** Serve an entire OUTPUT expression: every aggregate call inside it
    * replaced by its view-served form (a stored partial's column in
    * exact mode, a re-aggregation of partials in rollup mode), every
    * grouping reference by its view column, and the deterministic
    * scalar structure around them — `hll_sketch_estimate(...)`,
    * arithmetic over sums and counts — preserved verbatim. None = some
    * piece is not servable and the caller stands down. */
  private def serveOutput(e: Expression, d: MvDef, core: Core,
                          byName: Map[String, Attribute], exact: Boolean,
                          dimExpr: DimMatch => Option[Expression]): Option[Expression] = {
    def go(x: Expression): Option[Expression] = x match {
      case ae: AggregateExpression =>
        if (exact) serveAggExpr(ae, d, core, byName)
        else rollupAggExpr(ae, d, core, byName)
      case other =>
        dimMatchOf(other, d, core.scans).flatMap(dimExpr).orElse {
          other match {
            case _: AttributeReference => None // a leaf the view cannot name
            case _ if !other.deterministic => None
            case _ =>
              val kids = other.children.map(go)
              if (kids.exists(_.isEmpty)) None
              else Some(other.withNewChildren(kids.flatten))
          }
        }
    }
    go(resolveThrough(e, core.env))
  }

  private def aggregatesMatch(agg: Aggregate, d: MvDef,
                              core: Core): Boolean =
    groupingModeOf(agg, d, core).exists { exact =>
      val byName = d.relation.output.map(a => a.name -> a).toMap
      val dimExpr: DimMatch => Option[Expression] = {
        case ExactDim(n) => byName.get(n)
        case CoarsenedDim(n, rebuild) if !exact => byName.get(n).map(rebuild)
        case _ => None
      }
      agg.aggregateExpressions.forall {
        case al: Alias =>
          serveOutput(al.child, d, core, byName, exact, dimExpr)
            .exists(_.dataType == al.dataType)
        case a: AttributeReference =>
          serveOutput(a, d, core, byName, exact, dimExpr)
            .exists(_.dataType == a.dataType)
        case _ => false
      }
    }

  private def route(agg: Aggregate, d: MvDef,
                    core: Core): Option[LogicalPlan] = {
    val exact = groupingModeOf(agg, d, core) match {
      case Some(e) => e
      case None => return None
    }
    val env = core.env
    val inst = d.relation.newInstance()
    val byName = inst.output.map(a => a.name -> a).toMap
    // group-only predicates select whole groups, so they re-apply to
    // the view's rows verbatim — references re-bound by name
    val filtered: Option[LogicalPlan] =
      if (core.filters.isEmpty) Some(inst)
      else {
        var ok = true
        val rebound = core.filters.map(_.transform {
          case a: AttributeReference =>
            byName.get(a.name) match {
              case Some(mv) if mv.dataType == a.dataType => mv
              case _ => ok = false; a
            }
        })
        if (!ok) None
        else Some(Filter(rebound.reduce(And), inst))
      }
    def servedOutputs(exactMode: Boolean,
                      dimExpr: DimMatch => Option[Expression]): Option[Seq[NamedExpression]] = {
      val mapped = agg.aggregateExpressions.map {
        case al: Alias =>
          serveOutput(al.child, d, core, byName, exactMode, dimExpr)
            .filter(_.dataType == al.dataType)
            .map(e => Alias(e, al.name)(exprId = al.exprId))
        case a: AttributeReference =>
          serveOutput(a, d, core, byName, exactMode, dimExpr)
            .filter(_.dataType == a.dataType)
            .map(e => Alias(e, a.name)(exprId = a.exprId))
        case _ => None
      }
      if (mapped.exists(_.isEmpty)) None else Some(mapped.flatten)
    }
    if (exact) {
      val dimExpr: DimMatch => Option[Expression] = {
        case ExactDim(n) => byName.get(n)
        case _ => None
      }
      for {
        outs <- servedOutputs(exactMode = true, dimExpr)
        child <- filtered
      } yield Project(outs, child)
    } else {
      // rollup: re-aggregate the view on the query's mapped dimensions —
      // a grouped aggregate over a |view-groups|-row table, still never
      // the base. A coarsened time bucket is computed ONCE in a
      // projection under the aggregate (one shared alias per dimension,
      // referenced by grouping and output alike).
      val coarsened = scala.collection.mutable.LinkedHashMap.empty[String, Alias]
      val dimExpr: DimMatch => Option[Expression] = {
        case ExactDim(n) => byName.get(n)
        case CoarsenedDim(n, rebuild) => byName.get(n).map { a =>
          coarsened.getOrElseUpdate(n,
            Alias(rebuild(a), s"_mvcoarse_$n")()).toAttribute
        }
      }
      val groupAttrs = agg.groupingExpressions.map(g =>
        dimMatchOf(resolveThrough(g, env), d, core.scans).flatMap(dimExpr))
      val outs = servedOutputs(exactMode = false, dimExpr)
      if (groupAttrs.exists(_.isEmpty) || outs.isEmpty) None
      else filtered.map { child =>
        val withCoarse =
          if (coarsened.isEmpty) child
          else Project(child.output ++ coarsened.values, child)
        Aggregate(groupAttrs.flatten, outs.get, withCoarse)
      }
    }
  }
}
