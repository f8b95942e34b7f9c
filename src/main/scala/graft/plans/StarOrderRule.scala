package graft.plans

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, IsNotNull}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** In-memory catalog of write-time-persisted table key sketches — the
  * PRE-COMPUTED statistics [[StarOrderRule]] reads at plan time.
  *
  * Populated at WRITE time by [[graft.operators.ZoneMapTable.write]]
  * (sketchCols) / `append` (automatic union maintenance), at session
  * setup by `ZoneMapTable.loadStarStats` reading the `_starstats`
  * manifest sidecar, or LAZILY by [[statsForOrLoad]] on the first
  * registry miss for a `<root>/data` path (one driver-side sidecar
  * read, positive- and negative-cached) — never COMPUTED by a rule:
  * plan-time work stays an in-memory map lookup plus driver-side sketch
  * set-ops (microseconds), with at most one tiny metadata read per
  * table per JVM, upholding the no-plan-time-jobs law SURVEY §4 sets
  * for optimizer rules (the MV rule's "zero plan-time FS walks",
  * applied to statistics).
  *
  * Staleness is deliberately NOT gated: the rewrite only permutes inner
  * equi-joins (multiset-identical output by commutativity — the q78
  * law), so stale sketches can cost a suboptimal ORDER, never a wrong
  * answer. Same-JVM writers re-register on every publish anyway. */
object StarStatsRegistry {

  /** One table's plan-time statistics: exact row count + a theta sketch
    * of each registered key column's values. */
  final case class TableStats(nRows: Long, keySketches: Map[String, Array[Byte]])

  private val catalog =
    scala.collection.concurrent.TrieMap.empty[String, TableStats]

  /** Data paths known to carry NO loadable sidecar — probed once, then
    * never touched again, so the lazy-load miss path stays one FS probe
    * per path per JVM rather than one per plan. */
  private val noSidecar =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Fully-qualified spelling of a data path — registration and the
    * rule's rootPath lookup must agree on one form. */
  def qualify(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    p.makeQualified(fs.getUri, fs.getWorkingDirectory).toString
  }

  def register(qualifiedDataPath: String, stats: TableStats): Unit = {
    noSidecar.remove(qualifiedDataPath)
    catalog.put(qualifiedDataPath, stats)
  }

  def deregister(qualifiedDataPath: String): Unit =
    catalog.remove(qualifiedDataPath)

  def registered: Map[String, TableStats] = catalog.toMap

  def statsFor(qualifiedDataPath: String): Option[TableStats] =
    catalog.get(qualifiedDataPath)

  /** Registry lookup with LAZY SIDECAR LOAD on first miss — the
    * cross-session half of "read, not computed": a fresh session over a
    * zone-mapped table gets transparent star ordering without calling
    * `ZoneMapTable.loadStarStats` per table. On a miss for a
    * `<root>/data` path, the newest committed generation's `_starstats`
    * sidecar under `<root>` is read ONCE, entirely on the driver
    * (parquet-hadoop record reader — zero Spark jobs, the §4 law; the
    * sidecar is sketchCols-sized) and cached in the registry; paths with
    * no sidecar are negative-cached so the probe never repeats. IO
    * failures read as "no stats" — a planning rule must degrade to
    * written order, never throw. */
  def statsForOrLoad(spark: SparkSession,
                     qualifiedDataPath: String): Option[TableStats] =
    statsFor(qualifiedDataPath).orElse {
      if (noSidecar.contains(qualifiedDataPath)) None
      else {
        val loaded =
          if (!qualifiedDataPath.endsWith("/data")) None
          else try {
            graft.operators.ZoneMapTable.readStarStatsDriverSide(
              spark.sessionState.newHadoopConf(),
              qualifiedDataPath.stripSuffix("/data")).map { rows =>
              TableStats(rows.headOption.map(_._2).getOrElse(0L),
                rows.map(r => r._1 -> r._3).toMap)
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        loaded match {
          case Some(st) => register(qualifiedDataPath, st); Some(st)
          case None     => noSidecar.add(qualifiedDataPath); None
        }
      }
    }

  def clear(): Unit = {
    catalog.clear()
    noSidecar.clear()
  }

  /** Distinct-value estimate of one registered key sketch (driver-side
    * theta heapify — microseconds, zero jobs). */
  def distinctEstimate(sk: Array[Byte]): Double =
    CompactSketch.heapify(Memory.wrap(sk)).getEstimate

  /** Stats for the single parquet scan under attribute-only Projects and
    * deterministic Filters of `p`, paired with the scan itself (whose
    * outputSet resolves predicate attributes to written column names).
    * None when the subtree is not a single-root scan or no stats are
    * registered or sidecar-loadable for its path.
    *
    * Filters make the whole-table sketches OVER-estimates of the
    * filtered subtree — callers must only consume the result where a
    * wrong estimate costs plan QUALITY (an order/branch choice among
    * semantically-equal alternatives), never correctness. */
  def statsUnder(p: LogicalPlan): Option[(LogicalRelation, TableStats)] = {
    def scan(q: LogicalPlan): Option[LogicalRelation] = q match {
      case Project(es, c) if es.forall(_.isInstanceOf[Attribute]) => scan(c)
      case Filter(cond, c) if cond.deterministic => scan(c)
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        Some(lr)
      case _ => None
    }
    for {
      lr <- scan(p)
      rel = lr.relation.asInstanceOf[HadoopFsRelation]
      path <- rel.location.rootPaths match {
        case Seq(single) => Some(qualify(rel.sparkSession, single.toString))
        case _ => None
      }
      st <- statsForOrLoad(rel.sparkSession, path)
    } yield (lr, st)
  }
}

/** Optimizer rule: reorder a 3+-dimension star-join chain most-selective
  * dim first, from PERSISTED write-time key sketches — the transparent
  * (rule-form) counterpart of [[graft.operators.JoinPlanner.starOrder]],
  * reachable only where its decision input already exists as state.
  *
  *   Join(Join(Join(fact, dN)…, d2), d1)   — written order
  *     => Project(original output order,
  *          Join(Join(Join(fact, dBest)…), dWorst))
  *
  * fires when (conf `spark.graft.starOrderFromStats`, default off; armed
  * by `GraftSession` — the opt-in is writing the table with sketchCols:
  * stats register at write time, load explicitly via
  * `ZoneMapTable.loadStarStats`, or LAZY-LOAD from the `_starstats`
  * sidecar on the rule's first registry miss for a table, so a fresh
  * session over a zone-mapped table reorders transparently):
  *
  *  - the plan is a left-deep chain of ≥3 INNER joins whose left spine
  *    bottoms out at the FACT subtree (attribute-only Projects and
  *    deterministic Filters allowed on the spine and above the fact
  *    scan), each join's condition a single `factCol = dimCol` equality
  *    whose fact side is an attribute OF THE FACT SCAN itself — the
  *    star shape; a snowflake link (a dim joining another dim's column)
  *    disqualifies, because reordering could hoist it above its
  *    prerequisite;
  *  - every dim subtree is a bare scan (plus attribute-only Projects) of
  *    a table with registered (or sidecar-loadable) sketches covering
  *    its join key — a FILTERED dim stands the chain down: the persisted
  *    whole-table sketch cannot see the filter, and a confidently-wrong
  *    selectivity is worse than written order;
  *  - the fact scan's sketches cover every fact-side join key.
  *
  * survival_i = est(|fact keys ∩ dim keys|) / est(|fact keys|), computed
  * by driver-side theta intersection over the registered bytes — exact
  * below 2^lgK distinct keys per side, ±0.8% RSE above (lgK 14), and
  * only the RANKING matters. Ties break on the dim's registered path so
  * the order is deterministic. Inner equi-joins commute, so the
  * reordered chain is multiset-identical to written order (the q78
  * equality law, re-pinned on the rule path by StarOrderRuleSpec); the
  * wrapping Project restores the original attribute order so parents
  * resolve unchanged. Idempotent under re-optimization: a chain already
  * in sketch order maps to itself.
  *
  * At 100 TB this is CBO fed by catalog statistics, built from the
  * engine's own manifests: a mis-ordered chain carries a 20x-too-large
  * intermediate through every later shuffle; the rule moves the most
  * selective dim first for any SQL/DataFrame author, and `explain()`
  * stays a driver-only operation (zero Spark jobs — spec-asserted). */
object StarOrderRule extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.starOrderFromStats"

  /** Minimum dims before reordering is worth a plan rewrite (1–2 dim
    * chains have at most one non-trivial order and AQE already handles
    * their build-side choice). */
  private val MinDims = 3

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(ConfKey, "false").toBoolean) return plan
    // no registry-emptiness fast path: stats lazy-load from the table's
    // own `_starstats` sidecar on first miss (negative-cached), so a
    // fresh session over a zone-mapped table reorders transparently
    plan.transformUp {
      case j @ Join(_, _, Inner, Some(_), _) =>
        reorder(j).getOrElse(j)
    }
  }

  /** One dim link of a flattened chain: the dim subtree, its join
    * condition, the survival estimate, and the registered path (the
    * deterministic tiebreak). */
  private case class DimLink(plan: LogicalPlan, cond: Expression,
                             survival: Double, path: String)

  private def stripAttrProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(exprs, child) if exprs.forall(_.isInstanceOf[Attribute]) =>
      stripAttrProjects(child)
    case other => other
  }

  /** A conjunction of bare IsNotNull(attr) predicates — what
    * InferFiltersFromConstraints plants on every inner-join child. These
    * don't perturb the selectivity estimate (theta sketches never see
    * nulls, and null keys never join), so a dim stays matchable under
    * them; any OTHER predicate on a dim stands the chain down. */
  private def isNotNullOnly(cond: Expression): Boolean = cond match {
    case And(l, r) => isNotNullOnly(l) && isNotNullOnly(r)
    case IsNotNull(_: Attribute) => true
    case _ => false
  }

  /** The single-root scan under attribute-only Projects and (dims)
    * inferred not-null filters, or (the fact side) ANY deterministic
    * Filters. */
  private def scanUnder(p: LogicalPlan,
                        throughFilters: Boolean): Option[LogicalRelation] =
    stripAttrProjects(p) match {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        Some(lr)
      case Filter(cond, child) if throughFilters && cond.deterministic =>
        scanUnder(child, throughFilters)
      case Filter(cond, child) if isNotNullOnly(cond) =>
        scanUnder(child, throughFilters)
      case _ => None
    }

  /** The scan's single root path, qualified via the SESSION THAT OWNS
    * THE RELATION (not `SparkSession.active`): in a JVM with multiple
    * sessions carrying divergent Hadoop confs, the active session's
    * `fs.defaultFS` could qualify the path differently from the
    * registration spelling and silently miss (or cross-match) entries. */
  private def rootPathOf(lr: LogicalRelation): Option[String] = {
    val rel = lr.relation.asInstanceOf[HadoopFsRelation]
    rel.location.rootPaths match {
      case Seq(single) =>
        Some(StarStatsRegistry.qualify(rel.sparkSession, single.toString))
      case _ => None
    }
  }

  private def sessionOf(lr: LogicalRelation): SparkSession =
    lr.relation.asInstanceOf[HadoopFsRelation].sparkSession

  private def estimate(sk: Array[Byte]): Double =
    StarStatsRegistry.distinctEstimate(sk)

  private[graft] def survivalOf(factSk: Array[Byte], dimSk: Array[Byte]): Double = {
    val denom = estimate(factSk)
    if (denom == 0.0) return 0.0
    val inter = SetOperation.builder().buildIntersection()
    inter.intersect(CompactSketch.heapify(Memory.wrap(factSk)))
    inter.intersect(CompactSketch.heapify(Memory.wrap(dimSk)))
    inter.getResult.getEstimate / denom
  }

  /** Flatten `j` into (fact plan, fact stats, dim links written
    * inner-to-outer); None when any structural gate fails (the
    * registered-dim and sketch-coverage gates run in [[reorder]]). */
  private def flatten(j: Join): Option[(LogicalPlan,
      StarStatsRegistry.TableStats,
      Seq[(LogicalPlan, Expression, Attribute, Attribute)])] = {
    def walk(p: LogicalPlan): Option[(LogicalPlan,
        Seq[(LogicalPlan, Expression)])] = stripAttrProjects(p) match {
      case inner @ Join(_, right, Inner, Some(cond), _) =>
        walk(inner.left).map { case (fact, dims) =>
          (fact, dims :+ (right, cond))
        }
      case leaf => Some((leaf, Seq.empty))
    }
    walk(j) match {
      case Some((factPlan, rawDims)) if rawDims.size >= MinDims =>
        for {
          factScan <- scanUnder(factPlan, throughFilters = true)
          factPath <- rootPathOf(factScan)
          factStats <- StarStatsRegistry.statsForOrLoad(
            sessionOf(factScan), factPath)
          links <- traverse(rawDims) { case (dimPlan, cond) =>
            splitEquality(cond, factScan, dimPlan).map {
              case (factAttr, dimAttr) => (dimPlan, cond, factAttr, dimAttr)
            }
          }
        } yield (factPlan, factStats, links)
      case _ => None
    }
  }

  /** The condition as one fact-scan-attribute = dim-attribute equality
    * (either written orientation), the fact side as the scan's own
    * attribute. */
  private def splitEquality(cond: Expression, factScan: LogicalRelation,
                            dim: LogicalPlan): Option[(Attribute, Attribute)] =
    cond match {
      case EqualTo(a: Attribute, b: Attribute) =>
        val dimOut = dim.outputSet
        scanAttr(factScan, a).filter(_ => dimOut.contains(b)).map(_ -> b)
          .orElse(scanAttr(factScan, b).filter(_ => dimOut.contains(a)).map(_ -> a))
      case _ => None
    }

  /** The scan's own attribute for `a`. A condition carries a column as
    * the query spelled it, which may differ in case from the scan's name
    * that the sketches are keyed by. */
  private def scanAttr(lr: LogicalRelation, a: Attribute): Option[Attribute] =
    lr.output.find(_.exprId == a.exprId)

  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] =
    xs.foldLeft(Option(Seq.empty[B])) { (acc, x) =>
      for (s <- acc; b <- f(x)) yield s :+ b
    }

  private def reorder(j: Join): Option[LogicalPlan] =
    flatten(j).flatMap { case (factPlan, factStats, rawLinks) =>
      val links = traverse(rawLinks) { case (dimPlan, cond, factAttr, dimAttr) =>
        for {
          lr <- scanUnder(dimPlan, throughFilters = false)
          path <- rootPathOf(lr)
          dimStats <- StarStatsRegistry.statsForOrLoad(sessionOf(lr), path)
          dimOwn <- scanAttr(lr, dimAttr)
          dimSk <- dimStats.keySketches.get(dimOwn.name)
          factSk <- factStats.keySketches.get(factAttr.name)
        } yield DimLink(dimPlan, cond, survivalOf(factSk, dimSk), path)
      }
      links.flatMap { ls =>
        val ordered = ls.sortBy(l => (l.survival, l.path))
        if (ordered.map(_.path) == ls.map(_.path)) None // already optimal
        else {
          val rebuilt = ordered.foldLeft(factPlan) { (acc, l) =>
            Join(acc, l.plan, Inner, Some(l.cond), JoinHint.NONE)
          }
          // restore the written chain's attribute order for parents
          Some(Project(j.output, rebuilt))
        }
      }
    }
}
