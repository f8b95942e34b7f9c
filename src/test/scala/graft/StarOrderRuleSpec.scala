package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.operators.ZoneMapTable
import graft.plans.{StarOrderRule, StarStatsRegistry}

/** The stats-fed star-ordering rule: persisted write-time sketches are
  * READ (never computed) at plan time, the worst-written 3-dim chain
  * comes out most-selective-first, output stays multiset-identical to
  * written order (the q78 equality law on the RULE path), explain() is
  * a driver-only operation (zero Spark jobs — the no-plan-time-work law
  * SURVEY §4 sets for optimizer rules), and every structural gate
  * (filtered dim, missing sketch, short chain, conf off) stands the
  * rewrite down. */
class StarOrderRuleSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val stage: String = {
    val p = "target/star_stage/rule_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val lk = Lake(spark, sf0001)
    ZoneMapTable.write(
      lk.lineitem.select(col("l_orderkey"), col("l_partkey"),
        col("l_suppkey"), col("l_extendedprice")),
      s"$p/fact", clusterCol = "l_orderkey", statsCols = Seq("l_orderkey"),
      files = 2, sketchCols = Seq("l_orderkey", "l_partkey", "l_suppkey"))
    ZoneMapTable.write(
      lk.supplier.select(col("s_suppkey"), col("s_nationkey")),
      s"$p/dim_supplier", "s_suppkey", Seq("s_suppkey"), 1,
      sketchCols = Seq("s_suppkey"))
    ZoneMapTable.write(
      lk.orders.where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey")),
      s"$p/dim_orders", "o_orderkey", Seq("o_orderkey"), 1,
      sketchCols = Seq("o_orderkey"))
    ZoneMapTable.write(
      lk.part.where(col("p_brand") === "Brand#11").select(col("p_partkey")),
      s"$p/dim_part", "p_partkey", Seq("p_partkey"), 1,
      sketchCols = Seq("p_partkey"))
    p
  }

  private def scan(s: SparkSession, name: String): DataFrame =
    s.read.parquet(s"$stage/$name/data")

  /** The adversarial WRITTEN order: least selective dim first. */
  private def worstChain(s: SparkSession): DataFrame =
    scan(s, "fact")
      .join(scan(s, "dim_supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(scan(s, "dim_orders"), col("l_orderkey") === col("o_orderkey"))
      .join(scan(s, "dim_part"), col("l_partkey") === col("p_partkey"))

  /** Dim names (by scan root path) of a plan's left-deep join chain,
    * inner-to-outer. */
  private def joinOrder(plan: LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(es, c) if es.forall(_.isInstanceOf[Attribute]) => strip(c)
      case other => other
    }
    // naming (unlike the rule's matcher) descends through ANY filter —
    // the reader just labels what the dim bottoms out at
    def nameOf(p: LogicalPlan): String =
      strip(p) match {
        case lr: LogicalRelation =>
          val root = lr.relation.asInstanceOf[HadoopFsRelation]
            .location.rootPaths.head.toString
          root.split('/').takeRight(2).head // .../<table>/data
        case Filter(_, c) => nameOf(c)
        case other => other.nodeName
      }
    strip(plan) match {
      case j: Join => joinOrder(j.left) :+ nameOf(j.right)
      case Filter(_, c) => joinOrder(c)
      case _ => Seq.empty
    }
  }

  test("worst-written 3-dim chain reorders most-selective-first from persisted sketches") {
    stage
    val df = worstChain(spark)
    val order = joinOrder(df.queryExecution.optimizedPlan)
    assert(order === Seq("dim_part", "dim_orders", "dim_supplier"),
      s"got $order")
  }

  test("an uppercased predicate still finds the scans' sketches") {
    stage
    // the condition spells each key as written; the sketches are keyed by
    // the scans' own column names
    val df = scan(spark, "fact")
      .join(scan(spark, "dim_supplier"), col("L_SUPPKEY") === col("S_SUPPKEY"))
      .join(scan(spark, "dim_orders"), col("L_ORDERKEY") === col("O_ORDERKEY"))
      .join(scan(spark, "dim_part"), col("L_PARTKEY") === col("P_PARTKEY"))
    val order = joinOrder(df.queryExecution.optimizedPlan)
    assert(order === Seq("dim_part", "dim_orders", "dim_supplier"), s"got $order")
  }

  test("equality law on the rule path: reordered output is multiset-identical to rule-off") {
    stage
    val off = spark.newSession()
    off.conf.set(StarOrderRule.ConfKey, "false")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val want = rows(worstChain(off))
    assert(joinOrder(worstChain(off).queryExecution.optimizedPlan) ===
      Seq("dim_supplier", "dim_orders", "dim_part"),
      "rule-off baseline must keep written order")
    val got = rows(worstChain(spark))
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("explain of the reordered chain launches ZERO Spark jobs (stats are read, not computed)") {
    stage
    // scans built (file listing / schema inference may run jobs — that
    // cost belongs to DataFrame construction, not to the rule)
    val df = worstChain(spark)
    val tracker = spark.sparkContext.statusTracker
    def jobs() = tracker.getJobIdsForGroup(null).length
    def drain(): Unit = org.apache.spark.GraftTestSparkBridge
      .waitListenerBusEmpty(spark.sparkContext)
    // the status store is ASYNC: drain construction-time events before
    // snapshotting, or a lagging listing job lands inside the window
    drain()
    val before = jobs()
    val order = joinOrder(df.queryExecution.optimizedPlan) // the window under test
    assert(order.head === "dim_part", "the rule must actually fire in the window")
    // any job launched during optimization completed synchronously, so
    // after a drain its events are visible
    drain()
    assert(jobs() === before,
      "optimizing the chain must not launch any Spark job")
  }

  test("stand-downs: filtered dim, short chain, conf off, unregistered scan") {
    stage
    val written = Seq("dim_supplier", "dim_orders", "dim_part")
    // a FILTERED dim: the persisted whole-table sketch can't see the
    // filter — the chain stands down whole
    val filtered = scan(spark, "fact")
      .join(scan(spark, "dim_supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(scan(spark, "dim_orders").where(col("o_orderkey") > 100),
        col("l_orderkey") === col("o_orderkey"))
      .join(scan(spark, "dim_part"), col("l_partkey") === col("p_partkey"))
    assert(joinOrder(filtered.queryExecution.optimizedPlan) === written)
    // 2-dim chain: below MinDims
    val short = scan(spark, "fact")
      .join(scan(spark, "dim_supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(scan(spark, "dim_orders"), col("l_orderkey") === col("o_orderkey"))
    assert(joinOrder(short.queryExecution.optimizedPlan) ===
      Seq("dim_supplier", "dim_orders"))
    // conf off
    val off = spark.newSession()
    off.conf.set(StarOrderRule.ConfKey, "false")
    assert(joinOrder(worstChain(off).queryExecution.optimizedPlan) === written)
    // an UNREGISTERED dim (plain parquet, no star stats) stands down
    val plainDim = Lake(spark, sf0001).part
      .where(col("p_brand") === "Brand#11").select(col("p_partkey"))
    val mixed = scan(spark, "fact")
      .join(scan(spark, "dim_supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(scan(spark, "dim_orders"), col("l_orderkey") === col("o_orderkey"))
      .join(plainDim, col("l_partkey") === col("p_partkey"))
    val mixedOrder = joinOrder(mixed.queryExecution.optimizedPlan)
    assert(mixedOrder.take(2) === Seq("dim_supplier", "dim_orders"),
      s"got $mixedOrder")
  }

  test("fresh-session transparency: cleared registry lazy-loads the persisted sidecar, zero jobs") {
    stage
    val saved = StarStatsRegistry.registered
    try {
      StarStatsRegistry.clear()
      // a NEW session over the existing zone-mapped tables, no
      // loadStarStats call anywhere — the rule's registry-miss path must
      // read the `_starstats` sidecars itself (driver-side parquet
      // record reader) and still launch zero Spark jobs in the window
      val child = spark.newSession()
      child.conf.set(StarOrderRule.ConfKey, "true")
      val df = worstChain(child)
      val tracker = spark.sparkContext.statusTracker
      def jobs() = tracker.getJobIdsForGroup(null).length
      def drain(): Unit = org.apache.spark.GraftTestSparkBridge
        .waitListenerBusEmpty(spark.sparkContext)
      drain()
      val before = jobs()
      val order = joinOrder(df.queryExecution.optimizedPlan)
      drain()
      assert(order === Seq("dim_part", "dim_orders", "dim_supplier"),
        s"lazy-loaded sidecars must fire the reorder, got $order")
      assert(jobs() === before,
        "the sidecar lazy load must not launch any Spark job")
      // the load is CACHED in the registry (one FS probe per path)
      assert(StarStatsRegistry.registered.size >= 4)
      // explicit loadStarStats remains the force-refresh form
      assert(ZoneMapTable.loadStarStats(spark, s"$stage/fact"))
    } finally {
      StarStatsRegistry.clear()
      saved.foreach { case (p, s) => StarStatsRegistry.register(p, s) }
    }
  }

  test("append maintains the persisted sketches: union + exact row-count add") {
    stage
    val lk = Lake(spark, sf0001)
    val p = "target/star_stage/append_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val half1 = lk.orders.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"))
    val half2 = lk.orders.where(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"))
    ZoneMapTable.write(half1, p, "o_orderkey", Seq("o_orderkey"), 1,
      sketchCols = Seq("o_orderkey"))
    val n1 = StarStatsRegistry.statsFor(
      StarStatsRegistry.qualify(spark, s"$p/data")).get.nRows
    assert(n1 === half1.count())
    ZoneMapTable.append(half2, p, "o_orderkey", Seq("o_orderkey"), 1)
    val after = StarStatsRegistry.statsFor(
      StarStatsRegistry.qualify(spark, s"$p/data")).get
    assert(after.nRows === lk.orders.count())
    // the unioned sketch estimates the FULL key set (exact below 2^lgK)
    val est = org.apache.datasketches.theta.CompactSketch.heapify(
      org.apache.datasketches.memory.Memory.wrap(
        after.keySketches("o_orderkey"))).getEstimate
    val distinct = lk.orders.select("o_orderkey").distinct().count()
    assert(math.abs(est - distinct) / distinct < 0.02,
      s"est $est vs $distinct")
    // and the persisted sidecar round-trips through loadStarStats
    assert(ZoneMapTable.loadStarStats(spark, p))
  }
}
