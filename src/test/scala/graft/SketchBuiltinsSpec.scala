package graft

import java.nio.file.Files
import scala.collection.mutable
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
import org.apache.datasketches.theta.UpdateSketch
import org.apache.spark.GraftTestSparkBridge
import org.apache.spark.sql.{DataFrame, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ZoneMapTable
import graft.plans.{GraftExtensions, StarOrderRule, StarStatsRegistry}

/** The engine's sketches are Spark's built-ins: no injected function
  * shadows one, sketch bytes persisted by the engine's earlier
  * hand-written aggregates stay readable (so stored state needs no
  * migration), and every sketch aggregate the declared queries run
  * holds few groups per hash map. */
class SketchBuiltinsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("no function GraftExtensions injects shadows a Spark built-in") {
    val injected = mutable.Buffer.empty[String]
    new GraftExtensions().apply(new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    })
    assert(injected.nonEmpty)
    val shadowing = injected.filter(n =>
      FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(shadowing.isEmpty,
      s"injected functions replace Spark built-ins: ${shadowing.mkString(", ")}")
  }

  private def builtinTheta(keys: DataFrame): Array[Byte] =
    keys.agg(theta_sketch_agg(col("k"))).head().getAs[Array[Byte]](0)

  test("driver-side theta readers read built-in theta_sketch_agg output") {
    val sk = builtinTheta((0L until 1000L).toDF("k"))
    // serial version 4: the compressed compact form
    assert(sk(1) === 4.toByte)
    assert(StarStatsRegistry.distinctEstimate(sk) === 1000.0)
    val half = builtinTheta((0L until 1000L by 2L).toDF("k"))
    assert(StarOrderRule.survivalOf(sk, half) === 0.5)
    // the zone-map append unions the stored and the delta sketch
    // driver-side: both built-in output
    val dir = Files.createTempDirectory("sketch_zm").toString + "/t"
    val rows = (0L until 600L).map(i => (i, i % 50L)).toDF("id", "g")
    ZoneMapTable.write(rows.where(col("id") < 400L), dir, "id", Seq("id"),
      files = 2, sketchCols = Seq("g", "id"))
    ZoneMapTable.append(rows.where(col("id") >= 300L), dir, "id", Seq("id"),
      files = 2)
    val stats = ZoneMapTable.starStats(spark, dir).get.collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        StarStatsRegistry.distinctEstimate(r.getAs[Array[Byte]](2)))).toMap
    assert(stats === Map("g" -> (700L, 50.0), "id" -> (700L, 600.0)))
  }

  test("a sketch written by datasketches update() intersects the built-in one in full") {
    // the engine's former aggregate: a default-seed theta union fed
    // update(long | String | double) (ints widened to long), compacted
    def legacy(update: UpdateSketch => Unit): Array[Byte] = {
      val u = UpdateSketch.builder().build()
      update(u)
      u.compact().toByteArray
    }
    val n = 1000
    val cases = Seq(
      "long" -> (legacy(u => (0 until n).foreach(i => u.update(i.toLong))),
        (0 until n).map(_.toLong).toDF("k")),
      "int" -> (legacy(u => (0 until n).foreach(i => u.update(i.toLong))),
        (0 until n).toDF("k")),
      "string" -> (legacy(u => (0 until n).foreach(i => u.update(s"u$i"))),
        (0 until n).map(i => s"u$i").toDF("k")),
      "double" -> (legacy(u => (0 until n).foreach(i => u.update(i * 0.5))),
        (0 until n).map(_ * 0.5).toDF("k")))
    cases.foreach { case (name, (old, keys)) =>
      val both = keys.agg(theta_sketch_agg(col("k")).as("sk"))
        .select(theta_sketch_estimate(theta_intersection(col("sk"), lit(old))))
        .head().getLong(0)
      assert(both === n.toLong, s"$name keys")
      assert(StarOrderRule.survivalOf(old, builtinTheta(keys)) === 1.0,
        s"$name keys, driver side")
    }
  }

  test("kll_merge_agg_double and kll_sketch_get_quantile_double read KllDoublesSketch bytes") {
    val old = KllDoublesSketch.newHeapInstance(200)
    (1 to 1000).foreach(i => old.update(i.toDouble))
    val bytes = old.toByteArray
    val direct = Seq(Tuple1(bytes)).toDF("sk")
      .select(kll_sketch_get_quantile_double(col("sk"), lit(0.5)))
      .head().getDouble(0)
    assert(direct === old.getQuantile(0.5, QuantileSearchCriteria.INCLUSIVE))
    val merged = Seq(Tuple1(bytes)).toDF("sk")
      .agg(kll_merge_agg_double(col("sk"), 200).as("sk"))
      .select(kll_sketch_get_n_double(col("sk")),
        kll_sketch_get_quantile_double(col("sk"), lit(0.5)))
      .head()
    assert(merged.getLong(0) === 1000L)
    // n = 1000 > k: compacted, so the merged answer holds the rank budget
    assert(math.abs(merged.getDouble(1) - 500.0) <= 35.0)
  }

  private def sketchAgg(f: AggregateFunction): Boolean = f match {
    case _: ThetaSketchAgg | _: ThetaUnionAgg | _: KllSketchAggDouble |
         _: KllMergeAggDouble | _: ApproxTopKAccumulate | _: ApproxTopKCombine |
         _: HllSketchAgg | _: HllUnionAgg => true
    case _ => false
  }

  test("every sketch aggregate of the declared queries holds at most 1,024 groups at sf0.01") {
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold=65536
    // lets one task's hash map reach 64k groups before sorting; sketch
    // buffers run to hundreds of KB each, so the setting is safe only
    // while sketch aggregates group by low-cardinality keys (orders
    // alone has 15,000 keys at sf0.01). The partial aggregates' summed
    // output bounds every task's group count.
    val queries = Seq("q49_hll_incremental", "q51_theta_segments",
      "q52_kll_latency", "q53_drift_detection", "q54_theta_retention",
      "q55_rolling_actives", "q56_freq_topk", "q57_rolling_p95",
      "q58_join_estimate", "q61_planned_join", "q71_mv_sketch",
      "q75_mv_kll", "q78_star_order", "q79_skew_join")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val helper = new AdaptiveSparkPlanHelper {}
    // the MV queries (q71, q75) run on their routing-armed child session
    val sessions = Seq(spark, graft.queries.EventsQueries.mvSession(spark))
    val sizes = queries.map { name =>
      sessions.foreach(_.listenerManager.register(listener))
      try SparkEntry.all(name).fn(spark, sf001).collect()
      finally {
        GraftTestSparkBridge.waitListenerBusEmpty(spark.sparkContext)
        sessions.foreach(_.listenerManager.unregister(listener))
      }
      val groups = plans.toArray(Array.empty[QueryExecution]).toSeq.flatMap(qe =>
        helper.collectWithSubqueries(qe.executedPlan) {
          case a: ObjectHashAggregateExec
              if a.aggregateExpressions.exists(e => sketchAgg(e.aggregateFunction)) =>
            a.metrics("numOutputRows").value
        })
      plans.clear()
      name -> groups
    }
    val none = sizes.collect { case (n, g) if g.isEmpty => n }
    assert(none.isEmpty, s"no sketch aggregate ran in: ${none.mkString(", ")}")
    val big = sizes.collect { case (n, g) if g.max > 1024L => s"$n: ${g.max}" }
    assert(big.isEmpty, s"sketch aggregates over 1,024 groups: ${big.mkString(", ")}")
  }
}
