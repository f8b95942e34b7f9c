package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Pins the engine's skew posture in the suite (the wall-clock side was
  * measured with the skew bench of commit 7f5eaff): with broadcast
  * disabled and AQE skew thresholds scaled to fixture size, Spark must
  * actually SPLIT the hot partition of a skewed sort-merge join —
  * `isSkew` reads the final adaptive plan. */
class SkewSpec extends AnyFunSuite {
  import TestSpark._

  test("AQE splits the hot partition of a skewed shuffle join") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      // 95% of left rows carry one hot key
      val left = spark.range(400000).select(col("id"),
        when(col("id") % 20 =!= 0, lit(0L)).otherwise(col("id")).as("k"))
      val right = spark.range(50000).select(col("id").as("k"),
        (col("id") * 7).as("payload"))
      val joined = left.join(right, "k")
      // collect() finalizes THIS Dataset's adaptive plan (count() would
      // build a separate QueryExecution and leave this one un-executed)
      // 380000 hot-key rows + the 2500 spread keys that fall below 50000
      assert(joined.collect().length === 382500)
      val adaptive = joined.queryExecution.executedPlan.collectFirst {
        case a: AdaptiveSparkPlanExec => a
      }.getOrElse(fail("expected an adaptive plan"))
      val planStr = adaptive.executedPlan.toString
      val skewHandled = planStr.contains("skew=true") || planStr.contains("Skewed")
      assert(skewHandled,
        s"AQE did not mark the skewed join:\n${planStr.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
