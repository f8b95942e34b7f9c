package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Sketches.{kllQuantile, kllRank}

/** Laws for the KLL quantile sketches (Spark's kll_sketch_*_double
  * built-ins, read through Sketches.kllQuantile/kllRank): exact
  * order statistics below k, the rank-error budget past it (including
  * through the merge face — the property that makes per-shard sketch
  * tables roll up correctly), the rank/quantile inverse relation, and
  * type/null/empty handling. Budgets are 2× the a-priori k=200 bound
  * because compaction is randomized — see the module scaladoc. */
class KllSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def one(df: org.apache.spark.sql.DataFrame): Double =
    df.collect()(0).getDouble(0)

  test("below k nothing compacts: quantiles are exact order statistics") {
    val df = (1 to 100).map(i => ("g", i.toDouble)).toDF("g", "v")
    val sk = df.groupBy("g").agg(kll_sketch_agg_double(col("v")).as("sk"))
    assert(one(sk.select(kllQuantile(col("sk"), lit(0.5)).as("q"))) === 50.0)
    assert(one(sk.select(kllQuantile(col("sk"), lit(0.95)).as("q"))) === 95.0)
    assert(one(sk.select(kllQuantile(col("sk"), lit(1.0)).as("q"))) === 100.0)
    assert(one(sk.select(kllRank(col("sk"), lit(50.0)).as("r"))) === 0.5)
  }

  test("trailing-window merge of per-day sketches is exact below k (q57 law)") {
    // day d holds values d*100 + (1..20); trailing-3-day windows stay
    // under k=200, so the merged quantile must be the exact order
    // statistic of the window rows — pinning the q57 composition shape
    // (calendar-bounded broadcast join + kll_merge_agg_double)
    val rows = for (d <- 0 to 9; i <- 1 to 20) yield (d.toLong, d * 100.0 + i)
    val df = rows.toDF("day", "v")
    val daily = df.groupBy("day").agg(kll_sketch_agg_double(col("v")).as("sk"))
    val w = daily.select(col("day").as("day_w"), col("sk").as("skw"))
    val got = daily.select(col("day"))
      .join(broadcast(w),
        col("day_w") >= col("day") - 2 && col("day_w") <= col("day"))
      .groupBy("day")
      .agg(kllQuantile(kll_merge_agg_double(col("skw"), 200), lit(0.5))
        .as("p50"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0L to 9L).foreach { d =>
      val win = rows.filter { case (rd, _) => rd >= d - 2 && rd <= d }
        .map(_._2).sorted
      // inclusive-rank median: smallest value whose rank reaches 0.5
      val want = win(math.ceil(win.size * 0.5).toInt - 1)
      assert(got(d) === want, s"window ending day $d")
    }
  }

  test("estimation mode: direct and merged builds both hold the rank budget") {
    // 50k values, uniform 0..9999 with duplicates, 8 slices
    val df = (0 until 50000).map(i => ("g", (i % 10000).toDouble, i % 8))
      .toDF("g", "v", "slice")
    def checkRank(sk: org.apache.spark.sql.DataFrame): Unit =
      for (q <- Seq(0.1, 0.5, 0.9, 0.99)) {
        val qv = one(sk.select(kllQuantile(col("sk"), lit(q)).as("x")))
        // exact inclusive rank of the sketch's answer, from the rows
        val exact = df.where(col("v") <= qv).count().toDouble / 50000
        assert(math.abs(exact - q) <= 0.035,
          s"quantile $q answered $qv with true rank $exact")
      }
    checkRank(df.groupBy("g").agg(kll_sketch_agg_double(col("v")).as("sk")))
    checkRank(df.groupBy("g", "slice")
      .agg(kll_sketch_agg_double(col("v")).as("sk"))
      .groupBy("g").agg(kll_merge_agg_double(col("sk"), 200).as("sk")))
  }

  test("rank and quantile are inverse up to the error bound") {
    val df = (0 until 30000).map(i => ("g", (i * 7 % 30011).toDouble))
      .toDF("g", "v")
    val sk = df.groupBy("g").agg(kll_sketch_agg_double(col("v")).as("sk"))
    for (q <- Seq(0.25, 0.75)) {
      val qv = one(sk.select(kllQuantile(col("sk"), lit(q)).as("x")))
      val r = one(sk.select(kllRank(col("sk"), lit(qv)).as("r")))
      assert(math.abs(r - q) <= 0.035, s"rank(quantile($q)) = $r")
    }
  }

  test("nulls ignored, integer inputs accepted, empty sketch reads null") {
    val df = Seq(("g", Some(1L)), ("g", None), ("g", Some(3L)))
      .toDF("g", "v")
    // the built-in takes FLOAT/DOUBLE only: integer columns are cast
    val sk = df.groupBy("g")
      .agg(kll_sketch_agg_double(col("v").cast("double")).as("sk"))
    assert(one(sk.select(kllQuantile(col("sk"), lit(1.0)).as("q"))) === 3.0)
    val empty = df.where(col("v").isNull && col("v").isNotNull)
      .groupBy("g").agg(kll_sketch_agg_double(col("v").cast("double")).as("sk"))
    assert(empty.count() === 0) // no groups at all — nothing to read
    val allNull = df.where(col("v").isNull)
      .groupBy("g").agg(kll_sketch_agg_double(col("v").cast("double")).as("sk"))
      .select(kllQuantile(col("sk"), lit(0.5)).as("q"))
    assert(allNull.collect()(0).isNullAt(0),
      "quantile of an empty sketch must be null")
  }

  test("drift statistic fires on a shifted cohort and not on an A/A split") {
    // q53's statistic, sensitivity side: the registry gate can only
    // prove the no-drift verdict on same-source cohorts; here a truly
    // shifted cohort must cross the same threshold
    def maxGap(a: Seq[Double], b: Seq[Double]): Double = {
      val df = (a.map(("x", _, true)) ++ b.map(("x", _, false)))
        .toDF("g", "v", "ca")
      val sk = df.groupBy("g").agg(
        kll_sketch_agg_double(when(col("ca"), col("v"))).as("ska"),
        kll_sketch_agg_double(when(!col("ca"), col("v"))).as("skb"))
      val gap = (1 to 9).map { d =>
        val q = d / 10.0
        abs(kllRank(col("skb"), kllQuantile(col("ska"), lit(q))) - lit(q))
      }.reduce(greatest(_, _))
      one(sk.select(gap.as("gap")))
    }
    val base = (0 until 4000).map(i => (i % 1000) * 10.0)
    val tol = 0.035 + 1.95 * math.sqrt(2.0 / 4000)
    assert(maxGap(base, base.map(_ + 0.5)) <= tol,
      "near-identical cohorts must read as no-drift")
    assert(maxGap(base, base.map(_ + 3000.0)) > tol,
      "a 30%-shifted cohort must be flagged as drift")
  }

  test("SQL surface: injected kll functions match the Column API") {
    (1 to 1000).map(i => ("g", i.toDouble)).toDF("g", "v")
      .createOrReplaceTempView("kll_t")
    val got = spark.sql(
      """SELECT kll_sketch_get_quantile_double(kll_sketch_agg_double(v), 0.5d)
        |         AS p50,
        |       kll_sketch_get_rank_double(kll_sketch_agg_double(v, 400), 250.0d)
        |         AS r
        |FROM kll_t""".stripMargin).collect()(0)
    // n=1000 > k: compacted, so budget-checked (values are uniform, so
    // value error ≈ rank error × n)
    assert(math.abs(got.getDouble(0) - 500.0) <= 35.0)
    assert(math.abs(got.getDouble(1) - 0.25) <= 0.035)
  }

  test("a group with no cohort-A rows reads a null p50, not an error") {
    // q53's cohort sketches: a type whose rows all fall in cohort B
    // sketches cohort A empty, and the reads must answer null (Spark's
    // own readers throw KLL_INVALID_INPUT_SKETCH_BUFFER on an empty sketch)
    val df = Seq(("x", 1.0, true), ("x", 2.0, false), ("y", 3.0, false),
      ("y", 4.0, false)).toDF("g", "v", "ca")
    val got = df.groupBy("g").agg(
        kll_sketch_agg_double(when(col("ca"), col("v"))).as("ska"),
        kll_sketch_agg_double(when(!col("ca"), col("v"))).as("skb"))
      .select(col("g"), kllQuantile(col("ska"), lit(0.5)).as("p50"),
        kllRank(col("skb"), kllQuantile(col("ska"), lit(0.5))).as("r"),
        kllRank(col("ska"), lit(2.0)).as("r_empty"))
      .orderBy("g").collect()
    assert(got(0).getDouble(1) === 1.0)
    assert(got(0).getDouble(2) === 0.0)
    assert(got(1).isNullAt(1), "p50 of an empty cohort must be null")
    assert(got(1).isNullAt(2), "rank at a null quantile must be null")
    assert(got(1).isNullAt(3), "rank in an empty sketch must be null")
  }
}
