package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Laws for the theta sketch family (Spark's theta_* built-ins): the
  * exactness contract below the nominal-entries threshold, set-algebra
  * identities, the rollup/merge face, estimation-mode error bounds, and
  * type handling. */
class ThetaSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def one(df: org.apache.spark.sql.DataFrame): Long =
    df.collect()(0).getLong(0)

  test("exact mode: estimate equals the true distinct count per group") {
    val ev = Lake(spark, sf0001).events
    val got = ev.groupBy("event_type")
      .agg(theta_sketch_estimate(theta_sketch_agg(col("user_id"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = ev.groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("set algebra is exact on known overlapping sets") {
    // A = {0..99}, B = {50..179}: |A|=100, |B|=130, |A∩B|=50, |A\B|=50
    val df = ((0L until 100L).map(("a", _)) ++ (50L until 180L).map(("b", _)))
      .toDF("g", "v")
    val sk = df.groupBy("g").agg(theta_sketch_agg(col("v")).as("sk"))
    val a = sk.where(col("g") === "a").select(col("sk").as("ska"))
    val b = sk.where(col("g") === "b").select(col("sk").as("skb"))
    val pair = a.crossJoin(b)
    assert(one(pair.select(theta_sketch_estimate(col("ska")).as("v"))) === 100L)
    assert(one(pair.select(
      theta_sketch_estimate(theta_intersection(col("ska"), col("skb"))).as("v"))) === 50L)
    assert(one(pair.select(
      theta_sketch_estimate(theta_difference(col("ska"), col("skb"))).as("v"))) === 50L)
    assert(one(pair.select(
      theta_sketch_estimate(theta_difference(col("skb"), col("ska"))).as("v"))) === 80L)
    // disjoint intersection estimates 0
    val c = ((10000L to 10009L).map(("c", _))).toDF("g", "v")
      .groupBy("g").agg(theta_sketch_agg(col("v")).as("skc"))
      .select(col("skc"))
    assert(one(a.crossJoin(c).select(
      theta_sketch_estimate(theta_intersection(col("ska"), col("skc"))).as("v"))) === 0L)
  }

  test("union rollup of partials equals a direct sketch (exact mode)") {
    val df = (0 until 5000).map(i => ((i % 7).toString, (i % 3000).toLong, i % 4))
      .toDF("g", "v", "slice")
    val direct = df.groupBy("g")
      .agg(theta_sketch_estimate(theta_sketch_agg(col("v"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaPartials = df.groupBy("g", "slice")
      .agg(theta_sketch_agg(col("v")).as("sk"))
      .groupBy("g").agg(theta_sketch_estimate(theta_union_agg(col("sk"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaPartials === direct)
  }

  test("estimation mode: 100k distincts within the 1/sqrt(2^12) budget") {
    val big = (0 until 100000).map(i => ("big", i.toLong)).toDF("g", "v")
    val est = one(big.groupBy("g")
      .agg(theta_sketch_estimate(theta_sketch_agg(col("v"))).as("est"))
      .select(col("est")))
    assert(math.abs(est - 100000.0) <= 100000.0 * 0.05,
      s"estimation-mode estimate $est strayed >5% from 100000")
    // intersection of two large half-overlapping sets stays in budget
    // (wider budget: intersection error compounds both operands')
    val ab = ((0L until 100000L).map(("a", _)) ++
      (50000L until 150000L).map(("b", _))).toDF("g", "v")
    val sk2 = ab.groupBy("g").agg(theta_sketch_agg(col("v")).as("sk"))
    val both = one(sk2.where(col("g") === "a").select(col("sk").as("ska"))
      .crossJoin(sk2.where(col("g") === "b").select(col("sk").as("skb")))
      .select(theta_sketch_estimate(theta_intersection(col("ska"), col("skb"))).as("v")))
    assert(math.abs(both - 50000.0) <= 50000.0 * 0.15,
      s"intersection estimate $both strayed >15% from 50000")
  }

  test("SQL surface: the injected theta functions match the Column API") {
    Lake(spark, sf0001).events.createOrReplaceTempView("theta_ev")
    val got = spark.sql(
      """SELECT s.event_type,
        |  theta_sketch_estimate(s.sk) AS n,
        |  theta_sketch_estimate(theta_intersection(s.sk, s.sk)) AS n_self,
        |  theta_sketch_estimate(theta_difference(s.sk, s.sk)) AS n_none
        |FROM (SELECT event_type, theta_sketch_agg(user_id) AS sk
        |      FROM theta_ev GROUP BY event_type) s
        |ORDER BY s.event_type""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = Lake(spark, sf0001).events.groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("n")).orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.map(g => (g._1, g._2)).toSeq === want.toSeq)
    got.foreach { g =>
      assert(g._3 === g._2, "A∩A must be A (exact mode)")
      assert(g._4 === 0L, "A\\A must be empty")
    }
    // explicit lgK argument parses and still answers exactly here
    assert(spark.sql(
      """SELECT theta_sketch_estimate(theta_sketch_agg(user_id, 10)) AS n
        |FROM theta_ev""".stripMargin).collect()(0).getLong(0) ===
      Lake(spark, sf0001).events.select(count_distinct(col("user_id")))
        .collect()(0).getLong(0))
  }

  test("retention matrix from sketches equals the exact intersect (q54 law)") {
    // Known activity grid: user u is active on day d iff d % (u+1) == 0.
    // Small enough to recompute exactly in-test, irregular enough that
    // every (day, offset) cell differs.
    val activity = for {
      u <- 0L until 40L
      d <- 0L until 10L
      if d % (u + 1) == 0
    } yield (d, u)
    val df = activity.toDF("day", "user_id")
    import org.apache.spark.sql.functions.broadcast
    val daily = df.groupBy("day").agg(theta_sketch_agg(col("user_id")).as("sk"))
    val a = daily.select(col("day").as("day_0"), col("sk").as("ska"))
    val b = daily.select(col("day").as("day_k"), col("sk").as("skb"))
    val got = a.join(broadcast(b),
        col("day_k") - col("day_0") >= 1 && col("day_k") - col("day_0") <= 3)
      .select(col("day_0"), (col("day_k") - col("day_0")).as("off"),
        theta_sketch_estimate(theta_intersection(col("ska"), col("skb"))).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val byDay = activity.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = (for {
      d0 <- 0L until 10L; k <- 1L to 3L; if d0 + k < 10L
    } yield (d0, k) -> (byDay(d0) & byDay(d0 + k)).size.toLong).toMap
    assert(got === want)
  }

  test("rolling DAU/WAU from sketch unions equals the exact window (q55 law)") {
    // Same activity grid as the q54 law; trailing-3-day windows, clipped
    // at history start. Also pins that theta_union_agg skips the nulls a
    // when() without otherwise produces (the q55 single-pass DAU trick).
    val activity = for {
      u <- 0L until 40L
      d <- 0L until 10L
      if d % (u + 1) == 0
    } yield (d, u)
    val df = activity.toDF("day", "user_id")
    import org.apache.spark.sql.functions.broadcast
    val daily = df.groupBy("day").agg(theta_sketch_agg(col("user_id")).as("sk"))
    val w = daily.select(col("day").as("day_w"), col("sk").as("skw"))
    val got = daily.select(col("day"))
      .join(broadcast(w),
        col("day_w") >= col("day") - 2 && col("day_w") <= col("day"))
      .groupBy("day")
      .agg(
        theta_sketch_estimate(theta_union_agg(
          when(col("day_w") === col("day"), col("skw")))).as("dau"),
        theta_sketch_estimate(theta_union_agg(col("skw"))).as("wau"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val byDay = activity.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = (0L until 10L).map { d =>
      val win = (math.max(0L, d - 2) to d).flatMap(byDay.getOrElse(_, Set.empty)).toSet
      d -> (byDay(d).size.toLong, win.size.toLong)
    }.toMap
    assert(got === want)
  }

  test("nulls are ignored; string keys sketch like longs count them") {
    val df = Seq(("g", Some(1L)), ("g", None), ("g", Some(2L)), ("g", Some(1L)))
      .toDF("g", "v")
    assert(one(df.groupBy("g")
      .agg(theta_sketch_estimate(theta_sketch_agg(col("v"))).as("est"))
      .select(col("est"))) === 2L)
    val sdf = Seq(("g", "x"), ("g", "y"), ("g", "x"), ("g", "z"))
      .toDF("g", "s")
    assert(one(sdf.groupBy("g")
      .agg(theta_sketch_estimate(theta_sketch_agg(col("s"))).as("est"))
      .select(col("est"))) === 3L)
  }
}
