package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.OrEquiJoinRule

/** The injected optimizer rule: naive OR-left-joins rewritten plan-wide
  * when spark.graft.rewriteOrJoin=true. */
class OrEquiJoinRuleSpec extends AnyFunSuite {
  import TestSpark._

  private def naiveOrJoin() = {
    val lk = Lake(spark, sf0001)
    lk.customer.join(lk.supplier,
      col("c_nationkey") === col("s_nationkey") || col("c_name") === col("s_name"),
      "left")
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
  }

  private object AdaptivePlans
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  private def withRule[T](on: Boolean)(f: => T): T = {
    // GraftSession arms the rule by default; restore the prior value,
    // not unset (unset would drop to the conf's hard default, false,
    // silently disarming the shared session for later suites)
    val prev = spark.conf.getOption(OrEquiJoinRule.ConfKey)
    spark.conf.set(OrEquiJoinRule.ConfKey, on.toString)
    try f finally prev match {
      case Some(v) => spark.conf.set(OrEquiJoinRule.ConfKey, v)
      case None    => spark.conf.unset(OrEquiJoinRule.ConfKey)
    }
  }

  test("GraftSession default: the rule is ARMED (round-16 decision)") {
    assert(spark.conf.get(OrEquiJoinRule.ConfKey) === "true")
    // and the session default therefore rewrites a naive OR join
    val plan = naiveOrJoin().queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("rule disarmed: naive OR join plans a nested-loop join") {
    withRule(on = false) {
      val plan = naiveOrJoin().queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin"))
    }
  }

  test("rule on: same DataFrame code plans hash joins only") {
    withRule(on = true) {
      val plan = naiveOrJoin().queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"))
    }
  }

  test("rule on: results are multiset-identical to the nested-loop plan") {
    val expected = withRule(on = false) { canon(naiveOrJoin()) }
    val got = withRule(on = true) { canon(naiveOrJoin()) }
    assert(got === expected)
  }

  test("rule on: SQL-text OR join is rewritten too") {
    withRule(on = true) {
      Lake(spark, sf0001).registerViews()
      val df = spark.sql(
        """SELECT c_custkey, s_suppkey FROM customer LEFT JOIN supplier
          |ON c_nationkey = s_nationkey OR c_name = s_name""".stripMargin)
      assert(!df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
      assert(df.count() > 0)
    }
  }

  // ---- Aggregate-over-OR-join: the q81 eager-aggregation plan, reached
  // automatically by the rule.

  private def naiveAgg() = naiveOrJoin()
    .groupBy("c_custkey")
    .agg(count(col("s_suppkey")).as("n_match"),
      min(col("s_name")).as("first_sup"),
      max(col("s_name")).as("last_sup"),
      sum(col("s_acctbal")).as("bal"))

  test("agg rule: results are identical to the nested-loop agg plan") {
    val expected = withRule(on = false) { canon(naiveAgg()) }
    val got = withRule(on = true) { canon(naiveAgg()) }
    assert(got === expected)
  }

  test("agg rule: no pair-materializing join remains — no BNLJ, no Union") {
    withRule(on = true) {
      val plan = naiveAgg().queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      // the eager plan is probed by its own __orj_ aliases (since the
      // round-20 union merge BOTH forms contain a Union; the bare-join
      // rewrite carries no __orj_ aliases, so the alias alone separates)
      assert(plan.contains("__orj_"), plan)
    }
  }

  test("agg rule: SQL-text agg-over-OR-join is rewritten too") {
    withRule(on = true) {
      Lake(spark, sf0001).registerViews()
      val df = spark.sql(
        """SELECT c_custkey, COUNT(s_suppkey) AS n_match, MIN(s_name) AS first_sup
          |FROM customer LEFT JOIN supplier
          |  ON c_nationkey = s_nationkey OR c_name = s_name
          |GROUP BY c_custkey""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("__orj_"), plan)
      val expected = withRule(on = false) { canon(naiveAgg().select("c_custkey", "n_match", "first_sup")) }
      assert(canon(df) === expected)
    }
  }

  test("agg rule law: null keys, null groups, unmatched lefts, dup groups") {
    import spark.implicits._
    // every awkward corner at once: a null group key, null join keys on
    // either predicate, a left row matching both predicates, a left row
    // matching nothing, and duplicate group keys
    val left = Seq(
      (Some(1L), Some(5L), Some("a")),   // matches k1 (two rights) and k2
      (Some(1L), Some(6L), None),        // same group, k1 only
      (Some(2L), None, Some("b")),       // k2 only
      (None, Some(5L), Some("zz")),      // null group, k1 matches
      (Some(3L), None, None),            // matches nothing -> 0 / null
      (Some(4L), Some(9L), Some("b"))    // k1 no match, k2 matches
    ).toDF("g", "k1", "k2")
    val right = Seq(
      (Some(5L), Some("x"), Some(100L)),
      (Some(5L), Some("y"), None),       // null v: not counted
      (Some(6L), Some("a"), Some(300L)), // reachable via k1=6 OR k2='a'
      (None, Some("b"), Some(400L))      // null r1 never matches k1
    ).toDF("r1", "r2", "v")
    // the exploding key: 200 left rows x 50 right rows on one k1 value =
    // 10,000 pairs, which the eager plan must never materialize
    val hotLeft = (0 until 200).map(i => (i.toLong, 7L, s"nm$i")).toDF("g", "k1", "k2")
    val hotRight = (0 until 50).map(i => (7L, s"r$i", i.toLong)).toDF("r1", "r2", "v")
    val twoPreds = col("k1") === col("r1") || col("k2") === col("r2")
    val fixtures = Seq(
      ("two preds", left, right, twoPreds),
      ("single pred", left, right, col("k1") === col("r1")),
      ("exploding key", hotLeft, hotRight, twoPreds))
    for ((name, l, r, cond) <- fixtures) {
      def q() = l.join(r, cond, "left")
        .groupBy("g")
        .agg(count(col("v")).as("n"), min(col("r2")).as("m"),
          max(col("r2")).as("mx"), sum(col("v")).as("s"))
      val expected = withRule(on = false) { canon(q()) }
      withRule(on = true) {
        val df = q()
        assert(canon(df) === expected, name)
        val plan = df.queryExecution.executedPlan
        assert(!plan.toString.contains("BroadcastNestedLoopJoin"), name)
        if (name == "exploding key") {
          // after execution the adaptive plan is final and its join
          // metrics are populated: every join emits at most
          // |left| + |right| rows, so the right side was aggregated
          // before it met the left
          val joinRows = AdaptivePlans.collect(plan) {
            case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
              j.metrics("numOutputRows").value
          }
          assert(joinRows.nonEmpty && joinRows.max <= 250, s"join output rows $joinRows")
        }
      }
    }
  }

  test("agg rule survives a decorating select/orderBy (CollapseProject folds literals in)") {
    // the r15 q82 bug: a parent select adding a literal column collapses
    // INTO the Aggregate's output list; the rule must treat constant
    // outputs as pass-through instead of bailing to the join-only rewrite
    def q() = naiveAgg()
      .select(col("c_custkey"), col("n_match"), lit(true).as("tag"))
      .orderBy("c_custkey")
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("__orj_"), plan)
      assert(canon(df) === expected)
    }
  }

  test("agg rule: avg decomposes as (sum, count) partials — null/unmatched groups exact") {
    import spark.implicits._
    val left = Seq(
      (Some(1L), Some(5L), Some("a")),
      (Some(1L), Some(6L), None),
      (Some(2L), None, Some("b")),
      (None, Some(5L), Some("zz")),
      (Some(3L), None, None),
      (Some(4L), Some(9L), Some("b"))
    ).toDF("g", "k1", "k2")
    // long-valued v: branch partial sums are exact, so the rule's
    // sum/count division is bit-identical to the single-aggregate plan
    val right = Seq(
      (Some(5L), Some("x"), Some(100L)),
      (Some(5L), Some("y"), None),
      (Some(6L), Some("a"), Some(300L)),
      (None, Some("b"), Some(400L))
    ).toDF("r1", "r2", "v")
    def q() = left.join(right,
        col("k1") === col("r1") || col("k2") === col("r2"), "left")
      .groupBy("g")
      .agg(avg(col("v")).as("a"), count(col("v")).as("n"))
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("__orj_"), plan)
      assert(canon(df) === expected)
    }
  }

  test("agg rule: DECIMAL avg rides the eager plan (round 17), results exact") {
    import spark.implicits._
    // overlap (g=3 matches on both predicates), an unmatched left
    // (g=2's k1=9 matches only a null-valued right), and a null decimal
    // — avg must reproduce Average's own decimal division (p+4, s+4
    // result type via DecimalDivideWithOverflowCheck) through the
    // merged (sum, count) partials
    val left = Seq((1L, 5L), (2L, 9L), (3L, 5L)).toDF("g", "k1")
    val right = Seq((5L, BigDecimal("1.10")), (5L, BigDecimal("2.30")),
        (3L, BigDecimal("7.77")), (9L, null: BigDecimal))
      .toDF("r1", "v")
    def q() = left.join(right,
        col("k1") === col("r1") || col("g") === col("r1"), "left")
      .groupBy("g").agg(avg(col("v")).as("a"))
    val (expected, expectedType) = withRule(on = false) {
      (canon(q()), q().schema("a").dataType)
    }
    withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("__orj_") &&
        !plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(df.schema("a").dataType === expectedType)
      assert(canon(df) === expected)
    }
  }

  test("agg rule: scalar arithmetic around aggregates rewrites through") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // the repo's own decimal-exactness idiom — CAST(SUM(DECIMAL) AS
    // DOUBLE) — plus arithmetic over a SHARED aggregate call: all must
    // take the eager plan, with the merge substituted INSIDE the scalar
    // expression shape
    def q() = naiveOrJoin().groupBy("c_custkey")
      .agg((count(col("s_suppkey")) * 2 + 1).as("n2x"),
        sum(col("s_acctbal").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("bal"),
        (count(col("s_suppkey")) + count(col("s_suppkey"))).as("n_twice"))
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("__orj_"), plan)
      assert(canon(df) === expected)
    }
  }

  test("agg rule: 2-pred count/sum/avg is ORDER-ROBUST (inclusion–exclusion plan)") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // WORST order: the exploding 25-value nationkey predicate written
    // SECOND. The branch form would materialize the quadratic pair set
    // in branch 1; the IE plan pre-aggregates all three terms on their
    // keys, so no join output exceeds |left| rows regardless of order.
    val lk = Lake(spark, sf0001)
    def q() = lk.customer.join(lk.supplier,
        col("c_name") === col("s_name") ||
          col("c_nationkey") === col("s_nationkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("s_suppkey")).as("n_match"),
        sum(col("s_acctbal").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("bal"),
        avg(col("s_acctbal")).as("avg_bal"))
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("__orj_"), plan)
      assert(canon(df) === expected)
    }
  }

  test("agg rule IE law: null keys, null groups, unmatched lefts, overlap pairs") {
    import spark.implicits._
    // rows matching BOTH predicates exercise the subtracted overlap term
    val left = Seq(
      (Some(1L), Some(5L), Some("x")),   // k1=5 AND k2='x' both match r1
      (Some(1L), Some(6L), None),
      (Some(2L), None, Some("y")),
      (None, Some(5L), Some("zz")),
      (Some(3L), None, None)
    ).toDF("g", "k1", "k2")
    val right = Seq(
      (Some(5L), Some("x"), Some(100L)), // satisfies both preds vs row 1
      (Some(5L), Some("y"), None),
      (Some(6L), Some("y"), Some(300L)),
      (None, Some("x"), Some(400L))
    ).toDF("r1", "r2", "v")
    for (preds <- Seq(
        col("k1") === col("r1") || col("k2") === col("r2"),
        col("k2") === col("r2") || col("k1") === col("r1"))) {
      def q() = left.join(right, preds, "left").groupBy("g")
        .agg(count(col("v")).as("n"), sum(col("v")).as("s"),
          avg(col("v")).as("a"))
      val expected = withRule(on = false) { canon(q()) }
      withRule(on = true) {
        val df = q()
        assert(df.queryExecution.executedPlan.toString.contains("__orj_"))
        assert(canon(df) === expected, s"preds=$preds")
      }
    }
  }

  test("agg rule: 3-pred count/sum/avg is ORDER-ROBUST (7-term inclusion–exclusion)") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // WORST order: the exploding 25-value nationkey predicate written
    // LAST of three. The branch form would materialize the quadratic
    // pair set in branch 2; the generalized IE plan pre-aggregates all
    // 7 subset terms (3 singletons + 3 pairs + 1 triple) on their
    // composite keys, so no join output exceeds |left| rows.
    val lk = Lake(spark, sf0001)
    def q() = lk.customer.join(lk.supplier,
        col("c_name") === col("s_name") ||
          col("c_acctbal") === col("s_acctbal") ||
          col("c_nationkey") === col("s_nationkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("s_suppkey")).as("n_match"),
        sum(col("s_acctbal").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("bal"),
        avg(col("s_acctbal")).as("avg_bal"),
        min(col("s_name")).as("first_sup"))
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("__orj_"), plan)
      assert(canon(df) === expected)
    }
  }

  test("agg rule IE law at n=3: triple overlaps, null keys, all 6 predicate orders") {
    import spark.implicits._
    // row 1 of left matches r-row 1 on ALL THREE predicates — the
    // triple-intersection term must re-ADD what the three pairwise
    // terms over-subtracted; duplicate right matches per predicate
    // exercise multiplicity
    val left = Seq(
      (Some(1L), Some(5L), Some("x"), Some(7L)),
      (Some(1L), Some(6L), None, Some(8L)),
      (Some(2L), None, Some("y"), Some(7L)),
      (None, Some(5L), Some("zz"), None),
      (Some(3L), None, None, None)
    ).toDF("g", "k1", "k2", "k3")
    val right = Seq(
      (Some(5L), Some("x"), Some(7L), Some(100L)), // all three vs left row 1
      (Some(5L), Some("y"), Some(8L), None),
      (Some(6L), Some("y"), Some(7L), Some(300L)),
      (None, Some("x"), Some(7L), Some(400L)),
      (Some(5L), Some("x"), None, Some(500L))      // two of three vs row 1
    ).toDF("r1", "r2", "r3", "v")
    val ps = Seq(
      col("k1") === col("r1"),
      col("k2") === col("r2"),
      col("k3") === col("r3"))
    for (order <- ps.permutations.toSeq) {
      def q() = left.join(right, order.reduce(_ || _), "left").groupBy("g")
        .agg(count(col("v")).as("n"), sum(col("v")).as("s"),
          avg(col("v")).as("a"), max(col("r2")).as("mx"))
      val expected = withRule(on = false) { canon(q()) }
      withRule(on = true) {
        val df = q()
        assert(df.queryExecution.executedPlan.toString.contains("__orj_"))
        assert(canon(df) === expected, s"order=$order")
      }
    }
  }

  test("agg rule: withColumn-derived group AND join keys freshen correctly") {
    import spark.implicits._
    // Alias-defined attributes (withColumn) used to keep their exprIds
    // through freshen(), putting ONE id on both sides of the attach
    // merge joins; freshen now re-aliases Project/Aggregate/Window
    // outputs, so the eager plan must fire AND be correct here.
    val left = Seq((1L, 5L, "a"), (2L, 6L, "b"), (3L, 9L, "b"),
        (4L, 5L, "zz"), (5L, 7L, "a"))
      .toDF("id", "b", "s")
      .withColumn("g", col("id") % 2)          // computed GROUP key
      .withColumn("k1", col("b") + 1)          // computed JOIN key
    val right = Seq((6L, "a", 100L), (6L, "b", 200L), (7L, "b", 300L),
        (10L, "zz", 400L))
      .toDF("rb", "r2", "v")
      .withColumn("r1", col("rb") * 1L)        // computed RIGHT join key
    def q() = left.join(right,
        col("k1") === col("r1") || col("s") === col("r2"), "left")
      .groupBy("g")
      .agg(count(col("v")).as("n"), sum(col("v")).as("sm"),
        min(col("r2")).as("mn"))
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("__orj_"), plan)
      assert(canon(df) === expected)
    }
  }

  test("agg rule: min/max-only is ORDER-ROBUST at any n (per-predicate LEAST/GREATEST terms)") {
    // exploding nationkey predicate written SECOND with MIN/MAX
    // consumers: the per-predicate-term form must fire (no branch-form
    // order contract), every term pre-aggregated on its own key
    val lk = Lake(spark, sf0001)
    def q() = lk.customer.join(lk.supplier,
        col("c_name") === col("s_name") ||
          col("c_nationkey") === col("s_nationkey"), "left")
      .groupBy("c_custkey")
      .agg(min(col("s_name")).as("mn"), max(col("s_acctbal")).as("mx"))
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("__orj_"), plan)
      assert(canon(df) === expected)
    }
  }

  test("agg rule: min/max-only at n=3, all predicate orders agree") {
    import spark.implicits._
    val left = Seq(
      (Some(1L), Some(5L), Some("x"), Some(7L)),
      (Some(1L), Some(6L), None, None),
      (Some(2L), None, Some("y"), Some(8L)),
      (None, Some(5L), Some("zz"), Some(7L)),
      (Some(3L), None, None, None)
    ).toDF("g", "k1", "k2", "k3")
    val right = Seq(
      (Some(5L), Some("x"), Some(7L), Some(100L)),
      (Some(5L), Some("y"), None, None),
      (Some(6L), Some("y"), Some(8L), Some(300L)),
      (None, Some("x"), Some(7L), Some(400L))
    ).toDF("r1", "r2", "r3", "v")
    val preds = Seq(
      col("k1") === col("r1"),
      col("k2") === col("r2"),
      col("k3") === col("r3"))
    for (order <- preds.permutations.take(3)) {
      def q() = left.join(right, order.reduce(_ || _), "left")
        .groupBy("g")
        .agg(min(col("v")).as("mn"), max(col("r2")).as("mx"))
      val expected = withRule(on = false) { canon(q()) }
      withRule(on = true) {
        val df = q()
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("__orj_"), plan)
        assert(canon(df) === expected, s"order=$order")
      }
    }
  }

  test("agg rule: min/max MIXED with count/sum at n=2 rides the IE plan, both orders") {
    import spark.implicits._
    val left = Seq(
      (Some(1L), Some(5L), Some("x")),
      (Some(1L), Some(6L), None),
      (Some(2L), None, Some("y")),
      (None, Some(5L), Some("zz")),
      (Some(3L), None, None)
    ).toDF("g", "k1", "k2")
    val right = Seq(
      (Some(5L), Some("x"), Some(100L)),  // matches both preds vs row 1
      (Some(5L), Some("y"), None),
      (Some(6L), Some("y"), Some(300L)),
      (None, Some("x"), Some(400L))
    ).toDF("r1", "r2", "v")
    for (cond <- Seq(
        col("k1") === col("r1") || col("k2") === col("r2"),
        col("k2") === col("r2") || col("k1") === col("r1"))) {
      def q() = left.join(right, cond, "left").groupBy("g")
        .agg(count(col("v")).as("n"), min(col("v")).as("mn"),
          max(col("r2")).as("mx"), avg(col("v")).as("a"))
      val expected = withRule(on = false) { canon(q()) }
      withRule(on = true) {
        val df = q()
        assert(df.queryExecution.executedPlan.toString.contains("__orj_"))
        assert(canon(df) === expected, s"cond=$cond")
      }
    }
  }

  test("agg rule: count(*) is NOT eager-aggregated (falls back to join rewrite)") {
    // count(*) counts unmatched left rows as 1, which branch partials
    // cannot reconstruct — the rule must leave the aggregate alone and
    // rewrite only the join underneath (Union plan), results unchanged.
    def q() = naiveOrJoin().groupBy("c_custkey").agg(count(lit(1)).as("n"))
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("Union"), plan)
      assert(canon(df) === expected)
    }
  }

  test("agg rule: left-side aggregate args fall back to join rewrite") {
    def q() = naiveOrJoin().groupBy("c_custkey")
      .agg(min(col("c_name")).as("m"), count(col("s_suppkey")).as("n"))
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Union"), plan)
      assert(canon(df) === expected)
    }
  }

  test("agg rule property law: randomized fixtures, 1-3 preds, mixed aggs, rule-on ≡ rule-off") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 0 until 6) {
      def maybe[T](v: T): Option[T] = if (rnd.nextInt(5) == 0) None else Some(v)
      // small domains force duplicate groups, duplicate keys, multi-matches
      val left = Seq.fill(40)((
        maybe(rnd.nextInt(6).toLong),             // g
        maybe(rnd.nextInt(8).toLong),             // k1
        maybe(s"s${rnd.nextInt(8)}"),             // k2
        maybe(rnd.nextInt(9).toLong)              // k3
      )).toDF("g", "k1", "k2", "k3")
      val right = Seq.fill(25)((
        maybe(rnd.nextInt(8).toLong),             // r1
        maybe(s"s${rnd.nextInt(8)}"),             // r2
        maybe(rnd.nextInt(9).toLong),             // r3
        maybe(rnd.nextInt(100).toLong)            // v
      )).toDF("r1", "r2", "r3", "v")
        // decimal twin of v: the decimal-avg path must hold the same law
        .withColumn("dv", (col("v") / 7)
          .cast(org.apache.spark.sql.types.DecimalType(12, 3)))
      val allPreds = Seq(
        col("k1") === col("r1"),
        col("k2") === col("r2"),
        col("k3") === col("r3"))
      val nPreds = 1 + rnd.nextInt(3)
      val cond = allPreds.take(nPreds).reduce(_ || _)
      def q() = left.join(right, cond, "left")
        .groupBy("g")
        .agg(count(col("v")).as("n"), sum(col("v")).as("s"),
          min(col("r2")).as("mn"), max(col("r2")).as("mx"),
          avg(col("v")).as("a"), avg(col("dv")).as("da"),
          sum(col("dv")).as("ds"))
      val expected = withRule(on = false) { canon(q()) }
      withRule(on = true) {
        val df = q()
        if (nPreds >= 2) {
          val plan = df.queryExecution.executedPlan.toString
          assert(plan.contains("__orj_"), s"trial $trial: agg case must fire\n$plan")
        }
        assert(canon(df) === expected, s"trial $trial nPreds=$nPreds diverged")
      }
    }
  }

  // ---- stats-picked branch 0 at n≥4 (round-17) ------------------------

  /** Two zone-mapped copies of customer/supplier whose writes persisted
    * theta sketches for every OR-join key column — the decision input
    * the rule's branch-0 pick reads. */
  private lazy val statsStage: String = {
    import graft.operators.ZoneMapTable
    val p = "target/star_stage/orj_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val lk = Lake(spark, sf0001)
    ZoneMapTable.write(lk.customer, s"$p/customer", "c_custkey",
      Seq("c_custkey"), 2,
      sketchCols = Seq("c_name", "c_acctbal", "c_custkey", "c_nationkey"))
    ZoneMapTable.write(lk.supplier, s"$p/supplier", "s_suppkey",
      Seq("s_suppkey"), 1,
      sketchCols = Seq("s_name", "s_acctbal", "s_suppkey", "s_nationkey"))
    p
  }

  /** The right-side key column branch 0 pre-aggregates on, read from the
    * optimized plan's `__orj_b0_k0` alias. */
  private def b0KeyOf(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    df.queryExecution.optimizedPlan.collectFirst {
      case ag: Aggregate if ag.aggregateExpressions.exists {
            case al: Alias => al.name == "__orj_b0_k0"
            case _ => false
          } =>
        ag.aggregateExpressions.collectFirst {
          case al: Alias if al.name == "__orj_b0_k0" =>
            al.child.references.map(_.name).toSeq.sorted.mkString(",")
        }.getOrElse("?")
    }.getOrElse("none")
  }

  /** n=4 count/sum consumer (the branch-partition form) with the
    * exploding 25-value nationkey predicate written LAST — the shape
    * that used to need "exploding predicate first". */
  private def fourPredAgg(left: org.apache.spark.sql.DataFrame,
                          right: org.apache.spark.sql.DataFrame) =
    left.join(right,
        col("c_name") === col("s_name") ||
          col("c_acctbal") === col("s_acctbal") ||
          col("c_custkey") === col("s_suppkey") ||
          col("c_nationkey") === col("s_nationkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("s_suppkey")).as("n"), sum(col("s_acctbal")).as("s"))

  test("agg rule n=4: branch 0 STATS-PICKED from persisted sketches (exploding pred last), results law") {
    val cust = spark.read.parquet(s"$statsStage/customer/data")
    val supp = spark.read.parquet(s"$statsStage/supplier/data")
    val expected = withRule(on = false) { canon(fourPredAgg(cust, supp)) }
    withRule(on = true) {
      val df = fourPredAgg(cust, supp)
      assert(b0KeyOf(df) === "s_nationkey",
        "the 25-value nationkey predicate must be the pre-aggregated branch")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("__orj_") &&
        !plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(canon(df) === expected)
    }
  }

  test("agg rule n=4: cleared registry lazy-loads the sidecar, zero jobs at plan time") {
    import graft.plans.StarStatsRegistry
    statsStage
    val saved = StarStatsRegistry.registered
    try {
      StarStatsRegistry.clear()
      withRule(on = true) {
        val df = fourPredAgg(
          spark.read.parquet(s"$statsStage/customer/data"),
          spark.read.parquet(s"$statsStage/supplier/data"))
        val tracker = spark.sparkContext.statusTracker
        def jobs() = tracker.getJobIdsForGroup(null).length
        def drain(): Unit = org.apache.spark.GraftTestSparkBridge
          .waitListenerBusEmpty(spark.sparkContext)
        drain()
        val before = jobs()
        val key = b0KeyOf(df)
        drain()
        assert(key === "s_nationkey",
          s"lazy-loaded sidecars must feed the branch-0 pick, got $key")
        assert(jobs() === before,
          "the stats-picked rewrite must plan with ZERO Spark jobs")
      }
    } finally {
      StarStatsRegistry.clear()
      saved.foreach { case (k, v) => StarStatsRegistry.register(k, v) }
    }
  }

  test("agg rule n=2 with stats: one exploder -> cost-based branch form (the reclaimed r15 q82 plan)") {
    // name is selective (est 100 rows), nationkey explodes (est 6000);
    // residual 100 < IE overhead (2^2-1-2)*(1500+100) = 1600, so the
    // rule takes the 2-term branch plan with nationkey pre-aggregated —
    // exactly the r15 q82 plan that round 16's always-IE policy gave up
    // (SURVEY §6 r17), now reclaimed wherever stats exist.
    val cust = spark.read.parquet(s"$statsStage/customer/data")
    val supp = spark.read.parquet(s"$statsStage/supplier/data")
    // count+sum, and q81's count+min
    val consumers = Seq(
      Seq(count(col("s_suppkey")).as("n"), sum(col("s_acctbal")).as("s")),
      Seq(count(col("s_suppkey")).as("n"), min(col("s_name")).as("m")))
    for (aggs <- consumers) {
      def q() = cust.join(supp,
          col("c_name") === col("s_name") ||
            col("c_nationkey") === col("s_nationkey"), "left")
        .groupBy("c_custkey")
        .agg(aggs.head, aggs.tail: _*)
      val expected = withRule(on = false) { canon(q()) }
      withRule(on = true) {
        val df = q()
        assert(b0KeyOf(df) === "s_nationkey",
          "branch form must fire with the exploder pre-aggregated")
        assert(!df.queryExecution.optimizedPlan.toString.contains("__orj_t2_"),
          "no IE overlap term may remain in the branch plan")
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("__orj_") &&
          !plan.contains("BroadcastNestedLoopJoin"), plan)
        assert(canon(df) === expected)
      }
    }
  }

  test("agg rule n=2 with stats: several exploders keep the IE plan") {
    import spark.implicits._
    import graft.operators.ZoneMapTable
    // BOTH keys are low-cardinality (ndv 2 and 3): every branch would
    // materialize a near-cross-join (est 500 + 333 rows vs IE overhead
    // (2^2-1-2)*(40+25) = 65), so the cost model must keep
    // inclusion-exclusion even though stats are present
    val base = "target/star_stage/orj_spec_ie"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val l = (0 until 40).map(i => (i.toLong, (i % 2).toLong, (i % 3).toLong))
      .toDF("g", "k1", "k2")
    val r = (0 until 25).map(i => ((i % 2).toLong, (i % 3).toLong, i.toLong))
      .toDF("r1", "r2", "v")
    ZoneMapTable.write(l, s"$base/l", "g", Seq("g"), 1,
      sketchCols = Seq("k1", "k2"))
    ZoneMapTable.write(r, s"$base/r", "r1", Seq("r1"), 1,
      sketchCols = Seq("r1", "r2"))
    val lt = spark.read.parquet(s"$base/l/data")
    val rt = spark.read.parquet(s"$base/r/data")
    def q() = lt.join(rt,
        col("k1") === col("r1") || col("k2") === col("r2"), "left")
      .groupBy("g").agg(count(col("v")).as("n"), sum(col("v")).as("s"))
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      assert(b0KeyOf(df) === "none", "the branch form must NOT fire")
      assert(df.queryExecution.optimizedPlan.toString.contains("__orj_t2_"),
        "the IE overlap term must be present")
      assert(canon(df) === expected)
    }
  }

  test("agg rule: stats-pick fires through a FILTERED fact scan, zero plan-time jobs") {
    // a user's WHERE clause pushes a Filter between the scan and the
    // join; statsUnder sees through deterministic Filters, handing the
    // rule whole-table sketches as documented over-estimates (plan
    // QUALITY only — OR commutes). The pick must still land on the
    // exploding predicate and planning must stay job-free.
    val cust = spark.read.parquet(s"$statsStage/customer/data")
      .where(col("c_mktsegment") === "BUILDING")
    val supp = spark.read.parquet(s"$statsStage/supplier/data")
    val expected = withRule(on = false) { canon(fourPredAgg(cust, supp)) }
    withRule(on = true) {
      val df = fourPredAgg(cust, supp)
      val tracker = spark.sparkContext.statusTracker
      def jobs() = tracker.getJobIdsForGroup(null).length
      def drain(): Unit = org.apache.spark.GraftTestSparkBridge
        .waitListenerBusEmpty(spark.sparkContext)
      drain()
      val before = jobs()
      val key = b0KeyOf(df)
      drain()
      assert(key === "s_nationkey",
        s"the pick must survive the filtered fact, got $key")
      assert(jobs() === before,
        "planning the filtered stats-pick must run ZERO Spark jobs")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("__orj_") &&
        !plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(canon(df) === expected)
    }
  }

  test("agg rule n=4: without stats the written order stands (branch 0 = first predicate)") {
    val lk = Lake(spark, sf0001) // raw driver parquet: no sketches anywhere
    withRule(on = true) {
      val df = fourPredAgg(lk.customer, lk.supplier)
      assert(b0KeyOf(df) === "s_name")
    }
  }

  // ---- INNER OR-joins (round 17) ---------------------------------------

  private def naiveInnerOrJoin() = {
    val lk = Lake(spark, sf0001)
    lk.customer.join(lk.supplier,
      col("c_nationkey") === col("s_nationkey") ||
        col("c_name") === col("s_name"), "inner")
  }

  test("inner OR join: rewritten to hash-join branches, no null complement") {
    withRule(on = false) {
      assert(naiveInnerOrJoin().queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
    }
    withRule(on = true) {
      val plan = naiveInnerOrJoin().queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("Union"), plan)
    }
  }

  test("inner OR join: results are multiset-identical to the nested-loop plan") {
    val expected = withRule(on = false) { canon(naiveInnerOrJoin()) }
    val got = withRule(on = true) { canon(naiveInnerOrJoin()) }
    assert(got === expected)
  }

  test("inner OR join law: null keys, overlap pairs, three predicates, SQL text") {
    import spark.implicits._
    def maybe[T](v: T, miss: Boolean): Option[T] = if (miss) None else Some(v)
    val rnd = new scala.util.Random(20260816L)
    val left = Seq.fill(30)((
      maybe(rnd.nextInt(5).toLong, rnd.nextInt(5) == 0),
      maybe(s"s${rnd.nextInt(5)}", rnd.nextInt(5) == 0),
      maybe(rnd.nextInt(6).toLong, rnd.nextInt(5) == 0)
    )).toDF("k1", "k2", "k3")
    val right = Seq.fill(20)((
      maybe(rnd.nextInt(5).toLong, rnd.nextInt(5) == 0),
      maybe(s"s${rnd.nextInt(5)}", rnd.nextInt(5) == 0),
      maybe(rnd.nextInt(6).toLong, rnd.nextInt(5) == 0)
    )).toDF("r1", "r2", "r3")
    val cond = col("k1") === col("r1") || col("k2") === col("r2") ||
      col("k3") === col("r3")
    def q() = left.join(right, cond, "inner")
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      assert(!df.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
      assert(canon(df) === expected)
    }
    // SQL text reaches the same rewrite
    left.createOrReplaceTempView("orj_inner_l")
    right.createOrReplaceTempView("orj_inner_r")
    val sqlQ = "SELECT * FROM orj_inner_l JOIN orj_inner_r ON " +
      "k1 = r1 OR k2 = r2 OR k3 = r3"
    val sqlExpected = withRule(on = false) { canon(spark.sql(sqlQ)) }
    withRule(on = true) {
      val df = spark.sql(sqlQ)
      assert(!df.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
      assert(canon(df) === sqlExpected)
    }
  }

  test("agg over INNER OR join: eager plan incl. count(*); pair-less groups absent") {
    def q() = naiveInnerOrJoin().groupBy("c_custkey")
      .agg(count(lit(1)).as("n_pairs"), count(col("s_suppkey")).as("n"),
        min(col("s_name")).as("m"))
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("__orj_") &&
        !plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(canon(df) === expected)
    }
    // sanity: inner drops unmatched customers, the outer form keeps them
    val inner = withRule(on = true) { q().count() }
    val outer = withRule(on = true) {
      naiveOrJoin().groupBy("c_custkey").agg(count(col("s_suppkey")).as("n"))
        .count()
    }
    assert(inner < outer, s"inner=$inner must drop pair-less groups (outer=$outer)")
  }

  test("agg over INNER OR join law: randomized — absent groups, count(*), minmax-only") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260817L)
    for (trial <- 0 until 4) {
      def maybe[T](v: T): Option[T] = if (rnd.nextInt(5) == 0) None else Some(v)
      val left = Seq.fill(35)((
        maybe(rnd.nextInt(6).toLong),
        maybe(rnd.nextInt(8).toLong),
        maybe(s"s${rnd.nextInt(8)}")
      )).toDF("g", "k1", "k2")
        // an isolated group that matches NOTHING: must be absent
        .unionByName(Seq((Some(99L), Some(999L), Some("zz")))
          .toDF("g", "k1", "k2"))
      val right = Seq.fill(22)((
        maybe(rnd.nextInt(8).toLong),
        maybe(s"s${rnd.nextInt(8)}"),
        maybe(rnd.nextInt(100).toLong)
      )).toDF("r1", "r2", "v")
      val cond = col("k1") === col("r1") || col("k2") === col("r2")
      def q() = left.join(right, cond, "inner").groupBy("g")
        .agg(count(lit(1)).as("np"), count(col("v")).as("n"),
          sum(col("v")).as("s"), avg(col("v")).as("a"),
          min(col("r2")).as("mn"))
      def qMinMax() = left.join(right, cond, "inner").groupBy("g")
        .agg(min(col("r2")).as("mn"), max(col("r2")).as("mx"))
      for (f <- Seq(q _, qMinMax _)) {
        val expected = withRule(on = false) { canon(f()) }
        withRule(on = true) {
          val df = f()
          // the fixture's own unionByName puts a Union in the LEFT
          // subtree, so probe the eager form by its term aliases (and
          // no nested loop) rather than by Union absence
          val plan = df.queryExecution.executedPlan.toString
          assert(plan.contains("__orj_t0_") &&
            !plan.contains("BroadcastNestedLoopJoin"),
            s"trial $trial: eager form must fire\n$plan")
          assert(canon(df) === expected, s"trial $trial diverged")
        }
      }
    }
  }

  // ---- RIGHT/FULL OUTER OR-joins (round 18): the type matrix closed ----

  private def naiveOuterOrJoin(joinType: String) = {
    val lk = Lake(spark, sf0001)
    // name never matches across customer/supplier and acctbal rarely
    // does, so BOTH complements carry real rows
    lk.customer.join(lk.supplier,
      col("c_name") === col("s_name") ||
        col("c_acctbal") === col("s_acctbal"), joinType)
  }

  test("right outer OR join: rewritten to branches + right complement, no BNLJ") {
    withRule(on = false) {
      assert(naiveOuterOrJoin("right").queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
    }
    withRule(on = true) {
      val df = naiveOuterOrJoin("right")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("Union"), plan)
    }
  }

  test("full outer OR join: rewritten to branches + both complements, no BNLJ") {
    withRule(on = false) {
      assert(naiveOuterOrJoin("full").queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
    }
    withRule(on = true) {
      val df = naiveOuterOrJoin("full")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("Union"), plan)
    }
  }

  test("right/full outer OR join: results multiset-identical to the nested-loop plan") {
    for (jt <- Seq("right", "full")) {
      val expected = withRule(on = false) { canon(naiveOuterOrJoin(jt)) }
      val got = withRule(on = true) { canon(naiveOuterOrJoin(jt)) }
      assert(got === expected, s"joinType=$jt diverged")
    }
  }

  test("right/full outer OR join law: null keys BOTH sides, overlaps, 3 preds, SQL text") {
    import spark.implicits._
    def maybe[T](v: T, miss: Boolean): Option[T] = if (miss) None else Some(v)
    val rnd = new scala.util.Random(20260818L)
    val left = Seq.fill(30)((
      maybe(rnd.nextInt(5).toLong, rnd.nextInt(5) == 0),
      maybe(s"s${rnd.nextInt(5)}", rnd.nextInt(5) == 0),
      maybe(rnd.nextInt(6).toLong, rnd.nextInt(5) == 0)
    )).toDF("k1", "k2", "k3")
    val right = Seq.fill(20)((
      maybe(rnd.nextInt(5).toLong, rnd.nextInt(5) == 0),
      maybe(s"s${rnd.nextInt(5)}", rnd.nextInt(5) == 0),
      maybe(rnd.nextInt(6).toLong, rnd.nextInt(5) == 0)
    )).toDF("r1", "r2", "r3")
    val cond = col("k1") === col("r1") || col("k2") === col("r2") ||
      col("k3") === col("r3")
    for (jt <- Seq("right", "full")) {
      def q() = left.join(right, cond, jt)
      val expected = withRule(on = false) { canon(q()) }
      withRule(on = true) {
        val df = q()
        assert(!df.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"))
        assert(canon(df) === expected, s"joinType=$jt diverged")
      }
    }
    // SQL text reaches the same rewrite
    left.createOrReplaceTempView("orj_out_l")
    right.createOrReplaceTempView("orj_out_r")
    for (kw <- Seq("RIGHT", "FULL")) {
      val sqlQ = s"SELECT * FROM orj_out_l $kw JOIN orj_out_r ON " +
        "k1 = r1 OR k2 = r2 OR k3 = r3"
      val sqlExpected = withRule(on = false) { canon(spark.sql(sqlQ)) }
      withRule(on = true) {
        val df = spark.sql(sqlQ)
        assert(!df.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"))
        assert(canon(df) === sqlExpected, s"$kw diverged")
      }
    }
  }

  test("aggregate over RIGHT outer OR join takes the EAGER plan (side-commuted)") {
    // a RIGHT JOIN is a LEFT JOIN with the sides swapped, and the
    // Aggregate replaces the join wholesale — so grouping on the
    // preserved (right) side with left-side aggregate args rides the
    // same eager machinery: no Union, no BNLJ, per-branch partials.
    def q() = naiveOuterOrJoin("right")
      .groupBy("s_suppkey")
      .agg(count(col("c_custkey")).as("n"), min(col("c_name")).as("m"),
        sum(col("c_acctbal")).as("s"))
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("__orj_"), s"eager form must fire\n$plan")
      assert(canon(df) === expected)
    }
    // grouping on the NON-preserved side falls back to the bare union
    def qLeftGroup() = naiveOuterOrJoin("right")
      .groupBy("c_custkey")
      .agg(min(col("s_name")).as("m"))
    val expected2 = withRule(on = false) { canon(qLeftGroup()) }
    withRule(on = true) {
      val df = qLeftGroup()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("Union"), plan)
      assert(canon(df) === expected2)
    }
  }

  test("aggregate over FULL outer OR join consumes the rewritten union") {
    // FullOuter stays outside the eager-agg rewrite (group completeness
    // needs both complements); the bare rewrite fires under the agg.
    def q() = naiveOuterOrJoin("full")
      .groupBy("s_suppkey")
      .agg(count(col("c_custkey")).as("n"), min(col("c_name")).as("m"))
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("Union"), plan)
      assert(canon(df) === expected)
    }
  }

  test("eager RIGHT outer law: null keys both sides, avg + minmax, vs nested loop") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260819L)
    for (trial <- 0 until 3) {
      def maybe[T](v: T): Option[T] = if (rnd.nextInt(5) == 0) None else Some(v)
      val left = Seq.fill(30)((
        maybe(rnd.nextInt(8).toLong),
        maybe(s"s${rnd.nextInt(8)}"),
        maybe(rnd.nextInt(100).toLong)
      )).toDF("k1", "k2", "v")
      val right = Seq.fill(25)((
        maybe(rnd.nextInt(6).toLong),
        maybe(rnd.nextInt(8).toLong),
        maybe(s"s${rnd.nextInt(8)}")
      )).toDF("g", "r1", "r2")
      val cond = col("k1") === col("r1") || col("k2") === col("r2")
      def q() = left.join(right, cond, "right").groupBy("g")
        .agg(count(col("v")).as("n"), sum(col("v")).as("s"),
          avg(col("v")).as("a"), min(col("k2")).as("mn"),
          max(col("k2")).as("mx"))
      val expected = withRule(on = false) { canon(q()) }
      withRule(on = true) {
        val df = q()
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("__orj_") &&
          !plan.contains("BroadcastNestedLoopJoin"),
          s"trial $trial: eager right-outer must fire\n$plan")
        assert(canon(df) === expected, s"trial $trial diverged")
      }
    }
  }

  // ---- LEFT SEMI / LEFT ANTI OR-joins (round 18): EXISTS shapes --------

  private def naiveSemiOrJoin(joinType: String) = {
    val lk = Lake(spark, sf0001)
    // acctbal rarely matches, nationkey commonly does — both branches of
    // the first-match partition carry rows
    lk.customer.join(lk.supplier,
      col("c_acctbal") === col("s_acctbal") ||
        col("c_nationkey") === col("s_nationkey"), joinType)
  }

  test("left semi OR join: disjoint semi branches, no BNLJ") {
    withRule(on = false) {
      assert(naiveSemiOrJoin("left_semi").queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
    }
    withRule(on = true) {
      val df = naiveSemiOrJoin("left_semi")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("Union"), plan)
    }
    val expected = withRule(on = false) { canon(naiveSemiOrJoin("left_semi")) }
    val got = withRule(on = true) { canon(naiveSemiOrJoin("left_semi")) }
    assert(got === expected)
  }

  test("left anti OR join: hash anti-join chain, no BNLJ") {
    withRule(on = false) {
      assert(naiveSemiOrJoin("left_anti").queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
    }
    withRule(on = true) {
      val plan = naiveSemiOrJoin("left_anti")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    }
    val expected = withRule(on = false) { canon(naiveSemiOrJoin("left_anti")) }
    val got = withRule(on = true) { canon(naiveSemiOrJoin("left_anti")) }
    assert(got === expected)
  }

  test("semi/anti OR join law: null keys, dup left rows, 3 preds, SQL text") {
    import spark.implicits._
    def maybe[T](v: T, miss: Boolean): Option[T] = if (miss) None else Some(v)
    val rnd = new scala.util.Random(20260816L)
    // duplicate left rows pin MULTIPLICITY (semi keeps each qualifying
    // left row as many times as it occurs; anti likewise)
    val base = Seq.fill(25)((
      maybe(rnd.nextInt(5).toLong, rnd.nextInt(5) == 0),
      maybe(s"s${rnd.nextInt(5)}", rnd.nextInt(5) == 0),
      maybe(rnd.nextInt(6).toLong, rnd.nextInt(5) == 0)
    ))
    val left = (base ++ base.take(8)).toDF("k1", "k2", "k3")
    val right = Seq.fill(20)((
      maybe(rnd.nextInt(5).toLong, rnd.nextInt(5) == 0),
      maybe(s"s${rnd.nextInt(5)}", rnd.nextInt(5) == 0),
      maybe(rnd.nextInt(6).toLong, rnd.nextInt(5) == 0)
    )).toDF("r1", "r2", "r3")
    val cond = col("k1") === col("r1") || col("k2") === col("r2") ||
      col("k3") === col("r3")
    for (jt <- Seq("left_semi", "left_anti")) {
      def q() = left.join(right, cond, jt)
      val expected = withRule(on = false) { canon(q()) }
      withRule(on = true) {
        val df = q()
        assert(!df.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"))
        assert(canon(df) === expected, s"joinType=$jt diverged")
      }
    }
    left.createOrReplaceTempView("orj_sa_l")
    right.createOrReplaceTempView("orj_sa_r")
    for (kw <- Seq("SEMI", "ANTI")) {
      val sqlQ = s"SELECT * FROM orj_sa_l LEFT $kw JOIN orj_sa_r ON " +
        "k1 = r1 OR k2 = r2 OR k3 = r3"
      val sqlExpected = withRule(on = false) { canon(spark.sql(sqlQ)) }
      withRule(on = true) {
        val df = spark.sql(sqlQ)
        assert(!df.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"))
        assert(canon(df) === sqlExpected, s"$kw diverged")
      }
    }
  }

  test("EXISTS with OR of correlated equalities: rewritten before RewritePredicateSubquery") {
    val lk = Lake(spark, sf0001)
    lk.customer.createOrReplaceTempView("orj_ex_c")
    lk.supplier.createOrReplaceTempView("orj_ex_s")
    val q = """SELECT c_custkey, c_name FROM orj_ex_c
              |WHERE EXISTS (SELECT 1 FROM orj_ex_s
              |  WHERE c_acctbal = s_acctbal OR c_nationkey = s_nationkey)"""
      .stripMargin
    withRule(on = false) {
      assert(spark.sql(q).queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
    }
    val expected = withRule(on = false) { canon(spark.sql(q)) }
    withRule(on = true) {
      val df = spark.sql(q)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("Union"), plan)
      assert(canon(df) === expected)
    }
  }

  test("NOT EXISTS with OR: anti chain; other filter conjuncts survive") {
    val lk = Lake(spark, sf0001)
    lk.customer.createOrReplaceTempView("orj_nex_c")
    lk.supplier.createOrReplaceTempView("orj_nex_s")
    val q = """SELECT c_custkey, c_name FROM orj_nex_c
              |WHERE c_mktsegment = 'BUILDING' AND NOT EXISTS (
              |  SELECT 1 FROM orj_nex_s
              |  WHERE c_acctbal = s_acctbal OR c_name = s_name)"""
      .stripMargin
    withRule(on = false) {
      assert(spark.sql(q).queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
    }
    val expected = withRule(on = false) { canon(spark.sql(q)) }
    withRule(on = true) {
      val df = spark.sql(q)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(canon(df) === expected)
    }
  }

  test("EXISTS law: null keys, dup outer rows, vs the stock subquery plan") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260817L)
    def maybe[T](v: T): Option[T] = if (rnd.nextInt(4) == 0) None else Some(v)
    val base = Seq.fill(30)((
      maybe(rnd.nextInt(6).toLong), maybe(s"g${rnd.nextInt(6)}")))
    (base ++ base.take(10)).toDF("k1", "k2")
      .createOrReplaceTempView("orj_exl_l")
    Seq.fill(25)((maybe(rnd.nextInt(6).toLong), maybe(s"g${rnd.nextInt(6)}")))
      .toDF("r1", "r2").createOrReplaceTempView("orj_exl_r")
    for (neg <- Seq("", "NOT ")) {
      val q = s"SELECT * FROM orj_exl_l WHERE ${neg}EXISTS (" +
        "SELECT 1 FROM orj_exl_r WHERE k1 = r1 OR k2 = r2)"
      val expected = withRule(on = false) { canon(spark.sql(q)) }
      withRule(on = true) {
        val df = spark.sql(q)
        assert(!df.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"))
        assert(canon(df) === expected, s"neg='$neg' diverged")
      }
    }
  }

  test("semi/anti rewrite prunes the probe side to its key columns") {
    withRule(on = true) {
      // the probe (right) side of every rebuilt semi/anti join must scan
      // only the key columns — at 100 TB reading all supplier columns
      // once per predicate is the difference the self-prune exists for
      val plan = naiveSemiOrJoin("left_semi")
        .queryExecution.executedPlan.toString
      // every supplier scan in the plan reads at most the two key cols
      val schemas = plan.linesIterator
        .filter(l => l.contains("ReadSchema") && l.contains("s_acctbal"))
        .toSeq
      assert(schemas.nonEmpty, plan)
      assert(schemas.forall(s => !s.contains("s_address")),
        s"probe side must not read non-key columns\n$plan")
    }
  }

  test("semi prefix chains REUSE exchanges: 4 preds = 4 builds, 6 reused") {
    // semiBranches builds O(n²) anti/semi stages over shared predicate
    // prefixes; the scaladoc claims canonicalized prefixes dedup via
    // physical exchange reuse. Pin it: at n=4 the 10 probe-side builds
    // (1+2+3+4) must collapse to 4 real exchanges + 6 ReusedExchange —
    // the difference between 4 and 10 scans of the probe side. AQE off:
    // its stage-cache reuse is equivalent but invisible pre-execution.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try withRule(on = true) {
      val lk = Lake(spark, sf0001)
      val df = lk.customer.join(lk.supplier,
        col("c_custkey") === col("s_suppkey") ||
          col("c_nationkey") === col("s_nationkey") ||
          col("c_name") === col("s_name") ||
          col("c_acctbal") === col("s_acctbal"), "left_semi")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      // a ReusedExchange line echoes its target's "BroadcastExchange ..."
      // description — count per line, not per substring
      val reused = plan.linesIterator.count(_.contains("ReusedExchange"))
      val built = plan.linesIterator.count(l =>
        l.contains("BroadcastExchange") && !l.contains("ReusedExchange"))
      assert(built == 4, s"expected 4 distinct probe builds, got $built\n$plan")
      assert(reused == 6, s"expected 6 reused exchanges, got $reused\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("EXISTS under OR (the ExistenceJoin shape): flag partition, no BNLJ") {
    val lk = Lake(spark, sf0001)
    lk.customer.createOrReplaceTempView("orj_exf_c")
    lk.supplier.createOrReplaceTempView("orj_exf_s")
    val q = """SELECT c_custkey, c_name FROM orj_exf_c
              |WHERE c_mktsegment = 'MACHINERY' OR EXISTS (
              |  SELECT 1 FROM orj_exf_s
              |  WHERE c_acctbal = s_acctbal OR c_nationkey = s_nationkey)"""
      .stripMargin
    withRule(on = false) {
      assert(spark.sql(q).queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
    }
    val expected = withRule(on = false) { canon(spark.sql(q)) }
    withRule(on = true) {
      val df = spark.sql(q)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(canon(df) === expected)
    }
  }

  test("flag-form law: NOT EXISTS under OR, two EXISTS in one filter, nulls") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260820L)
    def maybe[T](v: T): Option[T] = if (rnd.nextInt(4) == 0) None else Some(v)
    val base = Seq.fill(30)((
      maybe(rnd.nextInt(6).toLong), maybe(s"g${rnd.nextInt(6)}"),
      rnd.nextInt(3)))
    (base ++ base.take(10)).toDF("k1", "k2", "tag")
      .createOrReplaceTempView("orj_fl_l")
    Seq.fill(25)((maybe(rnd.nextInt(6).toLong), maybe(s"g${rnd.nextInt(6)}")))
      .toDF("r1", "r2").createOrReplaceTempView("orj_fl_r")
    Seq.fill(15)((maybe(rnd.nextInt(6).toLong), maybe(s"g${rnd.nextInt(6)}")))
      .toDF("u1", "u2").createOrReplaceTempView("orj_fl_r2")
    val queries = Seq(
      // NOT EXISTS under OR
      "SELECT * FROM orj_fl_l WHERE tag = 0 OR NOT EXISTS (" +
        "SELECT 1 FROM orj_fl_r WHERE k1 = r1 OR k2 = r2)",
      // two EXISTS against different subqueries in one condition —
      // the fixed point rewrites both
      "SELECT * FROM orj_fl_l WHERE EXISTS (" +
        "SELECT 1 FROM orj_fl_r WHERE k1 = r1 OR k2 = r2) OR EXISTS (" +
        "SELECT 1 FROM orj_fl_r2 WHERE k1 = u1 OR k2 = u2)")
    for (q <- queries) {
      val expected = withRule(on = false) { canon(spark.sql(q)) }
      withRule(on = true) {
        val df = spark.sql(q)
        assert(!df.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"), q)
        assert(canon(df) === expected, s"diverged: $q")
      }
    }
  }

  // ---- Q19-class disjuncts: conjunctions with per-disjunct keys --------

  test("Q19-class OR join (conjunction disjuncts, per-disjunct keys): every join type") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260821L)
    def maybe[T](v: T): Option[T] = if (rnd.nextInt(5) == 0) None else Some(v)
    val left = Seq.fill(30)((
      maybe(rnd.nextInt(5).toLong), maybe(s"s${rnd.nextInt(5)}"),
      maybe(rnd.nextInt(40).toLong)
    )).toDF("k1", "k2", "v")
    val right = Seq.fill(25)((
      maybe(rnd.nextInt(5).toLong), maybe(s"s${rnd.nextInt(5)}"),
      maybe(rnd.nextInt(40).toLong)
    )).toDF("r1", "r2", "w")
    // disjunct 1 = key + non-equi residual, disjunct 2 = a DIFFERENT key
    // + same-side filter: no common equality exists, stock Spark has no
    // hash key and nests
    val cond = (col("k1") === col("r1") && col("v") < col("w")) ||
      (col("k2") === col("r2") && col("w") > lit(5L))
    for (jt <- Seq("inner", "left", "right", "full", "left_semi", "left_anti")) {
      def q() = left.join(right, cond, jt)
      withRule(on = false) {
        assert(q().queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"), s"fixture not nested at $jt")
      }
      val expected = withRule(on = false) { canon(q()) }
      withRule(on = true) {
        val df = q()
        assert(!df.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"), s"$jt still nested")
        assert(canon(df) === expected, s"joinType=$jt diverged")
      }
    }
  }

  test("factored common conjunct is distributed back into the disjuncts") {
    // A user writes (a=x AND f) OR (b=y AND f); BooleanSimplification
    // factors it to f AND (a=x OR b=y) in the SAME fixed point — with a
    // non-equi f, that shape has no hash key and stock Spark nests. The
    // rule distributes f back into each branch.
    val lk = Lake(spark, sf0001)
    def q() = lk.customer.join(lk.supplier,
      (col("c_nationkey") === col("s_nationkey") &&
        col("c_acctbal") < col("s_acctbal")) ||
        (col("c_name") === col("s_name") &&
          col("c_acctbal") < col("s_acctbal")), "left")
    withRule(on = false) {
      assert(q().queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
    }
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(canon(df) === expected)
    }
  }

  test("conjunction with a top-level equality stands down (stock already hash-joins)") {
    val lk = Lake(spark, sf0001)
    // a=x AND (b=y OR c=z): ExtractEquiJoinKeys hash-joins on a=x with
    // the Or as residual — one single-key join the branch union cannot
    // beat, so the rule must NOT fire
    def q() = lk.customer.join(lk.supplier,
      col("c_nationkey") === col("s_nationkey") &&
        (col("c_name") === col("s_name") ||
          col("c_acctbal") === col("s_acctbal")), "inner")
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(!plan.contains("Union"), s"rule must stand down\n$plan")
      assert(canon(df) === expected)
    }
  }

  test("EXISTS with a distributed OR (common non-equi conjunct): semi branches fire") {
    val lk = Lake(spark, sf0001)
    lk.customer.createOrReplaceTempView("orj_q19_c")
    lk.supplier.createOrReplaceTempView("orj_q19_s")
    val q = """SELECT c_custkey, c_name FROM orj_q19_c
              |WHERE EXISTS (SELECT 1 FROM orj_q19_s
              |  WHERE (c_nationkey = s_nationkey OR c_name = s_name)
              |    AND c_acctbal < s_acctbal)""".stripMargin
    withRule(on = false) {
      assert(spark.sql(q).queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
    }
    val expected = withRule(on = false) { canon(spark.sql(q)) }
    withRule(on = true) {
      val df = spark.sql(q)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("Union"), plan)
      assert(canon(df) === expected)
    }
  }

  test("EXISTS with a non-equi OR stays on the stock plan (no crash)") {
    val lk = Lake(spark, sf0001)
    lk.customer.createOrReplaceTempView("orj_ne_c")
    lk.supplier.createOrReplaceTempView("orj_ne_s")
    val q = """SELECT c_custkey FROM orj_ne_c
              |WHERE EXISTS (SELECT 1 FROM orj_ne_s
              |  WHERE c_acctbal < s_acctbal OR c_nationkey = s_nationkey)"""
      .stripMargin
    val expected = withRule(on = false) { canon(spark.sql(q)) }
    withRule(on = true) { assert(canon(spark.sql(q)) === expected) }
  }

  // ---- hint propagation (ADVICE r17) -----------------------------------

  test("broadcast-right hint survives the rewrite onto every rebuilt join") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join => LJoin}
    withRule(on = true) {
      val lk = Lake(spark, sf0001)
      for (jt <- Seq("left", "inner")) {
        val df = lk.customer.join(broadcast(lk.supplier),
          col("c_nationkey") === col("s_nationkey") ||
            col("c_name") === col("s_name"), jt)
        val joins = df.queryExecution.optimizedPlan.collect { case j: LJoin => j }
        assert(joins.nonEmpty, jt)
        assert(joins.forall(_.hint.rightHint.exists(
            _.strategy.contains(BROADCAST))),
          s"$jt: every branch/anti join must keep the right-side " +
            s"broadcast hint\n${df.queryExecution.optimizedPlan}")
      }
    }
  }

  test("broadcast-left hint: kept on branch joins, dropped from anti chains") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join => LJoin}
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    withRule(on = true) {
      val lk = Lake(spark, sf0001)
      val df = broadcast(lk.customer).join(lk.supplier,
        col("c_nationkey") === col("s_nationkey") ||
          col("c_name") === col("s_name"), "left")
      val joins = df.queryExecution.optimizedPlan.collect { case j: LJoin => j }
      val (anti, branch) = joins.partition(_.joinType == LeftAnti)
      assert(branch.nonEmpty && anti.nonEmpty)
      // inner branches honor the user's build-side intent...
      assert(branch.forall(_.hint.leftHint.exists(
        _.strategy.contains(BROADCAST))))
      // ...but a LeftAnti hash join can only build right, so the left
      // hint must NOT reach the complement chain (it would force the
      // nested-loop shape this rule removes)
      assert(anti.forall(_.hint.leftHint.isEmpty))
      assert(!df.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
    }
  }

  test("agg rule n=4 with stats: several exploders take IE (cost model at every n)") {
    import spark.implicits._
    import graft.operators.ZoneMapTable
    // ALL four keys are low-cardinality (ndv 2/3/2/3): every residual
    // branch materializes a near-cross-join — es.sum−es.max ≈ 1166 vs
    // IE overhead (2^4−1−4)·(40+25) = 715 — so the cost inequality must
    // keep inclusion–exclusion even at n=4 (ADVICE r17: no n≥4
    // short-circuit), executing the full 15-term IE plan.
    val base = "target/star_stage/orj_spec_ie4"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val l = (0 until 40).map(i =>
        (i.toLong, (i % 2).toLong, (i % 3).toLong, (i % 2).toLong, (i % 3).toLong))
      .toDF("g", "k1", "k2", "k3", "k4")
    val r = (0 until 25).map(i =>
        ((i % 2).toLong, (i % 3).toLong, ((i + 1) % 2).toLong, ((i + 1) % 3).toLong, i.toLong))
      .toDF("r1", "r2", "r3", "r4", "v")
    ZoneMapTable.write(l, s"$base/l", "g", Seq("g"), 1,
      sketchCols = Seq("k1", "k2", "k3", "k4"))
    ZoneMapTable.write(r, s"$base/r", "r1", Seq("r1"), 1,
      sketchCols = Seq("r1", "r2", "r3", "r4"))
    val lt = spark.read.parquet(s"$base/l/data")
    val rt = spark.read.parquet(s"$base/r/data")
    def q() = lt.join(rt,
        col("k1") === col("r1") || col("k2") === col("r2") ||
          col("k3") === col("r3") || col("k4") === col("r4"), "left")
      .groupBy("g").agg(count(col("v")).as("n"), sum(col("v")).as("s"))
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      assert(b0KeyOf(df) === "none", "the branch form must NOT fire")
      assert(df.queryExecution.optimizedPlan.toString.contains("__orj_t14_"),
        "the 15th IE term (the 4-way overlap) must be present")
      assert(canon(df) === expected)
    }
  }

  test("agg rule stats-pick resolves sketch names case-insensitively (ADVICE r17)") {
    val cust = spark.read.parquet(s"$statsStage/customer/data")
      .select("c_custkey", "c_name", "c_nationkey")
    val supp = spark.read.parquet(s"$statsStage/supplier/data")
      .select("s_suppkey", "s_name", "s_nationkey")
    // UPPERCASED predicate names resolve in the join (Spark's default
    // case-insensitive resolver) — the sketch lookup must match them too,
    // or the exploding nationkey predicate written second is not picked
    withRule(on = true) {
      val df = cust.join(supp,
          col("C_NAME") === col("S_NAME") ||
            col("C_NATIONKEY") === col("S_NATIONKEY"), "left")
        .groupBy("c_custkey")
        .agg(count(col("s_suppkey")).as("n"), min(col("s_name")).as("m"))
      val key = b0KeyOf(df)
      assert(key.equalsIgnoreCase("s_nationkey"),
        s"uppercase predicate names must still hit the sketches, got $key")
    }
  }

  // ---- eager aggregation over WIDENED (Q19-class) disjuncts (round 19)

  test("Q19 eager agg law: composite-key disjunct rides IE, vs nested loop") {
    // q97's join shape with a RIGHT-ONLY aggregate consumer: disjunct 2
    // is a conjunction of two equalities — a composite pre-aggregation
    // key — so the IE form applies (n=2, no stats) instead of the
    // pair-materializing bare union
    val lk = Lake(spark, sf0001)
    def q() = lk.customer.join(lk.supplier,
        col("c_custkey") === col("s_suppkey") ||
          (col("c_nationkey") === col("s_nationkey") &&
            col("c_acctbal") === col("s_acctbal")))
      .groupBy("c_custkey")
      .agg(count(col("s_suppkey")).as("n_match"),
        sum(col("s_acctbal")).as("bal"), min(col("s_name")).as("first_sup"))
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("__orj_t0_"), s"IE form must fire\n$opt")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && plan.contains("__orj_"), plan)
      assert(canon(df) === expected)
    }
  }

  test("right-only residual filters the pre-aggregation input, law") {
    val lk = Lake(spark, sf0001)
    def q() = lk.customer.join(lk.supplier,
        col("c_nationkey") === col("s_nationkey") ||
          (col("c_acctbal") === col("s_acctbal") && col("s_suppkey") < 50))
      .groupBy("c_custkey")
      .agg(count(col("s_suppkey")).as("n_match"),
        max(col("s_acctbal")).as("top_bal"))
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("__orj_t0_"), s"IE form must fire\n$opt")
      assert(df.queryExecution.executedPlan.toString.contains("__orj_"))
      assert(canon(df) === expected)
    }
  }

  test("mixed residual forces the branch form; branch 0 stays eligible, law") {
    val lk = Lake(spark, sf0001)
    // disjunct 2's residual references BOTH sides -> no pre-aggregation
    // for it: branch form, disjunct 1 pre-aggregates, disjunct 2 is a
    // real join with the residual riding the branch condition
    def q(order: Int) = {
      val p1 = col("c_custkey") === col("s_suppkey")
      val p2 = col("c_nationkey") === col("s_nationkey") &&
        col("c_acctbal") < col("s_acctbal")
      val cond = if (order == 0) p1 || p2 else p2 || p1
      lk.customer.join(lk.supplier, cond)
        .groupBy("c_custkey")
        .agg(count(col("s_suppkey")).as("n_match"),
          sum(col("s_acctbal")).as("bal"))
    }
    for (order <- Seq(0, 1)) {
      val expected = withRule(on = false) { canon(q(order)) }
      withRule(on = true) {
        val df = q(order)
        // branch 0 must be the ELIGIBLE (non-mixed) custkey disjunct in
        // BOTH written orders — written-second it must permute forward
        assert(b0KeyOf(df) === "s_suppkey", s"order=$order")
        assert(canon(df) === expected, s"order=$order diverged")
      }
    }
  }

  test("all-mixed disjuncts: eager bails to the bare union, law") {
    val lk = Lake(spark, sf0001)
    def q() = lk.customer.join(lk.supplier,
        (col("c_nationkey") === col("s_nationkey") &&
          col("c_acctbal") < col("s_acctbal")) ||
          (col("c_name") === col("s_name") &&
            col("c_acctbal") > col("s_acctbal")))
      .groupBy("c_custkey")
      .agg(count(col("s_suppkey")).as("n_match"))
    val expected = withRule(on = false) { canon(q()) }
    withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      // no eligible branch 0 -> the join-level branch rewrite (Union)
      // still removes the nested loop
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("Union"), plan)
      assert(canon(df) === expected)
    }
  }

  test("widened eager agg law: nulls in keys and residual columns") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260819L)
    def maybe[T](v: T): Option[T] = if (rnd.nextInt(4) == 0) None else Some(v)
    val l = Seq.fill(40)((
      maybe(rnd.nextInt(5).toLong), maybe(rnd.nextInt(5).toLong),
      rnd.nextInt(100))).toDF("k1", "k2", "g")
    val r = Seq.fill(30)((
      maybe(rnd.nextInt(5).toLong), maybe(rnd.nextInt(5).toLong),
      maybe(rnd.nextInt(40).toLong))).toDF("r1", "r2", "w")
    for (jt <- Seq("left", "inner")) {
      def q() = l.join(r,
          col("k1") === col("r1") ||
            (col("k2") === col("r2") && col("w") < 20), jt)
        .groupBy("g")
        .agg(count(col("w")).as("n"), sum(col("w")).as("s"),
          min(col("w")).as("mn"))
      val expected = withRule(on = false) { canon(q()) }
      withRule(on = true) {
        val df = q()
        assert(df.queryExecution.optimizedPlan.toString.contains("__orj_t0_"),
          s"jt=$jt: IE must fire")
        assert(canon(df) === expected, s"jt=$jt diverged")
      }
    }
  }

  test("EXISTS guard: DomainJoin-carrying subplans stand down to stock (ADVICE r18)") {
    import spark.implicits._
    // A correlated predicate UNDER an Aggregate inside the EXISTS subquery
    // decorrelates via a DomainJoin placeholder, and only stock
    // RewritePredicateSubquery's rewriteDomainJoins can eliminate it — the
    // rule building its partition join directly would retain the
    // DomainJoin, which has no physical strategy. The pulled-up condition
    // still passes equiDisjuncts (the OR distributes over the domain
    // conjunct), so without the guard this shape fails at planning.
    Seq((1L, 10L, 5L), (2L, 20L, 6L), (3L, 30L, 7L))
      .toDF("k1", "k2", "k3").createOrReplaceTempView("orj_dj_l")
    Seq((1L, 100L), (2L, 200L), (9L, 5L))
      .toDF("r1", "v").createOrReplaceTempView("orj_dj_r")
    val q = """SELECT * FROM orj_dj_l WHERE EXISTS (
              |  SELECT 1 FROM (
              |    SELECT r1, count(*) AS c FROM orj_dj_r
              |    WHERE v > orj_dj_l.k3 GROUP BY r1) s
              |  WHERE k1 = s.r1 OR k2 = s.c)""".stripMargin
    val expected = withRule(on = false) { canon(spark.sql(q)) }
    withRule(on = true) {
      val df = spark.sql(q)
      // must PLAN (no retained DomainJoin) and match stock's answer; the
      // BNLJ proves the rule actually STOOD DOWN on this shape (stock
      // plans the OR-semi as a nested loop) rather than the fixture
      // missing the extractor for some other reason
      assert(df.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
      assert(canon(df) === expected)
    }
  }

  test("nondeterministic subplans stand down: partition rewrites decline (ADVICE r18)") {
    val lk = Lake(spark, sf0001)
    // a rand() filter is legal Spark; duplicating that side across Union
    // branches would re-evaluate it per branch and break the
    // exactly-one-branch invariant — the rule must leave the join alone
    withRule(on = true) {
      // (a trivially-true rand predicate would be optimized away before
      // this rule's batch; 0.5 keeps the Filter in the optimized plan)
      for ((l, r) <- Seq(
          (lk.customer.filter(rand(7) > 0.5), lk.supplier),
          (lk.customer, lk.supplier.filter(rand(7) > 0.5)))) {
        val join = l.join(r,
          col("c_nationkey") === col("s_nationkey") ||
            col("c_name") === col("s_name"), "left")
        assert(join.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"),
          "nondeterministic subplan must keep the stock single-evaluation plan")
        // the eager-agg form has the same exposure and the same guard
        val agg = join.groupBy("c_custkey")
          .agg(count(col("s_suppkey")).as("n"))
        assert(agg.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"))
      }
    }
  }

  test("rule leaves non-equi OR joins alone") {
    withRule(on = true) {
      val lk = Lake(spark, sf0001)
      val df = lk.customer.join(lk.supplier,
        col("c_nationkey") === col("s_nationkey") ||
          col("c_acctbal") > col("s_acctbal"), "left")
      // inequality disjunct -> not rewritable -> still nested loop
      assert(df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    }
  }

  test("TypedMin/TypedMax == Min/Max on strings, and plan ObjectHashAggregate") {
    import spark.implicits._
    import org.apache.spark.sql.{GraftColumnBridge => B}
    import graft.plans.{TypedMin, TypedMax}
    // nulls, empty strings, multi-byte UTF-8, groups with no non-null
    // input — every edge Min/Max treat specially
    val rnd = new scala.util.Random(77)
    val pool = Seq("", "a", "à", "zz", "éclair", "Z", "0", "ab c")
    val rows: Seq[(Long, Option[String])] = (0 until 500).map { i =>
      (i.toLong % 37,
        if (rnd.nextInt(5) == 0) None
        else Some(pool(rnd.nextInt(pool.length)) + rnd.nextInt(100)))
    } ++ Seq((100L, None), (100L, None), (101L, Some("")))
    val df = rows.toDF("g", "s")
    def tmin(c: org.apache.spark.sql.Column) =
      B.column(TypedMin(B.expression(c)).toAggregateExpression())
    def tmax(c: org.apache.spark.sql.Column) =
      B.column(TypedMax(B.expression(c)).toAggregateExpression())
    val typed = df.groupBy("g").agg(tmin(col("s")).as("mn"),
      tmax(col("s")).as("mx"), count(col("s")).as("n"))
    val stock = df.groupBy("g").agg(min(col("s")).as("mn"),
      max(col("s")).as("mx"), count(col("s")).as("n"))
    assert(typed.orderBy("g").collect().map(_.toString).toSeq ===
      stock.orderBy("g").collect().map(_.toString).toSeq)
    // the whole point: the typed twins must plan hash-based, the stock
    // string min/max demotes to SortAggregate
    val typedPlan = typed.queryExecution.executedPlan.toString
    assert(typedPlan.contains("ObjectHashAggregate"), typedPlan)
    assert(stock.queryExecution.executedPlan.toString.contains("SortAggregate"))
  }

  // ---- fused terms: every pre-aggregating form reads each input once ----

  test("fused IE and min/max forms: one scan of each input, one Join, no Union") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Union}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val lk = Lake(spark, sf0001)
    val name = col("c_name") === col("s_name")
    val bal = col("c_acctbal") === col("s_acctbal")
    val nat = col("c_nationkey") === col("s_nationkey")
    val counting = Seq(count(col("s_suppkey")).as("n"),
      sum(col("s_acctbal")).as("s"), min(col("s_name")).as("mn"))
    val minMax = Seq(min(col("s_name")).as("mn"), max(col("s_acctbal")).as("mx"))
    for ((form, preds, aggs) <- Seq(
        ("IE n=2", Seq(name, nat), counting),
        ("IE n=3", Seq(name, bal, nat), counting),
        ("min/max n=3", Seq(name, bal, nat), minMax))) {
      def q() = lk.customer.join(lk.supplier, preds.reduce(_ || _), "left")
        .groupBy("c_custkey").agg(aggs.head, aggs.tail: _*)
      val expected = withRule(on = false) { canon(q()) }
      withRule(on = true) {
        val df = q()
        val opt = df.queryExecution.optimizedPlan
        assert(opt.toString.contains("__orj_t0_"), s"$form must fire\n$opt")
        val scans = opt.collectLeaves().collect {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation => fs.location.rootPaths.mkString(",")
          }
        }
        assert(scans.size === 2 && scans.distinct.size === 2,
          s"$form: one scan of each input\n$opt")
        assert(opt.collect { case j: Join => j }.size === 1, s"$form\n$opt")
        assert(opt.collect { case u: Union => u }.isEmpty, s"$form\n$opt")
        assert(canon(df) === expected, form)
      }
    }
  }

  test("fused form degenerate fixtures: rule-on ≡ rule-off") {
    import spark.implicits._
    // localCheckpoint keeps the optimizer from folding filters into the
    // local data (an empty right must stay empty at run time only, or
    // the join is pruned before the rule sees it)
    def fixture(df: org.apache.spark.sql.DataFrame) = df.localCheckpoint()
    val left = fixture(Seq(
      (Some(1L), Some(5L), Some("x"), Some(7L)),
      (Some(1L), Some(6L), Some("y"), Some(8L)),
      (Some(2L), Some(5L), Some("z"), None),
      (None, Some(5L), Some("x"), Some(7L)),      // null group key
      (None, None, None, None),
      (Some(3L), Some(9L), Some("w"), Some(9L))   // matches nothing
    ).toDF("g", "k1", "k2", "k3"))
    val right = fixture(Seq(
      (Some(5L), Some("x"), Some(7L), Some(100L)),
      (Some(5L), Some("y"), Some(8L), Some(200L)),
      (Some(6L), None, Some(7L), Some(300L)),
      (None, Some("x"), None, Some(400L)),
      (Some(5L), Some("x"), Some(8L), None)
    ).toDF("r1", "r2", "r3", "v"))
    val emptyRight = right.where(col("v") > 10000)
    val nullK2Left = fixture(Seq(
      (Some(1L), Some(5L), None: Option[String], Some(7L)),
      (Some(2L), Some(6L), None, None),
      (None, None, None, Some(8L))
    ).toDF("g", "k1", "k2", "k3"))
    // every right row under one k1 key
    val hotRight = fixture(Seq(
      (Some(5L), Some("x"), Some(7L), Some(100L)),
      (Some(5L), Some("y"), Some(8L), Some(200L)),
      (Some(5L), None, Some(7L), None),
      (Some(5L), Some("x"), None, Some(400L))
    ).toDF("r1", "r2", "r3", "v"))
    val two = col("k1") === col("r1") || col("k2") === col("r2")
    val three = two || col("k3") === col("r3")
    // a composite-key disjunct with a right-only residual
    val composite = (col("k1") === col("r1") && col("k2") === col("r2") &&
      col("v") > 150) || col("k3") === col("r3")
    val counting = Seq(count(col("v")).as("n"), sum(col("v")).as("s"),
      avg(col("v")).as("a"), min(col("r2")).as("mn"))
    val minMax = Seq(min(col("r2")).as("mn"), max(col("v")).as("mx"))
    val pairs = Seq(count(lit(1)).as("np"), sum(col("v")).as("s"))
    val cases = Seq(
      ("empty right side", left, emptyRight, three, "left", counting),
      ("empty right side, min/max", left, emptyRight, two, "left", minMax),
      ("all-null left keys on one predicate", nullK2Left, right, three,
        "left", counting),
      ("composite key with a right-only residual", left, right, composite,
        "left", counting),
      ("one key holds every right row", left, hotRight, three, "left",
        counting),
      ("one key holds every right row, min/max", left, hotRight, three,
        "left", minMax),
      ("null group key", left, right, two, "left", minMax),
      ("inner OR-join with count(*)", left, right, three, "inner", pairs),
      ("inner OR-join with count(*), empty right", left, emptyRight, two,
        "inner", pairs))
    for ((label, l, r, cond, jt, aggs) <- cases) {
      def q() = l.join(r, cond, jt).groupBy("g").agg(aggs.head, aggs.tail: _*)
      val expected = withRule(on = false) { canon(q()) }
      withRule(on = true) {
        val df = q()
        val opt = df.queryExecution.optimizedPlan.toString
        assert(opt.contains("__orj_t0_"), s"$label: fused form must fire\n$opt")
        assert(canon(df) === expected, label)
      }
    }
  }
}
