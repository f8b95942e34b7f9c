package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import graft.operators.Expectations
import graft.operators.Expectations._

/** The expectation engine's counting laws on a fixture with every
  * violation kind present: null keys, out-of-range and out-of-set
  * values, regex misses, duplicated tuples, dangling references — and
  * the null-safety convention (a null is only a violation of NotNull,
  * never of a value predicate). */
class ExpectationsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val rows = Seq(
    // (id, qty, flag, code, ref)
    (Some(1L), Some(5.0), Some("A"), Some("ok-1"), Some(10L)),
    (Some(1L), Some(500.0), Some("A"), Some("ok-2"), Some(20L)), // dup id, qty high
    (Some(2L), None, Some("X"), Some("bad"), Some(30L)),         // bad flag+code, dangling ref
    (None, Some(-1.0), None, None, None),                        // null id, qty low
    (Some(3L), Some(7.5), Some("R"), Some("ok-3"), Some(10L)))
  private def df = rows.toDF("id", "qty", "flag", "code", "ref")
  private def refDf = Seq(10L, 20L).toDF("k")

  private def report = Expectations.validate(df, Seq(
    NotNull("id"),
    InRange("qty", lit(0.0), lit(100.0)),
    InSet("flag", Seq("A", "N", "R")),
    MatchesRegex("code", "^ok-"),
    Satisfies("qty_when_flagged", col("flag").isNull || col("qty").isNotNull),
    Unique(Seq("id")),
    RefersTo("ref", refDf, "k")))
    .collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap

  test("each check counts exactly its own violations over one fixture") {
    val got = report
    assert(got("not_null(id)") == ((1L, 5L, false)))
    // nulls are NOT range violations; 500 and -1 are
    assert(got("in_range(qty)") == ((2L, 5L, false)))
    // null flag is not a set violation; X is
    assert(got("in_set(flag)") == ((1L, 5L, false)))
    // null code not a regex violation; "bad" is
    assert(got("matches_regex(code)") == ((1L, 5L, false)))
    // row 3: flag=X present but qty null -> predicate false; null-row
    // predicate (null flag) -> isNull true -> satisfied
    assert(got("satisfies(qty_when_flagged)") == ((1L, 5L, false)))
    // id=1 appears twice: both rows count as violating
    assert(got("unique(id)") == ((2L, 5L, false)))
    // ref=30 dangles; the null ref is not a violation
    assert(got("refers_to(ref)") == ((1L, 5L, false)))
  }

  test("a clean table passes every check") {
    val clean = Seq((1L, 5.0, "A", "ok-1", 10L), (2L, 6.0, "N", "ok-2", 20L))
      .toDF("id", "qty", "flag", "code", "ref")
    val rep = Expectations.validate(clean, Seq(
      NotNull("id"), InRange("qty", lit(0.0), lit(100.0)),
      InSet("flag", Seq("A", "N", "R")), Unique(Seq("id")),
      RefersTo("ref", refDf, "k")))
    assert(rep.where(!col("passed")).count() == 0)
    assert(rep.count() == 5)
    assert(rep.select("n_rows").distinct().collect().map(_.getLong(0)).toSeq
      == Seq(2L))
  }

  test("duplicate check names are rejected; empty frames report 0/passed") {
    // two same-named checks would silently alias one aggregate column —
    // fail fast instead (a second band goes through Satisfies labels)
    val e = intercept[IllegalArgumentException] {
      Expectations.validate(df, Seq(
        InRange("qty", lit(0.0), lit(10.0)),
        InRange("qty", lit(5.0), lit(20.0))))
    }
    assert(e.getMessage.contains("in_range(qty)"))
    // every check family must report (0 violations, passed=true) on an
    // empty-but-valid frame — no NULL leaking out of empty aggregates
    val empty = df.where(lit(false))
    val rep = Expectations.validate(empty, Seq(
      NotNull("id"), InRange("qty", lit(0.0), lit(100.0)),
      Unique(Seq("id")), RefersTo("ref", refDf, "k"))).collect()
    assert(rep.length == 4)
    rep.foreach { r =>
      assert(!r.isNullAt(1) && r.getLong(1) == 0L, s"violations null/off: $r")
      assert(!r.isNullAt(3) && r.getBoolean(3), s"passed null/false: $r")
    }
  }

  test("row-local checks share one aggregate scan") {
    // all five row-local checks must live under a single Aggregate over
    // a single scan of the input — adding a check must not add a pass
    val rep = Expectations.validate(df, Seq(
      NotNull("id"), InRange("qty", lit(0.0), lit(100.0)),
      InSet("flag", Seq("A", "N", "R")), MatchesRegex("code", "^ok-"),
      Satisfies("p", col("id").isNotNull)))
    val scans = rep.queryExecution.optimizedPlan.collectLeaves().size
    assert(scans == 1, s"expected one scan for row-local checks, got $scans")
  }

  test("a reference larger than the broadcast threshold runs as a shuffle join") {
    // 2000 reference keys, each listed twice; the fact has dangling and
    // null refs. With the threshold below the reference's size the key
    // set must not be broadcast, and the report must not change.
    val ref = spark.range(2000).union(spark.range(2000)).toDF("k")
    val fact = spark.range(5000)
      .select(when(col("id") % 7 === 0, lit(null))
        .otherwise(col("id") % 2100).as("ref"))
    def run() = {
      val rep = Expectations.validate(fact,
        Seq(NotNull("ref"), RefersTo("ref", ref, "k")))
      (rep.collect().map(_.toString).toSeq, rep.queryExecution.executedPlan)
    }
    val (atDefault, _) = run()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    val refBytes = ref.queryExecution.optimizedPlan.stats.sizeInBytes
    spark.conf.set(key, (refBytes / 2).toString)
    val (below, plan) = try run() finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    assert(below == atDefault)
    val dangling = (0 until 5000).count(i => i % 7 != 0 && i % 2100 >= 2000)
    assert(below.contains(s"[refers_to(ref),$dangling,5000,false]"))
    val broadcasts = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) {
      case b: BroadcastExchangeLike => b
      case j: BroadcastHashJoinExec => j
    }
    assert(broadcasts.isEmpty, s"reference keys were broadcast:\n$plan")
  }
}
