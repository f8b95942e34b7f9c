package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.OrEquiJoin

class OrEquiJoinSpec extends AnyFunSuite {
  import TestSpark._

  test("rewrite is multiset-identical to the naive OR left join") {
    val lk = Lake(spark, sf0001)
    val naive = lk.customer.join(lk.supplier,
      col("c_nationkey") === col("s_nationkey") || col("c_name") === col("s_name"),
      "left")
    val rewritten = OrEquiJoin.leftOrJoin(lk.customer, lk.supplier,
      ("c_nationkey", "s_nationkey"), ("c_name", "s_name"))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    }
    assert(canon(rewritten) === canon(naive))
  }

  test("rewrite plans hash joins, never a nested-loop join") {
    val lk = Lake(spark, sf0001)
    val key = graft.plans.OrEquiJoinRule.ConfKey
    val prev = spark.conf.get(key)
    // the operator rewrites its own join even where the session's rule
    // is disarmed
    for (armed <- Seq("true", "false")) {
      spark.conf.set(key, armed)
      try {
        val plan = OrEquiJoin.leftOrJoin(lk.customer, lk.supplier,
          ("c_nationkey", "s_nationkey"), ("c_name", "s_name"))
          .queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"armed=$armed")
      } finally spark.conf.set(key, prev)
    }
  }

  test("overlapping left/right column names are rejected up front") {
    import spark.implicits._
    val left = Seq((1L, "a")).toDF("id", "name")
    val right = Seq(("a", "x")).toDF("name", "other")
    val e = intercept[IllegalArgumentException] {
      OrEquiJoin.leftOrJoin(left, right, ("id", "other"))
    }
    assert(e.getMessage.contains("name"))
  }

  test("null join keys fall through to the null-complement branch") {
    import spark.implicits._
    val left = Seq((1L, Some("a"), Some("x")), (2L, None, None))
      .toDF("id", "k1", "k2")
    val right = Seq(("a", "q"), ("b", "x")).toDF("r1", "r2")
    val got = OrEquiJoin.leftOrJoin(left, right, ("k1", "r1"), ("k2", "r2"))
      .orderBy("id", "r1")
      .collect().map(r => (r.getLong(0), Option(r.getString(3)))).toSeq
    // id=1 matches ('a','q') via k1 AND ('b','x') via k2 — one output row
    // per matching right row; id=2 (all-null keys) survives with nulls
    assert(got === Seq((1L, Some("a")), (1L, Some("b")), (2L, None)))
  }
}
