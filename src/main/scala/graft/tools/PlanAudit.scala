package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec

/** Automated plan-hygiene gate: walks every declared query's physical
  * plan and fails (exit 1) on the shapes that silently stop scaling —
  * an UNEXPECTED nested-loop/cartesian join (quadratic) or a WindowExec
  * with an EMPTY partition spec (Spark moves the whole input to ONE
  * partition: a serial point bounded only by input size). A small
  * allowlist names the queries whose nested-loop joins are the DESIGNED
  * broadcast patterns:
  *
  *  - s1/s4/s8/q24: a small broadcast query set scored against the
  *    corpus scan (brute-force top-k — the right plan when |queries| is
  *    tiny);
  *  - t12/t16/t21/t22/c7/c10/c11/s9: a 1-row scalar aggregate
  *    (corpus total / vocabulary size / id-space bound / min
  *    stratum volume / stratum count / feature-distribution totals)
  *    broadcast-crossed into a per-row computation (for c7 and c10,
  *    into the per-stratum count aggregate, itself tiny).
  *
  * No query is allowlisted for a global window: rank-over-everything is
  * always expressible as range-partition + per-partition rank + offset
  * add (see t18_encode), so there is no designed use of the shape.
  *
  * Everything else must plan as hash/sort-merge joins. Run after adding
  * a query: `runMain graft.tools.PlanAudit [sfDir]`.
  */
object PlanAudit {

  private val allowedNestedLoop = Set(
    // s14: s4's probe pattern twice (tiny query set × ≤2^planes
    // centroids, once inline and once from the persisted index);
    // s19: the same designed probe (tiny query set × ≤2^planes
    // centroids) on the serve-only path
    "s1_cosine_topk", "s4_ann_ivf", "s14_ivf_index", "s19_ivf_serve",
    "q24_sql_cosine",
    "s8_hard_negatives", "s9_random_negatives",
    // s12: two s1-shaped broadcast-query scans (full + truncated dims)
    "s12_truncation_eval",
    // s16: one s1-shaped broadcast-query scan (the cosine leg) plus
    // t27's 1-row corpus-stats cross (the BM25 leg)
    "s16_hybrid_rrf",
    "t12_tfidf", "t16_rare_tokens",
    "t21_lm_score", "t22_quality_buckets", "t26_lm_heldout", "t27_bm25",
    // t24: two 1-row corpus totals (unigram + bigram N) broadcast
    "t24_pmi_collocations",
    "c7_mixture_rebalance", "c10_token_budget", "c11_dsir_weights",
    // c12: the source-index rank is a strictly-smaller-count inequality
    // self-join over the DISTINCT source set — bounded by |sources|²,
    // broadcast, never data-sized (plus the 1-row source-count cross)
    "c12_interleave",
    // c13: per-stratum counts × 1-row global-min cross, broadcast —
    // bounded by |strata|, never data-sized (the c7 shape)
    "c13_temperature_mix",
    // q51: |event_types|² pair join over a broadcast per-type sketch
    // aggregate — bounded by the type domain, never data-sized
    "q51_theta_segments",
    // q54: |days|·maxOffset pair join over a broadcast per-day sketch
    // aggregate — bounded by the calendar, never data-sized
    "q54_theta_retention",
    // q55: same calendar-bounded broadcast window self-join as q54
    "q55_rolling_actives",
    // q57: two calendar-bounded broadcast window joins (sketch merge +
    // rank audit) — bounded by the calendar, never data-sized
    "q57_rolling_p95",
    // q58: two 1-row sketch aggregates crossed (the t12 class)
    "q58_join_estimate",
    "q43_skew_stats",
    // q99: the NOT-IN rewrite's 1-row cardinality-flag aggregate
    // broadcast-crossed onto the left (the t12 class); the LeftAnti
    // nested loop it REPLACES is asserted absent inside the gate itself
    "q99_not_in_null_aware")

  private val allowedGlobalWindow = Set.empty[String]

  /** Collects WindowExec nodes with no partition expressions, descending
    * through AQE wrappers and subquery plans (a plain .toString match
    * can't tell an empty partition spec from a populated one). */
  private def globalWindows(p: SparkPlan): Seq[WindowExec] = {
    val here = p match {
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
      case _ => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _ => p.children
    }
    here ++ (kids ++ p.subqueries).flatMap(globalWindows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local("graft-plan-audit")
    spark.sparkContext.setLogLevel("WARN")
    var bad = List.empty[String]
    SparkEntry.all.keys.toSeq.sorted.foreach { n =>
      val physical = SparkEntry.all(n).fn(spark, sfDir)
        .queryExecution.executedPlan
      val plan = physical.toString
      val nested = plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("CartesianProduct")
      val global = globalWindows(physical).nonEmpty
      if (nested && !allowedNestedLoop(n)) bad ::= n
      if (global && !allowedGlobalWindow(n)) bad ::= n
      val verdict =
        if (nested && !allowedNestedLoop(n)) "UNEXPECTED nested-loop/cartesian join"
        else if (global && !allowedGlobalWindow(n)) "UNEXPECTED unpartitioned (single-partition) window"
        else if (nested || global) "ok (allowlisted broadcast pattern)"
        else "ok"
      println(f"[audit] $n%-28s $verdict")
    }
    spark.stop()
    if (bad.nonEmpty) {
      System.err.println(s"[audit] FAILED: ${bad.distinct.sorted.mkString(", ")}")
      sys.exit(1)
    }
    println(s"[audit] PASS: ${SparkEntry.all.size} plans, 0 unexpected joins/windows")
  }
}
