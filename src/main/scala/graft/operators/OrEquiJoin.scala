package graft.operators

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import graft.plans.OrEquiJoinRule

/** Hash-joinable `LEFT JOIN ... ON a = x OR b = y`.
  *
  * The reference joins its log stream to the artist dimension with an OR of
  * two equalities (reference `etl.py:147-151`). Catalyst cannot key a hash
  * join on a disjunction, so it plans BroadcastNestedLoopJoin —
  * O(|left| x |right|) comparisons. Harmless on 6,820 x 69 rows;
  * catastrophic at 100 TB (SURVEY.md §4).
  *
  * [[graft.plans.OrEquiJoinRule]] is the only implementation of the
  * rewrite (one hash-joinable branch per predicate plus the anti-join null
  * complement, multiset-identical to the OR join). A session configured by
  * [[graft.GraftSession]] arms it, so naive DataFrame or SQL OR joins need
  * no call here; this entry point applies the rule to its own join whatever
  * the session conf says.
  */
object OrEquiJoin {

  /** `left LEFT OUTER JOIN right ON OR_k (leftCol_k = rightCol_k)`, already
    * rewritten by [[graft.plans.OrEquiJoinRule.rewrite]]. */
  def leftOrJoin(left: DataFrame, right: DataFrame, preds: (String, String)*): DataFrame = {
    require(preds.nonEmpty, "at least one equality predicate")
    // Overlapping names would make the joined columns ambiguous.
    // Disjoint schemas are a precondition, not a silent corruption.
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"left and right column sets must be disjoint, overlap: ${overlap.mkString(", ")}")
    val naive = left.join(right,
      preds.map { case (l, r) => left(l) === right(r) }.reduce(_ || _), "left")
    GraftColumnBridge.dataFrame(left.sparkSession,
      OrEquiJoinRule.rewrite(naive.queryExecution.analyzed))
  }
}
