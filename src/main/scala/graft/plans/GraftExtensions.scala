package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extensions registered on every graft session: exposes the
  * native expressions to the SQL surface (`SELECT cosine_similarity(a,b)`)
  * so SQL-text users get the same fused codegen path as the Column API.
  * Registered via the public `SparkSessionExtensions` hook — no session
  * internals touched. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarityExpr].getName, "cosine_similarity"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"cosine_similarity takes exactly 2 arguments, got ${exprs.length}")
        CosineSimilarityExpr(exprs(0), exprs(1))
      }))
    // opt-in via spark.graft.rewriteOrJoin (see OrEquiJoinRule scaladoc)
    e.injectOptimizerRule(_ => OrEquiJoinRule)
    // opt-in via spark.graft.rewriteNotIn (NullAwareAntiJoinRule)
    e.injectOptimizerRule(_ => NullAwareAntiJoinRule)
    // opt-in via spark.graft.rewriteMaterializedViews (MaterializedViewRule)
    e.injectOptimizerRule(_ => MaterializedViewRule)
    // opt-in via spark.graft.starOrderFromStats + a populated
    // StarStatsRegistry (StarOrderRule scaladoc)
    e.injectOptimizerRule(_ => StarOrderRule)
  }
}
