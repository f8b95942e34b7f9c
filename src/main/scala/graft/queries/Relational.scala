package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Lake
import graft.operators.OrEquiJoin

/** Core relational operator inventory over the driver's star schema.
  *
  * Each query exercises one operator family from SURVEY.md §2a (projection
  * P1/P2, derived columns P3, filter F1, joins J1-J3, distinct A1,
  * repartition X1, the weekday derivation U1) plus the standard analytics
  * surface the reference lacks (sorts/limits, set ops, rollup/cube,
  * windows, semi/anti joins) so the engine is a complete replacement.
  *
  * Scale notes (100 TB mindset, verified on `.explain`):
  *  - dimension joins (`region`, `nation`, `supplier`) are explicitly
  *    broadcast — no shuffle of the fact side;
  *  - filters/projections sit directly on the scan so Parquet gets
  *    `PushedFilters` + pruned `ReadSchema`;
  *  - aggregates are exact-decimal, order-independent (safe under partial
  *    aggregation / AQE re-planning);
  *  - the OR-predicate left join (reference `etl.py:147-151`, a
  *    BroadcastNestedLoopJoin trap) is rewritten by
  *    [[graft.plans.OrEquiJoinRule]] to two hash joins + an anti join.
  */
object Relational {

  /** Exact money/quantity arithmetic: DECIMAL(18,2) keeps sums independent
    * of floating-point accumulation order across partitions. */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Zone-mapped customer/supplier copies whose writes persisted per-key
    * theta sketches — the decision input for the stats-picked OR-join
    * branch (q87, q93). Serve-path convention: build once if absent;
    * returns the stage root. */
  private def orjStatsStage(s: SparkSession, dir: String): String = {
    import graft.operators.ZoneMapTable
    val stage = s"target/star_stage/q87_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    if (!ZoneMapTable.isBuilt(s, s"$stage/customer")) {
      val lk = Lake(s, dir)
      ZoneMapTable.write(lk.customer, s"$stage/customer", "c_custkey",
        Seq("c_custkey"), 2,
        sketchCols = Seq("c_name", "c_acctbal", "c_custkey", "c_nationkey"))
      ZoneMapTable.write(lk.supplier, s"$stage/supplier", "s_suppkey",
        Seq("s_suppkey"), 1,
        sketchCols = Seq("s_name", "s_acctbal", "s_suppkey", "s_nationkey"))
    }
    stage
  }

  /** The right-side key the optimized plan's branch-0 pre-aggregation
    * groups on (the `__orj_b0_k0` alias) — "none" when the branch form
    * did not fire. */
  private def b0KeyOf(df: DataFrame): String = {
    import org.apache.spark.sql.catalyst.expressions.{Alias => CAlias}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAggregate}
    df.queryExecution.optimizedPlan.collectFirst {
      case ag: LAggregate if ag.aggregateExpressions.exists {
            case al: CAlias => al.name == "__orj_b0_k0"
            case _ => false
          } =>
        ag.aggregateExpressions.collectFirst {
          case al: CAlias if al.name == "__orj_b0_k0" =>
            al.child.references.map(_.name).toSeq.sorted.mkString(",")
        }.getOrElse("?")
    }.getOrElse("none")
  }

  val defs: Map[String, Q] = Map(

    // ---- F1 + P1: filter & projection pushed into the Parquet scan -----
    "q01_filter_project" -> Q(
      (s, dir) => Lake(s, dir).lineitem
        .where(col("l_returnflag") === "R" && col("l_quantity") < 10)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
      headline = true),

    // ---- groupBy aggregate (TPC-H Q1 shape) ----------------------------
    // Parallelism.ensure: the driver parquet has few row groups, so the
    // scan (and with it the map-side partial agg) runs 3-wide; the guard
    // re-parallelizes it (measured 1.6 -> 1.1s at sf0.1) and is a no-op
    // on real many-file inputs. Deliberately NOT applied to window
    // queries like q10 — their own exchange already re-parallelizes, and
    // a pre-shuffle repartition is a wasted extra pass (measured 1.2 ->
    // 1.7s).
    "q02_agg_pricing" -> Q(
      (s, dir) => graft.operators.Parallelism.ensure(Lake(s, dir).lineitem)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast(DoubleType).as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
      headline = true),

    // ---- J1 inner equi-joins + agg + top-k (TPC-H Q3 shape) ------------
    "q03_topk_revenue" -> Q(
      (s, dir) => {
        val lk = Lake(s, dir)
        lk.customer.where(col("c_mktsegment") === "BUILDING")
          .join(lk.orders, col("c_custkey") === col("o_custkey"))
          .where(col("o_orderdate") < lit("1999-01-01").cast(TimestampNTZType))
          .join(lk.lineitem, col("o_orderkey") === col("l_orderkey"))
          .where(col("l_shipdate") > lit("1999-01-01").cast(TimestampNTZType))
          // NTZ output (the registry convention): value-preserving under
          // the UTC session; with INT64-micros parquet output the dumped
          // type otherwise reads back tz-aware and breaks the oracle
          // compare (INT96 used to mask this)
          .withColumn("o_orderdate", col("o_orderdate").cast(TimestampNTZType))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast(DoubleType).as("revenue"))
          .orderBy(desc("revenue"), asc("l_orderkey"))
          .limit(10)
      },
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |  AND l_shipdate > TIMESTAMP '1999-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
      headline = true),

    // ---- broadcast star join: dims never shuffle the fact table --------
    "q04_star_revenue" -> Q(
      (s, dir) => {
        val lk = Lake(s, dir)
        lk.orders
          .join(lk.customer, col("o_custkey") === col("c_custkey"))
          .join(broadcast(lk.nation), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(lk.region), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(dsum(col("o_totalprice")).as("total_spend"),
               count(lit(1)).as("n_orders"))
          .orderBy("r_name", "n_name")
      },
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
      headline = true),

    // ---- J3-style left outer join (unmatched rows preserved) -----------
    "q05_left_join_spend" -> Q(
      (s, dir) => {
        val lk = Lake(s, dir)
        lk.customer
          .join(lk.orders, col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("n_orders"),
               coalesce(dsum(col("o_totalprice")), lit(0.0)).as("spend"))
          .orderBy("c_custkey")
      },
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),

    // ---- left-semi join (EXISTS) ---------------------------------------
    "q06_semi_join" -> Q(
      (s, dir) => {
        val lk = Lake(s, dir)
        lk.orders
          .join(lk.lineitem.where(col("l_quantity") >= 48),
                col("o_orderkey") === col("l_orderkey"), "left_semi")
          .select("o_orderkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
        |ORDER BY o_orderkey""".stripMargin),

    // ---- left-anti join (NOT EXISTS) -----------------------------------
    "q07_anti_join" -> Q(
      (s, dir) => {
        val lk = Lake(s, dir)
        lk.customer
          .join(lk.orders.where(col("o_orderstatus") === "P"),
                col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin),

    // ---- full outer join: unmatched rows survive from BOTH sides -------
    "q07b_full_outer" -> Q(
      (s, dir) => {
        val lk = Lake(s, dir)
        val rich = lk.customer.where(col("c_acctbal") > 9000)
          .select(col("c_custkey"), col("c_acctbal"))
        val busy = lk.orders.groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
          .where(col("n_orders") >= 25)
        rich.join(busy, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
            col("c_acctbal"), col("n_orders"))
          .orderBy("custkey")
      },
      """SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_acctbal, n_orders
        |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000) r
        |FULL JOIN (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        |           FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 25) b
        |  ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin),

    // ---- J2: left join on OR of equalities (reference etl.py:147-151).
    // Naive Spark plans BroadcastNestedLoopJoin (quadratic); OrEquiJoin
    // rewrites it to two hash joins + anti join, and the aggregate stays
    // on top of the materialized pairs. The oracle is the naive OR form —
    // results must be multiset-identical.
    "q08_or_join" -> Q(
      (s, dir) => {
        val lk = Lake(s, dir)
        OrEquiJoin.leftOrJoin(lk.customer, lk.supplier,
            ("c_nationkey", "s_nationkey"), ("c_name", "s_name"))
          .groupBy("c_custkey")
          .agg(count(col("s_suppkey")).as("n_match"),
               min(col("s_name")).as("first_sup"))
          .orderBy("c_custkey")
      },
      """SELECT c_custkey, COUNT(s_suppkey) AS n_match, MIN(s_name) AS first_sup
        |FROM customer LEFT JOIN supplier
        |  ON c_nationkey = s_nationkey OR c_name = s_name
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
      headline = true),

    // ---- eager aggregation through the OR-join --------------------------
    // Same answer as q08, NEVER materializing the joined multiset. q08's
    // output is quadratic in SF by semantics (the 25-value nationkey
    // branch emits |customer|·|supplier|/25 pairs: 600k at sf0.1, 60M at
    // sf1 — measured 40.6× runtime at 10× data). Written as the naive
    // DataFrame agg-over-OR-join: the session's armed OrEquiJoinRule
    // plans it eagerly (every stage |left|- or |right|-sized, so THIS
    // plan scales linearly where q08 cannot) — the DataFrame twin of
    // q82's SQL text. Gated against the identical oracle.
    "q81_or_join_rollup" -> Q(
      (s, dir) => {
        val lk = Lake(s, dir)
        lk.customer.join(lk.supplier,
            col("c_nationkey") === col("s_nationkey") ||
              col("c_name") === col("s_name"), "left")
          .groupBy("c_custkey")
          .agg(count(col("s_suppkey")).as("n_match"),
               min(col("s_name")).as("first_sup"))
          .orderBy("c_custkey")
      },
      """SELECT c_custkey, COUNT(s_suppkey) AS n_match, MIN(s_name) AS first_sup
        |FROM customer LEFT JOIN supplier
        |  ON c_nationkey = s_nationkey OR c_name = s_name
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
      headline = true),

    // ---- the q81 plan, reached AUTOMATICALLY by the optimizer rule -----
    // Identical SQL text to q08 — no operator call anywhere — run on the
    // caller's session, where GraftSession arms spark.graft.rewriteOrJoin.
    // OrEquiJoinRule's Aggregate(Join(OR)) case rewrites it to the
    // eager-aggregation plan (inclusion–exclusion terms, each input read
    // once), so SQL/DataFrame users writing the natural agg-over-or-join
    // never materialize the quadratic pair multiset. The plan shape is
    // hash-gated: `plan_eager` is TRUE only when the executed plan carries
    // the rule's `__orj_` columns and no nested-loop join.
    "q82_or_join_auto" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT c_custkey, COUNT(s_suppkey) AS n_match,
            |  MIN(s_name) AS first_sup
            |FROM customer LEFT JOIN supplier
            |  ON c_nationkey = s_nationkey OR c_name = s_name
            |GROUP BY c_custkey""".stripMargin)
        // Assert the shape of the plan that will EXECUTE, not the bare
        // inner aggregate: the decorating select/orderBy re-optimizes,
        // and CollapseProject folds the literal column into the
        // Aggregate's output list — which once demoted the final plan
        // to the pair-materializing rewrite while the inner-plan check
        // still read eager (the r15 q82 bug: 34s vs 1.2s at sf1). The
        // literal's VALUE cannot change the plan shape, so a false
        // placeholder sees the same plan the real result runs.
        def decorate(eager: Boolean) =
          df.select(col("c_custkey"), col("n_match"), col("first_sup"),
              lit(eager).as("plan_eager"))
            .orderBy("c_custkey")
        val plan = decorate(eager = false)
          .queryExecution.executedPlan.toString
        decorate(!plan.contains("BroadcastNestedLoopJoin") &&
          plan.contains("__orj_"))
      },
      """SELECT c_custkey, COUNT(s_suppkey) AS n_match, MIN(s_name) AS first_sup,
        |  TRUE AS plan_eager
        |FROM customer LEFT JOIN supplier
        |  ON c_nationkey = s_nationkey OR c_name = s_name
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
      headline = true),

    // ---- the ORDER-ROBUST automatic plan: exploding predicate SECOND --
    // q08/q82 write the exploding 25-value nationkey predicate first (the
    // branch form's contract). This gate writes it SECOND — the shape
    // that used to be the last reachable scale cliff — with count/sum
    // consumers, so the rule's inclusion–exclusion plan fires:
    // agg(p1 OR p2) = agg(p1) + agg(p2) − agg(p1 AND p2), every term's
    // supplier side pre-aggregated on its key(s). All three terms are
    // |customer|- or |supplier|-bounded regardless of predicate order.
    // Plan shape is hash-gated exactly like q82.
    "q83_or_join_worst_order" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT c_custkey, COUNT(s_suppkey) AS n_match,
            |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
            |FROM customer LEFT JOIN supplier
            |  ON c_name = s_name OR c_nationkey = s_nationkey
            |GROUP BY c_custkey""".stripMargin)
        def decorate(eager: Boolean) =
          df.select(col("c_custkey"), col("n_match"), col("bal"),
              lit(eager).as("plan_eager"))
            .orderBy("c_custkey")
        val plan = decorate(eager = false)
          .queryExecution.executedPlan.toString
        decorate(!plan.contains("BroadcastNestedLoopJoin") &&
          plan.contains("__orj_"))
      },
      """SELECT c_custkey, COUNT(s_suppkey) AS n_match,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |  TRUE AS plan_eager
        |FROM customer LEFT JOIN supplier
        |  ON c_name = s_name OR c_nationkey = s_nationkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
      headline = true),

    // ---- ORDER-ROBUST min/max: per-predicate LEAST/GREATEST terms -----
    // min/max ignore multiplicity and overlap, so the rule serves
    // `MIN/MAX over (p1 OR .. OR pn)` as LEAST/GREATEST of n per-
    // predicate terms, each term's supplier side pre-aggregated on its
    // OWN key — no inclusion–exclusion, no 2^n blowup, and no "exploding
    // predicate first" contract (it is written SECOND here, the shape
    // that used to force the quadratic branch). Plan shape hash-gated
    // exactly like q82/q83.
    "q84_or_join_minmax" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT c_custkey, MIN(s_name) AS first_sup,
            |  MAX(s_acctbal) AS top_bal
            |FROM customer LEFT JOIN supplier
            |  ON c_name = s_name OR c_nationkey = s_nationkey
            |GROUP BY c_custkey""".stripMargin)
        def decorate(eager: Boolean) =
          df.select(col("c_custkey"), col("first_sup"), col("top_bal"),
              lit(eager).as("plan_eager"))
            .orderBy("c_custkey")
        val plan = decorate(eager = false)
          .queryExecution.executedPlan.toString
        decorate(!plan.contains("BroadcastNestedLoopJoin") &&
          plan.contains("__orj_"))
      },
      """SELECT c_custkey, MIN(s_name) AS first_sup, MAX(s_acctbal) AS top_bal,
        |  TRUE AS plan_eager
        |FROM customer LEFT JOIN supplier
        |  ON c_name = s_name OR c_nationkey = s_nationkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
      headline = true),

    // ---- ORDER-ROBUST 3-predicate IE: exploding predicate LAST --------
    // The generalized inclusion–exclusion plan (round 16): at three
    // predicates `agg(p1 OR p2 OR p3)` decomposes over all 7 non-empty
    // subsets, every term's supplier side pre-aggregated on its
    // composite key — |left|/|right|-bounded for ANY predicate order.
    // The exploding 25-value nationkey predicate is written LAST (the
    // worst shape for the branch form), count/sum/avg AND min mix in
    // one aggregate, and the plan shape rides the hash like q82/q83.
    "q86_or_join_3pred" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT c_custkey, COUNT(s_suppkey) AS n_match,
            |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
            |  MIN(s_name) AS first_sup
            |FROM customer LEFT JOIN supplier
            |  ON c_name = s_name OR c_acctbal = s_acctbal
            |    OR c_nationkey = s_nationkey
            |GROUP BY c_custkey""".stripMargin)
        def decorate(eager: Boolean) =
          df.select(col("c_custkey"), col("n_match"), col("bal"),
              col("first_sup"), lit(eager).as("plan_eager"))
            .orderBy("c_custkey")
        val plan = decorate(eager = false)
          .queryExecution.executedPlan.toString
        decorate(!plan.contains("BroadcastNestedLoopJoin") &&
          plan.contains("__orj_"))
      },
      """SELECT c_custkey, COUNT(s_suppkey) AS n_match,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |  MIN(s_name) AS first_sup,
        |  TRUE AS plan_eager
        |FROM customer LEFT JOIN supplier
        |  ON c_name = s_name OR c_acctbal = s_acctbal
        |    OR c_nationkey = s_nationkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
      headline = true),

    // ---- STATS-PICKED branch 0 at n=4: exploding predicate LAST --------
    // Four predicates with count/sum consumers is the branch-partition
    // form (IE would cost 15 pre-aggregated joins) — the one shape whose
    // cost bound used to require the exploding predicate written FIRST.
    // Here it is written LAST, and the inputs are zone-map tables whose
    // writes persisted per-key theta sketches: OrEquiJoinRule stats-picks
    // the 25-value nationkey predicate as branch 0 (largest estimated
    // join output |L|·|R|/max(ndv) — a registry lookup + driver sketch
    // reads, zero plan-time jobs), so the only pre-aggregated branch is
    // exactly the one that would have exploded. Hash-gated twice: the
    // q82 eager-shape check (no BNLJ, no Union in the EXECUTED plan) and
    // the picked branch-0 key extracted from the optimized plan's
    // `__orj_b0_k0` pre-aggregation alias — a mis-pick fails the
    // compare. Serve-path convention (q64/q85): tables build once if
    // absent; the timed work is the transparent pick + the join.
    "q87_or_join_stats_pick" -> Q(
      (s, dir) => {
        val stage = orjStatsStage(s, dir)
        // LAZY path (q85 gates the explicit loadStarStats form): drop any
        // in-JVM registration so the rule's first registry miss must
        // re-load the persisted `_starstats` sidecar itself — driver-side
        // parquet read, zero Spark jobs. Without that load there are no
        // stats, branch 0 stays the written-first c_name predicate, and
        // the b0_key hash below fails — the lazy load is oracle-gated.
        for (t <- Seq("customer", "supplier"))
          graft.plans.StarStatsRegistry.deregister(
            graft.plans.StarStatsRegistry.qualify(s, s"$stage/$t/data"))
        graft.Lake.read(s, s"$stage/customer/data")
          .createOrReplaceTempView("customer_zm")
        graft.Lake.read(s, s"$stage/supplier/data")
          .createOrReplaceTempView("supplier_zm")
        val df = s.sql(
          """SELECT c_custkey, COUNT(s_suppkey) AS n_match,
            |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
            |FROM customer_zm LEFT JOIN supplier_zm
            |  ON c_name = s_name OR c_acctbal = s_acctbal
            |    OR c_custkey = s_suppkey OR c_nationkey = s_nationkey
            |GROUP BY c_custkey""".stripMargin)
        def decorate(eager: Boolean, b0Key: String) =
          df.select(col("c_custkey"), col("n_match"), col("bal"),
              lit(eager).as("plan_eager"), lit(b0Key).as("b0_key"))
            .orderBy("c_custkey")
        // probe the plan that will EXECUTE (the q82 discipline: literal
        // values cannot change the plan shape)
        val probe = decorate(eager = false, b0Key = "probe")
        val planStr = probe.queryExecution.executedPlan.toString
        decorate(!planStr.contains("BroadcastNestedLoopJoin") &&
          planStr.contains("__orj_"), b0KeyOf(probe))
      },
      """SELECT c_custkey, COUNT(s_suppkey) AS n_match,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |  TRUE AS plan_eager, 's_nationkey' AS b0_key
        |FROM customer LEFT JOIN supplier
        |  ON c_name = s_name OR c_acctbal = s_acctbal
        |    OR c_custkey = s_suppkey OR c_nationkey = s_nationkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
      headline = true),

    // ---- stats-pick under a FILTERED fact scan (round 18) --------------
    // A user's WHERE clause must not silently lose the optimization:
    // StarStatsRegistry.statsUnder sees through deterministic Filters
    // (and attribute-only Projects), handing the rule the whole-table
    // sketches as documented OVER-estimates — OR commutes, so a
    // filter-blind estimate can only mis-order semantically equal
    // branches, never corrupt. Same q87 inputs and predicates, with the
    // fact filtered to ~1/5 of its rows (c_mktsegment = 'BUILDING');
    // the pick must still land on the exploding nationkey predicate and
    // the eager shape must still fire, both inside the oracle hash.
    // Zero plan-time jobs is spec-asserted (OrEquiJoinRuleSpec).
    "q93_or_join_filtered_pick" -> Q(
      (s, dir) => {
        val stage = orjStatsStage(s, dir)
        graft.Lake.read(s, s"$stage/customer/data")
          .createOrReplaceTempView("customer_zm")
        graft.Lake.read(s, s"$stage/supplier/data")
          .createOrReplaceTempView("supplier_zm")
        val df = s.sql(
          """SELECT c_custkey, COUNT(s_suppkey) AS n_match,
            |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
            |FROM customer_zm LEFT JOIN supplier_zm
            |  ON c_name = s_name OR c_acctbal = s_acctbal
            |    OR c_custkey = s_suppkey OR c_nationkey = s_nationkey
            |WHERE c_mktsegment = 'BUILDING'
            |GROUP BY c_custkey""".stripMargin)
        def decorate(eager: Boolean, b0Key: String) =
          df.select(col("c_custkey"), col("n_match"), col("bal"),
              lit(eager).as("plan_eager"), lit(b0Key).as("b0_key"))
            .orderBy("c_custkey")
        val probe = decorate(eager = false, b0Key = "probe")
        val planStr = probe.queryExecution.executedPlan.toString
        decorate(!planStr.contains("BroadcastNestedLoopJoin") &&
          planStr.contains("__orj_"), b0KeyOf(probe))
      },
      """SELECT c_custkey, COUNT(s_suppkey) AS n_match,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |  TRUE AS plan_eager, 's_nationkey' AS b0_key
        |FROM customer LEFT JOIN supplier
        |  ON c_name = s_name OR c_acctbal = s_acctbal
        |    OR c_custkey = s_suppkey OR c_nationkey = s_nationkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),

    // ---- eager aggregation over the RIGHT OUTER OR-join (round 18) -----
    // A RIGHT JOIN is a LEFT JOIN with the sides swapped, and an
    // aggregate consumer replaces the join wholesale — so grouping on
    // the preserved supplier side with customer-side aggregate args
    // commutes into the same eager machinery (q81/q82 family): the
    // exploding nationkey predicate written LAST, per-branch partials,
    // no pair materialization. Plan shape hash-gated as q82 (no BNLJ,
    // no Union in the EXECUTED plan).
    "q94_or_join_right_agg" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT s_suppkey, COUNT(c_custkey) AS n_match,
            |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
            |  MIN(c_name) AS first_cust
            |FROM customer RIGHT JOIN supplier
            |  ON c_name = s_name OR c_nationkey = s_nationkey
            |GROUP BY s_suppkey""".stripMargin)
        def decorate(eager: Boolean) =
          df.select(col("s_suppkey"), col("n_match"), col("bal"),
              col("first_cust"), lit(eager).as("plan_eager"))
            .orderBy("s_suppkey")
        val plan = decorate(eager = false)
          .queryExecution.executedPlan.toString
        decorate(!plan.contains("BroadcastNestedLoopJoin") &&
          plan.contains("__orj_"))
      },
      """SELECT s_suppkey, COUNT(c_custkey) AS n_match,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |  MIN(c_name) AS first_cust, TRUE AS plan_eager
        |FROM customer RIGHT JOIN supplier
        |  ON c_name = s_name OR c_nationkey = s_nationkey
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
      headline = true),

    // ---- DECIMAL AVG through the eager OR-join plan (round 17) ---------
    // AVG(CAST(.. AS DECIMAL(18,2))) over the exploding OR, exploding
    // predicate written SECOND: the IE plan fires with the merged
    // (sum, count) partials substituted into Average's OWN decimal
    // evaluateExpression (DecimalDivideWithOverflowCheck, result
    // DECIMAL(22,6), HALF_UP at the 6th decimal) — previously the one
    // consumer type that fell back to the pair-materializing rewrite.
    // Oracle exactness: DuckDB's AVG(DECIMAL) is a DOUBLE division, so a
    // round-at-4dp compare can flip on exact .5 boundaries (a count-8
    // group whose cent-sum is odd lands exactly on the 5th decimal);
    // instead the oracle reproduces Spark's half-up-at-6dp quotient with
    // INTEGER arithmetic — cents = exact BIGINT sum, micros =
    // (2·|cents|·10^4 + n) // (2n) signed — and both sides emit the
    // correctly-rounded double of the same exact 6dp rational, so the
    // hash compare is exact at every SF. Plan shape hash-gated as q82.
    "q88_or_join_decimal_avg" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT c_custkey, COUNT(s_suppkey) AS n_match,
            |  CAST(AVG(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
            |    AS avg_bal
            |FROM customer LEFT JOIN supplier
            |  ON c_name = s_name OR c_nationkey = s_nationkey
            |GROUP BY c_custkey""".stripMargin)
        def decorate(eager: Boolean) =
          df.select(col("c_custkey"), col("n_match"), col("avg_bal"),
              lit(eager).as("plan_eager"))
            .orderBy("c_custkey")
        val plan = decorate(eager = false)
          .queryExecution.executedPlan.toString
        decorate(!plan.contains("BroadcastNestedLoopJoin") &&
          plan.contains("__orj_"))
      },
      """WITH j AS (
        |  SELECT c_custkey, COUNT(s_suppkey) AS n_match,
        |    SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS cents,
        |    COUNT(s_acctbal) AS n
        |  FROM customer LEFT JOIN supplier
        |    ON c_name = s_name OR c_nationkey = s_nationkey
        |  GROUP BY c_custkey)
        |SELECT c_custkey, CAST(n_match AS BIGINT) AS n_match,
        |  CASE WHEN n = 0 THEN NULL
        |       WHEN cents >= 0 THEN
        |         CAST((2*cents*10000 + n) // (2*n) AS DOUBLE) / 1000000.0
        |       ELSE
        |         -(CAST((2*(-cents)*10000 + n) // (2*n) AS DOUBLE)
        |           / 1000000.0)
        |  END AS avg_bal,
        |  TRUE AS plan_eager
        |FROM j ORDER BY c_custkey""".stripMargin,
      headline = true),

    // ---- INNER OR-join through the rule (round 17) ---------------------
    // Catalyst's ExtractEquiJoinKeys needs conjunctive equalities, so an
    // INNER join keyed on a disjunction also falls to
    // BroadcastNestedLoopJoin. The rule serves it with the same
    // first-satisfied-predicate branch partition as the left-outer form,
    // minus the null-complement branch. The MIN argument deliberately
    // MIXES left and right columns (s_name || '/' || c_name) — an
    // aggregate unit the eager rewrite rejects (args must be right-side
    // only) — so the BARE inner Union path is what executes and what the
    // oracle hash gates (ADVICE r17: with a right-only min, count(*) +
    // min both decompose and the eager form would fire instead, leaving
    // the bare path spec-gated only). Because the bare path MATERIALIZES
    // the pair multiset, the predicates are the selective custkey/acctbal
    // pair — custkey=suppkey is 1:1 so the output is |S|-bounded and
    // non-empty at every scale — the r17
    // nationkey form under the eager plan never materialized anything,
    // but on the bare path it would be a second q08-class quadratic
    // headline (measured 40 s / ratio 28 at sf1 before this switch).
    // Plan gate: no BNLJ AND the branch Union present.
    "q89_or_join_inner" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT c_custkey, COUNT(*) AS n_match,
            |  MIN(s_name || '/' || c_name) AS pair_tag
            |FROM customer JOIN supplier
            |  ON c_custkey = s_suppkey OR c_acctbal = s_acctbal
            |GROUP BY c_custkey""".stripMargin)
        def decorate(bareUnion: Boolean) =
          df.select(col("c_custkey"),
              col("n_match").cast("long").as("n_match"),
              col("pair_tag"), lit(bareUnion).as("plan_bare_union"))
            .orderBy("c_custkey")
        val plan = decorate(bareUnion = false)
          .queryExecution.executedPlan.toString
        decorate(!plan.contains("BroadcastNestedLoopJoin") &&
          plan.contains("Union"))
      },
      """SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_match,
        |  MIN(s_name || '/' || c_name) AS pair_tag, TRUE AS plan_bare_union
        |FROM customer JOIN supplier
        |  ON c_custkey = s_suppkey OR c_acctbal = s_acctbal
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
      headline = true),

    // ---- eager aggregation over the INNER OR-join (round 17) -----------
    // q89 gates the bare pair-union path; this gate never
    // materializes it: the rule's eager form also reaches INNER joins,
    // where count(*) IS decomposable (every emitted row is a matched
    // pair) and the left-outer group completeness is replaced by a
    // pair-count > 0 filter — customers with no matching supplier are
    // ABSENT here, not zero rows (1477 groups at sf0.01, not 1500).
    // Exploding predicate written LAST (order-robust IE at n=2); plan
    // shape hash-gated: no BNLJ AND no Union.
    "q90_or_join_inner_agg" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT c_custkey, COUNT(*) AS n_pairs,
            |  COUNT(s_suppkey) AS n_match,
            |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
            |FROM customer JOIN supplier
            |  ON c_name = s_name OR c_nationkey = s_nationkey
            |GROUP BY c_custkey""".stripMargin)
        def decorate(eager: Boolean) =
          df.select(col("c_custkey"), col("n_pairs"), col("n_match"),
              col("bal"), lit(eager).as("plan_eager"))
            .orderBy("c_custkey")
        val plan = decorate(eager = false)
          .queryExecution.executedPlan.toString
        decorate(!plan.contains("BroadcastNestedLoopJoin") &&
          plan.contains("__orj_"))
      },
      """SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  COUNT(s_suppkey) AS n_match,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |  TRUE AS plan_eager
        |FROM customer JOIN supplier
        |  ON c_name = s_name OR c_nationkey = s_nationkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
      headline = true),

    // ---- FULL OUTER OR-join (round 18): the type matrix closed ---------
    // The last nested-loop OR shape: `FULL JOIN ... ON a=x OR b=y` got
    // Catalyst's BNLJ until this round. The rule now unions the matched-
    // pair branches with BOTH null complements (left rows matching no
    // predicate null-extended right, and the mirrored right complement).
    // The mostly-unmatched name/acctbal predicates make BOTH complements
    // carry real rows (a nationkey predicate would match every row and
    // leave the new complement branches empty), and keep the output
    // |L|+|R|-bounded at every scale. The aggregate groups on
    // COALESCE(c_nationkey, -1) so right-only rows land in one
    // deterministic group; left_only/right_only pin the two complements
    // in the oracle hash. FullOuter is outside the eager-agg rewrite, so the plan gate
    // asserts the branch Union IS present and no BNLJ remains.
    "q91_or_join_full" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT COALESCE(c_nationkey, -1) AS nat_grp, COUNT(*) AS n_rows,
            |  SUM(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END)
            |    AS left_only,
            |  SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
            |    AS right_only
            |FROM customer FULL JOIN supplier
            |  ON c_name = s_name OR c_acctbal = s_acctbal
            |GROUP BY COALESCE(c_nationkey, -1)""".stripMargin)
        def decorate(rewritten: Boolean) =
          df.select(col("nat_grp"),
              col("n_rows").cast("long").as("n_rows"),
              col("left_only").cast("long").as("left_only"),
              col("right_only").cast("long").as("right_only"),
              lit(rewritten).as("plan_hash_joins"))
            .orderBy("nat_grp")
        val plan = decorate(rewritten = false)
          .queryExecution.executedPlan.toString
        decorate(!plan.contains("BroadcastNestedLoopJoin") &&
          plan.contains("Union"))
      },
      """SELECT COALESCE(c_nationkey, -1) AS nat_grp,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS left_only,
        |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS right_only,
        |  TRUE AS plan_hash_joins
        |FROM customer FULL JOIN supplier
        |  ON c_name = s_name OR c_acctbal = s_acctbal
        |GROUP BY COALESCE(c_nationkey, -1) ORDER BY nat_grp""".stripMargin,
      headline = true),

    // ---- RIGHT OUTER OR-join (round 18) --------------------------------
    // The mirrored form: matched-pair branches + the RIGHT null
    // complement (suppliers matching no customer, null-extended left).
    // s_suppkey is the preserved side so it is never null; unmatched
    // counts c_custkey nulls. Non-headline: q91 carries the bench cost
    // for the family, this gates the mirror's correctness tri-scale.
    "q92_or_join_right" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT s_suppkey, COUNT(*) AS n_rows,
            |  SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
            |    AS unmatched,
            |  MIN(c_name) AS first_cust
            |FROM customer RIGHT JOIN supplier
            |  ON c_name = s_name OR c_acctbal = s_acctbal
            |GROUP BY s_suppkey""".stripMargin)
        def decorate(rewritten: Boolean) =
          df.select(col("s_suppkey"),
              col("n_rows").cast("long").as("n_rows"),
              col("unmatched").cast("long").as("unmatched"),
              col("first_cust"), lit(rewritten).as("plan_hash_joins"))
            .orderBy("s_suppkey")
        val plan = decorate(rewritten = false)
          .queryExecution.executedPlan.toString
        decorate(!plan.contains("BroadcastNestedLoopJoin") &&
          plan.contains("Union"))
      },
      """SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS unmatched,
        |  MIN(c_name) AS first_cust, TRUE AS plan_hash_joins
        |FROM customer RIGHT JOIN supplier
        |  ON c_name = s_name OR c_acctbal = s_acctbal
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin),

    // ---- EXISTS with an OR of correlated equalities (round 18) ---------
    // The semi/anti shapes finish the OR-join type matrix. Stock Spark
    // turns `WHERE EXISTS (... a=x OR b=y)` into a LeftSemi join in
    // RewritePredicateSubquery — a batch that runs AFTER every injected
    // optimizer rule, so without the early Filter(Exists) case the user
    // gets the nested-loop semi join no matter what the rule knows. The
    // rewrite is the first-match partition over LEFT ROWS: branch k =
    // (customer ANTI p1..p(k-1)) SEMI pk — disjoint, |L|-bounded at
    // every stage, probe sides pruned to their key columns. acctbal
    // rarely matches and nationkey commonly does, so BOTH branches carry
    // rows. Plan gate: no BNLJ AND the branch Union present. Headline:
    // the first timed semi-join family member.
    "q95_or_join_semi" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT c_custkey, c_name, c_mktsegment FROM customer
            |WHERE EXISTS (SELECT 1 FROM supplier
            |  WHERE c_acctbal = s_acctbal OR c_nationkey = s_nationkey)"""
            .stripMargin)
        def decorate(rewritten: Boolean) =
          df.select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
              lit(rewritten).as("plan_semi_union"))
            .orderBy("c_custkey")
        val plan = decorate(rewritten = false)
          .queryExecution.executedPlan.toString
        decorate(!plan.contains("BroadcastNestedLoopJoin") &&
          plan.contains("Union"))
      },
      """SELECT c_custkey, c_name, c_mktsegment, TRUE AS plan_semi_union
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM supplier
        |  WHERE c_acctbal = s_acctbal OR c_nationkey = s_nationkey)
        |ORDER BY c_custkey""".stripMargin,
      headline = true),

    // ---- NOT EXISTS with an OR (round 18): the anti chain --------------
    // `NOT EXISTS (... a=x OR b=y)` = no supplier satisfies ANY disjunct
    // = the hash anti-join CHAIN (customer ANTI p1 ANTI p2), no Union, no
    // BNLJ. The name predicate never matches and acctbal rarely does, so
    // most customers survive (non-empty at every scale) while both anti
    // levels run. Non-headline: q95 carries the family's bench cost.
    "q96_or_join_anti" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT c_custkey, c_name, c_acctbal FROM customer
            |WHERE NOT EXISTS (SELECT 1 FROM supplier
            |  WHERE c_acctbal = s_acctbal OR c_name = s_name)"""
            .stripMargin)
        def decorate(rewritten: Boolean) =
          df.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
              lit(rewritten).as("plan_anti_chain"))
            .orderBy("c_custkey")
        val plan = decorate(rewritten = false)
          .queryExecution.executedPlan.toString
        decorate(!plan.contains("BroadcastNestedLoopJoin") &&
          !plan.contains("Union"))
      },
      """SELECT c_custkey, c_name, c_acctbal, TRUE AS plan_anti_chain
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM supplier
        |  WHERE c_acctbal = s_acctbal OR c_name = s_name)
        |ORDER BY c_custkey""".stripMargin),

    // ---- Q19-class OR join: conjunction disjuncts, per-disjunct keys ---
    // TPC-H Q19's famous shape generalized: each disjunct is a
    // CONJUNCTION carrying its own join key (match by id OR by
    // nation+balance). No common equality exists across the disjuncts,
    // so ExtractEquiJoinKeys finds no key and stock Spark nests; the
    // widened matcher accepts any disjunct with at least one cross-side
    // equality among its conjuncts — the rest ride the branch hash join
    // as residual conditions. The MIN mixes left and right columns so
    // the eager rewrite stands down and the BARE union path (the novel
    // plan) is what the oracle hash gates; custkey=suppkey is 1:1 and
    // nation+acctbal pairs are rare, so output is |S|-bounded at every
    // scale. Plan gate: no BNLJ AND the branch Union present.
    "q97_or_join_q19" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT c_custkey, COUNT(*) AS n_pairs,
            |  MIN(s_name || '/' || c_name) AS pair_tag
            |FROM customer JOIN supplier
            |  ON c_custkey = s_suppkey
            |  OR (c_nationkey = s_nationkey AND c_acctbal = s_acctbal)
            |GROUP BY c_custkey""".stripMargin)
        def decorate(bareUnion: Boolean) =
          df.select(col("c_custkey"),
              col("n_pairs").cast("long").as("n_pairs"),
              col("pair_tag"), lit(bareUnion).as("plan_bare_union"))
            .orderBy("c_custkey")
        val plan = decorate(bareUnion = false)
          .queryExecution.executedPlan.toString
        decorate(!plan.contains("BroadcastNestedLoopJoin") &&
          plan.contains("Union"))
      },
      """SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  MIN(s_name || '/' || c_name) AS pair_tag, TRUE AS plan_bare_union
        |FROM customer JOIN supplier
        |  ON c_custkey = s_suppkey
        |  OR (c_nationkey = s_nationkey AND c_acctbal = s_acctbal)
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
      headline = true),

    // ---- distributed OR under EXISTS: the factored shape ---------------
    // BooleanSimplification factors common conjuncts OUT of user-written
    // disjunctions, so `(a=x AND f) OR (b=y AND f)` reaches the optimizer
    // as `f AND (a=x OR b=y)` — with a non-equi f there is no hash key
    // and stock Spark nests. The rule distributes f back into each
    // branch (a row-level boolean identity) and serves the EXISTS with
    // hash semi branches carrying f as a residual join condition.
    // Customers with a strictly richer supplier in their nation (or a
    // name twin): |L|-bounded, both branches populated through the
    // nationkey disjunct. Non-headline: q97 carries the family's bench
    // cost.
    "q98_or_join_distributed" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT c_custkey, c_name FROM customer
            |WHERE EXISTS (SELECT 1 FROM supplier
            |  WHERE (c_nationkey = s_nationkey OR c_name = s_name)
            |    AND c_acctbal < s_acctbal)""".stripMargin)
        def decorate(rewritten: Boolean) =
          df.select(col("c_custkey"), col("c_name"),
              lit(rewritten).as("plan_semi_union"))
            .orderBy("c_custkey")
        val plan = decorate(rewritten = false)
          .queryExecution.executedPlan.toString
        decorate(!plan.contains("BroadcastNestedLoopJoin") &&
          plan.contains("Union"))
      },
      """SELECT c_custkey, c_name, TRUE AS plan_semi_union
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM supplier
        |  WHERE (c_nationkey = s_nationkey OR c_name = s_name)
        |    AND c_acctbal < s_acctbal)
        |ORDER BY c_custkey""".stripMargin),

    // ---- null-aware anti join: NOT IN over nullable keys (round 19) ----
    // The LAST nested-loop family stock Spark plans: multi-column
    // `(a, b) NOT IN (subquery)` gets a BroadcastNestedLoopJoin with the
    // per-column `v=o OR ISNULL(v=o)` condition — O(|L|·|S|) compares
    // and a full broadcast of the subquery, at ANY nullability (the
    // ISNULL arms are built after the last NullPropagation pass).
    // NullAwareAntiJoinRule rewrites it to a 1-row cardinality-flag
    // cross (the t12-class broadcast) plus hash EXISTENCE joins per
    // left null-class. The NULLIFs plant real nulls in every class the
    // 3VL semantics branch on: left column-a nulls (nation 4), left
    // column-b nulls (MACHINERY), right column-a nulls (nation 9) —
    // and the literal 'BUILDING' right column pins the conditional
    // join elision (a non-nullable right column must skip its wildcard
    // existence join). Plan gate: no LeftAnti nested loop remains AND
    // the flag aggregate is present (the rewrite, not stock, produced
    // the plan). |L|-bounded output at every scale.
    "q99_not_in_null_aware" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT c_custkey, c_name FROM customer
            |WHERE (NULLIF(c_nationkey, 4), NULLIF(c_mktsegment, 'MACHINERY'))
            |  NOT IN (SELECT NULLIF(s_nationkey, 9), 'BUILDING' FROM supplier)"""
            .stripMargin)
        def decorate(rewritten: Boolean) =
          df.select(col("c_custkey"), col("c_name"),
              lit(rewritten).as("plan_naaj"))
            .orderBy("c_custkey")
        val plan = decorate(rewritten = false)
          .queryExecution.executedPlan.toString
        val nestedAnti =
          "BroadcastNestedLoopJoin[^\n]*LeftAnti".r.findFirstIn(plan).isDefined
        decorate(!nestedAnti && plan.contains("__naaj_cnt"))
      },
      // DuckDB has no tuple-NOT-IN-subquery syntax; the oracle replays
      // the 3VL definition directly — a row survives NOT IN iff NO
      // subquery row leaves the pair equality TRUE-or-NULL, i.e. NOT
      // EXISTS a row where each column is equal-or-null-on-either-side.
      // (An INDEPENDENT formulation of the same semantics, so the gate
      // cross-checks the engine's NOT IN against first principles, not
      // against another engine's NOT IN implementation.)
      """SELECT c_custkey, c_name, TRUE AS plan_naaj
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM supplier
        |  WHERE (NULLIF(c_nationkey, 4) = NULLIF(s_nationkey, 9)
        |         OR NULLIF(c_nationkey, 4) IS NULL
        |         OR NULLIF(s_nationkey, 9) IS NULL)
        |    AND (NULLIF(c_mktsegment, 'MACHINERY') = 'BUILDING'
        |         OR NULLIF(c_mktsegment, 'MACHINERY') IS NULL))
        |ORDER BY c_custkey""".stripMargin,
      headline = true),

    // ---- Q19-class eager aggregation (round 19) ------------------------
    // q97's conjunction-disjunct join with a RIGHT-ONLY aggregate
    // consumer: the eager machinery now parses WIDENED disjuncts —
    // disjunct 2's two equalities become a COMPOSITE pre-aggregation
    // key — so the inclusion–exclusion form fires (n=2, no stats)
    // instead of materializing the pair multiset through the bare
    // union. Plan gate: the IE term aliases present AND no BNLJ
    // remains (the bare-join rewrite carries no `__orj_` aliases at
    // all, so the alias probe alone separates the two forms).
    // |keys|-bounded pre-aggregations, |L|-bounded output.
    "q100_q19_eager_agg" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT c_custkey, COUNT(s_suppkey) AS n_match,
            |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
            |FROM customer JOIN supplier
            |  ON c_custkey = s_suppkey
            |  OR (c_nationkey = s_nationkey AND c_acctbal = s_acctbal)
            |GROUP BY c_custkey""".stripMargin)
        def decorate(eager: Boolean) =
          df.select(col("c_custkey"), col("n_match"), col("bal"),
              lit(eager).as("plan_eager"))
            .orderBy("c_custkey")
        val opt = df.queryExecution.optimizedPlan.toString
        val plan = decorate(eager = false)
          .queryExecution.executedPlan.toString
        decorate(opt.contains("__orj_t0_") &&
          !plan.contains("BroadcastNestedLoopJoin"))
      },
      """SELECT c_custkey, COUNT(s_suppkey) AS n_match,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |  TRUE AS plan_eager
        |FROM customer JOIN supplier
        |  ON c_custkey = s_suppkey
        |  OR (c_nationkey = s_nationkey AND c_acctbal = s_acctbal)
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
      headline = true),

    // ---- right-only residual through the eager agg (round 19) ----------
    // The residual `s_suppkey < 50` references only the right side, so
    // it FILTERS disjunct 2's pre-aggregation input instead of blocking
    // the eager plan. LEFT join keeps the group-completeness path
    // honest (every customer appears, unmatched ones with n=0/null
    // aggregates). Non-headline: q100 carries the family's bench cost.
    "q101_residual_eager_agg" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        val df = s.sql(
          """SELECT c_custkey, COUNT(s_suppkey) AS n_match,
            |  MIN(s_name) AS first_sup
            |FROM customer LEFT JOIN supplier
            |  ON c_nationkey = s_nationkey
            |  OR (c_acctbal = s_acctbal AND s_suppkey < 50)
            |GROUP BY c_custkey""".stripMargin)
        def decorate(eager: Boolean) =
          df.select(col("c_custkey"), col("n_match"), col("first_sup"),
              lit(eager).as("plan_eager"))
            .orderBy("c_custkey")
        val opt = df.queryExecution.optimizedPlan.toString
        val plan = decorate(eager = false)
          .queryExecution.executedPlan.toString
        decorate(opt.contains("__orj_t0_") &&
          !plan.contains("BroadcastNestedLoopJoin"))
      },
      """SELECT c_custkey, COUNT(s_suppkey) AS n_match,
        |  MIN(s_name) AS first_sup, TRUE AS plan_eager
        |FROM customer LEFT JOIN supplier
        |  ON c_nationkey = s_nationkey
        |  OR (c_acctbal = s_acctbal AND s_suppkey < 50)
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),

    // ---- ranking window: per-nation top-3 by balance -------------------
    "q09_window_rank" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val lk = Lake(s, dir)
        val w = Window.partitionBy("n_name")
          .orderBy(desc("c_acctbal"), asc("c_custkey"))
        lk.customer
          .join(broadcast(lk.nation), col("c_nationkey") === col("n_nationkey"))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= 3)
          .select("n_name", "c_custkey", "c_acctbal", "rk")
          .orderBy("n_name", "rk")
      },
      """SELECT n_name, c_custkey, c_acctbal, rk FROM (
        |  SELECT n_name, c_custkey, c_acctbal,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY n_name
        |         ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rk
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey) t
        |WHERE rk <= 3 ORDER BY n_name, rk""".stripMargin),

    // ---- full analytic-window family over one pass ---------------------
    // dense_rank / ntile / percent_rank / cume_dist / lead share the same
    // window spec, so Catalyst evaluates all five in ONE Window operator —
    // one sort, five functions (the plan-shape point of the query).
    // percent_rank and cume_dist are small-integer ratios: both engines
    // compute the identical correctly-rounded double.
    "q09b_window_family" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val lk = Lake(s, dir)
        val w = Window.partitionBy("c_nationkey")
          .orderBy(desc("c_acctbal"), asc("c_custkey"))
        lk.customer
          .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
          .withColumn("drk", dense_rank().over(w))
          .withColumn("quartile", ntile(4).over(w))
          .withColumn("prk", percent_rank().over(w))
          .withColumn("cd", cume_dist().over(w))
          .withColumn("next_bal", lead(col("c_acctbal"), 1).over(w))
          .orderBy("c_nationkey", "drk", "c_custkey")
      },
      """SELECT c_nationkey, c_custkey, c_acctbal,
        |  CAST(DENSE_RANK() OVER w AS INTEGER) AS drk,
        |  CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
        |  PERCENT_RANK() OVER w AS prk,
        |  CUME_DIST() OVER w AS cd,
        |  LEAD(c_acctbal, 1) OVER w AS next_bal
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey
        |             ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_nationkey, drk, c_custkey""".stripMargin),

    // ---- analytic window: running sum with explicit frame --------------
    "q10_window_running" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // (l_suppkey, l_shipdate, l_orderkey, l_linenumber) is unique at
        // sf0.01 but NOT at sf0.1 (one duplicate 4-tuple) — a ROWS-frame
        // running sum over a non-total order is engine-nondeterministic
        // at the tie, so l_quantity joins the sort key: rows still tied
        // after that are identical in every summed and compared column,
        // making both the frame and the final order semantically total.
        val w = Window.partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Lake(s, dir).lineitem
          .withColumn("running_qty", sum(dec(col("l_quantity"))).over(w).cast(DoubleType))
          // NTZ output convention (see q03) — cast AFTER the window; the
          // order is identical micros either way
          .withColumn("l_shipdate", col("l_shipdate").cast(TimestampNTZType))
          .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "running_qty")
          .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "running_qty")
      },
      """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber, running_qty""".stripMargin,
      headline = true),

    // ---- RANGE window frame: trailing 30-day spend per customer --------
    // Order key is epoch-day (integer): RANGE frames over physical value
    // offsets, portable across engines.
    "q10b_range_frame" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey").orderBy("d")
          .rangeBetween(-30, 0)
        Lake(s, dir).orders
          .withColumn("d", datediff(col("o_orderdate"), lit("1970-01-01").cast(TimestampNTZType)))
          .withColumn("trailing_30d",
            sum(dec(col("o_totalprice"))).over(w).cast(DoubleType))
          .groupBy("o_custkey")
          .agg(max(col("trailing_30d")).as("peak_30d_spend"))
          .orderBy("o_custkey")
      },
      Some(
        """SELECT o_custkey, MAX(t) AS peak_30d_spend FROM (
          |  SELECT o_custkey,
          |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          |      PARTITION BY o_custkey
          |      ORDER BY datediff('day', TIMESTAMP '1970-01-01', o_orderdate)
          |      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS t
          |  FROM orders) x
          |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // ---- PIVOT: order counts by status x priority -----------------------
    // Oracle uses the portable CASE-aggregation form of the same reshape.
    "q14b_pivot" -> Q(
      (s, dir) => Lake(s, dir).orders
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .withColumnsRenamed(Map(
          "1-URGENT" -> "p1", "2-HIGH" -> "p2", "3-MEDIUM" -> "p3",
          "4-NOT SPECIFIED" -> "p4", "5-LOW" -> "p5"))
        .orderBy("o_orderstatus"),
      Some(
        """SELECT o_orderstatus,
          |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1,
          |  COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2,
          |  COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3,
          |  COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4,
          |  COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ---- UNPIVOT/melt: wide metrics back to long form -------------------
    "q14c_unpivot" -> Q(
      (s, dir) => Lake(s, dir).customer
        .select(col("c_custkey"), col("c_acctbal"),
          col("c_nationkey").cast(DoubleType).as("c_nation_d"))
        .unpivot(
          ids = Array(col("c_custkey")),
          values = Array(col("c_acctbal"), col("c_nation_d")),
          variableColumnName = "metric", valueColumnName = "v")
        .orderBy("c_custkey", "metric"),
      Some(
        """SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal AS v FROM customer
          |UNION ALL
          |SELECT c_custkey, 'c_nation_d', CAST(c_nationkey AS DOUBLE) FROM customer
          |ORDER BY c_custkey, metric""".stripMargin)),

    // ---- global sort + limit (TakeOrderedAndProject, no full sort) -----
    "q11_top_orders" -> Q(
      (s, dir) => Lake(s, dir).orders
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .limit(20),
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin),

    // ---- set operations: EXCEPT / INTERSECT (set semantics) ------------
    "q12_set_ops" -> Q(
      (s, dir) => {
        val lk = Lake(s, dir)
        val custN = lk.customer.select(col("c_nationkey").as("k"))
        val suppN = lk.supplier.select(col("s_nationkey").as("k"))
        custN.except(suppN).withColumn("tag", lit("cust_only"))
          .unionByName(custN.intersect(suppN).withColumn("tag", lit("both")))
          .select("tag", "k")
          .orderBy("tag", "k")
      },
      """SELECT 'cust_only' AS tag, k FROM
        |  (SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier) a
        |UNION ALL
        |SELECT 'both' AS tag, k FROM
        |  (SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier) b
        |ORDER BY tag, k""".stripMargin),

    // ---- explicit GROUPING SETS (arbitrary set list, not rollup/cube) --
    // grouping_id disambiguates a real NULL group value from a
    // superaggregate NULL — the standard trick, identical in both engines.
    "q13b_grouping_sets" -> Q(
      (s, dir) => {
        val lk = Lake(s, dir)
        lk.lineitem
          .groupingSets(
            Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
            col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"),
            grouping_id().cast(IntegerType).as("gid"))
          .orderBy(asc("gid"), asc_nulls_first("l_returnflag"),
            asc_nulls_first("l_linestatus"))
      },
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // ---- ROLLUP grouping sets ------------------------------------------
    "q13_rollup" -> Q(
      (s, dir) => Lake(s, dir).lineitem
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),

    // ---- CUBE grouping sets --------------------------------------------
    "q14_cube" -> Q(
      (s, dir) => Lake(s, dir).orders
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),

    // ---- A1: DISTINCT (hash aggregate on all columns) ------------------
    "q15_distinct" -> Q(
      (s, dir) => Lake(s, dir).customer
        .select("c_mktsegment", "c_nationkey").distinct()
        .orderBy("c_mktsegment", "c_nationkey"),
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin),

    // ---- P3 + U1: the reference `time` dimension (etl.py:115-131), with
    // date_format(..,'EEEE') replacing the reference's Python weekday UDF.
    "q16_date_dim" -> Q(
      (s, dir) => Lake(s, dir).orders
        // NTZ output convention (see q03); the derivations below read
        // the same wall-clock fields under the UTC session either way
        .select(col("o_orderdate").cast(TimestampNTZType).as("start_time"))
        .distinct()
        .select(
          col("start_time"),
          hour(col("start_time")).as("hour"),
          dayofmonth(col("start_time")).as("day"),
          weekofyear(col("start_time")).as("week"),
          date_format(col("start_time"), "EEEE").as("weekday"),
          year(col("start_time")).as("year"),
          month(col("start_time")).as("month"))
        .orderBy("start_time"),
      """SELECT DISTINCT o_orderdate AS start_time,
        |  CAST(EXTRACT(hour FROM o_orderdate) AS INTEGER) AS hour,
        |  CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS day,
        |  CAST(EXTRACT(week FROM o_orderdate) AS INTEGER) AS week,
        |  dayname(o_orderdate) AS weekday,
        |  CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
        |  CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month
        |FROM orders ORDER BY start_time""".stripMargin)
  )
}
